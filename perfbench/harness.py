"""What every workload shares: the run context, the Spark session and
the metric catalogue.

A workload is a module with ``run(ctx)``. It generates its inputs
inside ``ctx.excluded()``, starts the session with
``ctx.start_session()`` inside ``ctx.setup()``, then repeats
``ctx.unit()`` blocks of ``ctx.op()`` calls, a fixed number of times
or until ``ctx.done()``; output checks call ``ctx.fail(op, why)`` and
run inside ``ctx.excluded()``.
"""

from __future__ import annotations

import os
import time
import traceback
from collections.abc import Iterator
from contextlib import contextmanager
from dataclasses import dataclass
from pathlib import Path
from statistics import median

from perfbench.trace import EXCLUDED, Tracer

# End-to-end metrics, printed by every run with --trace 0. Every
# workload has a set-up, units of work and operations, so every name
# applies to every workload.
END_TO_END = [
    ("setup_s", "s"),  # session start + warm-up + initial load
    ("unit_s", "s"),  # median wall time of one unit of work
    ("op_p50_s", "s"),  # median latency of one user-visible operation
]

MERGE_VERBS = (
    "overwrite",
    "upsert_replace_partitions",
    "delete_by_keys",
    "partition_is_empty",
    "lookup",
    "read",
    "history",
    "changes",
    "compact",
    "expire_history",
)
PIPELINES = ("genres", "epg", "top", "torrents")


def per_layer(members: list[str]) -> list[tuple[str, str]]:
    """Per-layer metrics, printed by every run with --trace 1; a layer
    the workload never calls reads 0."""
    out = [
        ("session.start_s", "s"),
        ("plans.build_s", "s"),
        ("catalyst.analysis_s", "s"),
        ("catalyst.optimization_s", "s"),
        ("catalyst.planning_s", "s"),
        ("spark.jobs", "count"),
        ("spark.stages", "count"),
        ("spark.tasks", "count"),
        ("spark.outside_jobs_s", "s"),
        ("exec.run_s", "s"),
        ("exec.cpu_s", "s"),
        ("exec.gc_s", "s"),
        ("exec.input_bytes", "bytes"),
        ("exec.shuffle_read_bytes", "bytes"),
        ("exec.shuffle_write_bytes", "bytes"),
        ("exec.spill_bytes", "bytes"),
        ("exec.output_bytes", "bytes"),
    ]
    for m in members:
        out += [(f"query.{m}.s", "s"), (f"query.{m}.jobs", "count")]
    for v in MERGE_VERBS:
        out += [(f"merge.{v}.s", "s"), (f"merge.{v}.jobs", "count")]
    out += [
        ("merge.files_written", "count"),
        ("merge.bytes_written", "bytes"),
        ("merge.live_files", "count"),
        ("merge.space_amp", "ratio"),
        ("sources.csv_s", "s"),
        ("sources.scrape_s", "s"),
        ("sources.jobs", "count"),
    ]
    for p in PIPELINES:
        out += [(f"pipelines.{p}.s", "s"), (f"pipelines.{p}.jobs", "count")]
    out.append(("trace.unit_s", "s"))
    return out


@dataclass
class Op:
    index: int
    name: str
    measured: bool  # inside a unit, not warm-up
    seconds: float = 0.0
    span: object = None  # the op's trace span, when tracing


class Ctx:
    """One benchmark run: its clocks, samples, checks and spans."""

    def __init__(self, seed: int, seconds: float, trace: bool, work: Path):
        self.seed = seed
        self.seconds = seconds
        self.work = work
        self.tracer = Tracer(trace)
        self.spark = None
        self.cpus = len(os.sched_getaffinity(0))
        self.setup_s = 0.0
        self.units: list[float] = []
        self.ops: list[Op] = []
        self.failed: dict[int, str] = {}  # op index -> first reason
        self._measure_start: float | None = None
        self._excluded = 0.0
        self._in_unit = False

    # -------------------------------------------------------------- clocks

    @contextmanager
    def setup(self) -> Iterator[None]:
        """Time a set-up phase into ``setup_s``, less any ``excluded``
        block inside it."""
        t0, ex0 = time.perf_counter(), self._excluded
        try:
            yield
        finally:
            self.setup_s += time.perf_counter() - t0 - (self._excluded - ex0)

    @contextmanager
    def excluded(self) -> Iterator[None]:
        """Work no metric counts: input generation and output checks.
        Traced, it is an ``excluded`` span, which the per-layer
        metrics leave out too."""
        with self.tracer.span(EXCLUDED):
            t0 = time.perf_counter()
            try:
                yield
            finally:
                self._excluded += time.perf_counter() - t0

    def done(self, min_units: int = 1) -> bool:
        """True once the measured window has run ``seconds`` and at
        least ``min_units`` units (checked between units)."""
        now = time.perf_counter()
        if self._measure_start is None:
            self._measure_start = now
        return len(self.units) >= min_units and now - self._measure_start >= self.seconds

    @contextmanager
    def unit(self) -> Iterator[None]:
        """Time one unit of work, less any ``excluded`` block inside it."""
        with self.tracer.span("unit") as s:
            t0, ex0 = time.perf_counter(), self._excluded
            self._in_unit = True
            try:
                yield s
            finally:
                self._in_unit = False
            self.units.append(time.perf_counter() - t0 - (self._excluded - ex0))

    @contextmanager
    def op(self, name: str, kind: str | None = None) -> Iterator[Op]:
        """Time one operation. ``kind`` names its span when it differs
        from ``name``. An exception fails the op and propagates."""
        op = Op(len(self.ops), name, self._in_unit)
        self.ops.append(op)
        with self.tracer.span(kind or name) as s:
            t0 = time.perf_counter()
            try:
                yield op
            except Exception:
                self.fail(op, traceback.format_exc(limit=3))
                raise
            op.seconds = time.perf_counter() - t0
            op.span = s

    def fail(self, op: Op, why: str) -> None:
        self.failed.setdefault(op.index, f"{op.name}: {why}")

    # ------------------------------------------------------------- session

    def start_session(self):
        """Start the engine's session at local[nproc] (never the
        session module's default of 32 cores)."""
        from otrrentetl_spark.session import get_spark

        conf = {
            "spark.ui.showConsoleProgress": "false",
            "spark.local.dir": str(self.work / "spark-local"),
            "spark.sql.warehouse.dir": str(self.work / "warehouse"),
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={self.work / 'tmp'}",
        }
        if self.tracer.enabled:
            (self.work / "eventlog").mkdir(parents=True, exist_ok=True)
            conf.update(
                {
                    "spark.eventLog.enabled": "true",
                    "spark.eventLog.dir": str(self.work / "eventlog"),
                    "spark.eventLog.compress": "false",
                    "spark.eventLog.rolling.enabled": "false",
                }
            )
        with self.tracer.span("session.start"):
            self.spark = get_spark("perfbench", cpus=self.cpus, extra_conf=conf)
        self.tracer.bind(self.spark.sparkContext)
        return self.spark

    def stop_session(self) -> None:
        """Stop Spark and wait for its JVM to exit."""
        if self.spark is None:
            return
        from pyspark import SparkContext

        gateway = SparkContext._gateway
        self.spark.stop()
        self.spark = None
        if gateway is not None:
            gateway.shutdown()
            proc = getattr(gateway, "proc", None)
            if proc is not None:
                if proc.stdin:
                    proc.stdin.close()  # the gateway server exits on EOF
                proc.wait(timeout=60)
            SparkContext._gateway = None
            SparkContext._jvm = None

    # ------------------------------------------------------------- results

    def end_to_end(self) -> dict[str, float]:
        return {
            "setup_s": self.setup_s,
            "unit_s": median(self.units),
            "op_p50_s": median([o.seconds for o in self.ops if o.measured]),
        }
