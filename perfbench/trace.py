"""Spans around calls into the engine, joined with Spark's event log.

The benchmark records a span at each layer boundary it calls into:
its name, start, end and parent. Each span tags the Spark jobs its
call submits by setting the job description (and the local property
``perfbench.span``) to its id; pyspark's pinned-thread mode keeps these
properties per thread. Spans stay in memory; after the session stops,
``EventLog.read`` parses Spark's plain JSON-lines event log, and
``layer_metrics`` joins jobs, stages and task metrics to the spans.

With tracing off, ``Tracer.span`` only yields, so untraced runs pay
one generator step per call and nothing else.
"""

from __future__ import annotations

import functools
import json
import time
from collections import defaultdict
from collections.abc import Iterator
from contextlib import contextmanager
from dataclasses import dataclass, field
from pathlib import Path
from statistics import median

SPAN_PROPERTY = "perfbench.span"
EXCLUDED = "excluded"  # span of the benchmark's own work inside a timed block

EXEC_METRICS = (
    "exec.run_s",
    "exec.cpu_s",
    "exec.gc_s",
    "exec.input_bytes",
    "exec.shuffle_read_bytes",
    "exec.shuffle_write_bytes",
    "exec.spill_bytes",
    "exec.output_bytes",
)


@dataclass
class Span:
    id: int
    name: str
    parent: int | None
    start: float  # epoch seconds, comparable with the event log's ms
    end: float = 0.0
    attrs: dict = field(default_factory=dict)

    @property
    def duration(self) -> float:
        return self.end - self.start


class Tracer:
    """Keeps spans in memory when enabled; a no-op otherwise."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._sc = None

    def bind(self, sc) -> None:
        """Tag jobs through this SparkContext from now on."""
        self._sc = sc

    @contextmanager
    def span(self, name: str, **attrs) -> Iterator[Span | None]:
        if not self.enabled:
            yield None
            return
        parent = self._stack[-1].id if self._stack else None
        s = Span(len(self.spans) + 1, name, parent, time.time(), attrs=dict(attrs))
        self.spans.append(s)
        self._stack.append(s)
        self._tag(s)
        try:
            yield s
        finally:
            s.end = time.time()
            self._stack.pop()
            self._tag(self._stack[-1] if self._stack else None)

    def _tag(self, s: Span | None) -> None:
        if self._sc is None:
            return
        self._sc.setJobDescription(f"perfbench {s.id} {s.name}" if s else None)
        self._sc.setLocalProperty(SPAN_PROPERTY, str(s.id) if s else None)

    def wrap(self, owner, attr: str, name: str, files=None):
        """Replace ``owner.attr`` by a wrapper that runs each call in a
        span ``name``. With ``files(args) -> {path: bytes}``, the span
        also records the files that appeared during the call
        (``files_written``, ``bytes_written``); the listing runs outside
        the span. Returns a function that restores the original."""
        orig = getattr(owner, attr)

        @functools.wraps(orig)
        def wrapper(*args, **kwargs):
            before = files(args) if files else None
            with self.span(name) as s:
                out = orig(*args, **kwargs)
            if files:
                new = {p: n for p, n in files(args).items() if p not in before}
                s.attrs.update(files_written=len(new), bytes_written=sum(new.values()))
            return out

        setattr(owner, attr, wrapper)
        return lambda: setattr(owner, attr, orig)


# ----------------------------------------------------------------- event log


@dataclass
class Job:
    id: int
    span: int | None
    submit: float  # epoch seconds
    end: float
    stages: list[int] = field(default_factory=list)


@dataclass
class EventLog:
    jobs: dict[int, Job]
    stage_tasks: dict[int, int]  # completed stage -> tasks that ended
    stage_metrics: dict[int, dict[str, float]]

    @classmethod
    def read(cls, path: Path) -> EventLog:
        jobs: dict[int, Job] = {}
        owner: dict[int, int] = {}  # stage -> the job that ran it
        completed: set[int] = set()
        tasks: dict[int, int] = defaultdict(int)
        metrics: dict[int, dict[str, float]] = defaultdict(lambda: defaultdict(float))
        with open(path) as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev["Event"]
                if kind == "SparkListenerJobStart":
                    props = ev.get("Properties") or {}
                    tag = props.get(SPAN_PROPERTY)
                    job = Job(
                        ev["Job ID"],
                        int(tag) if tag else None,
                        ev["Submission Time"] / 1000.0,
                        ev["Submission Time"] / 1000.0,
                        list(ev["Stage IDs"]),
                    )
                    jobs[job.id] = job
                    # A stage runs under the first job that lists it;
                    # later jobs list it again as skipped.
                    for sid in job.stages:
                        owner.setdefault(sid, job.id)
                elif kind == "SparkListenerJobEnd":
                    jobs[ev["Job ID"]].end = ev["Completion Time"] / 1000.0
                elif kind == "SparkListenerStageCompleted":
                    completed.add(ev["Stage Info"]["Stage ID"])
                elif kind == "SparkListenerTaskEnd":
                    sid = ev["Stage ID"]
                    tasks[sid] += 1
                    _add_task_metrics(metrics[sid], ev.get("Task Metrics") or {})
        for job in jobs.values():
            job.stages = [s for s in job.stages if owner.get(s) == job.id and s in completed]
        return cls(jobs, dict(tasks), {k: dict(v) for k, v in metrics.items()})


def _add_task_metrics(acc: dict[str, float], m: dict) -> None:
    shuffle_read = m.get("Shuffle Read Metrics") or {}
    acc["exec.run_s"] += m.get("Executor Run Time", 0) / 1e3
    acc["exec.cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
    acc["exec.gc_s"] += m.get("JVM GC Time", 0) / 1e3
    acc["exec.input_bytes"] += (m.get("Input Metrics") or {}).get("Bytes Read", 0)
    acc["exec.shuffle_read_bytes"] += shuffle_read.get("Remote Bytes Read", 0) + shuffle_read.get(
        "Local Bytes Read", 0
    )
    acc["exec.shuffle_write_bytes"] += (m.get("Shuffle Write Metrics") or {}).get(
        "Shuffle Bytes Written", 0
    )
    acc["exec.spill_bytes"] += m.get("Disk Bytes Spilled", 0)
    acc["exec.output_bytes"] += (m.get("Output Metrics") or {}).get("Bytes Written", 0)


# ------------------------------------------------------------------- joining


def covered(interval: tuple[float, float], parts: list[tuple[float, float]]) -> float:
    """Length of the part of ``interval`` that the union of ``parts``
    covers."""
    lo, hi = interval
    clipped = sorted((max(a, lo), min(b, hi)) for a, b in parts if b > lo and a < hi)
    total, cur_a, cur_b = 0.0, None, None
    for a, b in clipped:
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


class Join:
    """Spans with the jobs attributed to each of them.

    A job belongs to the span whose id it was tagged with; an untagged
    job (one submitted from a thread the tracer never tagged) belongs
    to the innermost span open at its submission time.
    """

    def __init__(self, spans: list[Span], log: EventLog):
        self.spans = {s.id: s for s in spans}
        self.log = log
        self.children: dict[int | None, list[int]] = defaultdict(list)
        for s in spans:
            self.children[s.parent].append(s.id)
        self.jobs_of: dict[int, list[Job]] = defaultdict(list)
        for job in log.jobs.values():
            sid = job.span if job.span in self.spans else self._innermost(job.submit)
            if sid is not None:
                self.jobs_of[sid].append(job)

    def _innermost(self, t: float) -> int | None:
        best = None
        for s in self.spans.values():
            if s.start <= t <= s.end and (best is None or s.start >= best.start):
                best = s
        return best.id if best else None

    def descendants(self, sid: int) -> list[int]:
        """The span and every span under it, less ``excluded`` subtrees
        (the benchmark's own checks), whose jobs and spans no layer
        counts."""
        out, todo = [], [sid]
        while todo:
            cur = todo.pop()
            out.append(cur)
            todo.extend(c for c in self.children.get(cur, []) if self.spans[c].name != EXCLUDED)
        return out

    def excluded(self, sid: int) -> list[tuple[float, float]]:
        """Intervals of the ``excluded`` spans right under the span's
        measured part."""
        return [
            (self.spans[c].start, self.spans[c].end)
            for d in self.descendants(sid)
            for c in self.children.get(d, [])
            if self.spans[c].name == EXCLUDED
        ]

    def measured_time(self, sid: int) -> float:
        """The span's duration less its ``excluded`` blocks."""
        s = self.spans[sid]
        return s.duration - covered((s.start, s.end), self.excluded(sid))

    def jobs_under(self, sid: int) -> list[Job]:
        return [j for d in self.descendants(sid) for j in self.jobs_of.get(d, [])]

    def self_time(self, sid: int) -> float:
        """The span's duration minus the part its child spans cover."""
        s = self.spans[sid]
        kids = [(self.spans[c].start, self.spans[c].end) for c in self.children.get(sid, [])]
        return s.duration - covered((s.start, s.end), kids)

    def ancestors(self, sid: int) -> Iterator[Span]:
        cur = self.spans[sid].parent
        while cur is not None:
            yield self.spans[cur]
            cur = self.spans[cur].parent

    def spark_counts(self, sid: int) -> dict[str, float]:
        """Jobs, stages, tasks, executor metrics and driver time with no
        job running, over everything under span ``sid``; the
        benchmark's ``excluded`` blocks count as neither jobs nor driver
        time."""
        jobs = self.jobs_under(sid)
        stages = [st for j in jobs for st in j.stages]
        out = {
            "spark.jobs": float(len(jobs)),
            "spark.stages": float(len(stages)),
            "spark.tasks": float(sum(self.log.stage_tasks.get(st, 0) for st in stages)),
        }
        s = self.spans[sid]
        busy = [(j.submit, j.end) for j in jobs] + self.excluded(sid)
        out["spark.outside_jobs_s"] = s.duration - covered((s.start, s.end), busy)
        for name in EXEC_METRICS:
            out[name] = sum(self.log.stage_metrics.get(st, {}).get(name, 0.0) for st in stages)
        return out


def layer_metrics(join: Join, names: list[str]) -> dict[str, float]:
    """Every per-layer metric in ``names``, per unit of work: each
    value is the median over the run's ``unit`` spans of that unit's
    total, except ``query.*`` (median over the query's executions) and
    ``session.start_s`` (once per run). A layer the workload never
    calls reads 0."""
    spans = list(join.spans.values())
    units = [s for s in spans if s.name == "unit"]
    values: dict[str, float] = {n: 0.0 for n in names}

    for s in spans:
        if s.name == "session.start":
            values["session.start_s"] = s.duration
    if not units:
        return values

    per_unit: dict[str, list[float]] = defaultdict(list)
    for u in units:
        tot: dict[str, float] = defaultdict(float)
        tot.update(join.spark_counts(u.id))
        for d in join.descendants(u.id):
            s = join.spans[d]
            if s.name == "plans.build":
                tot["plans.build_s"] += s.duration
            for phase in ("analysis", "optimization", "planning"):
                tot[f"catalyst.{phase}_s"] += s.attrs.get(phase, 0.0)
            if s.name.startswith("merge.") and not any(
                a.name.startswith("merge.") for a in join.ancestors(d)
            ):
                tot[f"{s.name}.s"] += s.duration
                tot[f"{s.name}.jobs"] += len(join.jobs_under(d))
                for k in ("files_written", "bytes_written"):
                    tot[f"merge.{k}"] += s.attrs.get(k, 0)
            if s.name.startswith("sources."):
                tot[f"{s.name}_s"] += s.duration
                tot["sources.jobs"] += len(join.jobs_under(d))
            if s.name.startswith("pipelines."):
                # Self time: the pipeline's own code, not the merge
                # verbs and source reads it calls.
                tot[f"{s.name}.s"] += join.self_time(d)
                tot[f"{s.name}.jobs"] += len(join.jobs_under(d))
        for k in ("merge.live_files", "merge.space_amp"):
            if k in u.attrs:
                tot[k] = u.attrs[k]
        tot["trace.unit_s"] = join.measured_time(u.id)
        for k in names:
            if not k.startswith(("query.", "session.")):
                per_unit[k].append(tot.get(k, 0.0))
    for k, vs in per_unit.items():
        values[k] = median(vs)

    per_query: dict[str, list[tuple[float, int]]] = defaultdict(list)
    for s in spans:
        if s.name.startswith("query.") and s.parent is not None and join.spans[s.parent].name == "unit":
            per_query[s.name].append((s.duration, len(join.jobs_under(s.id))))
    for q, runs in per_query.items():
        if f"{q}.s" in values:
            values[f"{q}.s"] = median([r[0] for r in runs])
            values[f"{q}.jobs"] = median([float(r[1]) for r in runs])
    return values
