"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload olap_read --seed 1 --seconds 3 --trace 0

Run from the root of a checkout. The run builds nothing: it imports
the engine from the checkout, generates its inputs from ``--seed``
under ``perfbench/_work/``, starts one Spark session at
``local[nproc]``, measures for ``--seconds`` (at least one unit),
checks every output, stops Spark and deletes its work directory.

The last stdout line is the result: ``{"correct", "attempted",
"failed", "metrics"}``. With ``--trace 0`` the metrics are the
end-to-end ones; with ``--trace 1`` the run records spans and Spark's
event log and prints the per-layer ones instead. The line before it
is the run's record: host facts, sample counts and any failures.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import shutil
import sys
from pathlib import Path

BENCH = Path(__file__).resolve().parent
ROOT = BENCH.parent
WORKLOADS = ("olap_read", "etl_cycle")


def _prepare_env(work: Path) -> None:
    """Keep every file Spark, its Python workers and the engine write
    inside the work directory, and let workers import the engine."""
    for sub in ("tmp", "spark-local"):
        (work / sub).mkdir(parents=True, exist_ok=True)
    os.environ["TMPDIR"] = str(work / "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "spark-local")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (str(ROOT), os.environ.get("PYTHONPATH", "")) if p
    )
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "2g")


def instrument(ctx) -> list:
    """Traced runs only: span every keyed-table verb and ETL pipeline
    step at its public entry point. Returns restore functions."""
    from otrrentetl_spark.operators.merge import KeyedParquetTable
    from otrrentetl_spark.pipelines import epg, genres, toprecordings, torrents

    from perfbench.harness import MERGE_VERBS

    def table_files(args) -> dict[str, int]:
        root = args[0].path
        return {
            os.path.join(d, f): os.path.getsize(os.path.join(d, f))
            for d, _, fs in os.walk(root)
            for f in fs
            if f.endswith(".parquet")
        }

    t = ctx.tracer
    restore = [
        t.wrap(genres, "ingest_genres", "pipelines.genres"),
        t.wrap(epg, "backfill", "pipelines.epg"),
        t.wrap(toprecordings, "promote_top", "pipelines.top"),
        t.wrap(torrents, "update_torrents", "pipelines.torrents"),
    ]
    mutating = {"overwrite", "upsert_replace_partitions", "delete_by_keys", "compact"}
    for verb in MERGE_VERBS:
        restore.append(
            t.wrap(KeyedParquetTable, verb, f"merge.{verb}", table_files if verb in mutating else None)
        )
    return restore


def host_facts(ctx) -> dict:
    facts = {
        "nproc": ctx.cpus,
        "loadavg": list(os.getloadavg()),
        "python": platform.python_version(),
    }
    if ctx.spark is not None:
        facts["spark"] = ctx.spark.version
        facts["java"] = ctx.spark.sparkContext._jvm.System.getProperty("java.version")
    return facts


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    work = BENCH / "_work" / f"{args.workload}-{os.getpid()}"
    _prepare_env(work)
    sys.path.insert(0, str(ROOT))
    # Imported after the environment is set: the engine and pyspark
    # read it at import and session start. Without the engine in the
    # checkout these imports raise, and the run ends with no result.
    try:
        import otrrentetl_spark.registry  # noqa: F401
        import tools.verify_oracle  # noqa: F401
    except ImportError:
        shutil.rmtree(work, ignore_errors=True)
        raise

    from perfbench import etl, olap
    from perfbench.harness import END_TO_END, Ctx, per_layer
    from perfbench.trace import EventLog, Join, layer_metrics

    ctx = Ctx(args.seed, args.seconds, bool(args.trace), work)
    load_start = list(os.getloadavg())
    restore = instrument(ctx) if ctx.tracer.enabled else []
    error = None
    try:
        {"olap_read": olap.run, "etl_cycle": etl.run}[args.workload](ctx)
    except Exception as ex:  # noqa: BLE001 -- a failure ends the run with correct=false
        error = f"{type(ex).__name__}: {ex}"
    finally:
        for undo in restore:
            undo()
        facts = host_facts(ctx)
        ctx.stop_session()

    if ctx.tracer.enabled and error is None:
        logs = sorted((work / "eventlog").iterdir())
        join = Join(ctx.tracer.spans, EventLog.read(logs[-1]))
        names = [n for n, _ in per_layer(olap.MEMBERS)]
        values = layer_metrics(join, names)
        units = dict(per_layer(olap.MEMBERS))
    else:
        values = ctx.end_to_end() if error is None else {}
        units = dict(END_TO_END)
    shutil.rmtree(work, ignore_errors=True)

    facts["loadavg_start"], facts["loadavg_end"] = load_start, facts.pop("loadavg")
    record = {
        "workload": args.workload,
        "seed": args.seed,
        "trace": args.trace,
        "host": facts,
        "units": len(ctx.units),
        "unit_seconds": [round(u, 4) for u in ctx.units],
        "ops": len(ctx.ops),
        "ops_measured": sum(o.measured for o in ctx.ops),
        "op_seconds": [(o.name, round(o.seconds, 4), o.measured) for o in ctx.ops],
        "failures": list(ctx.failed.values())[:10],
        "error": error,
    }
    failed = len(ctx.failed) or int(error is not None)
    print(json.dumps({"record": record}))
    print(
        json.dumps(
            {
                "correct": failed == 0,
                "attempted": max(len(ctx.ops), failed, 1),
                "failed": failed,
                "metrics": {n: {"value": v, "unit": units[n]} for n, v in values.items()},
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
