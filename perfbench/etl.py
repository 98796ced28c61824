"""``etl_cycle``: the reference's scheduled job, one daily run after
another, and the reads that consume its tables.

Inputs, generated from the seed: EPG day CSVs (about 10 % non-German
rows, a few malformed fields), the genres CSV, and a toplist and a
tracker page per run day, with the ground truth the generator planted
(``gen.write_etl``). The reference runs its ETL from a timer loop in
one long-lived process; so does this workload.

Set-up: the session start and the first ``run_once(today)`` on fresh
stores, the backfill: the 10-day window, of which the last
``EPG_DAYS`` days have a CSV upstream (the ETL skips missing days).

Each unit is one daily tick on the same stores; a run measures
``TICKS`` of them, whatever ``--seconds`` says (one tick outlasts the
benchmark's 3 s on 4 cores):

- ``etl.run_once``: ``run_once(day)``, which ingests the new day,
  gates the others, promotes the day's toplist and assigns torrents;
- consumer reads on the recordings table: ``history()``,
  ``changes(a, b)`` since the previous tick, 16 point ``lookup``s
  of top recordings (the reads the reference's API serves), a snapshot
  ``read()`` aggregate and a time-travel ``read(version=a)`` aggregate;
- maintenance: ``compact()`` then ``expire_history()``.

Checks (outside every clock): each report equals the planted truth;
each read equals what the truth's key sets imply; after maintenance
the recordings and torrents stores hold exactly the truth's keys.
"""

from __future__ import annotations

import collections
import datetime as dt
import os
import random
from pathlib import Path

from perfbench import gen
from perfbench.harness import Ctx

TODAY = dt.date(2026, 8, 20)
ROWS_PER_DAY = 500
EPG_DAYS = 1  # backfill days whose CSV exists upstream
TICKS = 1  # daily runs after the backfill; the inputs cover no more
LOOKUPS = 16
RETAIN_S = 3600.0  # keeps old versions readable for time travel


def sources(ctx: Ctx, inputs: Path, run_day: dt.date):
    from otrrentetl_spark.pipelines.runner import EtlSources
    from otrrentetl_spark.sources import scrape
    from otrrentetl_spark.sources.csv_ingest import read_semicolon_csv

    spark, tracer = ctx.spark, ctx.tracer

    def csv(path: Path):
        with tracer.span("sources.csv"):
            return read_semicolon_csv(spark, path)

    def epg(day: dt.date):
        path = inputs / "epg" / f"{day:%Y_%m_%d}.csv"
        return csv(path) if path.exists() else None

    def page(kind: str, parse):
        with tracer.span("sources.scrape"):
            html = (inputs / f"{kind}_{run_day:%Y_%m_%d}.html").read_text()
            return parse(scrape.pages_df(spark, iter([(0, html)])))

    return EtlSources(
        genres_csv=lambda: csv(inputs / "genres.csv"),
        epg_csv_for_day=epg,
        toplist=lambda: page("toplist", scrape.toplist_rows),
        tracker=lambda: page("tracker", scrape.tracker_rows),
    )


def run(ctx: Ctx, rows_per_day: int = ROWS_PER_DAY, epg_days: int = EPG_DAYS) -> None:
    from otrrentetl_spark.pipelines.runner import EtlStores, run_once

    inputs = ctx.work / "etl_in"
    with ctx.excluded():
        truth = gen.write_etl(inputs, ctx.seed, TODAY, rows_per_day, epg_days=epg_days, ticks=TICKS)
    rng = random.Random(ctx.seed)

    def keys(day: dt.date, store: str = "recordings") -> set[tuple[str, str]]:
        return set(map(tuple, truth.stores[day.isoformat()][store]))

    def check_run(op, rep, day: dt.date) -> None:
        if rep != truth.reports[day.isoformat()]:
            ctx.fail(op, f"report {rep} != {truth.reports[day.isoformat()]}")

    def check_stores(op, day: dt.date) -> None:
        for name in ("recordings", "torrents"):
            table = getattr(stores, name)
            got = {tuple(r) for r in table.read().select("PartitionKey", "RowKey").collect()}
            if got != keys(day, name):
                ctx.fail(op, f"{name} keys after {day} differ from the truth")

    with ctx.setup():
        spark = ctx.start_session()
        stores = EtlStores.at(spark, ctx.work / "stores")
        rec = stores.recordings
        rec.retain_stale_s = RETAIN_S
        with ctx.op("etl.backfill") as op:
            rep = run_once(spark, sources(ctx, inputs, TODAY), stores, today=TODAY)
        version = max(r["version"] for r in rec.history().collect())
    with ctx.excluded():
        check_run(op, rep, TODAY)
        check_stores(op, TODAY)

    prev = TODAY
    for _ in range(TICKS):
        day = prev + dt.timedelta(days=1)
        top = sorted(rk for pk, rk in keys(day) if pk == "top")
        picks = rng.sample(top, min(LOOKUPS, len(top)))
        with ctx.unit() as unit_span:
            with ctx.op("etl.run_once") as op_r:
                rep = run_once(spark, sources(ctx, inputs, day), stores, today=day)
            with ctx.op("read.history", kind="merge.history"):
                new_version = max(r["version"] for r in rec.history().collect())
            with ctx.op("read.changes", kind="merge.changes") as op_c:
                changes = rec.changes(version, new_version).select(
                    "PartitionKey", "RowKey", "change_type"
                ).toPandas()
            looked = []
            for rk in picks:
                with ctx.op("read.lookup", kind="merge.lookup") as op_l:
                    looked.append((op_l, rk, rec.lookup("top", rk).select("Id").toPandas()))
            with ctx.op("read.snapshot", kind="merge.read") as op_s:
                snap = rec.read().groupBy("PartitionKey").count().toPandas()
            with ctx.op("read.version", kind="merge.read") as op_v:
                old = rec.read(version=version).groupBy("PartitionKey").count().toPandas()
            with ctx.op("maint.compact") as op_m:
                rec.compact()
            with ctx.op("maint.expire"):
                rec.expire_history(keep_last=2)

        with ctx.excluded():
            check_run(op_r, rep, day)
            got = {(r.PartitionKey, r.RowKey, r.change_type) for r in changes.itertuples()}
            want = {(pk, rk, "insert") for pk, rk in keys(day) - keys(prev)}
            want |= {(pk, rk, "delete") for pk, rk in keys(prev) - keys(day)}
            if got != want or len(changes) != len(want):
                ctx.fail(op_c, f"change feed has {len(changes)} rows, {len(got ^ want)} differ")
            for op_l, rk, pdf in looked:
                if pdf["Id"].tolist() != [int(rk)]:
                    ctx.fail(op_l, f"lookup(top, {rk}) gave {pdf['Id'].tolist()}")
            if _counts(snap) != collections.Counter(pk for pk, _ in keys(day)):
                ctx.fail(op_s, "snapshot partition counts differ from the truth")
            if _counts(old) != collections.Counter(pk for pk, _ in keys(prev)):
                ctx.fail(op_v, f"version {version} partition counts differ from the truth")
            check_stores(op_m, day)
            if unit_span is not None:
                unit_span.attrs.update(_space(rec))
        prev, version = day, new_version


def _counts(pdf) -> collections.Counter:
    return collections.Counter({r.PartitionKey: int(r.count) for r in pdf.itertuples()})


def _space(table) -> dict[str, float]:
    """Live data files of the table's current snapshot, and the
    table directory's bytes per byte of those files."""
    live = [p.removeprefix("file:") for p in table.read().inputFiles()]
    live_bytes = sum(os.path.getsize(p) for p in live)
    stored = sum(
        os.path.getsize(os.path.join(d, f)) for d, _, fs in os.walk(table.path) for f in fs
    )
    return {"merge.live_files": float(len(live)), "merge.space_amp": stored / live_bytes}
