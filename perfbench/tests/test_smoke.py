"""Tiny-size runs of each workload, traced, pass their output checks;
re-running the ETL's last day changes no store."""

from __future__ import annotations

import datetime as dt

import pytest

from perfbench import etl, olap, run
from perfbench.harness import Ctx, per_layer
from perfbench.trace import EventLog, Join, layer_metrics


@pytest.fixture
def ctx_for(tmp_path):
    made = []

    def make(workload: str) -> Ctx:
        work = tmp_path / workload
        run._prepare_env(work)
        ctx = Ctx(seed=11, seconds=0, trace=True, work=work)
        made.append((ctx, run.instrument(ctx)))
        return ctx

    yield make
    for ctx, restore in made:
        for undo in restore:
            undo()
        ctx.stop_session()


def _layers(ctx: Ctx) -> dict[str, float]:
    ctx.stop_session()
    log = sorted((ctx.work / "eventlog").iterdir())[-1]
    names = [n for n, _ in per_layer(olap.MEMBERS)]
    return layer_metrics(Join(ctx.tracer.spans, EventLog.read(log)), names)


def test_olap_read_smoke(ctx_for):
    ctx = ctx_for("olap_read")
    olap.run(ctx, members=["flagship", "graph_pagerank"], sf=0.001, warmup=1, passes=1)
    assert not ctx.failed, ctx.failed
    assert len(ctx.units) == 1 and len(ctx.ops) == 4
    m = _layers(ctx)
    assert m["query.flagship.jobs"] >= 1 and m["spark.jobs"] >= 2
    assert m["catalyst.planning_s"] > 0 and m["plans.build_s"] > 0
    assert m["pipelines.epg.s"] == 0 and m["merge.upsert_replace_partitions.s"] == 0


def test_etl_cycle_smoke_and_idempotent_rerun(ctx_for):
    from otrrentetl_spark.pipelines.runner import EtlStores, run_once

    ctx = ctx_for("etl_cycle")
    etl.run(ctx, rows_per_day=60, epg_days=1)
    assert not ctx.failed, ctx.failed
    assert len(ctx.units) == 1
    assert [o.name for o in ctx.ops][:3] == ["etl.backfill", "etl.run_once", "read.history"]

    def state(stores):
        return [
            sorted(tuple(r) for r in t.read().collect())
            for t in (stores.genres, stores.recordings, stores.torrents)
        ]

    stores = EtlStores.at(ctx.spark, ctx.work / "stores")
    before = state(stores)
    day2 = etl.TODAY + dt.timedelta(days=1)
    report = run_once(ctx.spark, etl.sources(ctx, ctx.work / "etl_in", day2), stores, today=day2)
    assert report["epg_days_written"] == []
    assert state(stores) == before

    m = _layers(ctx)
    assert m["merge.upsert_replace_partitions.jobs"] > 0 and m["pipelines.torrents.jobs"] > 0
    assert m["sources.csv_s"] > 0 and m["merge.live_files"] > 0
    # The read verbs return lazy frames: their jobs run under the op.
    assert m["merge.lookup.jobs"] > 0 and m["merge.history.jobs"] > 0
    assert m["query.flagship.s"] == 0
