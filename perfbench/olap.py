"""``olap_read``: repeated passes over registry read queries.

Inputs: the ten registry tables at scale factor ``SF``, generated from
the seed, which also sets the query order within each pass. Set-up
starts the session and runs the warm-up passes, which pay the JVM's
first-use costs, whole-stage codegen for every plan and any
session-shared index build. Each measured unit is one pass; each
operation is one query: the ``QUERIES[name]`` call (``plans.build``)
plus ``toPandas()``, the driver contract's fetch. Every result's value
hash must equal DuckDB's on the registry oracle over the same files.
"""

from __future__ import annotations

import hashlib
import random

from perfbench import gen
from perfbench.harness import Ctx

SF = 0.01
# Passes keep getting faster for about four passes after the first
# (JIT). Two warm-up passes take the steepest part of that into set-up,
# and a run measures a fixed minimum of passes: with a count that
# varied with host speed, the median pass moved with the count.
WARMUP_PASSES = 2
MIN_PASSES = 3

# A fixed copy of the measured members: a cut of bench.py's HEADLINE
# list, sized so the cold warm-up pass and the measured passes fit the
# run budget at local[4]. perfbench/README.md lists the members left
# out and what each costs. The count is odd, so the median operation
# of a run is the middle member's, not the gap between two members.
MEMBERS = [
    "graph_pagerank",  # iterative power iteration (direction-5 target)
    "flagship",  # filter + broadcast dim + fact join + agg + top-k
    "agg_pricing_summary",  # TPC-H Q1-style wide aggregation
    "q5_nation_revenue",  # six-table star join
    "u3_upsert_merge_state",  # keyed MERGE read side
    "asof_click_to_view",  # as-of join (union + window)
    "stream_tumbling_window",  # event-time windowed aggregation
]


def result_hash(pdf) -> str:
    """Order-insensitive value hash of a result, by the oracle gate's
    canonicalization (tools/verify_oracle.py)."""
    from tools.verify_oracle import _canon

    body = repr((sorted(pdf.columns), len(pdf), _canon(pdf)))
    return hashlib.md5(body.encode()).hexdigest()


def oracle_hashes(data: str, names: list[str]) -> dict[str, str]:
    from otrrentetl_spark.registry import ORACLES
    from tools.verify_oracle import duck_connect

    con = duck_connect(data)
    try:
        return {n: result_hash(con.execute(ORACLES[n]).df()) for n in names}
    finally:
        con.close()


def run(
    ctx: Ctx,
    members: list[str] = MEMBERS,
    sf: float = SF,
    warmup: int = WARMUP_PASSES,
    passes: int = MIN_PASSES,
) -> None:
    data = str(ctx.work / "tables")
    with ctx.excluded():
        gen.write_tpch(ctx.work / "tables", sf, ctx.seed)
        expected = oracle_hashes(data, members)
    rng = random.Random(ctx.seed)

    def one_pass() -> None:
        from otrrentetl_spark.registry import QUERIES

        order = list(members)
        rng.shuffle(order)
        for name in order:
            with ctx.op(name, kind=f"query.{name}") as op:
                with ctx.tracer.span("plans.build"):
                    df = QUERIES[name](spark, data)
                pdf = df.toPandas()
            with ctx.excluded():
                if op.span is not None:
                    op.span.attrs.update(catalyst_phases(df))
                if result_hash(pdf) != expected[name]:
                    ctx.fail(op, "value hash differs from the DuckDB oracle")
                # Builders persist small intermediates whose lifetime is
                # the returned frame's (as the oracle gate does).
                spark.catalog.clearCache()

    with ctx.setup():
        spark = ctx.start_session()
        for _ in range(warmup):
            one_pass()
    while not ctx.done(passes):
        with ctx.unit():
            one_pass()


def catalyst_phases(df) -> dict[str, float]:
    """Analysis, optimization and planning seconds of the frame's
    query execution, from Catalyst's phase tracker."""
    jvm = df.sparkSession.sparkContext._jvm
    phases = jvm.scala.jdk.javaapi.CollectionConverters.asJava(
        df._jdf.queryExecution().tracker().phases()
    )
    return {k: phases.get(k).durationMs() / 1e3 for k in phases.keySet()}
