"""Continuous ANN index maintenance (r9 verdict item 6): a
checkpointed pump folds base-table commits into the index micro-batch
by micro-batch; after every batch the index equals a from-scratch
rebuild; a graceful stop leaves a consistent snapshot that a new job
resumes from the same checkpoint."""

from __future__ import annotations

from pyspark.sql import functions as F

from otrrentetl_spark.catalog import load_table
from otrrentetl_spark.operators.annindex import AnnLshIndex
from otrrentetl_spark.operators.merge import KeyedParquetTable
from otrrentetl_spark.streaming.annmaint import AnnIndexMaintenance

SF = "/root/testdata/sf0.01"


def _index_state(idx):
    return sorted(
        (r["id"], r["sig"])
        for r in idx._table().read().select("id", "sig").collect()
    )


def _rebuild_state(spark, base, tmp_path, n):
    rebuilt = AnnLshIndex.build(
        spark,
        base.read(),
        str(tmp_path / f"rebuild{n}"),
        n_planes=12,
        prefix_bits=6,
        id_col="vec_id",
    )
    return _index_state(rebuilt)


def test_maintenance_folds_three_micro_batches_and_restarts(
    spark, tmp_path
):
    emb = load_table(spark, SF, "embeddings")
    base = KeyedParquetTable(
        spark, str(tmp_path / "base"), keys=("grp", "vec_id")
    )
    base.retain_stale_s = 3600.0
    seed = emb.filter(F.col("vec_id").between(1, 300)).select(
        (F.col("vec_id") % 4).alias("grp"), "vec_id", "embedding"
    )
    base.overwrite(seed)
    idx = AnnLshIndex.build(
        spark,
        base.read(),
        str(tmp_path / "lsh"),
        n_planes=12,
        prefix_bits=6,
        id_col="vec_id",
    )
    ckpt = str(tmp_path / "ckpt.json")
    job = AnnIndexMaintenance(base, idx, ckpt)
    assert job.run_available_now() == 0  # pins the build version

    # --- micro-batch 1: bucket-moving updates (negation) ------------
    base.upsert_replace_partitions(
        emb.filter(F.col("vec_id").isin(1, 5, 9)).select(
            F.lit(1).alias("grp"),
            "vec_id",
            F.transform("embedding", lambda x: -x).alias("embedding"),
        )
    )
    # --- micro-batch 2 (still queued): deletes + insert -------------
    # committed AFTER batch 1 is drained so the feed sees 3 distinct
    # (from, to) diffs, not one coalesced one
    assert job.run_available_now() == 1
    assert _index_state(idx) == _rebuild_state(spark, base, tmp_path, 1)

    base.delete_by_keys(
        spark.createDataFrame([(2, 2), (3, 3)], "grp long, vec_id long")
    )
    assert job.run_available_now() == 1
    assert _index_state(idx) == _rebuild_state(spark, base, tmp_path, 2)

    base.upsert_replace_partitions(
        emb.filter(F.col("vec_id") == 7).select(
            F.lit(0).alias("grp"),
            (F.col("vec_id") + 2_000_000_000).alias("vec_id"),
            "embedding",
        )
    )
    assert job.run_available_now() == 1
    assert _index_state(idx) == _rebuild_state(spark, base, tmp_path, 3)


def test_graceful_stop_leaves_consistent_snapshot_and_resumes(
    spark, tmp_path
):
    """I5: a stop flag raised mid-stream halts BETWEEN batches — the
    index sits at a committed base version with the checkpoint
    aligned; a NEW job on the same checkpoint folds the remainder."""
    emb = load_table(spark, SF, "embeddings")
    base = KeyedParquetTable(
        spark, str(tmp_path / "base"), keys=("grp", "vec_id")
    )
    base.retain_stale_s = 3600.0
    base.overwrite(
        emb.filter(F.col("vec_id").between(1, 200)).select(
            (F.col("vec_id") % 2).alias("grp"), "vec_id", "embedding"
        )
    )
    idx = AnnLshIndex.build(
        spark,
        base.read(),
        str(tmp_path / "lsh"),
        n_planes=12,
        prefix_bits=6,
        id_col="vec_id",
    )
    ckpt = str(tmp_path / "ckpt.json")
    job = AnnIndexMaintenance(base, idx, ckpt)
    job.run_available_now()  # pin
    v_pinned = base._read_snapshot()["version"]

    # two queued commits
    base.upsert_replace_partitions(
        emb.filter(F.col("vec_id") == 2).select(
            F.lit(0).alias("grp"),
            "vec_id",
            F.transform("embedding", lambda x: -x).alias("embedding"),
        )
    )
    mid_state = _rebuild_state(spark, base, tmp_path, "mid")
    # drain commit 1, then the stop flag fires before the next poll
    stops = iter([False, True])
    n = job.run(poll_interval_s=0.0, should_stop=lambda: next(stops))
    assert n == 1
    assert _index_state(idx) == mid_state  # consistent snapshot
    # checkpoint points at the drained version
    assert job.feed._read_checkpoint() == base._read_snapshot()["version"]

    base.delete_by_keys(
        spark.createDataFrame([(1, 1)], "grp long, vec_id long")
    )
    # checkpoint-restart: a FRESH job on the same path resumes, and
    # re-folds nothing already applied
    job2 = AnnIndexMaintenance(base, idx, ckpt)
    assert job2.run_available_now() == 1
    assert _index_state(idx) == _rebuild_state(spark, base, tmp_path, "end")
    assert v_pinned < job2.feed._read_checkpoint()


def _hist_count(idx):
    import os

    d = f"{idx.path}/_history"
    return sum(
        1 for f in os.listdir(d) if f.startswith("v") and f.endswith(".json")
    )


def _files_per_partition(idx):
    counts: dict[str, int] = {}
    for f in idx._table()._read_snapshot()["files"]:
        d = f.split("/", 1)[0]
        counts[d] = counts.get(d, 0) + 1
    return counts


def test_maintain_bounds_files_and_history_after_folds(spark, tmp_path):
    """A continuously-refreshed index accumulates one-to-two manifest
    versions per fold and up-to-shuffle-width files per rewritten
    bucket; maintain() (compact_if + expire_history) bounds both, and
    the index stays value-identical to a rebuild."""
    emb = load_table(spark, SF, "embeddings")
    base = KeyedParquetTable(
        spark, str(tmp_path / "base"), keys=("grp", "vec_id")
    )
    base.retain_stale_s = 3600.0
    base.overwrite(
        emb.filter(F.col("vec_id").between(1, 200)).select(
            (F.col("vec_id") % 2).alias("grp"), "vec_id", "embedding"
        )
    )
    idx = AnnLshIndex.build(
        spark,
        base.read(),
        str(tmp_path / "lsh"),
        n_planes=12,
        prefix_bits=6,
        id_col="vec_id",
    )
    ckpt = str(tmp_path / "ckpt.json")
    job = AnnIndexMaintenance(base, idx, ckpt)
    job.run_available_now()  # pin the build version

    # six folds, no maintenance: scaling by a positive constant keeps
    # every hyperplane sign (same sig -> the SAME buckets rewritten
    # each fold), so the history log and the hot buckets' file counts
    # accrue exactly as a resident daemon's would
    for i in range(6):
        base.upsert_replace_partitions(
            emb.filter(F.col("vec_id").between(1, 60)).select(
                (F.col("vec_id") % 2).alias("grp"),
                "vec_id",
                F.transform(
                    "embedding",
                    # cast back: float * double-literal promotes to
                    # double, which would schema-clash with the float
                    # files the build wrote
                    lambda x: (x * (1.0 + 0.1 * (i + 1))).cast("float"),
                ).alias("embedding"),
            )
        )
        assert job.run_available_now() == 1

    assert _hist_count(idx) > 4  # fragmented: ~2 versions per fold
    state_before = _index_state(idx)

    report = idx.maintain(max_files_per_partition=2, keep_history=4)
    assert report["expired_versions"] > 0
    assert _hist_count(idx) <= 4
    assert max(_files_per_partition(idx).values()) <= 2
    # value-identity: compaction + expiry never touch row content
    assert _index_state(idx) == state_before
    assert state_before == _rebuild_state(spark, base, tmp_path, "m")


def test_periodic_maintenance_runs_inside_the_job(spark, tmp_path):
    """maintain_every=2: the pump itself keeps the version log bounded
    across folds — no operator intervention — and folding continues
    correctly after each maintenance pass."""
    emb = load_table(spark, SF, "embeddings")
    base = KeyedParquetTable(
        spark, str(tmp_path / "base"), keys=("grp", "vec_id")
    )
    base.retain_stale_s = 3600.0
    base.overwrite(
        emb.filter(F.col("vec_id").between(1, 120)).select(
            (F.col("vec_id") % 2).alias("grp"), "vec_id", "embedding"
        )
    )
    idx = AnnLshIndex.build(
        spark,
        base.read(),
        str(tmp_path / "lsh"),
        n_planes=12,
        prefix_bits=6,
        id_col="vec_id",
    )
    job = AnnIndexMaintenance(
        base,
        idx,
        str(tmp_path / "ckpt.json"),
        maintain_every=2,
        max_files_per_partition=2,
        keep_history=3,
    )
    job.run_available_now()
    for i in range(4):
        base.upsert_replace_partitions(
            emb.filter(F.col("vec_id").between(1, 40)).select(
                (F.col("vec_id") % 2).alias("grp"),
                "vec_id",
                F.transform(
                    "embedding",
                    # cast back: float * double-literal promotes to
                    # double, which would schema-clash with the float
                    # files the build wrote
                    lambda x: (x * (1.0 + 0.1 * (i + 1))).cast("float"),
                ).alias("embedding"),
            )
        )
        assert job.run_available_now() == 1
    # 4 folds with maintain_every=2 -> maintenance ran on folds 2 and 4
    assert _hist_count(idx) <= 3
    assert max(_files_per_partition(idx).values()) <= 2
    assert _index_state(idx) == _rebuild_state(spark, base, tmp_path, "p")


def test_ivf_maintenance_job_folds_and_maintains(spark, tmp_path):
    """The pump + periodic maintenance work identically against an
    IvfIndex (cluster-partitioned) — folds stay value-identical to a
    rebuild over the mutated corpus, and the version log stays
    bounded."""
    from otrrentetl_spark.operators.annindex import IvfIndex

    emb = load_table(spark, SF, "embeddings")
    base = KeyedParquetTable(
        spark, str(tmp_path / "base"), keys=("grp", "vec_id")
    )
    base.retain_stale_s = 3600.0
    base.overwrite(
        emb.filter(F.col("vec_id").between(1, 150)).select(
            (F.col("vec_id") % 2).alias("grp"), "vec_id", "embedding"
        )
    )
    cents = [
        (i, [float(x) for x in r["embedding"]])
        for i, r in enumerate(
            emb.filter(F.col("vec_id").isin(3, 47, 91, 130))
            .select("embedding")
            .collect()
        )
    ]

    def ivf_state(i):
        return sorted(
            (r["id"], r["cluster"])
            for r in i._table().read().select("id", "cluster").collect()
        )

    idx = IvfIndex.build(
        spark, base.read(), str(tmp_path / "ivf"), cents, id_col="vec_id"
    )
    job = AnnIndexMaintenance(
        base,
        idx,
        str(tmp_path / "ckpt.json"),
        maintain_every=1,
        max_files_per_partition=2,
        keep_history=3,
    )
    job.run_available_now()
    for i in range(3):
        base.upsert_replace_partitions(
            emb.filter(F.col("vec_id").between(1, 30)).select(
                (F.col("vec_id") % 2).alias("grp"),
                "vec_id",
                F.transform(
                    "embedding",
                    # distinct multiplier per fold (a no-op rewrite
                    # could diff to an empty batch); sign flips move
                    # vectors to a different nearest centroid
                    # (cluster re-key); cast keeps the float schema
                    lambda x: (x * [-1.5, 2.0, -2.5][i]).cast("float"),
                ).alias("embedding"),
            )
        )
        assert job.run_available_now() == 1
        rebuilt = IvfIndex.build(
            spark,
            base.read(),
            str(tmp_path / f"ivf_rb{i}"),
            cents,
            id_col="vec_id",
        )
        assert ivf_state(idx) == ivf_state(rebuilt)
    assert _hist_count(idx) <= 3
    assert max(_files_per_partition(idx).values()) <= 2


def _seed_index(spark, tmp_path, name="b"):
    emb = load_table(spark, SF, "embeddings")
    base = KeyedParquetTable(
        spark, str(tmp_path / f"{name}_base"), keys=("grp", "vec_id")
    )
    base.retain_stale_s = 3600.0
    base.overwrite(
        emb.filter(F.col("vec_id").between(1, 200)).select(
            (F.col("vec_id") % 4).alias("grp"), "vec_id", "embedding"
        )
    )
    idx = AnnLshIndex.build(
        spark,
        base.read(),
        str(tmp_path / f"{name}_lsh"),
        n_planes=12,
        prefix_bits=6,
        id_col="vec_id",
    )
    return base, idx


def _preimage_batch(spark, base, ids):
    """A Delta-CDF-style update batch (preimage+postimage pairs) in
    the (id, v, change_type) shape apply_changes consumes."""
    emb = load_table(spark, SF, "embeddings")
    rows = emb.filter(F.col("vec_id").isin(ids))
    pre = rows.select(
        F.col("vec_id").alias("id"),
        F.col("embedding").alias("v"),
        F.lit("update_preimage").alias("change_type"),
    )
    post = rows.select(
        F.col("vec_id").alias("id"),
        F.transform("embedding", lambda x: -x).alias("v"),
        F.lit("update").alias("change_type"),
    )
    return pre.unionByName(post)


def test_fold_probe_jobs_collapsed(spark, tmp_path, monkeypatch, count_jobs):
    """r10 verdict item 5: apply_changes must answer its routing
    questions (has-preimage / needs-locate / has-removals /
    has-fresh) with ONE aggregate over the pinned batch, not a
    limit(1).count() probe job per question.

    De-brittled per ADVICE r11: instead of an absolute driver-job
    budget (one job of headroom — any Spark/AQE change would trip it
    without a real regression), assert the STRUCTURAL signal directly
    (no ``.limit(n)`` probe plan is ever built during a fold — the
    pre-collapse code built four) plus a same-session stability pin
    (two equivalent folds run the same job count ± a small envelope,
    so a fold can't smuggle in per-question work that scales with
    repetition)."""
    from pyspark.sql import DataFrame

    base, idx = _seed_index(spark, tmp_path, "jobs")
    limit_calls = []
    real_limit = DataFrame.limit

    def spy_limit(self, n):
        limit_calls.append(n)
        return real_limit(self, n)

    monkeypatch.setattr(DataFrame, "limit", spy_limit)

    def fold_jobs(ids):
        batch = _preimage_batch(spark, base, ids).localCheckpoint(
            eager=True
        )
        with count_jobs() as jobs:
            idx.apply_changes(batch)
        return jobs.n

    jobs_a = fold_jobs([1, 5, 9])
    jobs_b = fold_jobs([13, 17, 21])
    assert idx.last_fold_stats["located_fallback_ids"] == 0
    assert not limit_calls, (
        f"fold built {len(limit_calls)} limit() probe plan(s) — the"
        " routing questions must come from the single tallies aggregate"
    )
    assert jobs_a > 0 and jobs_b > 0
    assert abs(jobs_b - jobs_a) <= 3, (
        f"equivalent folds ran {jobs_a} vs {jobs_b} driver jobs —"
        " per-fold work is not batch-shaped"
    )


def test_locate_fallback_emits_observable_signal(spark, tmp_path):
    """r10 verdict item 6: a preimage-less update batch lands on the
    O(index) broadcast-locate fallback — that path must be loudly
    observable (RuntimeWarning + last_fold_stats counter), and the
    batch-proportional preimage path must stay silent."""
    import warnings as _w

    import pytest

    base, idx = _seed_index(spark, tmp_path, "warn")
    emb = load_table(spark, SF, "embeddings")
    legacy = emb.filter(F.col("vec_id").isin(2, 6)).select(
        F.col("vec_id").alias("id"),
        F.transform("embedding", lambda x: -x).alias("v"),
        F.lit("update").alias("change_type"),
    )
    with pytest.warns(RuntimeWarning, match="include_preimage"):
        idx.apply_changes(legacy)
    assert idx.last_fold_stats["located_fallback_ids"] == 2

    good = _preimage_batch(spark, base, [3])
    with _w.catch_warnings():
        _w.simplefilter("error", RuntimeWarning)
        idx.apply_changes(good)
    assert idx.last_fold_stats["located_fallback_ids"] == 0


def test_locate_fallback_counter_in_stats(spark, tmp_path):
    """r11 verdict item 6: warnings vanish in headless runs — the
    fallback must also accumulate into a persistent counter exposed
    by index.stats(), incrementing on preimage-less folds and staying
    zero across preimage folds (a monitor alerts on nonzero)."""
    base, idx = _seed_index(spark, tmp_path, "ctr")
    emb = load_table(spark, SF, "embeddings")

    s0 = idx.stats()
    assert s0["locate_fallback_events_total"] == 0
    assert s0["locate_fallback_ids_total"] == 0
    assert s0["n_files"] > 0 and s0["n_partitions"] > 0
    assert s0["rows_indexed"] == 200

    # healthy preimage folds: counter must NOT move
    idx.apply_changes(_preimage_batch(spark, base, [1, 5]))
    idx.apply_changes(_preimage_batch(spark, base, [9]))
    s1 = idx.stats()
    assert s1["locate_fallback_events_total"] == 0
    assert s1["locate_fallback_ids_total"] == 0
    assert s1["last_fold"]["located_fallback_ids"] == 0

    # two preimage-less folds: events and ids both accumulate
    import warnings as _w

    def legacy(ids):
        return emb.filter(F.col("vec_id").isin(ids)).select(
            F.col("vec_id").alias("id"),
            F.transform("embedding", lambda x: -x).alias("v"),
            F.lit("update").alias("change_type"),
        )

    with _w.catch_warnings():
        _w.simplefilter("ignore", RuntimeWarning)
        idx.apply_changes(legacy([2, 6]))
        idx.apply_changes(legacy([10, 14, 18]))
    s2 = idx.stats()
    assert s2["locate_fallback_events_total"] == 2
    assert s2["locate_fallback_ids_total"] == 5
    # a FRESH object over the same path sees the persisted counter
    s3 = AnnLshIndex(spark, idx.path).stats()
    assert s3["locate_fallback_events_total"] == 2
    assert s3["locate_fallback_ids_total"] == 5


def test_maintain_vacuum_after_s_bounds_stale_bytes(spark, tmp_path):
    """r10 verdict item 8: the index table retains superseded files
    for an hour (in-flight probe safety), so a resident daemon's
    disk never shrinks below one retention window — unless
    maintenance passes vacuum_after_s, which reaps retired files
    past the shorter grace. With grace 0, on-disk files must equal
    the live manifest exactly after maintain()."""
    base, idx = _seed_index(spark, tmp_path, "vac")
    for i, ids in enumerate([[1, 5], [9, 13], [17, 21]]):
        idx.apply_changes(_preimage_batch(spark, base, ids))
    t = idx._table()
    snap = t._read_snapshot()
    on_disk = set(t._list_data_files())
    assert set(snap["files"]) < on_disk, "folds left no retired files"
    idx.maintain(vacuum_after_s=0.0)
    snap2 = t._read_snapshot()
    assert set(t._list_data_files()) == set(snap2["files"])
    assert snap2["retired"] == []


def test_telemetry_bump_does_not_need_table_write_lock(spark, tmp_path):
    """ADVICE r12 (annindex.py:184) — the fallback-counter bump must
    serialize through its own short-timeout telemetry lock, NOT the
    table's single-writer lock: a concurrent mutation/compact holding
    the table lock must neither stall the fold for the 300 s lock
    timeout nor cause the increment to be dropped."""
    import time

    base, idx = _seed_index(spark, tmp_path, "telelock")
    t = idx._table()
    # a foreign writer holds the TABLE lock for the whole bump
    assert t._try_lock("foreign-writer-token")
    try:
        t0 = time.monotonic()
        idx._bump_fallback_counter(3)
        took = time.monotonic() - t0
    finally:
        t._unlock(expected_token="foreign-writer-token")
    assert took < 5.0, f"bump stalled {took:.1f}s behind the table lock"
    s = idx.stats()
    assert s["locate_fallback_events_total"] == 1
    assert s["locate_fallback_ids_total"] == 3
    # the telemetry lock itself was released (a second bump proceeds)
    idx._bump_fallback_counter(2)
    assert idx.stats()["locate_fallback_ids_total"] == 5


def test_stats_rows_indexed_is_numeric_lower_bound(spark, tmp_path):
    """ADVICE r12 (annindex.py:236) — rows_indexed must stay numeric
    even when some files lack footer stats (monitors sum it); the
    exactness flag says which flavor the caller got."""
    base, idx = _seed_index(spark, tmp_path, "lb")
    t = idx._table()
    s = idx.stats()
    assert s["rows_indexed"] == 200 and s["rows_indexed_exact"] is True
    # simulate a stats-less footer: drop one file's stats entry from
    # the folded state (via the warm state cache stats() reads from)
    snap = t._read_snapshot()
    victim = snap["files"][0]
    from otrrentetl_spark.operators import merge as _m

    with _m._STATE_CACHE_LOCK:
        st = _m._STATE_CACHE.get(t.path)
        assert st is not None, "fold just ran; cache must be warm"
        st["stats"] = {
            k: v for k, v in st["stats"].items() if k != victim
        }
    s2 = idx.stats()
    assert isinstance(s2["rows_indexed"], int)
    assert 0 < s2["rows_indexed"] < 200
    assert s2["rows_indexed_exact"] is False
