"""Generators are pure functions of their seed."""

from __future__ import annotations

import datetime as dt
import hashlib
from pathlib import Path

from perfbench import gen


def _digest(root: Path) -> dict[str, str]:
    return {
        str(p.relative_to(root)): hashlib.md5(p.read_bytes()).hexdigest()
        for p in sorted(root.rglob("*"))
        if p.is_file()
    }


def test_tpch_same_seed_same_bytes(tmp_path):
    gen.write_tpch(tmp_path / "a", 0.001, seed=7)
    gen.write_tpch(tmp_path / "b", 0.001, seed=7)
    gen.write_tpch(tmp_path / "c", 0.001, seed=8)
    a, b, c = (_digest(tmp_path / x) for x in "abc")
    assert set(a) == {f"{t}.parquet" for t in gen.TPCH_TABLES}
    assert a == b
    # Every seeded table differs; region and nation are fixed dimensions.
    assert {k for k in a if a[k] != c[k]} == {f"{t}.parquet" for t in gen.TPCH_TABLES[2:]}


def test_tpch_lineitem_keys_unique(tmp_path):
    import pyarrow.parquet as pq

    gen.write_tpch(tmp_path, 0.001, seed=1)
    li = pq.read_table(tmp_path / "lineitem.parquet").to_pandas()
    assert not li.duplicated(["l_orderkey", "l_linenumber"]).any()
    assert li["l_linenumber"].between(1, 7).all()


def test_etl_same_seed_same_bytes_and_truth(tmp_path):
    day = dt.date(2026, 8, 20)
    ta = gen.write_etl(tmp_path / "a", 3, day, 100, epg_days=2)
    tb = gen.write_etl(tmp_path / "b", 3, day, 100, epg_days=2)
    tc = gen.write_etl(tmp_path / "c", 4, day, 100, epg_days=2)
    assert _digest(tmp_path / "a") == _digest(tmp_path / "b")
    assert ta == tb
    assert _digest(tmp_path / "a") != _digest(tmp_path / "c")
    assert ta != tc


def test_etl_truth_shape(tmp_path):
    day = dt.date(2026, 8, 20)
    truth = gen.write_etl(tmp_path, 5, day, 200, epg_days=3)
    first, second = truth.reports["2026-08-20"], truth.reports["2026-08-21"]
    assert first["epg_days_written"] == ["2026-08-17", "2026-08-18", "2026-08-19"]
    assert second["epg_days_written"] == ["2026-08-20"]  # the other days are gated
    for rep in (first, second):
        assert rep["promoted"] > 0 and rep["torrents_saved"] > 0 and rep["top_deleted"] > 0
    # The tracker's file names carry the J2 key: most top recordings match.
    assert first["torrents_saved"] > first["promoted"] // 2
