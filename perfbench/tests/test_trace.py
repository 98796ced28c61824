"""Spread, coverage, self-time, per-unit median and span-to-job
arithmetic on synthetic spans and a synthetic event log."""

from __future__ import annotations

import json

import pytest

from perfbench.harness import END_TO_END, per_layer
from perfbench.olap import MEMBERS
from perfbench.sweep import iqr_share
from perfbench.trace import EventLog, Join, Span, covered, layer_metrics


def test_iqr_share_on_ten_runs():
    # Quartiles of 1..10 by the "exclusive" rule: 2.75, 5.5, 8.25.
    assert iqr_share([float(x) for x in range(10, 0, -1)]) == pytest.approx(1.0)
    assert iqr_share([4.0] * 9 + [40.0]) == 0.0


def test_covered_merges_overlaps_and_clips():
    assert covered((0, 10), []) == 0
    assert covered((0, 10), [(1, 3), (2, 5), (7, 8)]) == pytest.approx(5)
    assert covered((0, 10), [(-5, 2), (9, 20)]) == pytest.approx(3)
    assert covered((0, 10), [(11, 12)]) == 0


def _spans() -> list[Span]:
    # unit 1 [0, 10] > op 2 [1, 9] > merge 3 [2, 5], merge 4 [4, 8]
    # (overlapping children), then a check 7 [9, 10]; unit 5 [20, 24]
    # > op 6 [20, 24]
    return [
        Span(1, "unit", None, 0.0, 10.0),
        Span(2, "pipelines.epg", 1, 1.0, 9.0),
        Span(3, "merge.read", 2, 2.0, 5.0),
        Span(4, "merge.compact", 2, 4.0, 8.0, {"files_written": 3, "bytes_written": 300}),
        Span(5, "unit", None, 20.0, 24.0),
        Span(6, "pipelines.epg", 5, 20.0, 24.0),
        Span(7, "excluded", 1, 9.0, 10.0),
    ]


def _event_log(path) -> EventLog:
    def job(jid, stages, t0, t1, tag):
        props = {"perfbench.span": str(tag)} if tag is not None else {}
        return [
            {"Event": "SparkListenerJobStart", "Job ID": jid, "Submission Time": t0 * 1000,
             "Stage IDs": stages, "Properties": props},
            {"Event": "SparkListenerJobEnd", "Job ID": jid, "Completion Time": t1 * 1000},
        ]

    def stage(sid, tasks, run_ms):
        evs = [{"Event": "SparkListenerStageCompleted", "Stage Info": {"Stage ID": sid}}]
        for _ in range(tasks):
            evs.append({"Event": "SparkListenerTaskEnd", "Stage ID": sid, "Task Metrics": {
                "Executor Run Time": run_ms, "Executor CPU Time": run_ms * 10**6,
                "Shuffle Read Metrics": {"Local Bytes Read": 5, "Remote Bytes Read": 1}}})
        return evs

    events = (
        job(0, [0, 1], 2.5, 3.5, 3) + stage(0, 2, 100) + stage(1, 4, 50)
        # job 1 lists stage 1 again (skipped) and runs stage 2
        + job(1, [1, 2], 4.5, 6.0, 4) + stage(2, 3, 10)
        # untagged job inside span 4's interval falls back to it
        + job(2, [3], 7.0, 7.5, None) + stage(3, 1, 10)
        + job(3, [4], 21.0, 22.0, 6) + stage(4, 1, 1000)
        # a job the check submits counts for no layer
        + job(4, [5], 9.2, 9.8, 7) + stage(5, 8, 1000)
    )
    path.write_text("\n".join(json.dumps(e) for e in events) + "\n")
    return EventLog.read(path)


def test_join_attributes_jobs_stages_and_self_time(tmp_path):
    join = Join(_spans(), _event_log(tmp_path / "log"))
    assert [j.id for j in join.jobs_of[3]] == [0]
    assert sorted(j.id for j in join.jobs_of[4]) == [1, 2]
    assert join.log.jobs[1].stages == [2]  # the skipped stage stays with job 0
    # Self time: op [1, 9] minus its children's union [2, 8].
    assert join.self_time(2) == pytest.approx(2.0)
    c = join.spark_counts(1)
    assert (c["spark.jobs"], c["spark.stages"], c["spark.tasks"]) == (3, 4, 10)
    assert c["exec.run_s"] == pytest.approx(0.2 + 0.2 + 0.03 + 0.01)
    assert c["exec.shuffle_read_bytes"] == 60
    # Jobs run [2.5, 3.5], [4.5, 6], [7, 7.5] inside a 10 s unit whose
    # last second is a check.
    assert c["spark.outside_jobs_s"] == pytest.approx(6.0)
    assert join.measured_time(1) == pytest.approx(9.0)


def test_layer_metrics_per_unit_medians(tmp_path):
    join = Join(_spans(), _event_log(tmp_path / "log"))
    names = [n for n, _ in per_layer(MEMBERS)]
    m = layer_metrics(join, names)
    assert set(m) == set(names)
    assert m["spark.jobs"] == pytest.approx(2.0)  # median of 3 and 1
    # Only top-level merge spans count; both are top level here.
    assert m["merge.compact.s"] == pytest.approx(2.0)  # median of 4 and 0
    assert m["merge.files_written"] == pytest.approx(1.5)
    assert m["pipelines.epg.s"] == pytest.approx((2.0 + 4.0) / 2)
    assert m["trace.unit_s"] == pytest.approx((9.0 + 4.0) / 2)
    assert m["session.start_s"] == 0.0


def test_benchmark_json_lists_every_metric():
    from pathlib import Path

    spec = json.loads((Path(__file__).resolve().parents[2] / "BENCHMARK.json").read_text())
    assert [(m["name"], m["unit"]) for m in spec["end_to_end"]] == END_TO_END
    assert [(m["name"], m["unit"]) for m in spec["per_layer"]] == per_layer(MEMBERS)
    assert len(spec["per_layer"]) <= 128
