"""Span arithmetic and the event-log fold, on hand-built inputs."""

from __future__ import annotations

import json

import pytest

from perfbench.spans import (
    Job, Span, covered, fold_jobs, profile, read_event_log, span_rows,
)


def test_covered_merges_overlaps_and_clips():
    assert covered([], 0, 10) == 0
    assert covered([(1, 3), (2, 5), (7, 8)], 0, 10) == pytest.approx(5)
    assert covered([(-5, 2), (9, 20)], 0, 10) == pytest.approx(3)
    assert covered([(11, 12)], 0, 10) == 0


def _job(group, start, end, tasks=1, exec_run_s=0.0):
    j = Job(group, start, end)
    j.sums["tasks"], j.sums["exec_run_s"] = tasks, exec_run_s
    return j


def test_self_time_and_driver_gap_on_hand_built_spans():
    # root [0, 10]: child A [1, 4], child B [3, 6]; A's job [2, 3] and
    # B's jobs [4, 5], [4.5, 5.5]; the root itself runs a job [8, 9]
    spans = [Span(0, "root", None, "op", 0.0, 10.0),
             Span(1, "a", 0, "op", 1.0, 4.0),
             Span(2, "b", 0, "op", 3.0, 6.0)]
    jobs = {(0, 0): _job("pb1", 2.0, 3.0, tasks=2, exec_run_s=0.5),
            (0, 1): _job("pb2", 4.0, 5.0, exec_run_s=1.0),
            (0, 2): _job("pb2", 4.5, 5.5, exec_run_s=1.0),
            (0, 3): _job("pb0", 8.0, 9.0, tasks=4),
            (0, 4): _job(None, 0.5, 0.6)}       # outside any span group
    rows = {r["name"]: r for r in span_rows(spans, jobs)}
    assert rows["root"]["self_s"] == pytest.approx(10 - 5)
    assert rows["a"]["self_s"] == pytest.approx(3)
    # jobs count inclusively: the root owns its job and its children's
    assert [rows[n]["jobs"] for n in ("root", "a", "b")] == [4, 1, 2]
    assert rows["root"]["tasks"] == 2 + 1 + 1 + 4
    assert rows["b"]["exec_run_s"] == pytest.approx(2.0)
    # gap = wall minus the union of the span's jobs' intervals
    assert rows["root"]["driver_gap_s"] == pytest.approx(10 - (1 + 1.5 + 1))
    assert rows["b"]["driver_gap_s"] == pytest.approx(3 - 1.5)


def test_profile_means_per_call_and_calls_per_op():
    rows = [{"name": "x", "phase": "op", "self_s": 1.0, "jobs": 2},
            {"name": "x", "phase": "op", "self_s": 3.0, "jobs": 4},
            {"name": "x", "phase": "warmup", "self_s": 99.0, "jobs": 99},
            {"name": "s", "phase": "setup", "self_s": 5.0, "jobs": 1}]
    for r in rows:
        for q in ("tasks", "driver_gap_s", "exec_run_s", "gc_s",
                  "shuffle_write_bytes", "input_bytes", "input_records",
                  "output_bytes", "spill_bytes"):
            r.setdefault(q, 0.0)
    prof = profile(rows, {"setup": 1, "op": 4})
    assert prof["x.self_s"] == pytest.approx(2.0)
    assert prof["x.jobs"] == pytest.approx(3.0)
    assert prof["x.calls"] == pytest.approx(0.5)
    assert prof["s.calls"] == pytest.approx(1.0)


def _write(path, events):
    path.write_text("".join(json.dumps(e) + "\n" for e in events))


def test_fold_of_a_rolling_event_log(tmp_path):
    """Two applications: one rolling directory split over two files and
    one single-file log; job ids restart per application."""
    app = tmp_path / "eventlog_v2_local-1"
    app.mkdir()
    (app / "appstatus_local-1").write_text("")
    start = {"Event": "SparkListenerJobStart", "Job ID": 0,
             "Submission Time": 1000, "Stage IDs": [0, 1],
             "Properties": {"spark.jobGroup.id": "pb3"}}

    def task(stage, run_ms, read=0, records=0, written=0, shuffle=0,
             spill=0):
        return {"Event": "SparkListenerTaskEnd", "Stage ID": stage,
                "Task Metrics": {
                    "Executor Run Time": run_ms, "JVM GC Time": 10,
                    "Memory Bytes Spilled": spill, "Disk Bytes Spilled": spill,
                    "Input Metrics": {"Bytes Read": read,
                                      "Records Read": records},
                    "Output Metrics": {"Bytes Written": written},
                    "Shuffle Write Metrics": {"Shuffle Bytes Written":
                                              shuffle}}}
    _write(app / "events_1_local-1",
           [{"Event": "SparkListenerLogStart"}, start,
            task(0, 200, read=100, records=7, shuffle=50)])
    _write(app / "events_2_local-1",
           [task(1, 300, written=400, spill=5),
            {"Event": "SparkListenerJobEnd", "Job ID": 0,
             "Completion Time": 2500}])
    _write(tmp_path / "local-2", [
        {"Event": "SparkListenerLogStart"},
        dict(start, Properties={}, **{"Stage IDs": [0]}),
        task(0, 1000)])
    apps = read_event_log(str(tmp_path))
    assert len(apps) == 2
    jobs = fold_jobs(apps)
    first, second = jobs[(0, 0)], jobs[(1, 0)]
    assert (first.group, first.start, first.end) == ("pb3", 1.0, 2.5)
    assert first.sums == {"tasks": 2, "exec_run_s": 0.5, "gc_s": 0.02,
                          "shuffle_write_bytes": 50, "input_bytes": 100,
                          "input_records": 7, "output_bytes": 400,
                          "spill_bytes": 10}
    assert second.group is None and second.sums["tasks"] == 1
