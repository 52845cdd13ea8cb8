"""BENCHMARK.json against the runner, and a traced run of every workload.

The traced runs start Spark and take about 30 s each.
"""

from __future__ import annotations

import json
import re
import subprocess
import sys
from pathlib import Path

import pytest

from perfbench import run
from perfbench.workloads import WORKLOADS

SPEC = json.loads((run.ROOT / "BENCHMARK.json").read_text())
NAME = re.compile(r"^[A-Za-z0-9_.-]+$")


def test_spec_shape_and_names():
    assert set(SPEC) == {"command", "paths", "run_seconds", "workloads",
                         "end_to_end", "per_layer"}
    metrics = SPEC["end_to_end"] + SPEC["per_layer"]
    names = [d["name"] for d in metrics + SPEC["workloads"]]
    assert all(NAME.match(n) and len(n) <= 64 for n in names)
    assert len(names) == len(set(names))
    assert [w["name"] for w in SPEC["workloads"]] == list(run.WORKLOADS)
    assert set(run.WORKLOADS) == set(WORKLOADS)
    assert all(0 < d["bound"] <= 0.25 for d in SPEC["end_to_end"])
    assert {"name": "setup_s", "unit": "s", "better": "lower",
            "bound": max(d["bound"] for d in SPEC["end_to_end"])
            } in SPEC["end_to_end"]


def test_end_to_end_names_are_the_runner_metrics():
    m = {"lat": [1.0, 2.0, 3.0], "setup_s": [1.0, 2.0, 3.0],
         "peak_rss_mb": 10.0, "gauge_s": [0.04, 0.05, 0.06]}
    assert set(run.end_to_end(m)) == {d["name"] for d in SPEC["end_to_end"]}


def test_every_per_layer_metric_names_a_declared_span():
    spans = {s for w in WORKLOADS.values() for s in w.spans}
    for d in SPEC["per_layer"]:
        span, quantity = d["name"].rsplit(".", 1)
        if span == "traced":
            assert quantity in {e["name"] for e in SPEC["end_to_end"]}
        else:
            assert span in spans, d["name"]


@pytest.mark.parametrize("workload", run.WORKLOADS)
def test_traced_run_fires_every_declared_span(workload):
    """A stale patch target would report zeros silently; the runner
    fails the run instead, so exit 0 means every span fired."""
    proc = subprocess.run(
        [sys.executable, str(Path(run.__file__)), "--workload", workload,
         "--seed", "5", "--seconds", "1", "--trace", "1"],
        cwd=run.ROOT, stdout=subprocess.PIPE, stderr=subprocess.PIPE,
        text=True, timeout=300)
    assert proc.returncode == 0, proc.stderr[-2000:]
    res = json.loads(proc.stdout.strip().splitlines()[-1])
    assert res["correct"] and res["failed"] == 0
    assert set(res["metrics"]) == {d["name"] for d in SPEC["per_layer"]}
    root = {"dashboard": "dashboard.render_payload",
            "events_etl": "pipeline.run_events_pipeline"}[workload]
    assert res["metrics"][f"{root}.jobs"]["value"] > 0
