"""Spark-free unit tests for the finite-input run helpers
(streaming.drain, streaming.state_rows), driven by a fake query."""

from __future__ import annotations

import pytest

from data_pipeline_and_visualization_dashboard_spark import streaming


class _FakeQuery:
    """Stands in for a StreamingQuery. stop() clears lastProgress, so
    a drain that read it after stopping would return None."""

    def __init__(self, fail: bool = False) -> None:
        self.fail = fail
        self.stopped = False
        self.lastProgress = {
            "stateOperators": [{"numRowsTotal": 3}, {"numRowsTotal": 4}]
        }

    # the call drain makes to run the query; a failing run raises here
    def processAllAvailable(self) -> None:  # noqa: N802
        if self.fail:
            raise RuntimeError("micro-batch failed")

    def stop(self) -> None:
        self.stopped = True
        self.lastProgress = None


def test_drain_returns_progress_read_before_stop():
    q = _FakeQuery()
    progress = streaming.drain(q)
    assert q.stopped
    assert streaming.state_rows(progress) == 7


def test_drain_stops_query_when_run_raises():
    q = _FakeQuery(fail=True)
    with pytest.raises(RuntimeError, match="micro-batch failed"):
        streaming.drain(q)
    assert q.stopped


def test_state_rows_without_progress_raises():
    with pytest.raises(RuntimeError, match="without a progress record"):
        streaming.state_rows(None)
