"""Entry point C: the dashboard rerun loop over a cached base frame."""

from __future__ import annotations

import duckdb
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from data_pipeline_and_visualization_dashboard_spark import charts
from data_pipeline_and_visualization_dashboard_spark.dashboard import (
    DashboardSession,
)
from perfbench.oracle import DASHBOARD_TWINS, frames_match
from tests.conftest import SF_CORRECT, SF_SMOKE


def test_dashboard_payload_shapes(spark):
    sess = DashboardSession(spark, SF_SMOKE)
    try:
        payload = sess.render_payload(
            date_range=("2024-01-05", "2024-01-20"),
            hour_range=(6, 18),
            type_labels=["Click", "Purchase"],
        )
        assert set(payload) == {
            "metrics", "top_users", "avg_value_by_hour",
            "value_histogram", "type_donut", "day_hour_heatmap",
        }
        assert len(payload["metrics"]) == 1
        assert len(payload["top_users"]) <= 10
        assert len(payload["type_donut"]) <= 5
        assert payload["avg_value_by_hour"]["event_hour"].between(6, 18).all()
        # second interaction reuses the cache and narrows correctly
        p2 = sess.render_payload(type_labels=["Click"])
        assert set(p2["type_donut"]["event_type_label"]) <= {"Click"}
        assert (
            p2["metrics"]["total_events"][0]
            <= sess.base().count()
        )
    finally:
        sess.close()


# --- the payload against its DuckDB twins --------------------------------

def _widget_filter(date_range, hour_range, type_labels) -> str:
    """`charts.filtered_events` for one widget state, in the form of the
    charts oracles' fixed filter; a None widget does not filter."""
    parts = []
    if date_range is not None:
        lo, hi = date_range
        parts.append(f"ts >= TIMESTAMP '{lo} 00:00:00' "
                     f"AND ts <= TIMESTAMP '{hi} 00:00:00'")
    if hour_range is not None:
        parts.append("hour(ts) BETWEEN {} AND {}".format(*hour_range))
    if type_labels is not None:
        quoted = ", ".join(repr(label) for label in type_labels)
        parts.append(f"{charts._LABEL_CASE} IN ({quoted})")
    return " AND ".join(parts) or "TRUE"


def _assert_matches_twins(con, payload: dict, state: tuple) -> None:
    assert set(payload) == set(DASHBOARD_TWINS)
    where = _widget_filter(*state)
    for key, shape in DASHBOARD_TWINS.items():
        expected = con.execute(shape.replace(charts._FILTER_SQL, where)).df()
        assert frames_match(payload[key], expected), (
            f"{key} for {state}:\nengine\n{payload[key]}\nduckdb\n{expected}"
        )


@pytest.fixture(scope="module")
def correct_session(spark):
    sess = DashboardSession(spark, SF_CORRECT)
    yield sess
    sess.close()


@pytest.mark.parametrize("state", [
    (("2024-01-05", "2024-01-20"), (6, 18), ["Click", "Purchase"]),
    (None, None, None),
    # no row matches: GROUPING SETS returns no rows at all, while the
    # metrics tile is still the one row of a plain aggregate
    (("2030-01-01", "2030-01-02"), (0, 23), ["Click"]),
], ids=["typical", "unfiltered", "no_rows"])
def test_payload_matches_duckdb(correct_session, duck, state):
    _assert_matches_twins(duck, correct_session.render_payload(*state),
                          state)


def test_payload_matches_duckdb_on_dirty_rows(spark, tmp_path):
    """Data NULLs next to grouping NULLs: a NULL user (the biggest
    "user", so it is in the top 10), NaN, NULL and out-of-range values
    (no histogram bin), an unmapped type (NULL label) and a NULL ts
    (NULL hour and weekday)."""
    events = pq.read_table(f"{SF_SMOKE}/events.parquet").to_pandas()
    events.loc[::10, "user_id"] = None
    events.loc[1:3, "value"] = [float("nan"), 900.0, -3.0]
    events.loc[4, "value"] = None
    events.loc[5:9, "event_type"] = "refund"
    events.loc[11, "ts"] = None
    events["user_id"] = events["user_id"].astype("Int64")
    pq.write_table(pa.Table.from_pandas(events, preserve_index=False),
                   tmp_path / "events.parquet", coerce_timestamps="us")
    con = duckdb.connect()
    con.execute(f"CREATE VIEW events AS SELECT * FROM "
                f"read_parquet('{tmp_path}/events.parquet')")
    sess = DashboardSession(spark, str(tmp_path))
    try:
        payload = sess.render_payload()
        assert payload["top_users"]["user_id"].isna().iloc[0]
        _assert_matches_twins(con, payload, (None, None, None))
        state = (("2024-01-01", "2024-01-31"), (0, 23),
                 ["Click", "View", "Purchase", "Sign Up", "Error"])
        _assert_matches_twins(con, sess.render_payload(*state), state)
    finally:
        sess.close()
        con.close()


def test_render_payload_job_budget(spark, correct_session, monkeypatch):
    """One interaction is one aggregate handed over once: at most 3
    Spark jobs (partial aggregate, final aggregate + top-k window,
    result) and one toPandas. One action per chart fails here."""
    frame_cls = type(correct_session.base())
    handoff = frame_cls.toPandas
    calls = []

    def counted(self, *args, **kwargs):
        calls.append(self)
        return handoff(self, *args, **kwargs)

    monkeypatch.setattr(frame_cls, "toPandas", counted)
    sc = spark.sparkContext
    sc.setJobGroup("render-budget", "one dashboard interaction")
    try:
        correct_session.render_payload(
            ("2024-01-05", "2024-01-20"), (6, 18), ["Click", "Purchase"]
        )
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert len(sc.statusTracker().getJobIdsForGroup("render-budget")) <= 3
    assert len(calls) == 1
