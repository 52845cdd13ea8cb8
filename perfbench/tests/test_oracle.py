"""The DuckDB-twin comparison and the widget filter, without Spark."""

from __future__ import annotations

import duckdb
import pandas as pd

from perfbench import oracle


def test_frames_match_ignores_order_and_null_kinds():
    a = pd.DataFrame({"h": [1, 2], "avg": [50.177812, float("nan")]})
    b = pd.DataFrame({"avg": [None, 50.177813], "h": [2, 1]})
    assert oracle.frames_match(a, b)


def test_frames_match_rejects_real_differences():
    a = pd.DataFrame({"h": [1, 2], "avg": [1.0, 2.0]})
    assert not oracle.frames_match(a, a.assign(avg=[1.0, 2.00001]))
    assert not oracle.frames_match(a, a.assign(h=[1, 3]))
    assert not oracle.frames_match(a, a.assign(avg=[1.0, None]))
    assert not oracle.frames_match(a, a.iloc[:1])
    assert not oracle.frames_match(a, a.rename(columns={"h": "hour"}))


def test_widget_filter_replaces_the_fixed_oracle_filter():
    con = duckdb.connect()
    con.execute("""CREATE VIEW events AS SELECT * FROM (VALUES
        (TIMESTAMP '2024-01-02 05:00:00', 'click', 1, 10.0),
        (TIMESTAMP '2024-01-03 00:00:00', 'view', 2, 20.0),
        (TIMESTAMP '2024-01-03 00:00:01', 'click', 3, 30.0))
        AS t(ts, event_type, user_id, value)""")
    state = (("2024-01-01", "2024-01-03"), (0, 23), ["Click", "View"])
    sql = oracle.DASHBOARD_TWINS["metrics"].replace(
        oracle.charts._FILTER_SQL, oracle.widget_filter_sql(*state))
    # the upper bound is midnight of the end day: the last row is out
    assert con.execute(sql).fetchone()[0] == 2
