"""DuckDB twins for the benchmark's timed outputs.

Spark results are compared with DuckDB results on the same generated
parquet: same column names, same row count, and equal rows in any order,
with NULL, NaN and NaT read alike and floats equal within FLOAT_TOL.
"""

from __future__ import annotations

import os

import duckdb

from data_pipeline_and_visualization_dashboard_spark import charts, clean
from data_pipeline_and_visualization_dashboard_spark.schemas import (
    EVENTS_CRITICAL,
)


# Both engines round averages to 6 places; summing in another order can
# put a value that is exactly halfway on the other side of the rounding,
# so floats may differ by one unit in the 6th place.
FLOAT_TOL = 1.5e-6


def _rows(frame, columns: list[str]) -> list[tuple]:
    """Rows as (non-float values as text, floats), sorted: NULL, NaN and
    NaT all read as NULL."""
    rows = []
    for row in frame.to_dict("records"):
        text, nums = [], []
        for c in columns:
            v = row[c]
            if v is None or v != v:
                text.append("NULL")
            elif isinstance(v, float):
                nums.append(v)
            else:
                text.append(str(v))
        rows.append((tuple(text), tuple(nums)))
    return sorted(rows)


def frames_match(spark_frame, duck_frame) -> bool:
    cols = sorted(spark_frame.columns)
    if cols != sorted(duck_frame.columns) or len(spark_frame) != len(duck_frame):
        return False
    return all(
        ta == tb and len(na) == len(nb)
        and all(abs(x - y) <= FLOAT_TOL for x, y in zip(na, nb))
        for (ta, na), (tb, nb) in zip(_rows(spark_frame, cols),
                                      _rows(duck_frame, cols)))


def connect(data_dir: str) -> duckdb.DuckDBPyConnection:
    """A connection with one view per generated table, named as the
    engine's oracles expect."""
    con = duckdb.connect()
    for name in sorted(os.listdir(data_dir)):
        table, ext = os.path.splitext(name)
        if ext == ".parquet":
            path = os.path.join(data_dir, name)
            con.execute(f"CREATE VIEW {table} AS SELECT * FROM "
                        f"read_parquet('{path}')")
    return con


# --- dashboard -----------------------------------------------------------

# payload key -> the charts oracle whose shape it has; avg_value_by_hour
# has no filtered oracle in the engine, so its twin is written here with
# the same filter placeholder
_AVG_BY_HOUR = f"""
    SELECT CAST(hour(ts) AS INT) AS event_hour,
           round(avg(value), 6) AS avg_value
    FROM events WHERE {charts._FILTER_SQL}
    GROUP BY 1 ORDER BY 1
"""
DASHBOARD_TWINS = {
    "metrics": charts.ORACLE_SQL["q7_filtered_metrics"],
    "top_users": charts.ORACLE_SQL["q8_top_users"],
    "avg_value_by_hour": _AVG_BY_HOUR,
    "value_histogram": charts.ORACLE_SQL["q9_value_histogram"],
    "type_donut": charts.ORACLE_SQL["q10_type_donut"],
    "day_hour_heatmap": charts.ORACLE_SQL["q11_day_hour_heatmap"],
}


def widget_filter_sql(date_range, hour_range, labels) -> str:
    """The sidebar filter of `charts.filtered_events` for one widget
    state, in the form of the charts oracles' fixed filter."""
    (lo, hi), (h0, h1) = date_range, hour_range
    quoted = ", ".join(repr(label) for label in labels)
    return (f"ts >= TIMESTAMP '{lo} 00:00:00' "
            f"AND ts <= TIMESTAMP '{hi} 00:00:00' "
            f"AND hour(ts) BETWEEN {h0} AND {h1} "
            f"AND {charts._LABEL_CASE} IN ({quoted})")


def dashboard_ok(con, state, payload: dict) -> bool:
    where = widget_filter_sql(*state)
    if set(payload) != set(DASHBOARD_TWINS):
        return False
    for key, shape in DASHBOARD_TWINS.items():
        if charts._FILTER_SQL not in shape:
            raise ValueError(f"oracle for {key} no longer has the filter")
        expected = con.execute(shape.replace(charts._FILTER_SQL, where)).df()
        if not frames_match(payload[key], expected):
            return False
    return True


# --- events_etl ----------------------------------------------------------

def etl_expected(con) -> dict:
    """The removal report of the cleaning rules (first failing rule takes
    the row) and the number of distinct dates among kept rows."""
    ok_null = "(" + " AND ".join(f"{c} IS NOT NULL"
                                 for c in EVENTS_CRITICAL) + ")"
    ok_pos = "coalesce(value > 0, false)"
    ok_cap = f"coalesce(value <= {clean.VALUE_CAP}, false)"
    ok_ts = (f"coalesce(ts >= TIMESTAMP '{clean.TS_MIN}' "
             f"AND ts < TIMESTAMP '{clean.TS_MAX}', false)")
    kept = f"{ok_null} AND {ok_pos} AND {ok_cap} AND {ok_ts}"
    row = con.execute(f"""
        SELECT count(*),
               count(*) FILTER (WHERE NOT {ok_null}),
               count(*) FILTER (WHERE {ok_null} AND NOT {ok_pos}),
               count(*) FILTER (WHERE {ok_null} AND {ok_pos} AND NOT {ok_cap}),
               count(*) FILTER (WHERE {ok_null} AND {ok_pos} AND {ok_cap}
                                AND NOT {ok_ts}),
               count(*) FILTER (WHERE {kept}),
               count(DISTINCT CAST(ts AS DATE)) FILTER (WHERE {kept})
        FROM events""").fetchone()
    keys = ("rows_in", "removed_nulls", "removed_value_pos",
            "removed_value_cap", "removed_ts_valid", "rows_kept", "dates")
    return dict(zip(keys, row))


def etl_ok(con, expected: dict, report: dict, out_path: str) -> bool:
    """Report equals the DuckDB counts; the written rows read back equal
    rows_kept, in one partition directory per distinct date."""
    want = {k: v for k, v in expected.items() if k != "dates"}
    if {k: report.get(k) for k in want} != want:
        return False
    parts = [d for d in os.listdir(out_path) if d.startswith("event_date=")]
    n = con.execute(f"SELECT count(*) FROM read_parquet("
                    f"'{out_path}/*/*.parquet')").fetchone()[0]
    return n == expected["rows_kept"] and len(parts) == expected["dates"]
