"""Dashboard chart-data contracts (SURVEY §2.13) + parameterized filter.

The reference dashboard (assignment1_dashboard/app.py) renders six
plotly charts, each consuming a tiny pre-aggregated frame produced from
the sidebar-filtered dataset (app.py:142-148). Rendering is out of
scope; the engine owns the small frames:

  metrics tiles   (A6)            app.py:109-115
  top-10 groups   (A7+O1+J3+O5)   app.py:150-193
  avg by hour     (A2+O2)         app.py:202-236
  histogram       (F10+A9)        app.py:246-275
  type donut      (A7+P6)         app.py:283-315
  day×hour heatmap(A3+O4)         app.py:323-373

All six come from ONE Spark aggregate: `chart_rollup` groups the
filtered frame by GROUPING SETS, one set per chart grain, tags each row
with `grouping_id()`, trims the user grain to the top 10 in Spark and
returns about 260 rows whatever the data size. The caller hands that
frame to pandas once (`toPandas`, Arrow) and the six producers split it
on the driver: each selects its grouping set by tag, renames, and
orders rows as the chart's own GROUP BY ... ORDER BY would. A NULL key in a
row is a grouping NULL only where the tag says the key was rolled up;
anywhere else it is a data NULL (a null user, an out-of-range value's
bin, an unmapped type's label) and is kept or dropped by that chart's
own rule.

The parameterized filter replicates the sidebar semantics exactly,
including two documented traps (SURVEY §7.4 #3/#4): the date upper
bound is MIDNIGHT of the end day (later rows excluded), and unmapped
type codes get a null label which an IN-filter silently drops.

At 100 TB the heavy side is the scan + partial aggregate, which Spark
distributes; the frame handed to pandas stays tiny by construction.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .derive import EVENT_TYPE_LABELS, WEEKDAYS, derive_event_columns
from .io import read_table

HIST_LO, HIST_HI, HIST_BIN = 0.0, 500.0, 10.0
TOP_K = 10

# grouping_id() sets one bit per rolled-up key, the first key highest
ROLLUP_KEYS = ("user_id", "event_hour", "bin", "event_type_label",
               "event_dow")
ROLLUP_SETS = (("user_id",), ("event_hour",), ("bin",),
               ("event_type_label",), ("event_dow", "event_hour"), ())


def _grouping_tag(keys: tuple[str, ...]) -> int:
    """The `grouping_id()` of the rollup rows grouped by `keys`."""
    n = len(ROLLUP_KEYS)
    return sum(1 << (n - 1 - i) for i, key in enumerate(ROLLUP_KEYS)
               if key not in keys)


def filtered_events(
    df: DataFrame,
    date_range: tuple[str, str] | None = None,
    hour_range: tuple[int, int] | None = None,
    type_labels: list[str] | None = None,
) -> DataFrame:
    """F7+F8+F9 sidebar filter (app.py:142-148).

    date_range upper bound is cast to midnight (the reference's
    `date_hi` trap — rows later that day are excluded, replicated
    deliberately). type_labels filters on the DERIVED label; null
    labels (unmapped codes) never match an IN list.
    """
    df = derive_event_columns(df)
    if date_range is not None:
        lo, hi = date_range
        df = df.filter(
            (F.col("ts") >= F.lit(lo).cast("timestamp"))
            & (F.col("ts") <= F.lit(hi).cast("timestamp"))
        )
    if hour_range is not None:
        df = df.filter(F.col("event_hour").between(*hour_range))
    if type_labels is not None:
        df = df.filter(F.col("event_type_label").isin(*type_labels))
    return df


def chart_rollup(df: DataFrame) -> DataFrame:
    """Every chart's aggregate in one pass: GROUPING SETS over the chart
    grains, one row per group, tagged `gid` = `grouping_id()`.

    The user grain is trimmed to its top TOP_K by (cnt DESC, user_id ASC)
    in Spark, so the frame stays about 260 rows however many users there
    are; the window partition is the tag plus the other keys, which is
    the whole user grain and a single row for every other set, so only
    user rows are ranked away. `n_users` is count(user_id) over the user
    grain before the trim (distinct non-null users) on user rows, 0 on
    the others. That count needs every user row, so Spark plans the trim
    as a WindowGroupLimit after the window's one shuffle, not before it.
    """
    in_range = (F.col("value") > HIST_LO) & (F.col("value") < HIST_HI)
    binned = df.withColumn(
        "bin",
        F.when(in_range,
               F.floor(F.col("value") / F.lit(HIST_BIN))).cast("int"),
    )
    rolled = binned.groupingSets(
        [list(s) for s in ROLLUP_SETS], *ROLLUP_KEYS
    ).agg(
        F.grouping_id().alias("gid"),
        F.count(F.lit(1)).alias("cnt"),
        F.round(F.avg("value"), 6).alias("avg_value"),
        F.round(F.sum("value"), 4).alias("total_value"),
        F.min("ts").alias("min_ts"),
        F.max("ts").alias("max_ts"),
    )
    per_row = Window.partitionBy("gid", *ROLLUP_KEYS[1:])
    ranked = per_row.orderBy(F.desc("cnt"), F.asc("user_id"))
    return (
        rolled.withColumn("n_users", F.count("user_id").over(per_row))
        .withColumn("rank", F.row_number().over(ranked))
        .filter(F.col("rank") <= TOP_K)
        .drop("rank")
    )


# --- six producers: pandas splitters over the handed-off rollup ---------
# Each returns its §2.13 contract frame with the columns, dtypes and row
# order that the chart's own GROUP BY ... ORDER BY hands over through
# toPandas; Spark sorts NULLs first in ascending order, so they do too.

# Spark width of each integer key. toPandas hands an integer column over
# as float64 when it holds a NULL, so a key keeps float64 only while a
# (data) NULL remains once its grouping set is selected.
_INT_KEYS = {"user_id": "int64", "event_hour": "int32", "bin": "int32"}


def _grain(rollup: pd.DataFrame, *keys: str) -> pd.DataFrame:
    """The rollup rows of the grouping set over `keys`."""
    return rollup[rollup["gid"] == _grouping_tag(keys)]


def _contract(rows: pd.DataFrame, columns: list[str], by: list[str],
              ascending: list[bool], cnt: str = "cnt") -> pd.DataFrame:
    """`rows` with the count renamed to `cnt`, sorted by `by` with NULLs
    first, cut to `columns`, integer keys at their Spark width."""
    out = rows.rename(columns={"cnt": cnt}).sort_values(
        by, ascending=ascending, na_position="first")[columns]
    for col, dtype in _INT_KEYS.items():
        if col in out and not out[col].isna().any():
            out[col] = out[col].astype(dtype)
    return out.reset_index(drop=True)


def metrics_summary(rollup: pd.DataFrame) -> pd.DataFrame:
    """A6 metric tiles: one row. GROUPING SETS over no rows returns no
    rows at all, where a plain aggregate returns one, so an empty filter
    gets that row here: zero counts and NULL for the rest."""
    tiles = _grain(rollup)[["cnt", "avg_value", "total_value", "min_ts",
                            "max_ts"]].head(1).reset_index(drop=True)
    if tiles.empty:
        tiles = tiles.reindex([0])
    users = _grain(rollup, "user_id")["n_users"]
    tiles.insert(3, "n_users", int(users.iloc[0]) if len(users) else 0)
    tiles["cnt"] = tiles["cnt"].fillna(0).astype("int64")
    return tiles.rename(columns={"cnt": "total_events"})


def top_users(rollup: pd.DataFrame) -> pd.DataFrame:
    """A7+O1 top-k (trimmed in Spark), deterministic tie-break; a null
    user_id is a user of its own, as in a plain GROUP BY."""
    return _contract(_grain(rollup, "user_id"), ["user_id", "event_cnt"],
                     ["event_cnt", "user_id"], [False, True], cnt="event_cnt")


def avg_value_by_hour(rollup: pd.DataFrame) -> pd.DataFrame:
    return _contract(_grain(rollup, "event_hour"),
                     ["event_hour", "avg_value"], ["event_hour"], [True])


def value_histogram(rollup: pd.DataFrame) -> pd.DataFrame:
    """F10+A9: fixed-width binning owned by the engine (the reference
    delegates to plotly's nbins; A9 notes it is a data op). Bin =
    floor(value/width) over the clipped range; values outside it (and
    NULL or NaN ones) have a NULL bin and are not drawn."""
    rows = _grain(rollup, "bin")
    return _contract(rows[rows["bin"].notna()], ["bin", "cnt"], ["bin"],
                     [True])


def type_donut(rollup: pd.DataFrame) -> pd.DataFrame:
    """A7+P6: counts by mapped label. Unmapped codes have a null label,
    and the reference's value_counts drops null, so the donut does too."""
    rows = _grain(rollup, "event_type_label")
    return _contract(rows[rows["event_type_label"].notna()],
                     ["event_type_label", "cnt"], ["cnt", "event_type_label"],
                     [False, True])


def day_hour_heatmap(rollup: pd.DataFrame) -> pd.DataFrame:
    """A3+O4: long-form (dow, hour, count), weekday-ordered — the pivot
    to a 7×24 grid stays display-side, like the reference's pandas
    unstack."""
    rows = _grain(rollup, "event_dow", "event_hour")
    dow_num = rows["event_dow"].map({d: i for i, d in enumerate(WEEKDAYS, 1)})
    return _contract(rows.assign(dow_num=dow_num),
                     ["event_dow", "event_hour", "event_cnt"],
                     ["dow_num", "event_hour"], [True, True], cnt="event_cnt")


# --- fixed-parameter variants wired into the driver's oracle harness ----

_DATE_LO, _DATE_HI = "2024-01-05", "2024-01-20"
_HOUR_LO, _HOUR_HI = 6, 18
_LABELS = ["Click", "Purchase", "Sign Up"]

# Shared SQL fragments so the oracle filter is char-for-char the same
# semantics as filtered_events().
_LABEL_CASE = "CASE event_type " + " ".join(
    f"WHEN '{k}' THEN '{v}'" for k, v in EVENT_TYPE_LABELS.items()
) + " END"
_FILTER_SQL = (
    f"ts >= TIMESTAMP '{_DATE_LO} 00:00:00' "
    f"AND ts <= TIMESTAMP '{_DATE_HI} 00:00:00' "
    f"AND hour(ts) BETWEEN {_HOUR_LO} AND {_HOUR_HI} "
    f"AND {_LABEL_CASE} IN ({', '.join(repr(l) for l in _LABELS)})"
)


def _filtered(spark: SparkSession, sf_dir: str) -> DataFrame:
    return filtered_events(
        read_table(spark, sf_dir, "events"),
        date_range=(_DATE_LO, _DATE_HI),
        hour_range=(_HOUR_LO, _HOUR_HI),
        type_labels=_LABELS,
    )


def _chart_entry(spark: SparkSession, sf_dir: str, producer,
                 schema: str) -> DataFrame:
    """One chart frame as the dashboard computes it (rollup, one
    handoff, split), back in Spark so the registry can check it."""
    rollup = chart_rollup(_filtered(spark, sf_dir)).toPandas()
    return spark.createDataFrame(producer(rollup), schema)


def q7_filtered_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _chart_entry(
        spark, sf_dir, metrics_summary,
        "total_events BIGINT, avg_value DOUBLE, total_value DOUBLE, "
        "n_users BIGINT, min_ts TIMESTAMP, max_ts TIMESTAMP")


def q8_top_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _chart_entry(spark, sf_dir, top_users,
                        "user_id BIGINT, event_cnt BIGINT")


def q9_value_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _chart_entry(spark, sf_dir, value_histogram,
                        "bin INT, cnt BIGINT")


def q10_type_donut(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _chart_entry(spark, sf_dir, type_donut,
                        "event_type_label STRING, cnt BIGINT")


def q11_day_hour_heatmap(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _chart_entry(spark, sf_dir, day_hour_heatmap,
                        "event_dow STRING, event_hour INT, event_cnt BIGINT")


def q12_derived_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P1-P6 projection surface: every derived column over raw events
    (unfiltered), hashed row-by-row against the oracle."""
    df = derive_event_columns(read_table(spark, sf_dir, "events"))
    return df.select(
        "event_id",
        "event_hour",
        "event_dow",
        "props_k",
        "event_type_label",
        # deliberately NOT rounded: row-level IEEE ops on identical
        # inputs give bit-identical doubles in Spark and DuckDB, while
        # round() implementations disagree on near-halfway values
        "value_per_k",
        "dow_num",
    )


ORACLE_SQL: dict[str, str] = {
    "q7_filtered_metrics": f"""
        SELECT count(*) AS total_events,
               round(avg(value), 6) AS avg_value,
               round(sum(value), 4) AS total_value,
               count(DISTINCT user_id) AS n_users,
               min(ts) AS min_ts, max(ts) AS max_ts
        FROM events WHERE {_FILTER_SQL}
    """,
    "q8_top_users": f"""
        SELECT user_id, count(*) AS event_cnt
        FROM events WHERE {_FILTER_SQL}
        GROUP BY user_id ORDER BY event_cnt DESC, user_id LIMIT 10
    """,
    "q9_value_histogram": f"""
        SELECT CAST(floor(value / {HIST_BIN}) AS INT) AS bin,
               count(*) AS cnt
        FROM events
        WHERE {_FILTER_SQL} AND value > {HIST_LO} AND value < {HIST_HI}
        GROUP BY 1 ORDER BY 1
    """,
    "q10_type_donut": f"""
        SELECT {_LABEL_CASE} AS event_type_label, count(*) AS cnt
        FROM events WHERE {_FILTER_SQL}
        GROUP BY 1 HAVING event_type_label IS NOT NULL
        ORDER BY cnt DESC, event_type_label
    """,
    "q11_day_hour_heatmap": f"""
        SELECT dayname(ts) AS event_dow, CAST(hour(ts) AS INT) AS event_hour,
               count(*) AS event_cnt
        FROM events WHERE {_FILTER_SQL}
        GROUP BY 1, 2 ORDER BY 1, 2
    """,
    "q12_derived_events": f"""
        SELECT event_id,
               CAST(hour(ts) AS INT) AS event_hour,
               dayname(ts) AS event_dow,
               CAST(nullif(regexp_extract(props, '"k":\\s*(\\d+)', 1), '')
                    AS INT) AS props_k,
               {_LABEL_CASE} AS event_type_label,
               CASE WHEN CAST(nullif(regexp_extract(props,
                         '"k":\\s*(\\d+)', 1), '') AS INT) > 0
                    THEN value / CAST(nullif(regexp_extract(props,
                         '"k":\\s*(\\d+)', 1), '') AS INT)
                    ELSE 0.0 END AS value_per_k,
               CAST(CASE dayname(ts)
                    WHEN 'Monday' THEN 1 WHEN 'Tuesday' THEN 2
                    WHEN 'Wednesday' THEN 3 WHEN 'Thursday' THEN 4
                    WHEN 'Friday' THEN 5 WHEN 'Saturday' THEN 6
                    WHEN 'Sunday' THEN 7 END AS INT) AS dow_num
        FROM events
    """,
}

QUERIES = {
    "q7_filtered_metrics": q7_filtered_metrics,
    "q8_top_users": q8_top_users,
    "q9_value_histogram": q9_value_histogram,
    "q10_type_donut": q10_type_donut,
    "q11_day_hour_heatmap": q11_day_hour_heatmap,
    "q12_derived_events": q12_derived_events,
}
