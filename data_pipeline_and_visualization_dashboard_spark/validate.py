"""Validation operators (SURVEY §2.2 V1-V3, V5; V4 is not carried).

The reference fail-stops on schema violations (`validate_data`,
assignment1.ipynb:70-80) and prints removal accounting per cleaning step
(ipynb:109-165). Spark-first twist: the per-step counts that came free
from Polars' eager execution are computed here in a SINGLE pass as a
sum-of-flags aggregate — N cleaning rules cost one scan, not N scans,
which is the difference between feasible and not at 100 TB.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T


class SchemaValidationError(Exception):
    """Raised on contract violation, like the reference's bare
    `raise Exception(...)` (ipynb:74-79) but typed."""


def validate_schema(
    df: DataFrame,
    expected: T.StructType,
    timestamp_columns: list[str] | None = None,
) -> None:
    """V1 + V2: presence check for every contract column, dtype check for
    timestamp columns (ipynb:70-80). Fail-stop; no quarantine path, by
    reference semantics."""
    missing = [f.name for f in expected.fields if f.name not in df.columns]
    if missing:
        raise SchemaValidationError(f"missing expected columns: {missing}")
    actual = {f.name: f.dataType for f in df.schema.fields}
    for c in timestamp_columns or []:
        if not isinstance(actual.get(c), (T.TimestampType, T.TimestampNTZType)):
            raise SchemaValidationError(
                f"column {c!r} must be a timestamp, got {actual.get(c)}"
            )


def shape(df: DataFrame) -> tuple[int, int]:
    """V3: (rows, cols) summary (ipynb:83-89). One job."""
    return df.count(), len(df.columns)


def accounting_aggs(rules: dict[str, Column]) -> list[Column]:
    """The V5 aggregate expressions shared by `removal_accounting`
    (standalone scan) and the `df.observe()` path (metrics that ride an
    existing job, clean.clean_events_observed): for each rule, count
    rows that pass every earlier rule but fail this one (the
    reference's sequential-delta attribution, ipynb:112-143), plus
    input and surviving totals."""
    aggs = [
        F.count(F.lit(1)).alias("rows_in"),
    ]
    so_far: Column | None = None
    for reason, keep in rules.items():
        fails_here = ~F.coalesce(keep, F.lit(False))
        if so_far is not None:
            fails_here = so_far & fails_here
        aggs.append(
            F.sum(F.when(fails_here, 1).otherwise(0)).alias(f"removed_{reason}")
        )
        passed = F.coalesce(keep, F.lit(False))
        so_far = passed if so_far is None else (so_far & passed)
    aggs.append(F.sum(F.when(so_far, 1).otherwise(0)).alias("rows_kept"))
    return aggs


def removal_accounting(df: DataFrame, rules: dict[str, Column]) -> DataFrame:
    """V5 as a single-pass aggregate. Returns a 1-row DataFrame:
    (rows_in, rows_kept, removed_<reason>...).

    One scan, one tiny all-to-one agg — vs the reference's (and a naive
    port's) N materializations. When the cleaned frame is being
    persisted anyway, prefer `clean.clean_events_observed`, which
    collects these same metrics DURING the sink job (zero extra
    passes)."""
    return df.agg(*accounting_aggs(rules))
