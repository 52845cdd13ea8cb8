"""Dashboard interaction loop (SURVEY §3.3, entry point C).

The reference dashboard reruns app.py top-to-bottom per widget change:
cached load -> sidebar filter -> six chart producers -> plotly. The
engine-side equivalent: build + cache the cleaned/derived frame ONCE
(the `@st.cache_data` analogue, S7), then serve each interaction as a
single pass over the cached frame: the sidebar filter, one GROUPING
SETS aggregate for all six charts (`charts.chart_rollup`), one Arrow
handoff of its ~260 rows to pandas (S6), and the six §2.13 contract
frames split from that frame on the driver.

Re-render cost = one aggregate's jobs (at most 3: partial aggregate,
final aggregate + top-k window, result) instead of a few per chart, and
no work left running once the payload returns. At cluster scale the
cache is MEMORY_AND_DISK across executors and interactions are
sub-second for any data size the cache holds; beyond that, swap the
cache for the date-partitioned parquet written by
pipeline.run_events_pipeline (partition pruning serves the date filter).
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession

from .charts import (
    avg_value_by_hour,
    chart_rollup,
    day_hour_heatmap,
    filtered_events,
    metrics_summary,
    top_users,
    type_donut,
    value_histogram,
)
from .io import cache_materialized, read_table


@dataclass
class DashboardSession:
    """Holds the cached base frame; one per served dashboard."""

    spark: SparkSession
    sf_dir: str
    _base: DataFrame | None = field(default=None, repr=False)

    def base(self) -> DataFrame:
        if self._base is None:
            self._base = cache_materialized(
                read_table(self.spark, self.sf_dir, "events")
            )
        return self._base

    def render_payload(
        self,
        date_range: tuple[str, str] | None = None,
        hour_range: tuple[int, int] | None = None,
        type_labels: list[str] | None = None,
    ) -> dict:
        """One widget interaction: filter, one rollup handed to pandas,
        and the six chart contracts split from it (the §2.13 shapes)."""
        f = filtered_events(self.base(), date_range, hour_range, type_labels)
        rollup = chart_rollup(f).toPandas()
        return {
            "metrics": metrics_summary(rollup),
            "top_users": top_users(rollup),
            "avg_value_by_hour": avg_value_by_hour(rollup),
            "value_histogram": value_histogram(rollup),
            "type_donut": type_donut(rollup),
            "day_hour_heatmap": day_hour_heatmap(rollup),
        }

    def close(self) -> None:
        if self._base is not None:
            self._base.unpersist()
            self._base = None
