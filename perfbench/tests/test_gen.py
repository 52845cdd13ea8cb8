"""The seeded input generator: determinism, schema and dirty rows.

Run from the repository root: python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import pyarrow.parquet as pq
import pytest
from pyspark.sql import types as T

from data_pipeline_and_visualization_dashboard_spark import schemas
from perfbench import gen

ARROW_OF = {T.LongType: "int64", T.IntegerType: "int32",
            T.DoubleType: "double", T.StringType: "string",
            T.TimestampType: "timestamp[us]"}


def _bytes(path) -> bytes:
    return (path / "events.parquet").read_bytes()


def test_same_seed_gives_identical_bytes(tmp_path):
    for d, seed in (("a", 7), ("b", 7), ("c", 8)):
        gen.generate("dashboard", seed, str(tmp_path / d))
    assert _bytes(tmp_path / "a") == _bytes(tmp_path / "b")
    assert _bytes(tmp_path / "a") != _bytes(tmp_path / "c")


@pytest.mark.parametrize("workload", sorted(gen.EVENT_ROWS))
def test_events_have_the_engine_schema(tmp_path, workload):
    assert gen.generate(workload, 1, str(tmp_path)) == gen.EVENT_ROWS[workload]
    got = pq.read_schema(tmp_path / "events.parquet")
    assert got.names == [f.name for f in schemas.EVENTS.fields]
    assert [str(t) for t in got.types] == [
        ARROW_OF[type(f.dataType)] for f in schemas.EVENTS.fields]


def test_events_domains_and_dirty_rows(tmp_path):
    gen.generate("dashboard", 3, str(tmp_path))
    t = pq.read_table(tmp_path / "events.parquet").to_pandas()
    assert set(t.event_type) == set(gen.EVENT_CODES)
    assert t.ts.min().year == 2024 and t.ts.max().month == 1
    assert t.ts.is_monotonic_increasing
    assert t.props.str.fullmatch(r'\{"k": \d+\}').all()
    n_dirty = int(len(t) * gen.DIRTY_FRAC)
    assert (t.value <= 0).sum() >= n_dirty
    assert (t.value > 500).sum() >= n_dirty
