"""Seeded input generator for the benchmark (numpy + pyarrow, no Spark).

Writes OUT_DIR/events.parquet, one file with the column names, types and
value domains of the engine's sf0.1 events table. The same seed gives
byte-identical files. Runs as its own process so that its memory
never counts toward the program's peak RSS:

    python3 perfbench/gen.py WORKLOAD SEED OUT_DIR
"""

from __future__ import annotations

import argparse
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

EVENT_CODES = ["click", "view", "purchase", "signup", "error"]
JAN_2024_US = 1_704_067_200_000_000      # 2024-01-01T00:00:00 in µs
DAY_US = 86_400_000_000

# rows of the events table per workload
EVENT_ROWS = {"dashboard": 100_000, "events_etl": 1_000_000}
DIRTY_FRAC = 0.001   # share of events rows with value <= 0, and again > 500
# row groups of this many rows, so a scan of the 1M-row file splits
# across cores; the 100,000-row file is one row group, as sf0.1's is
ROW_GROUP = 131_072


def events_table(rng: np.random.Generator, n: int) -> pa.Table:
    """Jan-2024 event stream ordered by ts, five event codes, exponential
    values with dirty rows that the cleaning rules reject."""
    ts = np.sort(JAN_2024_US + rng.integers(0, 30 * DAY_US, n))
    value = np.round(rng.exponential(50.0, n), 2)
    n_dirty = max(1, int(n * DIRTY_FRAC))
    dirty = rng.choice(n, 2 * n_dirty, replace=False)
    value[dirty[:n_dirty]] = -np.round(rng.uniform(0.0, 50.0, n_dirty), 2)
    value[dirty[n_dirty:]] = np.round(rng.uniform(500.01, 1000.0, n_dirty), 2)
    k = rng.integers(0, 100, n)
    return pa.table({
        "event_id": pa.array(np.arange(n, dtype=np.int64)),
        "ts": pa.array(ts, type=pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, 1500, n, dtype=np.int64)),
        "event_type": pa.array(np.array(EVENT_CODES)[rng.integers(0, 5, n)]),
        "value": pa.array(value),
        "props": pa.array([f'{{"k": {int(x)}}}' for x in k]),
    })


def generate(workload: str, seed: int, out_dir: str) -> int:
    """Write the workload's `events.parquet`; returns its row count."""
    table = events_table(np.random.default_rng(seed), EVENT_ROWS[workload])
    os.makedirs(out_dir, exist_ok=True)
    pq.write_table(table, os.path.join(out_dir, "events.parquet"),
                   compression="snappy", row_group_size=ROW_GROUP)
    return table.num_rows


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("workload", choices=sorted(EVENT_ROWS))
    ap.add_argument("seed", type=int)
    ap.add_argument("out_dir")
    args = ap.parse_args()
    generate(args.workload, args.seed, args.out_dir)


if __name__ == "__main__":
    main()
