"""Seeded input table for the benchmark.

The engine reads its fixture tables from a directory of parquet files
(``catalog.load_table``). The benchmark writes its own ``events`` table
from the ``--seed`` it is given, shaped like the engine's sf fixture:
``rows`` ticks spread uniformly over 30 days, ordered by ``event_id``;
``users`` coins per exchange, five exchanges; prices exponential with
mean 50, rounded to cents (so exact zeros occur).

The same seed always gives a byte-identical table.
"""

from __future__ import annotations

import os
from datetime import datetime

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

EXCHANGES = ("signup", "click", "error", "view", "purchase")
EPOCH_US = int(datetime(2024, 1, 1).timestamp() * 1_000_000)
DAYS = 30


def events(seed: int, rows: int, users: int) -> pa.Table:
    rng = np.random.default_rng([seed, 1])
    ts = np.sort(rng.integers(0, DAYS * 86_400_000_000, rows)) + EPOCH_US
    return pa.table(
        {
            "event_id": pa.array(np.arange(rows, dtype=np.int64)),
            "ts": pa.array(ts, type=pa.timestamp("us")),
            "user_id": pa.array(rng.integers(0, users, rows, dtype=np.int64)),
            "event_type": pa.array(np.array(EXCHANGES)[rng.integers(0, 5, rows)]),
            "value": pa.array(np.round(rng.exponential(50.0, rows), 2)),
            "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, rows)]),
        }
    )


def write_events(out_dir: str, seed: int, sf: float) -> int:
    """Write ``events`` at scale ``sf`` (sf0.1 = 100k ticks over 1500
    users) and return its row count."""
    os.makedirs(out_dir, exist_ok=True)
    table = events(seed, int(1_000_000 * sf), max(1, int(15_000 * sf)))
    pq.write_table(table, os.path.join(out_dir, "events.parquet"))
    return table.num_rows
