"""Seeded generator of the ``flat`` workload's events table.  The program
sees only the parquet files it writes; the same seed always writes the same
rows."""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

T0_US = 1_704_067_200 * 1_000_000  # 2024-01-01T00:00:00Z
EVENT_TYPES = np.array(["click", "view", "signup", "purchase", "error"])
FILES = 8  # a table is a directory of this many parquet files


def _write(table: pa.Table, path: str) -> None:
    """Write ``table`` as ``FILES`` parquet files under the directory
    ``path``: Spark plans a small single file as one scan task, which
    would leave all but one core idle."""
    os.makedirs(path, exist_ok=True)
    step = -(-table.num_rows // FILES)
    for i in range(FILES):
        pq.write_table(table.slice(i * step, step),
                       os.path.join(path, f"part-{i:05d}.parquet"))


def write_events(path: str, seed: int, n_events: int, n_users: int) -> None:
    """An ``events`` table with the schema and event mix of the engine's
    test data: ids in ts order over 30 days, users uniform, the five event
    types uniform, ``value`` exponential with mean 50 in cents,
    ``props`` = ``{"k": 0..99}``."""
    rng = np.random.default_rng([seed, 1])
    ts = np.sort(rng.integers(0, 30 * 86_400 * 1_000_000, n_events)) + T0_US
    k = rng.integers(0, 100, n_events).astype(str)
    table = pa.table(
        {
            "event_id": np.arange(n_events, dtype=np.int64),
            "ts": pa.array(ts, pa.timestamp("us")),
            "user_id": rng.integers(0, n_users, n_events, dtype=np.int64),
            "event_type": EVENT_TYPES[rng.integers(0, 5, n_events)],
            "value": np.round(rng.exponential(50.0, n_events), 2),
            "props": np.char.add(np.char.add('{"k": ', k), "}"),
        }
    )
    _write(table, path)
