"""Seeded `events` generator with the shape of the shipped test data.

The table has the test-data schema (event_id, ts, user_id, event_type,
value, props): event ids in timestamp order over 30 days from
2024-01-01, users drawn uniformly, the five event types uniformly.
The same (seed, events, users) always writes the same table.

The link-graph derivation pads user ids to 6 digits and per-user
conversation indices to 4 (``lpad`` truncates wider values, so two ids
would silently collide); the generator refuses shapes that could reach
either width.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

EVENT_TYPES = ("error", "click", "view", "signup", "purchase")
MAX_USERS = 10**6
MAX_CONVS_PER_USER = 10**4
TURNS_PER_CONV = 16  # graph/derive.py TURNS_PER_CONV
T0_US = 1_704_067_200_000_000  # 2024-01-01T00:00:00Z
SPAN_US = 30 * 86_400 * 1_000_000


def events_table(seed: int, events: int, users: int) -> pa.Table:
    if not 0 < users <= MAX_USERS:
        raise ValueError(f"users must be in (0, {MAX_USERS}], got {users}")
    rng = np.random.default_rng(seed)
    user_id = rng.integers(0, users, events, dtype=np.int64)
    busiest = int(np.bincount(user_id).max())
    if busiest >= MAX_CONVS_PER_USER * TURNS_PER_CONV:
        raise ValueError(f"{busiest} events for one user overflow the conversation index")
    ts = T0_US + np.sort(rng.integers(0, SPAN_US, events, dtype=np.int64))
    kinds = np.array(EVENT_TYPES)[rng.integers(0, len(EVENT_TYPES), events)]
    value = np.round(rng.exponential(10.0, events), 2)
    props = [f'{{"k": {k}}}' for k in rng.integers(0, 100, events)]
    return pa.table(
        {
            "event_id": pa.array(np.arange(events, dtype=np.int64)),
            "ts": pa.array(ts, type=pa.timestamp("us")),
            "user_id": pa.array(user_id),
            "event_type": pa.array(kinds),
            "value": pa.array(value),
            "props": pa.array(props),
        }
    )


def write_events(dir_path: str, seed: int, events: int, users: int) -> str:
    """Write `<dir_path>/events.parquet`; return `dir_path` (the layout
    ``transcripts_from_events`` and the DuckDB oracle both read)."""
    os.makedirs(dir_path, exist_ok=True)
    pq.write_table(events_table(seed, events, users), os.path.join(dir_path, "events.parquet"))
    return dir_path
