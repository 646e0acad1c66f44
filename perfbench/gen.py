"""Seeded events-table generator.

The table has the corpus ``events`` schema (``schemas.EVENTS``): events
are time-ordered over 30 days from 2024-01-01, ``user_id`` follows a
zipf(s=1.0) law over ``users`` ids, the five event types are uniform and
``props`` is ``{"k": 0..99}``. The same arguments always give the same
bytes.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

EVENT_TYPES = ("view", "click", "purchase", "signup", "error")
START_US = 1_704_067_200_000_000  # 2024-01-01T00:00:00Z
SPAN_US = 30 * 86_400 * 1_000_000


def events_table(events: int, users: int, seed: int) -> pa.Table:
    rng = np.random.default_rng(seed)
    ts = np.sort(rng.integers(0, SPAN_US, events)) + START_US
    weights = 1.0 / np.arange(1, users + 1)
    weights /= weights.sum()
    # id = zipf rank - 1 for every seed: the hot keys, and so the skewed
    # join and window tasks, land in the same hash partitions each run
    user_id = rng.choice(users, events, p=weights).astype(np.int64)
    event_type = np.asarray(EVENT_TYPES)[rng.integers(0, len(EVENT_TYPES), events)]
    value = np.round(rng.uniform(0.0, 500.0, events), 2)
    k = rng.integers(0, 100, events).astype(str)
    props = np.char.add(np.char.add('{"k": ', k), "}")
    return pa.table(
        {
            "event_id": pa.array(np.arange(events, dtype=np.int64)),
            "ts": pa.array(ts, pa.timestamp("us")),
            "user_id": pa.array(user_id),
            "event_type": pa.array(event_type),
            "value": pa.array(value),
            "props": pa.array(props),
        }
    )


def write_events(sf_dir: str, events: int, users: int, seed: int) -> str:
    """Write ``<sf_dir>/events.parquet`` as one file and return its path."""
    os.makedirs(sf_dir, exist_ok=True)
    path = os.path.join(sf_dir, "events.parquet")
    pq.write_table(events_table(events, users, seed), path)
    return path
