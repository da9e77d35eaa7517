"""Seeded synthetic input in the shape of the toolkit's sf fixtures.

Every gate the benchmark runs reads one table, ``events``: the source of
the derived depth-5 book and of the streaming tapes. This module writes
it from a seed, at the row count a workload asks for, with the schema
and value distributions of the sf fixtures, so the same seed always
yields the same bytes and every seed yields the same row count. The
properties the gates and their oracles rely on are kept:

- ``event_id`` is ``0..n-1`` and ``ts`` strictly increases with it over
  30 days, so ``(ts, event_id)`` is a total order and ``ts`` is unique;
- ``user_id`` is never NULL and takes 15 values per 1,000 events, as in
  sf0.01 (150) and sf0.1 (1,500). The book's symbol is ``user_id % 4``,
  so each of the 4 symbols holds about a quarter of the rows; that count
  (``plans.base.book_rows_per_key``) is what steers the window gates'
  dispatch;
- ``value`` has two decimals (an exponential with mean 50), so book
  prices are sums of binary-exact steps.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

_EVENT_TYPES = ["click", "view", "purchase", "signup", "error"]


def _events(rng: np.random.Generator, n: int) -> pa.Table:
    start_us = 1_704_067_200_000_000  # 2024-01-01T00:00:00Z
    span_us = 30 * 86_400 * 1_000_000
    ts = np.sort(rng.integers(0, span_us, size=n))
    ts = np.maximum.accumulate(ts - np.arange(n)) + np.arange(n) + start_us
    value = np.round(rng.exponential(50.0, size=n), 2)
    return pa.table(
        {
            "event_id": pa.array(np.arange(n, dtype=np.int64)),
            "ts": pa.array(ts, type=pa.timestamp("us")),
            "user_id": pa.array(rng.integers(0, n * 15 // 1000, size=n, dtype=np.int64)),
            "event_type": pa.array(
                [_EVENT_TYPES[i] for i in rng.integers(0, 5, size=n)]
            ),
            "value": pa.array(value, type=pa.float64()),
            "props": pa.array(
                ['{"k": %d}' % k for k in rng.integers(0, 100, size=n)]
            ),
        }
    )


def write_fixture(out_dir: str, seed: int, n_events: int) -> str:
    """Write ``events.parquet`` with ``n_events`` rows for ``seed`` into
    ``out_dir`` (created) and return ``out_dir``."""
    os.makedirs(out_dir, exist_ok=True)
    table = _events(np.random.default_rng(seed), n_events)
    pq.write_table(table, os.path.join(out_dir, "events.parquet"))
    return out_dir
