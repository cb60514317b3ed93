"""Seeded input generator for the benchmark.

One tick generator feeds both csp modes: ``tick_replay`` reads it as an
``events`` table (simulation), ``realtime_ticks`` receives the same kind
of ticks as parquet drops into a landing directory (realtime).

The ticks follow the schema and value domains of the repository's
``events.parquet`` test table (``event_id``, ``ts``, ``user_id``,
``event_type``, ``value``, ``props``) with two deliberate differences:
keys are Zipf-skewed rather than uniform, so the slowest per-key task
sets the time, and ``event_id`` doubles as the csp cycle sequence.  A
tick's ``ts`` is its creation stamp: ticks are strictly time-ordered
globally and hence per key.  The same seed always gives the same ticks.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

EVENT_TYPES = ("click", "error", "purchase", "signup", "view")

EVENTS_SCHEMA = pa.schema([
    ("event_id", pa.int64()),
    ("ts", pa.timestamp("us")),
    ("user_id", pa.int64()),
    ("event_type", pa.string()),
    ("value", pa.float64()),
    ("props", pa.string()),
])

#: Spark DDL of EVENTS_SCHEMA, for streaming readers that need a schema
EVENTS_DDL = ("event_id long, ts timestamp, user_id long, event_type string, "
              "value double, props string")

# 2024-01-01T00:00:00Z in microseconds, the start of the test table
START_US = 1_704_067_200_000_000


def ticks(seed: int, n: int, n_keys: int, *, zipf_a: float = 1.1,
          span_s: float = 30 * 86400.0, first_id: int = 0,
          start_us: int = START_US) -> pa.Table:
    """``n`` ticks over ``span_s`` seconds from ``start_us``.

    ``user_id`` ranks follow a Zipf law with exponent ``zipf_a`` over
    ``n_keys`` keys (rank 1 the hottest); the rank-to-id map is a seeded
    permutation so the hot key is not always id 0.  ``value`` is
    exponential with mean 50 at cent precision and ``props`` a small
    JSON object, as in the test table.
    """
    if n < 1 or n_keys < 1:
        raise ValueError("need n >= 1 and n_keys >= 1")
    rng = np.random.default_rng(seed)
    weights = 1.0 / np.arange(1, n_keys + 1) ** zipf_a
    ranks = rng.choice(n_keys, size=n, p=weights / weights.sum())
    user_id = rng.permutation(n_keys)[ranks].astype(np.int64)
    span_us = int(span_s * 1e6)
    if span_us < n:
        raise ValueError("span too short for strictly increasing stamps")
    # sorted draws plus a ramp make the stamps strictly increasing
    offs = np.sort(rng.integers(0, span_us - n + 1, size=n)) + np.arange(n)
    ts = (start_us + offs).astype("datetime64[us]")
    event_type = np.asarray(EVENT_TYPES, dtype=object)[
        rng.integers(0, len(EVENT_TYPES), size=n)]
    value = np.round(rng.exponential(50.0, size=n), 2)
    props = np.char.add(np.char.add('{"k": ', rng.integers(0, 100, size=n)
                                    .astype(str)), "}").astype(object)
    return pa.table({
        "event_id": np.arange(first_id, first_id + n, dtype=np.int64),
        "ts": ts,
        "user_id": user_id,
        "event_type": event_type,
        "value": value,
        "props": props,
    }, schema=EVENTS_SCHEMA)


def write_events(table: pa.Table, path: str, n_files: int = 1) -> None:
    """Write ``table`` as ``n_files`` parquet files (contiguous slices,
    so each file stays time-ordered) under directory ``path``, or as the
    single file ``path`` when ``n_files`` is 1 and ``path`` ends in
    ``.parquet``."""
    import os

    if n_files == 1 and path.endswith(".parquet"):
        pq.write_table(table, path)
        return
    os.makedirs(path, exist_ok=True)
    bounds = np.linspace(0, table.num_rows, n_files + 1).astype(int)
    for i in range(n_files):
        pq.write_table(table.slice(bounds[i], bounds[i + 1] - bounds[i]),
                       os.path.join(path, f"part-{i:05d}.parquet"))
