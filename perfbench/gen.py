#!/usr/bin/env python3
"""Seeded generator for the benchmark's input: the `events` table.

Every query and streaming twin the benchmark runs reads only `events`.
The generator writes it as one parquet file with the schema and marginal
distributions of graft's reference test data at the same scale factor
(sf0.1: 100,000 events from 1,500 users over 30 days), drawn from a numpy
generator seeded with the seed, so one seed always gives byte-identical
input and another seed statistically equivalent input.

Usage: python3 perfbench/gen.py <out_dir> <seed> [scale]   (scale: 0.1)
"""
import datetime as dt
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
EPOCH_US = int(dt.datetime(2024, 1, 1, tzinfo=dt.timezone.utc).timestamp()) * 1_000_000
DAY_US = 86_400_000_000


def events(seed, scale=0.1):
    rng = np.random.default_rng(seed)
    n = int(1_000_000 * scale)
    # events arrive in time order and are numbered in that order
    ts = np.sort(rng.integers(0, 30 * DAY_US, n))
    return pa.table({
        "event_id": np.arange(n, dtype=np.int64),
        "ts": pa.array(EPOCH_US + ts, type=pa.timestamp("us")),
        "user_id": rng.integers(0, max(int(15_000 * scale), 5), n, dtype=np.int64),
        "event_type": rng.choice(EVENT_TYPES, n),
        "value": np.round(rng.exponential(50.0, n), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]})


def write(out_dir, seed, scale=0.1):
    """Write the input tables to `out_dir`; return {table: row count}."""
    os.makedirs(out_dir, exist_ok=True)
    t = events(seed, scale)
    tmp = os.path.join(out_dir, ".events.parquet.tmp")
    pq.write_table(t, tmp)
    os.replace(tmp, os.path.join(out_dir, "events.parquet"))
    return {"events": t.num_rows}


if __name__ == "__main__":
    scale = float(sys.argv[3]) if len(sys.argv) > 3 else 0.1
    print(write(sys.argv[1], int(sys.argv[2]), scale))
