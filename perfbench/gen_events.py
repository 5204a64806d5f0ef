"""Seeded `events` table for the analytics workload.

Same schema and value domains as the repository's test data: January
2024 timestamps in ascending event_id order (TIMESTAMP(us), not UTC
adjusted), 5 event types, `users` user ids, exponential-ish values with
two decimals, and `{"k": N}` props. The same seed gives the same file.
"""
import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq


def write_events(path, seed, cfg):
    n = cfg["events_rows"]
    rng = np.random.default_rng(seed)
    start = np.datetime64("2024-01-01T00:00:00", "us").astype(np.int64)
    span = 30 * 24 * 3600 * 1_000_000
    ts = np.sort(rng.integers(0, span, n, dtype=np.int64)) + start
    types = np.array(cfg["event_types"], dtype=object)
    props = np.array([f'{{"k": {k}}}' for k in range(100)], dtype=object)
    table = pa.table({
        "event_id": pa.array(np.arange(n, dtype=np.int64)),
        "ts": pa.array(ts.astype("datetime64[us]"), type=pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, cfg["users"], n, dtype=np.int64)),
        "event_type": pa.array(types[rng.integers(0, len(types), n)], type=pa.string()),
        "value": pa.array(np.round(rng.exponential(50.0, n), 2)),
        "props": pa.array(props[rng.integers(0, len(props), n)], type=pa.string()),
    })
    pq.write_table(table, path, row_group_size=cfg["row_group_rows"])
