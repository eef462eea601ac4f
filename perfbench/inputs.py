"""Seeded input generation for the CDC delivery benchmark.

The table *contents* are fixed (generated from ``CONTENT_SEED``, shaped like
the sf0.1 testdata: a 100k-event feed and the lineitem/orders/customer
snapshot tables). ``--seed`` only decides which file each row lands in,
the row order inside each file, and the order in which the stream source
sees the files (their mtimes). So one seed gives byte-identical files, and
every seed gives the same events and the same deliveries.
"""

from __future__ import annotations

import io
import os
from collections import Counter

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

CONTENT_SEED = 20240101
FEED_BASE_EVENTS = 100_000  # one sf0.1 events table
EVENT_TYPES = np.array(["signup", "purchase", "click", "view", "error"])
# feed.OP_CASE_SQL, restated so the count oracle does not share code
# with the program under test
OP_OF_TYPE = {"signup": "insert", "purchase": "insert", "click": "update",
              "view": "read", "error": "delete"}
SNAPSHOT_ROWS = {"lineitem": 600_000, "orders": 150_000, "customer": 15_000}
SNAPSHOT_FILES = {"lineitem": 8, "orders": 4, "customer": 2}
_MTIME0 = 1_700_000_000


def base_events(copies: int) -> pa.Table:
    """The sf0.1-shaped feed repeated ``copies`` times, each copy's
    event_ids shifted past the previous one's."""
    rng = np.random.default_rng(CONTENT_SEED)
    n = FEED_BASE_EVENTS
    secs = np.sort(rng.uniform(0, 30 * 86400, n))
    ts = np.datetime64("2024-01-01T00:00:00", "us") + (secs * 1e6).astype("timedelta64[us]")
    user_id = rng.integers(0, 1500, n)
    etype = EVENT_TYPES[rng.integers(0, len(EVENT_TYPES), n)]
    value = np.round(rng.exponential(50.0, n), 2)
    props = np.char.add(np.char.add('{"k": ', rng.integers(0, 100, n).astype(str)), "}")
    return pa.table({
        "event_id": pa.array(np.arange(n * copies, dtype=np.int64)),
        # TIMESTAMP(MICROS), as in the sf0.1 testdata's events.parquet
        "ts": pa.array(np.tile(ts, copies), pa.timestamp("us")),
        "user_id": pa.array(np.tile(user_id, copies)),
        "event_type": pa.array(np.tile(etype, copies)),
        "value": pa.array(np.tile(value, copies)),
        "props": pa.array(np.tile(props, copies)),
    })


def base_snapshot(table: str) -> pa.Table:
    rng = np.random.default_rng([CONTENT_SEED, list(SNAPSHOT_ROWS).index(table)])
    n = SNAPSHOT_ROWS[table]
    day0 = np.datetime64("1995-01-01T00:00:00", "us")

    def dates(k):
        return pa.array(day0 + rng.integers(0, 2500, k).astype("timedelta64[D]"), pa.timestamp("us"))

    if table == "lineitem":
        return pa.table({
            "l_orderkey": pa.array(rng.integers(0, 150_000, n)),
            "l_partkey": pa.array(rng.integers(0, 20_000, n)),
            "l_suppkey": pa.array(rng.integers(0, 1_000, n)),
            "l_linenumber": pa.array(rng.integers(1, 8, n).astype(np.int32)),
            "l_quantity": pa.array(rng.integers(1, 51, n).astype(np.float64)),
            "l_extendedprice": pa.array(np.round(rng.uniform(900, 105_000, n), 2)),
            "l_discount": pa.array(rng.integers(0, 11, n) / 100.0),
            "l_tax": pa.array(rng.integers(0, 9, n) / 100.0),
            "l_returnflag": pa.array(np.array(["A", "N", "R"])[rng.integers(0, 3, n)]),
            "l_linestatus": pa.array(np.array(["F", "O"])[rng.integers(0, 2, n)]),
            "l_shipdate": dates(n),
        })
    if table == "orders":
        prio = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])
        return pa.table({
            "o_orderkey": pa.array(np.arange(n, dtype=np.int64)),
            "o_custkey": pa.array(rng.integers(0, 15_000, n)),
            "o_orderstatus": pa.array(np.array(["F", "O", "P"])[rng.integers(0, 3, n)]),
            "o_totalprice": pa.array(np.round(rng.uniform(1_000, 500_000, n), 2)),
            "o_orderdate": dates(n),
            "o_orderpriority": pa.array(prio[rng.integers(0, 5, n)]),
        })
    seg = np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"])
    return pa.table({
        "c_custkey": pa.array(np.arange(n, dtype=np.int64)),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(n)]),
        "c_nationkey": pa.array(rng.integers(0, 25, n).astype(np.int32)),
        "c_acctbal": pa.array(np.round(rng.uniform(-999.99, 9_999.99, n), 2)),
        "c_mktsegment": pa.array(seg[rng.integers(0, 5, n)]),
    })


def split(table: pa.Table, n_files: int, seed: int, salt: int) -> list[pa.Table]:
    """Seeded row-to-file assignment and in-file order."""
    perm = np.random.default_rng([seed, salt]).permutation(table.num_rows)
    return [table.take(part) for part in np.array_split(perm, n_files)]


def _parquet_bytes(t: pa.Table) -> bytes:
    buf = io.BytesIO()
    pq.write_table(t, buf, compression="snappy")
    return buf.getvalue()


def write_dataset(parts: list[pa.Table], path: str) -> None:
    """One directory of part files; mtimes fix the order in which a file
    stream source lists them."""
    os.makedirs(path)
    for i, t in enumerate(parts):
        f = os.path.join(path, f"part-{i:05d}.parquet")
        with open(f, "wb") as fh:
            fh.write(_parquet_bytes(t))
        os.utime(f, (_MTIME0 + i, _MTIME0 + i))


def same_bytes(parts: list[pa.Table], path: str) -> bool:
    """True when ``path`` holds exactly the bytes ``parts`` would write."""
    names = sorted(os.listdir(path))
    if len(names) != len(parts):
        return False
    for name, t in zip(names, parts):
        with open(os.path.join(path, name), "rb") as fh:
            if fh.read() != _parquet_bytes(t):
                return False
    return True


def feed_counts(events: pa.Table, streams) -> tuple[int, Counter]:
    """Count oracle for a feed, from the generator's own arrays:
    (events, deliveries per destination) under ``streams``."""
    user = events.column("user_id").to_numpy()
    etype = events.column("event_type").to_numpy(zero_copy_only=False)
    by_key = Counter(zip((f"public.t{u}" for u in user % 4),
                         (OP_OF_TYPE[e] for e in etype)))
    per_dest: Counter = Counter()
    for (resource, op), n in by_key.items():
        for s in streams:
            if s.resource == resource and op in s.operations:
                per_dest[s.destination] += n
    return events.num_rows, per_dest
