"""Seeded benchmark inputs and the logical-bytes measure.

The ``tables`` and ``lookup`` workloads need TPC-H-like ``lineitem``,
``events`` and ``customer`` tables. The benchmark may read only inside its
own checkout, so it generates them here from ``--seed`` with the column
names, types and value ranges of the repository's sf0.1 test tables, and
writes each as a single-row-group parquet file (the layout that sends the
roundtrip queries through ``sources.parallel_scan``).

Logical bytes are counted from the source with pyarrow — UTF-8 bytes per
string, the fixed width otherwise — and never from the engine's own
``raw_bytes``, so an engine change cannot move the denominator of a ratio.
"""

from __future__ import annotations

import datetime
import os

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

LINEITEM_ROWS = 300_000
EVENTS_ROWS = 100_000
CUSTOMER_ROWS = 15_000

EVENTS_START = datetime.datetime(2024, 1, 1)
EVENTS_SPAN_DAYS = 30
EVENT_TYPES = ["click", "view", "purchase", "signup", "error"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]


def logical_bytes(table: pa.Table) -> int:
    """UTF-8 (or raw) bytes of every string/binary value plus the fixed
    width of every other value; nulls count zero."""
    total = 0
    for col in table.columns:
        typ = col.type
        if pa.types.is_string(typ) or pa.types.is_large_string(typ) \
                or pa.types.is_binary(typ) or pa.types.is_large_binary(typ):
            total += pc.sum(pc.binary_length(col)).as_py() or 0
        else:
            total += (typ.bit_width // 8) * (len(col) - col.null_count)
    return int(total)


def _cents(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def lineitem(seed: int, n: int = LINEITEM_ROWS) -> pa.Table:
    rng = np.random.default_rng([seed, 1])
    ship = np.datetime64("1995-01-02") + rng.integers(0, 2499, n).astype("timedelta64[D]")
    return pa.table({
        "l_orderkey": pa.array(rng.integers(0, n // 4, n), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, 20_000, n), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, 1_000, n), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n), pa.int32()),
        "l_quantity": pa.array(rng.integers(1, 51, n).astype(np.float64)),
        "l_extendedprice": pa.array(_cents(rng, 900.0, 105_000.0, n)),
        "l_discount": pa.array(rng.integers(0, 11, n) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, n) / 100.0),
        "l_returnflag": pa.array(rng.choice(["A", "N", "R"], n).tolist(), pa.string()),
        "l_linestatus": pa.array(rng.choice(["F", "O"], n).tolist(), pa.string()),
        "l_shipdate": pa.array(ship.astype("datetime64[us]"), pa.timestamp("us")),
    })


def events(seed: int, n: int = EVENTS_ROWS) -> pa.Table:
    """Time-ordered event stream; ``value`` is a 2-decimal double with a
    long upper tail, so a high threshold selects a handful of rows."""
    rng = np.random.default_rng([seed, 2])
    span_us = EVENTS_SPAN_DAYS * 86_400_000_000
    offs = np.sort(rng.integers(0, span_us, n))
    ts = np.datetime64(EVENTS_START, "us") + offs.astype("timedelta64[us]")
    return pa.table({
        "event_id": pa.array(np.arange(n), pa.int64()),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, 1_500, n), pa.int64()),
        "event_type": pa.array(rng.choice(EVENT_TYPES, n).tolist(), pa.string()),
        "value": pa.array(np.round(rng.exponential(60.0, n), 2)),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n)], pa.string()),
    })


def customer(seed: int, n: int = CUSTOMER_ROWS) -> pa.Table:
    rng = np.random.default_rng([seed, 3])
    return pa.table({
        "c_custkey": pa.array(np.arange(n), pa.int64()),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(n)], pa.string()),
        "c_nationkey": pa.array(rng.integers(0, 25, n), pa.int32()),
        "c_acctbal": pa.array(_cents(rng, -999.99, 9999.99, n)),
        "c_mktsegment": pa.array(rng.choice(SEGMENTS, n).tolist(), pa.string()),
    })


GENERATORS = {"lineitem": lineitem, "events": events, "customer": customer}


def write_single_row_group(table: pa.Table, path: str) -> None:
    pq.write_table(table, path, row_group_size=max(1, table.num_rows))


def write_parts(table: pa.Table, path: str, parts: int) -> None:
    """``table`` as ``parts`` files of consecutive rows under ``path``: a
    copy Spark scans in parallel, where the single-row-group file scans as
    one task."""
    os.makedirs(path, exist_ok=True)
    step = -(-table.num_rows // parts)
    for k in range(parts):
        pq.write_table(table.slice(k * step, step), f"{path}/part-{k:05d}.parquet")
