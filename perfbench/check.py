"""Benchmark-owned correctness checks and statistics.

``checksum`` is an order-independent multiset fingerprint computed with
Spark built-ins only: the row count plus the exact decimal sum of the
per-row ``xxhash64`` over all columns. Source and decoded output are
fingerprinted the same way, so the benchmark checks the engine's decode
without trusting any engine code.
"""

from __future__ import annotations

import math
import os

MIN_BEYOND = 10  # samples a reported percentile needs above it


def checksum(df) -> tuple[int, int]:
    """``(rows, sum of xxhash64(all columns))`` of a DataFrame."""
    from pyspark.sql import functions as F

    row = df.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.xxhash64(*df.columns).cast("decimal(38,0)")).alias("h"),
    ).first()
    return int(row["n"]), int(row["h"] or 0)


def percentile(samples: list[float], q: float) -> float:
    """Nearest-rank ``q``-th percentile. Refuses (ValueError) when fewer
    than ``MIN_BEYOND`` samples lie above the chosen rank, because such a
    tail estimate rests on too few observations to compare runs."""
    if not 0 < q < 100:
        raise ValueError(f"percentile must be in (0, 100), got {q}")
    n = len(samples)
    rank = max(1, math.ceil(q / 100 * n))
    if n - rank < MIN_BEYOND:
        raise ValueError(
            f"p{q:g} of {n} samples leaves {n - rank} beyond it; "
            f"need at least {MIN_BEYOND}"
        )
    return sorted(samples)[rank - 1]


def parquet_bytes(path: str) -> int:
    """Bytes of the parquet data files under ``path`` (the files a reader
    would open; Spark's ``_SUCCESS`` and ``.crc`` side files excluded)."""
    total = 0
    for root, _dirs, names in os.walk(path):
        total += sum(
            os.path.getsize(os.path.join(root, f))
            for f in names if f.endswith(".parquet")
        )
    return total


def write_reference(df, path: str) -> int:
    """Write ``df`` the way the reference stores it — GZIP parquet with
    dictionary encoding off — and return the data bytes on disk."""
    (df.write.mode("overwrite")
        .option("compression", "gzip")
        .option("parquet.enable.dictionary", "false")
        .parquet(path))
    return parquet_bytes(path)
