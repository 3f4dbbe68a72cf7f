"""Parallel re-reader for unsplittable parquet inputs (guide §2.5 / §6).

Spark parallelizes a parquet scan at ROW-GROUP granularity: a file written
as one giant row group (the testdata layout — and a common hazard with
writers tuned for maximum row-group size) scans as ONE task no matter what
``spark.sql.files.maxPartitionBytes`` says, and every narrow stage rooted
on the scan runs on one core. Redistributing after the read helps the
downstream stages but still pays a single-task scan plus a full shuffle of
every byte (measured on the 6M-row lineitem at local[32]: 2.2 s single-task
scan + 2.3 s exchange).

This source instead assigns each task a ROW RANGE of the file and lets
every task re-read the file with pyarrow, yielding only its slice. The
columnar pyarrow read of the whole 6M-row file costs ~0.5-0.8 s
single-thread — a fraction of Spark's row-materializing scan — so N
parallel tasks re-reading beats one task reading once and shuffling:
no exchange at all, and the output DataFrame is already N-way partitioned
for whatever mapInArrow work follows. The trade is deliberate, and it is
the standard fix for unsplittable inputs (one gzip file, one giant row
group): duplicate cheap columnar decode to buy N-way parallelism and zero
shuffle. For files with ≥ N row groups Spark's native scan is already
parallel — callers should use it; ``worth_it`` answers that question from
footer metadata only.

The slice source is a JVM range, ``spark.range(0, k, 1, k)``: one id per
partition, and each task looks up its ``(path, start, n)`` slice by id in
the encode closure. The plan is ``Range → MapInArrow``, so each task runs
exactly one Python worker, the one that reads and encodes. A Python RDD
of the assignments (``parallelize``) would start a second Python worker
per task only to pickle a three-field tuple for the JVM to unpickle.

Row-set semantics: the union of slices is exactly the file's rows
(pytest-pinned), each slice yielded in file order.
"""

from __future__ import annotations

import os
from collections.abc import Iterator

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession

# Default cap on slices per file. The slice count k is the task-slot
# count (``defaultParallelism``), capped here. Slice i must decode every
# page before its range (no page index), so the k slices together read
# (k+1)/2 files' worth of rows, while wall time is floored by the LAST
# slice's full read — past a modest k the extra parallelism only burns
# cores (and burst credits). Measured on the 6M-row lineitem roundtrip at
# local[32]: k=32 → 1.6-6.3 s (unstable), k=16 → 1.37-1.40 s,
# k=8 → 1.74-1.89 s.
_MAX_SLICES_PER_FILE = 16


def _file_rows(path: str) -> int:
    import pyarrow.parquet as pq

    return pq.ParquetFile(path).metadata.num_rows


def worth_it(path: str, parallelism: int) -> bool:
    """True when the file has materially fewer row groups than cores —
    i.e. Spark's native row-group-granular scan cannot use the cluster.

    False, without reading anything, when ``path`` is not a local regular
    file: a directory of part files already scans in parallel, and a URI
    belongs to Spark's own filesystem layer — both keep the native path.
    A local file whose footer cannot be read raises, naming the path,
    instead of silently picking the native scan."""
    import pyarrow.parquet as pq

    if not os.path.isfile(path):
        return False
    try:
        row_groups = pq.ParquetFile(path).metadata.num_row_groups
    except (OSError, pa.ArrowException) as e:
        raise ValueError(f"cannot read the parquet footer of {path}: {e}") from e
    return row_groups * 2 < parallelism


def _slice_assignments(
    spark: SparkSession, path: str, n_slices: int | None, min_rows: int = 1
):
    """Row-range assignments. ``min_rows`` floors the slice size so a
    small file never fans out into more tasks than it has work for — a
    5000-row table split 32 ways costs more in task/python-worker
    round-trips than the parallelism buys (measured 0.54 s → 1.03 s on
    the sf0.1 documents roundtrip before the floor)."""
    n = n_slices or min(
        spark.sparkContext.defaultParallelism, _MAX_SLICES_PER_FILE
    )
    total = _file_rows(path)
    if total == 0:
        # one empty slice: the scan still yields its (empty) typed result
        return [(path, 0, 0)]
    n = max(1, min(n, total, -(-total // max(min_rows, 1))))
    per = -(-total // n)  # ceil
    return [
        (path, start, min(per, total - start))
        for start in range(0, total, per)
    ]


def _read_slices(slices, names, target, batch_rows) -> Iterator[pa.RecordBatch]:
    import pyarrow.parquet as pq

    for fpath, start, want in slices:
        end = start + want
        pf = pq.ParquetFile(fpath)
        pos = 0
        # sequential batch iteration: parquet pages before the slice must
        # be decompressed anyway (no page index), but the iterator stops
        # as soon as the slice is exhausted
        for rb in pf.iter_batches(
            batch_size=batch_rows, columns=names, use_threads=False
        ):
            lo = max(start, pos)
            hi = min(end, pos + rb.num_rows)
            if hi > lo:
                piece = rb.slice(lo - pos, hi - lo)
                cols = []
                for i, field in enumerate(target):
                    col = piece.column(i)
                    if col.type != field.type:
                        col = col.cast(field.type)
                    cols.append(col)
                yield pa.RecordBatch.from_arrays(cols, schema=target)
            pos += rb.num_rows
            if pos >= end:
                break


def parallel_scan_encode(
    spark: SparkSession,
    path: str,
    schema,
    chunk_rows: int,
    chunk_bytes: int | None = None,
    n_slices: int | None = None,
    batch_rows: int = 65536,
) -> DataFrame:
    """Fused read+encode over row-range slices: each task reads its slice
    with pyarrow and runs the ungrouped encode kernel on it IN THE SAME
    python pass, yielding chunks-table rows directly.

    The fusion matters as much as the parallelism: chaining a scan
    mapInArrow into ``encode_table``'s mapInArrow moves the full logical
    table python → JVM → python between the two operators (Spark does not
    fuse adjacent python map stages into one worker pass) — measured
    ~4.8 s of pure transfer on the 254 MB lineitem table at local[32].
    Here only the encoded chunks (~5× smaller) ever cross into the JVM.
    Frames are byte-identical to ``encode_table`` over the same slices
    (both call operators.encode.encode_batches)."""
    from ..operators.encode import (
        CHUNKS_DDL,
        DEFAULT_CHUNK_BYTES,
        encode_batches,
    )
    from pyspark.sql.pandas.types import to_arrow_schema

    if chunk_bytes is None:
        chunk_bytes = DEFAULT_CHUNK_BYTES
    target = to_arrow_schema(schema)
    names = [f.name for f in schema.fields]
    # slices never smaller than one encode chunk: finer slicing only
    # multiplies per-chunk overhead without adding useful parallelism
    assignments = _slice_assignments(spark, path, n_slices, min_rows=chunk_rows)

    def read_encode(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for b in batches:
            slices = [assignments[i] for i in b.column(0).to_pylist()]
            yield from encode_batches(
                _read_slices(slices, names, target, batch_rows),
                chunk_rows,
                chunk_bytes,
            )

    # slice i is partition i: the JVM range hands each task its slice
    # index, and the slices themselves ride in the closure
    k = len(assignments)
    return spark.range(0, k, 1, k).mapInArrow(read_encode, CHUNKS_DDL)
