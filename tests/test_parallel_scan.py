"""Focused tests for the r8 optimization internals: the parallel
re-reader / fused read+encode source (sources.parallel_scan) and the
vectorized cosine_topk fast path (r8 optimization round)."""

import os
import re

import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from parquet2csv_spark.functions import similarity as sim
from parquet2csv_spark.operators import decode_table, encode_table
from parquet2csv_spark.sources.parallel_scan import (
    _slice_assignments,
    parallel_scan_encode,
    worth_it,
)
from parquet2csv_spark.sources.schema_io import parquet_schema

SF = "/root/testdata/sf0.01"


@pytest.fixture(scope="module")
def spark():
    from parquet2csv_spark.session import get_spark

    return get_spark(cpus=4, app="test-parallel-scan")


def _norm_rows(df):
    cols = sorted(df.columns)
    return sorted(tuple(map(repr, r)) for r in df.select(*cols).collect())


@pytest.mark.parametrize("table", ["lineitem", "events", "documents"])
def test_parallel_scan_rows_equal_native_scan(spark, table):
    path = f"{SF}/{table}.parquet"
    native = spark.read.parquet(path)
    total = pq.ParquetFile(path).metadata.num_rows
    # chunk_rows floors the slice size: at total // 7 the file gives 7 slices
    chunks = parallel_scan_encode(spark, path, native.schema,
                                  chunk_rows=total // 7, n_slices=7)
    # every slice is its own partition; union of slices == the file
    assert chunks.rdd.getNumPartitions() == 7
    assert _norm_rows(decode_table(chunks, native.schema)) == _norm_rows(native)


def test_parallel_scan_slices_cover_exactly(spark):
    path = f"{SF}/lineitem.parquet"
    native = spark.read.parquet(path)
    total = pq.ParquetFile(path).metadata.num_rows
    slices = _slice_assignments(spark, path, 5)
    assert len(slices) == 5
    # contiguous, non-empty ranges from row 0 to the last row
    assert [s for _, s, _ in slices] == \
        [sum(n for _, _, n in slices[:i]) for i in range(5)]
    assert all(n > 0 for _, _, n in slices)
    assert sum(n for _, _, n in slices) == total
    chunks = parallel_scan_encode(spark, path, native.schema, chunk_rows=4096,
                                  n_slices=5)
    # partition i encodes exactly slice i's rows
    per_part = [sum(r["n_rows"] for r in p)
                for p in chunks.select("n_rows").rdd.glom().collect()]
    assert per_part == [n for _, _, n in slices]
    assert decode_table(chunks, native.schema).count() == total


def test_parallel_scan_encode_plan_is_range_then_map_in_arrow(spark):
    """The slice source is a JVM range with one id per slice: the executed
    plan is ``MapInArrow`` directly over ``Range (0, k, splits=k)``, with
    no Python RDD (``ExistingRDD``) under it."""
    path = f"{SF}/events.parquet"
    src = spark.read.parquet(path)
    k = len(_slice_assignments(spark, path, 6, min_rows=1024))
    chunks = parallel_scan_encode(spark, path, src.schema, chunk_rows=1024,
                                  n_slices=6)
    chunks.collect()
    plan = chunks._jdf.queryExecution().executedPlan().toString()
    assert "ExistingRDD" not in plan, plan
    assert re.search(
        rf"MapInArrow read_encode.*\n\+- (\*\(\d+\) )?"
        rf"Range \(0, {k}, step=1, splits={k}\)", plan), plan
    assert chunks.rdd.getNumPartitions() == k


def test_parallel_scan_encode_roundtrips_bit_identical(spark):
    path = f"{SF}/events.parquet"
    src = spark.read.parquet(path)
    chunks = parallel_scan_encode(spark, path, src.schema, chunk_rows=2048,
                                  n_slices=6)
    dec = decode_table(chunks, src.schema)
    assert _norm_rows(dec) == _norm_rows(src)


def test_parallel_scan_encode_frames_match_encode_table(spark):
    """Fused read+encode must produce the same frames encode_table would
    for the same slice boundaries (both run encode_batches): with ONE
    slice, chunk ids (sha1 of frames) must match encode_table over the
    single-partition native scan."""
    path = f"{SF}/documents.parquet"
    src = spark.read.parquet(path)
    fused = parallel_scan_encode(spark, path, src.schema, chunk_rows=16384,
                                 n_slices=1)
    native = encode_table(src, chunk_rows=16384)
    assert sorted(r["chunk_id"] for r in fused.select("chunk_id").collect()) == \
        sorted(r["chunk_id"] for r in native.select("chunk_id").collect())


def test_worth_it_row_group_gate():
    # testdata files are single-row-group: worth re-reading at any real width
    assert worth_it(f"{SF}/lineitem.parquet", 8)
    assert not worth_it(f"{SF}/lineitem.parquet", 2)


def test_cosine_topk_fast_path_equals_crossjoin(spark):
    e = spark.read.parquet(f"{SF}/embeddings.parquet")
    q = e.filter(F.col("vec_id") < 8)
    fast = sim.cosine_topk(e, q, k=5).collect()
    slow = sim._cosine_topk_crossjoin(e, q, k=5).collect()
    key = lambda r: (r["q_id"], r["rank"])  # noqa: E731
    assert sorted(map(tuple, fast), key=lambda t: (t[0], t[1])) == \
        sorted(map(tuple, slow), key=lambda t: (t[0], t[1]))


def test_cosine_topk_null_vector_rows_match_crossjoin(spark):
    rows = [(0, [1.0, 0.0]), (1, [0.5, 0.5]), (2, None), (3, [0.0, 1.0])]
    df = spark.createDataFrame(rows, "vec_id int, embedding array<float>")
    q = df.filter(F.col("vec_id") < 2)
    fast = sim.cosine_topk(df, q, k=3).collect()
    slow = sim._cosine_topk_crossjoin(df, q, k=3).collect()
    assert sorted(map(tuple, fast)) == sorted(map(tuple, slow))


def test_selector_large_blob_prefers_measured_plain_z():
    """r8 selector fix: on multi-MB text chunks the zstd transport's
    long-range matching beats FSST preconditioning (measured p/f 0.76 at
    512KB..4MB on the corpus), which the old 256KB stride trial could not
    see. Pin: a large redundant blob chooses plain+z AND the chosen frame
    is no larger than the fsst+z frame; a small chunk keeps the exact
    measured small-sample choice."""
    import numpy as np
    import pyarrow as pa

    from parquet2csv_spark.codecs import encode_array, selector

    rng = np.random.default_rng(7)
    # source-code-like text: heavy cross-row redundancy, ~2KB per row
    base = [
        "def f_%d(x):\n    return x + %d  # common license header line\n"
        % (i % 37, i % 11)
        for i in range(64)
    ]
    rows = ["".join(base[rng.integers(0, 64)] for _ in range(32)) for _ in range(2048)]
    arr = pa.array(rows, type=pa.large_string())
    choice = selector.choose(arr)
    assert choice == "plain+z", choice
    # the choice is measured on a 1MB prefix with a 12% speed-preference
    # tolerance — the full-array sizes must stay within that band
    chosen = len(encode_array(arr, choice))
    fsst_sz = len(encode_array(arr, "fsst+z"))
    assert chosen <= fsst_sz * (selector._TIE_TOLERANCE + 0.05)


def test_cosine_topk_mixed_dims_match_crossjoin(spark):
    """A pair whose dims differ gets a NULL cos in the expression form
    (zip_with pads the shorter side with nulls); the vectorized fast path
    must degrade identically instead of crashing np.stack."""
    rows = [
        (0, [1.0, 0.0]), (1, [0.5, 0.5, 0.1]), (2, [0.2, 0.9]),
        (3, [0.3, 0.3, 0.3]), (4, [0.9, 0.1]),
    ]
    df = spark.createDataFrame(rows, "vec_id int, embedding array<float>")
    q = df.filter(F.col("vec_id") < 2)
    fast = sim.cosine_topk(df, q, k=4).collect()
    slow = sim._cosine_topk_crossjoin(df, q, k=4).collect()
    assert sorted(map(tuple, fast)) == sorted(map(tuple, slow))


def test_worth_it_false_for_directory_inputs(spark, tmp_path):
    """A directory table (part files) must fall back to the native scan
    path instead of crashing the footer probe; so must a path that is not
    a local file at all (missing here; a URI reads the same)."""
    d = str(tmp_path / "t")
    spark.range(100).write.parquet(d)
    assert worth_it(d, 32) is False
    assert worth_it(str(tmp_path / "missing.parquet"), 32) is False


def test_worth_it_raises_on_truncated_local_file(tmp_path):
    """A local parquet file whose footer cannot be read fails loudly with
    its path instead of silently taking the native scan."""
    import pyarrow as pa

    good = tmp_path / "good.parquet"
    pq.write_table(pa.table({"id": pa.array(range(1000), pa.int64())}), good)
    data = good.read_bytes()
    bad = tmp_path / "truncated.parquet"
    bad.write_bytes(data[: len(data) // 2])
    with pytest.raises(ValueError, match="truncated.parquet"):
        worth_it(str(bad), 32)


def test_parallel_scan_zero_row_file_roundtrips(spark, tmp_path):
    """A 0-row single-row-group file passes the worth_it gate; the slicer
    must hand out one empty slice (not crash on a zero step) so the fused
    encode comes back empty and decodes with the file's schema."""
    import pyarrow as pa

    path = str(tmp_path / "empty.parquet")
    pq.write_table(pa.table({
        "id": pa.array([], pa.int64()),
        "name": pa.array([], pa.string()),
        "ts": pa.array([], pa.timestamp("us")),
    }), path)
    assert pq.ParquetFile(path).metadata.num_row_groups == 1
    assert worth_it(path, 8)
    src = spark.read.parquet(path)
    chunks = parallel_scan_encode(spark, path, src.schema, chunk_rows=2048)
    assert chunks.count() == 0
    dec = decode_table(chunks, src.schema)
    assert dec.schema == src.schema
    assert dec.collect() == []


@pytest.mark.parametrize("table", sorted(f for f in os.listdir(SF) if f.endswith(".parquet")))
def test_parquet_schema_equals_spark_inference(spark, table):
    path = f"{SF}/{table}"
    assert parquet_schema(spark, path) == spark.read.parquet(path).schema


def _jobs_in_group(spark, group, fn):
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return list(sc.statusTracker().getJobIdsForGroup(group))


@pytest.mark.parametrize("table", ["lineitem", "events"])
def test_building_a_parallel_scan_roundtrip_runs_no_job(spark, table):
    """The parallel-scan roundtrip needs only the input's schema, read from
    its footer: building the query launches no Spark job."""
    import __spark_entry__ as entry

    q = entry.queries()[f"roundtrip_{table}"]
    assert worth_it(f"{SF}/{table}.parquet", spark.sparkContext.defaultParallelism)
    assert _jobs_in_group(spark, f"test-build-{table}", lambda: q(spark, SF)) == []
