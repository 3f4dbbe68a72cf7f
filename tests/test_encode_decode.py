"""End-to-end golden test (SURVEY.md §5.2-3): corpus → encode → decode →
bit-identical reconstruction, plus size gate vs the reference parquet
configuration (GZIP, dictionary disabled — OneRowParquetSchema.java:104-110).
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from parquet2csv_spark.operators import (
    chunk_metrics,
    decode_table,
    encode_grouped,
    encode_table,
    multiset_diff,
    sha256_check,
)
from parquet2csv_spark.sources.corpus import CORPUS_DDL, generate_corpus

N_ROWS = 8000


@pytest.fixture(scope="module")
def corpus(spark):
    df = generate_corpus(spark, N_ROWS, seed=42)
    df.cache().count()
    return df


def test_corpus_shape(corpus):
    assert corpus.count() == N_ROWS
    assert corpus.columns == ["repo", "path", "commit", "lang", "content"]
    nulls = corpus.filter(F.col("content").isNull()).count()
    empties = corpus.filter(F.col("content") == "").count()
    assert nulls > 0 and empties > 0
    top = (
        corpus.groupBy("repo").count().orderBy(F.desc("count")).first()
    )
    assert top["count"] / N_ROWS > 0.35  # giant repo


def test_grouped_encode_roundtrip(spark, corpus):
    chunks = encode_grouped(
        corpus, group_cols=["repo"], order_cols=["path", "commit"],
        chunk_rows=2048, chunk_bytes=2 << 20,
    )
    chunks.cache()
    m = chunk_metrics(chunks)
    n_chunks = chunks.count()
    assert n_chunks > 2

    # decode → exact multiset reconstruction
    dec = decode_table(chunks, CORPUS_DDL)
    assert multiset_diff(corpus, dec).count() == 0

    # per-row sha256(content) invariant on the natural key
    res = {
        r["status"]: r["n"]
        for r in sha256_check(corpus.dropDuplicates(["repo", "path", "commit"]),
                              dec.dropDuplicates(["repo", "path", "commit"]),
                              ["repo", "path", "commit"]).collect()
    }
    assert res.get("mismatched", 0) == 0 and res.get("missing_in_decoded", 0) == 0
    assert res.get("matched", 0) > 0

    # selector picked codec families the north_star prescribes — judged on
    # each column's LARGEST chunk (tiny chunks may legitimately pick plain+z)
    codecs_by_col = {
        r["col"]: r["codec"]
        for r in m.groupBy("col").agg(F.max_by("codec", "raw_bytes").alias("codec")).collect()
    }
    assert any(codecs_by_col["repo"].startswith(p) for p in ("dict", "rledict")), codecs_by_col
    assert any(codecs_by_col["commit"].startswith(p) for p in ("dict", "rledict")), codecs_by_col
    assert codecs_by_col["content"].startswith(("fsst", "plain+z", "dict")), codecs_by_col

    # size-cap respected (chunk raw bytes ≤ cap + one max row overshoot)
    overshoot = chunks.filter(F.col("raw_bytes") > (2 << 20) + 70000 + 4 * 2048 * 8).count()
    assert overshoot == 0
    chunks.unpersist()


def test_grouped_encode_deterministic_chunk_ids(spark, corpus):
    """Chunk ids, row counts and frames do not depend on the input
    partitioning: the exchange on ``_gk`` hands each task the same groups
    in the same order, and each task starts with its own empty codec
    cache. Deduplicating on the order key makes each group's order total."""
    src = corpus.dropDuplicates(["repo", "path", "commit"]).cache()

    def digests(df):
        chunks = encode_grouped(df, ["repo"], ["path", "commit"], chunk_rows=2048)
        cols = F.transform(
            "cols",
            lambda c: F.concat_ws(":", c["name"], c["codec"], F.sha2(c["frame"], 256)),
        )
        return {
            r["chunk_id"]: (r["n_rows"], r["cols"])
            for r in chunks.select("chunk_id", "n_rows", cols.alias("cols")).collect()
        }

    try:
        a, b = digests(src), digests(src.repartition(13))
        assert len(a) > 2
        assert a == b
    finally:
        src.unpersist()


def test_ungrouped_encode_roundtrip_generic_tables(spark):
    for table in ["documents", "lineitem", "events"]:
        src = spark.read.parquet(f"/root/testdata/sf0.001/{table}.parquet")
        chunks = encode_table(src, chunk_rows=1500)
        dec = decode_table(chunks, src.schema)
        assert multiset_diff(src, dec).count() == 0, table


def test_decode_with_position_restores_total_order(spark, corpus):
    chunks = encode_grouped(corpus, ["repo"], ["path", "commit"], chunk_rows=1024)
    dec = decode_table(chunks, CORPUS_DDL, with_position=True)
    first = (
        dec.orderBy("_group_key", "_seq", "_row_offset")
        .limit(5)
        .select("repo", "path")
        .collect()
    )
    # within the first group, paths are sorted (the explicit ordering contract)
    paths = [r["path"] for r in first]
    assert paths == sorted(paths)


def test_empty_input_produces_no_chunks(spark):
    empty = spark.createDataFrame([], CORPUS_DDL)
    assert encode_grouped(empty, ["repo"], ["path"]).count() == 0
    assert encode_table(empty).count() == 0


def test_cdc_rows_roundtrip(spark):
    """FIXTURES.md F2: the reference's hard-coded cdc schema
    (OneRowParquetSchema.java:124-153) — $-suffixed names, uuid strings,
    timestamp sentinels, decimal(30,0) — must round-trip bit-identically."""
    import datetime
    import decimal

    from pyspark.sql import types as T

    schema = T.StructType(
        [
            T.StructField("ID$", T.LongType(), True),
            T.StructField("PRIMARY_KEY_VAL$", T.StringType(), True),
            T.StructField("TERM_ID$", T.StringType(), True),
            T.StructField("CREATED_DATE$", T.TimestampType(), True),
            T.StructField("SOURCE_SCN$", T.DecimalType(30, 0), True),
            T.StructField("SQL_OPERATION$", T.StringType(), True),
        ]
    )
    rows = [
        (0, "00000000-0000-0000-0000-000000000000", "T1",
         datetime.datetime(1900, 1, 1), decimal.Decimal(0), "INSERT"),
        (1, "123e4567-e89b-12d3-a456-426614174000", "T2",
         datetime.datetime(1900, 1, 2), decimal.Decimal("987654321098765432109876543210"), "UPDATE"),
        (2, "not-a-uuid", None, datetime.datetime(2024, 6, 1, 12, 0, 0, 123000),
         decimal.Decimal(-42), "DELETE"),
        (3, None, "T3", None, None, None),
    ]
    src = spark.createDataFrame(rows, schema)
    dec = decode_table(encode_table(src, chunk_rows=16), schema)
    assert multiset_diff(src, dec).count() == 0
    assert dec.schema == schema


def test_zone_map_pruning_and_projection_pushdown(spark):
    """Columnar-engine scale features: (1) zone-map chunk pruning — a
    selective decode reads only chunks whose min/max can match; (2)
    projection pushdown — decoding a subset schema touches only those
    columns' frames."""
    from parquet2csv_spark.operators import scan_stats

    li = spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
    # sort so chunks have tight non-overlapping key ranges (zone maps bite)
    chunks = encode_table(li.orderBy("l_orderkey"), chunk_rows=500).cache()

    key_range = [("l_orderkey", ">=", 100), ("l_orderkey", "<=", 120)]
    st = scan_stats(chunks, li.schema, key_range)
    assert 0 < st["kept_chunks"] < st["total_chunks"]  # actually pruned something
    dec = decode_table(chunks, li.schema, filters=key_range)
    expect = li.filter((F.col("l_orderkey") >= 100) & (F.col("l_orderkey") <= 120))
    assert multiset_diff(expect, dec).count() == 0

    # string zone maps on a sorted string column ('<=' has no Bloom check)
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    dchunks = encode_table(docs.orderBy("source"), chunk_rows=120).cache()
    srcs = sorted(r["source"] for r in docs.select("source").distinct().collect())
    first = [("source", "<=", srcs[0])]
    st = scan_stats(dchunks, docs.schema, first)
    assert st["kept_chunks"] < st["total_chunks"]
    sdec = decode_table(dchunks, docs.schema, filters=first)
    assert multiset_diff(docs.filter(F.col("source") == srcs[0]), sdec).count() == 0

    # projection pushdown: subset schema decodes only those frames
    proj = decode_table(chunks, "l_orderkey bigint, l_quantity double")
    assert proj.columns == ["l_orderkey", "l_quantity"]
    assert proj.count() == li.count()
    chunks.unpersist()
    dchunks.unpersist()


def test_decode_table_filters_prune_chunks_and_match_rows(spark):
    """VERDICT r3 #6: decode_table(filters=...) routes simple predicates
    through the zone maps — fewer chunks are scanned — while row semantics
    stay exact (prune is conservative; the predicate is re-applied on the
    decoded rows)."""
    from parquet2csv_spark.operators import scan_stats

    ddl = "doc_id bigint, text string"
    df = spark.createDataFrame(
        [(i, f"body {i}") for i in range(4000)], ddl
    )
    chunks = encode_table(df, chunk_rows=500)
    chunks.cache()
    try:
        filters = [("doc_id", ">=", 3500)]
        st = scan_stats(chunks, ddl, filters)
        assert st["kept_chunks"] < st["total_chunks"]  # pruning actually dropped chunks
        got = decode_table(chunks, ddl, filters=filters)
        want = decode_table(chunks, ddl).filter(F.col("doc_id") >= 3500)
        assert multiset_diff(want, got).count() == 0
        assert got.count() == 500
        # string zone maps route too
        got_s = decode_table(chunks, ddl, filters=[("text", "==", "body 7")])
        assert [r["doc_id"] for r in got_s.collect()] == [7]
        # "in" prunes per value and row-filters exactly
        st_in = scan_stats(chunks, ddl, [("doc_id", "in", [10, 12])])
        assert st_in["kept_chunks"] < st_in["total_chunks"]
        got_in = decode_table(chunks, ddl, filters=[("doc_id", "in", [10, 12])])
        assert sorted(r["doc_id"] for r in got_in.collect()) == [10, 12]
        import pytest

        with pytest.raises(ValueError, match="non-empty"):
            decode_table(chunks, ddl, filters=[("doc_id", "in", [])]).count()
    finally:
        chunks.unpersist()


def test_decode_table_time_filters_prune_chunks(spark):
    """VERDICT r4 #3: date/timestamp predicates route through the zone maps
    too — the encoder stores exact int64 stats in Arrow epoch units
    (timestamp[us] → microseconds, date32 → days), and the pruning
    predicate converts natural datetime/date filter values first. A
    time-range selective decode (the canonical 100-TB access pattern) must
    scan fewer chunks while staying row-exact."""
    import datetime

    from parquet2csv_spark.operators import scan_stats

    base = datetime.datetime(2024, 1, 1)
    ddl = "event_id bigint, ts timestamp, d date, ds date"
    df = spark.createDataFrame(
        [
            (
                i,
                base + datetime.timedelta(minutes=i),
                (base + datetime.timedelta(days=i % 40)).date(),
                (base + datetime.timedelta(days=i // 100)).date(),
            )
            for i in range(4000)
        ],
        ddl,
    )
    # order by ts so chunk zone maps are tight on the time axis
    chunks = encode_table(df.orderBy("event_id").coalesce(1), chunk_rows=500)
    chunks.cache()
    try:
        cutoff = base + datetime.timedelta(minutes=3500)
        filters = [("ts", ">=", cutoff)]
        st = scan_stats(chunks, ddl, filters)
        n_all, n_kept = st["total_chunks"], st["kept_chunks"]
        assert n_kept < n_all  # timestamp pruning actually dropped chunks
        got = decode_table(chunks, ddl, filters=filters)
        want = decode_table(chunks, ddl).filter(F.col("ts") >= cutoff)
        assert multiset_diff(want, got).count() == 0
        assert got.count() == 500
        # tz-aware datetimes convert through .timestamp() to the same epoch
        aware = cutoff.replace(tzinfo=datetime.timezone.utc)
        assert scan_stats(chunks, ddl, [("ts", ">=", aware)])["kept_chunks"] == n_kept
        # date columns prune on epoch-day units
        dcut = (base + datetime.timedelta(days=38)).date()
        got_d = decode_table(chunks, ddl, filters=[("d", ">=", dcut)])
        want_d = decode_table(chunks, ddl).filter(F.col("d") >= F.lit(dcut))
        assert multiset_diff(want_d, got_d).count() == 0
        # equality on a single day
        one = decode_table(chunks, ddl, filters=[("d", "==", dcut)])
        assert one.count() == want_d.filter(F.col("d") == F.lit(dcut)).count()
        # a date-sorted column prunes too
        scut = (base + datetime.timedelta(days=30)).date()
        assert scan_stats(chunks, ddl, [("ds", ">=", scut)])["kept_chunks"] < n_all
        got_s = decode_table(chunks, ddl, filters=[("ds", ">=", scut)])
        assert got_s.count() == 1000
        assert multiset_diff(df.filter(F.col("ds") >= F.lit(scut)), got_s).count() == 0
    finally:
        chunks.unpersist()


def test_zone_map_int_bounds_are_the_int64_view():
    """``_zone_map`` bounds of int-like columns are the min/max of their
    int64 view (date32 in days, timestamps in epoch units). Durations and
    binary columns get no bounds and do not raise; nor do all-null ones."""
    import datetime

    import pyarrow as pa

    from parquet2csv_spark.operators.encode import _zone_map

    utc = datetime.timezone.utc
    cases = [
        (pa.array([5, -3, None, 7], pa.int8()), (-3, 7)),
        (pa.array([2**31 - 1, None, -(2**31)], pa.int32()), (-(2**31), 2**31 - 1)),
        (pa.array([None, 2**62, -(2**63)], pa.int64()), (-(2**63), 2**62)),
        (
            pa.array([datetime.date(2024, 3, 1), None, datetime.date(2024, 1, 1)], pa.date32()),
            (19723, 19783),
        ),
        (
            pa.array(
                [datetime.datetime(2024, 1, 1, tzinfo=utc), datetime.datetime(1970, 1, 1, 0, 0, 0, 5, tzinfo=utc)],
                pa.timestamp("us", tz="UTC"),
            ),
            (5, 1_704_067_200_000_000),
        ),
    ]
    for arr, bounds in cases:
        zm = _zone_map(arr)
        assert (zm["lo_long"], zm["hi_long"]) == bounds, arr.type
    for arr in (
        pa.array([1, 2], pa.duration("us")),
        pa.array([b"a", b"b"], pa.binary()),
        pa.array([None, None], pa.int64()),
        pa.array([None, None], pa.date32()),
    ):
        assert set(_zone_map(arr).values()) == {None}, arr.type


def test_encode_api_has_no_spec_or_partition_knobs():
    """The DataFrame-level encode functions take no per-column spec map and
    no partition count (the stage runs one task per slot), and the module
    keeps no cache that could outlive a task."""
    import inspect

    from parquet2csv_spark.operators import encode

    for fn in (encode.encode_table, encode.encode_batches,
               encode.encode_grouped, encode.encode_salted):
        params = set(inspect.signature(fn).parameters)
        assert not params & {"specs", "num_partitions"}, fn.__name__
    dicts = [
        name for name, v in vars(encode).items()
        if isinstance(v, dict) and not name.startswith("__")
    ]
    assert dicts == []


def test_epoch_long_exact_for_tz_aware_microseconds():
    """ADVICE r5 (medium): tz-aware datetimes must convert with exact
    integer arithmetic — ``int(val.timestamp() * 1e6)`` rounds ~3% of
    microsecond-bearing epochs by ±1µs, and an off-by-one-down bound on
    ``==``/``<=``/``in`` prunes chunks whose min equals the true value,
    silently dropping matching rows."""
    import datetime

    from parquet2csv_spark.operators.decode import _epoch_long

    base_s = 1_700_000_000  # a modern epoch where float64 has ~µs ulp
    for us in range(0, 1_000_000, 7_777):
        want = base_s * 1_000_000 + us
        aware = datetime.datetime.fromtimestamp(
            base_s, tz=datetime.timezone.utc
        ).replace(microsecond=us)
        assert _epoch_long(aware, "timestamp") == want, us
        # naive path (calendar.timegm + microsecond) must agree exactly
        naive = aware.replace(tzinfo=None)
        assert _epoch_long(naive, "timestamp") == want, us


def test_decode_tz_aware_microsecond_equality_filter(spark):
    """End-to-end twin of the exactness fix: a tz-aware, microsecond-
    bearing ``==`` filter must keep the chunk holding the row (pruning is
    bound-exact) and return exactly that row."""
    import datetime

    base = datetime.datetime(2024, 5, 1)
    ddl = "event_id bigint, ts timestamp"
    df = spark.createDataFrame(
        [
            (i, base + datetime.timedelta(seconds=i, microseconds=(i * 7_777) % 1_000_000))
            for i in range(2000)
        ],
        ddl,
    )
    chunks = encode_table(df.orderBy("event_id").coalesce(1), chunk_rows=250)
    target = base + datetime.timedelta(
        seconds=1999, microseconds=(1999 * 7_777) % 1_000_000
    )
    aware = target.replace(tzinfo=datetime.timezone.utc)
    got = decode_table(chunks, ddl, filters=[("ts", "==", aware)]).collect()
    assert [r["event_id"] for r in got] == [1999]


def test_in_filter_prunes_per_value_for_sparse_lists(spark):
    """VERDICT r5 #4: an ``in`` list of ≤16 values prunes per-value (union
    of point prunes) — a sparse list like (5, 3900) keeps only the two
    chunks that can hold those values, where the old [min,max] envelope
    covered every chunk and pruned nothing. Longer lists fall back to the
    envelope; row results are identical either way."""
    from parquet2csv_spark.operators import scan_stats

    ddl = "doc_id bigint, text string"
    df = spark.createDataFrame([(i, f"body {i}") for i in range(4000)], ddl)
    chunks = encode_table(df.orderBy("doc_id").coalesce(1), chunk_rows=500)
    chunks.cache()
    try:
        st = scan_stats(chunks, ddl, [("doc_id", "in", [5, 3900])])
        # sparse list: first and last chunk only — the envelope keeps all 8
        assert (st["total_chunks"], st["kept_chunks"]) == (8, 2)
        got = decode_table(chunks, ddl, filters=[("doc_id", "in", [5, 3900])])
        assert sorted(r["doc_id"] for r in got.collect()) == [5, 3900]
        # >16 distinct values: envelope fallback, still row-exact
        big = [5, 3900] + list(range(1000, 1017))
        got_big = decode_table(chunks, ddl, filters=[("doc_id", "in", big)])
        assert sorted(r["doc_id"] for r in got_big.collect()) == sorted(big)
    finally:
        chunks.unpersist()


def test_selective_decode_events_gate_prunes(spark):
    """Pruning proof for the ``selective_decode_events`` gate row
    (VERDICT r5 #3): the same build the gate runs — events ordered by ts,
    chunk_rows=2048, ts range filter — scans strictly fewer chunks than
    the total, and the decoded rows equal the plain parquet range scan."""
    import datetime

    from parquet2csv_spark.operators import scan_stats

    src = spark.read.parquet("/root/testdata/sf0.01/events.parquet")
    chunks = encode_table(src.orderBy("ts"), chunk_rows=2048)
    chunks.cache()
    try:
        lo = datetime.datetime(2024, 1, 10)
        hi = datetime.datetime(2024, 1, 15)
        filters = [("ts", ">=", lo), ("ts", "<", hi)]
        st = scan_stats(chunks, src.schema, filters)
        assert 0 < st["kept_chunks"] < st["total_chunks"], st
        got = decode_table(chunks, src.schema, filters=filters)
        want = src.filter((F.col("ts") >= F.lit(lo)) & (F.col("ts") < F.lit(hi)))
        assert multiset_diff(want, got.select(*src.columns)).count() == 0
        n = got.count()
        assert n == want.count() and n > 0
    finally:
        chunks.unpersist()


def test_grouped_encode_null_order_cols_sort_last(spark):
    """ADVICE r3: the within-group sort pins asc_nulls_last (the pyarrow
    convention chunk determinism was defined under), not Spark's default
    NULLS FIRST — chunk ids are positional, so row order is part of the
    cross-version determinism contract."""
    ddl = "repo string, path string, v bigint"
    df = spark.createDataFrame(
        [("g", None, 1), ("g", "b", 2), ("g", "a", 3), ("g", None, 4)], ddl
    )
    chunks = encode_grouped(df, ["repo"], ["path"], chunk_rows=1024)
    dec = decode_table(chunks, ddl, with_position=True)
    paths = [
        r["path"]
        for r in dec.orderBy("_group_key", "_seq", "_row_offset").collect()
    ]
    assert paths == ["a", "b", None, None]


def test_bloom_membership_pruning_point_lookup(spark):
    """VERDICT r6 #3: string ``==`` on a high-cardinality column the chunks
    are NOT sorted by — the prefix [lo,hi] zone maps barely prune, the
    per-chunk Bloom membership filter prunes almost everything, and the
    result stays identical (Bloom filters have zero false negatives)."""
    from parquet2csv_spark.operators import scan_stats

    ddl = "path string, v bigint"
    rows = [(f"src/{(i * 2654435761) % 100000:05x}/F{i}.java", i)
            for i in range(8000)]
    df = spark.createDataFrame(rows, ddl).coalesce(4)
    chunks = encode_table(df, chunk_rows=500).cache()  # unsorted in `path`
    try:
        target = rows[4321][0]
        st = scan_stats(chunks, ddl, [("path", "==", target)])
        n_all = st["total_chunks"]
        # the value lives in exactly one chunk; bloom fp ~0.2% at this ndv
        assert st["kept_chunks"] < n_all / 4, st
        got = decode_table(chunks, ddl, filters=[("path", "==", target)])
        assert [r["v"] for r in got.collect()] == [4321]
        # absent value: bloom prunes everything (or nearly), zero rows out
        st_abs = scan_stats(chunks, ddl, [("path", "==", "no/such/path.txt")])
        assert st_abs["kept_chunks"] < n_all / 4
        # 'in' routes through the bloom too — union over values
        vals = [rows[17][0], rows[7777][0]]
        got_in = decode_table(chunks, ddl, filters=[("path", "in", vals)])
        assert sorted(r["v"] for r in got_in.collect()) == [17, 7777]
    finally:
        chunks.unpersist()


def test_bloom_pruning_skips_legacy_tables_without_bloom_field(spark):
    """Chunk tables written before r7 carry no ``bloom`` field; pruning
    must fall back to zone maps only — never reference the missing field —
    and row results stay exact."""
    ddl = "path string, v bigint"
    df = spark.createDataFrame(
        [(f"p{i:04d}", i) for i in range(1000)], ddl
    ).coalesce(1)
    chunks = encode_table(df, chunk_rows=200)
    legacy_struct = (
        "struct(c.name as name, c.codec as codec, c.n as n, "
        "c.null_count as null_count, c.raw_bytes as raw_bytes, "
        "c.enc_bytes as enc_bytes, c.lo_long as lo_long, c.hi_long as hi_long, "
        "c.lo_str as lo_str, c.hi_str as hi_str, c.frame as frame)"
    )
    legacy = chunks.withColumn("cols", F.expr(f"transform(cols, c -> {legacy_struct})"))
    got = decode_table(legacy, ddl, filters=[("path", "==", "p0042")])
    assert [r["v"] for r in got.collect()] == [42]


def test_cols_fields_checks_the_cols_schema(spark):
    """A current chunks table has the bloom field and a legacy (pre-r7)
    one has not; a table whose ``cols`` is missing or not an array of
    structs is not a chunks table, and the check says so instead of
    silently skipping Bloom pruning."""
    from parquet2csv_spark.operators.decode import _cols_fields

    chunks = encode_table(spark.createDataFrame([("a", 1)], "path string, v bigint"))
    assert "bloom" in _cols_fields(chunks)
    legacy = chunks.withColumn(
        "cols", F.expr("transform(cols, c -> struct(c.name as name, c.frame as frame))")
    )
    assert _cols_fields(legacy) == ["name", "frame"]
    with pytest.raises(ValueError, match="no 'cols' column"):
        _cols_fields(chunks.drop("cols"))
    with pytest.raises(ValueError, match="'cols' is array<string>"):
        _cols_fields(chunks.withColumn("cols", F.expr("transform(cols, c -> c.name)")))


def test_scan_stats_selectivity_preview(spark):
    """r7: ``scan_stats`` answers "how selective is this predicate" from
    chunk metadata only, and the row-exact decode result is bounded by
    kept_rows."""
    from parquet2csv_spark.operators import scan_stats

    ddl = "doc_id bigint, text string"
    df = spark.createDataFrame([(i, f"body {i}") for i in range(4000)], ddl).coalesce(2)
    chunks = encode_table(df, chunk_rows=500).cache()
    try:
        st = scan_stats(chunks, ddl, [("doc_id", ">=", 3500)])
        assert st["total_rows"] == 4000
        assert 0 < st["kept_chunks"] < st["total_chunks"]
        assert 500 <= st["kept_rows"] < 4000
        got = decode_table(chunks, ddl, filters=[("doc_id", ">=", 3500)]).count()
        assert got == 500 <= st["kept_rows"]
        # bloom-backed string point lookup previews as selective too
        st2 = scan_stats(chunks, ddl, [("text", "==", "body 7")])
        assert st2["kept_chunks"] < st2["total_chunks"]
    finally:
        chunks.unpersist()


def test_scan_stats_runs_one_aggregate(spark, tmp_path):
    """``scan_stats`` counts total and kept chunks and rows in one
    aggregate over the chunks table: at most two jobs (the aggregate's
    map stage and its result under AQE)."""
    from parquet2csv_spark.operators import scan_stats

    ddl = "doc_id bigint, text string"
    path = str(tmp_path / "chunks")
    df = spark.createDataFrame([(i, f"body {i}") for i in range(4000)], ddl).coalesce(2)
    encode_table(df, chunk_rows=500).write.parquet(path)
    chunks = spark.read.parquet(path)
    sc = spark.sparkContext
    sc.setJobGroup("test-scan-stats-jobs", "scan_stats")
    try:
        st = scan_stats(chunks, ddl, [("doc_id", ">=", 3500),
                                      ("text", "in", ["body 7", "body 3999"])])
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    jobs = sc.statusTracker().getJobIdsForGroup("test-scan-stats-jobs")
    assert len(jobs) <= 2, sorted(jobs)
    assert st == {"total_chunks": 8, "kept_chunks": 1, "total_rows": 4000, "kept_rows": 500}


def _plain_filter(filters):
    """The plain Spark predicate for decode filter triples."""
    import operator

    cmp = {">=": operator.ge, ">": operator.gt, "<=": operator.le,
           "<": operator.lt, "==": operator.eq}
    cond = F.lit(True)
    for col, op, val in filters:
        c = F.col(col)
        cond = cond & (c.isin(list(val)) if op == "in" else cmp[op](c, F.lit(val)))
    return cond


def _rows(df):
    from collections import Counter

    return Counter(tuple(r) for r in df.collect())


def test_in_lists_holding_null_match_plain_spark(spark):
    """NULL never matches a comparison or ``IN``: an ``in`` list holding
    None prunes on its other values and returns what plain Spark returns,
    and a filter with no non-null value prunes every chunk."""
    import datetime

    from parquet2csv_spark.operators import scan_stats

    base = datetime.datetime(2024, 1, 1)
    ddl = "s string, t timestamp, v bigint"
    # the null row shares the first chunk: an all-null chunk has no zone
    # map and is always kept
    df = spark.createDataFrame(
        [(None, None, None)]
        + [(f"k{i:05d}", base + datetime.timedelta(minutes=i), i) for i in range(1000)],
        ddl,
    )
    chunks = encode_table(df.coalesce(1), chunk_rows=200).cache()
    try:
        for flt, want in [
            (("s", "in", ["k00000", None]), [0]),
            (("t", "in", [base + datetime.timedelta(minutes=7), None]), [7]),
            (("v", "in", [None, 512]), [512]),
        ]:
            got = decode_table(chunks, ddl, filters=[flt])
            assert sorted(r["v"] for r in got.collect()) == want, flt
            assert _rows(got) == _rows(df.filter(_plain_filter([flt]))), flt
            assert scan_stats(chunks, ddl, [flt])["kept_chunks"] == 1, flt
        for flt in [("v", "in", [None]), ("s", "==", None), ("t", ">=", None)]:
            assert scan_stats(chunks, ddl, [flt])["kept_chunks"] == 0, flt
            assert decode_table(chunks, ddl, filters=[flt]).count() == 0, flt
    finally:
        chunks.unpersist()


@pytest.mark.parametrize("escaped", ["false", "true"])
def test_bloom_pruning_under_either_string_escaping(spark, escaped):
    """The Bloom check names the column with a hex literal, which reads
    the same under both ``spark.sql.parser.escapedStringLiterals``
    settings: for a name holding a backslash, quotes and a non-ASCII
    letter it keeps exactly the one chunk with the looked-up value."""
    from pyspark.sql.types import LongType, StringType, StructField, StructType

    from parquet2csv_spark.operators import scan_stats

    name = "we\\ird'na\"me é"
    schema = StructType([StructField(name, StringType()), StructField("v", LongType())])
    # values scattered over the chunks, so the zone maps keep every chunk
    rows = [(f"v{(i * 7919) % 1000:04d}", i) for i in range(1000)]
    chunks = encode_table(
        spark.createDataFrame(rows, schema).coalesce(1), chunk_rows=100
    ).cache()
    key = "spark.sql.parser.escapedStringLiterals"
    prev = spark.conf.get(key)
    spark.conf.set(key, escaped)
    try:
        flt = [(name, "==", rows[123][0])]
        st = scan_stats(chunks, schema, flt)
        assert (st["total_chunks"], st["kept_chunks"]) == (10, 1), st
        got = decode_table(chunks, schema, filters=flt).collect()
        assert [r["v"] for r in got] == [123]
    finally:
        spark.conf.set(key, prev)
        chunks.unpersist()


def test_pruning_keeps_every_matching_chunk_on_random_filters(spark):
    """Seeded property check over a nullable int/string/date/timestamp
    table (sorted and unsorted columns, short and long strings): for
    random filter lists of every op, ``decode_table`` equals the plain
    Spark filter of the source, and no chunk holding a matching row is
    pruned."""
    import datetime
    import random

    from parquet2csv_spark.operators.decode import _keep

    rng = random.Random(1301)
    base = datetime.datetime(2024, 1, 1)
    ddl = "i bigint, s string, d date, t timestamp"

    def null_or(v):
        return None if rng.random() < 0.1 else v

    rows = []
    for n in range(1200):
        h = (n * 7919) % 1200
        # the last third is long strings: those chunks carry no Bloom filter
        s = f"k{h:04d}" if n < 800 else "L" * 140 + str(h)
        rows.append((
            null_or(n), null_or(s),
            null_or((base + datetime.timedelta(days=n // 40)).date()),
            null_or(base + datetime.timedelta(minutes=h, microseconds=n)),
        ))
    src = spark.createDataFrame(rows, ddl)
    chunks = encode_table(src.coalesce(1), chunk_rows=100).cache()
    full = decode_table(chunks, ddl, with_position=True).cache()
    absent = {"i": 10**9, "s": "zz", "d": datetime.date(1999, 1, 1),
              "t": datetime.datetime(1999, 1, 1)}

    def value(j):
        return absent[src.columns[j]] if rng.random() < 0.1 else rng.choice(rows)[j]

    try:
        for _ in range(24):
            filters = []
            for _ in range(rng.randint(1, 2)):
                j = rng.randrange(4)
                op = rng.choice([">=", ">", "<=", "<", "==", "in"])
                val = ([value(j) for _ in range(rng.choice([1, 2, 5, 16, 17, 30]))]
                       if op == "in" else value(j))
                filters.append((src.columns[j], op, val))
            pred = _plain_filter(filters)
            got = decode_table(chunks, ddl, filters=filters)
            assert _rows(got) == _rows(src.filter(pred)), filters
            must = {r["_seq"] for r in full.filter(pred).select("_seq").distinct().collect()}
            keep = _keep(chunks, src.schema, filters)
            kept = chunks if keep is None else chunks.filter(keep)
            assert must <= {r["seq"] for r in kept.select("seq").collect()}, filters
    finally:
        full.unpersist()
        chunks.unpersist()


def test_bloom_multibyte_prefix_agreement_no_false_negative():
    """The encoder truncates values Arrow-side (utf8_slice_codeunits) and
    the query side slices Python-side (value[:64]); both count CODE
    POINTS, so multi-byte values must always hit their own bloom — a
    disagreement would be a silent false negative (wrong results), not a
    perf issue. No Spark needed: checks the bit membership directly."""
    import numpy as np
    import pyarrow as pa

    from parquet2csv_spark.operators.bloom import (
        BLOOM_K,
        build_bloom,
        query_hashes,
    )

    vals = [
        "日本語のテキスト" * 10,   # 80 cp, > the 64-cp truncation point
        "naïve—überprüfung✓" * 5,
        "🎉🎊" * 40,               # 80 cp of 4-byte chars
        "κόσμος " * 15,
        "",            # empty string is a legitimate value
        "short",
    ]
    # pad with short values so the column stays under the avg-length gate
    col = vals * 3 + [f"k{i}" for i in range(200)]
    bloom = build_bloom(pa.array(col))  # dups exercise pc.unique
    assert bloom is not None
    words = np.array(bloom, dtype=np.int64).view(np.uint64)
    m = len(bloom) * 64
    for v in vals:
        h1, h2 = query_hashes(v)
        for i in range(BLOOM_K):
            pos = (h1 + i * h2) % m
            assert (words[pos >> 6] >> np.uint64(pos & 63)) & np.uint64(1), v


# the chunks layout as the hand-written DDL that described it before the
# Spark schema was derived from CHUNKS_ARROW
_LEGACY_CHUNKS_DDL = (
    "chunk_id string, group_key string, seq bigint, n_rows bigint, "
    "raw_bytes bigint, enc_bytes bigint, wall_ms bigint, "
    "cols array<struct<name:string, codec:string, n:bigint, null_count:bigint, "
    "raw_bytes:bigint, enc_bytes:bigint, "
    "lo_long:bigint, hi_long:bigint, lo_str:string, hi_str:string, "
    "bloom:array<bigint>, frame:binary>>"
)


def test_derived_chunks_schema_equals_the_legacy_ddl_and_reads_its_dirs(spark, tmp_path):
    """CHUNKS_SCHEMA, derived from CHUNKS_ARROW, is the layout the DDL
    declared; a chunks dir written under the DDL reads back with it and
    decodes to the source."""
    from pyspark.sql.types import StructType

    from parquet2csv_spark.operators.encode import CHUNKS_SCHEMA

    legacy = StructType.fromDDL(_LEGACY_CHUNKS_DDL)
    assert CHUNKS_SCHEMA == legacy
    src = spark.createDataFrame(
        [(i, f"s{i % 7}", None if i % 5 else 1.5 * i) for i in range(300)],
        "id long, s string, x double",
    )
    old_dir = str(tmp_path / "legacy_chunks")
    rows = encode_table(src, chunk_rows=64).collect()
    spark.createDataFrame(rows, legacy).write.parquet(old_dir)
    back = spark.read.schema(CHUNKS_SCHEMA).parquet(old_dir)
    assert back.count() == len(rows)
    assert multiset_diff(src, decode_table(back, src.schema)).count() == 0
