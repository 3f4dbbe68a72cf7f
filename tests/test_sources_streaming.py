"""Catalog snapshot pinning, schema io parity (K2-K5), streaming
incremental encode."""

from __future__ import annotations

import os
import time

import pytest
from pyspark.sql import functions as F, types as T

from parquet2csv_spark.operators import decode_table, multiset_diff
from parquet2csv_spark.sources.catalog import ParquetDirCatalog, open_catalog
from parquet2csv_spark.sources.corpus import CORPUS_DDL, generate_corpus
from parquet2csv_spark.sources.schema_io import (
    export_schema_json,
    schema_from_json,
    schema_to_json,
    write_one_row_schema_file,
    write_schema_only_parquet,
)
from parquet2csv_spark.streaming.incremental import incremental_encode


def test_catalog_snapshot_pinning(spark, tmp_path):
    p = str(tmp_path / "t")
    spark.range(10).write.parquet(p)
    cat = open_catalog(spark)
    assert isinstance(cat, ParquetDirCatalog)  # no Iceberg jar in sandbox
    snap = cat.snapshot(p)
    assert cat.read(snap).count() == 10
    # overwrite the table → pinned read must fail loudly (the pinned
    # files are gone; an APPEND would have kept the old snapshot readable —
    # see test_snapshot_time_travel_after_append)
    time.sleep(1.1)  # mtime resolution
    spark.range(5).write.mode("overwrite").parquet(p)
    with pytest.raises(RuntimeError, match="mutated|deleted"):
        cat.read(snap)


def test_schema_json_roundtrip_with_dollar_names(spark):
    schema = T.StructType(
        [
            T.StructField("ID$", T.LongType(), False),
            T.StructField("PRIMARY_KEY_VAL$", T.StringType(), True),
            T.StructField("CREATED_DATE$", T.TimestampType(), True),
            T.StructField("SOURCE_SCN$", T.DecimalType(30, 0), True),
            T.StructField("SQL_OPERATION$", T.StringType(), True),
        ]
    )
    text = schema_to_json(schema)
    assert schema_from_json(text) == schema  # K4 → K5 identity, $ names intact


def test_export_schema_json_and_schema_only_parquet(spark, tmp_path):
    src = str(tmp_path / "src")
    spark.createDataFrame([(1, "a")], "id bigint, name string").write.parquet(src)
    out_json = str(tmp_path / "schema.json")
    export_schema_json(spark, src, out_json)
    schema = schema_from_json(open(out_json).read())
    assert [f.name for f in schema.fields] == ["id", "name"]
    # K3: zero-row schema-carrying parquet
    footer_only = str(tmp_path / "footer_only")
    write_schema_only_parquet(spark, schema, footer_only)
    back = spark.read.parquet(footer_only)
    assert back.count() == 0 and back.schema == schema


def test_one_row_schema_file(spark, tmp_path):
    schema = T.StructType(
        [
            T.StructField("ID$", T.LongType(), True),
            T.StructField("SQL_OPERATION$", T.StringType(), True),
            T.StructField("CREATED_DATE$", T.TimestampType(), True),
        ]
    )
    out = str(tmp_path / "one_row")
    write_one_row_schema_file(spark, schema, out, overrides={"SQL_OPERATION$": "INSERT"})
    back = spark.read.parquet(out)
    row = back.first()
    assert back.count() == 1
    assert row["ID$"] == 0 and row["SQL_OPERATION$"] == "INSERT"
    # reference write config: gzip, dictionary off
    files = [f for f in os.listdir(out) if f.endswith(".parquet")]
    assert files and ".gz." in files[0]


def test_streaming_incremental_encode(spark, tmp_path):
    in_dir = str(tmp_path / "incoming")
    out_dir = str(tmp_path / "encoded")
    ckpt = str(tmp_path / "ckpt")
    os.makedirs(in_dir)

    batch1 = generate_corpus(spark, 1000, seed=42)
    batch1.write.mode("append").parquet(in_dir)
    q = incremental_encode(
        spark, in_dir, CORPUS_DDL, out_dir, ckpt,
        group_cols=["repo"], order_cols=["path", "commit"], chunk_rows=512,
    )
    q.awaitTermination(120)

    batch2 = generate_corpus(spark, 2000, seed=43)
    batch2.write.mode("append").parquet(in_dir)
    q2 = incremental_encode(
        spark, in_dir, CORPUS_DDL, out_dir, ckpt,
        group_cols=["repo"], order_cols=["path", "commit"], chunk_rows=512,
    )
    q2.awaitTermination(120)

    from parquet2csv_spark.plans.lineage import generations

    # all committed chunks across both micro-batches decode to batch1+batch2
    all_chunks = spark.read.parquet(f"{out_dir}/chunks")
    assert len({g["snapshot_id"] for g in generations(spark, out_dir)}) >= 2
    dec = decode_table(all_chunks, CORPUS_DDL)
    expected = batch1.unionByName(batch2)
    assert multiset_diff(expected, dec).count() == 0


def test_stream_interval_join_boundaries(spark, tmp_path):
    """Stream-stream interval join: a click exactly `within` after the
    signup still joins (<=), one microsecond beyond does not; clicks
    before the signup never join; cross-user pairs never join."""
    import datetime

    from parquet2csv_spark.streaming.windows import interval_join

    base = datetime.datetime(2024, 1, 1, 12, 0, 0)
    hour = datetime.timedelta(hours=1)
    us = datetime.timedelta(microseconds=1)
    ddl = "event_id long, ts timestamp, user_id long, event_type string, value double"
    rows = [
        (1, base, 7, "signup", 5.0),
        (2, base + hour, 7, "click", 0.0),          # exactly +1h → joins
        (3, base + hour + us, 7, "click", 0.0),     # +1h+1us → no
        (4, base - us, 7, "click", 0.0),            # before signup → no
        (5, base + hour, 8, "click", 0.0),          # other user → no
        (6, base + datetime.timedelta(minutes=5), 7, "click", 0.0),  # joins
    ]
    p = str(tmp_path / "ev")
    spark.createDataFrame(rows, ddl).coalesce(1).write.parquet(p)
    got = {r["event_id"] for r in interval_join(spark, p, within="1 hour").collect()}
    assert got == {2, 6}


def test_stateful_running_totals_across_batches(spark, tmp_path):
    import datetime

    from parquet2csv_spark.streaming.stateful import running_user_totals

    ev_dir = str(tmp_path / "ev")
    ckpt = str(tmp_path / "ck")
    base = datetime.datetime(2024, 1, 1)
    ddl = "event_id long, ts timestamp, user_id long, value double"
    os.makedirs(ev_dir)

    from parquet2csv_spark.streaming.stateful import latest_totals

    out = str(tmp_path / "totals")
    spark.createDataFrame(
        [(1, base, 7, 10.0), (2, base, 7, 5.0), (3, base, 8, 1.0)], ddl
    ).write.mode("append").parquet(ev_dir)
    q = running_user_totals(spark, ev_dir, ckpt, out)
    q.awaitTermination(120)

    first = {r["user_id"]: (r["n_events"], r["total_value"]) for r in latest_totals(spark, out).collect()}
    assert first[7] == (2, 15.0) and first[8] == (1, 1.0)

    # second micro-batch: state must carry over (running totals, not batch)
    spark.createDataFrame(
        [(4, base + datetime.timedelta(hours=1), 7, 2.5)], ddl
    ).write.mode("append").parquet(ev_dir)
    q2 = running_user_totals(spark, ev_dir, ckpt, out)
    q2.awaitTermination(120)
    second = {r["user_id"]: (r["n_events"], r["total_value"]) for r in latest_totals(spark, out).collect()}
    assert second[7] == (3, 17.5), second


def test_late_data_dropped_by_watermark(spark, tmp_path):
    """Late-data semantics: with a 1-hour watermark and append output, an
    event arriving in a later micro-batch whose event time is far behind
    the checkpoint-persisted watermark is dropped — the already-finalized
    window is emitted exactly once, with the on-time count only."""
    import datetime

    base = datetime.datetime(2024, 1, 1, 0, 30)
    src = str(tmp_path / "ev_stream")
    ckpt = str(tmp_path / "ckpt")
    out = str(tmp_path / "out")
    os.makedirs(src)
    ddl = "event_id long, ts timestamp, event_type string, value double"
    schema_df = spark.createDataFrame(
        [(1, base, "click", 1.0), (2, base + datetime.timedelta(hours=10), "click", 1.0)],
        ddl,
    )
    # batch 1: events at 00:30 and 10:30 -> watermark persists at 09:30,
    # window [00:00,01:00) finalizes with n=1
    schema_df.coalesce(1).write.mode("append").parquet(src)

    def drain():
        stream = (
            spark.readStream.schema(schema_df.schema)
            .parquet(src)
            .withColumn("ts", F.col("ts").cast("timestamp"))
        )
        agg = (
            stream.withWatermark("ts", "1 hour")
            .groupBy(F.window("ts", "1 hour").alias("w"))
            .agg(F.count("*").alias("n"))
        )
        q = (
            agg.writeStream.outputMode("append")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start(path=out, format="parquet")
        )
        q.awaitTermination()

    drain()
    # batch 2 (resumed from the checkpoint): a LATE event back at 00:45,
    # far behind the restored 09:30 watermark -> dropped
    spark.createDataFrame(
        [(3, base + datetime.timedelta(minutes=15), "click", 1.0)], ddl
    ).coalesce(1).write.mode("append").parquet(src)
    drain()
    rows = [(r["w"]["start"].hour, r["n"]) for r in spark.read.parquet(out).collect()]
    # exactly one finalized emission of the 00:00 window, counting only the
    # on-time event; the late event neither reopened nor re-emitted it
    assert rows == [(0, 1)], rows


def test_snapshot_time_travel_after_append(spark, tmp_path):
    """Iceberg-style snapshot isolation over an append-only directory: an
    OLD snapshot keeps reading exactly its pinned files after new files
    land; mutation of a pinned file still fails loudly."""
    p = str(tmp_path / "tbl")
    spark.createDataFrame([(1, "a"), (2, "b")], "id long, v string").coalesce(1) \
        .write.mode("append").parquet(p)
    cat = ParquetDirCatalog(spark)
    snap1 = cat.snapshot(p)
    spark.createDataFrame([(3, "c")], "id long, v string").coalesce(1) \
        .write.mode("append").parquet(p)
    snap2 = cat.snapshot(p)
    assert snap1.snapshot_id != snap2.snapshot_id
    assert cat.read(snap1).count() == 2   # time travel: appended file invisible
    assert cat.read(snap2).count() == 3
    # mutating a pinned file breaks the old snapshot loudly
    victim = next(f for f in snap1.files if f.endswith(".parquet"))
    full = os.path.join(p, victim)
    os.utime(full, (0, 0))
    with pytest.raises(RuntimeError, match="mutated"):
        cat.read(snap1)


def test_catalog_empty_manifest_raises_descriptive(spark, tmp_path):
    # a pinned snapshot whose manifest holds no .parquet data files must
    # fail with a clear empty-snapshot message, not spark's zero-path error
    p = str(tmp_path / "empty_t")
    os.makedirs(p)
    with open(os.path.join(p, "data.txt"), "w") as f:
        f.write("not parquet")
    cat = ParquetDirCatalog(spark)
    snap = cat.snapshot(p)
    with pytest.raises(RuntimeError, match="no .parquet data files"):
        cat.read(snap)


def test_catalog_detects_same_second_rewrite(spark, tmp_path):
    # nanosecond mtimes: a same-size rewrite inside the same wall-clock
    # second must still be flagged as a mutation
    p = str(tmp_path / "t2")
    spark.range(10).write.parquet(p)
    cat = ParquetDirCatalog(spark)
    snap = cat.snapshot(p)
    rel, (size, mtime_ns) = next(
        (k, v) for k, v in snap.files.items() if k.endswith(".parquet")
    )
    fp = os.path.join(p, rel)
    # same size, mtime differing only in the sub-second part
    os.utime(fp, ns=(mtime_ns + 1, mtime_ns + 1))
    with pytest.raises(RuntimeError, match="mutated"):
        cat.read(snap)


def test_iceberg_catalog_snapshot_pinned_read(spark, tmp_path):
    """Production-path parity: with the Iceberg runtime jar on the
    classpath, a snapshot-pinned IcebergCatalog.read must see the frozen
    file set exactly like ParquetDirCatalog does over a plain directory.
    Skips cleanly in the jar-less sandbox — run on a cluster with e.g.
    ``spark-submit --packages org.apache.iceberg:iceberg-spark-runtime-4.0_2.13:1.8.1``
    (README: Running)."""
    from parquet2csv_spark.sources.catalog import IcebergCatalog

    try:
        icat = IcebergCatalog(spark)
    except ImportError:
        pytest.skip("Iceberg runtime jar not on classpath")

    # hadoop catalog over a temp dir (v2 catalogs resolve conf lazily, so
    # runtime conf.set works)
    spark.conf.set("spark.sql.catalog.it_tmp", "org.apache.iceberg.spark.SparkCatalog")
    spark.conf.set("spark.sql.catalog.it_tmp.type", "hadoop")
    spark.conf.set("spark.sql.catalog.it_tmp.warehouse", str(tmp_path / "wh"))
    spark.sql("CREATE TABLE it_tmp.db.t (id BIGINT) USING iceberg")
    spark.range(10).writeTo("it_tmp.db.t").append()
    snap0 = spark.sql(
        "SELECT snapshot_id FROM it_tmp.db.t.snapshots ORDER BY committed_at DESC LIMIT 1"
    ).collect()[0][0]
    spark.range(10, 15).writeTo("it_tmp.db.t").append()

    # pinned read sees the frozen snapshot; unpinned sees the append
    assert icat.read("it_tmp.db.t", snapshot_id=snap0).count() == 10
    assert icat.read("it_tmp.db.t").count() == 15


def test_session_windowed_counts(spark, tmp_path):
    import datetime

    from parquet2csv_spark.streaming.windows import session_windowed_counts

    base = datetime.datetime(2024, 1, 1)
    # user 7: events at 0,10,20 min (one session), then 120,125 (second);
    # user 8: one lone event
    rows = [
        (1, base + datetime.timedelta(minutes=m), 7, "click", 1.0)
        for m in [0, 10, 20, 120, 125]
    ] + [(9, base, 8, "view", 1.0)]
    p = str(tmp_path / "sess_ev")
    spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, event_type string, value double"
    ).write.parquet(p)
    out = session_windowed_counts(spark, p, gap="30 minutes").collect()
    by_user = {}
    for r in out:
        by_user.setdefault(r["user_id"], []).append(r["n"])
    assert sorted(by_user[7]) == [2, 3]  # two sessions: 3 events + 2 events
    assert by_user[8] == [1]


def test_streaming_dedup_within_watermark(spark, tmp_path):
    import datetime

    from parquet2csv_spark.streaming.windows import streaming_dedup

    base = datetime.datetime(2024, 1, 1)
    rows = [
        (1, base, "click", 1.0),
        (1, base + datetime.timedelta(minutes=5), "click", 1.0),  # dup key
        (2, base, "view", 2.0),
        (2, base + datetime.timedelta(minutes=1), "view", 2.0),   # dup key
        (3, base, "click", 3.0),
    ]
    p = str(tmp_path / "dup_ev")
    spark.createDataFrame(
        rows, "event_id long, ts timestamp, event_type string, value double"
    ).write.parquet(p)
    out = streaming_dedup(spark, p, key_cols=["event_id"]).collect()
    assert sorted(r["event_id"] for r in out) == [1, 2, 3]


def test_session_window_exact_gap_merges(spark, tmp_path):
    # an event exactly `gap` after its predecessor MERGES (session_window
    # splits only on strictly-greater gaps) — pins the boundary the
    # stream_sessionize_events oracle encodes with `>` (was wrongly `>=`)
    import datetime

    from parquet2csv_spark.streaming.windows import session_windowed_counts

    base = datetime.datetime(2024, 1, 1)
    rows = [
        (1, base, 7, "c", 1.0),
        (2, base + datetime.timedelta(minutes=30), 7, "c", 1.0),            # == gap → merge
        (3, base + datetime.timedelta(minutes=60, seconds=1), 7, "c", 1.0), # > gap → split
    ]
    p = str(tmp_path / "gap_ev")
    spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, event_type string, value double"
    ).write.parquet(p)
    out = sorted(r["n"] for r in session_windowed_counts(spark, p, gap="30 minutes").collect())
    assert out == [1, 2]


def test_catalog_single_file_snapshot(spark, tmp_path):
    # the driver CLI points at ONE parquet file: the manifest pins it
    # (keyed "."), reads work without basePath, and mutation still trips
    d = str(tmp_path / "single")
    spark.range(7).coalesce(1).write.parquet(d)
    fp = os.path.join(d, next(f for f in os.listdir(d) if f.endswith(".parquet")))
    cat = ParquetDirCatalog(spark)
    snap = cat.snapshot(fp)
    assert snap.n_files == 1 and cat.read(snap).count() == 7
    os.utime(fp, ns=(snap.files["."][1] + 1, snap.files["."][1] + 1))
    with pytest.raises(RuntimeError, match="mutated"):
        cat.read(snap)


def test_interval_join_multi_file_out_of_order_drain(spark, tmp_path):
    """VERDICT r6 #6 / ADVICE r6: a multi-file directory whose file order
    is NOT event-time order must drain equal to the batch join. The drain
    pins ``maxFilesPerTrigger`` so availableNow cannot split the directory
    into several micro-batches — if it did, the first (future-timestamped)
    file would advance the watermark past the second file's rows and the
    join would silently drop them relative to the batch oracle."""
    import datetime
    import time

    from parquet2csv_spark.streaming.windows import interval_join

    base = datetime.datetime(2024, 1, 1, 12, 0, 0)

    def mins(m):
        return base + datetime.timedelta(minutes=m)

    ddl = "event_id long, ts timestamp, user_id long, event_type string, value double"
    # file 1 (earliest mtime → admitted first): events ~10h in the future;
    # a split drain would set the watermark far past file 2's rows
    f_future = [(100 + i, mins(600 + i), 9, "click", 0.0) for i in range(5)]
    # file 2: the actual signup + clicks, hours EARLIER in event time
    f_past = [
        (1, mins(0), 7, "signup", 5.0),
        (2, mins(30), 7, "click", 0.0),   # +30min → joins (within 1h)
        (3, mins(90), 7, "click", 0.0),   # +90min → outside the window
    ]
    p = str(tmp_path / "ev")
    spark.createDataFrame(f_future, ddl).coalesce(1).write.mode("append").parquet(p)
    time.sleep(1.1)  # distinct mtimes pin the file admission order
    spark.createDataFrame(f_past, ddl).coalesce(1).write.mode("append").parquet(p)
    got = {
        r["event_id"]
        for r in interval_join(
            spark, p, within="1 hour", watermark="10 minutes"
        ).collect()
    }
    assert got == {2}


def test_windowed_counts_multi_file_out_of_order_drain(spark, tmp_path):
    """ADVICE r7: the same multi-file out-of-order hazard for a
    WATERMARKED AGGREGATION drain — without the single-batch pin, the
    future-timestamped first file advances the watermark and the second
    file's (event-time-earlier) rows are dropped from the windowed
    aggregation relative to the batch oracle."""
    import datetime
    import time

    from parquet2csv_spark.streaming.windows import windowed_event_counts

    base = datetime.datetime(2024, 1, 1, 12, 0, 0)

    def mins(m):
        return base + datetime.timedelta(minutes=m)

    ddl = "event_id long, ts timestamp, user_id long, event_type string, value double"
    f_future = [(100 + i, mins(600 + i), 9, "view", 1.0) for i in range(3)]
    f_past = [(1, mins(0), 7, "click", 2.0), (2, mins(10), 7, "click", 3.0)]
    p = str(tmp_path / "ev")
    spark.createDataFrame(f_future, ddl).coalesce(1).write.mode("append").parquet(p)
    time.sleep(1.1)  # distinct mtimes pin the file admission order
    spark.createDataFrame(f_past, ddl).coalesce(1).write.mode("append").parquet(p)
    rows = windowed_event_counts(spark, p, window="1 hour", watermark="10 minutes").collect()
    by_type = {(r["event_type"]): r["n"] for r in rows}
    # the event-time-earlier file's rows must survive the drain
    assert by_type == {"click": 2, "view": 3}
