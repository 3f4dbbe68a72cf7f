#!/usr/bin/env python
"""Cluster driver CLI — the spark-submit analog of the reference's
``prq2csv`` entry points (DataLoad.java:95-116 usage, :256-304 dispatch),
plus the encode/decode/resume job the reference lacks.

    spark-submit --py-files p2c.zip driver.py encode \
        --input /data/source_code --out /data/enc --job-id nightly
    spark-submit ... driver.py decode --chunks /data/enc --schema-json s.json --out /data/restored \
        --filter "ts >= 2024-01-10T00:00:00"   # selective decode via zone maps (repeatable)
    spark-submit ... driver.py csv --input f.parquet --out f_csv        # entry point A
    spark-submit ... driver.py to-json --input f.parquet --out f.schema.json   # B
    spark-submit ... driver.py from-json --input f.schema.json --out footer_only  # C
    spark-submit ... driver.py one-row-schema --input f.parquet --out one_row    # D

Zone handling (`-tz`, DataLoad.java:202-226) maps to
``--timezone`` → ``spark.sql.session.timeZone``.

Package for a real cluster:  ``python tools/package.py`` → dist/p2c.zip.
"""

from __future__ import annotations

import argparse
import json
import logging
import sys


def build_parser() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser(prog="p2c-spark")
    p.add_argument("--timezone", default="UTC")
    p.add_argument("--cpus", type=int, default=None, help="local[N] when not on a cluster")
    sub = p.add_subparsers(dest="cmd", required=True)

    enc = sub.add_parser("encode", help="resumable grouped encode with commit markers")
    enc.add_argument("--input", required=True)
    enc.add_argument("--out", required=True)
    enc.add_argument("--job-id", default="encode")
    enc.add_argument("--group-cols", default="repo")
    enc.add_argument("--order-cols", default="path,commit")
    enc.add_argument("--chunk-rows", type=int, default=65536)
    enc.add_argument("--chunk-bytes", type=int, default=8 << 20)

    dec = sub.add_parser("decode", help="reconstruct a table from chunks")
    dec.add_argument("--chunks", required=True)
    dec.add_argument("--schema-json", required=True)
    dec.add_argument("--out", default=None,
                     help="output parquet dir (required unless --stats-only)")
    dec.add_argument(
        "--snapshot-id", default=None,
        help="pin the committed generation to decode (default: latest)",
    )
    dec.add_argument(
        "--decode-job-id", default=None,
        help="pin the encode job_id to decode (default: latest)",
    )
    dec.add_argument(
        "--stats-only", action="store_true",
        help="don't decode: print the scan_stats selectivity preview "
             "(total vs kept chunks/rows under --filter, from one "
             "aggregate over the chunk zone maps + Bloom filters) and "
             "exit 0",
    )
    dec.add_argument(
        "--columns", default=None,
        help="comma-separated projection: decode ONLY these columns' "
             "frames (column pruning through the decode — other columns' "
             "frames are never touched). Columns used in --filter must be "
             "included.",
    )
    dec.add_argument(
        "--filter", action="append", default=[], dest="filters",
        metavar="'COL OP VALUE'",
        help="selective decode: predicate routed through the chunk zone "
             "maps (chunks that provably can't match are never decoded), "
             "then re-applied row-exactly. Repeatable (AND semantics). OP "
             "in >= > <= < == in; 'in' joins values with '|'. Dates/"
             "timestamps in ISO form. Examples: \"ts >= 2024-01-10T00:00:00\""
             ", \"doc_id in 5|9000000\". Known limitation (ADVICE r7): '|' "
             "is not escapable, so a STRING value containing '|' cannot be "
             "expressed in an 'in' list (it would mis-split) — use '==' "
             "for such values",
    )

    ver = sub.add_parser("verify", help="bit-identity check: chunks vs source")
    ver.add_argument("--input", required=True)
    ver.add_argument("--chunks", required=True)
    ver.add_argument("--job-id", default="encode")

    csv = sub.add_parser("csv", help="reference entry point A: parquet → csv")
    csv.add_argument("--input", required=True)
    csv.add_argument("--out", required=True)

    tj = sub.add_parser("to-json", help="reference entry point B: schema export")
    tj.add_argument("--input", required=True)
    tj.add_argument("--out", required=True)

    fj = sub.add_parser("from-json", help="reference entry point C: schema import")
    fj.add_argument("--input", required=True)
    fj.add_argument("--out", required=True)

    ors = sub.add_parser("one-row-schema", help="reference entry point D")
    ors.add_argument("--input", required=True)
    ors.add_argument("--out", required=True)
    return p


def _parse_cli_filters(specs: list[str], schema) -> list[tuple]:
    """``--filter 'COL OP VALUE'`` strings → decode_table filter triples,
    with VALUE parsed by the schema type of COL (ISO dates/timestamps,
    ints, floats, decimals; anything else stays a string). ``in`` takes a
    ``|``-joined value list. Errors are argparse-style SystemExit so a bad
    predicate fails the command before any Spark work."""
    import datetime
    import decimal

    from parquet2csv_spark.operators.decode import FILTER_OPS, INT_TYPES

    # types the row-exact re-apply can compare natively; anything else
    # (binary, arrays, maps, structs) is rejected at parse time so the
    # error is an argparse-style SystemExit, not a runtime cast failure
    # deep in the Spark job (ADVICE r6)
    _FILTERABLE = INT_TYPES | {"float", "double", "date", "timestamp",
                               "timestamp_ntz", "string", "boolean"}

    def conv(raw: str, t: str):
        if t in INT_TYPES:
            return int(raw)
        if t in ("float", "double"):
            return float(raw)
        if t == "date":
            return datetime.date.fromisoformat(raw)
        if t in ("timestamp", "timestamp_ntz"):
            return datetime.datetime.fromisoformat(raw)
        if t.startswith("decimal"):
            return decimal.Decimal(raw)
        if t == "boolean":
            if raw.lower() in ("true", "1"):
                return True
            if raw.lower() in ("false", "0"):
                return False
            raise ValueError(f"expected true/false, got {raw!r}")
        return raw

    out: list[tuple] = []
    for spec in specs:
        parts = spec.split(None, 2)
        if len(parts) != 3:
            raise SystemExit(f"bad --filter {spec!r}: expected 'COL OP VALUE'")
        col, op, raw = parts
        if op not in FILTER_OPS:
            raise SystemExit(f"bad --filter op {op!r}: use {' '.join(FILTER_OPS)}")
        field = next((f for f in schema.fields if f.name == col), None)
        if field is None:
            raise SystemExit(f"--filter column {col!r} not in the decode schema")
        t = field.dataType.simpleString()
        if not (t in _FILTERABLE or t.startswith("decimal")):
            raise SystemExit(
                f"--filter column {col!r} has type {t}, which the row "
                f"filter can't compare; filterable types: int/float/"
                f"decimal/date/timestamp/string/boolean"
            )
        try:
            val = ([conv(v, t) for v in raw.split("|")] if op == "in"
                   else conv(raw, t))
        except (ValueError, decimal.InvalidOperation) as e:
            raise SystemExit(f"bad --filter value {raw!r} for {t} column {col!r}: {e}")
        out.append((col, op, val))
    return out


def _runs_python(args: argparse.Namespace) -> bool:
    """Whether the command's work always runs an Arrow (Python worker)
    stage. ``csv`` runs one only for float/double columns and is left out."""
    return args.cmd in ("encode", "verify") or (
        args.cmd == "decode" and not args.stats_only
    )


# applicationIds of the SparkContexts a warm-up already ran in: the daemon
# it starts lives as long as its context, so later commands sharing that
# context (in-process callers) skip the warm-up job
_WARMED: set[str] = set()


def _warm_python_workers(spark) -> None:
    """Run one 1-task Arrow SQL job, which starts PySpark's worker daemon."""
    spark.range(0, 1, 1, 1).mapInArrow(lambda batches: batches, "id long").collect()


def _start_warm_up(spark):
    """Start the Python worker daemon in the background while the command
    plans and runs its JVM-only stages; the caller joins the thread.

    A cold daemon imports pyspark from ``$SPARK_HOME/python/lib/pyspark.zip``,
    which ships sources only, so every start compiles them: ``import
    pyspark.daemon`` takes 1.32 s from the zip against 0.24 s from
    site-packages. Paid inside the encode's first Arrow stage, that made
    the stage 3.4-3.9 s cold against 2.1 s with the daemon up (4-core
    box, 25k-row corpus), while ~1 s of driver planning and the size,
    broadcast and shuffle-map stages before it leave the Python side idle.

    One task is enough: forked workers inherit the daemon's imports. Two
    alternatives were measured and rejected. A preloading
    ``spark.python.daemon.module`` breaks the ``--py-files p2c.zip``
    deployment, because the daemon cannot import a module shipped that
    way. A warm-up across all slots holds the slots the size pass needs:
    a cold encode+decode measured 7.9-8.8 s with it. The warm-up is an
    Arrow SQL job, not an RDD job, because a daemon an RDD job started
    measured not to serve Arrow UDFs.

    The thread inherits the caller's job group. A failed warm-up only
    logs a warning: the command's own stages start the daemon anyway.
    Runs at most once per SparkContext; returns None when it does not run.
    """
    from pyspark import InheritableThread

    app_id = spark.sparkContext.applicationId
    if app_id in _WARMED:
        return None
    _WARMED.add(app_id)

    def warm() -> None:
        try:
            _warm_python_workers(spark)
        except Exception as e:  # the command's result must not depend on it
            logging.getLogger("p2c-spark").warning(
                "Python worker warm-up failed: %r", e, exc_info=True
            )

    thread = InheritableThread(target=warm, name="p2c-warm-up", daemon=True)
    thread.start()
    return thread


def main(argv: list[str] | None = None, stop_session: bool = True) -> int:
    """``stop_session=False`` leaves the SparkSession running — for
    in-process callers (tests) sharing one session across commands."""
    args = build_parser().parse_args(argv)
    from parquet2csv_spark.session import get_spark

    spark = get_spark(cpus=args.cpus)
    spark.conf.set("spark.sql.session.timeZone", args.timezone)
    warm_up = _start_warm_up(spark) if _runs_python(args) else None
    try:
        rc = _run(args, spark)
    finally:
        if warm_up is not None:
            warm_up.join()
    if stop_session:
        spark.stop()
    return rc


def _run(args: argparse.Namespace, spark) -> int:
    """Dispatch one parsed command; returns its exit code."""
    if args.cmd == "encode":
        from parquet2csv_spark.plans.lineage import EncodeJob, write_text
        from parquet2csv_spark.sources.catalog import ParquetDirCatalog

        cat = ParquetDirCatalog(spark)
        snap = cat.snapshot(args.input)
        df = cat.read(snap)
        job = EncodeJob(
            spark, args.out, snapshot_id=snap.snapshot_id, job_id=args.job_id,
            group_cols=args.group_cols.split(","), order_cols=args.order_cols.split(","),
            chunk_rows=args.chunk_rows, chunk_bytes=args.chunk_bytes,
        )
        summary = job.run(df)
        write_text(spark, f"{args.out.rstrip('/')}/schema.json",
                   json.dumps(df.schema.jsonValue()))
        print(json.dumps({"snapshot_id": snap.snapshot_id, **summary}))
    elif args.cmd == "decode":
        from pyspark.sql.types import StructType

        from parquet2csv_spark.operators import decode_table

        schema = StructType.fromJson(json.load(open(args.schema_json)))
        if not args.stats_only and not args.out:
            raise SystemExit("decode needs --out (or pass --stats-only)")
        if args.columns:
            want = [c.strip() for c in args.columns.split(",") if c.strip()]
            by_name = {f.name: f for f in schema.fields}
            missing = [c for c in want if c not in by_name]
            if missing:
                raise SystemExit(
                    f"--columns {missing} not in the decode schema "
                    f"(have: {', '.join(by_name)})"
                )
            schema = StructType([by_name[c] for c in want])
        filters = _parse_cli_filters(args.filters, schema) or None
        # accept either a raw chunks dir or an EncodeJob out_dir (whose
        # layout is <out>/chunks/run=*/ + <out>/commits/): in the latter
        # case decode ONLY committed chunks of ONE (snapshot_id, job_id)
        # generation. An out_dir can legitimately hold several committed
        # generations (several snapshots or jobs); grouped chunk ids are
        # positional (group_key:seq, not content-addressed), so mixing
        # generations that share group keys would splice chunks from
        # different encodes into one decode. Default: the generation with
        # the latest committed_at; pin explicitly with --snapshot-id /
        # --decode-job-id. The probe and the pick are driver-side Hadoop
        # FileSystem calls (URI-safe) and run no Spark job.
        from parquet2csv_spark.plans.lineage import EncodeJob, generations, path_exists

        if path_exists(spark, f"{args.chunks.rstrip('/')}/chunks"):
            # a run that crashed before its commit marker leaves chunks/
            # without commits/ — no generations, the clean error path below
            done = [
                g for g in generations(spark, args.chunks)
                if (not args.snapshot_id or g["snapshot_id"] == args.snapshot_id)
                and (not args.decode_job_id or g["job_id"] == args.decode_job_id)
            ]
            if not done:
                print(json.dumps({
                    "error": "no committed run matches the requested "
                             "snapshot-id/job-id in this out_dir",
                    "snapshot_id": args.snapshot_id,
                    "job_id": args.decode_job_id,
                }))
                return 3
            latest = max(done, key=lambda g: g["committed_at"])
            job = EncodeJob(
                spark, args.chunks,
                snapshot_id=latest["snapshot_id"], job_id=latest["job_id"],
            )
            chunks = job.chunks(latest["runs"])
            picked = {"snapshot_id": latest["snapshot_id"], "job_id": latest["job_id"]}
        else:
            chunks = spark.read.parquet(args.chunks)
            picked = {}
        if args.stats_only:
            from parquet2csv_spark.operators import scan_stats

            st = scan_stats(chunks, schema, filters or [])
            print(json.dumps({**st, **picked}))
            return 0
        decode_table(chunks, schema, filters=filters).write.mode(
            "overwrite"
        ).parquet(args.out)
        out_info = {"decoded_to": args.out, **picked}
        if filters:
            # echo 'in' values in the '|'-joined form the CLI accepts so
            # the printed spec round-trips back into --filter (ADVICE r6)
            out_info["filters"] = [
                [c, o, "|".join(map(str, v)) if o == "in" else str(v)]
                for c, o, v in filters
            ]
        print(json.dumps(out_info))
    elif args.cmd == "verify":
        from parquet2csv_spark.operators import decode_table, multiset_diff
        from parquet2csv_spark.plans.lineage import EncodeJob
        from parquet2csv_spark.sources.catalog import ParquetDirCatalog

        # verify ONLY committed chunks: orphan chunk files left by a crashed
        # run (later resumed) would otherwise decode as duplicates and fail
        # bit-identity even though the committed dataset is correct
        cat = ParquetDirCatalog(spark)
        snap = cat.snapshot(args.input)
        job = EncodeJob(
            spark, args.chunks, snapshot_id=snap.snapshot_id, job_id=args.job_id
        )
        runs = job.runs()
        if not runs:
            # fail loudly: no commit marker for this snapshot/job-id (or
            # nothing was encoded) is a usage error, not a data-corruption
            # verdict; decided from the markers, before any Spark job
            print(json.dumps({
                "error": "no committed chunks for this snapshot/job-id",
                "snapshot_id": snap.snapshot_id, "job_id": args.job_id,
            }))
            return 3
        src = cat.read(snap)
        chunks = job.chunks(runs)
        dec = decode_table(chunks, src.schema)
        diff = multiset_diff(src, dec).count()
        print(json.dumps({"multiset_diff": diff, "bit_identical": diff == 0}))
        return 0 if diff == 0 else 2
    elif args.cmd == "csv":
        from parquet2csv_spark.functions.formatting import parquet_to_csv

        parquet_to_csv(spark, args.input, args.out)
        print(json.dumps({"csv": args.out}))
    elif args.cmd == "to-json":
        from parquet2csv_spark.sources.schema_io import export_schema_json

        export_schema_json(spark, args.input, args.out)
        print(json.dumps({"schema_json": args.out}))
    elif args.cmd == "from-json":
        from parquet2csv_spark.sources.schema_io import (
            schema_from_json,
            write_schema_only_parquet,
        )

        schema = schema_from_json(open(args.input).read())
        write_schema_only_parquet(spark, schema, args.out)
        print(json.dumps({"footer_only_parquet": args.out}))
    elif args.cmd == "one-row-schema":
        from parquet2csv_spark.sources.schema_io import (
            parquet_schema,
            write_one_row_schema_file,
        )

        schema = parquet_schema(spark, args.input)
        write_one_row_schema_file(spark, schema, args.out)
        print(json.dumps({"one_row_schema_file": args.out}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
