"""Lineage + exact resume of partially completed encode jobs (north_star).

Every completed group emits a lineage record (input snapshot id, group key,
chunk count/range, codecs, bytes, wall-time) to a checkpoint table. A re-run
of the same (snapshot, job) anti-joins the pending salted groups against
the checkpoint and encodes ONLY the missing ones — exact resume. This is
batch state the reference has no analog for (it reprocesses whole files,
DataLoad.java:256-304); SURVEY.md §2.2 maps it to the joins/set-ops rows.

Crash-consistency model (no transactional catalog needed in the sandbox;
Iceberg's atomic append is the production drop-in):
  1. chunk files for a run are written under ``chunks/run=<run_id>/``;
  2. lineage rows for the run are appended only AFTER the chunk write
     completes (write-ahead of data, commit = lineage append);
  3. a crash between (1) and (2) leaves orphan chunk files; readers join
     chunks against lineage (status='done') so orphans are invisible, and
     the next resume re-encodes those groups multiset-exactly. A resume
     packs only the pending groups into its tasks, so its frames may
     differ byte-for-byte from a one-shot run's (the contract in
     ``codecs.selector``); ``chunks()`` therefore reads exactly one
     committed run per group — the min(run_id) semi-join below — and
     decode equality is the resume contract (verified in tests).

Resume state is read once per run. A driver-side Hadoop ``FileSystem``
probe of ``<out>/lineage`` comes first and launches no Spark job: with no
lineage yet, a fresh encode plans no lineage read at all. Otherwise one
bounded aggregate — one row per (snapshot, job, status, params)
generation, never one per group, carrying that generation's group count
and row/byte sums — is collected, and every resume check (digest
migration, params mismatch, legacy params) is evaluated on those rows in
the driver. The done-groups anti-join is always planned and reads lineage
lazily, when the chunk write runs: with no lineage the done set is an
empty local relation, which the optimizer's empty-relation propagation
drops from the join, so a fresh encode still runs no lineage job.

The commit is one aggregate over the run's written chunk metadata: one
``groupBy(group_key)`` yields the counts, sums and sorted distinct codec
tags of each group (the scan reads ``cols.codec``, never the frames), and
its lineage append carries an ``Observation`` of the run's own totals. The
run summary is those totals plus this (snapshot, job)'s done rows from the
start-of-run aggregate, so nothing re-reads lineage after the commit.

Fail-loud rule: lineage counts as empty in exactly two cases — the dir is
missing, or it holds only ``_``/``.``-prefixed entries (e.g. a crashed
append's ``_temporary/``). Any other read error (a corrupt or unreadable
lineage file) raises: treating it as "nothing committed" would re-encode
every group as a second generation into the same out_dir.
"""

from __future__ import annotations

import time
import uuid

from pyspark.sql import DataFrame, Observation, Row, SparkSession, functions as F
from pyspark.sql.types import StructType

from ..operators.encode import (
    CHUNKS_DDL,
    DEFAULT_CHUNK_BYTES,
    DEFAULT_CHUNK_ROWS,
    encode_salted,
    salt_groups,
)

LINEAGE_DDL = (
    "snapshot_id string, job_id string, run_id string, group_key string, "
    "n_chunks bigint, n_rows bigint, raw_bytes bigint, enc_bytes bigint, "
    "wall_ms bigint, codecs string, status string, committed_at timestamp, "
    "params string"
)


def _stored_lineage(spark: SparkSession, out_dir: str) -> DataFrame | None:
    """The lineage files under ``out_dir``, or None when the lineage counts
    as empty under the fail-loud rule (module docstring). The probe is
    driver-side Hadoop ``FileSystem`` calls only: URI-safe, no Spark job.
    The explicit schema reads a dir mixing pre-params and post-params
    files with ``params`` null for the old rows, and skips the
    footer-sampling job schema inference would run."""
    path = f"{out_dir.rstrip('/')}/lineage"
    hpath = spark.sparkContext._jvm.org.apache.hadoop.fs.Path(path)
    fs = hpath.getFileSystem(spark.sparkContext._jsc.hadoopConfiguration())
    if not fs.exists(hpath) or all(
        st.getPath().getName().startswith(("_", "."))
        for st in fs.listStatus(hpath)
    ):
        return None
    return spark.read.schema(LINEAGE_DDL).parquet(path)


def _empty(spark: SparkSession, ddl: str) -> DataFrame:
    """A zero-row DataFrame over an empty local relation: zero partitions,
    so reads of it launch no tasks (``createDataFrame`` of an empty list
    would be a Python RDD over ``defaultParallelism`` partitions)."""
    return spark.range(1).where(F.lit(False)).select(*[
        F.lit(None).cast(f.dataType).alias(f.name)
        for f in StructType.fromDDL(ddl).fields
    ])


def _totals() -> list:
    """Lineage-row count and row/byte sums of a set of lineage rows: a
    generation's in ``generations``, a run's in its commit observation."""
    return [
        F.count(F.lit(1)).alias("groups"),
        F.sum("n_rows").alias("rows"),
        F.sum("raw_bytes").alias("raw_bytes"),
        F.sum("enc_bytes").alias("enc_bytes"),
    ]


def _generations(lineage: DataFrame) -> list[Row]:
    return (
        lineage.groupBy("snapshot_id", "job_id", "status", "params")
        .agg(F.max("committed_at").alias("committed_at"), *_totals())
        .collect()
    )


def generations(spark: SparkSession, out_dir: str) -> list[Row]:
    """One row per (snapshot_id, job_id, status, params) generation in
    ``out_dir``'s lineage, with its latest ``committed_at``, its lineage
    row count (``groups``) and its ``rows``/``raw_bytes``/``enc_bytes``
    sums. Bounded by the number of generations, never by the number of
    groups. With no lineage it plans no query at all: even an empty one
    costs a cold session seconds of planning."""
    lineage = _stored_lineage(spark, out_dir)
    return [] if lineage is None else _generations(lineage)


class EncodeJob:
    """A resumable encode of one table snapshot into a chunks directory.

    Layout under ``out_dir``:
      chunks/run=<run_id>/*.parquet   — chunk rows (CHUNKS_DDL)
      lineage/*.parquet               — LINEAGE_DDL records
    """

    def __init__(
        self,
        spark: SparkSession,
        out_dir: str,
        snapshot_id: str,
        job_id: str = "encode",
        group_cols: list[str] | None = None,
        order_cols: list[str] | None = None,
        chunk_rows: int = DEFAULT_CHUNK_ROWS,
        chunk_bytes: int = DEFAULT_CHUNK_BYTES,
        group_factor: int = 1,
        legacy_params: str | None = None,
    ):
        self.spark = spark
        self.out_dir = out_dir.rstrip("/")
        # explicit caller assertion of the salting/chunking params a
        # pre-params lineage dir was written with — required to resume
        # lineage rows that predate the params column (see run())
        self.legacy_params = legacy_params
        self.snapshot_id = snapshot_id
        self.job_id = job_id
        self.group_cols = group_cols or ["repo"]
        self.order_cols = order_cols or ["path", "commit"]
        self.chunk_rows = chunk_rows
        self.chunk_bytes = chunk_bytes
        self.group_factor = group_factor
        # the salting/chunking parameters ARE part of the resume identity:
        # a different group_factor/chunk_bytes produces different salted
        # group keys, so resuming with changed params would re-encode
        # everything under NEW keys while chunks() still returns the OLD
        # committed groups too — duplicate rows. run() refuses the mismatch.
        # ord=nl records the within-group null-ordering convention
        # (asc_nulls_last, matching the r2-era pyarrow sort_indices default).
        # r3 briefly shipped Spark's default NULLS FIRST; folding the
        # convention into params means a resume against an r3-era dir is
        # refused like any other param mismatch instead of silently
        # producing differently-ordered chunks under the same gk:seq ids.
        self.params = (
            f"gc={','.join(self.group_cols)};oc={','.join(self.order_cols)};"
            f"cr={chunk_rows};cb={chunk_bytes};gf={group_factor};ord=nl"
        )

    # ------------------------------------------------------------ lineage io

    def lineage(self) -> DataFrame:
        """Empty only under the fail-loud rule: an unreadable lineage file
        raises when the read runs."""
        stored = _stored_lineage(self.spark, self.out_dir)
        return _empty(self.spark, LINEAGE_DDL) if stored is None else stored

    def _done(self, lineage: DataFrame) -> DataFrame:
        """This (snapshot, job)'s done rows of ``lineage``."""
        return lineage.filter(
            (F.col("snapshot_id") == self.snapshot_id)
            & (F.col("job_id") == self.job_id)
            & (F.col("status") == "done")
        )

    def done_groups(self, lineage: DataFrame | None = None) -> DataFrame:
        """Group keys (as ``_gk``) this (snapshot, job) has committed, out
        of ``lineage`` (default: a fresh read of the stored lineage)."""
        if lineage is None:
            lineage = self.lineage()
        return self._done(lineage).select(F.col("group_key").alias("_gk")).distinct()

    def _commit_rows(self, run_id: str) -> DataFrame:
        """Run ``run_id``'s lineage rows, derived FROM its persisted chunk
        files in one aggregate. Only the chunk metadata and each column's
        codec tag are read, never the frames."""
        written = self.spark.read.schema(CHUNKS_DDL).parquet(
            f"{self.out_dir}/chunks/run={run_id}"
        )
        codecs = F.array_sort(F.array_distinct(F.flatten(F.collect_list("cols.codec"))))
        return (
            written.groupBy("group_key")
            .agg(
                F.count("*").alias("n_chunks"),
                F.sum("n_rows").alias("n_rows"),
                F.sum("raw_bytes").alias("raw_bytes"),
                F.sum("enc_bytes").alias("enc_bytes"),
                F.sum("wall_ms").alias("wall_ms"),
                F.array_join(codecs, ",").alias("codecs"),
            )
            .select(
                F.lit(self.snapshot_id).alias("snapshot_id"),
                F.lit(self.job_id).alias("job_id"),
                F.lit(run_id).alias("run_id"),
                "group_key", "n_chunks", "n_rows", "raw_bytes", "enc_bytes",
                "wall_ms", "codecs",
                F.lit("done").alias("status"),
                F.current_timestamp().alias("committed_at"),
                F.lit(self.params).alias("params"),
            )
        )

    # --------------------------------------------------------------- running

    def _check_resume(self, gens: list[Row]) -> None:
        """Evaluate every resume check on the per-generation rows, in order.

        1. Digest migration. The catalog embeds a version in every snapshot
           id (catalog.py DIGEST_VERSION). When the current id carries the
           current version but this job_id's lineage holds done rows whose
           ids don't, those rows were committed under an older digest
           format: the SAME unchanged input now hashes to a DIFFERENT id,
           so a silent resume would see zero done groups and re-encode
           every group into this out_dir — a second generation under
           identical group keys. Hand-assigned snapshot ids skip the check.
        2. Params mismatch: a different group_factor/chunk_bytes salts into
           different group keys (see ``__init__``).
        3. Legacy params: rows written before params tracking carry no
           record of their salting config; defaults have changed since
           (group_factor 2 → 1), so silently resuming would re-encode those
           groups under NEW salted keys while chunks() still returns the
           old committed groups → duplicate rows. The caller must assert
           the legacy params match the current ones to proceed.
        """
        from ..sources.catalog import DIGEST_VERSION

        prefix = f"{DIGEST_VERSION}-"
        if self.snapshot_id.startswith(prefix):
            stale = sorted(
                g["snapshot_id"] for g in gens
                if g["job_id"] == self.job_id and g["status"] == "done"
                and g["snapshot_id"] is not None
                and not g["snapshot_id"].startswith(prefix)
            )
            if stale:
                raise RuntimeError(
                    f"lineage for job_id={self.job_id!r} contains snapshot ids in a "
                    f"pre-{DIGEST_VERSION} manifest-digest format (e.g. "
                    f"{stale[0]!r}); the digest inputs have changed "
                    f"since, so resume state for this out_dir cannot be trusted — "
                    f"encode into a new out_dir (or new job_id), or decode the old "
                    f"generation with the tooling that wrote it"
                )
        prior = [
            g for g in gens
            if g["snapshot_id"] == self.snapshot_id and g["job_id"] == self.job_id
        ]
        mismatched = sorted(
            g["params"] for g in prior
            if g["params"] is not None and g["params"] != self.params
        )
        if mismatched:
            raise RuntimeError(
                f"lineage for (snapshot={self.snapshot_id}, job={self.job_id}) "
                f"was committed with different salting/chunking params "
                f"({mismatched[0]!r} != {self.params!r}) — resume "
                f"would duplicate groups; use a new job_id or the original params"
            )
        legacy = any(g["params"] is None for g in prior)
        if legacy and self.legacy_params != self.params:
            raise RuntimeError(
                f"lineage for (snapshot={self.snapshot_id}, job={self.job_id}) "
                f"contains rows without recorded salting/chunking params — "
                f"cannot prove a resume is duplicate-free. Pass "
                f"legacy_params={self.params!r} (the params string the "
                f"original run used) to resume, or use a new job_id"
            )

    def run(self, df: DataFrame, only_groups_like: str | None = None) -> dict:
        """Encode all groups not yet committed. Returns driver-side summary.

        The summary counts this (snapshot, job)'s done lineage rows: those
        the start-of-run generations aggregate saw plus the ones this run
        commits, observed on its lineage append. A concurrent committer to
        the same (snapshot, job) between this run's start and its commit
        is not counted. A run that commits nothing returns the earlier
        runs' totals.

        ``only_groups_like``: test hook — restrict THIS run to pending
        groups whose key contains the substring, simulating a job that
        crashed after committing only part of its groups (same snapshot →
        same salting → the next run picks up exactly the rest).
        """
        run_id = uuid.uuid4().hex[:12]
        t0 = time.time()
        stored = _stored_lineage(self.spark, self.out_dir)
        gens = [] if stored is None else _generations(stored)
        self._check_resume(gens)
        salted = salt_groups(
            df, self.group_cols, self.order_cols, self.chunk_bytes,
            self.group_factor,
        )
        # with no lineage the done set is an empty local relation, which the
        # optimizer's empty-relation propagation drops from the join
        lineage = _empty(self.spark, LINEAGE_DDL) if stored is None else stored
        pending = salted.join(self.done_groups(lineage), on="_gk", how="left_anti")
        if only_groups_like is not None:
            pending = pending.filter(F.col("_gk").contains(only_groups_like))
        chunks = encode_salted(
            pending, self.order_cols, self.chunk_rows, self.chunk_bytes
        )
        chunks.write.mode("append").parquet(f"{self.out_dir}/chunks/run={run_id}")

        # commit = lineage append
        committed = Observation()
        self._commit_rows(run_id).observe(committed, *_totals()).write.mode(
            "append"
        ).parquet(f"{self.out_dir}/lineage")
        own = [
            g for g in gens
            if (g["snapshot_id"], g["job_id"], g["status"])
            == (self.snapshot_id, self.job_id, "done")
        ]
        # sums over zero rows are null: a run that commits nothing
        total = {
            k: sum(t[k] or 0 for t in [committed.get, *own]) for k in
            ("groups", "rows", "raw_bytes", "enc_bytes")
        }
        return {
            "run_id": run_id,
            "wall_s": time.time() - t0,
            "groups_done": total["groups"],
            "rows": total["rows"],
            "raw_bytes": total["raw_bytes"],
            "enc_bytes": total["enc_bytes"],
        }

    # --------------------------------------------------------------- reading

    def chunks(self) -> DataFrame:
        """Committed chunks only, exactly one run per group.

        The lineage records which ``run_id`` committed each group, so the
        valid chunk set is the semi-join of the chunks files against the
        broadcast ``(group_key, min committed run)`` pairs of THIS
        (snapshot, job). That single join closes every duplicate class at
        once, with zero wide exchange of the binary frames:

        - orphan runs (crash after chunk write, before lineage append):
          their run_id has no lineage row — excluded;
        - another generation in the same out_dir (same group keys under a
          different snapshot/job — positional gk:seq chunk ids collide
          ACROSS generations, and a per-chunk-id winner pick could splice
          generations with different chunk counts): its runs belong to
          other lineage rows — excluded;
        - a group double-committed by concurrent runs: ``min(run_id)``
          pins one committed run per group, so a group's chunks are never
          mixed across runs even in that race.

        (An earlier version dropDuplicates'd on chunk_id, hash-exchanging
        every frame payload — a full-data shuffle at 100 TB — and could
        still splice coexisting generations; plan-asserted gone.)
        """
        # explicit schema with `run string`: without it Spark's partition
        # TYPE INFERENCE parses the run=<12-hex> dir name, and an all-digit
        # hex id (~1 in 280 runs, e.g. run=012345678901 or 12e345678901)
        # becomes a Long/Double whose string form drops the leading zero /
        # gains an exponent — the semi-join below would then silently drop
        # that entire committed run (review finding r4)
        all_chunks = self.spark.read.schema(CHUNKS_DDL + ", run string").parquet(
            f"{self.out_dir}/chunks"
        )
        committed = (
            self._done(self.lineage())
            .groupBy("group_key")
            .agg(F.min("run_id").alias("run"))
        )
        return all_chunks.join(
            F.broadcast(committed), on=["group_key", "run"], how="left_semi"
        )
