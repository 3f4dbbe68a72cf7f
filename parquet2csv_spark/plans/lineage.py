"""Commit markers + exact resume of partially completed encode jobs (north_star).

Every encode run writes its chunk files, then commits them with one small
JSON marker. A re-run of the same (snapshot, job) anti-joins the pending
salted groups against the groups its committed runs hold and encodes ONLY
the missing ones — exact resume. This is batch state the reference has no
analog for (it reprocesses whole files, DataLoad.java:256-304); SURVEY.md
§2.2 maps it to the joins/set-ops rows.

Layout under ``out_dir``:
  chunks/run=<run_id>/*.parquet  — chunk rows (CHUNKS_SCHEMA)
  commits/<run_id>.json          — the run's commit marker: snapshot_id,
                                   job_id, run_id, params, committed_at
                                   and the run's totals (groups, rows,
                                   raw_bytes, enc_bytes)

Crash-consistency model (no transactional catalog needed in the sandbox;
Iceberg's atomic append is the production drop-in):
  1. chunk files for a run are written under ``chunks/run=<run_id>/``;
  2. only AFTER that write returns, the driver writes the marker through
     the Hadoop ``FileSystem``: to ``commits/_<run_id>.json`` first, then
     renamed into place, so a reader never sees a half-written marker;
  3. a crash between (1) and (2) leaves orphan chunk files: a run without
     a marker is invisible to every reader, and the next run re-encodes
     exactly its groups. A resume packs only the pending groups into its
     tasks, so its frames may differ byte-for-byte from a one-shot run's
     (the contract in ``codecs.selector``); ``chunks()`` therefore reads
     exactly one committed run per group, and decode equality is the
     resume contract (verified in tests).

Everything a command decides before its data job comes from the markers,
read on the driver: O(runs) small files, no Spark job. The resume checks
(digest migration, params mismatch) and ``generations()`` run on them. The
done groups are the ``group_key`` column of the committed runs' chunk
files, read lazily inside the chunk write's anti-join; with no committed
run they are an empty local relation, which the optimizer's empty-relation
propagation drops from the join. The run's totals come from an
``Observation`` on the chunk write itself, so nothing is re-read after it.

Fail-loud rule: markers count as absent in exactly one case — the
``commits/`` dir is missing or holds only ``_``/``.``-prefixed entries
(a temp marker of a crashed commit, checksum files). A marker that does
not parse raises ``ValueError`` naming the file: treating it as "not
committed" would re-encode its groups as a second run into the same
out_dir. An out_dir written before markers existed (a ``lineage/``
parquet table and no ``commits/``) is refused, because its commits cannot
be read without the tooling that wrote them.
"""

from __future__ import annotations

import datetime
import json
import time
import uuid

from pyspark.sql import DataFrame, Observation, Row, SparkSession, functions as F
from pyspark.sql.types import (
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

from ..operators.encode import (
    CHUNKS_SCHEMA,
    DEFAULT_CHUNK_BYTES,
    DEFAULT_CHUNK_ROWS,
    encode_salted,
    salt_groups,
)
from ..session import jvm_class


# the schema of the ``lineage()`` view: one row per committed (run, group)
LINEAGE_SCHEMA = StructType([StructField(name, t) for name, t in (
    ("snapshot_id", StringType()), ("job_id", StringType()),
    ("run_id", StringType()), ("group_key", StringType()),
    ("n_chunks", LongType()), ("n_rows", LongType()),
    ("raw_bytes", LongType()), ("enc_bytes", LongType()),
    ("wall_ms", LongType()), ("codecs", StringType()), ("status", StringType()),
    ("committed_at", TimestampType()), ("params", StringType()),
)])
# a committed run's chunk rows with their ``run`` partition column
_RUN_CHUNKS_SCHEMA = StructType([*CHUNKS_SCHEMA.fields, StructField("run", StringType())])
_TOTALS = ("groups", "rows", "raw_bytes", "enc_bytes")
_MARKER_FIELDS = ("snapshot_id", "job_id", "run_id", "params", "committed_at", *_TOTALS)


# ----------------------------------------------------- Hadoop FileSystem io

def hadoop_fs(spark: SparkSession, path: str):
    """``(FileSystem, Path)`` for ``path``: plain paths and URIs alike."""
    hpath = jvm_class(spark, "org.apache.hadoop.fs.Path")(path)
    return hpath.getFileSystem(spark.sparkContext._jsc.hadoopConfiguration()), hpath


def path_exists(spark: SparkSession, path: str) -> bool:
    fs, hpath = hadoop_fs(spark, path)
    return fs.exists(hpath)


def write_text(spark: SparkSession, path: str, text: str) -> None:
    """Write ``text`` (UTF-8) to ``path``, replacing any file there."""
    fs, hpath = hadoop_fs(spark, path)
    out = fs.create(hpath, True)
    try:
        out.write(bytearray(text.encode()))
    finally:
        out.close()


def read_text(spark: SparkSession, path: str) -> str:
    fs, hpath = hadoop_fs(spark, path)
    stream = fs.open(hpath)
    try:
        return jvm_class(spark, "org.apache.commons.io.IOUtils").toString(stream, "UTF-8")
    finally:
        stream.close()


def _entries(fs, hpath) -> list:
    """The committed entries of dir ``hpath``: all but ``_``/``.``-prefixed
    ones (a temp marker, a crashed append's ``_temporary/``, ``.crc``
    files). Empty when the dir is missing."""
    if not fs.exists(hpath):
        return []
    return [
        st.getPath() for st in fs.listStatus(hpath)
        if not st.getPath().getName().startswith(("_", "."))
    ]


# ------------------------------------------------------------------ markers

def _parse_marker(path: str, text: str) -> dict:
    try:
        marker = json.loads(text)
        missing = [k for k in _MARKER_FIELDS if k not in marker]
        if missing:
            raise ValueError(f"missing fields {missing}")
        if not (all(isinstance(marker[k], str) for k in _MARKER_FIELDS[:5])
                and all(isinstance(marker[k], int) for k in _TOTALS)):
            raise ValueError("a field has the wrong type")
        if f"{marker['run_id']}.json" != path.rsplit("/", 1)[-1]:
            raise ValueError(f"run_id {marker['run_id']!r} does not match the file name")
        marker["committed_at"] = datetime.datetime.fromisoformat(marker["committed_at"])
        if marker["committed_at"].tzinfo is None:
            raise ValueError("committed_at has no UTC offset")
    except (ValueError, TypeError) as e:
        raise ValueError(f"corrupt commit marker {path}: {e}") from e
    return marker


def read_markers(spark: SparkSession, out_dir: str) -> list[dict]:
    """Every commit marker under ``out_dir``, read on the driver (module
    docstring: fail-loud rule, pre-marker refusal)."""
    out_dir = out_dir.rstrip("/")
    fs, commits = hadoop_fs(spark, f"{out_dir}/commits")
    paths = _entries(fs, commits)
    if not paths and _entries(fs, hadoop_fs(spark, f"{out_dir}/lineage")[1]):
        raise RuntimeError(
            f"{out_dir} holds a lineage/ table and no commits/ markers: it was "
            f"written by an encode that predates commit markers. Encode into a "
            f"new out_dir, or decode it with the tooling that wrote it"
        )
    return [_parse_marker(p.toString(), read_text(spark, p.toString())) for p in paths]


def generations(spark: SparkSession, out_dir: str) -> list[Row]:
    """One row per (snapshot_id, job_id, status, params) generation in
    ``out_dir``, with its latest ``committed_at``, its committed ``runs``
    (sorted run ids, which ``EncodeJob.chunks`` takes) and the sums of their
    ``groups``/``rows``/``raw_bytes``/``enc_bytes``. Read from the markers:
    no Spark job, O(runs) driver work."""
    gens: dict[tuple, dict] = {}
    for m in read_markers(spark, out_dir):
        g = gens.setdefault((m["snapshot_id"], m["job_id"], m["params"]), {
            "snapshot_id": m["snapshot_id"], "job_id": m["job_id"],
            "status": "done", "params": m["params"],
            "committed_at": m["committed_at"], "runs": [],
            **dict.fromkeys(_TOTALS, 0),
        })
        g["committed_at"] = max(g["committed_at"], m["committed_at"])
        g["runs"].append(m["run_id"])
        for k in _TOTALS:
            g[k] += m[k]
    return [Row(**{**g, "runs": sorted(g["runs"])}) for g in gens.values()]


def _empty(spark: SparkSession, schema: StructType) -> DataFrame:
    """A zero-row DataFrame over an empty local relation: zero partitions,
    so reads of it launch no tasks (``createDataFrame`` of an empty list
    would be a Python RDD over ``defaultParallelism`` partitions)."""
    return spark.range(1).where(F.lit(False)).select(*[
        F.lit(None).cast(f.dataType).alias(f.name)
        for f in schema.fields
    ])


class EncodeJob:
    """A resumable encode of one table snapshot into an out_dir.

    Layout under ``out_dir`` (module docstring):
      chunks/run=<run_id>/*.parquet   — chunk rows (CHUNKS_SCHEMA)
      commits/<run_id>.json           — one commit marker per run

    A run is committed once its marker is in place; it is written after
    the run's chunk files, so a run without one (a crash in between) is an
    orphan that no reader sees and the next run re-encodes.
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
    ):
        self.spark = spark
        self.out_dir = out_dir.rstrip("/")
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

    # ------------------------------------------------------------- commits

    def _own(self, markers: list[dict]) -> list[dict]:
        """This (snapshot, job)'s markers."""
        return [
            m for m in markers
            if (m["snapshot_id"], m["job_id"]) == (self.snapshot_id, self.job_id)
        ]

    def runs(self) -> list[str]:
        """The committed run ids of this (snapshot, job), sorted."""
        markers = read_markers(self.spark, self.out_dir)
        return sorted(m["run_id"] for m in self._own(markers))

    def _read_runs(self, runs: list[str]) -> DataFrame:
        """The chunk rows of ``runs`` with their ``run`` partition column.
        The explicit schema types ``run`` as a string: without it Spark's
        partition TYPE INFERENCE parses the run=<12-hex> dir name, and an
        all-digit hex id (~1 in 280 runs, e.g. run=012345678901) becomes a
        Long whose string form drops the leading zero (review finding r4)."""
        base = f"{self.out_dir}/chunks"
        return (
            self.spark.read.schema(_RUN_CHUNKS_SCHEMA)
            .option("basePath", base)
            .parquet(*[f"{base}/run={r}" for r in runs])
        )

    def _write_marker(self, marker: dict) -> None:
        """Commit: write the marker to a ``_`` temp name, then rename it
        into place (readers skip ``_`` names)."""
        final = f"{self.out_dir}/commits/{marker['run_id']}.json"
        tmp = f"{self.out_dir}/commits/_{marker['run_id']}.json"
        write_text(self.spark, tmp, json.dumps(marker, sort_keys=True))
        fs, src = hadoop_fs(self.spark, tmp)
        if not fs.rename(src, hadoop_fs(self.spark, final)[1]):
            raise OSError(f"could not commit {final}: rename from {tmp} failed")

    def lineage(self) -> DataFrame:
        """A LINEAGE_SCHEMA view of every committed run in ``out_dir``: one row
        per (run, group), aggregated from the chunk metadata (each column's
        codec tag, never the frames) plus the run's marker fields."""
        markers = read_markers(self.spark, self.out_dir)
        if not markers:
            return _empty(self.spark, LINEAGE_SCHEMA)
        by_run = F.create_map(*[
            v for m in markers for v in (
                F.lit(m["run_id"]),
                F.struct(
                    F.lit(m["snapshot_id"]).alias("snapshot_id"),
                    F.lit(m["job_id"]).alias("job_id"),
                    F.lit(m["committed_at"].isoformat()).cast("timestamp")
                    .alias("committed_at"),
                    F.lit(m["params"]).alias("params"),
                ),
            )
        ])
        codecs = F.array_sort(F.array_distinct(F.flatten(F.collect_list("cols.codec"))))
        return (
            self._read_runs([m["run_id"] for m in markers])
            .groupBy("run", "group_key")
            .agg(
                F.count("*").alias("n_chunks"),
                F.sum("n_rows").alias("n_rows"),
                F.sum("raw_bytes").alias("raw_bytes"),
                F.sum("enc_bytes").alias("enc_bytes"),
                F.sum("wall_ms").alias("wall_ms"),
                F.array_join(codecs, ",").alias("codecs"),
            )
            .withColumn("_m", by_run[F.col("run")])
            .select(
                "_m.snapshot_id", "_m.job_id", F.col("run").alias("run_id"),
                "group_key", "n_chunks", "n_rows", "raw_bytes", "enc_bytes",
                "wall_ms", "codecs", F.lit("done").alias("status"),
                "_m.committed_at", "_m.params",
            )
        )

    def done_groups(self, markers: list[dict] | None = None) -> DataFrame:
        """Group keys (as ``_gk``) this (snapshot, job) has committed: the
        ``group_key`` column of its committed runs' chunk files. ``markers``
        defaults to a fresh read of ``out_dir``'s markers."""
        if markers is None:
            markers = read_markers(self.spark, self.out_dir)
        runs = [m["run_id"] for m in self._own(markers)]
        if not runs:
            return _empty(self.spark, StructType([StructField("_gk", StringType())]))
        return self._read_runs(runs).select(F.col("group_key").alias("_gk")).distinct()

    # --------------------------------------------------------------- running

    def _check_resume(self, markers: list[dict]) -> None:
        """Evaluate every resume check on the markers, in order.

        1. Digest migration. The catalog embeds a version in every snapshot
           id (catalog.py DIGEST_VERSION). When the current id carries the
           current version but this job_id has runs committed under ids
           that don't, those runs were committed under an older digest
           format: the SAME unchanged input now hashes to a DIFFERENT id,
           so a silent resume would see zero done groups and re-encode
           every group into this out_dir — a second generation under
           identical group keys. Hand-assigned snapshot ids skip the check.
        2. Params mismatch: a different group_factor/chunk_bytes salts into
           different group keys (see ``__init__``).
        """
        from ..sources.catalog import DIGEST_VERSION

        prefix = f"{DIGEST_VERSION}-"
        if self.snapshot_id.startswith(prefix):
            stale = sorted(
                m["snapshot_id"] for m in markers
                if m["job_id"] == self.job_id and not m["snapshot_id"].startswith(prefix)
            )
            if stale:
                raise RuntimeError(
                    f"commits for job_id={self.job_id!r} contain snapshot ids in a "
                    f"pre-{DIGEST_VERSION} manifest-digest format (e.g. "
                    f"{stale[0]!r}); the digest inputs have changed "
                    f"since, so resume state for this out_dir cannot be trusted — "
                    f"encode into a new out_dir (or new job_id), or decode the old "
                    f"generation with the tooling that wrote it"
                )
        mismatched = sorted(
            m["params"] for m in self._own(markers) if m["params"] != self.params
        )
        if mismatched:
            raise RuntimeError(
                f"runs of (snapshot={self.snapshot_id}, job={self.job_id}) "
                f"were committed with different salting/chunking params "
                f"({mismatched[0]!r} != {self.params!r}) — resume "
                f"would duplicate groups; use a new job_id or the original params"
            )

    def run(self, df: DataFrame, only_groups_like: str | None = None) -> dict:
        """Encode all groups not yet committed. Returns driver-side summary.

        The summary adds the totals of this (snapshot, job)'s markers read
        at the start of the run to the totals this run commits, observed on
        its chunk write. A concurrent committer to the same (snapshot, job)
        between this run's start and its commit is not counted. A run that
        writes no chunk commits no marker, deletes its empty ``run=`` dir
        and returns the earlier runs' totals.

        ``only_groups_like``: test hook — restrict THIS run to pending
        groups whose key contains the substring, simulating a job that
        crashed after committing only part of its groups (same snapshot →
        same salting → the next run picks up exactly the rest).
        """
        run_id = uuid.uuid4().hex[:12]
        run_dir = f"{self.out_dir}/chunks/run={run_id}"
        t0 = time.time()
        markers = read_markers(self.spark, self.out_dir)
        self._check_resume(markers)
        salted = salt_groups(
            df, self.group_cols, self.order_cols, self.chunk_bytes,
            self.group_factor,
        )
        pending = salted.join(self.done_groups(markers), on="_gk", how="left_anti")
        if only_groups_like is not None:
            pending = pending.filter(F.col("_gk").contains(only_groups_like))
        chunks = encode_salted(
            pending, self.order_cols, self.chunk_rows, self.chunk_bytes
        )
        written = Observation()
        chunks.observe(
            written,
            F.count(F.when(F.col("seq") == 0, 1)).alias("groups"),
            F.sum("n_rows").alias("rows"),
            F.sum("raw_bytes").alias("raw_bytes"),
            F.sum("enc_bytes").alias("enc_bytes"),
        ).write.mode("append").parquet(run_dir)
        # sums over zero rows are null
        this_run = {k: written.get[k] or 0 for k in _TOTALS}
        if this_run["groups"]:
            self._write_marker({
                "snapshot_id": self.snapshot_id, "job_id": self.job_id,
                "run_id": run_id, "params": self.params,
                "committed_at": datetime.datetime.now(datetime.timezone.utc).isoformat(),
                **this_run,
            })
        else:
            # nothing to commit (every group already done): the write
            # still left a dir holding an empty parquet file
            fs, hpath = hadoop_fs(self.spark, run_dir)
            fs.delete(hpath, True)
        total = {k: this_run[k] + sum(m[k] for m in self._own(markers)) for k in _TOTALS}
        return {
            "run_id": run_id,
            "wall_s": time.time() - t0,
            "groups_done": total["groups"],
            "rows": total["rows"],
            "raw_bytes": total["raw_bytes"],
            "enc_bytes": total["enc_bytes"],
        }

    # --------------------------------------------------------------- reading

    def chunks(self, runs: list[str] | None = None) -> DataFrame:
        """Committed chunks only, exactly one run per group. ``runs``
        defaults to ``self.runs()``, this (snapshot, job)'s committed runs.

        Reading only committed runs' dirs closes two duplicate classes:

        - orphan runs (crash after chunk write, before the marker): no
          marker, never read;
        - another generation in the same out_dir (same group keys under a
          different snapshot/job — positional gk:seq chunk ids collide
          ACROSS generations, and a per-chunk-id winner pick could splice
          generations with different chunk counts): its runs are other
          markers' — never read.

        With one committed run that is the whole read. With several, a
        group double-committed by concurrent runs is pinned to its
        ``min(run)``: a semi-join against the broadcast ``(group_key, min
        run)`` pairs, built from those two metadata columns only, so the
        binary frames never enter an exchange. (An earlier version
        dropDuplicates'd on chunk_id, hash-exchanging every frame payload —
        a full-data shuffle at 100 TB — and could still splice coexisting
        generations; plan-asserted gone.)
        """
        if runs is None:
            runs = self.runs()
        if not runs:
            return _empty(self.spark, _RUN_CHUNKS_SCHEMA)
        chunks = self._read_runs(runs)
        if len(runs) == 1:
            return chunks
        first = chunks.groupBy("group_key").agg(F.min("run").alias("run"))
        return chunks.join(F.broadcast(first), on=["group_key", "run"], how="left_semi")
