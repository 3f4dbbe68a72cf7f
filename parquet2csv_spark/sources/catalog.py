"""Snapshot-pinned table catalog.

Production path: Iceberg (``spark.read.format("iceberg")`` with
``snapshot-id`` pinned) — resumable encodes must see a frozen input
(SURVEY.md §2.2 scans row). The sandbox has no Iceberg runtime jar, so the
same interface is provided over a plain parquet directory: the snapshot id
is a content manifest hash (file list + sizes + mtimes), and reads verify
the manifest so a mutated directory fails loudly instead of silently
violating resume exactness.
"""

from __future__ import annotations

import hashlib
import os
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession

from ..session import jvm_class
from .schema_io import parquet_schema

# Manifest-digest format version, embedded in every snapshot id. Changing
# what feeds the digest (e.g. the r3 move from whole-second to nanosecond
# mtimes) silently changes ids for UNCHANGED directories, which would make
# pre-upgrade commits unreachable: a resume would compute a fresh
# snapshot_id, find zero done groups, and re-encode everything into the
# same out_dir — the multi-generation layout the decode path then has to
# disambiguate. Versioning the id lets EncodeJob.run() detect the format
# mismatch and refuse with a migration message instead (plans/lineage.py).
DIGEST_VERSION = "m2"


@dataclass
class Snapshot:
    table_path: str
    snapshot_id: str
    n_files: int
    total_bytes: int
    # manifest: relpath -> (size, mtime_ns). Reading a snapshot reads EXACTLY
    # these files (Iceberg snapshot-isolation semantics over an append-only
    # directory), so an OLD snapshot stays readable after new files land.
    files: dict[str, tuple[int, int]]


def _manifest(path: str) -> tuple[str, int, int, dict[str, tuple[int, int]]]:
    files: dict[str, tuple[int, int]] = {}
    total = 0
    if os.path.isfile(path):
        # single-file table (e.g. the driver CLI pointed at one parquet
        # file): a one-entry manifest keyed by "." — os.walk on a file
        # yields nothing and would produce the empty-manifest error
        st = os.stat(path)
        files["."] = (st.st_size, st.st_mtime_ns)
        digest = hashlib.sha256(
            f".:{st.st_size}:{st.st_mtime_ns}".encode()
        ).hexdigest()[:16]
        return f"{DIGEST_VERSION}-{digest}", 1, st.st_size, files
    for root, _dirs, names in os.walk(path):
        for f in sorted(names):
            if f.startswith(("_", ".")):
                continue
            fp = os.path.join(root, f)
            st = os.stat(fp)
            # nanosecond mtime: a same-size rewrite within the same second
            # must still be detected as a mutation
            files[os.path.relpath(fp, path)] = (st.st_size, st.st_mtime_ns)
            total += st.st_size
    digest = hashlib.sha256(
        "\n".join(f"{k}:{v[0]}:{v[1]}" for k, v in files.items()).encode()
    ).hexdigest()[:16]
    return f"{DIGEST_VERSION}-{digest}", len(files), total, files


class ParquetDirCatalog:
    """Directory-of-parquet catalog with manifest-hash snapshot ids and
    Iceberg-style snapshot isolation: a snapshot pins the exact file list,
    so appended files don't change what an old snapshot reads, while
    mutation or deletion of a pinned file fails loudly."""

    def __init__(self, spark: SparkSession):
        self.spark = spark

    def snapshot(self, table_path: str) -> Snapshot:
        digest, n, total, files = _manifest(table_path)
        return Snapshot(table_path, digest, n, total, files)

    def read(self, snap: Snapshot) -> DataFrame:
        for rel, (size, mtime) in snap.files.items():
            fp = snap.table_path if rel == "." else os.path.join(snap.table_path, rel)
            try:
                st = os.stat(fp)
            except FileNotFoundError:
                raise RuntimeError(
                    f"snapshot {snap.snapshot_id}: pinned file {rel} was deleted"
                ) from None
            if st.st_size != size or st.st_mtime_ns != mtime:
                raise RuntimeError(
                    f"snapshot {snap.snapshot_id}: pinned file {rel} was mutated"
                )
        data = [
            snap.table_path if rel == "." else os.path.join(snap.table_path, rel)
            for rel in snap.files
            if rel == "." or rel.endswith(".parquet")
        ]
        if not data:
            raise RuntimeError(
                f"snapshot {snap.snapshot_id}: manifest for {snap.table_path} "
                f"contains no .parquet data files — nothing to read"
            )
        # the schema Spark would infer, from the footer of its first file
        # in path order (the paths share the table's prefix), read on the
        # driver instead of by a 1-task inference job
        reader = self.spark.read.schema(parquet_schema(self.spark, min(data)))
        if not os.path.isfile(snap.table_path):
            # basePath must be a directory; a single-file table needs none
            reader = reader.option("basePath", snap.table_path)
        return reader.parquet(*data)


def _iceberg_on_classpath(spark: SparkSession) -> bool:
    """Whether the Iceberg runtime jar is loadable. ``classIsLoadable``
    returns a boolean: a raised ``Class.forName`` error costs a Java
    exception's conversion (0.12 s in a cold CLI-encode profile), and
    attribute access on ``_jvm`` returns a JavaPackage stub either way."""
    return jvm_class(spark, "org.apache.spark.util.Utils").classIsLoadable(
        "org.apache.iceberg.Table"
    )


class IcebergCatalog:
    """Production catalog: requires the Iceberg runtime jar on the
    classpath; import-guarded so the sandbox falls back cleanly."""

    def __init__(self, spark: SparkSession):
        self.spark = spark
        if not _iceberg_on_classpath(spark):
            raise ImportError(
                "Iceberg runtime jar not on classpath — use ParquetDirCatalog"
            )

    def read(self, table: str, snapshot_id: int | None = None) -> DataFrame:
        r = self.spark.read.format("iceberg")
        if snapshot_id is not None:
            r = r.option("snapshot-id", str(snapshot_id))
        return r.load(table)


def open_catalog(spark: SparkSession):
    """Iceberg when its runtime jar is on the classpath, parquet-dir
    otherwise. The two take different arguments (a table name and a
    snapshot id, or a path and a ``Snapshot``), so a caller that holds a
    path, like the CLI's ``--input``, constructs ``ParquetDirCatalog``."""
    if _iceberg_on_classpath(spark):
        return IcebergCatalog(spark)
    return ParquetDirCatalog(spark)
