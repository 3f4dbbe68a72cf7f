"""SparkSession factory tuned for this engine.

Local-mode settings mirror what a 1000-executor cluster deployment would
set per executor: shuffle partitions ≈ total cores, AQE on (with skew-join
backstop — explicit salting remains the primary skew defense per
north_rule), Arrow transfer on, UTC session zone (so DuckDB-oracle
comparisons are stable; the reference's zone handling is a CLI `-tz` arg,
DataLoad.java:202-226 — here it's `spark.sql.session.timeZone`).
"""

from __future__ import annotations

import os

from py4j.java_gateway import JavaClass
from pyspark.sql import SparkSession


_GIB = 1 << 30


def default_driver_memory(phys_bytes: int | None = None) -> str:
    """``spark.driver.memory`` when ``SPARK_DRIVER_MEM`` is unset: half the
    physical RAM in whole GiB (at least 1g), capped at the 48g a large
    driver host gets. In local mode the driver JVM runs every task; a fixed
    48g default let each JVM on a 15 GB box grow past what the box holds,
    and a test run lost its JVM with a second one running beside it."""
    if phys_bytes is None:
        phys_bytes = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    return f"{max(1, min(48, phys_bytes // 2 // _GIB))}g"


def jvm_class(spark: SparkSession, fqn: str) -> JavaClass:
    """A handle on the JVM class ``fqn``, built locally: resolving it as
    ``spark._jvm.a.b.C`` costs one py4j round trip per name segment."""
    return JavaClass(fqn, spark._jvm._gateway_client)  # type: ignore[attr-defined]


def get_spark(cpus: int | None = None, app: str = "parquet2csv_spark") -> SparkSession:
    if cpus is None:
        cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app)
        # JVM shuffles only (aggregates, joins; AQE coalesces tiny ones):
        # the grouped encode sizes its own exchange from defaultParallelism
        .config("spark.sql.shuffle.partitions", str(max(2 * cpus, 16)))
        # one task per slot: every Python Arrow stage (parallel-scan slices,
        # grouped encode, chunk-decode splits via minPartitionNum) sizes
        # itself from this. Most of a reused worker's per-task cost was
        # PySpark's per-task importlib.invalidate_caches() re-parsing
        # pyspark.zip; the zip-importer guard (_zipimport) skips that once
        # an engine UDF has run on the worker (4-core box, warm mapInArrow
        # of an engine UDF, one row per task, median of 7: 4 tasks
        # 0.38-0.43 s -> 0.17-0.20 s, 16 tasks 1.10 s -> 0.34-0.37 s).
        # Each extra wave still costs ~0.06 s, and a freshly forked worker
        # pays one eager re-read and its imports in its first task.
        .config("spark.default.parallelism", str(cpus))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "65536")
        .config("spark.driver.memory",
                os.environ.get("SPARK_DRIVER_MEM") or default_driver_memory())
        .config("spark.ui.enabled", "false")
        .config("spark.sql.files.maxPartitionBytes", "268435456")
    )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
