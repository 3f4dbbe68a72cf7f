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

from pyspark.sql import SparkSession


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
        # itself from this, and each Python task pays ~0.25-0.3 s before its
        # first batch even on a reused worker — a second wave costs that
        # again (4-core box, warm trivial mapInArrow: 0.56 s at 4 tasks,
        # 1.46-1.80 s at 16)
        .config("spark.default.parallelism", str(cpus))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "65536")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "48g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.files.maxPartitionBytes", "268435456")
    )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
