"""Incremental encode of newly arriving corpus files (Structured Streaming).

The reference is strictly batch, one pass per file (SURVEY.md §2.2
streaming row: ABSENT). The engine's resumability is batch-checkpoint
based; this module adds the optional stretch path: a ``readStream`` over a
corpus directory feeds ``foreachBatch``, and each micro-batch runs the same
grouped encode + marker commit as the batch job — so a continuously
growing table is encoded incrementally with exactly-once chunk commits
(Spark streaming checkpoint tracks consumed files; commit markers track
committed runs; both survive restarts).
"""

from __future__ import annotations

from pyspark.sql import SparkSession
from pyspark.sql.types import StructType

from ..plans.lineage import EncodeJob


def incremental_encode(
    spark: SparkSession,
    input_dir: str,
    schema: StructType | str,
    out_dir: str,
    checkpoint_dir: str,
    group_cols: list[str],
    order_cols: list[str],
    job_id: str = "stream-encode",
    **job_kw,
):
    """Start (and return) a streaming query encoding new parquet files.

    Each micro-batch is encoded under snapshot id ``batch=<epoch>`` — each
    committed micro-batch leaves one commit marker under that snapshot, so
    a crashed batch resumes exactly like a crashed batch job. Use
    ``q.processAllAvailable()`` in tests to drain synchronously.
    """
    if isinstance(schema, str):
        from pyspark.sql.types import _parse_datatype_string

        schema = _parse_datatype_string(schema)

    def sink(batch_df, epoch_id: int) -> None:
        if batch_df.isEmpty():
            return
        job = EncodeJob(
            spark,
            out_dir,
            snapshot_id=f"batch={epoch_id}",
            job_id=job_id,
            group_cols=group_cols,
            order_cols=order_cols,
            **job_kw,
        )
        job.run(batch_df)

    reader = spark.readStream.schema(schema).parquet(input_dir)
    return (
        reader.writeStream.foreachBatch(sink)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
