"""Custom stateful streaming operator: cross-batch per-key running totals
via ``applyInPandasWithState`` (SURVEY.md §2.2 streaming row — custom
stateful operators are the (b) tier of the custom-operator preference
order; state survives across micro-batches and restarts through the
checkpoint).

The operator keeps, per user, a running (event count, value sum, last
event time) and emits the updated totals each micro-batch — the streaming
analog of an incremental per-key lineage/metrics rollup.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from ..sources.schema_io import parquet_schema

OUTPUT_DDL = "user_id bigint, n_events bigint, total_value double, last_ts timestamp"
STATE_DDL = "n bigint, total double, last_us bigint"


def _update(
    key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    n, total, last_us = state.get if state.exists else (0, 0.0, 0)
    for pdf in pdfs:
        n += len(pdf)
        total += float(pdf["value"].fillna(0.0).sum())
        if len(pdf):
            last_us = max(last_us, int(pdf["ts"].max().value // 1000))
    state.update((n, total, last_us))
    yield pd.DataFrame(
        {
            "user_id": [key[0]],
            "n_events": [n],
            "total_value": [round(total, 2)],
            "last_ts": [pd.Timestamp(last_us, unit="us")],
        }
    )


def running_user_totals(
    spark: SparkSession,
    events_dir: str,
    checkpoint_dir: str,
    out_dir: str,
):
    """Start a stateful streaming query over an events parquet directory.

    Emitted rows append to ``out_dir`` (with the epoch id) via
    ``foreachBatch`` — a checkpoint-recoverable sink, so re-running after
    new files arrive resumes the per-user state from the checkpoint. The
    latest totals per user = the row with the highest epoch.
    """
    schema = parquet_schema(spark, events_dir)
    stream = (
        spark.readStream.schema(schema)
        .parquet(events_dir)
        .withColumn("ts", F.col("ts").cast("timestamp"))
    )
    totals = stream.groupBy("user_id").applyInPandasWithState(
        _update,
        outputStructType=OUTPUT_DDL,
        stateStructType=STATE_DDL,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )

    def sink(batch_df, epoch_id: int) -> None:
        batch_df.withColumn("epoch", F.lit(epoch_id)).write.mode("append").parquet(out_dir)

    return (
        totals.writeStream.foreachBatch(sink)
        .outputMode("update")
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def latest_totals(spark: SparkSession, out_dir: str) -> DataFrame:
    """Latest running totals per user from the appended epochs."""
    from pyspark.sql import Window

    df = spark.read.parquet(out_dir)
    w = Window.partitionBy("user_id").orderBy(F.desc("epoch"), F.desc("n_events"))
    return (
        df.withColumn("_rk", F.row_number().over(w))
        .filter(F.col("_rk") == 1)
        .drop("_rk", "epoch")
    )
