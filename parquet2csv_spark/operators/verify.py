"""Bit-identity verification operators (SURVEY.md §2.3-1).

The correctness contract inherited from the reference: decode(encode(df))
must reproduce every row of every column exactly — the reference's whole
program is that identity (ParquetToCsv.java:94-107), and the per-row
invariant mandated by BASELINE.json input_hint is sha256(content) equality.

Implemented as set operations + aggregations (both ABSENT from the
reference — SURVEY.md §2.2): ``exceptAll`` in both directions gives exact
multiset equality including duplicate multiplicity; the sha256 check joins
decoded rows back to the source on key columns.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F


def multiset_diff(src: DataFrame, dec: DataFrame) -> DataFrame:
    """Rows in exactly one side (with a side tag). Empty ⇔ bit-identical
    multiset reconstruction."""
    cols = src.columns
    dec = dec.select(cols)
    only_src = src.exceptAll(dec).withColumn("_side", F.lit("source_only"))
    only_dec = dec.exceptAll(src).withColumn("_side", F.lit("decoded_only"))
    return only_src.unionByName(only_dec)


def sha256_check(
    src: DataFrame,
    dec: DataFrame,
    key_cols: list[str],
    content_col: str = "content",
) -> DataFrame:
    """Per-row sha256(content) equality joined on key columns.

    Returns one summary row per match status:
    (status: matched | mismatched | missing_in_decoded, n bigint).
    """
    def digest(df: DataFrame) -> DataFrame:
        return df.select(
            *key_cols,
            F.when(
                F.col(content_col).isNull(), F.lit("<null>")
            ).otherwise(F.sha2(F.col(content_col), 256)).alias("_sha"),
        )

    s = digest(src).alias("s")
    d = digest(dec).alias("d")
    joined = s.join(d, on=key_cols, how="left")
    status = (
        F.when(F.col("d._sha").isNull() & F.col("s._sha").isNotNull(), F.lit("missing_in_decoded"))
        .when(F.col("s._sha") == F.col("d._sha"), F.lit("matched"))
        .otherwise(F.lit("mismatched"))
    )
    return joined.select(status.alias("status")).groupBy("status").agg(F.count("*").alias("n"))

