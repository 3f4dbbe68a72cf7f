"""Schema import/export + schema-file sinks — parity with the reference's
four utility entry points (SURVEY.md §3.2-3.4):

  K4  schema → JSON export   (`prq2csv --to-json`,  DataLoad.java:316-331)
  K5  JSON → schema import   (`prq2csv --from-json`, DataLoad.java:333-352)
  K3  footer-only parquet    (ParquetMetadataToBinarySerialize.java:24-63)
      → Spark analog: a zero-row parquet file carrying the full schema
  K2  one-row schema file    (OneRowParquetSchema.java:45-158) — a 1-row
      parquet with per-field default values
  V1  schema validation      (ValidateAvroSchema.java:28-36)

``$``-suffixed column names (the reference bytecode-patches Avro to accept
them, ValidateAvroSchema.java:38-60) need no patching here: Spark permits
them natively (backtick-quoted in SQL).
"""

from __future__ import annotations

import datetime
import decimal
import json

from py4j.java_gateway import JavaClass
from pyspark.sql import DataFrame, SparkSession, types as T

# the JVM classes a footer read uses, by short name
_FOOTER_CLASSES = (
    "org.apache.hadoop.fs.Path",
    "org.apache.parquet.hadoop.Footer",
    "org.apache.parquet.hadoop.util.HadoopInputFile",
    "org.apache.parquet.format.converter.ParquetMetadataConverter",
    "org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat",
    "org.apache.spark.sql.execution.datasources.parquet.ParquetFooterReader",
    "org.apache.spark.sql.execution.datasources.parquet.ParquetToSparkSchemaConverter",
)


def _class_handles(spark: SparkSession) -> dict:
    """Handles on ``_FOOTER_CLASSES``, built locally: ``spark._jvm.a.b.C``
    costs one py4j round trip per name segment, which is most of a footer
    read's driver time."""
    client = spark._jvm._gateway_client  # type: ignore[attr-defined]
    return {fqn.rsplit(".", 1)[-1]: JavaClass(fqn, client) for fqn in _FOOTER_CLASSES}


def _footer_schema(spark: SparkSession, path: str) -> T.StructType | None:
    """The schema Spark infers for the single parquet file at ``path``,
    from its footer; ``None`` when ``path`` is not a file."""
    jcls = _class_handles(spark)
    sstate = spark._jsparkSession.sessionState()
    hconf = sstate.newHadoopConf()
    hpath = jcls["Path"](path)
    if not hpath.getFileSystem(hconf).isFile(hpath):
        return None
    footer = jcls["ParquetFooterReader"].readFooter(
        jcls["HadoopInputFile"].fromPath(hpath, hconf),
        jcls["ParquetMetadataConverter"].SKIP_ROW_GROUPS,
    )
    jschema = jcls["ParquetFileFormat"].readSchemaFromFooter(
        jcls["Footer"](hpath, footer), jcls["ParquetToSparkSchemaConverter"](sstate.conf())
    )
    return T._parse_datatype_json_string(jschema.asNullable().json())


def parquet_schema(spark: SparkSession, path: str) -> T.StructType:
    """The schema ``spark.read.parquet(path).schema`` infers.

    For a single file it comes from one footer read on the driver, with no
    Spark job: the footer is read without its row groups, converted with
    Spark's own ``ParquetFileFormat.readSchemaFromFooter`` and a
    ``ParquetToSparkSchemaConverter`` built from the session conf, and made
    nullable as the reader does. Measured on a 4-core box: 8 ms against
    ~90 ms for the 1-task inference job (0.03-0.05 s against 0.11-0.18 s
    on the sf0.01 tables).

    A directory or glob is left to Spark's inference: finding its first
    file from Python costs a py4j round trip per file, which at 1000 part
    files took 408 ms against 132 ms for ``spark.read.parquet(dir).schema``
    (56 against 111 ms at 100 files)."""
    schema = _footer_schema(spark, path)
    return spark.read.parquet(path).schema if schema is None else schema


def read_parquet(spark: SparkSession, path: str) -> DataFrame:
    """``spark.read.parquet(path)``, with a single file's schema read from
    its footer (:func:`parquet_schema`) instead of by the inference job."""
    schema = _footer_schema(spark, path)
    return (spark.read if schema is None else spark.read.schema(schema)).parquet(path)


def schema_to_json(df_or_schema) -> str:
    """K4: pretty JSON of the schema (Spark StructType JSON format plays
    the role of the reference's Avro-schema JSON)."""
    schema = df_or_schema.schema if isinstance(df_or_schema, DataFrame) else df_or_schema
    return json.dumps(schema.jsonValue(), indent=2, sort_keys=True)


def export_schema_json(spark: SparkSession, parquet_path: str, out_file: str) -> str:
    """K4 end-to-end: parquet footer → schema JSON file. For a single file,
    a footer-only read on the driver (:func:`parquet_schema`), like the
    reference's ``ParquetFileReader.open().getFooter()``: no row data is
    scanned and no Spark job runs. A directory is left to Spark's 1-task
    inference job."""
    schema = parquet_schema(spark, parquet_path)
    text = schema_to_json(schema)
    with open(out_file, "w") as f:
        f.write(text)
    return text


def schema_from_json(text: str) -> T.StructType:
    """K5: parse the JSON back to a schema; raises on invalid input
    (the V1 validation role)."""
    return T.StructType.fromJson(json.loads(text))


def write_schema_only_parquet(spark: SparkSession, schema: T.StructType, out_dir: str) -> None:
    """K3 analog: a data-less parquet that carries the full schema in its
    footer (the reference writes MAGIC+footer+MAGIC by hand; Spark's
    zero-row write produces the standards-compliant equivalent)."""
    spark.createDataFrame([], schema).coalesce(1).write.mode("overwrite").parquet(out_dir)


_DEFAULTS = {
    "long": 0,
    "integer": 0,
    "short": 0,
    "byte": 0,
    "double": 0.0,
    "float": 0.0,
    "boolean": False,
    "string": None,
}


def default_row(schema: T.StructType, overrides: dict | None = None) -> tuple:
    """K2's per-field default synthesis (OneRowParquetSchema.java:115-158):
    0 for numerics, epoch for timestamps, zero-uuid-style defaults come in
    via ``overrides`` (the reference special-cases columns by name)."""
    row = []
    for f in schema.fields:
        if overrides and f.name in overrides:
            row.append(overrides[f.name])
            continue
        t = f.dataType.typeName()
        if t in _DEFAULTS:
            row.append(_DEFAULTS[t])
        elif t.startswith("decimal"):
            row.append(decimal.Decimal(0))
        elif t == "timestamp":
            row.append(datetime.datetime(1970, 1, 1))
        elif t == "date":
            row.append(datetime.date(1970, 1, 1))
        else:
            row.append(None)
    return tuple(row)


def write_one_row_schema_file(
    spark: SparkSession,
    schema: T.StructType,
    out_dir: str,
    overrides: dict | None = None,
) -> None:
    """K2: 1-row parquet with default values, GZIP-compressed with
    dictionary encoding disabled — the reference writer's exact storage
    configuration (OneRowParquetSchema.java:104-110)."""
    df = spark.createDataFrame([default_row(schema, overrides)], schema)
    (
        df.coalesce(1)
        .write.mode("overwrite")
        .option("compression", "gzip")
        .option("parquet.enable.dictionary", "false")
        .parquet(out_dir)
    )
