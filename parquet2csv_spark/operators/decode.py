"""Distributed decode: chunks table → original DataFrame, bit-identical.

The inverse of operators.encode — and the engine's analog of the
reference's one real computation (identity reconstruction of every row of
every column in order, ParquetToCsv.java:94-107). Because each chunks-table
row carries ALL of its chunk's column frames, decode is a pure
``mapInArrow`` — no shuffle, no join; Spark parallelizes over chunk rows.

Ordering contract (SURVEY.md §2.3-2): Spark shuffles destroy implicit
order, so order is explicit — ``with_position=True`` appends
``(_group_key, _seq, _row_offset)``; sorting by those reproduces the
grouped-encode total order exactly.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql.types import ArrayType, LongType, StringType, StructField, StructType

from ..codecs import decode_array

POSITION_FIELDS = [
    StructField("_group_key", StringType()),
    StructField("_seq", LongType()),
    StructField("_row_offset", LongType()),
]


def prune_chunks_long(chunks_df: DataFrame, col: str, lo=None, hi=None) -> DataFrame:
    """Zone-map chunk pruning on an int-like column: keep only chunks whose
    [lo_long, hi_long] range can intersect [lo, hi]. Conservative — chunks
    without stats are kept. This is the engine's partition-pruning analog:
    a selective decode touches only matching chunks' frames."""
    from pyspark.sql import functions as F

    def overlap(c):
        cond = (c["name"] == col)
        if lo is not None:
            cond = cond & (c["hi_long"].isNull() | (c["hi_long"] >= lo))
        if hi is not None:
            cond = cond & (c["lo_long"].isNull() | (c["lo_long"] <= hi))
        return cond

    return chunks_df.filter(F.exists("cols", overlap))


def prune_chunks_str(chunks_df: DataFrame, col: str, lo: str | None = None,
                     hi: str | None = None) -> DataFrame:
    """Zone-map pruning on a string column (e.g. path prefix ranges)."""
    from pyspark.sql import functions as F

    def overlap(c):
        cond = (c["name"] == col)
        if lo is not None:
            cond = cond & (c["hi_str"].isNull() | (c["hi_str"] >= lo))
        if hi is not None:
            cond = cond & (c["lo_str"].isNull() | (c["lo_str"] <= hi))
        return cond

    return chunks_df.filter(F.exists("cols", overlap))


# above this size an `in` list falls back to the [min,max] envelope:
# the per-value OR grows the pruning predicate linearly and a long list's
# envelope is usually dense anyway
_IN_PRUNE_MAX_VALUES = 16


def prune_chunks_in(chunks_df: DataFrame, col: str, vals, str_stats: bool = False) -> DataFrame:
    """Zone-map pruning for an ``in`` list: keep chunks whose [lo, hi]
    range covers AT LEAST ONE listed value — the union of per-value
    point-prunes. Exact for sparse lists where the single [min,max]
    envelope would cover nearly everything and prune nothing (VERDICT r5
    #4: ``doc_id in (5, 9_000_000)``). Conservative on missing stats."""
    from pyspark.sql import functions as F

    lo_f, hi_f = ("lo_str", "hi_str") if str_stats else ("lo_long", "hi_long")

    def overlap(c):
        any_v = None
        for v in vals:
            hit = (c[hi_f].isNull() | (c[hi_f] >= v)) & (
                c[lo_f].isNull() | (c[lo_f] <= v)
            )
            any_v = hit if any_v is None else (any_v | hit)
        return (c["name"] == col) & any_v

    return chunks_df.filter(F.exists("cols", overlap))


def prune_chunks_bloom(chunks_df: DataFrame, col: str, values) -> DataFrame:
    """Membership pruning for string ``==`` / ``in`` point lookups: keep
    only chunks whose per-chunk Bloom filter (operators.bloom) may contain
    at least one of ``values``. Zero false negatives by construction —
    chunks without a filter (legacy tables, all-null chunks) are kept."""
    from pyspark.sql import functions as F

    from .bloom import bloom_prune_sql

    # ADVICE r7: bloom_prune_sql interpolates the column name as a SQL
    # string literal with backslash escaping that assumes the DEFAULT
    # spark.sql.parser.escapedStringLiterals=false; under a legacy-
    # escaping session a backslash-bearing name would mis-match and
    # exists() would return false — the FALSE-NEGATIVE direction. Bloom
    # pruning is an optimization, so under legacy escaping it is simply
    # skipped (conservative keep; zone maps still applied upstream).
    legacy = (
        chunks_df.sparkSession.conf.get(
            "spark.sql.parser.escapedStringLiterals", "false"
        )
        or "false"
    ).lower() == "true"
    if legacy:
        import logging

        logging.getLogger(__name__).warning(
            "bloom pruning skipped: spark.sql.parser.escapedStringLiterals "
            "is enabled and the pruning predicate assumes default escaping"
        )
        return chunks_df
    return chunks_df.filter(F.expr(bloom_prune_sql(col, list(values))))


def _has_bloom_field(chunks_df: DataFrame) -> bool:
    """True when the chunks table carries the (r7+) bloom field — pruning
    must not reference a missing struct field on legacy tables. Raises
    ``ValueError`` when ``cols`` is missing or not an array of structs:
    that is not a chunks table at all."""
    if "cols" not in chunks_df.columns:
        raise ValueError(f"not a chunks table: no 'cols' column in {chunks_df.columns}")
    cols_t = chunks_df.schema["cols"].dataType
    if not (isinstance(cols_t, ArrayType) and isinstance(cols_t.elementType, StructType)):
        raise ValueError(
            f"not a chunks table: 'cols' is {cols_t.simpleString()}, not array<struct>"
        )
    return "bloom" in cols_t.elementType.fieldNames()


def _arrow_schema_for(spark_schema: StructType) -> pa.Schema:
    from pyspark.sql.pandas.types import to_arrow_schema

    return to_arrow_schema(spark_schema)


# types with exact int64 zone maps (date/timestamp stats are stored in
# their Arrow epoch units: microseconds for timestamps, days for dates)
_INT_TYPES = {"byte", "tinyint", "short", "smallint", "int", "integer",
              "long", "bigint"}
_TIME_TYPES = {"timestamp", "timestamp_ntz", "date"}


def _epoch_long(val, simple: str) -> int:
    """Convert a natural Python date/datetime filter value to the int64
    epoch units the encoder's zone maps store (``_zone_map`` casts the
    Arrow column to int64: timestamp[us] → microseconds, date32 → days).
    Naive datetimes are interpreted as UTC — the engine pins the session
    timezone to UTC, so wall-clock values and stored epochs agree."""
    import calendar
    import datetime as _dt

    if simple == "date":
        if isinstance(val, _dt.datetime):
            val = val.date()
        if not isinstance(val, _dt.date):
            raise ValueError(f"date filter value must be datetime.date, got {type(val)}")
        return (val - _dt.date(1970, 1, 1)).days
    if not isinstance(val, _dt.datetime):
        raise ValueError(
            f"timestamp filter value must be datetime.datetime, got {type(val)}"
        )
    if val.tzinfo is not None:
        # exact integer arithmetic — float64 timestamp() rounds ~3% of
        # microsecond-bearing epochs by ±1µs, and an off-by-one bound on
        # '==' / '<=' / 'in' would prune chunks whose min equals the true
        # value, silently dropping matching rows (ADVICE r5)
        epoch = _dt.datetime(1970, 1, 1, tzinfo=_dt.timezone.utc)
        return (val - epoch) // _dt.timedelta(microseconds=1)
    return calendar.timegm(val.timetuple()) * 1_000_000 + val.microsecond


def _apply_filters(chunks_df: DataFrame, schema: StructType, filters) -> DataFrame:
    """Route simple predicates through the zone maps before decode.

    ``filters`` is parquet-reader style: an iterable of ``(col, op, value)``
    with op in ``>= > <= < == in`` (``in`` takes a non-empty value list;
    lists of ≤ 16 distinct values prune per-value — the union of point
    prunes, exact for sparse lists — longer lists fall back to the
    conservative ``[min, max]`` envelope). Each predicate
    prunes chunks via the
    matching zone-map stats (conservative: chunks without stats survive);
    the same predicate is re-applied row-exactly on the decoded output by
    :func:`decode_table`, so pruning only changes WHAT IS SCANNED, never
    the result.
    """
    for col, op, val in filters:
        field = next((f for f in schema.fields if f.name == col), None)
        if field is None:
            raise ValueError(f"filter column {col!r} not in decode schema")
        if op not in (">=", ">", "<=", "<", "==", "in"):
            # validate BEFORE the type dispatch: a bad op on a column
            # without zone maps must raise the same clear error, not a
            # KeyError later in the row-filter stage
            raise ValueError(f"unsupported filter op {op!r}")
        if op == "in" and not val:
            raise ValueError(f"'in' filter on {col!r} needs a non-empty value list")
        simple = field.dataType.simpleString()
        is_int = simple in _INT_TYPES
        is_time = simple in _TIME_TYPES
        is_str = simple == "string"
        if not (is_int or is_time or is_str):
            continue  # no zone maps for this type — row filter still applies
        conv = (lambda v: _epoch_long(v, simple)) if is_time else (lambda v: v)
        prune = prune_chunks_str if is_str else prune_chunks_long
        if op in (">=", ">"):
            chunks_df = prune(chunks_df, col, lo=conv(val))
        elif op in ("<=", "<"):
            chunks_df = prune(chunks_df, col, hi=conv(val))
        elif op == "==":
            pval = conv(val)
            chunks_df = prune(chunks_df, col, lo=pval, hi=pval)
        else:  # "in": per-value union prune for small lists, else envelope
            pvals = sorted({conv(v) for v in val})
            if len(pvals) <= _IN_PRUNE_MAX_VALUES:
                chunks_df = prune_chunks_in(chunks_df, col, pvals, str_stats=is_str)
            else:
                chunks_df = prune(chunks_df, col, lo=pvals[0], hi=pvals[-1])
        if is_str and op in ("==", "in") and _has_bloom_field(chunks_df):
            # string point lookups: the [lo,hi] prefix range of a chunk not
            # sorted by this column is wide and prunes little — the Bloom
            # membership check is what makes "fetch this one path"
            # selective at 100 TB (VERDICT r6 #3). 'in' lists above the
            # per-value cap skip it (the expression is linear per value,
            # same cap as prune_chunks_in; a PARTIAL value list would
            # create false negatives, so it is all values or none).
            mvals = [val] if op == "==" else list(val)
            if len(mvals) <= _IN_PRUNE_MAX_VALUES and all(
                isinstance(v, str) for v in mvals
            ):  # non-str values (e.g. None) skip the bloom, never crash it
                chunks_df = prune_chunks_bloom(chunks_df, col, mvals)
    return chunks_df


def scan_stats(chunks_df: DataFrame, schema: StructType | str, filters) -> dict:
    """Selectivity preview for a selective decode: how many chunks (and
    rows inside them) the given ``filters`` would leave to be scanned,
    without decoding anything. The 100-TB operational question — "is this
    predicate selective enough to run interactively?" — answered from
    chunk metadata only (zone maps + Bloom filters), one small Spark job
    over the chunks table.

    Returns ``{"total_chunks", "kept_chunks", "total_rows", "kept_rows"}``
    (kept_rows is the upper bound that will be decoded; the row-exact
    re-apply can only shrink it further)."""
    from pyspark.sql import functions as F

    if isinstance(schema, str):
        from pyspark.sql.types import _parse_datatype_string

        schema = _parse_datatype_string(schema)
    total = chunks_df.agg(
        F.count(F.lit(1)).alias("c"), F.sum("n_rows").alias("r")
    ).first()
    kept = _apply_filters(chunks_df, schema, filters).agg(
        F.count(F.lit(1)).alias("c"), F.sum("n_rows").alias("r")
    ).first()
    return {
        "total_chunks": total["c"], "kept_chunks": kept["c"],
        "total_rows": int(total["r"] or 0), "kept_rows": int(kept["r"] or 0),
    }


def decode_table(
    chunks_df: DataFrame,
    schema: StructType | str,
    with_position: bool = False,
    filters=None,
) -> DataFrame:
    """Reconstruct the original table from its encoded chunks.

    ``filters`` — optional parquet-reader-style predicates
    ``[(col, op, value), ...]`` with op in ``>= > <= < == in``. Exact row
    semantics (the predicate is applied to the decoded rows), but chunks
    whose zone maps prove no row can match are pruned BEFORE the Arrow
    decode — a selective decode touches only matching chunks' frames
    (the engine's partition-pruning analog; VERDICT r3 #6).
    """
    if isinstance(schema, str):
        from pyspark.sql.types import _parse_datatype_string

        schema = _parse_datatype_string(schema)
    if filters:
        chunks_df = _apply_filters(chunks_df, schema, filters)
    out_schema = StructType([*schema.fields, *(POSITION_FIELDS if with_position else [])])
    target = _arrow_schema_for(schema)
    names = [f.name for f in schema.fields]

    def dec(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for batch in batches:
            tbl = pa.Table.from_batches([batch])
            n_chunks = tbl.num_rows
            # Arrow accessors, not as_py(): per-frame payloads are handed to
            # decode_array as zero-copy buffers over the Arrow batch memory
            # instead of materializing every chunk's struct rows (and copying
            # every binary frame) through Python lists
            cols_list = tbl["cols"].combine_chunks()
            offs = cols_list.offsets.to_numpy()
            structs = cols_list.values  # raw child — indices match .offsets
            name_vals = structs.field("name").to_pylist()  # tiny strings
            frame_vals = structs.field("frame")
            gks = tbl["group_key"].to_pylist()
            seqs = tbl["seq"].to_pylist()
            for i in range(n_chunks):
                lo, hi = int(offs[i]), int(offs[i + 1])
                by_name = {name_vals[p]: p for p in range(lo, hi)}
                arrays = []
                n_rows = 0
                for j, name in enumerate(names):
                    fbuf = frame_vals[by_name[name]].as_buffer()
                    arr = decode_array(memoryview(fbuf))
                    n_rows = len(arr)
                    want = target.field(j).type
                    if arr.type != want:
                        arr = arr.cast(want)
                    arrays.append(arr)
                out_names = list(names)
                if with_position:
                    arrays.append(pa.array([gks[i]] * n_rows, type=pa.string()))
                    arrays.append(pa.array(np.full(n_rows, seqs[i]), type=pa.int64()))
                    arrays.append(pa.array(np.arange(n_rows), type=pa.int64()))
                    out_names += ["_group_key", "_seq", "_row_offset"]
                yield pa.RecordBatch.from_arrays(arrays, names=out_names)

    out = chunks_df.mapInArrow(dec, out_schema)
    if filters:
        from pyspark.sql import functions as F

        ops = {
            ">=": lambda c, v: c >= v, ">": lambda c, v: c > v,
            "<=": lambda c, v: c <= v, "<": lambda c, v: c < v,
            "==": lambda c, v: c == v, "in": lambda c, v: c.isin(list(v)),
        }
        for col, op, val in filters:
            arg = list(val) if op == "in" else F.lit(val)
            out = out.filter(ops[op](F.col(col), arg))
    return out
