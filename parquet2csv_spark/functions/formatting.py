"""Reference CSV-formatting parity (operators F1-F6, SURVEY.md §2.1).

Re-expresses `ParquetToCsv.formatFieldValue` (/root/reference/.../
ParquetToCsv.java:136-251) as Spark column expressions — whole-stage
codegen'd, not a row loop:

  F1 string/enum quote-wrap, no escaping ("pseudo csv",  DataLoad.java:299)
  F2 float/double exact binary-expansion decimal (BigDecimal(double),
     ParquetToCsv.java:180-203) — vectorized pandas UDF (the one place
     Python is required; Arrow-batched, never row-at-a-time)
  F3 timestamp → ISO-8601 in the session zone with the two 1900-01-01/02
     sentinel literals (ParquetToCsv.java:55-63, 219-232)
  F4 decimal passthrough text (ParquetToCsv.java:233-236)
  F5 uuid canonicalize-or-'unknown' (ParquetToCsv.java:237-246)
  F6 null → literal "null" text (ParquetToCsv.java:213-218)
  P2 header names uppercased (ParquetToCsv.java:117-124)
  R1 delimiter-joined row text (ParquetToCsv.java:101-107)
"""

from __future__ import annotations

from decimal import Decimal

import pandas as pd
from pyspark.sql import Column, DataFrame, functions as F, types as T

from ..sources.schema_io import read_parquet

# the reference's two sentinel epochs (ParquetToCsv.java:55-63): these exact
# strings round-trip verbatim
SENTINEL_1900_01_01_MS = -2208988800000
SENTINEL_1900_01_02_MS = -2208902400000
SENTINEL_1900_01_01 = "1900-01-01T00:00:00.000-00:00"
SENTINEL_1900_01_02 = "1900-01-02T00:00:00.000-00:00"

# Java 8 UUID.fromString (ParquetToCsv.java:240) is lenient: it splits on
# '-' into exactly 5 groups and Long.decode()s each — groups may be ANY
# 1..16 hex digits whose value fits a signed long; over-long values are
# folded by the <<16/<<48 shifts and un-masked |= ORs, and toString prints
# the normalized 8-4-4-4-12 form. fmt_uuid reproduces that bit arithmetic.
_UUID_RE = "^[0-9a-fA-F]{1,16}(-[0-9a-fA-F]{1,16}){4}$"
NULL_TEXT = "null"


def quote(c: Column) -> Column:
    """F1: 'value' single-quote wrap; embedded quotes NOT escaped —
    byte-for-byte the reference's pseudo-csv behavior."""
    return F.concat(F.lit("'"), c, F.lit("'"))


def fmt_null(c: Column) -> Column:
    """F6: null → the 4 characters ``null``."""
    return F.coalesce(c, F.lit(NULL_TEXT))


@F.pandas_udf(T.StringType())
def _exact_decimal_str(s: pd.Series) -> pd.Series:
    # Decimal(float) == Java new BigDecimal(double): the exact binary
    # expansion, NOT shortest-round-trip (ParquetToCsv.java:180-203 and the
    # long justification comment there). str(Decimal) follows the same
    # General Decimal Arithmetic to-scientific-string rule as Java
    # BigDecimal.toString — switches to scientific notation when the
    # adjusted exponent < -6 (e.g. 1e-7 → '9.99...E-8'), matching the
    # reference byte-for-byte in both regimes.
    def one(v):
        if v is None or pd.isna(v):
            return None
        return str(Decimal(float(v)))

    return s.map(one)


def fmt_float_exact(c: Column) -> Column:
    """F2: exact binary-expansion decimal text of float/double."""
    return fmt_null(_exact_decimal_str(c))


def fmt_timestamp_iso(c: Column, quote_it: bool = True) -> Column:
    """F3: epoch → ISO-8601 in the session zone, with the two 1900 sentinels
    short-circuited to fixed literals.

    The reference formats via OffsetDateTime.toString()
    (ParquetToCsv.java:270), which omits trailing zero components: a
    whole-second timestamp renders '...T12:30:45Z' (no '.000') and a
    whole-minute one '...T12:30Z' (no seconds) — mirrored here with a
    conditional on the sub-second / sub-minute remainder."""
    # cast handles TIMESTAMP_NTZ parquet columns: with the session zone
    # pinned to UTC the wall-clock is preserved (D2 zone handling analog)
    t = c.cast("timestamp")
    us = F.unix_micros(t)
    ms = (us / 1000).cast("long")
    # pmod → non-negative remainders, so pre-1970 epochs classify correctly.
    # Fractions print like LocalTime.toString: 6 digits when sub-millisecond
    # micros are present, 3 when only millis, none on whole seconds — so a
    # trailing '.000' (which OffsetDateTime.toString never emits) can't
    # appear for micro-precision inputs either
    iso = (
        F.when(F.pmod(us, F.lit(1_000)) != 0, F.date_format(t, "yyyy-MM-dd'T'HH:mm:ss.SSSSSSXXX"))
        .when(F.pmod(us, F.lit(1_000_000)) != 0, F.date_format(t, "yyyy-MM-dd'T'HH:mm:ss.SSSXXX"))
        .when(F.pmod(us, F.lit(60_000_000)) != 0, F.date_format(t, "yyyy-MM-dd'T'HH:mm:ssXXX"))
        .otherwise(F.date_format(t, "yyyy-MM-dd'T'HH:mmXXX"))
    )
    body = (
        F.when(ms == SENTINEL_1900_01_01_MS, F.lit(SENTINEL_1900_01_01))
        .when(ms == SENTINEL_1900_01_02_MS, F.lit(SENTINEL_1900_01_02))
        .otherwise(iso)
    )
    return fmt_null(quote(body) if quote_it else body)


def _hex_digits(v: Column, n: int) -> Column:
    """Java UUID.digits(val, n): low 4n bits as an n-char lowercase hex
    string (zero-padded)."""
    mask = (1 << (4 * n)) - 1
    return F.lpad(F.lower(F.hex(v.bitwiseAND(F.lit(mask)))), n, "0")


def fmt_uuid(c: Column) -> Column:
    """F5: normalized lowercase uuid or the literal ``unknown``, quoted.

    Bit-exact Java 8 UUID.fromString → toString parity
    (ParquetToCsv.java:237-246): each of the 5 '-'-separated groups is any
    1..16 hex digits whose value fits a signed long (Long.decode throws
    otherwise → 'unknown'); the bits are composed exactly like fromString —
    ``msb = ((g0<<16 | g1) << 16) | g2``, ``lsb = (g3<<48) | g4`` with
    unchecked shifts and un-masked ORs, so over-long groups fold the same
    way — and re-printed as 8-4-4-4-12 lowercase (UUID.toString).

    Java's ``String.split("-")`` elides trailing empty strings, so
    ``'1-2-3-4-5--'`` parses like ``'1-2-3-4-5'``; mirror that by
    stripping trailing '-' runs before the shape check."""
    s = F.regexp_replace(c, "-+$", "")
    shape_ok = s.rlike(_UUID_RE)
    parts = F.split(F.lower(s), "-")
    # F.get (null on out-of-bounds) — unlike parts[i], which throws under
    # ANSI mode when a malformed input has fewer than 5 groups; the null
    # propagates to a null condition → the 'unknown' branch
    g = [F.get(parts, i) for i in range(5)]
    # Long.decode bound: ≤ 15 hex digits always fits; 16 fits iff the top
    # nibble leaves the sign bit clear
    fits = None
    for gi in g:
        cond = (F.length(gi) <= 15) | (F.substring(gi, 1, 1) < "8")
        fits = cond if fits is None else (fits & cond)
    vals = [F.conv(gi, 16, 10).cast("long") for gi in g]
    msb = F.shiftleft(F.shiftleft(vals[0], 16).bitwiseOR(vals[1]), 16).bitwiseOR(vals[2])
    lsb = F.shiftleft(vals[3], 48).bitwiseOR(vals[4])
    canon = F.concat_ws(
        "-",
        _hex_digits(F.shiftright(msb, 32), 8),
        _hex_digits(F.shiftright(msb, 16), 4),
        _hex_digits(msb, 4),
        _hex_digits(F.shiftright(lsb, 48), 4),
        _hex_digits(lsb, 12),
    )
    return fmt_null(
        F.when(c.isNull(), F.lit(None)).otherwise(
            quote(F.when(shape_ok & fits, canon).otherwise(F.lit("unknown")))
        )
    )


def fmt_string(c: Column) -> Column:
    """F1 + F6 composed: quoted value or bare null text."""
    return F.when(c.isNull(), F.lit(NULL_TEXT)).otherwise(quote(c))


def format_column(df: DataFrame, name: str) -> Column:
    """Type-directed formatter — the Spark analog of the reference's
    formatFieldValue dispatch (ParquetToCsv.java:136-251)."""
    c = F.col(name)
    dt = dict(df.dtypes)[name]
    if dt in ("string",):
        return fmt_string(c)
    if dt in ("float", "double"):
        return fmt_float_exact(c)
    if dt.startswith("timestamp"):
        return fmt_timestamp_iso(c)
    if dt.startswith("decimal"):
        return fmt_null(c.cast("string"))
    if dt in ("date",):
        return fmt_null(quote(F.date_format(c, "yyyy-MM-dd")))
    return fmt_null(c.cast("string"))  # ints, longs, booleans


def format_table(df: DataFrame, delimiter: str = ",") -> DataFrame:
    """Whole-table reference formatting: every column rendered to its CSV
    text plus a `row_text` delimiter-join (R1). Column names uppercased (P2)."""
    cols = [format_column(df, n).alias(n.upper()) for n in df.columns]
    out = df.select(*cols)
    return out.withColumn("ROW_TEXT", F.concat_ws(delimiter, *[F.col(n.upper()) for n in df.columns]))


def parquet_to_csv(spark, in_path: str, out_dir: str, single_file: bool = False) -> None:
    """Entry-point-A parity (`prq2csv file.parquet` → file.csv,
    DataLoad.java:298-300): decode parquet, format every field, write CSV
    with uppercased headers. Empty input → the output is DELETED, exactly
    like the reference (ParquetToCsv.java:110-113) — not left as
    header-only/empty part files."""
    df = read_parquet(spark, in_path)
    fmt = format_table(df).drop("ROW_TEXT")
    if single_file:
        fmt = fmt.coalesce(1)
    # quote="" disables the CSV writer's own quoting - the reference never
    # escapes (pseudo-csv, DataLoad.java:299); our F1 quoting is the payload
    fmt.write.mode("overwrite").option("header", True).option("quote", "").csv(out_dir)
    if df.isEmpty():
        # Hadoop FS API (not shutil) so the delete works on any cluster FS
        from ..plans.lineage import hadoop_fs

        fs, hpath = hadoop_fs(spark, out_dir)
        fs.delete(hpath, True)
