"""Arrow value-vector helpers: zero-copy (de)construction of typed vectors.

Bridges pyarrow Arrays and the numpy/bytes representations the codec
kernels operate on. All conversions are buffer-level — no per-value Python.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc

# ---------------------------------------------------------------- type kinds

KIND_INT = "i"       # ints, dates, timestamps, durations -> int64 vector
KIND_FLOAT = "f"     # float32/64 -> raw bytes
KIND_STRING = "s"    # string/large_string/binary/large_binary -> lengths+blob
KIND_BOOL = "b"      # bool -> int64 vector (0/1)
KIND_LIST = "l"      # list<primitive> -> lengths + recursively-framed values
KIND_DECIMAL = "d"   # decimal128 -> raw 16-byte little-endian values


def kind_of(typ: pa.DataType) -> str:
    if pa.types.is_list(typ) or pa.types.is_large_list(typ):
        kind_of(typ.value_type)  # raises for unsupported element types
        return KIND_LIST
    if pa.types.is_boolean(typ):
        return KIND_BOOL
    if (
        pa.types.is_integer(typ)
        or pa.types.is_date(typ)
        or pa.types.is_timestamp(typ)
        or pa.types.is_time(typ)
        or pa.types.is_duration(typ)
    ):
        return KIND_INT
    if pa.types.is_floating(typ):
        return KIND_FLOAT
    if pa.types.is_decimal(typ):
        return KIND_DECIMAL
    if is_bytes_type(typ):
        return KIND_STRING
    raise NotImplementedError(f"unsupported column type for encoding: {typ}")


def is_bytes_type(typ: pa.DataType) -> bool:
    """string/large_string/binary/large_binary: one variable-width value of
    bytes per row."""
    return (pa.types.is_string(typ) or pa.types.is_large_string(typ)
            or pa.types.is_binary(typ) or pa.types.is_large_binary(typ))


# ------------------------------------------------------------ validity masks

def validity_of(arr: pa.Array) -> tuple[np.ndarray | None, int]:
    """(bool ndarray of is-valid or None if no nulls, null_count)."""
    nc = arr.null_count
    if nc == 0:
        return None, 0
    return np.asarray(pc.is_valid(arr)), nc


def pack_validity(valid: np.ndarray) -> bytes:
    return np.packbits(valid.astype(np.uint8), bitorder="little").tobytes()


def unpack_validity(buf: bytes, n: int) -> np.ndarray:
    return np.unpackbits(
        np.frombuffer(buf, dtype=np.uint8), count=n, bitorder="little"
    ).astype(bool)


# ------------------------------------------------------------ int-like paths

def ints_to_int64(arr: pa.Array) -> pa.Array:
    """Any int-like array -> int64 Arrow array of its stored values (days
    for date32, counts of the type's unit for date64/time/timestamp/
    duration); nulls are kept. Arrow has no date32 -> int64 cast, so
    date32 goes via int32."""
    typ = arr.type
    if pa.types.is_int64(typ):
        return arr
    if pa.types.is_date32(typ):
        arr = arr.cast(pa.int32())
    return arr.cast(pa.int64())


def ints_to_numpy(arr: pa.Array) -> np.ndarray:
    """Any int-like/bool array -> int64 ndarray (nulls become 0)."""
    if pa.types.is_boolean(arr.type):
        a = arr.fill_null(False) if arr.null_count else arr
        return np.asarray(a).astype(np.int64)
    arr = ints_to_int64(arr)
    a = arr.fill_null(0) if arr.null_count else arr
    return a.to_numpy(zero_copy_only=False).astype(np.int64, copy=False)


def ints_from_numpy(vals: np.ndarray, typ: pa.DataType, valid: np.ndarray | None) -> pa.Array:
    mask = None if valid is None else ~valid
    base = pa.array(vals, type=pa.int64(), mask=mask)
    if pa.types.is_boolean(typ):
        return base.cast(pa.bool_())
    if pa.types.is_date32(typ):
        return base.cast(pa.int32()).cast(typ)
    if pa.types.is_int64(typ) or pa.types.is_timestamp(typ) or pa.types.is_date64(typ) \
            or pa.types.is_time(typ) or pa.types.is_duration(typ):
        return base.cast(typ)
    return base.cast(typ)


# ------------------------------------------------------------- string paths

def string_parts(arr: pa.Array) -> tuple[np.ndarray, bytes]:
    """String-like array -> (int64 lengths, concatenated utf8/bytes blob).

    Nulls contribute length 0 (the validity bitmap distinguishes null from
    empty — null fidelity per SURVEY.md §2.3-3). Zero-copy via Arrow buffers.
    """
    a = arr.fill_null(b"" if pa.types.is_binary(arr.type) or pa.types.is_large_binary(arr.type) else "") \
        if arr.null_count else arr
    lb = a.cast(pa.large_binary())
    n = len(lb)
    if n == 0:
        return np.zeros(0, dtype=np.int64), b""
    bufs = lb.buffers()
    if bufs[1] is None:
        return np.zeros(n, dtype=np.int64), b""
    offsets = np.frombuffer(bufs[1], dtype=np.int64)[lb.offset : lb.offset + n + 1]
    data_all = np.frombuffer(bufs[2], dtype=np.uint8) if bufs[2] is not None else np.zeros(0, np.uint8)
    blob = data_all[offsets[0] : offsets[-1]].tobytes()
    lengths = np.diff(offsets).astype(np.int64)
    return lengths, blob


def strings_from_parts(
    lengths: np.ndarray,
    blob: bytes,
    typ: pa.DataType,
    valid: np.ndarray | None,
) -> pa.Array:
    n = len(lengths)
    offsets = np.zeros(n + 1, dtype=np.int64)
    np.cumsum(lengths, out=offsets[1:])
    validity_buf = None if valid is None else pa.py_buffer(pack_validity(valid))
    arr = pa.Array.from_buffers(
        pa.large_binary(),
        n,
        [validity_buf, pa.py_buffer(offsets.tobytes()), pa.py_buffer(blob)],
        null_count=-1 if valid is not None else 0,
    )
    return arr.cast(typ)


# -------------------------------------------------------------- float paths

def floats_to_bytes(arr: pa.Array) -> bytes:
    a = arr.fill_null(0.0) if arr.null_count else arr
    np_dtype = np.float32 if pa.types.is_float32(arr.type) else np.float64
    return np.ascontiguousarray(a.to_numpy(zero_copy_only=False), dtype=np_dtype).tobytes()


def floats_from_bytes(body: bytes, typ: pa.DataType, n: int, valid: np.ndarray | None) -> pa.Array:
    np_dtype = np.float32 if pa.types.is_float32(typ) else np.float64
    vals = np.frombuffer(body, dtype=np_dtype, count=n)
    mask = None if valid is None else ~valid
    return pa.array(vals, type=typ, mask=mask)


# ------------------------------------------------------------ decimal paths

def decimals_to_bytes(arr: pa.Array) -> bytes:
    """decimal128 -> raw 16B/value little-endian (zero-copy data buffer)."""
    import decimal as _d

    a = arr.fill_null(_d.Decimal(0)) if arr.null_count else arr
    buf = a.buffers()[1]
    data = np.frombuffer(buf, dtype=np.uint8)
    return data[a.offset * 16 : (a.offset + len(a)) * 16].tobytes()


def decimals_as_int64(arr: pa.Array) -> np.ndarray | None:
    """decimal128 -> int64 view of the unscaled values (nulls become 0), or
    None when any value does not fit int64 (its high word is not the sign
    extension of its low word)."""
    raw = np.frombuffer(decimals_to_bytes(arr), dtype=np.uint64)
    lo, hi = raw[0::2], raw[1::2].view(np.int64)
    if not (hi == -(lo >> np.uint64(63)).astype(np.int64)).all():
        return None
    return lo.view(np.int64)


def decimals_from_bytes(body: bytes, typ: pa.DataType, n: int, valid: np.ndarray | None) -> pa.Array:
    validity_buf = None if valid is None else pa.py_buffer(pack_validity(valid))
    return pa.Array.from_buffers(
        typ, n, [validity_buf, pa.py_buffer(body)],
        null_count=-1 if valid is not None else 0,
    )


# --------------------------------------------------------- dtype persistence

def list_parts(arr: pa.Array) -> tuple[np.ndarray, pa.Array]:
    """List array -> (int64 element counts, flattened child values).

    Nulls contribute 0 elements (bitmap restores them). Zero-copy offsets."""
    typ = arr.type
    empty = pa.scalar([], type=typ)
    a = arr.fill_null(empty) if arr.null_count else arr
    la = a.cast(pa.large_list(typ.value_type)) if not pa.types.is_large_list(a.type) else a
    n = len(la)
    if n == 0:
        return np.zeros(0, dtype=np.int64), pa.array([], type=typ.value_type)
    offsets = np.frombuffer(la.buffers()[1], dtype=np.int64)[la.offset : la.offset + n + 1]
    values = la.values.slice(offsets[0], offsets[-1] - offsets[0])
    return np.diff(offsets).astype(np.int64), values


def list_from_parts(
    counts: np.ndarray, values: pa.Array, typ: pa.DataType, valid: np.ndarray | None
) -> pa.Array:
    n = len(counts)
    offsets = np.zeros(n + 1, dtype=np.int64)
    np.cumsum(counts, out=offsets[1:])
    validity_buf = None if valid is None else pa.py_buffer(pack_validity(valid))
    arr = pa.Array.from_buffers(
        pa.large_list(values.type), n,
        [validity_buf, pa.py_buffer(offsets.tobytes())],
        null_count=-1 if valid is not None else 0,
        children=[values],
    )
    return arr.cast(typ)


def dtype_str(typ: pa.DataType) -> str:
    return str(typ)


def dtype_from_str(s: str) -> pa.DataType:
    if s.startswith("decimal128"):
        inner = s[s.index("(") + 1 : s.rindex(")")]
        prec, scale = (int(x) for x in inner.split(","))
        return pa.decimal128(prec, scale)
    if s.startswith("timestamp"):
        # e.g. timestamp[us] / timestamp[us, tz=UTC]
        inner = s[s.index("[") + 1 : s.rindex("]")]
        parts = [p.strip() for p in inner.split(",")]
        unit = parts[0]
        tz = None
        for p in parts[1:]:
            if p.startswith("tz="):
                tz = p[3:]
        return pa.timestamp(unit, tz=tz)
    if s.startswith("duration"):
        return pa.duration(s[s.index("[") + 1 : s.rindex("]")])
    if s.startswith("time32"):
        return pa.time32(s[s.index("[") + 1 : s.rindex("]")])
    if s.startswith("time64"):
        return pa.time64(s[s.index("[") + 1 : s.rindex("]")])
    alias = {
        "large_string": pa.large_string(),
        "large_binary": pa.large_binary(),
        "binary": pa.binary(),
        "string": pa.string(),
        "bool": pa.bool_(),
        "double": pa.float64(),
        "float": pa.float32(),
        "halffloat": pa.float16(),
        "date32[day]": pa.date32(),
        "date64[ms]": pa.date64(),
    }
    if s in alias:
        return alias[s]
    if s.startswith("list<") and s.endswith(">"):
        inner = s[5:-1]
        if ":" in inner:  # e.g. "list<item: float>"
            inner = inner.split(":", 1)[1].strip()
        return pa.list_(dtype_from_str(inner))
    if s.startswith("large_list<") and s.endswith(">"):
        inner = s[11:-1]
        if ":" in inner:
            inner = inner.split(":", 1)[1].strip()
        return pa.large_list(dtype_from_str(inner))
    return pa.type_for_alias(s)
