"""Codec frames: self-describing encoded column chunks.

A *frame* is the binary encoding of one column of one row chunk
(north_star, BASELINE.json: "binary struct columns with per-chunk codec
tags, symbol tables, and frame headers"). Frames are produced/consumed
entirely with numpy/pyarrow buffer operations — no per-value Python.

Frame layout::

    uint8  version (writer generation: 1 = zlib transport, 2 = zstd)
    uint8  codec tag
    uint8  len(dtype string); dtype string utf8   # original arrow type
    uint32 n values
    uint32 null count
    [validity bitmap, ceil(n/8) bytes, iff null count > 0]
    [codec body]

The layout is identical across versions — the version byte records the
writer generation so old data stays self-describing. v2 (current) wraps
transport bodies with zstd (tag T_ZSTD: inner tag + uint32 raw length +
zstd bytes); v1 used zlib (tag T_ZLIB: inner tag + zlib stream). Decode
accepts both, keyed by the TAG, so v1 chunk tables remain readable.

Codec spec mini-language (the string recorded per chunk in the chunks
table, e.g. ``dict:fsst+z``):

    ints   : plain | for | rle | delta (first + FOR-packed neighbor deltas)
    floats : plain | alp (decimal-scaled ints + verbatim exceptions)
    decimal: plain | decint:<int spec> (int64-fitting decimal128 via ints)
    bools  : plain (1-bit packed)
    strings: plain | fsst | dict:<values spec> | rledict:<values spec>
    suffix : +z  — transport-compress the codec body (as Parquet pairs its
             encodings with GZIP; the reference's baseline format is GZIP
             parquet with dictionary DISABLED,
             OneRowParquetSchema.java:104-110). v2 transport is zstd via
             pyarrow (~4× faster than deflate at comparable ratio on
             dict/fsst-preconditioned bodies — VERDICT r6 #2: zlib was
             ~25% of encode wall); v1 frames used zlib.
"""

from __future__ import annotations

import struct
import zlib

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc

from . import alp, bitpack, foref, fsst, rle, vec

# codec tags
T_PLAIN_INT = 1
T_FOR = 2
T_RLE_INT = 3
T_PLAIN_STR = 4
T_DICT = 5
T_RLE_DICT = 6
T_FSST = 7
T_PLAIN_FLOAT = 8
T_BOOL = 9
T_ZLIB = 10
T_LIST = 11
T_PLAIN_DEC = 12
T_ALP = 13
T_DELTA = 14
T_DEC_INT = 15
T_ZSTD = 16

FRAME_VERSION = 2  # writer generation; decode accepts 1 (zlib era) and 2

_U32 = struct.Struct("<I")

# zstd transport codecs (pyarrow ships libzstd). The level is transport-
# internal — decode reads the zstd frame regardless — so it is tunable
# without a format change (only the byte-pinned metrics oracle constants
# move). Level 1 for big bodies mirrors the v1 writer's big-body zlib-1
# fast path and beats zlib-1 on BOTH axes there (~28% smaller on the corpus
# content column); level 3 for small bodies: ~13% worse than deflate-6 on
# a small fsst body, but small bodies are the non-content columns (~5% of
# corpus bytes ⇒ ~+0.7% total) and level 9 cost a measured ~8% of encode
# wall. Module-level singletons: pa.Codec construction is cheap but not
# free, and encode touches these per frame.
_ZSTD_FAST = pa.Codec("zstd", compression_level=1)
_ZSTD_DEFAULT = pa.Codec("zstd", compression_level=3)


def _transport_compress(body: bytes) -> bytes:
    codec = _ZSTD_FAST if len(body) > (1 << 18) else _ZSTD_DEFAULT
    return codec.compress(body, asbytes=True)


# ---------------------------------------------------------------- int bodies

def _enc_int(vals: np.ndarray, spec: str) -> tuple[int, bytes]:
    if spec == "plain":
        return T_PLAIN_INT, np.ascontiguousarray(vals, dtype=np.int64).tobytes()
    if spec == "for":
        return T_FOR, foref.encode(vals)
    if spec == "rle":
        return T_RLE_INT, rle.encode(vals)
    if spec == "delta":
        # first value verbatim + FOR over neighbor deltas: sorted or
        # near-sorted columns (timestamps, sequential ids) have tiny delta
        # ranges where the absolute range needs 40+ bits. int64 wraparound
        # in diff and cumsum cancels, so the round-trip is exact for ANY
        # values (Parquet DELTA_BINARY_PACKED / Gorilla lineage — public
        # formats, independent implementation)
        v = np.ascontiguousarray(vals, dtype=np.int64)
        if len(v) == 0:
            return T_DELTA, b""
        u = v.view(np.uint64)
        d = (u[1:] - u[:-1]).view(np.int64)
        return T_DELTA, struct.pack("<q", int(v[0])) + foref.encode(d)
    raise ValueError(f"unknown int codec {spec!r}")


def _dec_int(tag: int, body: bytes, n: int) -> np.ndarray:
    if tag == T_PLAIN_INT:
        return np.frombuffer(body, dtype=np.int64, count=n).copy()
    if tag == T_FOR:
        return foref.decode(body, n)
    if tag == T_RLE_INT:
        return rle.decode(body)
    if tag == T_DELTA:
        if n == 0:
            return np.empty(0, dtype=np.int64)
        (first,) = struct.unpack_from("<q", body, 0)
        d = foref.decode(body[8:], n - 1)
        out = np.empty(n, dtype=np.uint64)
        out[0] = np.int64(first).astype(np.uint64)
        np.cumsum(d.view(np.uint64), dtype=np.uint64, out=out[1:])
        out[1:] += np.int64(first).astype(np.uint64)
        return out.view(np.int64)
    raise ValueError(f"bad int tag {tag}")


# ------------------------------------------------------------- string bodies

def _lengths_block(lengths: np.ndarray) -> bytes:
    b = foref.encode(lengths)
    return _U32.pack(len(b)) + b


def _read_lengths_block(body: bytes, n: int) -> tuple[np.ndarray, int]:
    (blen,) = _U32.unpack_from(body, 0)
    lengths = foref.decode(body[4 : 4 + blen], n)
    return lengths, 4 + blen


def _enc_plain_str(lengths: np.ndarray, blob: bytes) -> bytes:
    return _lengths_block(lengths) + blob


def _dec_plain_str(body: bytes, n: int) -> tuple[np.ndarray, bytes]:
    lengths, off = _read_lengths_block(body, n)
    return lengths, body[off:]


def _enc_fsst(lengths: np.ndarray, blob: bytes,
              ctx: dict | None = None, ctx_key: str | None = None) -> bytes:
    merges = None
    if ctx is not None and ctx_key is not None:
        cached = ctx.get(("fsst", ctx_key))
        # table reuse across chunks of one sorted group: skip retraining
        # when the cached codes are still unused in this chunk's blob
        if cached and fsst.reusable(blob, cached):
            merges = cached
    if merges is None:
        merges = fsst.train(blob)
        if ctx is not None and ctx_key is not None:
            ctx[("fsst", ctx_key)] = merges
    enc = fsst.compress(blob, merges) if merges else blob
    return _lengths_block(lengths) + fsst.serialize_table(merges) + enc


def _dec_fsst(body: bytes, n: int) -> tuple[np.ndarray, bytes]:
    lengths, off = _read_lengths_block(body, n)
    merges, used = fsst.deserialize_table(body[off:])
    blob = fsst.decompress(body[off + used :], merges)
    return lengths, blob


def _dict_parts(arr: pa.Array) -> tuple[np.ndarray, pa.Array]:
    """(codes int64, dictionary values array) — nulls already filled."""
    d = pc.dictionary_encode(arr)
    codes = d.indices.cast(pa.int64()).to_numpy(zero_copy_only=False).astype(np.int64)
    return codes, d.dictionary


def _enc_dict(arr: pa.Array, values_spec: str, use_rle: bool) -> tuple[int, bytes]:
    codes, dictvals = _dict_parts(arr)
    codes_body = rle.encode(codes) if use_rle else foref.encode(codes)
    sub = encode_array(dictvals.cast(pa.large_string()) if pa.types.is_string(dictvals.type) else dictvals, values_spec)
    return (
        (T_RLE_DICT if use_rle else T_DICT),
        _U32.pack(len(codes_body)) + codes_body + sub,
    )


def _dec_dict(tag: int, body: bytes, n: int) -> pa.Array:
    (clen,) = _U32.unpack_from(body, 0)
    codes_body = body[4 : 4 + clen]
    codes = rle.decode(codes_body) if tag == T_RLE_DICT else foref.decode(codes_body, n)
    dictvals = decode_array(body[4 + clen :])
    return pc.take(dictvals, pa.array(codes, type=pa.int64()))


# ------------------------------------------------------------------- frames

def encode_array(arr: pa.Array, spec: str,
                 ctx: dict | None = None, ctx_key: str | None = None) -> bytes:
    """Encode one pyarrow Array into a self-describing frame.

    ``ctx``/``ctx_key``: optional per-task cache enabling symbol-table
    reuse across consecutive chunks of the same sorted group."""
    if isinstance(arr, pa.ChunkedArray):
        arr = arr.combine_chunks()
    typ = arr.type
    kind = vec.kind_of(typ)
    n = len(arr)
    valid, null_count = vec.validity_of(arr)

    use_z = spec.endswith("+z")
    base_spec = spec[:-2] if use_z else spec

    if kind == vec.KIND_LIST:
        # list<primitive>: element counts (FOR) + recursively-framed values
        counts, values = vec.list_parts(arr)
        inner_spec = base_spec.split(":", 1)[1] if ":" in base_spec else None
        if inner_spec:
            sub = encode_array(values, inner_spec)
        else:
            from . import selector as _selector

            _, sub = _selector.encode_best(values)
        tag, body = T_LIST, _lengths_block(counts) + sub
    elif kind in (vec.KIND_INT, vec.KIND_BOOL):
        vals = vec.ints_to_numpy(arr)
        if kind == vec.KIND_BOOL and base_spec == "plain":
            tag, body = T_BOOL, bitpack.pack(vals.astype(np.uint64), 1)
        else:
            tag, body = _enc_int(vals, base_spec if base_spec != "auto" else "for")
    elif kind == vec.KIND_FLOAT:
        if base_spec == "alp":
            a = arr.fill_null(0.0) if arr.null_count else arr
            np_dtype = np.float32 if pa.types.is_float32(typ) else np.float64
            vals = np.ascontiguousarray(a.to_numpy(zero_copy_only=False), dtype=np_dtype)
            tag, body = T_ALP, alp.encode(vals)
        else:
            tag, body = T_PLAIN_FLOAT, vec.floats_to_bytes(arr)
    elif kind == vec.KIND_DECIMAL:
        # decimal128 values that all fit int64 (the reference's CDC
        # decimal(30,0) SOURCE_SCN sequence is the parity case) ride the
        # int codec suite: 16B/value raw becomes delta/FOR-packed. The
        # frame TAG is authoritative at decode, so the not-all-fit fallback
        # to plain is safe even mid-spec.
        ints = vec.decimals_as_int64(arr) if base_spec.startswith("decint") else None
        if ints is not None:
            sub = base_spec.split(":", 1)[1] if ":" in base_spec else "for"
            itag, ibody = _enc_int(ints, sub)
            tag, body = T_DEC_INT, bytes((itag,)) + ibody
        else:
            tag, body = T_PLAIN_DEC, vec.decimals_to_bytes(arr)
    else:  # strings
        fill = b"" if pa.types.is_binary(typ) or pa.types.is_large_binary(typ) else ""
        filled = arr.fill_null(fill) if arr.null_count else arr
        if base_spec == "plain":
            lengths, blob = vec.string_parts(filled)
            tag, body = T_PLAIN_STR, _enc_plain_str(lengths, blob)
        elif base_spec == "fsst":
            lengths, blob = vec.string_parts(filled)
            tag, body = T_FSST, _enc_fsst(lengths, blob, ctx, ctx_key)
        elif base_spec.startswith("dict"):
            inner = base_spec.split(":", 1)[1] if ":" in base_spec else "plain"
            tag, body = _enc_dict(filled, inner, use_rle=False)
        elif base_spec.startswith("rledict"):
            inner = base_spec.split(":", 1)[1] if ":" in base_spec else "plain"
            tag, body = _enc_dict(filled, inner, use_rle=True)
        else:
            raise ValueError(f"unknown string codec {base_spec!r}")

    if use_z:
        body = bytes((tag,)) + _U32.pack(len(body)) + _transport_compress(body)
        tag = T_ZSTD

    ds = vec.dtype_str(typ).encode()
    hdr = bytes((FRAME_VERSION, tag, len(ds))) + ds + _U32.pack(n) + _U32.pack(null_count)
    if null_count:
        hdr += vec.pack_validity(valid)
    return hdr + body


def decode_array(frame: bytes | memoryview) -> pa.Array:
    """Inverse of :func:`encode_array` — bit-identical reconstruction.

    Accepts any buffer-protocol object (operators.decode passes zero-copy
    memoryviews over the Arrow batch) — slices stay buffer views; only the
    tiny dtype string is materialized."""
    if not isinstance(frame, (bytes, memoryview)):
        frame = memoryview(frame)
    if isinstance(frame, memoryview) and frame.format != "B":
        frame = frame.cast("B")
    ver, tag, dlen = frame[0], frame[1], frame[2]
    if ver not in (1, 2):
        # a real exception, not assert: under `python -O` an assert
        # vanishes and a corrupt/future-version frame would be misparsed
        # silently instead of failing loudly (ADVICE r7)
        raise ValueError(f"bad frame version {ver}")
    off = 3
    typ = vec.dtype_from_str(bytes(frame[off : off + dlen]).decode())
    off += dlen
    (n,) = _U32.unpack_from(frame, off)
    (null_count,) = _U32.unpack_from(frame, off + 4)
    off += 8
    valid = None
    if null_count:
        nbytes = (n + 7) // 8
        valid = vec.unpack_validity(frame[off : off + nbytes], n)
        off += nbytes
    body = frame[off:]

    if tag == T_ZSTD:
        (raw_len,) = _U32.unpack_from(body, 1)
        inner = body[1 + 4 :]
        tag = body[0]
        body = _ZSTD_DEFAULT.decompress(
            bytes(inner) if isinstance(inner, memoryview) else inner,
            raw_len, asbytes=True,
        )
    elif tag == T_ZLIB:  # v1 compat: zlib-era frames stay decodable
        tag = body[0]
        body = zlib.decompress(body[1:])

    kind = vec.kind_of(typ)
    if tag == T_BOOL:
        vals = bitpack.unpack(body, n, 1).astype(np.int64)
        return vec.ints_from_numpy(vals, typ, valid)
    if tag in (T_PLAIN_INT, T_FOR, T_RLE_INT, T_DELTA):
        return vec.ints_from_numpy(_dec_int(tag, body, n), typ, valid)
    if tag == T_PLAIN_FLOAT:
        return vec.floats_from_bytes(body, typ, n, valid)
    if tag == T_ALP:
        np_dtype = np.float32 if pa.types.is_float32(typ) else np.float64
        vals = alp.decode(body, n, np_dtype)
        mask = None if valid is None else ~valid
        return pa.array(vals, type=typ, mask=mask)
    if tag == T_PLAIN_DEC:
        return vec.decimals_from_bytes(body, typ, n, valid)
    if tag == T_DEC_INT:
        ints = _dec_int(body[0], bytes(body[1:]), n)
        pairs = np.empty(2 * n, dtype=np.uint64)
        pairs[0::2] = ints.view(np.uint64)
        # hi half = sign extension of the int64 value
        pairs[1::2] = np.where(
            ints < 0, np.uint64(0xFFFFFFFFFFFFFFFF), np.uint64(0)
        )
        return vec.decimals_from_bytes(pairs.tobytes(), typ, n, valid)
    if tag == T_PLAIN_STR:
        lengths, blob = _dec_plain_str(body, n)
        return vec.strings_from_parts(lengths, blob, typ, valid)
    if tag == T_FSST:
        lengths, blob = _dec_fsst(body, n)
        return vec.strings_from_parts(lengths, blob, typ, valid)
    if tag == T_LIST:
        counts, off2 = _read_lengths_block(body, n)
        values = decode_array(body[off2:])
        return vec.list_from_parts(counts, values, typ, valid)
    if tag in (T_DICT, T_RLE_DICT):
        out = _dec_dict(tag, body, n)
        if valid is not None:
            out = pc.if_else(pa.array(valid), out, pa.scalar(None, type=out.type))
        return out.cast(typ) if out.type != typ else out
    raise ValueError(f"bad frame tag {tag}")


def _body_offset(frame: bytes) -> int:
    dlen = frame[2]
    off = 3 + dlen
    (n,) = _U32.unpack_from(frame, off)
    (null_count,) = _U32.unpack_from(frame, off + 4)
    off += 8
    if null_count:
        off += (n + 7) // 8
    return off


def wrap_transport(frame: bytes) -> bytes:
    """Re-wrap an existing frame's body in the (v2, zstd) transport layer
    without re-running the inner codec (used by the selector's +z trial)."""
    tag = frame[1]
    if tag in (T_ZSTD, T_ZLIB):
        return frame
    off = _body_offset(frame)
    raw = frame[off:]
    body = bytes((tag,)) + _U32.pack(len(raw)) + _transport_compress(raw)
    return frame[:1] + bytes((T_ZSTD,)) + frame[2:off] + body


def raw_size(arr: pa.Array) -> int:
    """Logical (uncompressed) byte size of a column vector — the numerator
    of compression ratio and of encode throughput (BASELINE.md protocol)."""
    kind = vec.kind_of(arr.type)
    n = len(arr)
    if kind == vec.KIND_LIST:
        _, values = vec.list_parts(arr)
        return raw_size(values) + 8 * n
    if kind == vec.KIND_STRING:
        # byte count from the length vector only — the old string_parts
        # call materialized (copied) the whole concatenated blob per column
        # per chunk just to sum it (r5 profile: a full extra data pass).
        # Nulls need no fill: binary_length propagates them and pc.sum
        # skips them, so null slots contribute 0 without a copy.
        data_len = pc.sum(pc.binary_length(arr)).as_py() or 0
        return int(data_len) + 4 * n
    if kind == vec.KIND_FLOAT:
        return n * (4 if pa.types.is_float32(arr.type) else 8)
    if kind == vec.KIND_BOOL:
        return n
    if kind == vec.KIND_DECIMAL:
        return n * 16
    return n * 8
