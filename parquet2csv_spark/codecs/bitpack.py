"""Vectorized bit-packing of unsigned integer vectors.

The leaf codec every other integer codec builds on (SURVEY.md §7 step 2).
Replaces what the reference delegates wholesale to parquet-mr's page codecs
(/root/reference pom.xml:29; the tool itself never touches encodings —
SURVEY.md §4.1). All work is numpy-vectorized; no per-value Python.

Layout: a little-endian bit stream where value ``i`` occupies bits
``[i*width, (i+1)*width)``, padded to whole 8-byte words at the end
(the frame records ``n`` so padding is unambiguous).

Algorithm: small inputs (and every width-1 input) go through a bit matrix
and one ``np.packbits``; larger ones shift each value into its uint64 word
and sum each word's values in one ``np.add.reduceat`` (no Python loop).
Unpacking is a single vectorized gather.
"""

from __future__ import annotations

import numpy as np

_BYTE_WIDTHS = {8: np.uint8, 16: np.uint16, 32: np.uint32, 64: np.uint64}


def bit_width(max_value: int) -> int:
    """Bits needed to represent ``max_value`` (0 → width 0)."""
    return int(max_value).bit_length()


# up to this many total bits the bit-matrix + packbits path wins; above
# it the O(n·width)-byte bit matrix loses to the word path, which costs
# per value, not per bit. Width 1 always packs through packbits (its bit
# matrix is the values themselves). Measured single-thread on a 4-core
# x86 box, min of 15×10 calls, µs packbits/word: n=2048 w=7 38/45,
# n=8192 w=2 89/75, n=2048 w=17 104/79, n=16384 w=9 479/224,
# n=65536 w=1 53/508
_PACKBITS_MAX_BITS = 16_384


def pack(values: np.ndarray, width: int) -> bytes:
    n = len(values)
    if width == 0 or n == 0:
        return b""
    v = np.ascontiguousarray(values, dtype=np.uint64)
    if width in _BYTE_WIDTHS:
        return v.astype(_BYTE_WIDTHS[width]).tobytes()
    n_words = (n * width + 63) // 64
    if width == 1 or n * width <= _PACKBITS_MAX_BITS:
        # bit matrix (n, width), little-endian within each value, then one
        # packbits over the flat stream — BYTE-IDENTICAL to the word path
        # (the layout IS a flat little-endian bitstream; asserted in tests)
        bits = ((v[:, None] >> np.arange(width, dtype=np.uint64)) & np.uint64(1)).astype(np.uint8)
        packed = np.packbits(bits.ravel(), bitorder="little")
        out = np.zeros(n_words * 8, dtype=np.uint8)
        out[: len(packed)] = packed
        return out.tobytes()
    # word path: each value's word index q and in-word shift r, once. The
    # values' bit ranges are disjoint, so a sum of a word's shifted values
    # IS their bitwise or: one reduceat over each word's run of values (q
    # is non-decreasing), then the high parts of the values that cross a
    # word boundary, added into the next word (at most one per word)
    offs = np.arange(n, dtype=np.uint64) * np.uint64(width)
    q = (offs >> np.uint64(6)).astype(np.intp)
    r = offs & np.uint64(63)
    words = np.zeros(n_words + 1, dtype=np.uint64)  # +1 spill word
    starts = np.flatnonzero(np.diff(q, prepend=-1))
    words[q[starts]] = np.add.reduceat(v << r, starts)
    spill = np.flatnonzero(r + np.uint64(width) > np.uint64(64))
    words[q[spill] + 1] += v[spill] >> (np.uint64(64) - r[spill])
    return words[:n_words].tobytes()


def unpack(buf: bytes, n: int, width: int) -> np.ndarray:
    """Inverse of :func:`pack`; returns uint64 array of length ``n``."""
    if width == 0 or n == 0:
        return np.zeros(n, dtype=np.uint64)
    if width in _BYTE_WIDTHS:
        return np.frombuffer(buf, dtype=_BYTE_WIDTHS[width], count=n).astype(np.uint64)
    pad = (-len(buf)) % 8
    # single copy into a padded word buffer (also accepts the zero-copy
    # memoryviews operators.decode passes — no bytes concatenation)
    words = np.zeros((len(buf) + pad + 8) // 8, dtype=np.uint64)
    words.view(np.uint8)[: len(buf)] = np.frombuffer(buf, dtype=np.uint8)
    offs = np.arange(n, dtype=np.uint64) * np.uint64(width)
    q = (offs >> np.uint64(6)).astype(np.int64)
    r = offs & np.uint64(63)
    lo = words[q] >> r
    hi_shift = (np.uint64(64) - r) & np.uint64(63)
    hi = np.where(r + np.uint64(width) > np.uint64(64), words[q + 1] << hi_shift, np.uint64(0))
    mask = np.uint64((1 << width) - 1) if width < 64 else np.uint64(0xFFFFFFFFFFFFFFFF)
    return (lo | hi) & mask
