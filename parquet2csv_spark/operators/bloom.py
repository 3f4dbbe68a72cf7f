"""Per-chunk string membership filters for point-lookup pruning.

Zone maps prune string ``==`` / ``in`` poorly on high-cardinality columns
the chunks are NOT sorted by (VERDICT r6): every chunk's prefix-truncated
``[lo_str, hi_str]`` spans nearly the whole value space, so the canonical
100-TB access pattern "fetch this one path" scans almost everything. A
small per-chunk Bloom filter over the column's distinct values makes the
point lookup selective regardless of sort order. Bloom filters only err
toward KEEPING a chunk (false positives, never false negatives), so
pruning stays conservative: results are bit-identical, only the number of
chunks decoded changes.

Design notes (all public techniques — Bloom 1970; Parquet's column-level
BloomFilter does the same job for row groups):

- **Hashing** — ``pandas.util.hash_array`` (SipHash with pandas' fixed
  default key): deterministic across processes/runs, vectorized in
  cython, so the encode side hashes a chunk's distinct values with no
  per-value Python. Values are truncated to their first
  ``_PREFIX_CODEPOINTS`` code points Arrow-side
  (``utf8_slice_codeunits``) before hashing so content-sized strings
  don't buy an extra full data pass; the query side applies the same
  truncation (``value[:64]`` — Python slicing also counts code points),
  so equal values always collide into the same bits.
- **k = 4 positions** by double hashing ``(h1 + i*h2) mod m``. ``h1``/
  ``h2`` are reduced to 31 bits driver-side so the Spark-side position
  arithmetic (``h1 + 3*h2``) can never overflow a long under ANSI mode.
- **Sizing** — ``m`` = next power of two ≥ 16 × ndv, clamped to
  [512, 65536] bits (≤ 8 KiB ≅ 1024 longs per string column chunk;
  ~0.2% false positives at 16 bits/value, ~16% when saturated at the
  cap — still pruning 84% of non-matching chunks).
- **Storage** — ``array<bigint>`` words in the chunks table, so the
  membership check is a pure JVM expression (``try_element_at`` +
  ``shiftleft``/``bitwiseAND``): no Python anywhere in the pruning path,
  and ``m`` is read per chunk as ``64 × size(bloom)`` — chunks with
  different filter sizes coexist under one query expression. The column
  name enters that expression as a hex literal
  (``cast(X'<utf-8 hex>' as string)``), which reads the same under either
  ``spark.sql.parser.escapedStringLiterals`` setting, so no name needs
  escaping and the check runs under both.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc

BLOOM_K = 4
_PREFIX_CODEPOINTS = 64
_MIN_BITS = 512
_MAX_BITS = 65536
# columns whose values average longer than this get NO bloom: point
# lookups target key-like strings (path, commit, name) — for document/
# content columns the filter would hash a full extra data pass through
# pc.unique (measured 32 of 39 ms of per-chunk bloom cost on an 8 MB
# corpus chunk) to build a 64-codepoint-prefix bloom whose fp is high
# anyway (source files share license headers). Missing bloom = null =
# conservative keep; zone maps still apply.
_MAX_AVG_LEN = 128
_H_MASK = np.uint64(0x7FFFFFFF)  # 31-bit reduction (see module docstring)


def _hash_strings(obj_vals: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """(h1, h2) int64 arrays for an object array of python strings."""
    import pandas as pd

    # categorize=False: the input is already distinct values, so the
    # factorize+Categorical detour is pure per-call overhead (measured
    # ~2.6× slower; it dominated the encode profile at 240 chunks × 5
    # columns). Hash values are identical either way.
    h = pd.util.hash_array(obj_vals, categorize=False)  # uint64, fixed key
    h1 = (h & _H_MASK).astype(np.int64)
    h2 = (((h >> np.uint64(32)) & _H_MASK) | np.uint64(1)).astype(np.int64)
    return h1, h2


def build_bloom(arr: pa.Array) -> list[int] | None:
    """Bloom words (int64 list) over a string column chunk's distinct
    values, or None when the column carries no usable values (all-null /
    empty chunk) — a null bloom disables pruning for that chunk."""
    n = len(arr)
    if n == 0:
        return None
    # cheap length gate BEFORE the pc.unique pass (which hashes all bytes)
    data_len = pc.sum(pc.binary_length(arr)).as_py() or 0
    if data_len > _MAX_AVG_LEN * max(1, n - arr.null_count):
        return None
    distinct = pc.unique(arr).drop_null()
    ndv = len(distinct)
    if ndv == 0:
        return None
    m = min(_MAX_BITS, max(_MIN_BITS, 1 << (16 * ndv - 1).bit_length()))
    trunc = pc.utf8_slice_codeunits(distinct, 0, _PREFIX_CODEPOINTS)
    h1, h2 = _hash_strings(trunc.to_numpy(zero_copy_only=False))
    words = np.zeros(m // 64, dtype=np.uint64)
    # all k positions in one shot: (n, k) grid, single scatter
    pos = (h1[:, None] + np.arange(BLOOM_K, dtype=np.int64)[None, :] * h2[:, None]) % m
    pos = pos.ravel()
    np.bitwise_or.at(words, pos >> 6, np.uint64(1) << (pos & 63).astype(np.uint64))
    return words.view(np.int64).tolist()


def query_hashes(value: str) -> tuple[int, int]:
    """(h1, h2) for one lookup value — same truncation + hash as
    :func:`build_bloom`, computed once driver-side per literal."""
    h1, h2 = _hash_strings(
        np.array([value[:_PREFIX_CODEPOINTS]], dtype=object)
    )
    return int(h1[0]), int(h2[0])


def bloom_prune_sql(col: str, values: list[str]) -> str:
    """SQL boolean over a chunks row: true iff some ``cols`` element for
    ``col`` MAY contain at least one of ``values`` — the bloom is absent
    (conservative keep: legacy/all-null chunks) or, for some value, all k
    bits are set. A single ``exists(cols, c -> ...)`` expression string
    (the pyspark ``shiftleft``/``shiftright`` wrappers only take Python-int
    bit counts; SQL takes expressions) — pure JVM, ANSI-safe
    (``try_element_at`` + ``greatest(m, 1)``; positions are built from
    31-bit hashes so ``h1 + 3*h2`` can never overflow a long)."""
    conds = []
    for v in values:
        h1, h2 = query_hashes(v)
        bits = []
        for i in range(BLOOM_K):
            pos = f"pmod({h1 + i * h2}, greatest(size(c.bloom) * 64, 1))"
            word = f"try_element_at(c.bloom, cast(shiftright({pos}, 6) as int) + 1)"
            mask = f"shiftleft(cast(1 as bigint), cast({pos} % 64 as int))"
            bits.append(f"(({word} & {mask}) != 0)")
        conds.append("(" + " AND ".join(bits) + ")")
    return (
        f"exists(cols, c -> c.name = cast(X'{col.encode().hex()}' as string) AND "
        f"(c.bloom IS NULL OR size(c.bloom) <= 0 OR ({' OR '.join(conds)})))"
    )
