"""Sampling-based codec auto-selection (north_star, BASELINE.json).

For each column chunk the selector computes cheap statistics on a
deterministic stride sample (cardinality, run count, value range, average
string length) and picks a codec:

- ints, and decimals whose values fit int64: an analytic size model, since
  FOR/RLE/delta sizes follow from range and run statistics;
- floats: an ALP probe on a stride sample;
- strings: one trial loop that encodes a sample under every candidate and
  keeps the smallest measured size, preferring faster candidates within a
  tolerance. Only the sample's shape depends on the chunk: a stride sample
  for small chunks, a contiguous prefix for large blobs (see ``choose``).

The chosen codec is recorded per chunk in the chunks table (the per-chunk
codec tag).

Replaces the reference's single hard-wired configuration (GZIP parquet,
dictionary disabled — OneRowParquetSchema.java:104-110): instead of one
global choice, each column chunk gets the codec its own data favors
(FSST/dict for path-like and content-like text, RLE/dict for
low-cardinality repo/lang/commit — as the north_star prescribes).

Determinism contract: every sample is a fixed stride slice or prefix, so a
single ``choose``/``encode_best`` call is deterministic in its inputs. The
codec ``ctx`` (chosen specs per column and size band, FSST symbol tables)
lives for exactly one encode task: ``encode_batches`` keeps one per call
and ``encode_salted`` one per task's copy of its closure. Frames are
therefore a pure function of each task's sequence of chunks or groups,
never of which worker process ran the task, so one-shot runs at the same
slot count write byte-identical frames (the pinned
``encode_metrics_documents`` oracle relies on this). A resume re-packs
only the pending groups into tasks, so its frames may differ from a
one-shot run's but decode equal; resume correctness rests on
``EncodeJob.chunks()`` reading exactly ONE committed run per group, never
on byte identity.
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc

from . import alp, encode_array, foref, rle, vec

_SAMPLE_VALUES = 4096       # values in the statistics sample
_TRIAL_VALUES = 512         # values in a small chunk's trial sample
_TRIAL_BYTES = 1 << 18      # byte budget of a small chunk's trial sample
_TIE_TOLERANCE = 1.12  # prefer a faster codec within 12% of the best size
_Z_TRIAL_BYTES = 1 << 16    # bytes of the body used in the transport trial
_Z_KEEP = 0.9               # keep the +z layer only if it saves >10%

# Large-blob trial (r8), measured on the corpus content column: the
# transport zstd exploits long-range redundancy that only exists in
# samples larger than its match window, and FSST's parity-greedy parsing
# encodes identical substrings differently at different byte parities —
# so on a small sample `fsst+z` looks ~5-10% smaller, while on the real
# multi-MB chunk `plain+z` is 20-24% SMALLER (p/f 0.76 at 512KB..4MB) and
# ~10× faster to encode.
_LARGE_BLOB_BYTES = 1 << 19      # 512 KiB — the measured crossover
_TRIAL_BYTES_LARGE = 1 << 20     # 1 MiB trial prefix


@dataclass
class ColumnStats:
    """Statistics of one chunk's stride sample that drive the codec choice
    (``n`` is the whole chunk's length)."""
    n: int
    kind: str
    ndv_ratio: float = 1.0
    run_ratio: float = 1.0        # runs / values (1.0 = no runs)
    avg_len: float = 0.0
    value_range: int = 0


def _stride(arr: pa.Array, k: int) -> pa.Array:
    """Deterministic stride sample of at most ``k`` values."""
    n = len(arr)
    if n <= k:
        return arr
    step = n // k
    return arr.take(pa.array(np.arange(0, n, step, dtype=np.int64)[:k]))


def _prefix(arr: pa.Array, budget: int) -> pa.Array:
    """Leading slice of a string-like array holding about ``budget`` bytes
    (at least 16 values; nulls count 0). The cut comes from the lengths
    alone: ``string_parts`` would copy the whole blob just to find it."""
    lengths = pc.binary_length(arr).fill_null(0).to_numpy(zero_copy_only=False)
    keep = int(np.searchsorted(np.cumsum(lengths), budget)) + 1
    return arr.slice(0, max(16, keep))


def _delta_range(v: np.ndarray) -> int:
    """Range of the wrapping int64 neighbor deltas the delta codec packs."""
    u = v.view(np.uint64)
    d = (u[1:] - u[:-1]).view(np.int64)
    return int(d.max()) - int(d.min())


def analyze(arr: pa.Array) -> ColumnStats:
    kind = vec.kind_of(arr.type)
    n = len(arr)
    st = ColumnStats(n=n, kind=kind)
    if n == 0:
        return st
    s = _stride(arr, _SAMPLE_VALUES)
    sn = len(s)
    if kind in (vec.KIND_INT, vec.KIND_BOOL):
        vals = vec.ints_to_numpy(s)
        st.ndv_ratio = len(np.unique(vals)) / sn
        st.run_ratio = rle.count_runs(vals) / sn
        st.value_range = int(vals.max() - vals.min())
    elif kind == vec.KIND_STRING:
        filled = s.fill_null("") if s.null_count else s
        st.avg_len = float(pc.binary_length(filled).to_numpy(zero_copy_only=False).mean())
        # one hash pass: the dictionary gives the ndv, its indices the runs
        d = pc.dictionary_encode(filled)
        st.ndv_ratio = len(d.dictionary) / sn
        codes = d.indices.to_numpy(zero_copy_only=False)
        st.run_ratio = rle.count_runs(codes.astype(np.int64)) / sn
    return st


def _string_candidates(st: ColumnStats) -> list[str]:
    """Candidate specs in descending expected *speed* order; the trial pass
    picks the smallest, with a tolerance-based preference for earlier
    (faster) entries."""
    cands: list[str] = []
    if st.ndv_ratio < 0.7:
        cands.append("rledict:plain+z" if st.run_ratio < 0.5 else "dict:plain+z")
    cands.append("plain+z")
    if st.avg_len >= 4:
        if st.ndv_ratio >= 0.05:  # fsst useless on a tiny dictionary
            cands.append("fsst+z")
        if 0.05 < st.ndv_ratio < 0.7:
            cands.append("dict:fsst+z")
    cands.append("plain")
    return cands


def choose(arr: pa.Array) -> str:
    """Pick a codec spec (see codecs.__init__ mini-language) for one chunk.

    Integers use an analytic cost model (exact sizes are computable from
    range / run stats). Strings use trial encodes of a sample — the
    measured sizes beat any analytic model for symbol-table / deflate
    interactions — with a speed-ordered tie-break.
    """
    if vec.kind_of(arr.type) == vec.KIND_LIST:
        return "list"  # element values get their own recursive selection
    st = analyze(arr)
    if st.n == 0 or st.kind == vec.KIND_BOOL:
        return "plain"
    if st.kind == vec.KIND_INT:
        n = st.n
        plain_sz = 8 * n
        for_sz = foref.encoded_size(n, st.value_range)
        runs = max(1, int(st.run_ratio * n))
        rle_sz = runs * (foref.encoded_size(1, st.value_range) + 2)
        # delta candidate: sorted timestamps and sequential ids have tiny
        # delta ranges vs 40+-bit absolutes. Range estimated as the max
        # over a CONTIGUOUS prefix (true neighbor deltas — a stride sample
        # alone inflates them by the stride factor) AND the stride sample
        # (prefix alone misses jumps later in the chunk, e.g. run edges)
        pieces = [vec.ints_to_numpy(arr.slice(0, min(n, _SAMPLE_VALUES)))]
        if n > _SAMPLE_VALUES:  # prefix IS the whole array otherwise
            pieces.append(vec.ints_to_numpy(_stride(arr, _SAMPLE_VALUES)))
        ranges = [_delta_range(p) for p in pieces if len(p) > 1]
        delta_sz = 8 + foref.encoded_size(n - 1, max(ranges)) if ranges else plain_sz + 1
        best = min(
            (for_sz, "for"), (rle_sz, "rle"), (delta_sz, "delta"),
            (plain_sz, "plain"),
        )
        return best[1]
    if st.kind == vec.KIND_FLOAT:
        # ALP probe on a stride sample: decimal-like floats (prices,
        # rounded scores) scale to integers and take the FOR path; the
        # encoder stores non-round-tripping values as exceptions, so a
        # high sample ratio is a size heuristic, never a correctness bet
        sample = _stride(arr, _TRIAL_VALUES)
        a = sample.fill_null(0.0) if sample.null_count else sample
        vals = np.ascontiguousarray(
            a.to_numpy(zero_copy_only=False),
            dtype=np.float32 if pa.types.is_float32(arr.type) else np.float64,
        )
        _, ratio = alp.choose_exponent(vals)
        if ratio >= 0.99:
            return "alp"  # encode_best's generic +z trial still applies
        return "plain+z"
    if st.kind == vec.KIND_DECIMAL:
        # int64-fitting decimals (reference CDC decimal(30,0) SOURCE_SCN
        # sequences) ride the int codec suite via decint; sub-codec chosen
        # with the same analytic model on the int64 view of a prefix
        v = vec.decimals_as_int64(arr.slice(0, min(st.n, _SAMPLE_VALUES)))
        if v is not None:
            for_sz = foref.encoded_size(st.n, int(v.max()) - int(v.min()))
            delta_sz = (8 + foref.encoded_size(st.n - 1, _delta_range(v))
                        if len(v) > 1 else for_sz + 1)
            if min(for_sz, delta_sz) < 16 * st.n:
                return "decint:delta" if delta_sz < for_sz else "decint:for"
        # deflate trial decided at encode time via the +z fallback below
        return "plain+z"
    # very low cardinality: dict/RLE by construction (north_star: RLE/dict
    # for repo/lang/commit). Frame sizes here are tiny either way; skipping
    # the trial encodes saves real per-chunk time.
    if st.ndv_ratio < 0.05 and st.avg_len > 0:
        return "rledict:plain+z" if st.run_ratio < 0.5 else "dict:plain+z"
    # One trial loop over two sample shapes, picked by the chunk's size at
    # the measured 512 KiB crossover:
    # - large blobs: a contiguous prefix big enough for the transport's
    #   real match window. Fixed payloads (symbol table, dict) are
    #   negligible at this size, so the measured sizes compare directly.
    #   A prefix keeps the long cross-row matches that scattered rows
    #   lose, but on a chunk whose content shifts along its length
    #   (sorted or clustered data) it can misrepresent the rest and pick a
    #   larger codec: a size cost only, since every spec decodes exactly.
    # - small chunks: a byte-capped stride sample, extrapolated to the
    #   whole chunk by a two-point fit unless it IS the whole chunk.
    # The small sample keeps its nulls, so its trial frames carry the
    # validity bitmap the real frame will; the large prefix is null-filled.
    # Changing either changes choices on random nullable chunks (filling
    # the small sample: 11 of 440; keeping the prefix's nulls: 1 of 64).
    large = st.avg_len * st.n >= _LARGE_BLOB_BYTES
    if large:
        sample = _prefix(arr, _TRIAL_BYTES_LARGE)
        sample = sample.fill_null("") if sample.null_count else sample
    else:
        sample = _prefix(_stride(arr, _TRIAL_VALUES), _TRIAL_BYTES)
    sn = len(sample)
    half = max(1, sn // 2)
    extrapolate = not large and sn != st.n
    sizes: list[tuple[float, str]] = []
    # per-call trial cache: the half-sample point of a symbol-table
    # candidate reuses the table trained on the full sample (its blob is a
    # prefix, so the table is reusable) — one train per candidate instead
    # of two, AND the two-point fit becomes cleaner: both points now carry
    # the IDENTICAL fixed payload, so the slope isolates pure per-value
    # cost. Scoped to this choose() call (a pure function of the sample):
    # selection stays deterministic.
    trial_ctx: dict = {}
    for spec in _string_candidates(st):
        try:
            size = float(len(encode_array(sample, spec, trial_ctx, spec)))
            if extrapolate:
                # two-point fit: separates fixed payload (dict/symtab/
                # header) from per-value cost, so extrapolation is fair
                s2 = len(encode_array(sample.slice(0, half), spec, trial_ctx, spec))
                size += max(0.0, (size - s2) / max(1, sn - half)) * (st.n - sn)
        except Exception:
            continue
        sizes.append((size, spec))
    if not sizes:
        return "plain"
    best = min(s for s, _ in sizes)
    # first (fastest) candidate within tolerance of the best
    return next(spec for s, spec in sizes if s <= best * _TIE_TOLERANCE)


def encode_best(
    arr: pa.Array,
    spec: str | None = None,
    ctx: dict | None = None,
    ctx_key: str | None = None,
) -> tuple[str, bytes]:
    """Encode with the chosen (or given) spec; additionally trial the
    transport layer (zstd, frame v2) on the body and keep it when it saves
    >10%.

    ``ctx``/``ctx_key``: per-task cache — the spec chosen for a column is
    reused for later chunks of that column in the same 4× size band (one
    table's chunks are near-identically distributed; the band key keeps a
    spec chosen on a tiny chunk from steering a big one). The key is a
    pure function of the chunk's own size, so zipf-mixed group sizes
    can't thrash the cache the way the old single-slot last-decider guard
    did (measured ~2 choose() calls per group — i.e. near-zero reuse — on
    the profiling corpus). The FSST symbol table is likewise reused while
    its codes stay valid.

    Guarantee: never pathologically worse than plain — if the chosen frame
    exceeds the plain frame, fall back to plain.
    """
    from . import _transport_compress, raw_size, wrap_transport

    chosen = spec
    band = len(arr).bit_length() // 2  # 4× size bands: [4^k, 4^(k+1))
    if chosen is None and ctx is not None and ctx_key is not None:
        chosen = ctx.get(("spec", ctx_key, band))
    if chosen is None:
        chosen = choose(arr)
        if ctx is not None and ctx_key is not None:
            ctx[("spec", ctx_key, band)] = chosen
    frame = encode_array(arr, chosen, ctx, ctx_key)
    if not chosen.endswith("+z") and len(frame) > 4096:
        # cheap sliced trial first; full +z wrap only if promising
        trial = frame[:_Z_TRIAL_BYTES]
        if len(_transport_compress(trial)) < _Z_KEEP * len(trial):
            z = wrap_transport(frame)
            if len(z) < _Z_KEEP * len(frame):
                chosen, frame = chosen + "+z", z
    if not chosen.startswith("plain") and len(frame) > raw_size(arr):
        plain = encode_array(arr, "plain")
        if len(plain) < len(frame):
            chosen, frame = "plain", plain
    return chosen, frame
