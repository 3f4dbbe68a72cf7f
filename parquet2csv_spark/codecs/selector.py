"""Sampling-based codec auto-selection (north_star, BASELINE.json).

For each column chunk the selector computes cheap statistics on a
deterministic stride sample — cardinality, run count, value range, average
string length, trial symbol-table / deflate ratios — then estimates the
encoded size under each applicable codec and picks the minimum. The chosen
codec is recorded per chunk in the chunks table (the per-chunk codec tag).

Replaces the reference's single hard-wired configuration (GZIP parquet,
dictionary disabled — OneRowParquetSchema.java:104-110): instead of one
global choice, each column chunk gets the codec its own data favors
(FSST/dict for path-like and content-like text, RLE/dict for
low-cardinality repo/lang/commit — as the north_star prescribes).

Determinism contract (weakened in round 4, by design): the sample is a
fixed stride slice, so a single ``choose``/``encode_best`` call is
deterministic in its inputs — the ungrouped ``encode_table`` path and the
pinned ``encode_metrics_documents`` oracle rely on exactly that (strictly
per-task spec cache). The grouped path (``encode_salted``) adds a
worker-LIFETIME spec cache, so its FSST/dict choices depend on the
task-to-worker schedule: frames are decode-exact but NOT byte-identical
across runs. Resume correctness therefore rests on ``EncodeJob.chunks()``
reading exactly ONE committed run per group — never on byte identity.
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc

from . import alp, encode_array, foref, rle, vec

_SAMPLE_VALUES = 4096       # max values sampled per chunk
_ZLIB_TRIAL = 1 << 16       # bytes of blob used in the deflate trial
_ZLIB_KEEP = 0.9            # keep +z layer only if it saves >10%


@dataclass
class ColumnStats:
    """Sampled statistics driving the codec choice (also exported to the
    lineage/metrics table so choices are auditable)."""
    n: int
    kind: str
    ndv_ratio: float = 1.0
    run_ratio: float = 1.0        # runs / values (1.0 = no runs)
    avg_len: float = 0.0
    value_range: int = 0


def _sample(arr: pa.Array) -> pa.Array:
    n = len(arr)
    if n <= _SAMPLE_VALUES:
        return arr
    step = n // _SAMPLE_VALUES
    return arr.take(pa.array(np.arange(0, n, step, dtype=np.int64)[:_SAMPLE_VALUES]))


def analyze(arr: pa.Array) -> ColumnStats:
    kind = vec.kind_of(arr.type)
    n = len(arr)
    st = ColumnStats(n=n, kind=kind)
    if n == 0:
        return st
    s = _sample(arr)
    sn = len(s)
    if kind in (vec.KIND_INT, vec.KIND_BOOL):
        vals = vec.ints_to_numpy(s)
        st.ndv_ratio = len(np.unique(vals)) / sn
        st.run_ratio = rle.count_runs(vals) / sn
        st.value_range = int(vals.max() - vals.min()) if sn else 0
    elif kind == vec.KIND_STRING:
        filled = s.fill_null("") if s.null_count else s
        lengths, _blob = vec.string_parts(filled)
        st.avg_len = float(lengths.mean()) if sn else 0.0
        st.ndv_ratio = len(pc.unique(filled)) / sn
        codes = pc.dictionary_encode(filled).indices.to_numpy(zero_copy_only=False)
        st.run_ratio = rle.count_runs(codes.astype(np.int64)) / sn
        # NOTE: earlier versions also ran a 64 KB fsst-train + deflate
        # trial here to export fsst/zlib ratios — nothing ever consumed
        # them and choose() measures real candidate sizes anyway, so the
        # trial was pure per-chunk overhead (~25% of selection time in the
        # cProfile of the encode kernel). Removed; selection is unchanged.
    else:  # floats
        st.ndv_ratio = 1.0
    return st


_TRIAL_VALUES = 512
_TRIAL_BYTES = 1 << 18
_TIE_TOLERANCE = 1.12  # prefer a faster codec within 12% of the best size

# Large-blob trial (r8): blobs at or above this size get their candidates
# measured on a CONTIGUOUS prefix of up to _TRIAL_BYTES_LARGE instead of
# the 512-value/256KB stride sample. Rationale, measured on the corpus
# content column: the transport zstd exploits long-range redundancy that
# only exists in samples larger than its match window, and FSST's
# parity-greedy parsing encodes identical substrings differently at
# different byte parities — so on a small sample `fsst+z` looks ~5-10%
# smaller, while on the real multi-MB chunk `plain+z` is 20-24% SMALLER
# (p/f 0.76 at 512KB..4MB) and ~10× faster to encode. The small-blob path
# is byte-for-byte unchanged (the pinned engine-metrics oracle rides a
# 151KB chunk).
_LARGE_BLOB_BYTES = 1 << 19      # 512 KiB — the measured crossover
_TRIAL_BYTES_LARGE = 1 << 20     # 1 MiB trial prefix


def _trial_sample(arr: pa.Array) -> pa.Array:
    """Small deterministic stride sample for trial encodes (≤512 values)."""
    n = len(arr)
    if n <= _TRIAL_VALUES:
        return arr
    step = n // _TRIAL_VALUES
    return arr.take(pa.array(np.arange(0, n, step, dtype=np.int64)[:_TRIAL_VALUES]))


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


def choose(arr: pa.Array, stats: ColumnStats | None = None) -> str:
    """Pick a codec spec (see codecs.__init__ mini-language) for one chunk.

    Integers use an analytic cost model (exact sizes are computable from
    range / run stats). Strings use trial encodes of a small sample — the
    measured sizes beat any analytic model for symbol-table / deflate
    interactions — with a speed-ordered tie-break.
    """
    if vec.kind_of(arr.type) == vec.KIND_LIST:
        return "list"  # element values get their own recursive selection
    st = stats or analyze(arr)
    if st.n == 0:
        return "plain"
    if st.kind in (vec.KIND_INT, vec.KIND_BOOL):
        if st.kind == vec.KIND_BOOL:
            return "plain"
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
        delta_range = 0
        seen = False
        pieces = [vec.ints_to_numpy(arr.slice(0, min(st.n, 4096)))]
        if st.n > 4096:  # prefix IS the whole array otherwise
            pieces.append(vec.ints_to_numpy(_sample(arr)))
        for piece in pieces:
            if len(piece) > 1:
                u = piece.view(np.uint64)
                d = (u[1:] - u[:-1]).view(np.int64)
                delta_range = max(delta_range, int(d.max()) - int(d.min()))
                seen = True
        delta_sz = 8 + foref.encoded_size(n - 1, delta_range) if seen else plain_sz + 1
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
        sample = _trial_sample(arr)
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
        import decimal as _d

        sample = arr.slice(0, min(st.n, 4096))
        filled = sample.fill_null(_d.Decimal(0)) if sample.null_count else sample
        raw = np.frombuffer(
            np.frombuffer(filled.buffers()[1], dtype=np.uint8)[
                filled.offset * 16 : (filled.offset + len(filled)) * 16
            ].tobytes(),
            dtype=np.uint64,
        )
        if len(raw):
            lo, hi = raw[0::2], raw[1::2].view(np.int64)
            if (hi == -(lo >> np.uint64(63)).astype(np.int64)).all():
                v = lo.view(np.int64)
                vr = int(v.max()) - int(v.min())
                for_sz = foref.encoded_size(st.n, vr)
                if len(v) > 1:
                    d = (lo[1:] - lo[:-1]).view(np.int64)
                    dr = int(d.max()) - int(d.min())
                    delta_sz = 8 + foref.encoded_size(st.n - 1, dr)
                else:
                    delta_sz = for_sz + 1
                if min(for_sz, delta_sz) < 16 * st.n:
                    return "decint:delta" if delta_sz < for_sz else "decint:for"
        # deflate trial decided at encode time via the +z fallback below
        return "plain+z"
    # very low cardinality: dict/RLE by construction (north_star: RLE/dict
    # for repo/lang/commit). Frame sizes here are tiny either way; skipping
    # the trial encodes saves real per-chunk time.
    if st.ndv_ratio < 0.05 and st.avg_len > 0:
        return "rledict:plain+z" if st.run_ratio < 0.5 else "dict:plain+z"
    # large blobs: measure every candidate on the same contiguous prefix
    # (big enough for the transport's real match window) and compare the
    # measured sizes directly — fixed payloads (symbol table, dict) are
    # negligible at this sample size, so no extrapolation is needed.
    # Representativeness trade-off: a contiguous prefix keeps the long
    # cross-row matches the transport's window sees, which the stride
    # sample (scattered rows) cannot; but on a chunk whose content shifts
    # along its length (sorted or clustered data) the prefix can
    # misrepresent the rest and pick a larger codec. That costs size only,
    # never correctness: every spec decodes exactly.
    approx_bytes = st.avg_len * st.n
    if approx_bytes >= _LARGE_BLOB_BYTES:
        filled_all = arr.fill_null("") if arr.null_count else arr
        # lengths only — string_parts would copy the full blob just to
        # find the prefix cut (same trap raw_size once had)
        all_lengths = pc.binary_length(filled_all).to_numpy(zero_copy_only=False)
        keep = int(np.searchsorted(np.cumsum(all_lengths), _TRIAL_BYTES_LARGE)) + 1
        big_sample = filled_all.slice(0, max(16, keep))
        sizes_l: list[tuple[float, str]] = []
        trial_ctx_l: dict = {}
        for spec in _string_candidates(st):
            try:
                sizes_l.append(
                    (float(len(encode_array(big_sample, spec, trial_ctx_l, spec))), spec)
                )
            except Exception:
                continue
        if sizes_l:
            best_l = min(s for s, _ in sizes_l)
            for sz, spec in sizes_l:  # first (fastest) within tolerance
                if sz <= best_l * _TIE_TOLERANCE:
                    return spec
            return min(sizes_l)[1]
        return "plain"
    # strings: trial-encode a sample under each candidate
    sample = _trial_sample(arr)
    lengths, blob = vec.string_parts(sample.fill_null("") if sample.null_count else sample)
    if len(blob) > _TRIAL_BYTES:
        # clip to the byte budget by taking a prefix of the sample
        keep = int(np.searchsorted(np.cumsum(lengths), _TRIAL_BYTES)) + 1
        sample = sample.slice(0, max(16, keep))
    sn = len(sample)
    half = max(1, sn // 2)
    exact = sn == st.n  # sample IS the chunk → measured sizes are exact
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
            s1 = len(encode_array(sample, spec, trial_ctx, spec))
            if exact:
                sizes.append((float(s1), spec))
                continue
            # two-point fit: separates fixed payload (dict/symtab/header)
            # from per-value cost, so extrapolation to the full chunk is fair
            s2 = len(encode_array(sample.slice(0, half), spec, trial_ctx, spec))
            slope = max(0.0, (s1 - s2) / max(1, sn - half))
            sizes.append((s1 + slope * (st.n - sn), spec))
        except Exception:
            continue
    if not sizes:
        return "plain"
    best_sz = min(s for s, _ in sizes)
    for sz, spec in sizes:  # first (fastest) within tolerance of best
        if sz <= best_sz * _TIE_TOLERANCE:
            return spec
    return min(sizes)[1]


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
        trial = frame[: _ZLIB_TRIAL]
        if len(_transport_compress(trial)) < _ZLIB_KEEP * len(trial):
            z = wrap_transport(frame)
            if len(z) < _ZLIB_KEEP * len(frame):
                chosen, frame = chosen + "+z", z
    if not chosen.startswith("plain") and len(frame) > raw_size(arr):
        plain = encode_array(arr, "plain")
        if len(plain) < len(frame):
            chosen, frame = "plain", plain
    return chosen, frame
