"""Codec unit tests: encode∘decode = identity on every edge case
(SURVEY.md §5.2-1). Pure numpy/pyarrow — no Spark session needed."""

from __future__ import annotations

import numpy as np
import pyarrow as pa
import pytest

from parquet2csv_spark.codecs import (
    bitpack,
    decode_array,
    encode_array,
    foref,
    fsst,
    raw_size,
    rle,
    selector,
)

# ------------------------------------------------------------------ bitpack

@pytest.mark.parametrize("width", [0, 1, 3, 7, 8, 13, 31, 33, 63, 64])
def test_bitpack_roundtrip(width):
    rng = np.random.default_rng(42)
    hi = (1 << width) if width < 64 else (1 << 64)
    vals = rng.integers(0, hi, size=1000, dtype=np.uint64) if width else np.zeros(1000, np.uint64)
    assert np.array_equal(bitpack.unpack(bitpack.pack(vals, width), 1000, width), vals)


def test_bitpack_empty():
    assert bitpack.pack(np.zeros(0, np.uint64), 5) == b""
    assert len(bitpack.unpack(b"", 0, 5)) == 0


# --------------------------------------------------------------------- foref

@pytest.mark.parametrize(
    "vals",
    [
        np.array([], dtype=np.int64),
        np.array([0], dtype=np.int64),
        np.array([7, 7, 7, 7], dtype=np.int64),
        np.array([-5, 3, -2, 100], dtype=np.int64),
        np.array([np.iinfo(np.int64).min, np.iinfo(np.int64).max], dtype=np.int64),
        np.arange(-500, 500, dtype=np.int64),
    ],
)
def test_foref_roundtrip(vals):
    assert np.array_equal(foref.decode(foref.encode(vals), len(vals)), vals)


# ----------------------------------------------------------------------- rle

@pytest.mark.parametrize(
    "vals",
    [
        np.array([], dtype=np.int64),
        np.array([1], dtype=np.int64),
        np.repeat(np.array([3, -1, 3, 9]), [1000, 1, 5, 2]),
        np.arange(100, dtype=np.int64),          # all runs of 1
        np.zeros(10000, dtype=np.int64),          # one run
        np.tile(np.array([0, 1], dtype=np.int64), 500),  # alternating
    ],
)
def test_rle_roundtrip(vals):
    vals = vals.astype(np.int64)
    assert np.array_equal(rle.decode(rle.encode(vals)), vals)


def test_rle_compresses_runs():
    vals = np.repeat(np.arange(10, dtype=np.int64), 10000)
    assert len(rle.encode(vals)) < len(vals) * 8 // 100


# ---------------------------------------------------------------------- fsst

def test_fsst_roundtrip_source_code():
    blob = (
        b"def encode(values):\n    return [v for v in values]\n"
        b"def decode(frame):\n    return frame.values\n" * 200
    )
    merges = fsst.train(blob)
    assert merges, "expected symbol table on repetitive source text"
    enc = fsst.compress(blob, merges)
    assert len(enc) < len(blob) * 0.7
    assert fsst.decompress(enc, merges) == blob
    table = fsst.serialize_table(merges)
    m2, used = fsst.deserialize_table(table)
    assert m2 == merges and used == len(table)


def test_fsst_full_byte_alphabet_falls_back():
    blob = bytes(range(256)) * 64
    assert fsst.train(blob) == []  # no free codes -> no table


def test_fsst_tiny_blob():
    assert fsst.train(b"ab") == []


# ------------------------------------------------------------- frame dispatch

STRING_CASES = [
    [],
    [None, None, None],
    ["", "", ""],
    ["x"],
    ["same"] * 1000,
    [f"distinct-{i}" for i in range(1000)],
    ["a", None, "", "b", None, "ccc"] * 100,
    ["naïve — ünïcodé ✓ 日本語", "ascii", None, ""],
    ["line1\nline2\ttab", "quote'and\"double", ","],
]


@pytest.mark.parametrize("pyvals", STRING_CASES)
@pytest.mark.parametrize("spec", ["plain", "fsst", "dict:plain", "dict:fsst", "rledict:plain", "plain+z", "dict:plain+z"])
def test_string_frames_roundtrip(pyvals, spec):
    arr = pa.array(pyvals, type=pa.string())
    out = decode_array(encode_array(arr, spec))
    assert out.cast(pa.string()).equals(arr)


INT_CASES = [
    ([], pa.int64()),
    ([None], pa.int64()),
    ([0, 1, 2, None, -5], pa.int64()),
    ([7] * 1000, pa.int32()),
    (list(range(1000)), pa.int64()),
    ([2**62, -(2**62), 0], pa.int64()),
    ([1, 2, 3], pa.int16()),
]


@pytest.mark.parametrize("pyvals,typ", INT_CASES)
@pytest.mark.parametrize("spec", ["plain", "for", "rle", "for+z"])
def test_int_frames_roundtrip(pyvals, typ, spec):
    arr = pa.array(pyvals, type=typ)
    out = decode_array(encode_array(arr, spec))
    assert out.equals(arr), f"{out} != {arr}"


def test_temporal_and_float_and_bool_frames():
    ts = pa.array([0, 1_700_000_000_000_000, None], type=pa.timestamp("us"))
    assert decode_array(encode_array(ts, "for")).equals(ts)
    d = pa.array([0, 10000, None], type=pa.date32())
    assert decode_array(encode_array(d, "for")).equals(d)
    f = pa.array([0.1, float("nan"), None, -0.0, float("inf")], type=pa.float64())
    out = decode_array(encode_array(f, "plain"))
    assert out.is_null().equals(f.is_null())
    a, b = f.to_numpy(zero_copy_only=False), out.to_numpy(zero_copy_only=False)
    assert np.array_equal(a, b, equal_nan=True)
    f32 = pa.array([1.5, None, 2.5], type=pa.float32())
    assert decode_array(encode_array(f32, "plain")).equals(f32)
    bl = pa.array([True, False, None, True], type=pa.bool_())
    assert decode_array(encode_array(bl, "plain")).equals(bl)


def test_binary_frames():
    arr = pa.array([b"\x00\xff", None, b"", b"abc"], type=pa.binary())
    assert decode_array(encode_array(arr, "plain")).equals(arr)


# ------------------------------------------------------------------ selector

def test_selector_low_cardinality_picks_dict_like():
    arr = pa.array((["java"] * 400 + ["py"] * 300 + ["go"] * 300) * 10)
    spec = selector.choose(arr)
    assert spec.startswith(("dict", "rledict")), spec


def test_selector_runs_pick_rle_int():
    arr = pa.array(np.repeat(np.arange(5, dtype=np.int64), 20000))
    assert selector.choose(arr) == "rle"


def test_selector_sequential_ints_pick_delta():
    # constant stride: deltas are all 1 (range 0) — delta beats FOR's
    # 17-bit absolute packing by ~1000x and round-trips exactly
    arr = pa.array(np.arange(100000, dtype=np.int64) + 10**12)
    assert selector.choose(arr) == "delta"
    spec, frame = selector.encode_best(arr)
    assert decode_array(frame).equals(arr)
    assert len(frame) < 100


def test_selector_text_compresses():
    code = "def f(x):\n    return x + 1  # comment\n" * 50
    arr = pa.array([code + str(i) for i in range(500)])
    spec, frame = selector.encode_best(arr)
    assert len(frame) < raw_size(arr) * 0.5, (spec, len(frame), raw_size(arr))
    assert decode_array(frame).cast(pa.string()).equals(arr.cast(pa.string()))


def test_encode_best_never_pathological():
    rng = np.random.default_rng(7)
    # incompressible random bytes as strings
    vals = ["".join(chr(c) for c in row) for row in rng.integers(33, 127, (200, 50))]
    arr = pa.array(vals)
    spec, frame = selector.encode_best(arr)
    assert len(frame) <= raw_size(arr) * 1.2
    assert decode_array(frame).cast(pa.string()).equals(arr)


def test_selector_large_blob_prefers_measured_plain_z():
    """r8 selector fix: on multi-MB text chunks the zstd transport's
    long-range matching beats FSST preconditioning (measured p/f 0.76 at
    512KB..4MB on the corpus), which the old 256KB stride trial could not
    see. Pin: a large redundant blob chooses plain+z AND the chosen frame
    is no larger than the fsst+z frame."""
    rng = np.random.default_rng(7)
    # source-code-like text: heavy cross-row redundancy, ~2KB per row
    base = [
        "def f_%d(x):\n    return x + %d  # common license header line\n"
        % (i % 37, i % 11)
        for i in range(64)
    ]
    rows = ["".join(base[rng.integers(0, 64)] for _ in range(32)) for _ in range(2048)]
    arr = pa.array(rows, type=pa.large_string())
    choice = selector.choose(arr)
    assert choice == "plain+z", choice
    # the choice is measured on a 1MB prefix with a 12% speed-preference
    # tolerance — the full-array sizes must stay within that band
    chosen = len(encode_array(arr, choice))
    fsst_sz = len(encode_array(arr, "fsst+z"))
    assert chosen <= fsst_sz * (selector._TIE_TOLERANCE + 0.05)


def _nullable(vals, every):
    return [None if i % every == 0 else v for i, v in enumerate(vals)]


_WORDS = [f"tok{i:03d}_{'ab' * (i % 7)}" for i in range(300)]
_CHOOSE_CASES = {
    # 3000 values > the 512-value sample: two trial encodes per candidate,
    # extrapolated to the chunk by the two-point fit
    "small_nullable_extrapolated": (
        lambda: pa.array(_nullable([_WORDS[(i * 7919) % 300] for i in range(3000)], 3)),
        "dict:plain+z", 10,
    ),
    # ~1.4 MB of text with nulls: one trial encode per candidate on the
    # null-filled 1 MiB prefix
    "large_nullable_blob": (
        lambda: pa.array(_nullable(
            [" ".join(_WORDS[(i * j) % 300] for j in range(90)) for i in range(2000)], 5)),
        "dict:fsst+z", 5,
    ),
    # 300 values: the sample is the whole chunk, its sizes are exact
    "small_exact": (
        lambda: pa.array([f"{_WORDS[i % 300]}/{i}" for i in range(300)]),
        "plain+z", 3,
    ),
}


@pytest.mark.parametrize("case", sorted(_CHOOSE_CASES))
def test_choose_string_sample_paths(case, monkeypatch):
    """Each string sample shape takes its own number of trial encodes per
    candidate and keeps its choice."""
    build, want, want_trials = _CHOOSE_CASES[case]
    trials = []
    real = selector.encode_array
    monkeypatch.setattr(selector, "encode_array", lambda *a: trials.append(a) or real(*a))
    assert (selector.choose(build()), len(trials)) == (want, want_trials)


# sha256 over every (name, codec, frame) of the parity corpus below; a
# change to it is a change to the frames the engine writes
_PARITY_SHA256 = "f39f6938cc781c46713797c857281597eee5ec2dfd05303f7318e43e38509aea"


def _parity_chunks():
    """A seeded 5k-row corpus plus a nullable string and two decimal
    columns, grouped by repo, encoded as two tasks with one codec ctx each
    (the encode_salted layout). 1 MiB chunks put the giant repo's content
    on the large-blob side of the crossover and the rest below it."""
    import decimal

    import pyarrow.compute as pc

    from parquet2csv_spark.operators.encode import encode_chunk, split_points
    from parquet2csv_spark.sources.corpus import CorpusSpec, corpus_batch

    n = 5000
    tbl = corpus_batch(np.arange(n), CorpusSpec(5, n))
    tbl = tbl.append_column("note", pa.array(_nullable(tbl["path"].to_pylist(), 4)))
    tbl = tbl.append_column("scn", pa.array(
        [decimal.Decimal(10**15 + 7 * i) for i in range(n)], pa.decimal128(30, 0)))
    tbl = tbl.append_column("big", pa.array(
        [decimal.Decimal(10**25 + i * i) for i in range(n)], pa.decimal128(38, 0)))
    tbl = tbl.take(pc.sort_indices(tbl, [("repo", "ascending"), ("path", "ascending")]))
    repos = pc.unique(tbl["repo"]).to_pylist()
    for task in range(2):
        ctx: dict = {}
        for repo in repos[task::2]:
            group = tbl.filter(pc.equal(tbl["repo"], repo))
            for seq, (off, ln) in enumerate(split_points(group, 65536, 1 << 20)):
                yield encode_chunk(group.slice(off, ln), "", repo, seq, None, ctx)


def test_encode_chunk_frames_pinned():
    """Frames are a pure function of each task's chunk sequence: pin them."""
    import hashlib

    h = hashlib.sha256()
    decimal_codecs = set()
    for row in _parity_chunks():
        for c in row["cols"]:
            h.update(f"{c['name']}\0{c['codec']}\0".encode())
            h.update(c["frame"])
            if c["name"] in ("scn", "big"):
                decimal_codecs.add((c["name"], c["codec"].startswith("decint")))
    # the int64-fitting column rides decint, the other cannot
    assert decimal_codecs == {("scn", True), ("big", False)}
    assert h.hexdigest() == _PARITY_SHA256


# ----------------------------------------------------------------- lists

LIST_CASES = [
    ([], pa.list_(pa.float32())),
    ([None, [], [1.5, 2.5]], pa.list_(pa.float32())),
    ([[1, 2, 3], None, []], pa.list_(pa.int64())),
    ([["a", "b"], None, [""]], pa.list_(pa.string())),
    ([[0.1] * 64] * 50, pa.list_(pa.float64())),
]


@pytest.mark.parametrize("pyvals,typ", LIST_CASES)
def test_list_frames_roundtrip(pyvals, typ):
    arr = pa.array(pyvals, type=typ)
    out = decode_array(encode_array(arr, "list"))
    assert out.cast(typ).equals(arr)


def test_list_selector_and_encode_best():
    arr = pa.array([[float(i), float(i + 1)] for i in range(1000)], type=pa.list_(pa.float32()))
    spec, frame = selector.encode_best(arr)
    assert spec.startswith("list")
    assert decode_array(frame).cast(arr.type).equals(arr)


def test_fsst_no_merge_path_returns_bytes():
    # the decode pipeline hands memoryviews in; the no-merges early exit
    # must still honor the declared ``bytes`` return type
    blob = memoryview(b"abcabc")
    assert type(fsst.compress(blob, [])) is bytes
    assert type(fsst.decompress(blob, [])) is bytes
    assert fsst.decompress(blob, []) == b"abcabc"


def test_alp_roundtrip_decimal_like_floats():
    # prices/scores: 2-decimal doubles scale exactly at e=2
    vals = np.round(np.linspace(-500, 500, 4000) * 1.37, 2)
    arr = pa.array(vals, type=pa.float64())
    spec, frame = selector.encode_best(arr)
    assert spec.startswith("alp"), spec
    out = decode_array(frame)
    assert out.equals(arr)
    # materially smaller than raw IEEE bytes
    assert len(frame) < 0.5 * arr.nbytes


def test_alp_exceptions_and_specials_bit_exact():
    vals = np.array(
        [1.25, float("nan"), float("inf"), -float("inf"), -0.0, 0.1 + 0.2,
         1e300, 2.0 ** 53 + 1, 3.75, None],
        dtype=object,
    )
    arr = pa.array([None if v is None else float(v) for v in vals], type=pa.float64())
    frame = encode_array(arr, "alp")
    out = decode_array(frame)
    # bit-exact incl. NaN payload, infinities, -0.0, and the null
    a = arr.fill_null(0.0).to_numpy(zero_copy_only=False).view(np.int64)
    b = out.fill_null(0.0).to_numpy(zero_copy_only=False).view(np.int64)
    assert (a == b).all()
    assert out[9].as_py() is None


def test_alp_float32_roundtrip():
    vals = np.round(np.linspace(0, 90, 1000), 1).astype(np.float32)
    arr = pa.array(vals, type=pa.float32())
    frame = encode_array(arr, "alp")
    out = decode_array(frame)
    assert out.equals(arr)


def test_alp_irrational_floats_fall_back_to_plain():
    rng = np.random.default_rng(7)
    arr = pa.array(rng.standard_normal(2000), type=pa.float64())
    spec, frame = selector.encode_best(arr)
    assert not spec.startswith("alp"), spec  # selector must not pick alp
    assert decode_array(frame).equals(arr)


def test_delta_roundtrip_sorted_timestamps():
    # sorted microsecond timestamps: absolute range needs ~42 bits, the
    # neighbor deltas ~20 — the selector must pick delta and win big
    rng = np.random.default_rng(3)
    vals = np.cumsum(rng.integers(0, 1 << 20, 10000)) + 1_700_000_000_000_000
    arr = pa.array(vals, type=pa.timestamp("us"))
    spec, frame = selector.encode_best(arr)
    assert spec.startswith("delta"), spec
    assert decode_array(frame).equals(arr)
    for_frame = encode_array(arr, "for")
    assert len(frame) < 0.7 * len(for_frame)


def test_delta_wraparound_extremes_exact():
    # deltas that overflow int64 must still round-trip (wrap cancels)
    vals = np.array([-(2**63), 2**63 - 1, 0, -1, 2**62, -(2**62)], dtype=np.int64)
    arr = pa.array(vals, type=pa.int64())
    frame = encode_array(arr, "delta")
    assert decode_array(frame).equals(arr)


def test_delta_empty_and_single():
    for vals in ([], [42]):
        arr = pa.array(vals, type=pa.int64())
        frame = encode_array(arr, "delta")
        assert decode_array(frame).to_pylist() == vals


def test_decint_sequential_scn_roundtrip():
    # the reference CDC case: decimal(30,0) SOURCE_SCN, sequential — must
    # take the decint path and collapse to near-nothing
    from decimal import Decimal

    vals = [Decimal(10_000_000_000 + i) for i in range(5000)] + [None]
    arr = pa.array(vals, type=pa.decimal128(30, 0))
    spec, frame = selector.encode_best(arr)
    assert spec.startswith("decint"), spec
    assert decode_array(frame).equals(arr)
    assert len(frame) < 0.05 * 16 * len(vals)


def test_decint_negative_and_fallback():
    from decimal import Decimal

    neg = pa.array([Decimal(-5), Decimal(7), Decimal(-(2**62))], type=pa.decimal128(30, 0))
    assert decode_array(encode_array(neg, "decint:for")).equals(neg)
    # values beyond int64: encode falls back to plain INSIDE the frame
    # (tag is authoritative), round-trip still exact
    big = pa.array([Decimal(10) ** 25, Decimal(-(10 ** 25))], type=pa.decimal128(30, 0))
    assert decode_array(encode_array(big, "decint:for")).equals(big)


def test_pack_small_and_large_paths_byte_identical():
    """The packbits fast path (small n*width) and the strided shift-or
    path must produce byte-identical streams — the format is one flat
    little-endian bitstream regardless of which code packed it."""
    import numpy as np

    from parquet2csv_spark.codecs import bitpack

    rng = np.random.default_rng(7)
    for n in (1, 5, 511, 1024, 9001):
        for w in (1, 3, 7, 13, 20, 33, 63):
            v = rng.integers(0, 2 ** min(w, 62), n, dtype=np.uint64)
            v[::3] = (1 << w) - 1  # all-ones values fill every bit they own
            got = bitpack.pack(v, w)
            # force the large path for comparison
            saved = bitpack._PACKBITS_MAX_BITS
            try:
                bitpack._PACKBITS_MAX_BITS = -1
                want = bitpack.pack(v, w)
            finally:
                bitpack._PACKBITS_MAX_BITS = saved
            assert got == want, (n, w)
            back = bitpack.unpack(got, n, w)
            assert (back == v).all(), (n, w)


def test_frame_v1_zlib_frames_still_decode():
    """Frame-format v2 switched the transport layer to zstd (VERDICT r6
    #2); v1 frames — version byte 1, T_ZLIB transport tag — must stay
    decodable forever (chunk tables on disk outlive engine upgrades)."""
    import zlib

    from parquet2csv_spark.codecs import (
        T_ZLIB,
        T_ZSTD,
        _body_offset,
        decode_array,
        encode_array,
        wrap_transport,
    )

    arr = pa.array(
        [f"value-{i % 97}-{'x' * (i % 31)}" for i in range(4000)] + [None] * 5,
        type=pa.large_string(),
    )
    plain = encode_array(arr, "plain")
    # synthesize a v1 frame as the v1 writer did: version byte 1, the
    # T_ZLIB tag, the header, then the inner tag and the zlib stream
    off = _body_offset(plain)
    legacy = bytes([1, T_ZLIB]) + plain[2:off] + plain[1:2] + zlib.compress(plain[off:], 6)
    assert legacy[1] == T_ZLIB
    assert decode_array(legacy).cast(pa.large_string()).equals(arr)
    # current writer: version 2, zstd transport, same logical content
    v2 = encode_array(arr, "plain+z")
    assert v2[0] == 2 and v2[1] == T_ZSTD
    assert decode_array(v2).cast(pa.large_string()).equals(arr)
    # wrap_transport re-wraps an unwrapped frame into v2 transport
    wt = wrap_transport(plain)
    assert wt[1] == T_ZSTD
    assert decode_array(wt).cast(pa.large_string()).equals(arr)
