"""Single-thread replay of the codec layer with spans around its public
functions.

Inside the engine the codec work runs in Python workers that the driver
cannot see into. The traced run therefore decodes a fixed sample of the
workload's committed chunks back to Arrow tables and re-encodes and
re-decodes them here, in one thread, with every call to the functions
below recorded as a span (name, start, end, parent). Self time is a span's
duration minus its children's.
"""

from __future__ import annotations

import contextlib
import time
from collections import defaultdict

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

MB = 1e6
SAMPLE_MB = 16  # logical MB of chunks replayed per traced run

FAMILIES = ("plain", "plain_z", "dict_plain_z", "rledict_plain_z", "fsst_z",
            "dict_fsst_z", "for", "for_z", "rle", "rle_z", "delta", "delta_z",
            "alp", "alp_z", "other")


def family(spec: str) -> str:
    """Metric-name form of a codec spec: ``dict:plain+z`` → ``dict_plain_z``."""
    fam = spec.replace(":", "_").replace("+", "_")
    return fam if fam in FAMILIES else "other"


def array_mb(arr: pa.Array) -> float:
    """Logical MB of one array (UTF-8 bytes of strings, fixed width else)."""
    typ = arr.type
    if pa.types.is_string(typ) or pa.types.is_large_string(typ) \
            or pa.types.is_binary(typ) or pa.types.is_large_binary(typ):
        return (pc.sum(pc.binary_length(arr)).as_py() or 0) / MB
    if pa.types.is_list(typ):
        return array_mb(arr.flatten())
    return (typ.bit_width // 8) * (len(arr) - arr.null_count) / MB


class Spans:
    """In-memory span recorder. Each span is ``[name, start, end, parent,
    child_s, args]``; ``parent`` indexes ``records`` (-1 for a root)."""

    def __init__(self):
        self.records: list[list] = []
        self._stack: list[int] = []

    def wrap(self, name: str, fn):
        def traced(*args, **kwargs):
            idx = len(self.records)
            parent = self._stack[-1] if self._stack else -1
            rec = [name, time.perf_counter(), None, parent, 0.0, args]
            self.records.append(rec)
            self._stack.append(idx)
            try:
                return fn(*args, **kwargs)
            finally:
                rec[2] = time.perf_counter()
                self._stack.pop()
                if parent >= 0:
                    self.records[parent][4] += rec[2] - rec[1]
        traced.__wrapped__ = fn
        return traced

    def named(self, name: str) -> list[list]:
        return [r for r in self.records if r[0] == name]

    @staticmethod
    def duration(rec) -> float:
        return rec[2] - rec[1]

    def self_time(self, rec) -> float:
        return rec[2] - rec[1] - rec[4]

    def within(self, rec, name: str) -> bool:
        """True when ``rec`` runs (transitively) inside a ``name`` span."""
        p = rec[3]
        while p >= 0:
            if self.records[p][0] == name:
                return True
            p = self.records[p][3]
        return False


def _targets():
    """(module, attribute, span name) for every wrapped public function.
    ``encode_array`` is bound in two modules (the selector imports it by
    name), so both bindings get the same wrapper."""
    from parquet2csv_spark import codecs
    from parquet2csv_spark.codecs import fsst, selector
    from parquet2csv_spark.operators import bloom, encode

    return [
        (selector, "choose", "choose"),
        (selector, "encode_best", "encode_best"),
        (codecs, "encode_array", "encode_array"),
        (selector, "encode_array", "encode_array"),
        (codecs, "decode_array", "decode_array"),
        (fsst, "train", "fsst_train"),
        (bloom, "build_bloom", "build_bloom"),
        (encode, "encode_chunk", "encode_chunk"),
    ]


@contextlib.contextmanager
def patched(spans: Spans):
    """Install span wrappers for the replay; always restore the originals."""
    saved = []
    wrappers: dict[int, object] = {}
    try:
        for mod, attr, name in _targets():
            orig = getattr(mod, attr)
            saved.append((mod, attr, orig))
            if id(orig) not in wrappers:
                wrappers[id(orig)] = spans.wrap(name, orig)
            setattr(mod, attr, wrappers[id(orig)])
        yield
    finally:
        for mod, attr, orig in reversed(saved):
            setattr(mod, attr, orig)


def load_sample(chunk_dirs: list[str], budget_mb: float = SAMPLE_MB) -> list[pa.Table]:
    """Decode a fixed sample of committed chunks back to Arrow tables:
    chunks in ``chunk_id`` order, round-robin over the directories, until
    ``budget_mb`` of logical bytes."""
    from parquet2csv_spark.codecs import decode_array

    per_dir = []
    for d in chunk_dirs:
        t = pq.read_table(d, columns=["chunk_id", "cols"])
        per_dir.append(t.take(pc.sort_indices(t["chunk_id"])).to_pylist())
    out, total = [], 0.0
    for i in range(max(map(len, per_dir), default=0)):
        for rows in per_dir:
            if i < len(rows) and total < budget_mb:
                cols = rows[i]["cols"]
                tbl = pa.table({c["name"]: decode_array(c["frame"]) for c in cols})
                total += sum(array_mb(a.combine_chunks()) for a in tbl.columns)
                out.append(tbl)
    return out


def run(chunk_dirs: list[str]) -> dict[str, float]:
    """Replay encode + decode of the sample and return the codec-layer
    per-layer metrics."""
    from parquet2csv_spark import codecs
    from parquet2csv_spark.operators import encode

    tables = load_sample(chunk_dirs)
    spans = Spans()
    frames = []  # (spec, frame, array, mb) of every final column frame
    with patched(spans):
        ctx: dict = {}
        for seq, tbl in enumerate(tables):
            row = encode.encode_chunk(tbl, f"replay:{seq}", "replay", seq, None, ctx)
            for c in row["cols"]:
                arr = tbl[c["name"]].combine_chunks()
                frames.append((c["codec"], c["frame"], arr, array_mb(arr)))
        for _spec, frame, _arr, _mb in frames:
            codecs.decode_array(frame)

    total_mb = sum(f[3] for f in frames) or 1e-9
    m: dict[str, float] = {}
    chooses = spans.named("choose")
    bests = [r for r in spans.named("encode_best") if len(r[5]) < 2 or r[5][1] is None]
    arrays = spans.named("encode_array")
    trials = [r for r in arrays if spans.within(r, "choose")]
    m["selector.choose_ms_per_mb"] = sum(map(spans.duration, chooses)) * 1e3 / total_mb
    m["selector.trials_per_choice"] = len(trials) / len(chooses) if chooses else 0.0
    m["selector.cache_hit_frac"] = 1 - len(chooses) / len(bests) if bests else 0.0

    # per-column encode cost without selection: each column's top-level
    # encode_best span minus its choose child, under the frame's final spec
    idx = {id(r): i for i, r in enumerate(spans.records)}
    choose_in = defaultdict(float)
    for r in chooses:
        choose_in[r[3]] += spans.duration(r)
    tops = [r for r in spans.named("encode_best")
            if r[3] >= 0 and spans.records[r[3]][0] == "encode_chunk"]
    enc_s, enc_mb = defaultdict(float), defaultdict(float)
    for (spec, _f, _a, mb), r in zip(frames, tops):
        enc_s[family(spec)] += spans.duration(r) - choose_in[idx[id(r)]]
        enc_mb[family(spec)] += mb
    dec_s, dec_mb = defaultdict(float), defaultdict(float)
    roots = [r for r in spans.named("decode_array") if r[3] < 0]
    for (spec, _f, _a, mb), r in zip(frames, roots):
        dec_s[family(spec)] += spans.duration(r)
        dec_mb[family(spec)] += mb
    for fam in FAMILIES:
        m[f"codecs.encode_ms_per_mb.{fam}"] = \
            enc_s[fam] * 1e3 / enc_mb[fam] if enc_mb[fam] else 0.0
        m[f"codecs.decode_ms_per_mb.{fam}"] = \
            dec_s[fam] * 1e3 / dec_mb[fam] if dec_mb[fam] else 0.0

    # transport: the same arrays encoded with and without the +z layer
    with_z = without_z = z_mb = 0.0
    for spec, _f, arr, mb in frames:
        if spec.endswith("+z"):
            t = time.perf_counter()
            codecs.encode_array(arr, spec)
            with_z += time.perf_counter() - t
            t = time.perf_counter()
            codecs.encode_array(arr, spec[:-2])
            without_z += time.perf_counter() - t
            z_mb += mb
    m["codecs.transport_ms_per_mb"] = (with_z - without_z) * 1e3 / z_mb if z_mb else 0.0

    fsst_frames = sum("fsst" in f[0] for f in frames)
    m["fsst.train_frac"] = len(spans.named("fsst_train")) / fsst_frames if fsst_frames else 0.0
    m["bloom.build_ms_per_mb"] = \
        sum(map(spans.duration, spans.named("build_bloom"))) * 1e3 / total_mb
    m["encode_chunk.other_ms_per_mb"] = \
        sum(map(spans.self_time, spans.named("encode_chunk"))) * 1e3 / total_mb
    return m


def zonemap_bytes_frac(chunk_dirs: list[str]) -> float:
    """Zone-map plus Bloom bytes ÷ frame bytes over every committed chunk."""
    meta = frame = 0
    for d in chunk_dirs:
        cols = pq.read_table(d, columns=["cols"])["cols"].combine_chunks().flatten()
        for f in ("lo_long", "hi_long"):
            meta += 8 * (len(cols) - cols.field(f).null_count)
        for f in ("lo_str", "hi_str"):
            meta += pc.sum(pc.binary_length(cols.field(f))).as_py() or 0
        meta += 8 * (pc.sum(pc.list_value_length(cols.field("bloom"))).as_py() or 0)
        frame += pc.sum(cols.field("enc_bytes")).as_py() or 0
    return meta / frame if frame else 0.0
