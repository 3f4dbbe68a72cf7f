"""Deterministic generator for the `source_code_files` corpus (FIXTURES.md F1).

The exact input-table shape from BASELINE.json `input_hint`:
``(repo string, path string, commit string, lang string, content string)``.

Pure function of ``(seed, row_id)`` — every row's values derive from
counter-based splitmix64 hashing of its row id, so generation is
order-independent, restart-safe, and identical across partitionings /
cluster sizes (required for the two-parallelism-level scaling runs to see
the same input).

Distribution properties (each exercises an engine feature — FIXTURES.md):
  repo   zipf-skewed, one giant repo holding ≈42% of rows → salting
  path   component tokens from a shared pool, heavy prefixes → FSST
  commit per-repo pool of ≤50 shas, runs after sort → RLE/dict
  lang   ~12 values, repo-dominant → RLE/dict
  content source-code-like slices of a shared base text, 0..max_len,
         ~1% null, ~1% empty, ~2% multi-byte UTF-8, modular all-equal
         rows → FSST, size caps, null fidelity, sha256 invariant
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa

CORPUS_COLUMNS = ["repo", "path", "commit", "lang", "content"]
CORPUS_DDL = "repo string, path string, commit string, lang string, content string"

_LANGS = np.array(
    ["java", "py", "c", "cpp", "go", "rs", "js", "ts", "md", "xml", "sh", "json"]
)
_EXTS = np.array(
    [".java", ".py", ".c", ".cpp", ".go", ".rs", ".js", ".ts", ".md", ".xml", ".sh", ".json"]
)
_DIRS = np.array(
    "src main java com org example util io net core api impl test tests internal "
    "lib pkg cmd app server client common model data store engine codec plan "
    "exec runtime sql parser ast optimizer physical logical shuffle stream batch "
    "meta catalog schema types fn agg join scan sink format read write buffer "
    "mem disk cache index stats prof bench docs tools scripts build conf".split()
)
_STEMS = np.array(
    "File Utils Reader Writer Codec Frame Chunk Table Column Row Schema Meta "
    "Plan Exec Task Job Stage Shuffle Partition Sample Select Filter Project "
    "Join Agg Sort Limit Union Scan Sink Source Buffer Stream Batch State "
    "Window Hash Dict Rle Fsst Pack Delta Null Bitmap Offset Length Stats".split()
)

_UNICODE_SNIPPET = "\n// コメント: переменная naïve — überprüfung ✓\n"
_ALL_EQUAL_CONTENT = "// ALL-EQUAL adversarial chunk content\nint x = 0;\n"

_C1 = np.uint64(0x9E3779B97F4A7C15)
_C2 = np.uint64(0xBF58476D1CE4E5B9)
_C3 = np.uint64(0x94D049BB133111EB)


def _mix64(x: np.ndarray) -> np.ndarray:
    x = (x + _C1).astype(np.uint64)
    x = (x ^ (x >> np.uint64(30))) * _C2
    x = (x ^ (x >> np.uint64(27))) * _C3
    return x ^ (x >> np.uint64(31))


def _stream(ids: np.ndarray, seed: int, k: int) -> np.ndarray:
    base = ids.astype(np.uint64) * np.uint64(0x100000001B3) + np.uint64(
        (seed * 0x1F123BB5 + k * 0x27D4EB2F) & 0xFFFFFFFFFFFFFFFF
    )
    return _mix64(_mix64(base))


def _uniform(ids: np.ndarray, seed: int, k: int) -> np.ndarray:
    return (_stream(ids, seed, k) >> np.uint64(11)) * (2.0 ** -53)


def _base_text(seed: int, size: int = 1 << 18) -> str:
    """Shared source-code-like base buffer; contents are slices of it."""
    rng = np.random.default_rng(seed)
    kw = [
        "def", "return", "import", "class", "if", "else", "for", "while",
        "public", "static", "void", "int", "self", "new", "const", "let",
        "func", "package", "struct", "impl", "match", "fn", "try", "except",
    ]
    idents = [f"value_{i}" for i in range(40)] + [f"Handler{i}" for i in range(20)]
    puncts = ["(", ")", "{", "}", "[", "]", " = ", " + ", ", ", ";", ": ", " -> "]
    pieces: list[str] = []
    total = 0
    while total < size:
        line_toks = rng.integers(2, 9)
        parts = []
        for _ in range(line_toks):
            r = rng.random()
            if r < 0.35:
                parts.append(kw[rng.integers(len(kw))])
            elif r < 0.75:
                parts.append(idents[rng.integers(len(idents))])
            else:
                parts.append(str(rng.integers(0, 1000)))
            parts.append(puncts[rng.integers(len(puncts))])
        line = "    " * int(rng.integers(0, 4)) + "".join(parts) + "\n"
        pieces.append(line)
        total += len(line)
    return "".join(pieces)[:size]


class CorpusSpec:
    """Precomputed, seed-derived lookup tables (built once per task)."""

    def __init__(self, seed: int, n_rows: int, mean_len: int = 1200, max_len: int = 65536):
        self.seed = seed
        self.n_rows = n_rows
        self.mean_len = mean_len
        self.max_len = max_len
        self.n_repos = max(16, int(n_rows ** 0.45))
        r = np.arange(1, self.n_repos, dtype=np.float64)
        zipf = 1.0 / r ** 1.3
        probs = np.concatenate([[0.42], 0.58 * zipf / zipf.sum()])
        self.repo_cdf = np.cumsum(probs)
        rng = np.random.default_rng(seed)
        orgs = rng.integers(0, 57, self.n_repos)
        a = rng.integers(0, len(_DIRS), self.n_repos)
        b = rng.integers(0, len(_STEMS), self.n_repos)
        self.repo_names = np.array(
            [f"org{orgs[i]:04d}/{_DIRS[a[i]]}-{_STEMS[b[i]].lower()}-{i}" for i in range(self.n_repos)]
        )
        self.repo_lang = rng.integers(0, len(_LANGS), self.n_repos)
        self.repo_pool = 1 + rng.integers(0, 50, self.n_repos)  # commits per repo
        sha_words = rng.integers(0, 2 ** 63, (2048, 3), dtype=np.int64)
        self.commits = np.array(
            [f"{int(a):016x}{int(b):016x}{int(c):016x}"[:40] for a, b, c in sha_words]
        )
        self.base = _base_text(seed)


def corpus_batch(ids: np.ndarray, spec: CorpusSpec) -> pa.Table:
    """Generate rows for the given row ids (pure, vectorized)."""
    seed = spec.seed
    ids = ids.astype(np.int64)
    n = len(ids)
    if n == 0:
        return pa.table({c: pa.array([], type=pa.string()) for c in CORPUS_COLUMNS})

    repo_idx = np.searchsorted(spec.repo_cdf, _uniform(ids, seed, 1), side="right")
    repo_idx = np.minimum(repo_idx, spec.n_repos - 1)
    repo = spec.repo_names[repo_idx]

    # lang: repo-dominant with 15% noise
    noise = _uniform(ids, seed, 2)
    lang_idx = np.where(
        noise < 0.85,
        spec.repo_lang[repo_idx],
        (_stream(ids, seed, 3) % np.uint64(len(_LANGS))).astype(np.int64),
    )
    lang = _LANGS[lang_idx]

    # commit: per-repo pool, runs of ~16 consecutive ids share a draw
    pool = spec.repo_pool[repo_idx].astype(np.uint64)
    k = (ids.astype(np.uint64) // np.uint64(16)) % pool
    commit = spec.commits[
        (_mix64(repo_idx.astype(np.uint64) * np.uint64(53) + k) % np.uint64(len(spec.commits))).astype(np.int64)
    ]

    # path: 2-8 components from shared pools (heavy shared prefixes)
    depth = (_stream(ids, seed, 4) % np.uint64(4)).astype(np.int64)  # extra dirs 0..3
    d1 = _DIRS[(_stream(ids, seed, 5) % np.uint64(8)).astype(np.int64)]          # hot prefix
    d2 = _DIRS[(_stream(ids, seed, 6) % np.uint64(len(_DIRS))).astype(np.int64)]
    d3 = _DIRS[(_stream(ids, seed, 7) % np.uint64(len(_DIRS))).astype(np.int64)]
    stem = _STEMS[(_stream(ids, seed, 8) % np.uint64(len(_STEMS))).astype(np.int64)]
    ext = _EXTS[lang_idx]
    suffix = np.where(
        _uniform(ids, seed, 9) < 0.5,
        np.char.add("_", (ids % 997).astype(str)),
        np.full(n, "", dtype=object).astype(str),
    )
    path = np.char.add(d1, "/")
    path = np.char.add(path, d2)
    extra = np.char.add("/", d3)
    path = np.char.add(path, np.where(depth >= 2, extra, ""))
    path = np.char.add(path, "/")
    path = np.char.add(path, stem)
    path = np.char.add(path, suffix)
    path = np.char.add(path, ext)

    # content: header + slice of shared base text; heavy-tailed lengths
    u_len = _uniform(ids, seed, 10)
    lengths = (spec.mean_len * 0.35 / np.maximum(1e-9, 1.0 - u_len) ** 0.65).astype(np.int64)
    lengths = np.minimum(lengths, spec.max_len)
    base = spec.base
    offs = (_stream(ids, seed, 11) % np.uint64(len(base))).astype(np.int64)
    offs = np.minimum(offs, np.maximum(0, len(base) - lengths))
    u_case = _uniform(ids, seed, 12)
    is_null = u_case < 0.01
    is_empty = (u_case >= 0.01) & (u_case < 0.02)
    add_uni = (u_case >= 0.02) & (u_case < 0.04)
    all_equal = (ids % 9973) == 0

    content: list[str | None] = [None] * n
    for i in range(n):  # fixture generation only — not an engine path
        if is_null[i]:
            continue
        if is_empty[i]:
            content[i] = ""
        elif all_equal[i]:
            content[i] = _ALL_EQUAL_CONTENT
        else:
            body = base[offs[i] : offs[i] + lengths[i]]
            c = f"// {repo[i]}/{path[i]}@{commit[i][:8]}\n{body}"
            if add_uni[i]:
                c += _UNICODE_SNIPPET
            content[i] = c

    return pa.table(
        {
            "repo": pa.array(repo.tolist(), type=pa.string()),
            "path": pa.array(path.tolist(), type=pa.string()),
            "commit": pa.array(commit.tolist(), type=pa.string()),
            "lang": pa.array(lang.tolist(), type=pa.string()),
            "content": pa.array(content, type=pa.string()),
        }
    )


def generate_corpus(spark, n_rows: int, seed: int = 42, mean_len: int = 1200, max_len: int = 65536):
    """Distributed corpus as a DataFrame: spark.range → mapInArrow.

    The scan parallelizes over row-id ranges; each task regenerates its rows
    from (seed, id) alone — the 10^12-file-scale analog is an Iceberg scan,
    which drops in via sources.catalog without touching the encode path.
    """
    from pyspark.sql.functions import spark_partition_id  # noqa: F401

    def gen(it):
        spec = CorpusSpec(seed, n_rows, mean_len=mean_len, max_len=max_len)
        for batch in it:
            ids = batch.column("id").to_numpy()
            yield from corpus_batch(ids, spec).to_batches()

    n_part = spark.sparkContext.defaultParallelism
    return spark.range(0, n_rows, numPartitions=n_part).mapInArrow(gen, CORPUS_DDL)


def write_corpus(spark, path: str, n_rows: int, seed: int = 42, **kw) -> None:
    generate_corpus(spark, n_rows, seed, **kw).write.mode("overwrite").parquet(path)
