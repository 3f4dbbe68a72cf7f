"""One task per slot: every Python Arrow stage of the engine (parallel-scan
slices, grouped encode, chunk decode) runs as ``defaultParallelism`` tasks,
and ``defaultParallelism`` is the session's task-slot count.

Each Python task pays a fixed start-up cost before its first batch, so a
stage sized above the slot count runs a second wave of that cost. For the
same reason no engine stage is rooted on a Python RDD: each of its tasks
would start one more Python worker than the stage has Arrow operators."""

from __future__ import annotations

import ast
import glob
import os
import re
import subprocess
import sys

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import functions as F

from parquet2csv_spark.operators import multiset_diff
from parquet2csv_spark.operators.encode import encode_salted
from parquet2csv_spark.sources.corpus import generate_corpus, write_corpus
from parquet2csv_spark.sources.parallel_scan import (
    _MAX_SLICES_PER_FILE,
    _slice_assignments,
)

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

_CLI = """
import sys
import driver

src, out, dec = sys.argv[1:4]
rc = driver.main(["--cpus", "2", "encode", "--input", src, "--out", out],
                 stop_session=False)
rc = rc or driver.main(["--cpus", "2", "decode", "--chunks", out,
                        "--schema-json", f"{out}/schema.json", "--out", dec])
sys.exit(rc)
"""


def test_cli_encode_runs_one_task_per_slot(spark, tmp_path):
    """``driver.py --cpus 2`` encodes in exactly 2 tasks, one part file
    each, and decodes to the source multiset. It runs in a child process:
    the shared test session is local[8] and cannot show a 2-slot box."""
    src, out, dec = (str(tmp_path / d) for d in ("src", "enc", "dec"))
    write_corpus(spark, src, 1000, seed=7)
    env = {
        **os.environ,
        "PYTHONPATH": os.pathsep.join(
            p for p in (ROOT, os.environ.get("PYTHONPATH")) if p),
        "SPARK_DRIVER_MEM": "1g",
    }
    proc = subprocess.run(
        [sys.executable, "-c", _CLI, src, out, dec],
        cwd=ROOT, env=env, capture_output=True, text=True, timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-4000:]
    parts = glob.glob(f"{out}/chunks/run=*/part-*.parquet")
    assert len(parts) == 2, parts
    back = spark.read.parquet(dec)
    assert multiset_diff(spark.read.parquet(src), back).count() == 0


def test_encode_salted_one_exchange_of_default_parallelism(spark):
    """The grouped encode's executed plan holds exactly one exchange, the
    ``_gk`` hash partitioning, into ``defaultParallelism`` partitions."""
    corpus = generate_corpus(spark, 2000, seed=42)
    salted = corpus.withColumn("_gk", F.concat_ws("#", "repo", F.lit("0")))
    chunks = encode_salted(salted, ["path", "commit"], chunk_rows=512)
    chunks.collect()
    # the AQE plan after the action: the stages that actually ran
    plan = chunks._jdf.queryExecution().executedPlan().executedPlan().toString()
    exchanges = re.findall(r"(?<!Broadcast)Exchange (\w+\(.*?\))", plan)
    n = spark.sparkContext.defaultParallelism
    assert len(exchanges) == 1, plan
    assert re.fullmatch(rf"hashpartitioning\(_gk#\d+, {n}\)", exchanges[0]), plan


def test_slices_follow_default_parallelism(spark, tmp_path):
    """A single-row-group file large enough for every slot gets one slice
    per slot, capped at ``_MAX_SLICES_PER_FILE``."""
    path = str(tmp_path / "wide.parquet")
    pq.write_table(pa.table({"id": pa.array(range(100_000), pa.int64())}), path)
    slices = _slice_assignments(spark, path, None, min_rows=1024)
    want = min(spark.sparkContext.defaultParallelism, _MAX_SLICES_PER_FILE)
    assert len(slices) == want
    assert sum(n for _, _, n in slices) == 100_000


# Engine code that sizes a Python stage: the modules below must take the
# slot count as it is, never scaled or floored, and build no Python RDD.
_STAGE_SIZING = ["parquet2csv_spark/operators", "parquet2csv_spark/sources",
                 "parquet2csv_spark/plans", "driver.py"]


def _stage_sizing_sources() -> list[str]:
    files = []
    for rel in _STAGE_SIZING:
        path = os.path.join(ROOT, rel)
        files += [path] if path.endswith(".py") else sorted(
            glob.glob(f"{path}/**/*.py", recursive=True))
    return files


def _scaled_slot_counts(source: str) -> list[int]:
    """Line numbers where ``defaultParallelism`` (or the
    ``spark.default.parallelism`` conf string) feeds arithmetic or a
    ``max(...)`` floor within one expression statement."""
    tree = ast.parse(source)
    parents = {c: p for p in ast.walk(tree) for c in ast.iter_child_nodes(p)}
    bad = []
    for node in ast.walk(tree):
        if isinstance(node, ast.Constant) and node.value == "spark.default.parallelism":
            bad.append(node.lineno)
            continue
        if not (isinstance(node, ast.Attribute) and node.attr == "defaultParallelism"):
            continue
        up = parents.get(node)
        while up is not None and not isinstance(up, ast.stmt):
            floored = (isinstance(up, ast.Call) and isinstance(up.func, ast.Name)
                       and up.func.id == "max")
            if isinstance(up, ast.BinOp) or floored:
                bad.append(node.lineno)
                break
            up = parents.get(up)
    return bad


def test_scaled_slot_count_detector():
    assert _scaled_slot_counts("n = sc.defaultParallelism * 2") == [1]
    assert _scaled_slot_counts("n = max(sc.defaultParallelism, 8)") == [1]
    assert _scaled_slot_counts('n = int(conf.get("spark.default.parallelism"))') == [1]
    assert _scaled_slot_counts("n = min(sc.defaultParallelism, _MAX)") == []
    assert _scaled_slot_counts("n = sc.defaultParallelism") == []


def _engine_offenders(detector) -> dict[str, list[int]]:
    found = {}
    for path in _stage_sizing_sources():
        with open(path) as f:
            lines = detector(f.read())
        if lines:
            found[os.path.relpath(path, ROOT)] = lines
    return found


def test_no_stage_sizing_scales_default_parallelism():
    found = _engine_offenders(_scaled_slot_counts)
    assert not found, found


def _parallelize_calls(source: str) -> list[int]:
    """Line numbers of ``<anything>.parallelize(...)`` calls: a Python RDD
    source runs a Python worker per task before the stage's own Arrow
    operator does any work."""
    return [
        node.lineno for node in ast.walk(ast.parse(source))
        if isinstance(node, ast.Call) and isinstance(node.func, ast.Attribute)
        and node.func.attr == "parallelize"
    ]


def test_parallelize_detector():
    assert _parallelize_calls("rdd = sc.parallelize(xs, 4)") == [1]
    assert _parallelize_calls(
        "df = spark.createDataFrame(\n    spark.sparkContext.parallelize(xs), ddl)") == [2]
    assert _parallelize_calls("df = spark.range(0, k, 1, k)") == []
    assert _parallelize_calls("parallelize = 1\nname = 'x.parallelize(y)'") == []


def test_no_engine_code_builds_a_python_rdd_source():
    found = _engine_offenders(_parallelize_calls)
    assert not found, found


def test_reused_engine_worker_does_not_reparse_zip_archives(spark):
    """A Python worker that has unpickled an engine UDF stops re-parsing
    its zip archives (``pyspark.zip``, py4j) on each task's
    ``importlib.invalidate_caches()``.

    Each 1-task job's UDF references an engine function, so unpickling it
    installs the stat guard. The UDF counts the directory reads of one
    more ``importlib.invalidate_caches()``. A task whose own start-up
    invalidation already went through the guard (its worker ran an engine
    UDF before) must read nothing; a worker's first such task may read
    each archive at most once."""
    import importlib
    import zipimport

    from parquet2csv_spark import _zipimport
    from parquet2csv_spark.operators.decode import decode_table

    def count_reads(batches):
        assert callable(decode_table)  # unpickling it imports the package
        primed = bool(_zipimport._signatures)
        reads: list[str] = []
        eager_read = zipimport._read_directory

        def counting_read(path):
            reads.append(path)
            return eager_read(path)

        zipimport._read_directory = counting_read
        try:
            importlib.invalidate_caches()
        finally:
            zipimport._read_directory = eager_read
        archives = {
            imp.archive for imp in sys.path_importer_cache.values()
            if isinstance(imp, zipimport.zipimporter)
        }
        for _ in batches:
            pass
        yield pa.RecordBatch.from_pydict({
            "primed": [primed],
            "reads": [len(reads)],
            "distinct": [len(set(reads))],
            "archives": [len(archives)],
            "guarded": [hasattr(zipimport.zipimporter.invalidate_caches, "__wrapped__")],
        })

    schema = "primed boolean, reads long, distinct long, archives long, guarded boolean"
    rows = []
    for _ in range(12):  # until a task lands on an already-guarded worker
        rows += spark.range(0, 1, 1, 1).mapInArrow(count_reads, schema).collect()
        if any(r.primed for r in rows):
            break
    if sys.version_info >= (3, 13) or not any(r.archives for r in rows):
        assert all(r.reads == 0 for r in rows), rows
        return  # lazy invalidation, or pyspark not imported from a zip
    assert all(r.guarded for r in rows), rows
    assert any(r.primed for r in rows), rows
    for r in rows:
        if r.primed:
            assert r.reads == 0, rows
        else:
            assert r.reads == r.distinct <= r.archives, rows


def test_default_driver_memory_follows_physical_ram():
    from parquet2csv_spark.session import default_driver_memory

    gib = 1 << 30
    assert default_driver_memory(15 * gib + 600 * (1 << 20)) == "7g"
    assert default_driver_memory(512 * gib) == "48g"
    assert default_driver_memory(gib) == "1g"
    assert default_driver_memory().endswith("g")
