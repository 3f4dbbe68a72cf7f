"""Self-tests for the benchmark's own helpers.

    python3 -m pytest perfbench -q -p no:cacheprovider
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import textwrap

import pyarrow as pa
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [ROOT, HERE]

import check  # noqa: E402
import inputs  # noqa: E402
import layers  # noqa: E402
import replay  # noqa: E402
import tracing  # noqa: E402


@pytest.fixture(scope="module")
def spark():
    from parquet2csv_spark.session import get_spark

    return get_spark(cpus=2, app="perfbench-selftest")


def test_checksum_catches_flipped_value_and_dropped_row(spark):
    rows = [(i, f"row-{i}", i * 0.5) for i in range(50)]
    ddl = "id bigint, name string, score double"
    base = check.checksum(spark.createDataFrame(rows, ddl))
    assert base == check.checksum(spark.createDataFrame(rows[::-1], ddl))
    flipped = list(rows)
    flipped[17] = (17, "row-17", 8.0)
    assert check.checksum(spark.createDataFrame(flipped, ddl)) != base
    dropped = check.checksum(spark.createDataFrame(rows[:-1], ddl))
    assert dropped[0] == base[0] - 1 and dropped != base


def test_percentile_refuses_thin_tails():
    samples = [float(i) for i in range(1, 41)]
    assert check.percentile(samples, 50) == 20.0
    assert check.percentile(samples, 75) == 30.0  # exactly ten beyond
    with pytest.raises(ValueError):
        check.percentile(samples, 90)  # four beyond
    with pytest.raises(ValueError):
        check.percentile(samples[:39], 75)  # nine beyond


def test_logical_bytes_hand_counted():
    tbl = pa.table({
        "s": pa.array(["ab", None, "ünï"], pa.string()),   # 2 + 0 + 5 UTF-8 bytes
        "i": pa.array([1, 2, None], pa.int32()),            # 2 non-null × 4
        "d": pa.array([1.0, 2.0, 3.0], pa.float64()),       # 3 × 8
        "t": pa.array([0, 1, 2], pa.timestamp("us")),       # 3 × 8
    })
    assert inputs.logical_bytes(tbl) == 7 + 8 + 24 + 24


def test_replay_wrappers_restore_originals():
    targets = replay._targets()
    before = [getattr(mod, attr) for mod, attr, _ in targets]
    spans = replay.Spans()
    with pytest.raises(RuntimeError):
        with replay.patched(spans):
            assert [getattr(m, a) for m, a, _ in targets] != before
            from parquet2csv_spark.codecs import selector

            selector.encode_best(pa.array([1, 2, 3], pa.int64()))
            raise RuntimeError("exit the replay early")
    assert [getattr(mod, attr) for mod, attr, _ in targets] == before
    names = {r[0] for r in spans.records}
    assert {"encode_best", "choose", "encode_array"} <= names
    assert all(r[2] is not None for r in spans.records)


def test_span_self_time_excludes_children():
    spans = replay.Spans()
    inner = spans.wrap("inner", lambda: sum(range(10_000)))
    outer = spans.wrap("outer", lambda: inner())
    outer()
    o, i = spans.named("outer")[0], spans.named("inner")[0]
    assert i[3] == spans.records.index(o)
    assert spans.self_time(o) == pytest.approx(spans.duration(o) - spans.duration(i))


def test_sql_metric_parsing_and_interval_union():
    assert tracing.parse_sql_metric("1,234") == (1234.0, None)
    total, stage = tracing.parse_sql_metric(
        "total (min, med, max (stageId: taskId))\n5.0 s (572 ms, 677 ms, 902 ms "
        "(stage 78.0: task 361))")
    assert (total, stage) == (5.0, 78)
    assert tracing.parse_sql_metric("total (min, med, max)\n2.0 KiB (1.0 KiB, "
                                    "1.0 KiB, 1.0 KiB (stage 3.0: task 9))")[0] == 2048
    assert tracing.union_s([(0, 2), (1, 3), (5, 6), (None, 9)]) == 4


def test_benchmark_json_lists_every_per_layer_metric():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    assert [m["name"] for m in bench["per_layer"]] == [n for n, _ in layers.PER_LAYER]
    assert [m["unit"] for m in bench["per_layer"]] == [u for _, u in layers.PER_LAYER]


def test_stop_descendants_waits_for_orphans():
    # In a child of its own: the stop would also end this session's JVM.
    script = textwrap.dedent("""
        import os, subprocess, sys, time
        sys.path[:0] = [sys.argv[1]]
        import run, tracing
        run.adopt_orphans()
        # a child that exits at once and orphans a grandchild ignoring SIGTERM
        subprocess.run([sys.executable, "-c",
            "import os, signal, time\\n"
            "if os.fork() == 0:\\n"
            "    signal.signal(signal.SIGTERM, signal.SIG_IGN)\\n"
            "    time.sleep(60)"], check=True)
        subprocess.Popen(["sleep", "60"])
        time.sleep(0.2)
        me = os.getpid()
        print(len(tracing.process_tree(me)) - 1)
        run.stop_descendants(grace_s=0.5)
        print(len(tracing.process_tree(me)) - 1)
    """)
    out = subprocess.run([sys.executable, "-c", script, HERE], capture_output=True,
                         text=True, timeout=30, check=True).stdout.split()
    assert out == ["2", "0"]
