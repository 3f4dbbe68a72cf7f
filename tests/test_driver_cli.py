"""End-to-end CLI tests: the four reference entry points plus
encode/decode/verify, driven through driver.main() in-process (D1
dispatch — DataLoad.java:256-304 analog)."""

from __future__ import annotations

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import driver  # noqa: E402

from parquet2csv_spark.operators import multiset_diff  # noqa: E402


def test_cli_encode_decode_verify_roundtrip(spark, tmp_path, capsys, monkeypatch):
    src = str(tmp_path / "src")
    spark.createDataFrame(
        [(i, f"repo{i % 3}", f"path/{i}.py", f"c{i:06d}", f"text body {i}") for i in range(200)],
        "id long, repo string, path string, commit string, content string",
    ).write.parquet(src)
    out = str(tmp_path / "enc")

    assert driver.main(stop_session=False, argv=["--cpus", "4", "encode", "--input", src, "--out", out,
                        "--group-cols", "repo", "--order-cols", "path,commit"]) in (0, None)
    enc_line = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert enc_line["rows"] == 200

    assert driver.main(stop_session=False, argv=["--cpus", "4", "verify", "--input", src, "--chunks", out]) == 0
    ver_line = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert ver_line["bit_identical"] is True

    # decode accepts the job out_dir (chunks/run=*/ + commits/ layout) and
    # reads its commit markers once: the generation pick hands its run ids
    # to chunks()
    from parquet2csv_spark.plans import lineage

    reads = []
    real_read = lineage.read_markers
    monkeypatch.setattr(lineage, "read_markers", lambda *a: reads.append(a) or real_read(*a))
    dec = str(tmp_path / "dec")
    assert driver.main(stop_session=False, argv=["--cpus", "4", "decode", "--chunks", out,
                        "--schema-json", f"{out}/schema.json", "--out", dec]) in (0, None)
    assert len(reads) == 1
    back = spark.read.parquet(dec)
    srcdf = spark.read.parquet(src)
    assert multiset_diff(srcdf, back).count() == 0


def test_cli_csv_and_schema_entry_points(spark, tmp_path, capsys):
    src = str(tmp_path / "t")
    spark.createDataFrame([(1, "alpha"), (2, None)], "id long, name string").write.parquet(src)

    csv_out = str(tmp_path / "csv_out")
    assert driver.main(stop_session=False, argv=["--cpus", "4", "csv", "--input", src, "--out", csv_out]) in (0, None)
    capsys.readouterr()
    text = "".join(
        open(os.path.join(csv_out, f)).read()
        for f in os.listdir(csv_out) if f.endswith(".csv")
    )
    assert "ID,NAME" in text and "'alpha'" in text and "null" in text

    sj = str(tmp_path / "schema.json")
    assert driver.main(stop_session=False, argv=["--cpus", "4", "to-json", "--input", src, "--out", sj]) in (0, None)
    capsys.readouterr()
    schema = json.load(open(sj))
    assert [f["name"] for f in schema["fields"]] == ["id", "name"]

    fp = str(tmp_path / "footer_only")
    assert driver.main(stop_session=False, argv=["--cpus", "4", "from-json", "--input", sj, "--out", fp]) in (0, None)
    capsys.readouterr()
    assert spark.read.parquet(fp).count() == 0

    orow = str(tmp_path / "one_row")
    assert driver.main(stop_session=False, argv=["--cpus", "4", "one-row-schema", "--input", src, "--out", orow]) in (0, None)
    capsys.readouterr()
    assert spark.read.parquet(orow).count() == 1


def test_cli_decode_pins_one_generation(spark, tmp_path, capsys):
    """ADVICE r3 (medium): an out_dir holding TWO committed generations
    (same data, different job_ids and chunking) must never be spliced —
    grouped chunk ids are positional (group_key:seq), so mixing generations
    with different chunk counts would duplicate/lose rows. Decode defaults
    to the latest committed_at generation; --decode-job-id pins one."""
    src = str(tmp_path / "src")
    spark.createDataFrame(
        [(i, f"r{i % 2}", f"p/{i:03d}", f"c{i:03d}", f"body {i}") for i in range(120)],
        "id long, repo string, path string, commit string, content string",
    ).write.parquet(src)
    out = str(tmp_path / "enc")
    base = ["--cpus", "4", "encode", "--input", src, "--out", out,
            "--group-cols", "repo", "--order-cols", "path,commit"]
    # generation j1: many small chunks; generation j2: one chunk per group
    assert driver.main(stop_session=False, argv=base + ["--job-id", "j1", "--chunk-rows", "16"]) in (0, None)
    assert driver.main(stop_session=False, argv=base + ["--job-id", "j2", "--chunk-rows", "4096"]) in (0, None)
    capsys.readouterr()

    srcdf = spark.read.parquet(src)
    dec = str(tmp_path / "dec")
    assert driver.main(stop_session=False, argv=["--cpus", "4", "decode", "--chunks", out,
                        "--schema-json", f"{out}/schema.json", "--out", dec]) in (0, None)
    line = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert line["job_id"] in ("j1", "j2")  # ONE generation, reported
    assert multiset_diff(srcdf, spark.read.parquet(dec)).count() == 0

    # pin each generation explicitly — both decode exactly
    for jid in ("j1", "j2"):
        d = str(tmp_path / f"dec_{jid}")
        assert driver.main(stop_session=False, argv=["--cpus", "4", "decode", "--chunks", out,
                            "--schema-json", f"{out}/schema.json", "--out", d,
                            "--decode-job-id", jid]) in (0, None)
        line = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
        assert line["job_id"] == jid
        assert multiset_diff(srcdf, spark.read.parquet(d)).count() == 0

    # a generation that doesn't exist is a loud usage error, not empty output
    assert driver.main(stop_session=False, argv=["--cpus", "4", "decode", "--chunks", out,
                        "--schema-json", f"{out}/schema.json", "--out", str(tmp_path / "nope"),
                        "--decode-job-id", "missing"]) == 3
    capsys.readouterr()

    # chunks/ without commits/ (runs that crashed before their commit
    # markers) has no committed generation: the same loud usage error
    import shutil

    shutil.rmtree(f"{out}/commits")
    assert driver.main(stop_session=False, argv=["--cpus", "4", "decode", "--chunks", out,
                        "--schema-json", f"{out}/schema.json", "--out", str(tmp_path / "nolin")]) == 3
    assert "no committed run" in capsys.readouterr().out


def test_cli_decode_filter_selective(spark, tmp_path, capsys):
    """--filter pushes predicates through the zone maps (selective decode
    at the CLI surface, r6): typed value parsing from the schema, AND
    semantics across repeated flags, '|'-joined in-lists, loud usage
    errors for malformed specs."""
    import pytest

    src = str(tmp_path / "src")
    spark.createDataFrame(
        [(i, f"repo{i % 3}", f"path/{i:04d}.py", f"c{i:06d}", f"text body {i}")
         for i in range(300)],
        "id long, repo string, path string, commit string, content string",
    ).write.parquet(src)
    out = str(tmp_path / "enc")
    assert driver.main(stop_session=False, argv=[
        "--cpus", "4", "encode", "--input", src, "--out", out,
        "--group-cols", "repo", "--order-cols", "path,commit"]) in (0, None)
    capsys.readouterr()

    dec = str(tmp_path / "dec")
    assert driver.main(stop_session=False, argv=[
        "--cpus", "4", "decode", "--chunks", out,
        "--schema-json", f"{out}/schema.json", "--out", dec,
        "--filter", "id >= 250", "--filter", "repo == repo1"]) in (0, None)
    line = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert line["filters"] == [["id", ">=", "250"], ["repo", "==", "repo1"]]
    got = spark.read.parquet(dec)
    srcdf = spark.read.parquet(src)
    want = srcdf.filter("id >= 250 AND repo = 'repo1'")
    assert multiset_diff(want, got).count() == 0
    assert got.count() == want.count() > 0

    # '|'-joined in-list
    dec2 = str(tmp_path / "dec2")
    assert driver.main(stop_session=False, argv=[
        "--cpus", "4", "decode", "--chunks", out,
        "--schema-json", f"{out}/schema.json", "--out", dec2,
        "--filter", "id in 5|250"]) in (0, None)
    capsys.readouterr()
    assert sorted(r["id"] for r in spark.read.parquet(dec2).collect()) == [5, 250]

    # malformed specs fail before any Spark work, argparse-style
    for bad in ("id>=250", "id ~ 3", "id >= notanint", "nope == 1"):
        with pytest.raises(SystemExit):
            driver.main(stop_session=False, argv=[
                "--cpus", "4", "decode", "--chunks", out,
                "--schema-json", f"{out}/schema.json",
                "--out", str(tmp_path / "x"), "--filter", bad])
    capsys.readouterr()


def test_cli_decode_columns_projection_and_in_echo(spark, tmp_path, capsys):
    """r7: ``--columns`` prunes the decode to a subset schema (only those
    frames are touched), unknown columns fail argparse-style, the echoed
    'in' filter is '|'-joined so it round-trips back into --filter
    (ADVICE r6), and --filter on a type the row filter can't compare is
    rejected at parse time."""
    import pytest

    src = str(tmp_path / "src")
    spark.createDataFrame(
        [(i, f"repo{i % 3}", f"path/{i:04d}.py", float(i), bytearray(b"\x00\x01"))
         for i in range(200)],
        "id long, repo string, path string, score double, blob binary",
    ).write.parquet(src)
    out = str(tmp_path / "enc")
    assert driver.main(stop_session=False, argv=[
        "--cpus", "4", "encode", "--input", src, "--out", out,
        "--group-cols", "repo", "--order-cols", "path"]) in (0, None)
    capsys.readouterr()

    dec = str(tmp_path / "dec")
    assert driver.main(stop_session=False, argv=[
        "--cpus", "4", "decode", "--chunks", out,
        "--schema-json", f"{out}/schema.json", "--out", dec,
        "--columns", "id,path", "--filter", "id in 5|150"]) in (0, None)
    line = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert line["filters"] == [["id", "in", "5|150"]]  # CLI-round-trippable
    got = spark.read.parquet(dec)
    assert sorted(got.columns) == ["id", "path"]
    assert sorted(r["id"] for r in got.collect()) == [5, 150]

    # unknown projection column → loud usage error before Spark work
    with pytest.raises(SystemExit):
        driver.main(stop_session=False, argv=[
            "--cpus", "4", "decode", "--chunks", out,
            "--schema-json", f"{out}/schema.json",
            "--out", str(tmp_path / "x"), "--columns", "id,nope"])
    # binary column filter → rejected at parse (ADVICE r6), not a runtime
    # cast failure deep in the job
    with pytest.raises(SystemExit):
        driver.main(stop_session=False, argv=[
            "--cpus", "4", "decode", "--chunks", out,
            "--schema-json", f"{out}/schema.json",
            "--out", str(tmp_path / "y"), "--filter", "blob == 00"])
    # boolean parsing present for the filterable set (schema has none here;
    # covered by _parse_cli_filters unit behavior via a bool-typed schema)
    capsys.readouterr()


def test_cli_decode_stats_only(spark, tmp_path, capsys):
    """r7: ``decode --stats-only`` prints the selectivity preview (zone
    maps + blooms, no decode, no --out needed); omitting --out WITHOUT
    --stats-only stays a loud usage error."""
    import pytest

    src = str(tmp_path / "src")
    spark.createDataFrame(
        [(i, f"repo{i % 3}", f"path/{i:04d}.py") for i in range(300)],
        "id long, repo string, path string",
    ).write.parquet(src)
    out = str(tmp_path / "enc")
    assert driver.main(stop_session=False, argv=[
        "--cpus", "4", "encode", "--input", src, "--out", out,
        "--group-cols", "repo", "--order-cols", "path"]) in (0, None)
    capsys.readouterr()

    assert driver.main(stop_session=False, argv=[
        "--cpus", "4", "decode", "--chunks", out,
        "--schema-json", f"{out}/schema.json",
        "--stats-only", "--filter", "id >= 250"]) == 0
    st = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert st["total_rows"] == 300 and 0 < st["kept_rows"] <= 300
    assert 0 < st["kept_chunks"] <= st["total_chunks"]

    with pytest.raises(SystemExit):
        driver.main(stop_session=False, argv=[
            "--cpus", "4", "decode", "--chunks", out,
            "--schema-json", f"{out}/schema.json", "--filter", "id >= 250"])
    capsys.readouterr()


def _write_src(spark, path, n=120):
    spark.createDataFrame(
        [(i, f"r{i % 3}", f"p/{i:03d}", f"c{i:03d}", f"body {i}") for i in range(n)],
        "id long, repo string, path string, commit string, content string",
    ).write.parquet(path)


def test_cli_decode_and_verify_accept_a_uri_out_dir(spark, tmp_path, capsys):
    """An out_dir given as a ``file://`` URI is probed through the Hadoop
    FileSystem like a plain path: encode writes its schema.json there, and
    decode and verify read it as an EncodeJob out_dir, not as a raw chunks
    table."""
    src = str(tmp_path / "src")
    _write_src(spark, src)
    out = str(tmp_path / "enc")
    uri = f"file://{out}"
    assert driver.main(stop_session=False, argv=[
        "--cpus", "4", "encode", "--input", src, "--out", uri]) == 0
    decoded = {}
    for name, chunks in (("plain", out), ("uri", uri)):
        dec = str(tmp_path / f"dec_{name}")
        assert driver.main(stop_session=False, argv=[
            "--cpus", "4", "decode", "--chunks", chunks,
            "--schema-json", f"{out}/schema.json", "--out", dec]) == 0
        decoded[name] = spark.read.parquet(dec)
        assert driver.main(stop_session=False, argv=[
            "--cpus", "4", "verify", "--input", src, "--chunks", chunks]) == 0
        assert json.loads(capsys.readouterr().out.strip().splitlines()[-1])["bit_identical"]
    assert decoded["uri"].count() == 120
    assert multiset_diff(decoded["plain"], decoded["uri"]).count() == 0


def test_uncommitted_run_is_invisible_to_decode_and_verify(spark, tmp_path, capsys):
    """The crash window at the CLI: chunks written, commit marker missing.
    decode and verify see nothing committed (rc 3); the next encode
    re-encodes that run's groups and both commands then pass."""
    src = str(tmp_path / "src")
    _write_src(spark, src)
    out = str(tmp_path / "enc")
    encode = ["--cpus", "4", "encode", "--input", src, "--out", out]
    decode = ["--cpus", "4", "decode", "--chunks", out, "--schema-json",
              f"{out}/schema.json", "--out", str(tmp_path / "dec")]
    verify = ["--cpus", "4", "verify", "--input", src, "--chunks", out]
    assert driver.main(stop_session=False, argv=encode) == 0
    first = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    os.remove(os.path.join(out, "commits", f"{first['run_id']}.json"))
    assert driver.main(stop_session=False, argv=decode) == 3
    assert driver.main(stop_session=False, argv=verify) == 3
    capsys.readouterr()

    assert driver.main(stop_session=False, argv=encode) == 0
    again = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert {k: again[k] for k in ("groups_done", "rows", "raw_bytes", "enc_bytes")} == \
        {k: first[k] for k in ("groups_done", "rows", "raw_bytes", "enc_bytes")}
    assert driver.main(stop_session=False, argv=decode) == 0
    assert multiset_diff(spark.read.parquet(src),
                         spark.read.parquet(str(tmp_path / "dec"))).count() == 0
    assert driver.main(stop_session=False, argv=verify) == 0
    capsys.readouterr()


def test_pre_marker_out_dir_is_refused_by_encode_decode_verify(spark, tmp_path, capsys):
    """An out_dir written before commit markers (a lineage/ parquet table,
    no commits/) cannot prove which runs are committed: encode, decode and
    verify all raise a migration error instead of reading it as empty."""
    import pytest

    from parquet2csv_spark.plans.lineage import LINEAGE_SCHEMA

    src = str(tmp_path / "src")
    _write_src(spark, src)
    out = str(tmp_path / "enc")
    assert driver.main(stop_session=False, argv=[
        "--cpus", "4", "encode", "--input", src, "--out", out]) == 0
    capsys.readouterr()
    import shutil

    shutil.rmtree(os.path.join(out, "commits"))
    spark.createDataFrame(
        [("s", "encode", "r", "g", 1, 1, 1, 1, 1, "plain", "done", None, None)],
        LINEAGE_SCHEMA,
    ).write.parquet(os.path.join(out, "lineage"))
    for argv in (
        ["encode", "--input", src, "--out", out],
        ["decode", "--chunks", out, "--schema-json", f"{out}/schema.json",
         "--out", str(tmp_path / "dec")],
        ["verify", "--input", src, "--chunks", out],
    ):
        with pytest.raises(RuntimeError, match="predates commit markers"):
            driver.main(stop_session=False, argv=["--cpus", "4", *argv])
    assert not os.path.exists(os.path.join(out, "commits"))


# ------------------------------------------------------ Python worker warm-up

_PYTHON_OPS = ("MapInArrow", "FlatMapGroupsInArrow", "ArrowEvalPython",
               "BatchEvalPython", "MapInPandas", "FlatMapGroupsInPandas")


def _group_jobs(spark, group):
    """``(job id, task count, executed plan)`` of every job in ``group``,
    read once the listener bus has caught up."""
    sc = spark.sparkContext
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    plans = {}
    execs = spark._jsparkSession.sharedState().statusStore().executionsList().iterator()
    while execs.hasNext():
        ex = execs.next()
        ids = ex.jobs().keys().iterator()
        while ids.hasNext():
            plans[int(ids.next())] = ex.physicalPlanDescription()
    st = sc.statusTracker()
    out = []
    for j in sorted(st.getJobIdsForGroup(group)):
        stages = [st.getStageInfo(s) for s in st.getJobInfo(j).stageIds]
        out.append((j, sum(s.numTasks for s in stages if s), plans.get(j, "")))
    return out


def _cli_in_group(spark, group, argv):
    """Run ``driver.main`` under job group ``group``."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        return driver.main(stop_session=False, argv=["--cpus", "4", *argv])
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)


def _warm_up_jobs(jobs):
    """The warm-up's signature: a 1-task MapInArrow over a 1-row range."""
    return [(j, n, plan) for j, n, plan in jobs if n == 1 and "MapInArrow" in plan
            and "Range (0, 1, step=1, splits=Some(1))" in plan]


def test_arrow_commands_run_one_warm_up_job_in_the_callers_group(
        spark, tmp_path, capsys, monkeypatch):
    """encode, decode and verify each start the Python worker daemon with
    exactly one 1-task MapInArrow job in the caller's job group when their
    SparkContext has not been warmed, and join it before ``main`` returns:
    no job is left running. A later command in a warmed context runs none."""
    threads = []
    start = driver._start_warm_up

    def recording_start(s):
        threads.append(start(s))
        return threads[-1]

    monkeypatch.setattr(driver, "_start_warm_up", recording_start)
    monkeypatch.setattr(driver, "_WARMED", set())
    src = str(tmp_path / "src")
    spark.createDataFrame(
        [(i, f"repo{i % 3}", f"path/{i:03d}.py", f"c{i:04d}") for i in range(90)],
        "id long, repo string, path string, commit string",
    ).write.parquet(src)
    out = str(tmp_path / "enc")
    commands = {
        "encode": ["encode", "--input", src, "--out", out],
        "decode": ["decode", "--chunks", out, "--schema-json", f"{out}/schema.json",
                   "--out", str(tmp_path / "dec")],
        "verify": ["verify", "--input", src, "--chunks", out],
    }
    sc = spark.sparkContext
    for i, (cmd, argv) in enumerate(commands.items()):
        driver._WARMED.clear()  # as if each command ran in a new context
        group = f"test-warm-up-{cmd}"
        assert _cli_in_group(spark, group, argv) == 0, cmd
        assert len(threads) == i + 1 and not threads[-1].is_alive(), cmd
        jobs = _group_jobs(spark, group)
        assert len(_warm_up_jobs(jobs)) == 1, (cmd, [(j, n) for j, n, _ in jobs])
        assert sc.statusTracker().getActiveJobsIds() == [], cmd

    # the context is warm now: the same command starts no second warm-up
    assert _cli_in_group(spark, "test-warm-up-again", commands["verify"]) == 0
    assert threads[-1] is None
    assert _warm_up_jobs(_group_jobs(spark, "test-warm-up-again")) == []
    capsys.readouterr()


def test_commands_without_arrow_stages_start_no_python_job(
        spark, tmp_path, capsys, monkeypatch):
    """decode --stats-only, to-json, from-json, one-row-schema and csv of
    an input without float/double columns run no Arrow Python operator, so
    they start no warm-up either, even in a context not yet warmed."""
    src = str(tmp_path / "src")
    spark.createDataFrame(
        [(i, f"repo{i % 2}", f"p{i:03d}") for i in range(40)],
        "id long, repo string, path string",
    ).write.parquet(src)
    out = str(tmp_path / "enc")
    assert driver.main(stop_session=False, argv=[
        "--cpus", "4", "encode", "--input", src, "--out", out,
        "--order-cols", "path"]) == 0
    sj = str(tmp_path / "schema.json")
    commands = {
        "stats-only": ["decode", "--chunks", out, "--schema-json", f"{out}/schema.json",
                       "--stats-only"],
        "to-json": ["to-json", "--input", src, "--out", sj],
        "from-json": ["from-json", "--input", sj, "--out", str(tmp_path / "footer")],
        "one-row-schema": ["one-row-schema", "--input", src, "--out", str(tmp_path / "one")],
        "csv": ["csv", "--input", src, "--out", str(tmp_path / "csv")],
    }
    monkeypatch.setattr(driver, "_WARMED", set())
    for cmd, argv in commands.items():
        driver._WARMED.clear()  # a command that asked for a warm-up would get one
        group = f"test-no-warm-up-{cmd}"
        assert _cli_in_group(spark, group, argv) == 0, cmd
        python_jobs = [j for j, _, plan in _group_jobs(spark, group)
                       if any(op in plan for op in _PYTHON_OPS)]
        assert python_jobs == [], cmd
    capsys.readouterr()


def test_failed_warm_up_warns_and_leaves_the_result_alone(
        spark, tmp_path, capsys, caplog, monkeypatch):
    """A warm-up that raises logs a warning naming the error; the command's
    exit code and printed JSON are those of a run whose warm-up worked."""
    src = str(tmp_path / "src")
    spark.createDataFrame(
        [(i, f"repo{i % 2}", f"p{i:03d}", f"c{i:03d}") for i in range(60)],
        "id long, repo string, path string, commit string",
    ).write.parquet(src)
    out = str(tmp_path / "enc")
    assert driver.main(stop_session=False, argv=[
        "--cpus", "4", "encode", "--input", src, "--out", out]) == 0
    verify = ["--cpus", "4", "verify", "--input", src, "--chunks", out]
    capsys.readouterr()
    rc_ok = driver.main(stop_session=False, argv=verify)
    printed_ok = capsys.readouterr().out

    def broken(_spark):
        raise RuntimeError("warm-up exploded on purpose")

    monkeypatch.setattr(driver, "_warm_python_workers", broken)
    monkeypatch.setattr(driver, "_WARMED", set())
    with caplog.at_level("WARNING"):
        rc = driver.main(stop_session=False, argv=verify)
    assert rc == rc_ok == 0
    assert capsys.readouterr().out == printed_ok
    warnings = [r for r in caplog.records if r.levelname == "WARNING"]
    assert any("warm-up exploded on purpose" in r.getMessage() for r in warnings), \
        caplog.text


def test_decode_of_a_one_run_out_dir_runs_one_job(spark, tmp_path, capsys, monkeypatch):
    """Picking the generation and its committed run reads only the commit
    markers: a CLI decode of a one-run out_dir runs exactly one Spark job,
    the decode write itself. Verify with no matching marker exits 3 before
    any Spark job."""
    src = str(tmp_path / "src")
    _write_src(spark, src)
    out = str(tmp_path / "enc")
    assert driver.main(stop_session=False, argv=[
        "--cpus", "4", "encode", "--input", src, "--out", out]) == 0
    # a warmed context: the warm-up job is not part of the command's budget
    monkeypatch.setattr(driver, "_WARMED", {spark.sparkContext.applicationId})
    assert _cli_in_group(spark, "test-decode-budget", [
        "decode", "--chunks", out, "--schema-json", f"{out}/schema.json",
        "--out", str(tmp_path / "dec")]) == 0
    jobs = _group_jobs(spark, "test-decode-budget")
    assert len(jobs) == 1, [(j, n) for j, n, _ in jobs]
    assert "MapInArrow" in jobs[0][2] and "InsertIntoHadoopFsRelationCommand" in jobs[0][2]

    assert _cli_in_group(spark, "test-verify-no-marker", [
        "verify", "--input", src, "--chunks", out, "--job-id", "nope"]) == 3
    assert "no committed chunks" in capsys.readouterr().out
    assert _group_jobs(spark, "test-verify-no-marker") == []


def test_warm_cli_encode_runs_only_the_chunk_write_and_to_json_none(
        spark, tmp_path, capsys, monkeypatch):
    """The input's schema comes from a footer read on the driver, so in a
    warmed context every job of a CLI encode belongs to the chunk write (at
    most its 4), and to-json of a parquet file runs no Spark job at all."""
    src = str(tmp_path / "src")
    _write_src(spark, src)
    monkeypatch.setattr(driver, "_WARMED", {spark.sparkContext.applicationId})
    assert _cli_in_group(spark, "test-encode-budget", [
        "encode", "--input", src, "--out", str(tmp_path / "enc")]) == 0
    jobs = _group_jobs(spark, "test-encode-budget")
    assert jobs and len(jobs) <= 4, [(j, n) for j, n, _ in jobs]
    assert all("FlatMapGroupsInArrow" in plan and "InsertIntoHadoopFsRelationCommand" in plan
               for _, _, plan in jobs), [(j, n) for j, n, _ in jobs]

    part = os.path.join(src, min(f for f in os.listdir(src) if f.endswith(".parquet")))
    sj = str(tmp_path / "schema.json")
    assert _cli_in_group(spark, "test-to-json-budget", ["to-json", "--input", part, "--out", sj]) == 0
    assert _group_jobs(spark, "test-to-json-budget") == []
    assert json.load(open(sj)) == spark.read.parquet(part).schema.jsonValue()
    capsys.readouterr()


def test_reencode_of_an_unchanged_input_leaves_one_run_dir(spark, tmp_path, capsys):
    """A second encode of the same input commits nothing and deletes the
    run dir its empty write left; decode and verify still pass."""
    src = str(tmp_path / "src")
    _write_src(spark, src)
    out = str(tmp_path / "enc")
    for _ in range(2):
        assert driver.main(stop_session=False, argv=[
            "--cpus", "4", "encode", "--input", src, "--out", out]) == 0
    runs = [d for d in os.listdir(os.path.join(out, "chunks")) if d.startswith("run=")]
    assert len(runs) == 1, runs
    assert len([m for m in os.listdir(os.path.join(out, "commits"))
                if m.endswith(".json") and not m.startswith(".")]) == 1
    dec = str(tmp_path / "dec")
    assert driver.main(stop_session=False, argv=[
        "--cpus", "4", "decode", "--chunks", out, "--schema-json", f"{out}/schema.json",
        "--out", dec]) == 0
    assert multiset_diff(spark.read.parquet(src), spark.read.parquet(dec)).count() == 0
    assert driver.main(stop_session=False, argv=[
        "--cpus", "4", "verify", "--input", src, "--chunks", out]) == 0
    assert json.loads(capsys.readouterr().out.splitlines()[-1])["bit_identical"] is True


def test_cli_encode_and_verify_read_a_path_even_with_iceberg_loadable(
        spark, tmp_path, capsys, monkeypatch):
    """``--input`` is always a path: with the Iceberg jar reported loadable,
    encode and verify still read it through the parquet-dir catalog (an
    ``IcebergCatalog`` has no ``snapshot``)."""
    from parquet2csv_spark.sources import catalog

    monkeypatch.setattr(catalog, "_iceberg_on_classpath", lambda _spark: True)
    assert isinstance(catalog.open_catalog(spark), catalog.IcebergCatalog)
    src = str(tmp_path / "src")
    _write_src(spark, src)
    out = str(tmp_path / "enc")
    assert driver.main(stop_session=False, argv=[
        "--cpus", "4", "encode", "--input", src, "--out", out]) == 0
    assert driver.main(stop_session=False, argv=[
        "--cpus", "4", "verify", "--input", src, "--chunks", out]) == 0
    assert json.loads(capsys.readouterr().out.splitlines()[-1])["bit_identical"] is True
