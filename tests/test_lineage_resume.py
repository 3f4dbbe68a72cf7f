"""Lineage + exact-resume tests (SURVEY.md §5.2-5) and skew-cap tests (§5.2-6)."""

from __future__ import annotations

import contextlib
import json
import os
import re
import shutil
from pathlib import Path

import pytest
from pyspark.sql import functions as F

from parquet2csv_spark.operators import decode_table, multiset_diff
from parquet2csv_spark.operators.encode import salt_groups
from parquet2csv_spark.plans.lineage import EncodeJob, generations
from parquet2csv_spark.sources.corpus import CORPUS_DDL, generate_corpus

N_ROWS = 6000
_SUMMARY = ("groups_done", "rows", "raw_bytes", "enc_bytes")


def _summary_from_lineage(job):
    """The run summary's totals as a post-commit lineage re-read of this
    (snapshot, job)'s done rows computes them."""
    row = (
        job.lineage()
        .filter((F.col("snapshot_id") == job.snapshot_id)
                & (F.col("job_id") == job.job_id) & (F.col("status") == "done"))
        .agg(F.count("*").alias("groups_done"), F.sum("n_rows").alias("rows"),
             F.sum("raw_bytes").alias("raw_bytes"), F.sum("enc_bytes").alias("enc_bytes"))
        .first()
    )
    return row.asDict()


def _totals(summary):
    return {k: summary[k] for k in _SUMMARY}


def _marker_path(out, run_id):
    return os.path.join(out, "commits", f"{run_id}.json")


def _craft_marker(out, like_run, run_id):
    """Commit ``run_id`` with a copy of run ``like_run``'s marker, as a
    concurrent commit of the same groups would."""
    with open(_marker_path(out, like_run)) as f:
        marker = json.load(f)
    marker["run_id"] = run_id
    with open(_marker_path(out, run_id), "w") as f:
        json.dump(marker, f)


def _copy_run(out, run_id, new_run_id):
    shutil.copytree(os.path.join(out, "chunks", f"run={run_id}"),
                    os.path.join(out, "chunks", f"run={new_run_id}"))


def _groups_of_run(spark, out, run_id):
    return {r["group_key"] for r in spark.read.parquet(
        os.path.join(out, "chunks", f"run={run_id}")).select("group_key").collect()}


@pytest.fixture(scope="module")
def corpus(spark):
    df = generate_corpus(spark, N_ROWS, seed=42)
    df.cache().count()
    return df


def test_resume_encodes_only_missing_groups(spark, corpus, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("job"))
    job = EncodeJob(spark, out, snapshot_id="snap1", chunk_rows=1024, chunk_bytes=1 << 20)

    # simulated crash: first run commits only groups whose key contains '3'
    r1 = job.run(corpus, only_groups_like="3")
    assert 0 < r1["groups_done"] and r1["rows"] < N_ROWS
    assert _totals(r1) == _summary_from_lineage(job)

    # second run completes the rest; first-run groups must NOT be re-encoded
    r2 = job.run(corpus)
    assert _totals(r2) == _summary_from_lineage(job)
    assert r2["rows"] == N_ROWS and r2["groups_done"] > r1["groups_done"]
    lin = job.lineage()
    assert lin.filter(F.col("run_id") == r2["run_id"]).join(
        lin.filter(F.col("run_id") == r1["run_id"]).select("group_key"),
        on="group_key",
    ).count() == 0

    # decode from committed chunks = bit-identical corpus
    dec = decode_table(job.chunks(), CORPUS_DDL)
    assert multiset_diff(corpus, dec).count() == 0

    # a third run is a no-op (fully committed)
    done_before = job.done_groups().count()
    r3 = job.run(corpus)
    assert job.lineage().filter(F.col("run_id") == r3["run_id"]).count() == 0
    assert job.done_groups().count() == done_before


def test_lineage_records_metrics(spark, corpus, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("job2"))
    job = EncodeJob(spark, out, snapshot_id="snapA", chunk_rows=2048)
    job.run(corpus)
    lin = job.lineage()
    row = lin.orderBy(F.desc("raw_bytes")).first()
    assert row["status"] == "done"
    assert row["raw_bytes"] > 0 and row["enc_bytes"] > 0
    assert row["wall_ms"] >= 0
    assert row["codecs"]  # codec tags recorded per group
    assert row["committed_at"] is not None


def test_salting_caps_group_bytes(spark, corpus):
    """One repo holds >35% of rows; post-salting no group may exceed
    the target group size by more than one max-row overshoot."""
    chunk_bytes = 1 << 20
    salted = salt_groups(corpus, ["repo"], ["path", "commit"], chunk_bytes=chunk_bytes, group_factor=1)
    sizes = (
        salted.groupBy("_gk")
        .agg(F.sum(F.coalesce(F.octet_length("content"), F.lit(0)) + 64).alias("gbytes"))
    )
    target = chunk_bytes
    # statistical salting: allow 2x headroom over the target + one max row
    over = sizes.filter(F.col("gbytes") > 2 * target + 66000).count()
    assert over == 0
    # the giant repo actually got split into many salted groups
    giant = (
        corpus.groupBy("repo").count().orderBy(F.desc("count")).first()["repo"]
    )
    n_giant_groups = salted.filter(F.col("repo") == giant).select("_gk").distinct().count()
    assert n_giant_groups > 2


def test_salting_counts_binary_bytes(spark):
    """Salting counts a binary column's bytes as split_points does: one
    group of 4 MiB at a 256 KiB target gets >= 16 salted groups whether the
    payload is binary or string (binary once counted 8 B a row, so the
    whole group stayed one salted group and one task)."""
    body = spark.range(256).select(
        F.lit("g").alias("grp"), "id",
        F.expr("cast(repeat('x', 16384) as binary)").alias("body"),
    )
    for df in (body, body.withColumn("body", F.col("body").cast("string"))):
        salted = salt_groups(df, ["grp"], ["id"], chunk_bytes=256 << 10)
        assert salted.select("_gk").distinct().count() >= 16, df.schema


def test_verify_ignores_orphan_chunks(spark, corpus, tmp_path_factory):
    """ADVICE r1: a crashed run can leave orphan chunk files (written before
    the lineage commit). EncodeJob.chunks() must make them invisible so
    verification over committed chunks stays bit-identical — reading the
    raw chunks directory instead would decode duplicates and fail."""
    out = str(tmp_path_factory.mktemp("orphan_job"))
    job = EncodeJob(spark, out, snapshot_id="snapX", chunk_rows=1024, chunk_bytes=1 << 20)
    job.run(corpus)

    # simulate the crash artifact: copy one committed run's chunk rows into
    # an uncommitted run directory (no lineage row for run 'deadbeef')
    some = spark.read.parquet(f"{out}/chunks").limit(3)
    some.drop("run").write.mode("overwrite").parquet(f"{out}/chunks/run=deadbeef")

    raw = spark.read.parquet(f"{out}/chunks")
    committed = job.chunks()
    assert raw.count() == committed.count() + 3  # orphans visible raw only
    dec = decode_table(committed, CORPUS_DDL)
    assert multiset_diff(corpus, dec).count() == 0  # still bit-identical
    # decoding the RAW directory would contain duplicates (the failure the
    # lineage join prevents)
    dec_raw = decode_table(raw.drop("run"), CORPUS_DDL)
    assert multiset_diff(corpus, dec_raw).count() > 0


def test_resume_refuses_changed_salting_params(spark, corpus, tmp_path_factory):
    """Changing salting/chunking params between runs of the same
    (snapshot, job) would re-encode every group under NEW salted keys while
    chunks() also returns the OLD committed ones → duplicates. run() must
    refuse instead."""
    out = str(tmp_path_factory.mktemp("params_job"))
    EncodeJob(spark, out, snapshot_id="s1", chunk_rows=1024, chunk_bytes=1 << 20).run(corpus)
    clashing = EncodeJob(spark, out, snapshot_id="s1", chunk_rows=1024,
                         chunk_bytes=1 << 20, group_factor=2)
    with pytest.raises(RuntimeError, match="params"):
        clashing.run(corpus)
    # a different job_id is fine
    EncodeJob(spark, out, snapshot_id="s1", job_id="other", chunk_rows=1024,
              chunk_bytes=1 << 20, group_factor=2).run(corpus)


def test_chunks_dedupe_never_shuffles_frame_payloads(spark, corpus, tmp_path_factory):
    """VERDICT r3 #4: resolving double-committed chunk ids must not
    hash-exchange the binary frame payloads. Every (non-broadcast) Exchange
    in the chunks() plan may carry only projected id/run columns — never
    the `cols` struct holding the frames."""
    import re

    out = str(tmp_path_factory.mktemp("plan_job"))
    job = EncodeJob(spark, out, snapshot_id="snapP", chunk_rows=1024, chunk_bytes=1 << 20)
    run_id = job.run(corpus)["run_id"]
    # a second committed run of the same groups plans the (group_key, min
    # run) semi-join; a single run is a plain scan with no exchange at all
    _copy_run(out, run_id, "zzduplicate0")
    _craft_marker(out, run_id, "zzduplicate0")
    df = job.chunks()
    plan = df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )
    # formatted explain: each operator block starts "(n) <Name>" and lists
    # its input columns; broadcast exchanges are named BroadcastExchange
    blocks = re.split(r"\n(?=\(\d+\) )", plan)
    shuffles = [b for b in blocks if re.match(r"\(\d+\) Exchange\b", b)]
    assert shuffles, plan
    for b in shuffles:
        assert "cols#" not in b, b
    assert multiset_diff(corpus, decode_table(df, CORPUS_DDL)).count() == 0


def test_double_committed_group_resolves_to_single_run(spark, corpus, tmp_path_factory):
    """Duplicate chunk files must never decode twice, in either class:
    (1) an orphan run (crash after chunk write, before its commit marker)
    has no marker — invisible; (2) a concurrent double-commit (the same
    groups committed under TWO run_ids) resolves to one committed run per
    group via min(run_id). Both decode bit-identically."""
    out = str(tmp_path_factory.mktemp("double_job"))
    job = EncodeJob(spark, out, snapshot_id="snapD", chunk_rows=1024, chunk_bytes=1 << 20)
    run_id = job.run(corpus)["run_id"]
    # deterministic encode → a re-committed generation is byte-identical;
    # simulate it by duplicating the whole run dir under a second run id
    _copy_run(out, run_id, "zzduplicate0")
    # case 1: duplicate files, no marker — orphan, invisible
    got = job.chunks()
    assert got.groupBy("chunk_id").count().filter("count > 1").count() == 0
    assert got.select("run").distinct().count() == 1
    assert multiset_diff(corpus, decode_table(got, CORPUS_DDL)).count() == 0

    # case 2: the duplicate run ALSO commits (concurrent runs) —
    # min(run_id) pins one run per group, never mixing runs within a group
    _craft_marker(out, run_id, "zzduplicate0")
    assert job.runs() == sorted([run_id, "zzduplicate0"])
    got2 = job.chunks()
    assert got2.groupBy("chunk_id").count().filter("count > 1").count() == 0
    assert got2.select("run").distinct().count() == 1
    assert multiset_diff(corpus, decode_table(got2, CORPUS_DDL)).count() == 0


def test_digest_format_migration_refused(spark, corpus, tmp_path_factory):
    """ADVICE r3: lineage committed under an older manifest-digest format
    must not silently reset resume state (the same unchanged input hashes
    to a new id → zero done groups → full re-encode into the same out_dir).
    run() detects the version mismatch and refuses."""
    out = str(tmp_path_factory.mktemp("digest_job"))
    old = EncodeJob(spark, out, snapshot_id="0123456789abcdef",  # pre-versioned id
                    chunk_rows=1024, chunk_bytes=1 << 20)
    old.run(corpus)
    new = EncodeJob(spark, out, snapshot_id="m2-0123456789abcdef",
                    chunk_rows=1024, chunk_bytes=1 << 20)
    with pytest.raises(RuntimeError, match="manifest-digest"):
        new.run(corpus)
    # a fresh job_id under the new format is allowed
    EncodeJob(spark, out, snapshot_id="m2-0123456789abcdef", job_id="fresh",
              chunk_rows=1024, chunk_bytes=1 << 20).run(corpus)


def test_chunks_survive_numeric_looking_run_ids(spark, corpus, tmp_path_factory):
    """~1 in 280 uuid-hex run ids is all digits; partition type inference
    would parse run=012345678901 as a Long, drop the leading zero, and the
    (group_key, run) semi-join would silently exclude the whole committed
    run. chunks() must read the partition column as a string."""
    out = str(tmp_path_factory.mktemp("numeric_run"))
    job = EncodeJob(spark, out, snapshot_id="snapN", chunk_rows=1024, chunk_bytes=1 << 20)
    old = job.run(corpus)["run_id"]
    chunks_dir = f"{out}/chunks"
    shutil.move(os.path.join(chunks_dir, f"run={old}"),
                os.path.join(chunks_dir, "run=012345678901"))
    _craft_marker(out, old, "012345678901")
    os.remove(_marker_path(out, old))

    got = EncodeJob(spark, out, snapshot_id="snapN", chunk_rows=1024, chunk_bytes=1 << 20).chunks()
    assert got.count() > 0
    assert multiset_diff(corpus, decode_table(got, CORPUS_DDL)).count() == 0


# ------------------------------------------------- control-plane job budget

@contextlib.contextmanager
def _job_group(spark, name):
    """Run the body under a test-owned Spark job group and collect its
    jobs as ``(job_id, [stage names], task count, executed plan)`` in
    submission order, read once the listener bus has caught up."""
    sc = spark.sparkContext
    sc.setJobGroup(name, name)
    jobs: list = []
    try:
        yield jobs
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        plans = {}
        execs = spark._jsparkSession.sharedState().statusStore().executionsList().iterator()
        while execs.hasNext():
            ex = execs.next()
            ids = ex.jobs().keys().iterator()
            while ids.hasNext():
                plans[int(ids.next())] = ex.physicalPlanDescription()
        st = sc.statusTracker()
        for j in sorted(st.getJobIdsForGroup(name)):
            stages = [st.getStageInfo(s) for s in st.getJobInfo(j).stageIds]
            jobs.append((j, [s.name if s else "" for s in stages],
                         sum(s.numTasks for s in stages if s), plans.get(j, "")))


def _is_chunk_write(job):
    """Whether ``job`` belongs to the run's chunk write: the execution that
    runs the grouped encode into a parquet insert."""
    plan = job[3]
    return "FlatMapGroupsInArrow" in plan and "InsertIntoHadoopFsRelationCommand" in plan


def test_fresh_encode_runs_no_lineage_job_before_its_scan(spark, corpus, tmp_path_factory):
    """A fresh out dir has no commit markers: the resume state is one
    driver-side FileSystem probe, and the commit is a marker the driver
    writes. Every job of the run is the chunk write's (its size pass,
    broadcast, shuffle and write stages), at most 4, with none after it."""
    out = str(tmp_path_factory.mktemp("budget_job"))
    job = EncodeJob(spark, out, snapshot_id="snapB", chunk_rows=1024, chunk_bytes=1 << 20)
    with _job_group(spark, "test-fresh-encode-budget") as jobs:
        r = job.run(corpus)
    assert r["rows"] == N_ROWS
    assert jobs, "the encode ran no Spark job at all"
    assert all(_is_chunk_write(j) for j in jobs), [(j, s) for j, s, _, _ in jobs]
    assert len(jobs) <= 4, [s for _, s, _, _ in jobs]


def test_resume_encode_job_budget(spark, corpus, tmp_path_factory):
    """A resume reads its done groups from the committed runs' chunk
    metadata inside the chunk write's anti-join: still no job before or
    after the chunk write, at most 6 (the fresh 4 plus the done-groups
    aggregate and its broadcast)."""
    out = str(tmp_path_factory.mktemp("resume_budget"))
    job = EncodeJob(spark, out, snapshot_id="snapR", chunk_rows=1024, chunk_bytes=1 << 20)
    job.run(corpus, only_groups_like="3")
    with _job_group(spark, "test-resume-encode-budget") as jobs:
        r = job.run(corpus)
    assert r["rows"] == N_ROWS
    assert all(_is_chunk_write(j) for j in jobs), [(j, s) for j, s, _, _ in jobs]
    assert len(jobs) <= 6, [s for _, s, _, _ in jobs]


def test_missing_lineage_reads_empty_without_tasks(spark, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("no_lineage"))
    job = EncodeJob(spark, out, snapshot_id="snapE")
    with _job_group(spark, "test-missing-lineage") as jobs:
        rows = job.lineage().collect()
        gens = job.lineage().groupBy("snapshot_id", "job_id").count().collect()
        done = job.done_groups().collect()
    assert rows == [] and gens == [] and done == []
    assert sum(n for _, _, n, _ in jobs) == 0, jobs
    assert job.lineage().rdd.getNumPartitions() == 0
    assert job.lineage().count() == 0


def test_lineage_with_only_temporary_dir_resumes_empty(spark, corpus, tmp_path_factory):
    """A crashed lineage append of a pre-marker encode leaves
    ``lineage/_temporary/`` and nothing else: ``_``-prefixed entries hold
    no commit, so the dir is not refused as a pre-marker out_dir, and the
    run encodes every group."""
    out = str(tmp_path_factory.mktemp("tmp_only"))
    attempt = os.path.join(out, "lineage", "_temporary", "0", "_temporary", "attempt_0")
    os.makedirs(attempt)
    with open(os.path.join(attempt, "part-00000.snappy.parquet"), "wb") as f:
        f.write(b"half-written")
    job = EncodeJob(spark, out, snapshot_id="snapT", chunk_rows=1024, chunk_bytes=1 << 20)
    r = job.run(corpus)
    assert r["rows"] == N_ROWS
    assert r["groups_done"] == job.done_groups().count() > 0
    assert multiset_diff(corpus, decode_table(job.chunks(), CORPUS_DDL)).count() == 0


def test_leftover_temp_marker_is_ignored(spark, corpus, tmp_path_factory):
    """A commit that crashed before its rename leaves ``commits/_<run>.json``
    (whole or half-written): readers skip ``_`` names, so its run stays
    uncommitted and the next run encodes its groups."""
    out = str(tmp_path_factory.mktemp("tmp_marker"))
    job = EncodeJob(spark, out, snapshot_id="snapT", chunk_rows=1024, chunk_bytes=1 << 20)
    first = job.run(corpus, only_groups_like="3")["run_id"]
    # a whole temp marker of an orphan copy of the first run, and a torn one
    _copy_run(out, first, "0rphan000000")
    _craft_marker(out, first, "0rphan000000")
    os.rename(_marker_path(out, "0rphan000000"),
              os.path.join(out, "commits", "_0rphan000000.json"))
    with open(os.path.join(out, "commits", "_feedface0000.json"), "w") as f:
        f.write('{"snapshot_id": "snapT", "job_')
    assert job.runs() == [first]
    second = job.run(corpus)["run_id"]
    assert job.runs() == sorted([first, second])
    assert multiset_diff(corpus, decode_table(job.chunks(), CORPUS_DDL)).count() == 0


def test_corrupt_marker_raises_naming_the_file(spark, corpus, tmp_path_factory):
    """An unreadable commit marker is not "not committed": reading it that
    way would re-encode its groups as a second run into the same out_dir.
    Every reader raises ValueError naming the file, and a run fails before
    writing any chunk."""
    out = str(tmp_path_factory.mktemp("corrupt_marker"))
    job = EncodeJob(spark, out, snapshot_id="snapC", chunk_rows=1024, chunk_bytes=1 << 20)
    job.run(corpus)
    shutil.rmtree(os.path.join(out, "chunks"))
    with open(os.path.join(out, "commits", "0badc0ffee00.json"), "w") as f:
        f.write("not json at all")
    with pytest.raises(ValueError, match="0badc0ffee00.json"):
        job.run(corpus)
    assert not os.path.exists(os.path.join(out, "chunks"))
    for read in (job.runs, job.chunks, job.lineage,
                 lambda: generations(spark, out)):
        with pytest.raises(ValueError, match="0badc0ffee00.json"):
            read()


def test_uncommitted_run_is_invisible_and_reencoded_exactly(spark, corpus, tmp_path_factory):
    """The crash window: a run whose chunks are written but whose marker is
    not. Its chunks are invisible to every reader, and the next run
    re-encodes exactly its groups."""
    out = str(tmp_path_factory.mktemp("crash_window"))
    job = EncodeJob(spark, out, snapshot_id="snapW", chunk_rows=1024, chunk_bytes=1 << 20)
    first = job.run(corpus, only_groups_like="3")
    lost = job.run(corpus)
    os.remove(_marker_path(out, lost["run_id"]))
    assert job.runs() == [first["run_id"]]
    visible = {r["group_key"] for r in job.chunks().select("group_key").collect()}
    assert visible == _groups_of_run(spark, out, first["run_id"])
    assert job.lineage().filter(F.col("run_id") == lost["run_id"]).count() == 0
    [gen] = generations(spark, out)
    assert (gen["runs"], gen["rows"]) == ([first["run_id"]], first["rows"])

    again = job.run(corpus)
    assert _groups_of_run(spark, out, again["run_id"]) == \
        _groups_of_run(spark, out, lost["run_id"])
    assert _totals(again) == _totals(lost)
    assert multiset_diff(corpus, decode_table(job.chunks(), CORPUS_DDL)).count() == 0


def test_no_read_path_builds_an_empty_python_rdd():
    """``createDataFrame([], ...)`` is a Python RDD over defaultParallelism
    partitions: as a control-plane read it runs tasks known to return
    nothing. Only a schema-only writer may use it."""
    root = Path(__file__).resolve().parent.parent
    files = sorted((root / "parquet2csv_spark").rglob("*.py")) + [root / "driver.py"]
    offenders = []
    for path in files:
        text = path.read_text()
        for m in re.finditer(r"createDataFrame\(\s*\[\s*\]", text):
            line_end = text.find("\n", m.end())
            if ".write" in text[m.end():line_end]:
                continue  # writes a schema-only file, reads nothing
            offenders.append(f"{path.relative_to(root)}:{text.count(chr(10), 0, m.start()) + 1}")
    assert offenders == []


def test_null_group_rows_survive_encode_and_decode(spark, tmp_path_factory):
    """Rows whose group value is NULL form a group of their own: the salt
    join must be null-safe, or they vanish between the source and the
    committed chunks."""
    src = generate_corpus(spark, 600, seed=5).withColumn(
        "repo",
        F.when(F.pmod(F.xxhash64("path", "commit"), F.lit(4)) == 0, F.lit(None))
        .otherwise(F.col("repo")),
    )
    src.cache()
    total = src.count()
    n_null = src.filter(F.col("repo").isNull()).count()
    assert 0 < n_null < total
    job = EncodeJob(spark, str(tmp_path_factory.mktemp("nullgrp")),
                    snapshot_id="snapN", chunk_rows=128, chunk_bytes=1 << 18)
    summary = job.run(src)
    assert summary["rows"] == total
    dec = decode_table(job.chunks(), CORPUS_DDL)
    assert dec.filter(F.col("repo").isNull()).count() == n_null
    assert multiset_diff(src, dec).count() == 0
    src.unpersist()


def test_run_summary_counts_only_its_own_job(spark, tmp_path_factory):
    """Two job ids committing the same snapshot into one out dir: each
    run's summary counts its own job's groups and rows only."""
    out = str(tmp_path_factory.mktemp("twojobs"))
    src = generate_corpus(spark, 400, seed=9)
    a = EncodeJob(spark, out, snapshot_id="snapJ", job_id="a", chunk_rows=256)
    ra = a.run(src)
    assert ra["rows"] == 400
    assert _totals(ra) == _summary_from_lineage(a)
    one = src.orderBy("path", "commit").limit(1)
    b = EncodeJob(spark, out, snapshot_id="snapJ", job_id="b", chunk_rows=256)
    rb = b.run(one)
    assert (rb["groups_done"], rb["rows"]) == (1, 1)
    assert _totals(rb) == _summary_from_lineage(b)


def test_run_on_a_finished_out_dir_reports_the_committed_totals(spark, tmp_path_factory):
    """A run that commits nothing (every group already done) observes null
    sums on its empty lineage append; its summary is the earlier runs'
    totals, not nulls."""
    out = str(tmp_path_factory.mktemp("finished"))
    src = generate_corpus(spark, 300, seed=11)
    job = EncodeJob(spark, out, snapshot_id="snapF", chunk_rows=128)
    first = job.run(src)
    again = job.run(src)
    assert _totals(again) == _totals(first)
    assert first["rows"] == 300 and again["run_id"] != first["run_id"]
    assert job.lineage().filter(F.col("run_id") == again["run_id"]).count() == 0


def test_commit_aggregate_matches_the_stats_codecs_join(spark, tmp_path_factory):
    """The lineage view's one ``groupBy(run, group_key)`` over the committed
    chunk metadata yields the rows the earlier two aggregates and their join
    wrote, on an input whose groups pick different codec sets; its scan
    reads each column's codec tag and never the frames."""
    from parquet2csv_spark.operators.encode import CHUNKS_SCHEMA

    # codec choices are cached per column and 4x row-count band, so the
    # groups differ in size as well as in content (short distinct texts,
    # word salad, all-null strings)
    words = ("lorem", "ipsum", "dolor", "sit", "amet", "consectetur")

    def text(g, i):
        if g == 1:
            return " ".join(words[(i * 7 + k * k) % 6] for k in range(30))
        return None if g == 2 else f"text {i} {'x' * (i % 37)}"

    rows = [(i, f"r{g}", f"p{i:05d}", 7 if g == 0 else i * 1009, text(g, i))
            for g, n in enumerate((700, 150, 30)) for i in range(n)]
    src = spark.createDataFrame(rows, "id long, repo string, path string, n long, s string")
    out = str(tmp_path_factory.mktemp("commit_agg"))
    job = EncodeJob(spark, out, snapshot_id="snapM", order_cols=["path"])
    run_id = job.run(src)["run_id"]

    written = spark.read.schema(CHUNKS_SCHEMA).parquet(f"{out}/chunks/run={run_id}")
    stats = written.groupBy("group_key").agg(
        F.count("*").alias("n_chunks"),
        F.sum("n_rows").alias("n_rows"),
        F.sum("raw_bytes").alias("raw_bytes"),
        F.sum("enc_bytes").alias("enc_bytes"),
        F.sum("wall_ms").alias("wall_ms"),
    )
    codecs = (
        written.select("group_key", F.explode("cols").alias("c"))
        .groupBy("group_key")
        .agg(F.concat_ws(",", F.sort_array(F.collect_set("c.codec"))).alias("codecs"))
    )
    cols = ["group_key", "n_chunks", "n_rows", "raw_bytes", "enc_bytes", "wall_ms", "codecs"]
    want = sorted(stats.join(codecs, on="group_key").select(*cols).collect())
    got = sorted(job.lineage().select(*cols).collect())
    assert got == want
    assert len({r["codecs"] for r in got}) > 1, got

    view = job.lineage()
    plan = view._sc._jvm.PythonSQLUtils.explainString(
        view._jdf.queryExecution(), "formatted"
    )
    read = [line for line in plan.splitlines() if "ReadSchema" in line]
    assert len(read) == 1 and "codec" in read[0] and "frame" not in read[0], read
