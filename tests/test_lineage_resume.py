"""Lineage + exact-resume tests (SURVEY.md §5.2-5) and skew-cap tests (§5.2-6)."""

from __future__ import annotations

import contextlib
import os
import re
import shutil
from pathlib import Path

import pytest
from pyspark.sql import functions as F

from parquet2csv_spark.operators import decode_table, multiset_diff
from parquet2csv_spark.operators.encode import salt_groups
from parquet2csv_spark.plans.lineage import EncodeJob
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


@pytest.fixture(scope="module")
def corpus(spark):
    df = generate_corpus(spark, N_ROWS, seed=42)
    df.cache().count()
    return df


def test_resume_encodes_only_missing_groups(spark, corpus, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("job"))
    job = EncodeJob(spark, out, snapshot_id="snap1", chunk_rows=1024, chunk_bytes=1 << 20)

    # simulated crash: first run commits only groups whose key contains '0'
    r1 = job.run(corpus, only_groups_like="0")
    assert 0 < r1["groups_done"]
    assert _totals(r1) == _summary_from_lineage(job)

    # second run completes the rest; first-run groups must NOT be re-encoded
    r2 = job.run(corpus)
    assert _totals(r2) == _summary_from_lineage(job)
    assert r2["rows"] == N_ROWS
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


def test_resume_refuses_legacy_lineage_missing_params(spark, corpus, tmp_path_factory):
    """Lineage rows written before params tracking (or with null params)
    carry no record of their salting config; defaults have changed since
    (group_factor 2→1), so a silent resume could duplicate groups. run()
    must refuse unless the caller asserts the legacy params explicitly."""
    out = str(tmp_path_factory.mktemp("legacy_job"))
    job = EncodeJob(spark, out, snapshot_id="sL", chunk_rows=1024, chunk_bytes=1 << 20)
    job.run(corpus)
    # simulate a pre-params lineage dir: rewrite it without the column
    legacy = spark.read.parquet(f"{out}/lineage").drop("params")
    legacy.write.mode("overwrite").parquet(f"{out}/lineage_tmp")
    import shutil
    shutil.rmtree(f"{out}/lineage")
    shutil.move(f"{out}/lineage_tmp", f"{out}/lineage")

    again = EncodeJob(spark, out, snapshot_id="sL", chunk_rows=1024, chunk_bytes=1 << 20)
    with pytest.raises(RuntimeError, match="legacy_params"):
        again.run(corpus)
    # explicit assertion of the original params unblocks the resume
    ok = EncodeJob(spark, out, snapshot_id="sL", chunk_rows=1024, chunk_bytes=1 << 20,
                   legacy_params=again.params)
    ok.run(corpus)


def test_chunks_dedupe_never_shuffles_frame_payloads(spark, corpus, tmp_path_factory):
    """VERDICT r3 #4: resolving double-committed chunk ids must not
    hash-exchange the binary frame payloads. Every (non-broadcast) Exchange
    in the chunks() plan may carry only projected id/run columns — never
    the `cols` struct holding the frames."""
    import re

    out = str(tmp_path_factory.mktemp("plan_job"))
    job = EncodeJob(spark, out, snapshot_id="snapP", chunk_rows=1024, chunk_bytes=1 << 20)
    job.run(corpus)
    df = job.chunks()
    plan = df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )
    # formatted explain: each operator block starts "(n) <Name>" and lists
    # its input columns; broadcast exchanges are named BroadcastExchange
    blocks = re.split(r"\n(?=\(\d+\) )", plan)
    shuffles = [b for b in blocks if re.match(r"\(\d+\) Exchange\b", b)]
    for b in shuffles:
        assert "cols#" not in b, b


def test_double_committed_group_resolves_to_single_run(spark, corpus, tmp_path_factory):
    """Duplicate chunk files must never decode twice, in either class:
    (1) an orphan run (crash after chunk write, before lineage append) has
    no lineage row — invisible; (2) a concurrent double-commit (the same
    groups 'done' under TWO run_ids) resolves to one committed run per
    group via min(run_id). Both decode bit-identically."""
    import os
    import shutil

    out = str(tmp_path_factory.mktemp("double_job"))
    job = EncodeJob(spark, out, snapshot_id="snapD", chunk_rows=1024, chunk_bytes=1 << 20)
    job.run(corpus)
    chunks_dir = f"{out}/chunks"
    runs = [d for d in os.listdir(chunks_dir) if d.startswith("run=")]
    # deterministic encode → a re-committed generation is byte-identical;
    # simulate it by duplicating the whole run dir under a second run id
    shutil.copytree(
        os.path.join(chunks_dir, runs[0]),
        os.path.join(chunks_dir, "run=zzduplicate0"),
    )
    # case 1: duplicate files, no lineage row — orphan, invisible
    got = job.chunks()
    assert got.groupBy("chunk_id").count().filter("count > 1").count() == 0
    assert got.select("run").distinct().count() == 1
    assert multiset_diff(corpus, decode_table(got, CORPUS_DDL)).count() == 0

    # case 2: the duplicate run ALSO commits lineage (concurrent runs) —
    # min(run_id) pins one run per group, never mixing runs within a group
    lin = spark.read.option("mergeSchema", True).parquet(f"{out}/lineage")
    dup_lineage = lin.withColumn("run_id", F.lit("zzduplicate0"))
    dup_lineage.write.mode("append").parquet(f"{out}/lineage")
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
    import os
    import shutil

    out = str(tmp_path_factory.mktemp("numeric_run"))
    job = EncodeJob(spark, out, snapshot_id="snapN", chunk_rows=1024, chunk_bytes=1 << 20)
    job.run(corpus)
    chunks_dir = f"{out}/chunks"
    old = [d for d in os.listdir(chunks_dir) if d.startswith("run=")][0]
    shutil.move(os.path.join(chunks_dir, old), os.path.join(chunks_dir, "run=012345678901"))
    lin = spark.read.option("mergeSchema", True).parquet(f"{out}/lineage")
    lin.withColumn("run_id", F.lit("012345678901")).write.mode("overwrite").parquet(
        f"{out}/lineage_tmp"
    )
    shutil.rmtree(f"{out}/lineage")
    shutil.move(f"{out}/lineage_tmp", f"{out}/lineage")

    got = EncodeJob(spark, out, snapshot_id="snapN", chunk_rows=1024, chunk_bytes=1 << 20).chunks()
    assert got.count() > 0
    assert multiset_diff(corpus, decode_table(got, CORPUS_DDL)).count() == 0


# ------------------------------------------------- control-plane job budget

@contextlib.contextmanager
def _job_group(spark, name):
    """Run the body under a test-owned Spark job group and collect its
    jobs as ``(job_id, [stage call sites])`` in submission order."""
    sc = spark.sparkContext
    sc.setJobGroup(name, name)
    jobs: list = []
    try:
        yield jobs
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
        st = sc.statusTracker()
        for j in sorted(st.getJobIdsForGroup(name)):
            stages = [st.getStageInfo(s) for s in st.getJobInfo(j).stageIds]
            jobs.append((j, [s.name if s else "" for s in stages],
                         sum(s.numTasks for s in stages if s)))


def test_fresh_encode_runs_no_lineage_job_before_its_scan(spark, corpus, tmp_path_factory):
    """A fresh out dir has no lineage: the resume state is one driver-side
    FileSystem probe, so the first job of the run is the encode itself and
    no lineage.py job precedes it; the whole run stays within 6 jobs."""
    out = str(tmp_path_factory.mktemp("budget_job"))
    job = EncodeJob(spark, out, snapshot_id="snapB", chunk_rows=1024, chunk_bytes=1 << 20)
    with _job_group(spark, "test-fresh-encode-budget") as jobs:
        r = job.run(corpus)
    assert r["rows"] == N_ROWS
    assert jobs, "the encode ran no Spark job at all"

    def is_lineage(site):
        return any("plans/lineage.py" in s for s in site[1])

    assert not is_lineage(jobs[0]), jobs[0]
    assert len(jobs) <= 6, [s for _, s, _ in jobs]


def test_missing_lineage_reads_empty_without_tasks(spark, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("no_lineage"))
    job = EncodeJob(spark, out, snapshot_id="snapE")
    with _job_group(spark, "test-missing-lineage") as jobs:
        rows = job.lineage().collect()
        gens = job.lineage().groupBy("snapshot_id", "job_id").count().collect()
        done = job.done_groups().collect()
    assert rows == [] and gens == [] and done == []
    assert sum(n for _, _, n in jobs) == 0, jobs
    assert job.lineage().rdd.getNumPartitions() == 0
    assert job.lineage().count() == 0


def test_lineage_with_only_temporary_dir_resumes_empty(spark, corpus, tmp_path_factory):
    """A crashed lineage append leaves ``lineage/_temporary/`` and nothing
    else; Spark never reads ``_``-prefixed entries, so this is "nothing
    committed" and the run encodes every group."""
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


def test_corrupt_lineage_file_raises_instead_of_reencoding(spark, corpus, tmp_path_factory):
    """An unreadable lineage file is not "nothing committed": reading it
    as empty would re-encode every group as a second generation into the
    same out_dir. The run must fail before writing any chunk."""
    out = str(tmp_path_factory.mktemp("corrupt_lineage"))
    job = EncodeJob(spark, out, snapshot_id="snapC", chunk_rows=1024, chunk_bytes=1 << 20)
    job.run(corpus)
    shutil.rmtree(os.path.join(out, "chunks"))
    with open(os.path.join(out, "lineage", "part-99999-corrupt.snappy.parquet"), "wb") as f:
        f.write(b"not a parquet file at all")
    with pytest.raises(Exception, match="part-99999-corrupt"):
        job.run(corpus)
    assert not os.path.exists(os.path.join(out, "chunks"))


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
    """The commit's one ``groupBy(group_key)`` writes the lineage rows the
    earlier two aggregates and their join wrote, on an input whose groups
    pick different codec sets; its scan reads each column's codec tag and
    never the frames."""
    from parquet2csv_spark.operators.encode import CHUNKS_DDL

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

    written = spark.read.schema(CHUNKS_DDL).parquet(f"{out}/chunks/run={run_id}")
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

    commit = job._commit_rows(run_id)
    plan = commit._sc._jvm.PythonSQLUtils.explainString(
        commit._jdf.queryExecution(), "formatted"
    )
    read = [line for line in plan.splitlines() if "ReadSchema" in line]
    assert len(read) == 1 and "codec" in read[0] and "frame" not in read[0], read
