"""Per-layer metrics of a traced run.

Every traced run reports every name in ``PER_LAYER``. A layer that the
workload does not run reports 0, which is also the prediction for it: a
change to that layer should leave the workload's end-to-end metrics flat.
"""

from __future__ import annotations

import math
import statistics

import replay
from check import percentile

PER_LAYER: list[tuple[str, str]] = [
    ("session.start_s", "s"),
    ("catalog.snapshot_s", "s"),
    ("op.encode_s", "s"),
    ("op.decode_s", "s"),
    ("lineage.jobs", "count"),
    ("lineage.size_pass_s", "s"),
    ("lineage.commit_s", "s"),
    ("lineage.resolve_s", "s"),
    ("lineage.driver_gap_s", "s"),
    ("encode.scan_s", "s"),
    ("encode.shuffle_write_bytes", "B"),
    ("encode.fetch_wait_s", "s"),
    ("encode.spill_bytes", "B"),
    ("encode.python_run_s", "s"),
    ("encode.python_start_s", "s"),
    ("encode.to_python_bytes", "B"),
    ("encode.from_python_bytes", "B"),
    ("encode.task_skew", "ratio"),
    ("encode.gc_s", "s"),
    ("encode.groups", "count"),
    ("encode.chunks", "count"),
    ("decode.chunk_scan_s", "s"),
    ("decode.python_run_s", "s"),
    ("decode.from_python_bytes", "B"),
    ("decode.task_skew", "ratio"),
    ("decode.write_s", "s"),
    ("parallel_scan.fast_path.lineitem", "bool"),
    ("parallel_scan.fast_path.events", "bool"),
    ("parallel_scan.tasks", "count"),
    ("parallel_scan.task_skew", "ratio"),
    ("parallel_scan.rows_read_per_row_out", "ratio"),
    ("roundtrip.python_run_s", "s"),
    ("roundtrip.from_python_bytes", "B"),
    ("lookup.plan_ms", "ms"),
    ("lookup.p75_ms", "ms"),
    *[(f"lookup.kept_chunk_frac.{s}", "ratio") for s in ("range", "name", "in", "scan")],
    ("lookup.rows_decoded_per_row_returned", "ratio"),
    ("lookup.jobs", "count"),
    ("lookup.tasks", "count"),
    ("lookup.exec_ms", "ms"),
    ("lookup.driver_gap_ms", "ms"),
    ("selector.choose_ms_per_mb", "ms/MB"),
    ("selector.trials_per_choice", "count"),
    ("selector.cache_hit_frac", "ratio"),
    *[(f"selector.bytes_frac.{f}", "ratio") for f in replay.FAMILIES],
    *[(f"codecs.encode_ms_per_mb.{f}", "ms/MB") for f in replay.FAMILIES],
    *[(f"codecs.decode_ms_per_mb.{f}", "ms/MB") for f in replay.FAMILIES],
    ("codecs.transport_ms_per_mb", "ms/MB"),
    ("fsst.train_frac", "ratio"),
    ("bloom.build_ms_per_mb", "ms/MB"),
    ("encode_chunk.other_ms_per_mb", "ms/MB"),
    ("zonemap.bytes_frac", "ratio"),
    ("proc.cpu_s", "s"),
    ("proc.jvm_peak_rss_mb", "MB"),
    ("proc.python_peak_rss_mb", "MB"),
    ("box.spin_mips_before", "MIPS"),
    ("box.spin_mips_after", "MIPS"),
    ("trace.overhead_frac", "ratio"),
    ("trace.coverage.encode", "ratio"),
    ("trace.coverage.decode", "ratio"),
]


def _med(values) -> float:
    values = list(values)
    return statistics.median(values) if values else 0.0


def _corpus(records, m: dict) -> None:
    enc = [r for r in records if r.kind == "encode"]
    dec = [r for r in records if r.kind == "decode"]
    m["op.encode_s"] = _med(r.wall for r in enc)
    m["op.decode_s"] = _med(r.wall for r in dec)
    m["catalog.snapshot_s"] = _med(r.marks.get("snapshot_s", 0.0) for r in enc)
    m["lineage.jobs"] = _med(len(r.jobs) for r in enc)
    m["lineage.driver_gap_s"] = _med(r.driver_gap_s() for r in enc)
    m["trace.coverage.encode"] = _med(r.coverage() for r in enc)
    m["trace.coverage.decode"] = _med(r.coverage() for r in dec)
    rows = {k: [] for k in ("size", "commit", "scan", "skew", "run", "start",
                            "to_py", "from_py", "chunks")}
    for r in enc:
        py = r.node_stages("FlatMapGroupsInArrow")
        write_jobs = {j for n in r.nodes if n["name"] == "FlatMapGroupsInArrow"
                      for j in n["jobs"]}
        # the salt size aggregate: the write execution's partial HashAggregate
        size = {v[1] for n in r.nodes
                if n["name"] == "HashAggregate" and n["jobs"] == write_jobs
                for v in n["metrics"].values() if v[1] is not None}
        scans = r.node_stages("Scan parquet") & {
            s for s, st in r.stages.items() if st["job"] in write_jobs} - size
        last = max(write_jobs, default=math.inf)
        rows["size"].append(r.stage_wall_s(size))
        rows["commit"].append(r.job_union_s([j for j in r.jobs if j["id"] > last]))
        rows["scan"].append(r.stage_wall_s(scans))
        rows["skew"].append(r.task_skew(py))
        rows["run"].append(r.metric("FlatMapGroupsInArrow", "time to run Python workers"))
        rows["start"].append(
            r.metric("FlatMapGroupsInArrow", "time to start Python workers")
            + r.metric("FlatMapGroupsInArrow", "time to initialize Python workers"))
        rows["to_py"].append(r.metric("FlatMapGroupsInArrow", "data sent to Python workers"))
        rows["from_py"].append(
            r.metric("FlatMapGroupsInArrow", "data returned from Python workers"))
        rows["chunks"].append(r.metric("FlatMapGroupsInArrow", "number of output rows"))
    m["lineage.size_pass_s"] = _med(rows["size"])
    m["lineage.commit_s"] = _med(rows["commit"])
    m["encode.scan_s"] = _med(rows["scan"])
    m["encode.task_skew"] = _med(rows["skew"])
    m["encode.python_run_s"] = _med(rows["run"])
    m["encode.python_start_s"] = _med(rows["start"])
    m["encode.to_python_bytes"] = _med(rows["to_py"])
    m["encode.from_python_bytes"] = _med(rows["from_py"])
    m["encode.chunks"] = _med(rows["chunks"])
    m["encode.groups"] = _med(r.marks.get("groups", 0) for r in enc)
    m["encode.shuffle_write_bytes"] = _med(r.stage_sum("shuffle_write") for r in enc)
    m["encode.fetch_wait_s"] = _med(r.stage_sum("fetch_wait_ms") / 1e3 for r in enc)
    m["encode.spill_bytes"] = _med(r.stage_sum("spill") for r in enc)
    m["encode.gc_s"] = _med(r.stage_sum("gc_ms") / 1e3 for r in enc)

    resolve, scan, skew, write = [], [], [], []
    for r in dec:
        out_jobs = {j for n in r.nodes if n["name"] == "MapInArrow" for j in n["jobs"]}
        resolve.append(r.job_union_s([j for j in r.jobs if j["id"] not in out_jobs]))
        execs = {n["execution"] for n in r.nodes if n["name"] == "MapInArrow"}
        scan.append(sum(n["metrics"].get("scan time", (0.0, None))[0] for n in r.nodes
                        if n["execution"] in execs and n["name"].startswith("Scan parquet")))
        skew.append(r.task_skew(r.node_stages("MapInArrow")))
        write.append(r.metric("Execute InsertIntoHadoopFsRelationCommand", "task commit time")
                     + r.metric("Execute InsertIntoHadoopFsRelationCommand", "job commit time"))
    m["lineage.resolve_s"] = _med(resolve)
    m["decode.chunk_scan_s"] = _med(scan)
    m["decode.task_skew"] = _med(skew)
    m["decode.write_s"] = _med(write)
    m["decode.python_run_s"] = _med(r.metric("MapInArrow", "time to run Python workers")
                                    for r in dec)
    m["decode.from_python_bytes"] = _med(
        r.metric("MapInArrow", "data returned from Python workers") for r in dec)


def _slices_read(rows: int, tasks: int) -> float:
    """Rows the row-range slices decode: slice i reads every page before
    its end, because the file has no page index."""
    per = -(-rows // tasks)
    return sum(min(rows, (i + 1) * per) for i in range(tasks))


def _tables(records, wl, m: dict) -> None:
    import pyarrow.parquet as pq

    read = out = 0.0
    tasks, skews, runs, from_py = [], [], [], []
    by_op = {}
    for r in records:
        by_op.setdefault(r.kind, []).append(r)
    for t in wl.TABLES:
        recs = by_op.get(f"roundtrip_{t}", [])
        m[f"parallel_scan.fast_path.{t}"] = _med(
            0.0 if r.has_node("Scan parquet") else 1.0 for r in recs)
        n_rows = pq.ParquetFile(f"{wl.dir}/{t}.parquet").metadata.num_rows
        k = _med(sum(r.stages[s]["tasks"] for s in r.node_stages("MapInArrow")
                     if s in r.stages) for r in recs)
        tasks.append(k)
        skews.append(_med(r.task_skew(r.node_stages("MapInArrow")) for r in recs))
        if k and m[f"parallel_scan.fast_path.{t}"]:
            read += _slices_read(n_rows, int(k))
        else:
            read += n_rows
        out += n_rows
    ops = list(zip(*[by_op.get(f"roundtrip_{t}", []) for t in wl.TABLES]))
    for group in ops:
        runs.append(sum(r.metric("MapInArrow", "time to run Python workers") for r in group))
        from_py.append(sum(r.metric("MapInArrow", "data returned from Python workers")
                           for r in group))
    m["parallel_scan.tasks"] = sum(tasks)
    m["parallel_scan.task_skew"] = max(skews, default=0.0)
    m["parallel_scan.rows_read_per_row_out"] = read / out if out else 0.0
    m["roundtrip.python_run_s"] = _med(runs)
    m["roundtrip.from_python_bytes"] = _med(from_py)


def _lookup_phase(tr, wl):
    """The lookup loop, run after the tables loop in traced runs only, so
    the pruning layer is measured without its own gated workload."""
    from workloads import LookupWorkload

    lw = LookupWorkload(wl.spark, f"{wl.work}/lookup", wl.seed, wl.cpus, tr)
    with tr.untimed():
        lw.prepare()
        lw.op(-1)
    return lw, [lw.op(i) for i in range(lw.min_ops)]


def _lookup(recs, wl, samples, m: dict) -> None:
    from parquet2csv_spark.operators import scan_stats

    m["lookup.plan_ms"] = _med(r.marks["plan"] * 1e3 for r in recs)
    walls = [r.wall * 1e3 for r in recs]
    try:
        m["lookup.p75_ms"] = percentile(walls, 75)
    except ValueError:
        pass  # too few lookups in this run for a tail estimate: reported as 0
    m["lookup.jobs"] = _med(len(r.jobs) for r in recs)
    m["lookup.tasks"] = _med(sum(s["tasks"] for s in r.stages.values()) for r in recs)
    m["lookup.exec_ms"] = _med(r.job_union_s() * 1e3 for r in recs)
    m["lookup.driver_gap_ms"] = _med(
        (r.wall - r.marks["plan"] - r.job_union_s()) * 1e3 for r in recs)
    kept, decoded, returned = {}, 0, 0
    seen = {}
    for i, s in enumerate(samples):
        if not s.ok:
            continue
        lk = wl.plan[i % len(wl.plan)]
        if id(lk) not in seen:
            seen[id(lk)] = scan_stats(wl.chunks[lk.table], wl.schema[lk.table], lk.filters)
        st = seen[id(lk)]
        kept.setdefault(lk.shape, []).append(st["kept_chunks"] / st["total_chunks"])
        decoded += st["kept_rows"]
        returned += s.parts["rows"]
    for shape, fracs in kept.items():
        m[f"lookup.kept_chunk_frac.{shape}"] = _med(fracs)
    m["lookup.rows_decoded_per_row_returned"] = decoded / returned if returned else 0.0


def _selector_bytes(spark, chunk_dirs, m: dict) -> None:
    from pyspark.sql import functions as F

    from parquet2csv_spark.operators import chunk_metrics

    rows = (chunk_metrics(spark.read.parquet(*chunk_dirs))
            .groupBy("codec").agg(F.sum("enc_bytes").alias("b")).collect())
    total = sum(r["b"] for r in rows) or 1
    for r in rows:
        key = f"selector.bytes_frac.{replay.family(r['codec'])}"
        m[key] = m.get(key, 0.0) + r["b"] / total


def compute(tr, wl, samples, session_s: float) -> dict[str, float]:
    m: dict[str, float] = {"session.start_s": session_s}
    n_loop = len(tr.records)
    if wl.name == "tables":
        lw, lookup_samples = _lookup_phase(tr, wl)
    tr.load()
    loop = tr.records[:n_loop]
    if wl.name == "corpus":
        _corpus(loop, m)
    elif wl.name == "tables":
        _tables(loop, wl, m)
        _lookup(tr.records[n_loop:], lw, lookup_samples, m)
    else:
        _lookup(loop, wl, samples, m)
    dirs = wl.chunk_dirs()
    _selector_bytes(wl.spark, dirs, m)
    m["zonemap.bytes_frac"] = replay.zonemap_bytes_frac(dirs)
    m.update(replay.run(dirs))
    op_wall = sum(r.wall for r in tr.records)
    m["proc.cpu_s"] = _med(r.cpu_s for r in loop)
    m["proc.jvm_peak_rss_mb"] = tr.sampler.jvm_peak
    m["proc.python_peak_rss_mb"] = tr.sampler.python_peak
    m["box.spin_mips_before"] = tr.spin.get("before", 0.0)
    m["box.spin_mips_after"] = tr.spin.get("after", 0.0)
    m["trace.overhead_frac"] = (tr.overhead_s + tr.sampler.cpu_s) / op_wall if op_wall else 0.0
    return m
