"""Op timing and, for ``--trace 1``, the per-layer trace.

Everything here measures the engine from outside: a Spark job group per
op, Spark's own status stores read after the loop, a ``/proc`` sampler, and
a single-thread replay that wraps the codec layer's public functions.
No engine module is edited; the replay's wrappers are installed only for
the replay and removed after it.
"""

from __future__ import annotations

import contextlib
import os
import re
import statistics
import sys
import threading
import time

MB = 1e6
SPIN_ITERS = 1_000_000
THROTTLE_DROP = 0.85  # spin rate after / before below this flags the box
COVERAGE_TOLERANCE = 0.15


class Op:
    """Times one op. ``mark(name)`` records the elapsed time at a point
    inside it (e.g. the end of query planning)."""

    def __init__(self, kind: str):
        self.kind = kind
        self.marks: dict[str, float] = {}

    def __enter__(self) -> "Op":
        self.t0 = time.perf_counter()
        return self

    def mark(self, name: str) -> None:
        self.marks[name] = time.perf_counter() - self.t0

    def __exit__(self, *exc) -> None:
        self.wall = time.perf_counter() - self.t0


class NullTracer:
    """Untraced runs: ops are timed and nothing per layer is recorded. The
    throttle guard runs in every run."""

    def __init__(self):
        self.spin: dict[str, float] = {}

    def attach(self, spark) -> None:
        pass

    def box_probe(self, when: str) -> None:
        """Single-core spin rate before set-up and after the loop; a drop
        is reported on stderr as a diagnostic, never as a failure."""
        self.spin[when] = spin_mips()
        if when == "after" and self.spin["after"] < THROTTLE_DROP * self.spin["before"]:
            print(f"perfbench: box throttled during the run: spin rate "
                  f"{self.spin['before']:.2f} -> {self.spin['after']:.2f} MIPS",
                  file=sys.stderr)

    def op(self, kind: str) -> Op:
        return Op(kind)

    @contextlib.contextmanager
    def untimed(self):
        yield

    def close(self) -> None:
        pass


# ------------------------------------------------------------------ /proc

_TICK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


def _stat(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            text = f.read()
    except OSError:
        return None
    # comm may hold spaces; fields after the closing paren are fixed
    head, _, rest = text.rpartition(")")
    return [head.split("(", 1)[1]] + rest.split()


def process_tree(root: int) -> dict[int, list[str]]:
    """``pid -> stat fields`` for ``root`` and every descendant."""
    procs = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            st = _stat(int(name))
            if st:
                procs[int(name)] = st
    tree, frontier = {}, [root]
    while frontier:
        pid = frontier.pop()
        if pid in procs:
            tree[pid] = procs[pid]
            frontier += [p for p, st in procs.items() if int(st[2]) == pid]
    return tree


def tree_cpu_s(root: int) -> float:
    """utime+stime of the tree, plus reaped children's (cutime+cstime)."""
    return sum(
        sum(int(x) for x in st[12:16]) for st in process_tree(root).values()
    ) / _TICK


def _rss_mb(pid: int) -> float:
    try:
        with open(f"/proc/{pid}/statm") as f:
            return int(f.read().split()[1]) * _PAGE / MB
    except OSError:
        return 0.0


class Sampler(threading.Thread):
    """Peak RSS of the JVM and of the Python workers, sampled every
    ``period`` seconds. Its own CPU time is part of the trace overhead."""

    def __init__(self, period: float = 0.25):
        super().__init__(daemon=True)
        self.period = period
        self.jvm_peak = self.python_peak = 0.0
        self.cpu_s = 0.0
        self._halt = threading.Event()

    def run(self) -> None:
        me = os.getpid()
        while not self._halt.wait(self.period):
            jvm = py = 0.0
            for pid, st in process_tree(me).items():
                if st[0] == "java":
                    jvm += _rss_mb(pid)
                elif pid != me and st[0].startswith("python"):
                    py += _rss_mb(pid)
            self.jvm_peak = max(self.jvm_peak, jvm)
            self.python_peak = max(self.python_peak, py)
        self.cpu_s = time.thread_time()

    def stop(self) -> None:
        self._halt.set()
        self.join(timeout=10)


def spin_mips() -> float:
    """Single-core register-only spin rate, median of three. A drop
    between before and after means the box ran slower for the whole run,
    which an effective-cores ratio cannot see when all cores slow alike."""
    rates = []
    for _ in range(3):
        x, t = 1, time.perf_counter()
        for _ in range(SPIN_ITERS):
            x = (x * 1103515245 + 12345) & 0xFFFFFFFF
        rates.append(SPIN_ITERS / (time.perf_counter() - t) / 1e6)
    return statistics.median(rates)


# ------------------------------------------------------- Spark status stores

def _iter(seq):
    it = seq.iterator()
    while it.hasNext():
        yield it.next()


def _opt(o):
    return o.get() if o.isDefined() else None


def _epoch(date_opt) -> float | None:
    d = _opt(date_opt)
    return d.getTime() / 1e3 if d is not None else None


_UNIT = {"B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30, "TiB": 1 << 40,
         "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0}
_STAGE_REF = re.compile(r"\(stage (\d+)\.\d+: task \d+\)")


def parse_sql_metric(text: str) -> tuple[float, int | None]:
    """A formatted SQL metric (``"total (min, med, max (stageId: taskId))\\n
    5.0 s (572 ms, ...(stage 78.0: task 361))"`` or ``"1,234"``) as
    ``(total in bytes or seconds, stage of the max task or None)``."""
    line = text.strip().splitlines()[-1]
    num, _, unit = line.split(" (")[0].strip().partition(" ")
    ref = _STAGE_REF.search(line)
    return (float(num.replace(",", "")) * _UNIT.get(unit, 1.0),
            int(ref.group(1)) if ref else None)


def union_s(intervals) -> float:
    """Length of the union of ``(start, end)`` intervals."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(i for i in intervals if i[0] is not None and i[1] is not None):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    return total + (cur_e - cur_s if cur_e is not None else 0.0)


class OpRecord:
    """What Spark ran for one op: jobs, stages, tasks and SQL plan metrics."""

    def __init__(self, kind, group, wall, cpu_s, marks):
        self.kind, self.group, self.wall = kind, group, wall
        self.cpu_s, self.marks = cpu_s, marks
        self.jobs: list[dict] = []
        self.stages: dict[int, dict] = {}
        self.nodes: list[dict] = []  # one per (execution, plan node)

    def load(self, spark, executions: list[tuple[int, set[int]]]) -> None:
        """Read this op's jobs, stages and tasks, and the plan metrics of
        the SQL ``executions`` (``(id, job ids)``) that ran its jobs."""
        sc = spark.sparkContext
        store = sc._jsc.sc().statusStore()
        for jid in sorted(sc.statusTracker().getJobIdsForGroup(self.group)):
            j = store.job(jid)
            sids = list(_iter(j.stageIds()))
            self.jobs.append({"id": jid, "start": _epoch(j.submissionTime()),
                              "end": _epoch(j.completionTime()), "stages": sids})
            for sid in sids:
                st = store.lastStageAttempt(sid)
                if _opt(st.submissionTime()) is None:
                    continue  # skipped: its output was reused
                durs = [
                    _opt(t.duration()) or 0
                    for t in _iter(store.taskList(sid, st.attemptId(), 100_000))
                ]
                self.stages[sid] = {
                    "job": jid, "tasks": st.numTasks(), "task_ms": durs,
                    "start": _epoch(st.submissionTime()),
                    "end": _epoch(st.completionTime()),
                    "shuffle_write": st.shuffleWriteBytes(),
                    "fetch_wait_ms": st.shuffleFetchWaitTime(),
                    "spill": st.memoryBytesSpilled() + st.diskBytesSpilled(),
                    "gc_ms": st.jvmGcTime(),
                }
        mine = {j["id"] for j in self.jobs}
        sql = spark._jsparkSession.sharedState().statusStore()
        for ex_id, jobs in executions:
            if not jobs & mine:
                continue
            values = sql.executionMetrics(ex_id)
            seen = set()
            for node in _iter(sql.planGraph(ex_id).allNodes()):
                metrics = {}
                for m in _iter(node.metrics()):
                    acc = m.accumulatorId()
                    if acc in seen:
                        continue  # AQE lists a reused node more than once
                    seen.add(acc)
                    text = _opt(values.get(acc))
                    if text:
                        metrics[m.name()] = parse_sql_metric(text)
                self.nodes.append({"execution": ex_id, "jobs": jobs,
                                   "name": node.name(), "metrics": metrics})

    # --- derived views ---------------------------------------------------

    def job_union_s(self, jobs=None) -> float:
        return union_s((j["start"], j["end"]) for j in (self.jobs if jobs is None else jobs))

    def stage_union_s(self) -> float:
        return union_s((s["start"], s["end"]) for s in self.stages.values())

    def driver_gap_s(self) -> float:
        return max(0.0, self.wall - self.job_union_s())

    def coverage(self) -> float:
        """(stage spans + driver gap) / op wall; 1.0 means the trace
        accounts for the whole op."""
        return (self.stage_union_s() + self.driver_gap_s()) / self.wall

    def metric(self, node_prefix: str, name: str) -> float:
        return sum(n["metrics"][name][0] for n in self.nodes
                   if n["name"].startswith(node_prefix) and name in n["metrics"])

    def node_stages(self, node_prefix: str) -> set[int]:
        return {v[1] for n in self.nodes if n["name"].startswith(node_prefix)
                for v in n["metrics"].values() if v[1] is not None}

    def has_node(self, text: str) -> bool:
        return any(text in n["name"] for n in self.nodes)

    def stage_sum(self, key: str) -> float:
        return sum(s[key] for s in self.stages.values())

    def stage_wall_s(self, stages) -> float:
        return union_s((self.stages[s]["start"], self.stages[s]["end"])
                       for s in stages if s in self.stages)

    def task_skew(self, stages) -> float:
        durs = [d for s in stages if s in self.stages for d in self.stages[s]["task_ms"]]
        med = statistics.median(durs) if durs else 0
        return max(durs) / med if med else 0.0


# --------------------------------------------------------------- tracer

class TracedOp(Op):
    def __init__(self, tracer: "Tracer", kind: str):
        super().__init__(kind)
        self.tr = tracer

    def __enter__(self) -> "TracedOp":
        t = time.perf_counter()
        self.tr.n_ops += 1  # warm-up ops are not recorded but need their own group
        self.group = f"perfbench-op-{self.tr.n_ops}-{self.kind}"
        self.tr.sc.setJobGroup(self.group, self.kind)
        self.cpu0 = tree_cpu_s(os.getpid())
        self.calls0 = dict(self.tr.call_s)
        self.tr.overhead_s += time.perf_counter() - t
        return super().__enter__()

    def __exit__(self, *exc) -> None:
        super().__exit__(*exc)
        t = time.perf_counter()
        cpu = tree_cpu_s(os.getpid()) - self.cpu0
        self.tr.sc.setJobGroup("perfbench-untimed", "between ops")
        for name, total in self.tr.call_s.items():
            self.marks[name] = total - self.calls0.get(name, 0.0)
        # marks is shared, so values the workload adds after the op count
        if self.tr.recording:
            self.tr.records.append(
                OpRecord(self.kind, self.group, self.wall, cpu, self.marks))
        self.tr.overhead_s += time.perf_counter() - t


class Tracer(NullTracer):
    """Traced runs: job group per op, status-store read-out after the loop,
    ``/proc`` sampling throughout, and the codec replay."""

    def __init__(self):
        super().__init__()
        self.records: list[OpRecord] = []
        self.n_ops = 0
        self.overhead_s = 0.0
        self.call_s: dict[str, float] = {}
        self.recording = True
        self.sampler = Sampler()
        self._restore = []

    def _time_calls(self, owner, attr: str, mark: str) -> None:
        """Accumulate the wall of every call to ``owner.attr`` under
        ``mark``; each op records its own share."""
        orig = getattr(owner, attr)

        def timed(*args, **kwargs):
            t = time.perf_counter()
            try:
                return orig(*args, **kwargs)
            finally:
                self.call_s[mark] = self.call_s.get(mark, 0.0) + time.perf_counter() - t
        setattr(owner, attr, timed)
        self._restore.append((owner, attr, orig))

    def attach(self, spark) -> None:
        from parquet2csv_spark.sources import catalog

        self.spark, self.sc = spark, spark.sparkContext
        self._time_calls(catalog.ParquetDirCatalog, "snapshot", "snapshot_s")
        self.sampler.start()

    def op(self, kind: str) -> Op:
        return TracedOp(self, kind)

    @contextlib.contextmanager
    def untimed(self):
        """Set-up and warm-up: their ops are not recorded."""
        self.sc.setJobGroup("perfbench-untimed", "between ops")
        self.recording = False
        try:
            yield
        finally:
            self.recording = True

    def close(self) -> None:
        if self.sampler.is_alive():
            self.sampler.stop()
        for owner, attr, orig in reversed(self._restore):
            setattr(owner, attr, orig)
        self._restore.clear()

    def load(self) -> None:
        """End sampling and read what Spark ran for every recorded op."""
        self.sampler.stop()
        sql = self.spark._jsparkSession.sharedState().statusStore()
        executions = [(ex.executionId(), {int(k) for k in _iter(ex.jobs().keys())})
                      for ex in _iter(sql.executionsList())]
        for rec in self.records:
            rec.load(self.spark, executions)

    def per_layer(self, wl, samples, session_s: float) -> dict:
        import layers

        values = layers.compute(self, wl, samples, session_s)
        for kind in ("encode", "decode"):
            cov = values.get(f"trace.coverage.{kind}", 0.0)
            if cov and abs(cov - 1) > COVERAGE_TOLERANCE:
                print(f"perfbench: {kind} trace covers {cov:.0%} of the op wall "
                      f"(outside ±{COVERAGE_TOLERANCE:.0%})", file=sys.stderr)
        return {name: {"value": values.get(name, 0.0), "unit": unit}
                for name, unit in layers.PER_LAYER}
