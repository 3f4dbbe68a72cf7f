#!/usr/bin/env python3
"""Repository benchmark: one command, three workloads, every metric by name.

    python3 perfbench/run.py --workload corpus --seed 1 --seconds 20 --trace 0

Prints, as its last stdout line, one JSON object with ``correct``,
``attempted``, ``failed`` and ``metrics``. ``--trace 0`` reports the
end-to-end metrics; ``--trace 1`` runs the same loop with a job group per op,
a ``/proc`` sampler and a post-loop codec replay, and reports the per-layer
metrics instead (see perfbench/README.md). Exits non-zero, without a result
line, when the engine cannot be imported or any set-up step fails.
"""

from __future__ import annotations

import argparse
import contextlib
import ctypes
import json
import os
import shutil
import signal
import statistics
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PR_SET_CHILD_SUBREAPER = 36


def _cpus(text: str) -> int:
    return len(os.sched_getaffinity(0)) if text == "nproc" else int(text)


def parse_args(argv=None) -> argparse.Namespace:
    p = argparse.ArgumentParser(prog="perfbench")
    p.add_argument("--workload", required=True, choices=["corpus", "tables", "lookup"])
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    p.add_argument("--cpus", type=_cpus, default=_cpus("nproc"),
                   help="local[N] cores; 'nproc' = the cores this process may use")
    p.add_argument("--driver-mem", default="6g",
                   help="Spark driver heap (the JVM runs every task in local mode)")
    return p.parse_args(argv)


def configure_env(args, work: str) -> None:
    """Process settings both sides of an A/B must share. Set before the
    JVM starts: Spark reads them at launch, and Python workers inherit
    PYTHONPATH (without it the first mapInArrow fails with
    ModuleNotFoundError whenever the working directory is not the repo)."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, HERE, os.environ.get("PYTHONPATH")) if p)
    os.environ["SPARK_GRAFT_CPUS"] = str(args.cpus)
    os.environ["SPARK_DRIVER_MEM"] = args.driver_mem
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    os.environ["TMPDIR"] = tmp
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    sys.path[:0] = [ROOT, HERE]


def run(args, work: str) -> dict:
    import tracing
    from workloads import WORKLOADS

    tr = tracing.Tracer() if args.trace else tracing.NullTracer()
    tr.box_probe("before")
    t0 = time.perf_counter()
    from parquet2csv_spark.session import get_spark

    spark = get_spark(cpus=args.cpus, app=f"perfbench-{args.workload}")
    session_s = time.perf_counter() - t0
    try:
        tr.attach(spark)
        wl = WORKLOADS[args.workload](spark, f"{work}/data", args.seed, args.cpus, tr)
        t = time.perf_counter()
        with tr.untimed():
            wl.prepare()
        setup_s = session_s + time.perf_counter() - t

        t = time.perf_counter()
        if wl.warm_up:
            with tr.untimed():
                wl.op(-1)  # JIT, Python worker pool, page cache
        print(f"perfbench: set-up {setup_s:.1f}s (session {session_s:.1f}s), "
              f"warm-up {time.perf_counter() - t:.1f}s, "
              f"spin {tr.spin['before']:.2f} MIPS", file=sys.stderr)
        samples = []
        deadline = time.perf_counter() + args.seconds
        while time.perf_counter() < deadline or len(samples) < wl.min_ops:
            samples.append(attempt(wl, len(samples)))
        tr.box_probe("after")

        result = {
            "correct": all(s.ok for s in samples),
            "attempted": len(samples),
            "failed": sum(not s.ok for s in samples),
        }
        if args.trace:
            metrics = tr.per_layer(wl, samples, session_s)
        else:
            metrics = end_to_end(wl, samples, setup_s)
        result["metrics"] = metrics
        return result
    finally:
        tr.close()
        spark.stop()


def attempt(wl, i: int):
    """One op; an exception is reported and counted as a failed op."""
    from workloads import Sample

    t = time.perf_counter()
    try:
        return wl.op(i)
    except Exception:
        traceback.print_exc()
        return Sample(time.perf_counter() - t, 0.0, False)


def end_to_end(wl, samples, setup_s: float) -> dict:
    walls = [s.wall_s for s in samples]
    stored = [s.stored for s in samples if s.stored is not None]
    stored_bytes = statistics.median(stored) if stored else wl.stored
    return {
        "setup_s": {"value": setup_s, "unit": "s"},
        "op_mbps": {"value": sum(s.mb for s in samples) / sum(walls), "unit": "MB/s"},
        "op_p50_ms": {"value": statistics.median(walls) * 1e3, "unit": "ms"},
        "stored_ratio": {"value": stored_bytes / wl.logical, "unit": "ratio"},
        "stored_vs_reference": {"value": stored_bytes / wl.reference, "unit": "ratio"},
    }


def adopt_orphans() -> None:
    """Make this process the reaper of its orphaned descendants. The
    Python worker daemon outlives the JVM that forked it by a moment; as
    our child it can still be waited for."""
    prctl = ctypes.CDLL(None, use_errno=True).prctl
    prctl.argtypes = [ctypes.c_int] + [ctypes.c_ulong] * 4
    prctl.restype = ctypes.c_int
    if prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0) != 0:
        print(f"perfbench: cannot adopt orphans: {os.strerror(ctypes.get_errno())}",
              file=sys.stderr)


def stop_descendants(grace_s: float = 20.0) -> None:
    """Stop every process this run started and wait until each has ended.
    ``spark.stop()`` leaves the gateway JVM running until this process
    exits, and the JVM's Python workers outlive it; either could serve the
    next run. SIGTERM first (the JVM runs its shutdown hooks), SIGKILL
    after ``grace_s``."""
    from tracing import process_tree

    me = os.getpid()
    deadline = time.monotonic() + grace_s
    signalled: dict[int, int] = {}
    while True:
        with contextlib.suppress(ChildProcessError):
            while os.waitpid(-1, os.WNOHANG)[0]:
                pass
        alive = [pid for pid in process_tree(me) if pid != me]
        if not alive:
            return
        sig = signal.SIGTERM if time.monotonic() < deadline else signal.SIGKILL
        for pid in alive:
            if signalled.get(pid) != sig:
                signalled[pid] = sig
                with contextlib.suppress(ProcessLookupError):
                    os.kill(pid, sig)
        time.sleep(0.05)


def main(argv=None) -> int:
    args = parse_args(argv)
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    configure_env(args, work)
    adopt_orphans()
    try:
        result = run(args, work)
    finally:
        stop_descendants()
        shutil.rmtree(work, ignore_errors=True)
        with contextlib.suppress(OSError):  # other runs may still use it
            os.rmdir(os.path.dirname(work))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
