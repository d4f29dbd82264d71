"""Benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. Builds nothing: the program is the
``watermill_spark`` package next to this directory, imported from source.
Inputs are generated from ``--seed`` under ``.perfbench_work/`` in the
current directory, which is removed at exit. The last stdout line is one
JSON object ``{"correct", "attempted", "failed", "metrics"}``; with
``--trace 0`` the metrics are the end-to-end ones, with ``--trace 1`` the
per-layer ones (spans are written to ``.perfbench_spans/``).
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import shutil
import subprocess
import sys
import time

T_PROCESS = time.perf_counter()
ROOT = os.getcwd()
sys.path.insert(0, ROOT)
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

# The program must be importable from the checkout; without it there is
# nothing to measure and the run fails here, before generating anything.
import watermill_spark  # noqa: E402,F401

from perfbench import workloads  # noqa: E402
from perfbench.trace import Tracer, live_heap_mb, peak_rss_mb  # noqa: E402

WORKLOADS = {
    "route_steady": workloads.route_steady,
    "route_backlog": workloads.route_backlog,
}


def _java_version() -> str:
    try:
        out = subprocess.run(["java", "-version"], capture_output=True, text=True,
                             timeout=30).stderr
        return out.splitlines()[0] if out else "unknown"
    except (OSError, subprocess.SubprocessError):
        return "unknown"


def _stop_jvm(proc) -> None:
    """End the JVM PySpark launched and wait for it: the gateway exits when
    its stdin closes."""
    proc.stdin.close()
    try:
        proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()


def _calibrate(spark) -> dict[str, float]:
    """Fixed-work host-speed probes (min of 3): a single-thread numpy sort
    and a whole-stage-codegen sum across the session's local cores."""
    import numpy as np

    arr = np.random.default_rng(0).random(1 << 21)
    py = jvm = float("inf")
    for _ in range(3):
        t0 = time.perf_counter()
        np.sort(arr, kind="quicksort")
        py = min(py, time.perf_counter() - t0)
    for _ in range(3):
        t0 = time.perf_counter()
        spark.range(1 << 25).selectExpr("sum(id * 2) AS s").collect()
        jvm = min(jvm, time.perf_counter() - t0)
    return {"calib_py_sort_s": py, "calib_jvm_agg_s": jvm}


def main(argv=None) -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # keep Spark's scratch space and the JVM's temp files inside the checkout
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    os.environ["TMPDIR"] = tmp
    # executor threads: half the CPUs, so the driver JVM's scheduler, GC and
    # JIT threads, the Python callbacks and the load generator do not queue
    # behind the tasks (at local[nproc] a 4-vCPU VM drained no faster and
    # swung with the host's load far more)
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(max(1, (os.cpu_count() or 1) // 2)))
    # the program's default configuration: no serving-mode table cache
    os.environ.pop("SPARK_GRAFT_CACHE_TABLES", None)
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f"--driver-java-options -Djava.io.tmpdir={tmp} pyspark-shell")

    t_imported = time.perf_counter()
    tracer = Tracer(bool(args.trace), f"{args.workload}-{args.seed}")
    run = workloads.Run(args.seed, args.seconds, tracer, work, T_PROCESS)
    try:
        WORKLOADS[args.workload](run)
        if not args.trace:
            run.e2e["live_heap_mb"] = (live_heap_mb(run.spark), "MB")
        t_workload = time.perf_counter()
        env = {
            "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
            "nproc": os.cpu_count(), "spark_cpus": os.environ["SPARK_GRAFT_CPUS"],
            "pyspark": run.spark.version, "java": _java_version(),
            "python": platform.python_version(), **_calibrate(run.spark),
            **run.notes,
        }
        env["wall_s"] = {"import": t_imported - T_PROCESS,
                         "workload": t_workload - t_imported,
                         "calibrate": time.perf_counter() - t_workload}
        env["peak_rss_mb"] = peak_rss_mb(run.spark)
        print("env " + json.dumps(env, sort_keys=True))
        if args.trace:
            run.layer["mem.peak_rss_mb"] = (env["peak_rss_mb"], "MB")
            for k in ("calib_py_sort_s", "calib_jvm_agg_s"):
                run.layer[f"env.{k}"] = (env[k], "s")
            tracer.dump(os.path.join(ROOT, ".perfbench_spans",
                                     f"{args.workload}-{args.seed}.jsonl"))
    finally:
        if run.spark is not None:
            proc = run.spark.sparkContext._gateway.proc
            run.spark.stop()
            _stop_jvm(proc)
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:  # another run's work dir is still there
            pass

    metrics = run.layer if args.trace else run.e2e
    result = {
        "correct": run.failed == 0 and run.attempted > 0,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": {k: {"value": float(v), "unit": u} for k, (v, u) in sorted(metrics.items())},
    }
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
