"""Smoke-size self-test of the benchmark itself.

    python3 perfbench/selftest.py

1. Runs every workload of BENCHMARK.json once untraced and once traced at a
   short ``--seconds`` and checks that each named metric is emitted, with
   the unit BENCHMARK.json gives it, and that the run reports correct.
2. Corrupts outputs on purpose and checks that the correctness gates trip:
   one dropped out-topic row (route gate) and one flipped admit decision
   (ingest gate).

Exits non-zero on the first failed check.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

ROOT = os.getcwd()
HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, ROOT)
sys.path.insert(0, os.path.dirname(HERE))


def _fail(msg: str) -> None:
    print(f"SELFTEST FAIL: {msg}")
    sys.exit(1)


def check_metrics(seconds: str = "3") -> None:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    for w in spec["workloads"]:
        for trace, group in (("0", "end_to_end"), ("1", "per_layer")):
            cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", w["name"],
                   "--seed", "99", "--seconds", seconds, "--trace", trace]
            proc = subprocess.run(cmd, capture_output=True, text=True, timeout=300)
            if proc.returncode != 0:
                _fail(f"{w['name']} trace={trace} exited {proc.returncode}: {proc.stderr[-1500:]}")
            res = json.loads(proc.stdout.strip().splitlines()[-1])
            if not res["correct"] or res["failed"] or res["attempted"] < 1:
                _fail(f"{w['name']} trace={trace} not correct: {res['failed']}/{res['attempted']}")
            got = res["metrics"]
            for m in spec[group]:
                if m["name"] not in got:
                    _fail(f"{w['name']} trace={trace}: metric {m['name']} missing")
                if got[m["name"]]["unit"] != m["unit"]:
                    _fail(f"{w['name']}: {m['name']} unit {got[m['name']]['unit']} != {m['unit']}")
            extra = set(got) - {m["name"] for m in spec[group]}
            if extra:
                _fail(f"{w['name']} trace={trace}: metrics not in BENCHMARK.json: {sorted(extra)}")
            print(f"ok  {w['name']} trace={trace}: {len(got)} metrics, "
                  f"{res['attempted']} checks")


def check_gates() -> None:
    """Drive the gates on small real outputs, then on corrupted copies."""
    import pyarrow.parquet as pq

    from perfbench import gen, workloads
    from perfbench.trace import Tracer

    work = os.path.join(ROOT, ".perfbench_work", f"selftest-{os.getpid()}")
    os.makedirs(work, exist_ok=True)
    run = workloads.Run(5, 2.0, Tracer(False, "selftest"), work)
    try:
        run.fresh_session()
        # route gate: a small backlog through the real pipeline
        base = run.dir("route")
        gen.write_backlog(os.path.join(base, "topics", "in"), 5, n_files=2, per_file=500)
        router, out_pub, _, _ = workloads._route_pipeline(run, base)
        router.run_stream(os.path.join(base, "cp"), available_now=True)
        router.await_termination()
        router.close()
        workloads._route_gate(run, base, out_pub)
        if run.failed or not run.attempted:
            _fail(f"route gate failed on good output: {run.failed}/{run.attempted}")
        victim = os.path.join(base, "topics", "out", out_pub.records[0]["files"][0])
        t = pq.read_table(victim)
        pq.write_table(t.slice(1), victim)  # drop one out-topic row
        before = run.failed
        workloads._route_gate(run, base, out_pub)
        if run.failed <= before:
            _fail("route gate did not trip on a dropped out-topic row")
        print(f"ok  route gate trips on a dropped row ({run.failed - before} failed)")

        # ingest gate: compare decisions, then flip one admit decision
        stream, originals = gen.make_documents(5, 400)
        good = workloads.ingest_decisions(run, run.dir("oracle"), originals)
        clean = [(d, None) for d in good[0]]
        dups = [(d, o) for d, o in good[1].items()]
        once = [(d, t) for d, t in sorted(originals.items())]
        run.attempted = run.failed = 0
        workloads.check_ingest(run, once, clean, dups, *good)
        if run.failed:
            _fail(f"ingest gate failed on the oracle's own decisions: {run.failed}")
        flipped = clean[1:]
        dups_f = dups + [(clean[0][0], clean[0][0] - 1)]
        workloads.check_ingest(run, once, flipped, dups_f, *good)
        if not run.failed:
            _fail("ingest gate did not trip on a flipped admit decision")
        print(f"ok  ingest gate trips on a flipped decision ({run.failed} failed)")
    finally:
        if run.spark is not None:
            run.spark.stop()
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    check_gates()
    check_metrics()
    print("SELFTEST OK")
