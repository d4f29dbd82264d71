"""The benchmark workloads. Each fills a :class:`Run` with end-to-end
metrics, per-layer metrics and correctness counts.

End-to-end metrics, reported by every workload for its unit of work (a
message routed through the handler onion):

- ``setup_s``          process start to the end of warm-up: imports, the JVM
                       launch and SparkSession from ``session.get_spark``, the
                       route pipeline built and driven through one warm-up
                       file (the generator's own file writing excluded)
- ``live_heap_mb``     JVM heap the session still holds after full collections
- ``latency_p50_ms``   per message: out-topic publish return minus the time
  ``latency_p90_ms``   it was due (open loop), or its micro-batch's interval
                       between publishes (closed loop)
- ``throughput_per_s`` open loop: measured messages over the time until the
                       last of them was delivered; closed loop: median over
                       measured micro-batches of messages per interval
- ``cpu_us_per_msg``   CPU time of the Python process and the JVM over the
                       measured phase per message (the open-loop generator's
                       own CPU time excluded)

The traced run (``--trace 1``) runs the measured phase with the tracing
hooks on, reports the share of it they took, and adds companion phases that
measure the layers the two routing workloads bypass: the near-dup ingest
gate (``streaming.dedup``) and the analytics suite.
"""

from __future__ import annotations

import os
import random
import shutil
import statistics
import time

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

from perfbench import gen
from perfbench.trace import (
    JobCounter,
    LagSampler,
    TimedPublisher,
    add_batch_spans,
    cpu_s,
    jvm_pid,
    pct,
    progress_list,
    stream_metrics,
    traced,
)

LATENCY_LIMIT_MS = 10_000.0  # open loop: a measured message later than this failed


class Run:
    """State of one benchmark run, shared by the workload functions."""

    def __init__(self, seed: int, seconds: float, tracer, work_dir: str,
                 t_process: float | None = None):
        self.seed = seed
        self.t_process = time.perf_counter() if t_process is None else t_process
        self.seconds = seconds
        self.tracer = tracer
        self.traced = tracer.enabled
        self.work_dir = work_dir
        self.spark = None
        self.e2e: dict[str, tuple[float, str]] = {}
        self.layer: dict[str, tuple[float, str]] = {}
        self.attempted = 0
        self.failed = 0
        self.session_start_s: list[float] = []
        self.notes: dict = {}

    def dir(self, *parts: str) -> str:
        return os.path.join(self.work_dir, *parts)

    def fresh_session(self):
        """Stop the current SparkContext (if any) and start a new one through
        the program's own factory; records the start time."""
        from watermill_spark.session import get_spark

        if self.spark is not None:
            self.spark.stop()
        t0 = time.perf_counter()
        self.spark = get_spark("perfbench")
        self.spark.sparkContext.setLogLevel("ERROR")
        self.session_start_s.append(time.perf_counter() - t0)
        return self.spark

    def check(self, ok: bool, n: int = 1) -> None:
        """Count ``n`` attempted operations, failed unless ``ok``."""
        self.attempted += n
        if not ok:
            self.failed += n


# ------------------------------------------------------------------ routing

ROUTE_RATE = 2_000  # msg/s offered by the open loop
ROUTE_TICK_S = 0.25  # one generator file per tick
ROUTE_TRIGGER = "500 milliseconds"
ROUTE_PREROLL_S = 12.0  # warm load before the measured window: batch times fall until then
BACKLOG_PER_FILE, BACKLOG_FILES_PER_TRIGGER = 5_000, 8  # 40k messages per batch
BACKLOG_WARM_BATCHES = 3  # batch times still fall batch over batch before this
BACKLOG_BATCHES_PER_S = 1 / 3  # measured batches per second of --seconds


def backlog_files(seconds: float) -> int:
    """Backlog size: the warm-up batches plus one measured batch per
    1 / BACKLOG_BATCHES_PER_S seconds of --seconds, at least three."""
    measured = max(3, round(seconds * BACKLOG_BATCHES_PER_S))
    return (BACKLOG_WARM_BATCHES + measured) * BACKLOG_FILES_PER_TRIGGER


def _route_pipeline(run: Run, base: str):
    """ParquetPubSub + Router with the benchmark onion; returns
    (router, out_pub, dlq_pub, handler_calls). The handler upper-cases the payload;
    ``fail_rows`` fails 1% of uuids by crc32, ``retry`` re-runs them once,
    ``poison_queue`` dead-letters what still fails."""
    from pyspark.sql import functions as F

    from watermill_spark import sources
    from watermill_spark.streaming import Router
    from watermill_spark.streaming import middleware as mw

    ps = sources.ParquetPubSub(run.spark, os.path.join(base, "topics"))
    out_pub = TimedPublisher(ps, run.tracer)
    dlq_pub = TimedPublisher(ps, run.tracer)

    calls = [0]

    def handler(df):
        calls[0] += 1
        return df.withColumn(
            "payload", F.encode(F.upper(F.decode("payload", "utf-8")), "utf-8"))

    router = Router()
    router.add_handler(
        "route", "in", ps, "out", out_pub, handler,
        middleware=[
            mw.correlation_id,
            mw.poison_queue(dlq_pub, "dlq"),
            mw.retry(max_retries=1),
            mw.fail_rows(F.crc32(F.col("uuid")) % gen.FAIL_MOD == 0, "perfbench-fail"),
        ],
    )
    return router, out_pub, dlq_pub, calls


def _route_setup(run: Run) -> None:
    """The run's set-up, from process start: session + pipeline + one
    warm-up file drained (availableNow). Warm-up is mandatory: first passes
    run ~2x slower. The generator's file writing is timed and excluded."""
    base = run.dir("setup")
    t0 = time.perf_counter()
    gen.write_backlog(os.path.join(base, "topics", "in"), run.seed + 1000,
                      n_files=1, per_file=int(ROUTE_RATE * ROUTE_TICK_S))
    t1 = time.perf_counter()
    run.fresh_session()
    t2 = time.perf_counter()
    router = _route_pipeline(run, base)[0]
    router.run_stream(os.path.join(base, "cp"), available_now=True)
    router.await_termination()
    router.close()
    t3 = time.perf_counter()
    shutil.rmtree(base, ignore_errors=True)
    run.e2e["setup_s"] = (t3 - run.t_process - (t1 - t0), "s")
    run.layer["session.start_s"] = (run.session_start_s[0], "s")
    run.layer["session.warmup_s"] = (t3 - t2, "s")


def _msg_table(paths: list[str]) -> pa.Table:
    """uuid, payload, due (int64 ns), correlation/poison flags of the given
    parquet files, plus the index of the file each row came from."""
    parts = []
    for i, p in enumerate(paths):
        t = pq.read_table(p, columns=["uuid", "payload", "metadata"])
        md = t.column("metadata")
        parts.append(pa.table({
            "uuid": t.column("uuid"),
            "payload": t.column("payload"),
            "due": pc.cast(pc.map_lookup(md, pa.scalar(gen.DUE_KEY), "first"), pa.int64()),
            "corr": pc.is_valid(pc.map_lookup(md, pa.scalar("correlation_id"), "first")),
            "poisoned": pc.is_valid(pc.map_lookup(
                md, pa.scalar("_watermill_reason_poisoned"), "first")),
            "file": pa.array([i] * t.num_rows, pa.int32()),
        }))
    if not parts:
        return pa.table({"uuid": pa.array([], pa.string())})
    return pa.concat_tables(parts)


def _parquet_files(d: str) -> list[str]:
    if not os.path.isdir(d):
        return []
    return sorted(os.path.join(d, f) for f in os.listdir(d) if f.endswith(".parquet"))


def _route_gate(run: Run, base: str, out_pub: TimedPublisher,
                late_window: tuple[int, int] | None = None) -> tuple[np.ndarray, np.ndarray]:
    """Consumer-view gate, one attempted operation per input message: it is
    delivered exactly once to out or DLQ, the DLQ holds exactly the
    ``fail_rows`` set (stamped as poisoned), each out row carries the
    transformed payload, its due stamp and a correlation id, and (open loop:
    messages due inside ``late_window``, the measured load) it arrived within
    LATENCY_LIMIT_MS. One more operation checks that nothing outside the
    input was delivered and nothing twice.

    Returns (due ns, publish-return ns) arrays of the delivered messages."""
    topics = os.path.join(base, "topics")
    inp = _msg_table(_parquet_files(os.path.join(topics, "in")))
    dlq = _msg_table(_parquet_files(os.path.join(topics, "dlq")))
    out_files, done = [], []
    for rec in out_pub.records:
        for f in rec["files"]:
            out_files.append(os.path.join(topics, "out", f))
            done.append(rec["done_ns"])
    out = _msg_table(out_files)
    n_in = inp.num_rows
    fail = pa.array([gen.expect_fail(u) for u in inp.column("uuid").to_pylist()])
    want = pc.cast(pc.utf8_upper(pc.cast(inp.column("payload"), pa.string())), pa.binary())
    inp = pa.table({"uuid": inp.column("uuid"), "fail": fail, "want": want,
                    "due": inp.column("due"), "row": pa.array(np.arange(n_in))})
    if out.num_rows:
        o = pa.table({"uuid": out.column("uuid"), "o_payload": out.column("payload"),
                      "o_due": out.column("due"), "corr": out.column("corr"),
                      "done": pa.array(np.asarray(done, dtype=np.int64)[
                          out.column("file").to_numpy()])})
        j = inp.join(o, "uuid", join_type="left outer")
    else:
        j = inp.append_column("o_payload", pa.nulls(n_in, pa.binary()))
    in_dlq = pc.is_in(j.column("uuid"), dlq.column("uuid")) if dlq.num_rows \
        else pa.array(np.zeros(j.num_rows, bool))
    poisoned = pc.is_in(j.column("uuid"), pc.filter(dlq.column("uuid"), dlq.column("poisoned"))) \
        if dlq.num_rows else in_dlq
    has_out = pc.is_valid(j.column("o_payload"))
    good_fail = pc.and_(pc.and_(poisoned, pc.invert(has_out)), j.column("fail"))
    ok_out = pc.and_kleene(pc.and_kleene(pc.equal(j.column("o_payload"), j.column("want")),
                                         pc.equal(j.column("o_due"), j.column("due"))),
                           j.column("corr")) if out.num_rows else has_out
    good_ok = pc.and_(pc.and_(pc.fill_null(ok_out, False), pc.invert(in_dlq)),
                      pc.invert(j.column("fail")))
    if late_window is not None and out.num_rows:
        due = j.column("due")
        late = pc.and_(
            pc.greater(pc.subtract(pc.fill_null(j.column("done"), 0), due),
                       int(LATENCY_LIMIT_MS * 1e6)),
            pc.and_(pc.greater_equal(due, late_window[0]), pc.less(due, late_window[1])))
        good_ok = pc.and_(good_ok, pc.invert(late))
    good = pc.or_(good_fail, good_ok)
    n_good = pc.sum(good).as_py() or 0
    run.check(True, n_good)
    run.check(False, j.num_rows - n_good)
    # a second delivery (the join duplicates its input row) or a uuid that
    # was never sent fails this one
    run.check(j.num_rows == n_in and out.num_rows == pc.sum(has_out).as_py()
              and dlq.num_rows == pc.sum(in_dlq).as_py())
    delivered = j.filter(has_out)
    return (delivered.column("due").to_numpy(), delivered.column("done").to_numpy())


def _route_layers(run: Run, query, top: int, jobs, lag, done) -> None:
    """Per-layer metrics of a routing phase; router and sources times come
    from the span tree under the phase's ``top`` span."""
    progs = progress_list(query)
    add_batch_spans(run.tracer, progs, top)
    run.layer.update(stream_metrics(progs))
    _, per_batch = np.unique(done, return_counts=True)
    run.layer["stream.rows_per_batch_p50"] = (float(np.median(per_batch)), "rows")
    run.layer["sources.lag_msgs_p90"] = (pct(lag.samples, 90), "msgs")
    run.notes["lag_msgs"] = lag.samples[::4]  # one per second: is the backlog flat?
    run.layer["spark.jobs_per_batch"] = (jobs[0] / len(progs), "jobs")
    run.layer["spark.tasks_per_batch"] = (jobs[1] / len(progs), "tasks")
    tr = run.tracer
    # router self time: the addBatch span minus the publishes inside it
    run.layer["router.batch_ms_p50"] = (statistics.median(tr.durations_ms("addBatch", top)), "ms")
    run.layer["router.self_ms_p50"] = (statistics.median(tr.self_ms("addBatch", top)), "ms")
    for topic in ("out", "dlq"):
        run.layer[f"sources.publish_{topic}_ms_p50"] = (
            statistics.median(tr.durations_ms(f"publish.{topic}", top)), "ms")


def _middleware_layers(run: Run, base: str, handler_calls: int, batches: int) -> None:
    """Error split of the onion, read back from the topics. ``fail_rows``
    is deterministic, so every row it marks fails its retry too and is
    dead-lettered; the handler-call count shows the retry pass per batch."""
    topics = os.path.join(base, "topics")

    def rows(topic):
        return sum(pq.ParquetFile(f).metadata.num_rows
                   for f in _parquet_files(os.path.join(topics, topic)))

    n_in, n_dlq, n_out = rows("in"), rows("dlq"), rows("out")
    run.layer["middleware.dlq_rows"] = (n_dlq, "rows")
    run.layer["middleware.dlq_ratio"] = (n_dlq / n_in, "ratio")
    run.layer["middleware.handler_calls_per_batch"] = (handler_calls / max(1, batches), "calls")
    run.layer["sources.publish_rows"] = (n_out + n_dlq, "rows")
    run.notes["dlq_ratio_base_rows"] = n_in


def _steady_phase(run: Run, tag: str) -> dict:
    """One open-loop phase: ROUTE_PREROLL_S of warm load, then run.seconds
    measured, then drain. Returns the phase's end-to-end figures."""
    base = run.dir(tag)
    in_dir = os.path.join(base, "topics", "in")
    os.makedirs(in_dir, exist_ok=True)
    router, out_pub, dlq_pub, calls = _route_pipeline(run, base)
    jc = JobCounter(run.spark)
    g = gen.OpenLoopGenerator(in_dir, run.seed, ROUTE_RATE, ROUTE_TICK_S)
    mark = jc.mark()
    pids = (os.getpid(), jvm_pid(run.spark))
    cpu0 = cpu_s(pids)
    with run.tracer.span("workload", workload="route_steady") as top:
        [query] = router.run_stream(os.path.join(base, "cp"), available_now=False,
                                    processing_time=ROUTE_TRIGGER)
        lag = LagSampler(lambda: g.msgs,
                         lambda: out_pub.rows_published() + dlq_pub.rows_published(),
                         ROUTE_TICK_S, run.tracer)
        lag.start()
        g.start()
        time.sleep(ROUTE_PREROLL_S + run.seconds + ROUTE_TICK_S)
        g.stop_event.set()
        g.join()
        query.processAllAvailable()
        cpu = cpu_s(pids) - cpu0 - g.cpu_s
        lag.stop()
    if g.error is not None:
        raise g.error
    jobs = jc.count(mark)
    router.close()
    # the measured window: messages due after the pre-roll
    w0 = g.t0_ns + int(ROUTE_PREROLL_S * 1e9)
    w1 = w0 + int(run.seconds * 1e9)
    t_gate = time.perf_counter()
    due, done = _route_gate(run, base, out_pub, (w0, w1))
    run.notes[f"{tag}_gate_s"] = time.perf_counter() - t_gate
    win = (due >= w0) & (due < w1)
    ms = (done[win] - due[win]) / 1e6
    res = {
        "latency_p50_ms": float(np.median(ms)),
        "latency_p90_ms": pct(ms, 90),
        "throughput_per_s": int(win.sum()) / ((done[win].max() - w0) / 1e9),
        "cpu_us_per_msg": 1e6 * cpu / g.msgs,
    }
    batch_done = np.unique(done[win])
    run.notes[f"{tag}_samples"] = {"messages": len(ms), "batches": len(batch_done),
                                   "batch_ms": np.diff(batch_done / 1e6).round().tolist()}
    run.notes[f"{tag}_gen"] = {"msgs": g.msgs, "files": g.files,
                               "late_p99_ms": pct(g.late_ms, 99)}
    if run.tracer.enabled:
        _route_layers(run, query, top.id, jobs, lag, done)
        _middleware_layers(run, base, calls[0], len(progress_list(query)))
    shutil.rmtree(base, ignore_errors=True)
    return res


def _backlog_phase(run: Run, tag: str, n_files: int | None = None,
                   warm: int = BACKLOG_WARM_BATCHES) -> dict:
    """One closed-loop phase: a seeded backlog (``backlog_files``) drained
    with availableNow and maxFilesPerTrigger (40k messages per micro-batch).
    The first ``warm`` micro-batches are warm-up (batch times still fall
    batch over batch before that); the measured drain starts when the last
    of them is published."""
    base = run.dir(tag)
    if n_files is None:
        n_files = backlog_files(run.seconds)
    n = gen.write_backlog(os.path.join(base, "topics", "in"), run.seed,
                          n_files, BACKLOG_PER_FILE)
    router, out_pub, dlq_pub, calls = _route_pipeline(run, base)
    jc = JobCounter(run.spark)
    mark = jc.mark()
    pids = (os.getpid(), jvm_pid(run.spark))
    cpu0 = cpu_s(pids)
    with run.tracer.span("workload", workload="route_backlog") as top:
        [query] = router.run_stream(os.path.join(base, "cp"), available_now=True,
                                    max_files_per_trigger=BACKLOG_FILES_PER_TRIGGER)
        lag = LagSampler(lambda: n,
                         lambda: out_pub.rows_published() + dlq_pub.rows_published(),
                         ROUTE_TICK_S, run.tracer)
        lag.start()
        router.await_termination()
        cpu = cpu_s(pids) - cpu0
        lag.stop()
    jobs = jc.count(mark)
    router.close()
    t_gate = time.perf_counter()
    _, done = _route_gate(run, base, out_pub)
    run.notes[f"{tag}_gate_s"] = time.perf_counter() - t_gate
    # per message: its micro-batch's interval (previous publish return to
    # its own), after the warm-up batches
    pubs = [r["done_ns"] for r in out_pub.records][warm - 1:]
    interval = {d: (d - prev) / 1e6 for prev, d in zip(pubs, pubs[1:])}
    batch_done, rows = np.unique(done, return_counts=True)
    rows = dict(zip(batch_done.tolist(), rows.tolist()))
    ms = np.repeat([interval[d] for d in interval], [rows[d] for d in interval])
    res = {
        "latency_p50_ms": float(np.median(ms)),
        "latency_p90_ms": pct(ms, 90),
        "throughput_per_s": statistics.median(rows[d] / (interval[d] / 1e3) for d in interval),
        "cpu_us_per_msg": 1e6 * cpu / n,
    }
    run.notes[f"{tag}_samples"] = {"messages": len(ms), "batches": len(interval),
                                   "batch_ms": [round(v) for v in interval.values()]}
    run.notes[f"{tag}_gen"] = {"msgs": n, "files": n_files}
    if run.tracer.enabled:
        _route_layers(run, query, top.id, jobs, lag, done)
        _middleware_layers(run, base, calls[0], len(progress_list(query)))
    shutil.rmtree(base, ignore_errors=True)
    return res


def _measure(run: Run, phase) -> None:
    """The measured phase. Untraced, its figures are the end-to-end metrics;
    traced, they go to the env line (compare with the untraced run of the
    same seed) and the tracing hooks' own busy time is reported."""
    t0 = time.perf_counter()
    res = phase(run, "traced" if run.traced else "untraced")
    wall = time.perf_counter() - t0
    if run.traced:
        run.notes["traced_e2e"] = res
        run.layer["trace.overhead_pct"] = (100.0 * run.tracer.busy_s / wall, "%")
        # minus the untraced run's figures of the same seed: the overhead
        run.layer["trace.latency_p50_ms"] = (res["latency_p50_ms"], "ms")
        run.layer["trace.throughput_per_s"] = (res["throughput_per_s"], "1/s")
    else:
        units = {"latency_p50_ms": "ms", "latency_p90_ms": "ms",
                 "throughput_per_s": "1/s", "cpu_us_per_msg": "us"}
        for k, v in res.items():
            run.e2e[k] = (v, units[k])


def _companions(run: Run) -> None:
    if run.traced:
        ingest_gate(run)
        analytics_suite(run)


def route_steady(run: Run) -> None:
    """Open loop at ROUTE_RATE msg/s into a 500 ms processing-time router."""
    _route_setup(run)
    _measure(run, _steady_phase)
    _companions(run)


def route_backlog(run: Run) -> None:
    """Closed loop: a seeded backlog drained in ~40k-message micro-batches."""
    _route_setup(run)
    _measure(run, _backlog_phase)
    if run.traced:
        single_core_reference(run)
    _companions(run)


def single_core_reference(run: Run) -> None:
    """The backlog phase again on a fresh local[1] session
    (``SPARK_GRAFT_CPUS=1``) — the single-threaded baseline. Recorded in the
    run's env line, not gated; the session is restored afterwards."""
    prev = os.environ.get("SPARK_GRAFT_CPUS")
    enabled, run.tracer.enabled = run.tracer.enabled, False
    os.environ["SPARK_GRAFT_CPUS"] = "1"
    try:
        run.fresh_session()
        # the JVM is already warm: one warm-up batch, one measured
        run.notes["ref1core"] = _backlog_phase(
            run, "ref1core", 2 * BACKLOG_FILES_PER_TRIGGER, warm=1)
    finally:
        if prev is None:
            os.environ.pop("SPARK_GRAFT_CPUS", None)
        else:
            os.environ["SPARK_GRAFT_CPUS"] = prev
        run.tracer.enabled = enabled
        run.fresh_session()


# --------------------------------------------------------- near-dup ingest

INGEST_DOCS, INGEST_PER_FILE, INGEST_FILES_PER_TRIGGER = 6_000, 500, 4


def _docs_to_topic(topic_dir: str, stream: list[tuple[int, str]]) -> None:
    for k in range(0, len(stream), INGEST_PER_FILE):
        gen.write_atomic(gen.doc_table(stream[k:k + INGEST_PER_FILE]), topic_dir,
                         f"part-{k // INGEST_PER_FILE:05d}.parquet")


def _run_gate(run: Run, base: str, stream, per_trigger: int):
    """Attach a fresh StreamingNearDupFilter over ParquetPubSub topics and
    drain ``stream``; returns ((finish rows, rounds) per batch, query,
    seconds). ``process_batch`` and the publishes are traced."""
    from watermill_spark import sources
    from watermill_spark.streaming.dedup import StreamingNearDupFilter

    _docs_to_topic(os.path.join(base, "topics", "docs"), stream)
    filt = StreamingNearDupFilter(run.spark, os.path.join(base, "registry"))
    finish: list[tuple[int, int]] = []
    filt.process_batch = traced(
        filt.process_batch, "process_batch", run.tracer,
        lambda: finish.append((filt.last_finish_rows, filt.last_rounds)))
    pub = TimedPublisher(sources.ParquetPubSub(run.spark, os.path.join(base, "topics")),
                         run.tracer)
    t0 = time.perf_counter()
    query = filt.attach(pub, "docs", "clean", "dups", os.path.join(base, "cp"),
                        trigger_available_now=True, max_files_per_trigger=per_trigger)
    query.awaitTermination()
    elapsed = time.perf_counter() - t0
    filt.release_lease()
    return finish, query, elapsed


def ingest_decisions(run: Run, registry_dir: str, originals: dict[int, str]):
    """Oracle: the filter's one-shot run over every document on a fresh
    registry → (admitted ids, {rejected id: dup_of})."""
    from watermill_spark.streaming.dedup import StreamingNearDupFilter

    oracle = StreamingNearDupFilter(run.spark, registry_dir)
    docs_df = run.spark.createDataFrame(sorted(originals.items()), "doc_id LONG, text STRING")
    adm, rej, rep = oracle.process_batch(docs_df, 0)
    o_adm = {r[0] for r in adm.collect()}
    o_rej = {r[0]: r[1] for r in rej.collect()}
    run.check(not rep.count() and len(o_adm) + len(o_rej) == len(originals))
    return o_adm, o_rej


def check_ingest(run: Run, stream, clean, dups, o_adm, o_rej) -> None:
    """One operation per delivered document: admitted (or replayed) docs
    must be oracle admissions, rejected ones oracle rejections with the
    same ``dup_of``. One more: every delivery was decided exactly once."""
    seen: dict[int, int] = {}
    for d, _ in clean:
        run.check(d in o_adm)
        seen[d] = seen.get(d, 0) + 1
    for d, dup_of in dups:
        run.check(o_rej.get(d) == dup_of)
        seen[d] = seen.get(d, 0) + 1
    sent: dict[int, int] = {}
    for d, _ in stream:
        sent[d] = sent.get(d, 0) + 1
    run.check(seen == sent)


def ingest_gate(run: Run) -> None:
    """Companion phase: INGEST_DOCS seeded documents (20% near-dups, 5%
    redeliveries) through ``StreamingNearDupFilter.attach``, ~2k docs per
    micro-batch. Gate: every delivered document's decision equals the
    filter's one-shot decision on a fresh registry."""
    from watermill_spark.streaming.dedup import DUP_OF

    warm_stream, _ = gen.make_documents(run.seed + 7, INGEST_PER_FILE)
    _run_gate(run, run.dir("ingest-warm"), warm_stream, INGEST_FILES_PER_TRIGGER)

    stream, originals = gen.make_documents(run.seed, INGEST_DOCS)
    base = run.dir("ingest")
    with run.tracer.span("workload", workload="ingest_gate") as top:
        finish, query, elapsed = _run_gate(run, base, stream, INGEST_FILES_PER_TRIGGER)
    topics = os.path.join(base, "topics")

    def delivered(topic):
        files = _parquet_files(os.path.join(topics, topic))
        if not files:
            return []
        t = pa.concat_tables(pq.read_table(f, columns=["metadata"]) for f in files)
        md = t.column("metadata")
        ids = pc.map_lookup(md, pa.scalar("doc_id"), "first").to_pylist()
        dup = pc.map_lookup(md, pa.scalar(DUP_OF), "first").to_pylist()
        return [(int(i), None if d is None else int(d)) for i, d in zip(ids, dup)]

    clean, dups = delivered("clean"), delivered("dups")
    check_ingest(run, stream, clean, dups,
                 *ingest_decisions(run, os.path.join(base, "oracle-registry"), originals))

    if run.tracer.enabled:
        tr = run.tracer
        progs = progress_list(query)
        # sink self time: the addBatch span minus process_batch and the
        # publishes inside it
        add_batch_spans(tr, progs, top.id)
        reg_files = [os.path.join(dp, f) for dp, _, fs in os.walk(os.path.join(base, "registry"))
                     for f in fs if f.endswith(".parquet")]
        sm = stream_metrics(progs)
        for k in ("stream.trigger_ms_p50", "stream.overhead_ms_p50"):
            run.layer[f"ingest.{k}"] = sm[k]
        run.layer["ingest.docs_per_s"] = (len(stream) / elapsed, "1/s")
        run.layer["dedup.process_batch_ms_p50"] = (
            statistics.median(tr.durations_ms("process_batch", top.id)), "ms")
        run.layer["dedup.self_ms_p50"] = (statistics.median(tr.self_ms("addBatch", top.id)), "ms")
        run.layer["dedup.finish_rows_max"] = (max(f for f, _ in finish), "rows")
        run.layer["dedup.rounds_max"] = (max(r for _, r in finish), "rounds")
        run.layer["dedup.registry_rows"] = (
            sum(pq.ParquetFile(f).metadata.num_rows for f in reg_files), "rows")
        replayed = len(clean) - len({d for d, _ in clean})
        run.layer["dedup.admitted"] = (len(clean) - replayed, "docs")
        run.layer["dedup.rejected"] = (len(dups), "docs")
        run.layer["dedup.replayed"] = (replayed, "docs")
        run.layer["dedup.admit_ratio"] = ((len(clean) - replayed) / len(stream), "ratio")
        for topic in ("clean", "dups"):
            run.layer[f"dedup.publish_{topic}_ms_p50"] = (
                statistics.median(tr.durations_ms(f"publish.{topic}", top.id)), "ms")
    shutil.rmtree(base, ignore_errors=True)


# ---------------------------------------------------------------- analytics

ANALYTICS_SCALE = 0.01  # ≈ 60k lineitem rows


def analytics_suite(run: Run) -> None:
    """Companion phase: the 11 ``bench=True`` registry queries on a seeded
    star schema, in the program's default configuration (no serving-mode
    table cache), materialized with ``toPandas``. One untimed warm-up pass,
    then passes in a seed-permuted order until a quarter of ``run.seconds`` elapse
    (at least one). Gate: each warm-up result matches its DuckDB oracle,
    compared order-insensitively by the repository's oracle harness."""
    from tests.oracle_harness import compare, duck_connect
    from watermill_spark.analytics.registry import REGISTRY

    sf_dir = run.dir("tables")
    gen.write_tables(sf_dir, run.seed, ANALYTICS_SCALE)
    bench = {n: q for n, q in REGISTRY.items() if q.bench}
    spark = run.spark
    con = duck_connect(sf_dir)
    for name, q in sorted(bench.items()):
        report = compare(q.fn(spark, sf_dir), con, q.oracle)
        run.check(report["ok"])
        if not report["ok"]:
            run.notes.setdefault("analytics_mismatch", {})[name] = report["detail"][:300]
    con.close()

    rng = random.Random(run.seed)
    times: dict[str, list[float]] = {n: [] for n in bench}
    jc = JobCounter(spark)
    mark = jc.mark()
    passes = 0
    t_end = time.perf_counter() + run.seconds / 4
    while passes < 1 or time.perf_counter() < t_end:
        order = sorted(bench)
        rng.shuffle(order)
        with run.tracer.span("pass"):
            for name in order:
                with run.tracer.span("query", query=name):
                    t0 = time.perf_counter()
                    df = bench[name].fn(spark, sf_dir)
                    with run.tracer.span("toPandas"):
                        df.toPandas()
                    times[name].append(time.perf_counter() - t0)
        passes += 1
    jobs, _ = jc.count(mark)
    for name, ts in times.items():
        run.layer[f"analytics.{name}_s"] = (statistics.median(ts), "s")
    run.layer["analytics.suite_s"] = (sum(statistics.median(ts) for ts in times.values()), "s")
    run.layer["analytics.jobs_per_pass"] = (jobs / passes, "jobs")
