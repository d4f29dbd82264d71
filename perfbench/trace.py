"""Measurement plumbing: spans, publish timing, stream progress, job counts,
memory.

Everything here observes the program from outside through public surfaces:
a ``PubSub`` decorator around the transports the benchmark hands to the
program, ``StreamingQuery.recentProgress``, the SparkContext status tracker,
and ``/proc``. No program code is patched.
"""

from __future__ import annotations

import datetime as _dt
import json
import os
import statistics
import threading
import time

import numpy as np
import pyarrow.parquet as pq

from watermill_spark.sources.decorator import ForwardingPubSubDecorator


def pct(values, q: float) -> float:
    """Linear-interpolated percentile (q in 0..100)."""
    vals = list(values)
    if not vals:
        raise ValueError("percentile of no samples")
    return float(np.percentile(vals, q))


class Tracer:
    """In-memory spans (name, start, end, parent, run id). Disabled tracers
    record nothing and cost one attribute check per call site."""

    def __init__(self, enabled: bool, run_id: str):
        self.enabled = enabled
        self.run_id = run_id
        self.spans: list[dict] = []
        self.busy_s = 0.0  # time spent inside tracing hooks, all threads
        self._lock = threading.Lock()
        self._local = threading.local()
        self.root: int | None = None  # open top-level span, for other threads

    def add(self, name: str, start: float, end: float, parent: int | None = None,
            **attrs) -> int:
        """Record a finished span (perf_counter seconds); returns its id."""
        if not self.enabled:
            return -1
        t0 = time.perf_counter()
        with self._lock:
            sid = len(self.spans)
            self.spans.append({"id": sid, "name": name, "start": start, "end": end,
                               "parent": parent, "run": self.run_id, **attrs})
            self.busy_s += time.perf_counter() - t0
        return sid

    def current(self) -> int | None:
        """Innermost open span of this thread, else the open top-level span
        (foreachBatch callbacks run on Py4J threads)."""
        parent = getattr(self._local, "parent", None)
        return self.root if parent is None else parent

    def span(self, name: str, **attrs):
        return _SpanCtx(self, name, attrs)

    def find(self, name: str, root: int) -> list[dict]:
        """Spans called ``name`` in the subtree of span ``root``."""
        out = []
        for s in self.spans:
            if s is None or s["name"] != name:
                continue
            p = s["parent"]
            while p is not None and p != root:
                p = self.spans[p]["parent"]
            if p == root:
                out.append(s)
        return out

    def durations_ms(self, name: str, root: int) -> list[float]:
        return [1000 * (s["end"] - s["start"]) for s in self.find(name, root)]

    def self_ms(self, name: str, root: int) -> list[float]:
        """Self time of each ``name`` span under ``root``: its duration
        minus the durations of its direct children."""
        child_s: dict[int, float] = {}
        for s in self.spans:
            if s is not None and s["parent"] is not None:
                child_s[s["parent"]] = child_s.get(s["parent"], 0.0) + s["end"] - s["start"]
        return [1000 * (s["end"] - s["start"] - child_s.get(s["id"], 0.0))
                for s in self.find(name, root)]

    def dump(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s) + "\n")


class _SpanCtx:
    def __init__(self, tracer: Tracer, name: str, attrs: dict):
        self.t, self.name, self.attrs = tracer, name, attrs
        self.id = -1

    def __enter__(self):
        self.start = time.perf_counter()
        self.prev = self.t.current()
        if self.t.enabled:
            with self.t._lock:
                self.id = len(self.t.spans)
                self.t.spans.append(None)  # reserve; children may finish first
            self.t._local.parent = self.id
            if self.prev is None:
                self.t.root = self.id
        return self

    def __exit__(self, *exc):
        end = time.perf_counter()
        if self.id >= 0:
            self.t.spans[self.id] = {"id": self.id, "name": self.name,
                                     "start": self.start, "end": end,
                                     "parent": self.prev, "run": self.t.run_id,
                                     **self.attrs}
            self.t._local.parent = self.prev
            if self.t.root == self.id:
                self.t.root = None
        return False


class TimedPublisher(ForwardingPubSubDecorator):
    """Publisher decorator: a ``publish.<topic>`` span per publish, plus a
    record of its return time and the parquet files it added to the topic
    directory (so per-message delivery times can be read back from those
    files afterwards)."""

    def __init__(self, inner, tracer: Tracer):
        super().__init__(inner)
        self.tracer = tracer
        self.records: list[dict] = []
        self._rows: dict[str, int] = {}

    def _files(self, topic: str) -> set[str]:
        d = self.inner._dir(topic)
        try:
            return {f for f in os.listdir(d) if f.endswith(".parquet")}
        except FileNotFoundError:
            return set()

    def subscribe_stream(self, topic, **kw):
        # forwards max_files_per_trigger (the dedup attach passes it)
        return self.inner.subscribe_stream(topic, **kw)

    def publish(self, topic, df) -> None:
        before = self._files(topic)
        with self.tracer.span(f"publish.{topic}"):
            self.inner.publish(topic, df)
        self.records.append({"topic": topic, "done_ns": time.time_ns(),
                             "files": sorted(self._files(topic) - before)})

    def rows_published(self) -> int:
        """Rows in the files recorded so far (parquet footers, cached)."""
        total = 0
        for rec in list(self.records):
            for f in rec["files"]:
                path = os.path.join(self.inner._dir(rec["topic"]), f)
                if path not in self._rows:
                    self._rows[path] = pq.ParquetFile(path).metadata.num_rows
                total += self._rows[path]
        return total


def traced(fn, name: str, tracer: Tracer, after=None):
    """Wrap one bound method of one instance (e.g. a filter's public
    ``process_batch``) in a span; ``after`` runs once each call returns."""
    def call(*a, **kw):
        with tracer.span(name):
            out = fn(*a, **kw)
        if after is not None:
            after()
        return out
    return call


class LagSampler(threading.Thread):
    """Samples generated-minus-delivered messages every ``tick_s`` (reads
    the footers of newly published files, so only when the tracer is
    enabled; the sampling counts as tracing time)."""

    def __init__(self, generated, delivered, tick_s: float, tracer: Tracer):
        super().__init__(name="perfbench-lag", daemon=True)
        self.generated, self.delivered, self.tick_s = generated, delivered, tick_s
        self.tracer = tracer
        self.enabled = tracer.enabled
        self.samples: list[int] = []
        self._stop_event = threading.Event()

    def run(self) -> None:
        while self.enabled and not self._stop_event.wait(self.tick_s):
            t0 = time.perf_counter()
            self.samples.append(self.generated() - self.delivered())
            with self.tracer._lock:
                self.tracer.busy_s += time.perf_counter() - t0

    def stop(self) -> None:
        self._stop_event.set()
        self.join(timeout=30)


def progress_list(query) -> list[dict]:
    """Batches that read input, from ``StreamingQuery.recentProgress``."""
    return [p for p in query.recentProgress if p.numInputRows > 0]


def progress_interval(p) -> tuple[float, float]:
    """(start, end) of a progress event as epoch seconds."""
    ts = _dt.datetime.strptime(p.timestamp, "%Y-%m-%dT%H:%M:%S.%fZ")
    start = ts.replace(tzinfo=_dt.timezone.utc).timestamp()
    return start, start + p.durationMs.get("triggerExecution", 0) / 1000.0


def add_batch_spans(tracer: Tracer, progs: list, root: int) -> None:
    """Micro-batch spans under ``root`` from the query's progress (epoch
    timestamps mapped onto the tracer's clock), each with an ``addBatch``
    child: the foreachBatch call, which ends before the offsets commit.
    Spans recorded under ``root`` during a micro-batch (publishes,
    ``process_batch``; they ran on Py4J callback threads) become children of
    its addBatch span."""
    if not tracer.enabled:
        return
    offset = time.time() - time.perf_counter()
    batches = []
    for p in progs:
        s, e = (t - offset for t in progress_interval(p))
        mb = tracer.add("micro_batch", s, e, root, batch_id=p.batchId)
        add_end = e - p.durationMs.get("commitOffsets", 0) / 1000.0
        batches.append((s, e, tracer.add(
            "addBatch", add_end - p.durationMs.get("addBatch", 0) / 1000.0, add_end, mb)))
    for span in tracer.spans:
        if span is None or span["parent"] != root or span["name"] == "micro_batch":
            continue
        for s, e, ab in batches:
            # progress timestamps have millisecond resolution
            if s - 0.01 <= span["start"] and span["end"] <= e + 0.01:
                span["parent"] = ab
                break


def stream_metrics(progs: list) -> dict:
    """spark.stream layer: micro-batch counts and phase durations.
    (``numInputRows`` counts every scan of the micro-batch, so rows per
    batch are taken from what the sink published instead.)"""
    def med(key):
        vals = [p.durationMs.get(key, 0) for p in progs]
        return statistics.median(vals) if vals else 0.0

    trig = [p.durationMs.get("triggerExecution", 0) for p in progs]
    over = [p.durationMs.get("triggerExecution", 0) - p.durationMs.get("addBatch", 0)
            for p in progs]
    return {
        "stream.batches": (len(progs), "count"),
        "stream.trigger_ms_p50": (statistics.median(trig), "ms"),
        "stream.trigger_ms_p90": (pct(trig, 90), "ms"),
        "stream.overhead_ms_p50": (statistics.median(over), "ms"),
        "stream.latest_offset_ms_p50": (med("latestOffset"), "ms"),
        "stream.query_planning_ms_p50": (med("queryPlanning"), "ms"),
        "stream.wal_commit_ms_p50": (med("walCommit"), "ms"),
        "stream.commit_offsets_ms_p50": (med("commitOffsets"), "ms"),
    }


class JobCounter:
    """spark.jobs layer: jobs and tasks started between two marks. Job ids
    are sequential per SparkContext, and nothing else runs in the
    benchmark's session while a mark is open."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.tracker = self.sc.statusTracker()

    def mark(self) -> int:
        """Highest job id handed out so far (ids start at 0)."""
        return self.sc._jsc.sc().dagScheduler().numTotalJobs() - 1

    def count(self, since: int) -> tuple[int, int]:
        """(jobs, tasks) with id > since."""
        hi = self.mark()
        jobs = tasks = 0
        for jid in range(since + 1, hi + 1):
            info = self.tracker.getJobInfo(jid)
            if info is None:
                continue
            jobs += 1
            for sid in info.stageIds:
                st = self.tracker.getStageInfo(sid)
                if st is not None:
                    tasks += st.numTasks
        return jobs, tasks


def _vm_hwm_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except (FileNotFoundError, ProcessLookupError):
        pass
    return 0


def cpu_s(pids) -> float:
    """User + system CPU seconds used so far by the given processes (all
    their threads; time the host stole from the VM is not counted)."""
    total = 0
    for pid in pids:
        with open(f"/proc/{pid}/stat") as f:
            fields = f.read().rsplit(")", 1)[1].split()
        total += int(fields[11]) + int(fields[12])  # utime, stime
    return total / os.sysconf("SC_CLK_TCK")


def jvm_pid(spark) -> int | None:
    proc = getattr(spark.sparkContext._gateway, "proc", None)
    return proc.pid if proc is not None else None


def peak_rss_mb(spark) -> float:
    """Peak resident memory of the Python process plus the JVM (MB)."""
    kb = _vm_hwm_kb(os.getpid())
    pid = jvm_pid(spark)
    if pid is not None:
        kb += _vm_hwm_kb(pid)
    return kb / 1024.0


def live_heap_mb(spark) -> float:
    """JVM heap still in use after full collections (MB): what the session
    retains once the work is done — caches, plans, status stores."""
    jvm = spark.sparkContext._jvm
    for _ in range(3):  # the ContextCleaner frees blocks after a collection
        jvm.java.lang.System.gc()
        time.sleep(0.5)
    rt = jvm.java.lang.Runtime.getRuntime()
    return (rt.totalMemory() - rt.freeMemory()) / 2**20
