"""Seeded input generators for the benchmark workloads.

Everything the program under test reads is made here, from ``--seed``, with
numpy + pyarrow in the benchmark process — the engine never generates its own
load. Three input families:

- message files for the router workloads (ParquetPubSub topic layout, one
  parquet file per generator tick, written under a dot-name and renamed into
  place so a streaming file source never lists a half-written file);
- document messages for the near-dup ingest gate (payload = text,
  ``metadata["doc_id"]``), with seeded near-duplicates and redeliveries;
- a TPC-H-ish star schema + events/documents/embeddings tables for the
  analytics suite, column-compatible with the registry's queries.
"""

from __future__ import annotations

import os
import threading
import time
import zlib

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

DUE_KEY = "bench_due_ns"  # metadata: epoch-ns time the message was due
FAIL_MOD = 100  # fail_rows predicate: crc32(uuid) % FAIL_MOD == 0 (1%)

MESSAGE_ARROW_SCHEMA = pa.schema(
    [
        pa.field("uuid", pa.string(), nullable=False),
        pa.field("metadata", pa.map_(pa.string(), pa.string())),
        pa.field("payload", pa.binary()),
        pa.field("topic", pa.string()),
        pa.field("event_time", pa.timestamp("us", tz="UTC")),
    ]
)

_LETTERS = np.frombuffer(b"abcdefghijklmnopqrstuvwxyz     ", dtype=np.uint8)


def expect_fail(uuid: str) -> bool:
    """Python twin of the benchmark's ``fail_rows`` predicate (Spark's
    ``crc32`` is java.util.zip.CRC32, the same polynomial as zlib)."""
    return zlib.crc32(uuid.encode()) % FAIL_MOD == 0


def _uuids(rng: np.random.Generator, n: int) -> list[str]:
    h = rng.bytes(16 * n).hex()
    return [f"{h[i:i + 8]}-{h[i + 8:i + 12]}-{h[i + 12:i + 16]}-{h[i + 16:i + 20]}-{h[i + 20:i + 32]}"
            for i in range(0, 32 * n, 32)]


class MessageFactory:
    """Seeded message batches: 100-200 B lowercase payloads, 2-3 metadata
    keys (the due-time stamp, a source, sometimes a tenant)."""

    def __init__(self, seed: int):
        self.rng = np.random.default_rng(seed)

    def table(self, n: int, due_ns: np.ndarray) -> pa.Table:
        rng = self.rng
        uuids = _uuids(rng, n)
        lens = rng.integers(100, 201, size=n)
        buf = _LETTERS[rng.integers(0, len(_LETTERS), size=int(lens.sum()))].tobytes()
        offs = np.concatenate([[0], np.cumsum(lens)]).astype(np.int32)
        payloads = pa.Array.from_buffers(
            pa.binary(), n, [None, pa.py_buffer(offs.tobytes()), pa.py_buffer(buf)])
        srcs = rng.integers(0, 16, size=n)
        tenants = rng.integers(-1, 8, size=n)  # -1: no third key
        present = np.stack([np.ones(n, bool), np.ones(n, bool), tenants >= 0], axis=1)
        keys = np.broadcast_to(np.array([DUE_KEY, "src", "tenant"]), (n, 3))[present]
        items = np.stack([np.asarray(due_ns, dtype=np.int64).astype(str),
                          np.char.add("s", srcs.astype(str)),
                          np.char.add("t", tenants.astype(str))], axis=1)[present]
        md_offs = np.concatenate([[0], np.cumsum(present.sum(axis=1))]).astype(np.int32)
        metadata = pa.MapArray.from_arrays(pa.array(md_offs), pa.array(keys), pa.array(items))
        return pa.table(
            {
                "uuid": pa.array(uuids, pa.string()),
                "metadata": metadata,
                "payload": payloads,
                "topic": pa.nulls(n, pa.string()),
                "event_time": pa.nulls(n, pa.timestamp("us", tz="UTC")),
            },
            schema=MESSAGE_ARROW_SCHEMA,
        )


def write_atomic(table: pa.Table, topic_dir: str, name: str) -> None:
    """Write under a dot-name (ignored by Spark's file listing), then rename
    into place: a streaming file source sees the whole file or nothing."""
    os.makedirs(topic_dir, exist_ok=True)
    tmp = os.path.join(topic_dir, f".{name}.tmp")
    pq.write_table(table, tmp)
    os.rename(tmp, os.path.join(topic_dir, name))


def write_backlog(topic_dir: str, seed: int, n_files: int, per_file: int) -> int:
    """Closed-loop input: every message due now (latency is not measured on
    a backlog). Returns the message count."""
    fac = MessageFactory(seed)
    now = time.time_ns()
    for k in range(n_files):
        write_atomic(fac.table(per_file, np.full(per_file, now)), topic_dir,
                     f"part-{k:05d}.parquet")
    return n_files * per_file


class OpenLoopGenerator(threading.Thread):
    """Fixed-rate open loop: every ``tick_s`` one file of ``rate * tick_s``
    messages, message i stamped due at ``t0 + i / rate``. The file is
    written once its last message is due; a late tick is recorded, never
    skipped (the schedule does not slow down when the system does)."""

    def __init__(self, topic_dir: str, seed: int, rate: int, tick_s: float):
        super().__init__(name="perfbench-gen", daemon=True)
        self.topic_dir = topic_dir
        self.per_file = int(rate * tick_s)
        self.rate = rate
        self.tick_s = tick_s
        self.fac = MessageFactory(seed)
        self.stop_event = threading.Event()
        self.files = 0
        self.msgs = 0
        self.late_ms: list[float] = []
        self.cpu_s = 0.0  # this thread's own CPU time (file generation)
        self.error: BaseException | None = None
        self.t0_ns = 0

    def run(self) -> None:
        try:
            self._loop()
        except BaseException as e:  # surfaced by the workload after join
            self.error = e

    def _loop(self) -> None:
        self.t0_ns = time.time_ns()
        step_ns = 1_000_000_000 // self.rate
        while not self.stop_event.is_set():
            k = self.files
            first = k * self.per_file
            due = self.t0_ns + (first + np.arange(self.per_file)) * step_ns
            c0 = time.thread_time()
            table = self.fac.table(self.per_file, due)
            self.cpu_s += time.thread_time() - c0
            # the file is due when its last message is
            wake_ns = int(due[-1])
            delay = (wake_ns - time.time_ns()) / 1e9
            if delay > 0 and self.stop_event.wait(delay):
                break
            c0 = time.thread_time()
            write_atomic(table, self.topic_dir, f"part-{k:06d}.parquet")
            self.cpu_s += time.thread_time() - c0
            self.late_ms.append((time.time_ns() - wake_ns) / 1e6)
            self.files += 1
            self.msgs += self.per_file


# ---------------------------------------------------------------- documents

def _vocab(n: int) -> list[str]:
    return [f"w{i:x}" for i in range(n)]


def make_documents(seed: int, n_docs: int, vocab_size: int = 20_000,
                   near_dup_frac: float = 0.20, redeliver_frac: float = 0.05,
                   edit_frac: float = 0.05):
    """Seeded ingest stream: returns (stream, originals).

    ``stream`` is a list of (doc_id, text) in delivery order: doc ids ascend
    except for redeliveries, which repeat an earlier (doc_id, text) a few
    hundred messages later (at-least-once). ``originals`` maps doc_id →
    text once per doc. Near-duplicates copy an earlier document with
    ``edit_frac`` of its tokens replaced."""
    rng = np.random.default_rng(seed)
    vocab = _vocab(vocab_size)
    n_redeliver = int(n_docs * redeliver_frac)
    n_unique = n_docs - n_redeliver
    originals: dict[int, str] = {}
    toks_of: list[list[str]] = []
    kinds = rng.random(n_unique)
    for d in range(n_unique):
        if d > 0 and kinds[d] < near_dup_frac:
            base = list(toks_of[int(rng.integers(0, d))])
            n_edit = max(1, int(round(len(base) * edit_frac)))
            for pos in rng.choice(len(base), size=n_edit, replace=False).tolist():
                base[pos] = vocab[int(rng.integers(0, vocab_size))]
            toks = base
        else:
            n = int(rng.integers(60, 201))
            toks = [vocab[i] for i in rng.integers(0, vocab_size, size=n).tolist()]
        toks_of.append(toks)
        originals[d] = " ".join(toks)
    stream: list[tuple[int, str]] = [(d, originals[d]) for d in range(n_unique)]
    # redeliveries: an earlier doc re-sent 200-1000 positions after its
    # first delivery (never inside the same file at realistic file sizes)
    inserts = sorted(
        (int(rng.integers(0, n_unique)), int(rng.integers(200, 1001)))
        for _ in range(n_redeliver)
    )
    for d, gap in reversed(inserts):
        pos = min(len(stream), d + gap)
        stream.insert(pos, (d, originals[d]))
    return stream, originals


def doc_table(batch: list[tuple[int, str]]) -> pa.Table:
    n = len(batch)
    return pa.table(
        {
            "uuid": [f"doc-{d}-{i}" for i, (d, _) in enumerate(batch)],
            "metadata": [[("doc_id", str(d))] for d, _ in batch],
            "payload": [t.encode("utf-8") for _, t in batch],
            "topic": [None] * n,
            "event_time": pa.nulls(n, pa.timestamp("us", tz="UTC")),
        },
        schema=MESSAGE_ARROW_SCHEMA,
    )


# ---------------------------------------------------------------- analytics

_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_PTYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
_LANGS = ["de", "en", "en", "en", "es", "fr", "zh"]
_DOC_WORDS = ("a agg batch big column customer data fast filter group hash join"
              " key line merge order part query row scan slow small sort spark"
              " stream table the value vector window").split()


def _ts_us(start: str, days: np.ndarray, day_us: np.ndarray | None = None):
    base = np.datetime64(start, "us")
    out = base + days.astype("timedelta64[D]").astype("timedelta64[us]")
    if day_us is not None:
        out = out + day_us.astype("timedelta64[us]")
    return pa.array(out, type=pa.timestamp("us"))


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, size=n), 2)


def write_tables(out_dir: str, seed: int, scale: float) -> dict[str, int]:
    """TPC-H-ish tables at ``scale`` (1.0 ≈ 6M lineitem rows), one parquet
    file per table, same column names/types as the registry expects.
    Timestamps are written naive (isAdjustedToUTC=false), like the
    reference testdata. Returns row counts."""
    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)
    n_cust = max(150, int(150_000 * scale))
    n_supp = max(10, int(10_000 * scale))
    n_part = max(200, int(200_000 * scale))
    n_ord = max(1500, int(1_500_000 * scale))
    n_li = n_ord * 4
    n_ev = max(1000, int(1_000_000 * scale))
    n_doc = max(200, int(50_000 * scale))
    n_emb = max(200, int(20_000 * scale))
    i32 = lambda a: pa.array(np.asarray(a, dtype=np.int32))  # noqa: E731
    i64 = lambda a: pa.array(np.asarray(a, dtype=np.int64))  # noqa: E731
    tables = {
        "region": pa.table({"r_regionkey": i32(range(5)), "r_name": _REGIONS}),
        "nation": pa.table({
            "n_nationkey": i32(range(25)),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": i32([i % 5 for i in range(25)]),
        }),
        "customer": pa.table({
            "c_custkey": i64(range(n_cust)),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": i32(rng.integers(0, 25, n_cust)),
            "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
            "c_mktsegment": [_SEGMENTS[i] for i in rng.integers(0, 5, n_cust)],
        }),
        "supplier": pa.table({
            "s_suppkey": i64(range(n_supp)),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": i32(rng.integers(0, 25, n_supp)),
            "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
        }),
        "part": pa.table({
            "p_partkey": i64(range(n_part)),
            "p_name": [f"part {i % 97}" for i in range(n_part)],
            "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, n_part)],
            "p_type": [_PTYPES[i] for i in rng.integers(0, 6, n_part)],
            "p_size": i32(rng.integers(1, 51, n_part)),
            "p_retailprice": np.round(900 + (np.arange(n_part) % 1000) / 10, 2),
        }),
    }
    tables["orders"] = pa.table({
        "o_orderkey": i64(range(n_ord)),
        "o_custkey": i64(rng.integers(0, n_cust, n_ord)),
        "o_orderstatus": [("F", "O", "P")[i] for i in rng.integers(0, 3, n_ord)],
        "o_totalprice": _money(rng, 1000, 500_000, n_ord),
        "o_orderdate": _ts_us("1995-01-01", rng.integers(0, 2404, n_ord)),
        "o_orderpriority": [_PRIORITIES[i] for i in rng.integers(0, 5, n_ord)],
    })
    qty = rng.integers(1, 51, n_li).astype(np.float64)
    tables["lineitem"] = pa.table({
        "l_orderkey": i64(rng.integers(0, n_ord, n_li)),
        "l_partkey": i64(rng.integers(0, n_part, n_li)),
        "l_suppkey": i64(rng.integers(0, n_supp, n_li)),
        "l_linenumber": i32(rng.integers(1, 8, n_li)),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900, 2100, n_li), 2),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": [("A", "N", "R")[i] for i in rng.integers(0, 3, n_li)],
        "l_linestatus": [("F", "O")[i] for i in rng.integers(0, 2, n_li)],
        "l_shipdate": _ts_us("1995-01-02", rng.integers(0, 2498, n_li)),
    })
    tables["events"] = pa.table({
        "event_id": i64(range(n_ev)),
        "ts": _ts_us("2024-01-01", np.sort(rng.integers(0, 30, n_ev)),
                     rng.integers(0, 86_400_000_000, n_ev)),
        "user_id": i64(rng.integers(0, max(15, n_ev // 66), n_ev)),
        "event_type": [_EVENT_TYPES[i] for i in rng.integers(0, 5, n_ev)],
        "value": np.round(rng.exponential(50.0, n_ev), 2),
        "props": [f'{{"k": {i}}}' for i in rng.integers(0, 100, n_ev)],
    })
    texts = []
    for i in range(n_doc):
        if i > 0 and rng.random() < 0.2:  # exact / near copies → clusters
            src = texts[int(rng.integers(0, i))]
            texts.append(src)
            continue
        n = int(rng.integers(8, 80))
        texts.append(" ".join(_DOC_WORDS[j] for j in rng.integers(0, len(_DOC_WORDS), n)))
    tables["documents"] = pa.table({
        "doc_id": i64(range(n_doc)),
        "text": texts,
        "lang": [_LANGS[i] for i in rng.integers(0, len(_LANGS), n_doc)],
        "source": [f"src{i % 20}" for i in range(n_doc)],
        "n_chars": i64([len(t) for t in texts]),
    })
    emb = rng.normal(0, 0.125, size=(n_emb, 64)).astype(np.float32)
    tables["embeddings"] = pa.table({
        "vec_id": i64(range(n_emb)),
        "embedding": pa.array(list(emb), type=pa.list_(pa.float32())),
        "label": i32(rng.integers(0, 10, n_emb)),
    })
    counts = {}
    for name, t in tables.items():
        pq.write_table(t, os.path.join(out_dir, f"{name}.parquet"))
        counts[name] = t.num_rows
    return counts
