"""Shared pieces of the benchmark: statistics, spans, the host
calibration, Spark progress readers, seeded input generators and the
output checks.

Nothing here imports pyspark at module load, so ``run.py`` can set the
environment (slot count, temp dirs, PYTHONPATH for Python workers)
before the JVM starts.
"""

from __future__ import annotations

import json
import os
import random
import statistics
import threading
import time
import zlib
from contextlib import contextmanager
from datetime import datetime

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
FIXTURES = os.path.join(ROOT, "fixtures")

# Replica-invariant payload columns (decoded bytes + enrichment flags,
# never the replica-varying signature/slot/recv_us envelope); the same
# set the dex_pipeline_throughput self-check hashes.
CHECK_COLS = ("mint", "user", "sol_amount", "token_amount", "amount_in",
              "amount_out", "swap_from_mint", "swap_to_mint",
              "swap_from_amount", "swap_to_amount",
              "is_dev_create_token_trade", "is_bot")

# Replica r of the fixture gets slot + r * SLOT_STRIDE (fixture slots
# span 1001..1047, so replicas never share a slot).
SLOT_STRIDE = 10_000


# -- statistics ---------------------------------------------------------

def median(xs):
    return float(statistics.median(xs)) if xs else float("nan")


# -- spans --------------------------------------------------------------

class Tracer:
    """In-memory spans around the benchmark's own calls into each
    layer: (name, start, end, parent). Disabled tracers record
    nothing and cost one attribute check per span."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        idx = len(self.spans)
        parent = self._stack[-1] if self._stack else None
        self.spans.append({"name": name, "start": time.perf_counter(),
                           "end": None, "parent": parent})
        self._stack.append(idx)
        try:
            yield
        finally:
            self._stack.pop()
            self.spans[idx]["end"] = time.perf_counter()

    def summary(self) -> dict:
        """name -> (count, total_ms, self_ms); self time is the span's
        duration minus the part its child spans cover."""
        child = [0.0] * len(self.spans)
        for s in self.spans:
            if s["parent"] is not None and s["end"] is not None:
                child[s["parent"]] += s["end"] - s["start"]
        out: dict = {}
        for i, s in enumerate(self.spans):
            if s["end"] is None:
                continue
            n, tot, own = out.get(s["name"], (0, 0.0, 0.0))
            dur = s["end"] - s["start"]
            out[s["name"]] = (n + 1, tot + dur * 1e3,
                              own + (dur - child[i]) * 1e3)
        return out


# -- host calibration ---------------------------------------------------

def calibrate(spark) -> float:
    """Fixed work whose time tracks host speed: a pure-Python loop plus
    one small fixed Spark job. Reported beside the metrics, never used
    to scale them."""
    t0 = time.perf_counter()
    acc = 0
    for i in range(1_500_000):
        acc = (acc + i * i) % 1_000_003
    n = spark.range(0, 300_000, numPartitions=4) \
        .selectExpr("sum(id % 7) AS s").collect()[0]["s"]
    if n is None or acc < 0:
        raise RuntimeError("calibration job returned nothing")
    return (time.perf_counter() - t0) * 1e3


def host_info(seed: int) -> dict:
    commit = "unknown"      # a checkout without .git has no commit id
    try:
        with open(os.path.join(ROOT, ".git", "HEAD")) as f:
            ref = f.read().strip()
        if ref.startswith("ref: "):
            with open(os.path.join(ROOT, ".git", ref[5:])) as f:
                ref = f.read().strip()
        commit = ref
    except OSError:
        pass
    return {"nproc": os.cpu_count(),
            "SPARK_GRAFT_CPUS": os.environ.get("SPARK_GRAFT_CPUS"),
            "seed": seed, "commit": commit,
            "loadavg": list(os.getloadavg())}


# -- process hygiene ---------------------------------------------------

def _proc_stat(pid: int):
    """(state, ppid, start time) of a process from /proc, or None once
    it is gone."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            fields = f.read().rsplit(")", 1)[1].split()
    except (OSError, IndexError):
        return None
    return fields[0], int(fields[1]), fields[19]


def descendants(root: int) -> dict:
    """Every live process below ``root``: pid -> start time (the start
    time tells a pid apart from a later process that reuses it)."""
    kids: dict = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            st = _proc_stat(int(name))
            if st is not None and st[0] != "Z":
                kids.setdefault(st[1], []).append((int(name), st[2]))
    out, todo = {}, [root]
    while todo:
        for pid, start in kids.get(todo.pop(), []):
            out[pid] = start
            todo.append(pid)
    return out


def _alive(pid: int, start: str) -> bool:
    st = _proc_stat(pid)
    return st is not None and st[0] != "Z" and st[2] == start


def stop_processes(timeout_s: float = 60.0) -> None:
    """Stop the Spark JVM this process launched and everything below it
    (Python workers), and wait until each has ended. The JVM exits when
    its stdin closes; what is still running at the deadline is killed.
    Processes that outlive this one would serve later runs."""
    import signal
    procs = descendants(os.getpid())
    try:
        from pyspark import SparkContext
        gw = SparkContext._gateway
    except ImportError:
        gw = None
    jvm = getattr(gw, "proc", None)
    if jvm is not None:
        try:
            jvm.stdin.close()
            jvm.wait(timeout_s)
        except Exception:       # noqa: BLE001 - escalate below
            pass
    deadline = time.time() + timeout_s
    sig = None
    while True:
        procs.update(descendants(os.getpid()))
        procs = {p: s for p, s in procs.items() if _alive(p, s)}
        if not procs:
            break
        if time.time() > deadline and sig is not signal.SIGKILL:
            sig = signal.SIGTERM if sig is None else signal.SIGKILL
            deadline = time.time() + 10
            for pid in procs:
                try:
                    os.kill(pid, sig)
                except OSError:
                    pass
        elif time.time() > deadline:
            raise RuntimeError(f"processes {sorted(procs)} did not end")
        time.sleep(0.05)
        if jvm is not None:
            jvm.poll()          # reap the JVM once it has exited


# -- Spark progress readers ---------------------------------------------

def progress_rows(query) -> list[dict]:
    """Data-carrying triggers of a query, in order, from the query's own
    progress record (synchronous, unlike listener events): batch id,
    start time (epoch s), rows, phase durations."""
    out = []
    for p in query.recentProgress:
        if not p.numInputRows:
            continue
        ts = datetime.fromisoformat(p.timestamp.replace("Z", "+00:00"))
        out.append({"batch_id": p.batchId, "start": ts.timestamp(),
                    "rows": p.numInputRows,
                    "duration_ms": dict(p.durationMs or {})})
    return out


def jobs_in_group(spark, group: str) -> int:
    """Jobs Spark launched under one job group (a stream's jobs carry
    its runId as group id)."""
    return len(spark.sparkContext.statusTracker().getJobIdsForGroup(group))


class Py4jCounter:
    """Counts py4j round trips from this driver to the JVM by wrapping
    the gateway client's send_command (traced runs only)."""

    def __init__(self, spark):
        self.client = spark.sparkContext._gateway._gateway_client
        self.calls = 0
        self._lock = threading.Lock()
        orig = self.client.send_command

        def counted(*a, **kw):
            with self._lock:
                self.calls += 1
            return orig(*a, **kw)

        self._orig = orig
        self.client.send_command = counted

    def close(self):
        self.client.send_command = self._orig


# -- seeded inputs: replayed transactions --------------------------------

class TxFactory:
    """Replicas of the 47-transaction fixture, each with unique
    signatures (``<sig>_<rep>``) and slots (slot + rep * SLOT_STRIDE),
    so every replica decodes to the golden events of the fixture."""

    def __init__(self):
        import pyarrow.parquet as pq
        self.raw = pq.read_table(
            os.path.join(FIXTURES, "raw_transactions.parquet"))
        with open(os.path.join(FIXTURES, "meta.json")) as f:
            self.bot_wallet = json.load(f)["bot_wallet"]

    @property
    def tx_per_rep(self) -> int:
        return self.raw.num_rows

    def table(self, first_rep: int, n_reps: int, recv_us: int | None):
        import pyarrow as pa
        import pyarrow.compute as pc
        raw = self.raw
        parts = []
        for r in range(first_rep, first_rep + n_reps):
            t = raw.set_column(
                raw.schema.get_field_index("signature"), "signature",
                pc.binary_join_element_wise(raw["signature"],
                                            pa.scalar(f"_{r}"), ""))
            t = t.set_column(t.schema.get_field_index("slot"), "slot",
                             pc.add(raw["slot"], r * SLOT_STRIDE))
            if recv_us is not None:
                t = t.set_column(
                    t.schema.get_field_index("recv_us"), "recv_us",
                    pa.array([recv_us] * raw.num_rows, pa.int64()))
            parts.append(t)
        return pa.concat_tables(parts)

    def write(self, directory: str, name: str, first_rep: int,
              n_reps: int, recv_us: int | None = None,
              mtime: float | None = None) -> str:
        """Write one replay file atomically: a hidden temp name (the
        file source skips names starting with '.') renamed into
        place."""
        import pyarrow.parquet as pq
        os.makedirs(directory, exist_ok=True)
        tmp = os.path.join(directory, f".{name}.tmp")
        path = os.path.join(directory, name)
        pq.write_table(self.table(first_rep, n_reps, recv_us), tmp)
        if mtime is not None:
            os.utime(tmp, (mtime, mtime))
        os.rename(tmp, path)
        return path


class EventCheck:
    """Expected output of n fixture replicas: per event_type,
    n x golden count and n x golden payload checksum."""

    def __init__(self, spark):
        golden = spark.read.parquet(
            os.path.join(FIXTURES, "events_golden.parquet")).collect()
        self.counts, self.sums = self.tally(golden)

    @staticmethod
    def tally(rows) -> tuple[dict, dict]:
        counts: dict = {}
        sums: dict = {}
        if not rows:
            return counts, sums
        fields = rows[0].__fields__
        et = fields.index("event_type")
        idx = [fields.index(c) for c in CHECK_COLS]
        for r in rows:
            k = r[et]
            counts[k] = counts.get(k, 0) + 1
            sums[k] = sums.get(k, 0) + zlib.crc32(
                repr(tuple(r[i] for i in idx)).encode())
        return counts, sums

    def ok(self, counts: dict, sums: dict, n_reps: int) -> bool:
        return (counts == {k: v * n_reps for k, v in self.counts.items()}
                and sums == {k: v * n_reps for k, v in self.sums.items()})


# -- seeded inputs: documents for the maintained dedup index -------------

def make_doc_batches(seed: int, n_batches: int, docs_per_batch: int
                     ) -> tuple[list, set]:
    """Synthetic (doc_id, text) batches and the ids of their near
    duplicates. Fresh docs draw 30-60 words from a 4,000-word
    vocabulary, so two fresh docs share almost no shingles; about one
    doc in five is a near duplicate (one word appended, shingle
    Jaccard above 0.9) of an earlier fresh doc of this or any earlier
    batch. Batch b's ids are b * 1e6 + j."""
    rng = random.Random(seed)
    vocab = [f"w{i}" for i in range(4000)]
    pool: list[str] = []
    batches, dups = [], set()
    for b in range(n_batches):
        rows = []
        for j in range(docs_per_batch):
            did = b * 1_000_000 + j
            if pool and rng.random() < 0.2:
                text = rng.choice(pool) + " " + rng.choice(vocab)
                dups.add(did)
            else:
                text = " ".join(rng.choice(vocab)
                                for _ in range(rng.randint(30, 60)))
                pool.append(text)
            rows.append((did, text))
        batches.append(rows)
    return batches, dups


# -- seeded inputs: tables for the LLM-data catalog queries --------------

_WORDS = ("a agg batch big column customer data dup fast filter group "
          "hash join key line merge order part query row scan slow small "
          "sort spark stream table the value vector window").split()


def write_catalog_tables(sf_dir: str, seed: int, n_docs: int,
                         n_vecs: int) -> None:
    """documents/embeddings parquet in the shape of the catalog's
    testdata: 10-100 words from a 31-word vocabulary, five languages,
    20 sources; 64-dim unit float vectors with labels 0-9."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq
    rng = np.random.default_rng(seed)
    os.makedirs(sf_dir, exist_ok=True)
    langs = np.array(["en", "zh", "es", "fr", "de"])
    texts = [" ".join(rng.choice(_WORDS, size=int(rng.integers(10, 101))))
             for _ in range(n_docs)]
    pq.write_table(pa.table({
        "doc_id": pa.array(range(n_docs), pa.int64()),
        "text": texts,
        "lang": list(rng.choice(langs, size=n_docs,
                                p=[0.4, 0.15, 0.15, 0.15, 0.15])),
        "source": [f"src{i % 20}" for i in range(n_docs)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    }), os.path.join(sf_dir, "documents.parquet"))
    v = rng.standard_normal((n_vecs, 64))
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    pq.write_table(pa.table({
        "vec_id": pa.array(range(n_vecs), pa.int64()),
        "embedding": pa.array(list(v.astype(np.float32)),
                              pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n_vecs), pa.int32()),
    }), os.path.join(sf_dir, "embeddings.parquet"))


def frame_hash(pdf) -> str:
    """Order-independent hash of a result frame: the rows normalised
    the way the oracle comparison does (sorted columns and rows,
    dtype-strict cells)."""
    from solana_event_stream_spark.testing import _norm_rows
    cols, rows = _norm_rows(pdf)
    return "%08x" % zlib.crc32(repr((cols, rows)).encode())
