"""The two workloads and the traced layer sweep.

Each workload returns ``(e2e, layers)``: ``e2e`` holds the end-to-end
metrics (computed the same way in traced and untraced runs), ``layers``
the per-layer metrics a traced run adds. Outputs are checked as the
workload runs; every check bumps ``ctx.attempted`` and, when it fails,
``ctx.failed``. The program is driven only through its public
functions.
"""

from __future__ import annotations

import os
import threading
import time

from lib import (EventCheck, Py4jCounter, TxFactory, frame_hash,
                 jobs_in_group, make_doc_batches, median, progress_rows,
                 write_catalog_tables)

# Input sizes: (normal, tiny). A tiny run exists for the smoke test.
SIZES = {
    # stream_drain: fixture replicas per slot-bucket file (43 x 47 =
    # 2,021 tx) and the nominal steady trigger time that turns
    # --seconds into a fixed file count.
    "drain_reps": (43, 2), "drain_trigger_s": (2.2, 1.0),
    # stream_paced: one file of 3 replicas (141 tx) every 0.5 s.
    "paced_reps": (3, 1), "paced_interval_s": (0.5, 0.5),
    # traced sweep, maintained dedup index: documents per batch
    "docs_per_batch": (100, 20),
    # set-up repetitions (the first one is cold) and the fixture
    # replicas in each set-up file
    "setup_reps": (3, 2), "setup_file_reps": (1, 1),
    # traced sweep: fixture replicas in the direct-call batch,
    # catalog table sizes
    "sweep_reps": (40, 2), "catalog_docs": (300, 120),
    "catalog_vecs": (200, 120),     # ann_ivf_topk needs vec_id 100..107
}

# The LLM-data catalog queries the traced sweep builds and checks
# against their DuckDB oracles: the ones the open performance items
# of ROADMAP.md name (Lloyd loop, CC hops, n-gram verify, the IVF
# scorer).
CATALOG_QUERIES = ("ann_ivf_topk", "dedup_clusters", "dedup_ngram_jaccard",
                   "embedding_curation")

PHASES = (("latestOffset", "trigger.latest_offset_ms"),
          ("getBatch", "trigger.get_batch_ms"),
          ("queryPlanning", "trigger.query_planning_ms"),
          ("walCommit", "trigger.wal_commit_ms"),
          ("addBatch", "trigger.add_batch_ms"),
          ("commitOffsets", "trigger.commit_offsets_ms"))


class Ctx:
    def __init__(self, spark, seed: int, seconds: int, trace: bool,
                 tiny: bool, corrupt: bool, work: str, tracer, log):
        self.spark, self.seed, self.seconds = spark, seed, seconds
        self.trace, self.work, self.tracer, self.log = \
            trace, work, tracer, log
        self.tiny = tiny
        # smoke test only: corrupt one output of each kind once
        self._corrupt = {"events", "catalog"} if corrupt else set()
        self.attempted = 0
        self.failed = 0
        self.setup_s: list[float] = []
        self._n = 0

    def size(self, key):
        return SIZES[key][1 if self.tiny else 0]

    def path(self, tag: str) -> str:
        self._n += 1
        return os.path.join(self.work, f"{tag}{self._n}")

    def corrupt(self, kind: str) -> bool:
        if kind in self._corrupt:
            self._corrupt.discard(kind)
            return True
        return False

    def record(self, ok: bool, what: str = "") -> None:
        self.attempted += 1
        if not ok:
            self.failed += 1
            self.log(f"CHECK FAILED: {what}")


class StreamTrace:
    """Traced-run view of one streaming query: phase durations from the
    program's PipelineMetricsListener and jobs from the query's runId
    job group."""

    def __init__(self, ctx: Ctx):
        self.ctx = ctx
        self.collector = None
        if ctx.trace:
            from solana_event_stream_spark.streaming.metrics import \
                PipelineMetricsListener
            self.collector = PipelineMetricsListener()
            self.listener = self.collector.make_listener()
            ctx.spark.streams.addListener(self.listener)

    def layers(self, query, skip: int, queue_wait_ms: list) -> dict:
        if self.collector is None:
            return {}
        want = len(progress_rows(query))
        deadline = time.time() + 15     # listener events are async
        while True:
            data = [p for p in self.collector.progress
                    if p["num_input_rows"]]
            if len(data) >= want or time.time() > deadline:
                break
            time.sleep(0.1)
        self.ctx.spark.streams.removeListener(self.listener)
        rows = data[skip:]
        out = {m: median([p["duration_ms"].get(k, 0) for p in rows])
               for k, m in PHASES}
        out["trigger.rows_in"] = median([p["num_input_rows"]
                                         for p in rows])
        out["trigger.jobs"] = (jobs_in_group(self.ctx.spark,
                                             str(query.runId))
                               / max(1, len(data)))
        out["replay.queue_wait_ms"] = median(queue_wait_ms)
        return out


def _await(query, timeout_s: float, what: str) -> None:
    if not query.awaitTermination(timeout_s):
        query.stop()
        raise RuntimeError(f"{what} did not finish in {timeout_s} s")
    if query.exception() is not None:
        raise RuntimeError(f"{what} failed: {query.exception()}")


def _trigger_ms(query, skip: int) -> list[float]:
    return [p["duration_ms"].get("triggerExecution", 0)
            for p in progress_rows(query)[skip:]]


# -- stream_drain --------------------------------------------------------

def _event_drain(ctx: Ctx, txf: TxFactory, check: EventCheck,
                 n_files: int, reps: int, first_rep: int, marks: list):
    """Write an archive of ``n_files`` slot-bucket files and drain it
    through start_event_stream (availableNow, one file per trigger);
    each callback is checked against reps x golden."""
    from solana_event_stream_spark.sources.replay import \
        read_transaction_stream
    from solana_event_stream_spark.streaming.sink import start_event_stream
    archive = ctx.path("archive")
    base = time.time() - 3600
    for i in range(n_files):
        # strictly increasing mtimes: the file source replays in order
        txf.write(archive, f"f{i:04d}.parquet", first_rep + i * reps,
                  reps, mtime=base + i)

    def callback(rows):
        t = time.time()
        if ctx.corrupt("events"):
            rows = rows[1:]
        counts, sums = EventCheck.tally(rows)
        marks.append({"t": t, "rows": len(rows),
                      "ok": check.ok(counts, sums, reps)})

    stream = read_transaction_stream(ctx.spark, archive,
                                     max_files_per_trigger=1)
    t_start = time.time()
    q = start_event_stream(stream, callback, ctx.path("ckpt"),
                           bot_wallet=txf.bot_wallet)
    return q, t_start


def stream_drain(ctx: Ctx):
    txf = TxFactory()
    check = EventCheck(ctx.spark)
    rep0 = ctx.seed * 1_000_000     # the seed picks the replica ids
    reps = ctx.size("drain_reps")
    for i in range(ctx.size("setup_reps")):
        marks: list = []
        t0 = time.perf_counter()
        q, _ = _event_drain(ctx, txf, check, 1,
                            ctx.size("setup_file_reps"),
                            rep0 + 900_000 + i * 1000, marks)
        _await(q, 170, "set-up drain")
        ctx.setup_s.append(time.perf_counter() - t0)
        for m in marks:
            ctx.record(m["ok"], "set-up drain callback")

    n_files = 1 + max(2, round(ctx.seconds / ctx.size("drain_trigger_s")))
    st = StreamTrace(ctx)
    marks = []
    with ctx.tracer.span("stream_drain.drain"):
        q, t_start = _event_drain(ctx, txf, check, n_files, reps, rep0,
                                  marks)
        _await(q, 170, "drain")
    for m in marks:
        ctx.record(m["ok"], "drain callback")
    ctx.record(len(marks) == n_files,
               f"drain delivered {len(marks)} of {n_files} files")
    # the first trigger of the query is excluded (lesson 2 of README);
    # each later trigger's rate is its events over the time since the
    # previous delivery (one file per trigger, back to back)
    measured = marks[1:]
    rates = [m["rows"] / (m["t"] - prev["t"])
             for prev, m in zip(marks, measured)]
    trig = _trigger_ms(q, 1)
    ctx.log(f"drain per-trigger ms {trig} events/s "
            f"{[round(r) for r in rates]}")
    e2e = {"events_per_s": median(rates), "latency_p50_ms": median(trig)}
    starts = [p["start"] for p in progress_rows(q)]
    layers = st.layers(q, 1, [(s - t_start) * 1e3 for s in starts[1:]])
    return e2e, layers


# -- stream_paced ---------------------------------------------------------

def _paced_query(ctx: Ctx, txf: TxFactory, src: str, on_rows):
    """The DAG start_event_stream builds (build_events_core ->
    foreach_batch_callback) on Structured Streaming's default trigger,
    taking every file that has arrived. The handler wrapper records the
    batch id each callback belongs to."""
    from solana_event_stream_spark.plans.pipeline import build_events_core
    from solana_event_stream_spark.sources.replay import \
        read_transaction_stream
    from solana_event_stream_spark.streaming.sink import \
        foreach_batch_callback
    current = {}
    handler = foreach_batch_callback(lambda rows: on_rows(rows, current),
                                     bot_wallet=txf.bot_wallet)

    def wrapped(df, batch_id):
        current["batch_id"] = batch_id
        handler(df, batch_id)

    stream = read_transaction_stream(ctx.spark, src,
                                     max_files_per_trigger=100_000)
    return (build_events_core(stream).writeStream.foreachBatch(wrapped)
            .option("checkpointLocation", ctx.path("ckpt")).start())


class PacedSink:
    """Per-file delivery record: files are told apart by recv_us, which
    the generator stamps with the file's due time (epoch us)."""

    def __init__(self, ctx: Ctx, check: EventCheck, reps: int):
        self.ctx, self.check, self.reps = ctx, check, reps
        self.files: dict = {}       # recv_us -> delivery record
        self.lock = threading.Lock()

    def __call__(self, rows, current):
        t = time.time()
        if self.ctx.corrupt("events"):
            rows = rows[1:]
        by_file: dict = {}
        if rows:
            i = rows[0].__fields__.index("recv_us")
            for r in rows:
                by_file.setdefault(r[i], []).append(r)
        with self.lock:
            for recv_us, rs in by_file.items():
                counts, sums = EventCheck.tally(rs)
                self.files[recv_us] = {
                    "t": t, "rows": len(rs),
                    "batch_id": current.get("batch_id"),
                    "ok": self.check.ok(counts, sums, self.reps)}

    def wait_for(self, due_us: list, timeout_s: float) -> None:
        deadline = time.time() + timeout_s
        while time.time() < deadline:
            with self.lock:
                if all(d in self.files for d in due_us):
                    return
            time.sleep(0.05)


def stream_paced(ctx: Ctx):
    txf = TxFactory()
    check = EventCheck(ctx.spark)
    reps = ctx.size("paced_reps")
    interval = ctx.size("paced_interval_s")
    rep0 = ctx.seed * 1_000_000
    rep = [rep0]

    def write(src, due):
        txf.write(src, f"f{rep[0]}.parquet", rep[0], reps,
                  recv_us=int(due * 1e6))
        rep[0] += reps
        return int(due * 1e6)

    # set-up: start the query, deliver one file, stop (first is cold)
    for _ in range(ctx.size("setup_reps")):
        sink = PacedSink(ctx, check, reps)
        src = ctx.path("paced_src")
        os.makedirs(src)
        t0 = time.perf_counter()
        q = _paced_query(ctx, txf, src, sink)
        due = [write(src, time.time())]
        sink.wait_for(due, 170)
        q.stop()
        ctx.setup_s.append(time.perf_counter() - t0)
        ctx.record(sink.files.get(due[0], {}).get("ok", False),
                   "set-up paced file")

    sink = PacedSink(ctx, check, reps)
    src = ctx.path("paced_src")
    os.makedirs(src)
    st = StreamTrace(ctx)
    q = _paced_query(ctx, txf, src, sink)
    prime = [write(src, time.time())]   # pays the query's first trigger
    sink.wait_for(prime, 170)
    n_files = max(3, round(ctx.seconds / interval))
    t0 = time.time() + interval
    due_us, late_ms, visible = [], [], {}
    with ctx.tracer.span("stream_paced.schedule"):
        for i in range(n_files):
            due = t0 + i * interval
            pause = due - time.time()
            if pause > 0:
                time.sleep(pause)
            d = write(src, due)
            now = time.time()
            due_us.append(d)
            visible[d] = now
            late_ms.append((now - due) * 1e3)
        sink.wait_for(due_us, 120)
    q.stop()
    lat = []
    for d in due_us:
        f = sink.files.get(d)
        ctx.record(f is not None and f["ok"], f"paced file due {d}")
        if f is not None:
            lat.append((f["t"] - d / 1e6) * 1e3)
    delivered = [sink.files[d] for d in due_us if d in sink.files]
    span = max(f["t"] for f in delivered) - t0
    e2e = {"events_per_s": sum(f["rows"] for f in delivered) / span,
           "latency_p50_ms": median(lat)}
    ctx.log(f"generator lateness: median {median(late_ms):.1f} ms, "
            f"max {max(late_ms):.1f} ms over {len(late_ms)} files")
    starts = {p["batch_id"]: p["start"] for p in progress_rows(q)}
    wait = []
    for d in due_us:
        f = sink.files.get(d)
        if f is not None and f["batch_id"] in starts:
            wait.append((starts[f["batch_id"]] - visible[d]) * 1e3)
    layers = st.layers(q, 1, wait)
    return e2e, layers


WORKLOADS = {"stream_drain": stream_drain, "stream_paced": stream_paced}


# -- traced layer sweep ---------------------------------------------------

def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _timed(fn, runs: int = 1) -> float:
    """Wall ms of the last of ``runs`` calls (earlier calls warm up)."""
    for _ in range(runs):
        t0 = time.perf_counter()
        fn()
    return (time.perf_counter() - t0) * 1e3


def event_layers(ctx: Ctx, suffix: str = "", runs: int = 1) -> dict:
    """Direct calls into the event path on one fixed batch: decode
    input (plans.pipeline.build_decode_input), decode (operators.decode
    via build_events_core), enrich + collect (plans.pipeline.
    enrich_events) and the K1 handler with its callback
    (streaming.sink)."""
    from solana_event_stream_spark.plans.pipeline import (
        build_decode_input, build_events_core, enrich_events,
        load_raw_transactions)
    from solana_event_stream_spark.streaming.sink import \
        foreach_batch_callback
    spark = ctx.spark
    txf = TxFactory()
    reps = ctx.size("sweep_reps")
    src = ctx.path("sweep")
    txf.write(src, "batch.parquet", ctx.seed * 1_000_000 + 500_000, reps)
    raw = load_raw_transactions(spark, os.path.join(src, "batch.parquet"))
    ktx = reps * txf.tx_per_rep / 1e3
    t = ctx.tracer
    with t.span("layer.decode_input" + suffix):
        din = _timed(lambda: _noop(build_decode_input(raw)), runs)
    with t.span("layer.decode" + suffix):
        core = _timed(lambda: _noop(build_events_core(raw)), runs)
    events = build_events_core(raw).persist()
    n_events = events.count()
    with t.span("layer.enrich_collect" + suffix):
        enr = _timed(lambda: enrich_events(events,
                                           txf.bot_wallet).collect(), runs)
    events.unpersist()
    out = {"pipeline.decode_input_ms_per_ktx" + suffix: din / ktx,
           "decode.ms_per_ktx" + suffix: (core - din) / ktx,
           "enrich.collect_ms_per_ktx" + suffix: enr / ktx}
    if suffix:
        return out
    check = EventCheck(spark)
    cb = {}

    def callback(rows):
        t0 = time.perf_counter()
        counts, sums = EventCheck.tally(rows)
        cb["ok"] = check.ok(counts, sums, reps)
        cb["ms"] = (time.perf_counter() - t0) * 1e3

    handler = foreach_batch_callback(callback, bot_wallet=txf.bot_wallet)
    with t.span("layer.sink_handler"):
        out["sink.handler_ms"] = _timed(
            lambda: handler(build_events_core(raw), 0))
    ctx.record(cb.get("ok", False), "sweep handler output")
    out["sink.callback_ms"] = cb["ms"]
    out["decode.events_per_tx"] = n_events / (ktx * 1e3)
    return out


def maintain_layers(ctx: Ctx) -> dict:
    """Direct apply_dedup_maintenance_batch calls over three batches:
    the first is a warm-up, the second compacts (compact_every=2), the
    third is a plain step; then the maintained-corpus read. The
    survivors are checked against the generator's ground truth."""
    from solana_event_stream_spark.operators.dedup_index import (
        apply_dedup_maintenance_batch, create_minhash_index,
        load_maintained_corpus)
    spark = ctx.spark
    per = ctx.size("docs_per_batch")
    batches, dups = make_doc_batches(ctx.seed * 7 + 5000, 3, per)
    corpus, index = ctx.path("sw_corpus"), ctx.path("sw_index")
    create_minhash_index(index)
    sc = spark.sparkContext
    times, n_jobs = [], []
    for b, rows in enumerate(batches):
        df = spark.createDataFrame(rows, "doc_id long, text string")
        group = f"perfbench-maintain-{b}"
        sc.setJobGroup(group, group)
        with ctx.tracer.span("layer.apply_batch"):
            times.append(_timed(lambda: apply_dedup_maintenance_batch(
                spark, df, b, corpus, index, compact_every=2)))
        n_jobs.append(jobs_in_group(spark, group))
    sc.setJobGroup("perfbench", "perfbench")
    ctx.log(f"maintenance batch ms {[round(t) for t in times]}")
    with ctx.tracer.span("layer.corpus_read"):
        read = _timed(lambda: load_maintained_corpus(
            spark, corpus, index).count())
    # every near duplicate dropped, every fresh document kept, per batch
    # (batch b's ids are b * 1e6 + j)
    got = {r["doc_id"] for r in load_maintained_corpus(
        spark, corpus, index).select("doc_id").collect()}
    for b, rows in enumerate(batches):
        ids = {r[0] for r in rows}
        ctx.record(got & ids == ids - dups, f"maintenance batch {b} "
                   "survivors")
    n_surv = len(got)
    size, files = 0, 0
    for base in (corpus, index):
        for d, _, fs in os.walk(base):
            for f in fs:
                if f.endswith(".parquet"):
                    files += 1
                    size += os.path.getsize(os.path.join(d, f))
    return {"maintain.apply_batch_ms": times[2],
            "maintain.compaction_batch_ms": times[1],
            "maintain.jobs_per_batch": n_jobs[2],
            "maintain.corpus_read_ms": read,
            "maintain.bytes_per_doc": size / max(1, n_surv),
            "maintain.parquet_files": files,
            "maintain.survivor_ratio": n_surv / (3 * per)}


def catalog_layers(ctx: Ctx) -> dict:
    """Build (spark_fn), execute (collect to pandas) and check each
    LLM-data catalog query against its DuckDB oracle on small seeded
    tables; jobs are counted per phase, py4j round trips during the
    build."""
    from solana_event_stream_spark.catalog import load_catalog
    from solana_event_stream_spark.testing import run_oracle
    spark = ctx.spark
    sc = spark.sparkContext
    cat = load_catalog()
    sf_dir = ctx.path("sf")
    write_catalog_tables(sf_dir, ctx.seed, ctx.size("catalog_docs"),
                         ctx.size("catalog_vecs"))
    py4j = Py4jCounter(spark)
    out = {}
    tot = {"build": 0.0, "exec": 0.0, "jobs": 0, "build_jobs": 0,
           "py4j": 0}
    try:
        for name in CATALOG_QUERIES:
            spec = cat[name]
            sc.setJobGroup(f"pb-build-{name}", name)
            t0, calls = time.perf_counter(), py4j.calls
            with ctx.tracer.span("layer.catalog_build"):
                df = spec.spark_fn(spark, sf_dir)
            t1 = time.perf_counter()
            tot["py4j"] += py4j.calls - calls
            sc.setJobGroup(f"pb-exec-{name}", name)
            with ctx.tracer.span("layer.catalog_exec"):
                pdf = df.toPandas()
            t2 = time.perf_counter()
            if ctx.corrupt("catalog"):
                pdf = pdf.iloc[1:]
            nb = jobs_in_group(spark, f"pb-build-{name}")
            tot["build"] += (t1 - t0) * 1e3
            tot["exec"] += (t2 - t1) * 1e3
            tot["build_jobs"] += nb
            tot["jobs"] += nb + jobs_in_group(spark, f"pb-exec-{name}")
            out[f"catalog.{name}.build_ms"] = (t1 - t0) * 1e3
            out[f"catalog.{name}.exec_ms"] = (t2 - t1) * 1e3
            with ctx.tracer.span("layer.catalog_oracle"):
                ok = frame_hash(pdf) == frame_hash(
                    run_oracle(spec.oracle, sf_dir))
            ctx.record(ok, f"catalog {name} hash vs oracle")
    finally:
        sc.setJobGroup("perfbench", "perfbench")
        py4j.close()
    out.update({"catalog.build_ms": tot["build"],
                "catalog.exec_ms": tot["exec"],
                "catalog.jobs": tot["jobs"],
                "catalog.build_jobs": tot["build_jobs"],
                "catalog.py4j_calls": tot["py4j"]})
    return out
