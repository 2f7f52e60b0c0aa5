"""Streaming latency probe: BASELINE.md bench plan item (b) — micro-batch
trigger-to-sink latency p50/p95 vs the reference's 1,000 ms warn
threshold (/root/reference/src/streaming/common/constants.rs:18).

Not part of the driver's bench battery (multi-minute, streaming): run
manually —  python latency_probe.py  — and record the JSON lines in
BENCH_NOTES.md.

Method: the fixture corpus is replicated to `scale`x (47*scale
transactions), written as a slot-bucketed replay archive with
`n_buckets` files, then streamed through the FULL production path —
build_events_core -> foreachBatch(enrich + order + driver callback),
i.e. `start_event_stream`'s exact DAG — with maxFilesPerTrigger=1 and a
paced processingTime trigger, so each micro-batch replays one bucket on
a fixed cadence like the live gRPC feed. A StreamingQueryListener
records durationMs per batch; `latency_summary` reduces that to
trigger-to-sink p50/p95 (cold batch excluded).

Timing note: wall clock here swings under gVisor vCPU steal
(BENCH_NOTES.md); the conclusion is the p50/p95 ORDER OF MAGNITUDE vs
the 1,000 ms threshold, not single-ms precision.

Extra modes (round 8):

- ``python latency_probe.py --ab-statestore`` — interleaved
  RocksDB-vs-HDFS state store comparison on the streaming-dedup arm
  (same process, alternating runs, the A/B discipline BENCH_NOTES
  mandates for provider claims).
- ``python latency_probe.py --ab-ckptfsync`` — K1 floor attribution:
  records that OSS Spark's async progress tracking rejects
  ForeachBatchSink, then quantifies the offset/commit-log fsync share
  of the callback floor with interleaved disk-vs-tmpfs checkpoint runs.
- ``python latency_probe.py --ab-archivesink`` — decoded-event lake
  ingestion overhead: interleaved count-sink vs parquet-lake-sink
  (slot-ordered batches; BENCH_NOTES r8 records both the ~1.2 s/batch
  cost and the partition-scatter anti-pattern).
- ``python latency_probe.py --ab-stateparts`` — state-partition width
  (shuffle.partitions at first checkpoint) vs micro-batch latency on
  the dedup arm: the pinned-at-first-start width is a real deployment
  decision (BENCH_NOTES r8: 32 -> 8 cut p50 ~30% locally).
- ``python latency_probe.py --state-growth`` — ~100 micro-batches of
  the dedup query with event time advancing per batch, recording
  state-store rows/memory per batch from
  StreamingQueryProgress.stateOperators: the empirical proof that
  watermark eviction holds state at a plateau (streaming/dedup.py's
  bounded-state claim).
"""

from __future__ import annotations

import json
import os
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from pyspark.sql import functions as F

from solana_event_stream_spark.session import get_spark

FIXTURES = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                        "fixtures")


def _scaled_raw(spark, n: int, advance_recv_secs: float = 0.0):
    from solana_event_stream_spark.plans.pipeline import load_raw_transactions
    raw = load_raw_transactions(
        spark, os.path.join(FIXTURES, "raw_transactions.parquet"))
    scaled = (raw.crossJoin(spark.range(n).select(F.col("id").alias("rep")))
              .withColumn("signature", F.concat_ws("_", "signature", "rep"))
              .withColumn("slot", F.col("slot") + F.col("rep") * 10000))
    if advance_recv_secs:
        # advance receive time per replica so the dedup watermark (keyed
        # on recv_us) moves forward bucket by bucket — the state-growth
        # probe needs event time to progress for eviction to fire
        scaled = scaled.withColumn(
            "recv_us", F.col("recv_us")
            + (F.col("rep") * int(advance_recv_secs * 1_000_000)))
    return scaled.drop("rep")


_PROVIDERS = {
    "rocksdb": ("org.apache.spark.sql.execution.streaming.state."
                "RocksDBStateStoreProvider"),
    "hdfs": ("org.apache.spark.sql.execution.streaming.state."
             "HDFSBackedStateStoreProvider"),
}

_PROVIDER_KEY = "spark.sql.streaming.stateStore.providerClass"


def _write_ordered_archive(raw, path: str, n_buckets: int) -> None:
    """Probe-local archive writer for the state-growth run: contiguous
    slot-ordered chunks, one file per micro-batch, with strictly
    increasing mtimes so FileStreamSource (which orders by file
    timestamp) replays them in EVENT-TIME order. The engine's
    `write_slot_bucketed_archive` modulo layout interleaves slots
    across buckets — right for latency pacing, wrong for watching a
    watermark advance."""
    import pyarrow.parquet as pq

    tbl = raw.orderBy("slot").toArrow()
    os.makedirs(path, exist_ok=True)
    n = tbl.num_rows
    per = (n + n_buckets - 1) // n_buckets
    now = time.time()
    for i in range(n_buckets):
        chunk = tbl.slice(i * per, per)
        if chunk.num_rows == 0:
            break
        fpath = os.path.join(path, f"{i:05d}.parquet")
        pq.write_table(chunk, fpath)
        os.utime(fpath, (now + i, now + i))


def run_probe(spark, scale: int, n_buckets: int,
              trigger_secs: float = 1.0, sink: str = "callback",
              dedup_watermark: str | None = None,
              strict_tag_ttl_ms: int | None = None,
              provider: str | None = None,
              advance_recv_secs: float = 0.0,
              ordered_archive: bool = False,
              deadline_secs: float | None = None,
              async_progress: bool = False,
              checkpoint_root: str | None = None,
              shuffle_partitions: int | None = None) -> dict:
    from solana_event_stream_spark.sources.replay import (
        read_transaction_stream, write_slot_bucketed_archive)
    from solana_event_stream_spark.streaming.dedup import dedup_event_stream
    from solana_event_stream_spark.streaming.metrics import (
        PipelineMetricsListener, latency_summary)
    from solana_event_stream_spark.streaming.sink import (
        foreach_batch_callback)
    from solana_event_stream_spark.plans.pipeline import build_events_core

    n_tx = 47 * scale
    collector = PipelineMetricsListener()
    listener = collector.make_listener()
    spark.streams.addListener(listener)
    n_rows_seen = [0]
    prev_provider = spark.conf.get(_PROVIDER_KEY, None)
    if provider is not None:
        # runtime-settable: the provider is read once at query start
        spark.conf.set(_PROVIDER_KEY, _PROVIDERS.get(provider, provider))
    prev_shuffle = spark.conf.get("spark.sql.shuffle.partitions")
    if shuffle_partitions is not None:
        # pinned into the checkpoint at FIRST query start: this is the
        # state-partition width for stateful queries
        spark.conf.set("spark.sql.shuffle.partitions",
                       str(shuffle_partitions))
    try:
        with tempfile.TemporaryDirectory(ignore_cleanup_errors=True) as tmp:
            archive = os.path.join(tmp, "archive")
            scaled = _scaled_raw(spark, scale, advance_recv_secs)
            if ordered_archive:
                _write_ordered_archive(scaled, archive, n_buckets)
            else:
                write_slot_bucketed_archive(scaled, archive,
                                            n_buckets=n_buckets)
            stream = read_transaction_stream(spark, archive,
                                             max_files_per_trigger=1)
            events = build_events_core(stream)
            if dedup_watermark is not None:
                events = dedup_event_stream(events,
                                            watermark=dedup_watermark)
            if strict_tag_ttl_ms is not None:
                # J3 STRICT keyed-state form (r18, VERDICT r17 item
                # 7): applyInPandasWithState keyed by signature with
                # processing-time TTL as the bounded-state envelope —
                # the arm the 492k-key decade probe measures (the r17
                # run covered only the dropDuplicatesWithinWatermark
                # form)
                from solana_event_stream_spark.streaming.state import (
                    tag_dev_trades_stateful)
                events = tag_dev_trades_stateful(
                    events, ttl_ms=strict_tag_ttl_ms)
            if sink == "callback":      # full K1 path: enrich+order+collect
                batch_fn = foreach_batch_callback(
                    lambda rows: n_rows_seen.__setitem__(
                        0, n_rows_seen[0] + len(rows)))
            else:                       # pipeline-only: no enrich/driver hop
                batch_fn = (lambda df, bid: n_rows_seen.__setitem__(
                    0, n_rows_seen[0] + df.count()))
            ckpt_parent = (tempfile.mkdtemp(dir=checkpoint_root)
                           if checkpoint_root else tmp)
            if sink == "archive":
                # decoded-event lake sink (streaming/event_archive.py
                # layout): measures the per-batch ingestion overhead of
                # materializing the decode as committed parquet
                lake = (events.withColumn(
                    "slot_range", (F.col("slot") / 10_000).cast("long")))
                writer = (lake.writeStream.format("parquet")
                          .partitionBy("slot_range")
                          .option("path", os.path.join(tmp, "lake"))
                          .option("checkpointLocation",
                                  os.path.join(ckpt_parent, "ckpt"))
                          .trigger(
                              processingTime=f"{trigger_secs} seconds"))
            else:
                writer = (events.writeStream
                          .foreachBatch(batch_fn)
                          .option("checkpointLocation",
                                  os.path.join(ckpt_parent, "ckpt"))
                          .trigger(
                              processingTime=f"{trigger_secs} seconds"))
            if async_progress:
                # take the offset/commit-log fsync off the critical path
                # (trades exactly-once offset tracking for at-least-once,
                # which the K1 callback path already is end-to-end)
                writer = (writer
                          .option("asyncProgressTrackingEnabled", "true")
                          .option(
                              "asyncProgressTrackingCheckpointIntervalMs",
                              "1000"))
            q = writer.start()
            try:
                # one micro-batch per bucket file + a couple of empty polls
                deadline = time.time() + (
                    deadline_secs if deadline_secs is not None
                    else 60 + 3 * n_buckets * trigger_secs)
                while time.time() < deadline:
                    done = [p for p in collector.progress
                            if p["num_input_rows"]]
                    if len(done) >= n_buckets:
                        break
                    time.sleep(0.5)
            finally:
                q.stop()
                try:
                    q.awaitTermination(30)
                except Exception:
                    pass
                if checkpoint_root:
                    import shutil
                    shutil.rmtree(ckpt_parent, ignore_errors=True)
    finally:
        spark.streams.removeListener(listener)
        if provider is not None:
            if prev_provider is None:
                spark.conf.unset(_PROVIDER_KEY)
            else:
                spark.conf.set(_PROVIDER_KEY, prev_provider)
        if shuffle_partitions is not None:
            spark.conf.set("spark.sql.shuffle.partitions", prev_shuffle)

    summary = latency_summary(collector.progress)
    summary.update({"probe": "stream_latency", "scale": scale,
                    "n_tx": n_tx, "n_buckets": n_buckets,
                    "trigger_secs": trigger_secs, "sink": sink,
                    "dedup_watermark": dedup_watermark,
                    "provider": provider,
                    "events_delivered": n_rows_seen[0],
                    "tx_per_batch": n_tx // n_buckets})
    state_rows = [
        {"batch_id": p["batch_id"],
         "rows_total": sum(so["rows_total"]
                           for so in p.get("state_operators", [])),
         "memory_bytes": sum(so["memory_bytes"]
                             for so in p.get("state_operators", []))}
        for p in collector.progress if p.get("state_operators")]
    if state_rows:
        summary["state_rows"] = state_rows
    return summary


def main_ab_statestore(spark, reps: int = 3) -> None:
    """Interleaved RocksDB-vs-HDFS comparison on the dedup arm: same
    process, alternating runs (rocksdb, hdfs, rocksdb, ...) so host
    drift hits both sides equally. Mid feed (scale=1000 -> 2,350
    tx/batch over 20 buckets), 10-minute dedup watermark (the
    production default — no eviction inside the run)."""
    per = {"rocksdb": [], "hdfs": []}
    for rep in range(reps):
        for prov in ("rocksdb", "hdfs"):
            r = run_probe(spark, 1000, 20, sink="count",
                          dedup_watermark="10 minutes", provider=prov)
            r.pop("state_rows", None)
            r["rep"] = rep
            per[prov].append(r["trigger_p50_ms"])
            print(json.dumps(r), flush=True)
    med = {p: sorted(v)[len(v) // 2] for p, v in per.items()}
    print(json.dumps({"probe": "statestore_ab_summary", "reps": reps,
                      "p50_ms": med,
                      "rocksdb_over_hdfs":
                          round(med["rocksdb"] / med["hdfs"], 3)}),
          flush=True)


def main_state_growth(spark, scale: int = 500) -> None:
    """~100 micro-batches of the dedup query with receive time advancing
    10 s per replica and a 30 s watermark: state rows must PLATEAU (the
    watermark evicts old keys) rather than grow linearly with input.
    Emits per-batch state rows + a plateau verdict. ``scale`` replicas
    of the 47-tx fixture = 47*scale total keys — the r8 run probed
    scale=500 (23.5k keys); VERDICT r16 item 6 re-probes the plateau
    at scale=10700 (~503k keys, one more decade):
    ``python latency_probe.py --state-growth 10700``."""
    r = run_probe(spark, scale, 100, trigger_secs=0.5, sink="count",
                  dedup_watermark="30 seconds",
                  advance_recv_secs=10.0, ordered_archive=True,
                  deadline_secs=max(480, scale // 5))
    series = r.pop("state_rows", [])
    print(json.dumps(r), flush=True)
    rows = [s["rows_total"] for s in series]
    mem = [s["memory_bytes"] for s in series]
    # linear growth would end at ~n_tx total keys; a plateau stays at a
    # small multiple of one batch's keys
    verdict = {
        "probe": "state_growth",
        "n_batches": len(rows),
        "total_keys_seen": r["events_delivered"],
        "state_rows_first10_max": max(rows[:10], default=0),
        "state_rows_last20_max": max(rows[-20:], default=0),
        "state_rows_peak": max(rows, default=0),
        "state_mem_peak_bytes": max(mem, default=0),
        "series": [{"batch": s["batch_id"], "rows": s["rows_total"]}
                   for s in series],
        "plateaued": bool(rows) and max(rows[-20:], default=0)
        <= 0.25 * max(1, r["events_delivered"]),
    }
    print(json.dumps(verdict), flush=True)


def main_state_growth_strict(spark, scale: int = 500,
                             ttl_ms: int = 30_000) -> None:
    """VERDICT r17 item 7: the r17 492k-key state plateau covered the
    `dropDuplicatesWithinWatermark` J3 form; this is the SAME feed
    through the STRICT keyed form (`tag_dev_trades_stateful`,
    applyInPandasWithState keyed by signature, processing-time TTL as
    the bounded-state envelope). Emits the per-batch state-rows series +
    trigger p50/p95 and an eviction verdict: with a 30 s TTL over a
    multi-minute run, steady-state rows must track the TTL horizon
    (keys touched in the last 30 s), not keys seen — TTL is the
    distributed stand-in for the reference's 1000-signature
    CappedGlobalState cap (streaming/state.py module docstring).
    ``python latency_probe.py --state-growth-strict 10700``."""
    r = run_probe(spark, scale, 100, trigger_secs=0.5, sink="count",
                  strict_tag_ttl_ms=ttl_ms,
                  advance_recv_secs=10.0, ordered_archive=True,
                  deadline_secs=max(480, scale // 5))
    series = r.pop("state_rows", [])
    r["strict_ttl_ms"] = ttl_ms
    print(json.dumps(r), flush=True)
    rows = [s["rows_total"] for s in series]
    mem = [s["memory_bytes"] for s in series]
    verdict = {
        "probe": "state_growth_strict",
        "ttl_ms": ttl_ms,
        "n_batches": len(rows),
        "total_keys_seen": r["events_delivered"],
        "state_rows_first10_max": max(rows[:10], default=0),
        "state_rows_last20_max": max(rows[-20:], default=0),
        "state_rows_peak": max(rows, default=0),
        "state_mem_peak_bytes": max(mem, default=0),
        "series": [{"batch": s["batch_id"], "rows": s["rows_total"]}
                   for s in series],
        "plateaued": bool(rows) and max(rows[-20:], default=0)
        <= 0.25 * max(1, r["events_delivered"]),
    }
    print(json.dumps(verdict), flush=True)


def main_ab_ckptfsync(spark, reps: int = 2) -> None:
    """Attribution for the K1 callback latency floor (round-7 verdict
    item 4).

    Part 1 — the verdict's named knob, async progress tracking, is
    structurally unavailable on this path in OSS Spark: the
    AsyncProgressTrackingMicroBatchExecution whitelist rejects
    ForeachBatchSink ("Sink ForeachBatchSink does not support async
    progress tracking"). Captured as evidence, not hand-waved.

    Part 2 — measure the offset/commit-log fsync share of the floor
    directly instead: interleaved runs with the checkpoint on disk
    (/tmp) vs tmpfs (/dev/shm, no durable fsync cost), callback sink,
    at the closing-table feed levels."""
    try:
        run_probe(spark, 10, 2, sink="callback", async_progress=True,
                  deadline_secs=30)
        supported = True
        err = None
    except Exception as exc:  # expected: whitelist rejection
        supported = False
        err = str(exc).split("\n")[0][:200]
    print(json.dumps({"probe": "asyncprogress_support",
                      "foreachbatch_supported": supported,
                      "error": err}), flush=True)

    shm = "/dev/shm" if os.path.isdir("/dev/shm") else None
    per: dict[tuple[int, str], list[float]] = {}
    for rep in range(reps):
        for scale in (100, 1000, 5000):
            for root, tag in ((None, "disk"), (shm, "tmpfs")):
                if tag == "tmpfs" and shm is None:
                    continue
                r = run_probe(spark, scale, 20, sink="callback",
                              checkpoint_root=root)
                r.pop("state_rows", None)
                r.update({"rep": rep, "ckpt": tag})
                per.setdefault((scale, tag), []).append(
                    r["trigger_p50_ms"])
                print(json.dumps(r), flush=True)
    summary = {}
    for scale in (100, 1000, 5000):
        row = {}
        for tag in ("disk", "tmpfs"):
            xs = sorted(per.get((scale, tag), []))
            if xs:
                row[tag] = xs[len(xs) // 2]
        if "disk" in row and "tmpfs" in row:
            row["tmpfs_over_disk"] = round(row["tmpfs"] / row["disk"], 3)
        summary[f"scale{scale}"] = row
    print(json.dumps({"probe": "ckptfsync_ab_summary", "reps": reps,
                      "p50_ms": summary}), flush=True)


def main_ab_archivesink(spark, reps: int = 2) -> None:
    """Ingestion overhead of the decoded-event lake: interleaved
    count-sink vs parquet-archive-sink runs at mainnet-like feed; the
    p50 delta is what materializing the decode costs per micro-batch
    on top of computing it."""
    per: dict[str, list[float]] = {}
    for rep in range(reps):
        for s in ("count", "archive"):
            # ordered archive: a live feed delivers slot-CONTIGUOUS
            # batches, so each micro-batch touches 1-2 slot_range dirs.
            # The modulo-bucketed replay scatters every batch across
            # ~1,000 ranges and the dynamic-partition write explodes
            # (measured 22.8 s/batch) — that scatter is an artifact of
            # the probe's replica slot layout, not the sink; both arms
            # run slot-ordered for the realistic comparison.
            r = run_probe(spark, 1000, 20, sink=s, ordered_archive=True)
            r.pop("state_rows", None)
            r["rep"] = rep
            per.setdefault(s, []).append(r["trigger_p50_ms"])
            print(json.dumps(r), flush=True)
    med = {s: sorted(v)[len(v) // 2] for s, v in per.items()}
    print(json.dumps({"probe": "archivesink_ab_summary", "reps": reps,
                      "p50_ms": med,
                      "archive_minus_count_ms":
                          round(med["archive"] - med["count"], 1)}),
          flush=True)


def main_ab_stateparts(spark, reps: int = 2) -> None:
    """State-partition width vs micro-batch latency on the dedup arm.

    `spark.sql.shuffle.partitions` at FIRST query start fixes the
    number of state-store instances for the checkpoint's lifetime: at
    100 TB you want hundreds (state parallelism + bounded per-instance
    size), but every micro-batch pays per-instance open/commit, so a
    low-latency small-batch deployment may want far fewer. Interleaved
    32-vs-8-vs-4 at mainnet-like feed quantifies the local trade."""
    per: dict[int, list[float]] = {}
    for rep in range(reps):
        for n in (32, 8, 4):
            r = run_probe(spark, 1000, 20, sink="count",
                          dedup_watermark="10 minutes",
                          shuffle_partitions=n)
            r.pop("state_rows", None)
            r.update({"rep": rep, "state_partitions": n})
            per.setdefault(n, []).append(r["trigger_p50_ms"])
            print(json.dumps(r), flush=True)
    med = {str(n): sorted(v)[len(v) // 2] for n, v in per.items()}
    print(json.dumps({"probe": "stateparts_ab_summary", "reps": reps,
                      "p50_ms": med}), flush=True)


def _run_enrichment_probe(spark, tdir: str, adir: str, n_buckets: int,
                          refresh_accounts: bool, skewed: bool,
                          trigger_secs: float = 1.0) -> dict:
    from solana_event_stream_spark.plans.enrichment import (
        start_enriched_trade_stream)
    from solana_event_stream_spark.streaming.metrics import (
        PipelineMetricsListener, latency_summary)

    collector = PipelineMetricsListener()
    listener = collector.make_listener()
    spark.streams.addListener(listener)
    n_rows_seen = [0]
    try:
        with tempfile.TemporaryDirectory(ignore_cleanup_errors=True) as tmp:
            stream = (spark.readStream
                      .schema(spark.read.parquet(tdir).schema)
                      .option("maxFilesPerTrigger", 1).parquet(tdir))
            q = start_enriched_trade_stream(
                stream, adir,
                lambda df, _bid: n_rows_seen.__setitem__(
                    0, n_rows_seen[0] + df.count()),
                os.path.join(tmp, "ckpt"),
                refresh_accounts=refresh_accounts,
                processing_time=f"{trigger_secs} seconds",
                state_cols=("virtual_sol_reserves", "complete"),
                skewed=skewed, slice_slots=64)
            try:
                deadline = time.time() + 60 + 3 * n_buckets * trigger_secs
                while time.time() < deadline:
                    done = [p for p in collector.progress
                            if p["num_input_rows"]]
                    if len(done) >= n_buckets:
                        break
                    time.sleep(0.5)
            finally:
                q.stop()
                try:
                    q.awaitTermination(30)
                except Exception:
                    pass
    finally:
        spark.streams.removeListener(listener)
    summary = latency_summary(collector.progress)
    summary.update({"probe": "enrichment_latency",
                    "refresh_accounts": refresh_accounts,
                    "skewed": skewed,
                    "trades_delivered": n_rows_seen[0]})
    return summary


def main_ab_enrichment(spark, reps: int = 2) -> None:
    """Streaming-enrichment latency arm (VERDICT r12 item 4):
    trigger-to-sink p50/p95 of `start_enriched_trade_stream` — the
    foreachBatch as-of enrichment against the account lake — vs the
    reference's 1,000 ms envelope, interleaved over the four
    deployment settings: refresh_accounts True/False (re-resolve the
    lake per trigger vs pin at start) x skewed False/True (plain
    keyed window fill vs (key, slot-slice) sliced fill).

    Feed shape: 100k account writes across 2k accounts (the lake),
    2.5k trades per micro-batch over 20 one-file batches on a 1 s
    trigger, trade keys uniform over the accounts. The skewed form
    runs the SAME data — this arm measures the latency cost of the
    sliced-fill machinery itself at trigger cadence (the hot-key
    crossover where it wins is the batch scale probe's table)."""
    n_accts, n_writes, n_buckets, per_batch = 2000, 100_000, 20, 2500
    with tempfile.TemporaryDirectory(ignore_cleanup_errors=True) as tmp:
        adir = os.path.join(tmp, "accounts")
        tdir = os.path.join(tmp, "trades")
        (spark.range(n_writes).select(
            F.concat(F.lit("acct_"),
                     (F.col("id") % n_accts)).alias("pubkey"),
            ((F.col("id") / n_accts).cast("long") * 10).alias("slot"),
            F.col("id").alias("recv_us"),
            (F.col("id") % 1_000_000).cast("decimal(20,0)")
            .alias("virtual_sol_reserves"),
            (F.col("id") % 7 == 0).alias("complete"))
         .write.parquet(adir))
        trades = spark.range(n_buckets * per_batch).select(
            F.concat(F.lit("sig_"), F.col("id")).alias("sig"),
            # slots advance batch over batch through the lake's span
            ((F.col("id") / per_batch).cast("long") * 25 + 5)
            .alias("slot"),
            F.concat(F.lit("acct_"),
                     F.pmod(F.xxhash64("id"), F.lit(n_accts)))
            .alias("bonding_curve"),
            (F.col("id") % 10_000).alias("sol_amount"))
        _write_ordered_archive(trades, tdir, n_buckets)

        per: dict[tuple[bool, bool], list[float]] = {}
        for rep in range(reps):
            for refresh in (True, False):
                for skewed in (False, True):
                    r = _run_enrichment_probe(spark, tdir, adir,
                                              n_buckets, refresh, skewed)
                    r["rep"] = rep
                    per.setdefault((refresh, skewed), []).append(
                        r["trigger_p50_ms"])
                    print(json.dumps(r), flush=True)
        med = {f"refresh={rf},skewed={sk}":
               sorted(v)[len(v) // 2] for (rf, sk), v in per.items()}
        print(json.dumps({"probe": "enrichment_ab_summary",
                          "reps": reps, "p50_ms": med,
                          "envelope_ms": 1000}), flush=True)


def main_maintenance(spark, n_batches: int = 24,
                     docs_per_batch: int = 300) -> None:
    """VERDICT r13 item 6: the dedup corpus-maintenance stream's
    per-trigger wall as the index and survivors corpus GROW, with and
    without ``compact_every`` — the number that sets the compaction
    cadence guidance. Each trigger is one parquet file of
    ``docs_per_batch`` synthetic docs (20% near-dups of batch 0, so
    the index genuinely filters); the stream is the real
    ``start_dedup_maintenance_stream`` (availableNow,
    maxFilesPerTrigger=1) with per-batch triggerExecution captured by
    the standard listener. After the run, the maintained-corpus read
    wall and batch-dir counts quantify the small-files effect the
    compaction exists to cure."""
    from solana_event_stream_spark.operators.dedup_index import (
        create_minhash_index, load_maintained_corpus, open_dedup_index,
        start_dedup_maintenance_stream)
    from solana_event_stream_spark.streaming.metrics import (
        PipelineMetricsListener, latency_summary)

    tmpl = ("alpha bravo charlie delta echo foxtrot golf hotel india "
            "juliet kilo lima mike november oscar papa quebec romeo")

    def batch_rows(b):
        rows = []
        for j in range(docs_per_batch):
            did = b * 1_000_000 + j
            if b > 0 and j % 5 == 0:     # near-dup of a batch-0 doc
                rows.append((did, tmpl + f" uniq0_{j} xdup{b}"))
            else:
                rows.append((did, tmpl + f" uniq{b}_{j} w{b}x{j} "
                                  f"y{b}z{j}"))
        return rows

    with tempfile.TemporaryDirectory() as d:
        sdir = os.path.join(d, "in")
        os.makedirs(sdir)
        for b in range(n_batches):
            (spark.createDataFrame(batch_rows(b),
                                   "doc_id long, text string")
             .coalesce(1).write.mode("overwrite")
             .parquet(os.path.join(sdir, f"b{b:03d}.parquet")))

        # (compact_every, compact_mode, trigger_shuffle_partitions):
        # the last arm reproduces the r14 width A/B through the public
        # API knob (VERDICT r14 item 7) — compare its p50 to the first
        for ce, mode, width in ((None, "full", None), (6, "full", None),
                                (6, "tiered", None), (None, "full", 8)):
            tag = f"ce{ce}_{mode}_w{width}"
            cdir = os.path.join(d, f"corpus_{tag}")
            idir = os.path.join(d, f"index_{tag}")
            create_minhash_index(idir)
            collector = PipelineMetricsListener()
            listener = collector.make_listener()
            spark.streams.addListener(listener)
            try:
                stream = (spark.readStream
                          .schema("doc_id long, text string")
                          .option("maxFilesPerTrigger", 1)
                          .parquet(sdir + "/*"))
                q = start_dedup_maintenance_stream(
                    stream, cdir, idir, os.path.join(d, f"ckpt_{tag}"),
                    compact_every=ce, available_now=True,
                    compact_mode=mode,
                    trigger_shuffle_partitions=width)
                q.awaitTermination(1200)
            finally:
                spark.streams.removeListener(listener)
            trig = [p["duration_ms"].get("triggerExecution", 0)
                    for p in collector.progress if p["num_input_rows"]]
            t0 = time.perf_counter()
            n_corpus_rows = load_maintained_corpus(
                spark, cdir, idir).count()
            read_s = time.perf_counter() - t0
            store = open_dedup_index(idir)
            med = sorted(trig)[len(trig) // 2] if trig else None
            srt = sorted(trig)
            print(json.dumps({
                "probe": "maintenance_stream",
                "compact_every": ce,
                "compact_mode": mode,
                "trigger_shuffle_partitions": width,
                "n_triggers": len(trig),
                "docs_per_batch": docs_per_batch,
                "per_trigger_ms": trig,
                "trigger_p50_ms": med,
                # VERDICT r14 item 4's bound: the compaction spike is
                # the tail — p95/max vs steady p50 is the spike metric
                "trigger_p95_ms": srt[int(0.95 * (len(srt) - 1))]
                if srt else None,
                "trigger_max_ms": srt[-1] if srt else None,
                "first5_p50_ms": sorted(trig[1:6])[min(2, max(0, len(trig[1:6]) - 1))] if len(trig) > 1 else None,
                "last5_p50_ms": sorted(trig[-5:])[2] if len(trig) >= 5 else None,
                "summary": latency_summary(collector.progress),
                "corpus_read_s": round(read_s, 3),
                "corpus_rows": n_corpus_rows,
                "n_corpus_dirs": len(store.meta.get("corpus_batches", [])),
                "n_index_dirs": len(store._batches),
            }), flush=True)




def main_ann_serving(spark, corpus_rows: int = 20_000,
                     n_triggers: int = 5) -> None:
    """VERDICT r15 item 5: the ANN serving stream's trigger latency vs
    the reference's 1,000 ms envelope — the serving half of the
    maintenance story, which had latency arms while serving had none.
    One maintained corpus per storage arm (float; quantized;
    quantized + float re-rank tier), seeded through the REAL
    maintenance batch path so the manifest/corpus layout is the
    production one, then `start_ann_serving_stream` over per-trigger
    query files at a few queries-per-trigger points, per-batch
    triggerExecution captured by the standard listener. Also reports
    the per-trigger corpus re-resolve cost in isolation (manifest read
    + parquet plan), the piece a manifest-mtime fast path would cut if
    it dominated."""
    from solana_event_stream_spark.operators.dedup_index import (
        apply_embedding_maintenance_batch, create_embedding_index,
        load_maintained_corpus, open_dedup_index)
    from solana_event_stream_spark.operators.similarity import (
        start_ann_serving_stream)
    from solana_event_stream_spark.streaming.metrics import (
        PipelineMetricsListener)

    import hashlib

    width = 16

    def vec(tag, i):
        return [int(hashlib.md5(f"{tag}{i}_{d}".encode())
                    .hexdigest()[:4], 16) / 32767.5 - 1.0
                for d in range(width)]

    with tempfile.TemporaryDirectory() as d:
        # (tag, quantize, rerank_mult, ivf): the ivf arm pins a
        # 16-cell coarse quantizer at index create and serves
        # method="ivf" nprobe=2 (r16)
        arms = (("float", False, None, False),
                ("quant", True, None, False),
                ("quant_rerank", True, 3, False),
                ("quant_ivf", True, None, True))
        cents = [vec("c", 10_000_000 + j) for j in range(16)]
        corp = {}
        for tag, q, _, ivf in arms:
            cdir = os.path.join(d, f"c_{tag}")
            idir = os.path.join(d, f"i_{tag}")
            create_embedding_index(idir, n_planes=10, width=width,
                                   n_bands=2,
                                   ivf_centroids=cents if ivf
                                   else None)
            for b in range(4):
                emb = spark.createDataFrame(
                    [(b * corpus_rows + i, vec("c", b * corpus_rows + i))
                     for i in range(corpus_rows // 4)],
                    "vec_id long, embedding array<double>")
                apply_embedding_maintenance_batch(
                    spark, emb, b, cdir, idir, quantize_corpus=q,
                    keep_float_tier=(tag == "quant_rerank"),
                    compact_every=4 if b == 3 else None)
            corp[tag] = (cdir, idir)
            # isolate the per-trigger corpus re-resolve: manifest read
            # + parquet plan + a 1-row touch (the piece a
            # manifest-mtime fast path would cut)
            t0 = time.perf_counter()
            store = open_dedup_index(idir)
            load_maintained_corpus(
                spark, cdir, idir,
                empty_schema="vec_id long, scale double, "
                "q array<tinyint>" if q
                else "vec_id long, embedding array<double>").limit(1)                 .collect()
            print(json.dumps({
                "probe": "ann_serving_resolve",
                "arm": tag,
                "resolve_s": round(time.perf_counter() - t0, 4),
                "n_corpus_dirs": len(store.meta.get(
                    "corpus_batches", []))}), flush=True)

        for tag, q, rr_mult, ivf in arms:
            cdir, idir = corp[tag]
            for qpt in (16, 256, 2048):
                sdir = os.path.join(d, f"in_{tag}_{qpt}")
                os.makedirs(sdir)
                for b in range(n_triggers):
                    (spark.createDataFrame(
                        [(b * 100_000 + i, vec("q", b * qpt + i))
                         for i in range(qpt)],
                        "query_id long, embedding array<double>")
                     .coalesce(1).write.mode("overwrite")
                     .parquet(os.path.join(sdir, f"b{b:03d}.parquet")))
                collector = PipelineMetricsListener()
                listener = collector.make_listener()
                spark.streams.addListener(listener)
                k = 10
                try:
                    stream = (spark.readStream
                              .schema("query_id long, "
                                      "embedding array<double>")
                              .option("maxFilesPerTrigger", 1)
                              .parquet(sdir + "/*"))
                    mkw = (dict(method="ivf", nprobe=2) if ivf else
                           dict(method="lsh", width=width,
                                corpus_rows=corpus_rows))
                    qy = start_ann_serving_stream(
                        stream, cdir, idir,
                        os.path.join(d, f"out_{tag}_{qpt}"),
                        os.path.join(d, f"ck_{tag}_{qpt}"),
                        k=k, rerank_m=rr_mult * k if rr_mult else None,
                        available_now=True, **mkw)
                    qy.awaitTermination(1800)
                finally:
                    spark.streams.removeListener(listener)
                trig = [p["duration_ms"].get("triggerExecution", 0)
                        for p in collector.progress
                        if p["num_input_rows"]]
                srt = sorted(trig)
                print(json.dumps({
                    "probe": "ann_serving_stream",
                    "arm": tag,
                    "queries_per_trigger": qpt,
                    "corpus_rows": corpus_rows,
                    "k": k,
                    "rerank_m": rr_mult * k if rr_mult else None,
                    "n_triggers": len(trig),
                    "per_trigger_ms": trig,
                    "trigger_p50_ms": srt[len(srt) // 2]
                    if srt else None,
                    "trigger_p95_ms": srt[int(0.95 * (len(srt) - 1))]
                    if srt else None,
                    "warm_p50_ms": sorted(trig[1:])[
                        max(0, (len(trig) - 1) // 2 - 1)]
                    if len(trig) > 1 else None,
                    "envelope_ms": 1000}), flush=True)


def main() -> None:
    spark = get_spark("latency-probe")
    spark.sparkContext.setLogLevel("ERROR")
    if "--maintenance" in sys.argv:
        main_maintenance(spark)
        return
    if "--ann-serving" in sys.argv:
        main_ann_serving(spark)
        return
    if "--ab-enrichment" in sys.argv:
        main_ab_enrichment(spark)
        return
    if "--ab-archivesink" in sys.argv:
        main_ab_archivesink(spark)
        return
    if "--ab-stateparts" in sys.argv:
        main_ab_stateparts(spark)
        return
    if "--ab-ckptfsync" in sys.argv:
        main_ab_ckptfsync(spark)
        return
    if "--ab-statestore" in sys.argv:
        main_ab_statestore(spark)
        return
    if "--state-growth-strict" in sys.argv:
        args = sys.argv[sys.argv.index("--state-growth-strict") + 1:]
        scale = int(args[0]) if args and args[0].isdigit() else 500
        main_state_growth_strict(spark, scale)
        return
    if "--state-growth" in sys.argv:
        args = sys.argv[sys.argv.index("--state-growth") + 1:]
        scale = int(args[0]) if args and args[0].isdigit() else 500
        main_state_growth(spark, scale)
        return
    results = []
    # ~235 tx/batch (reference-like per-second feed at its 4k TPS
    # envelope is ~4000 tx/s; 2350 tx/batch on a 1 s trigger matches
    # ~2.4k TPS; 235 is a light feed) and a heavy 11.75k tx/batch point.
    for scale, n_buckets in ((100, 20), (1000, 20), (5000, 20)):
        r = run_probe(spark, scale, n_buckets)
        results.append(r)
        print(json.dumps(r), flush=True)
    # attribution arm: same feed, count-only sink — separates the
    # micro-batch machinery + decode DAG from the K1 driver-parity
    # enrich/order/collect cost
    r = run_probe(spark, 1000, 20, sink="count")
    results.append(r)
    print(json.dumps(r), flush=True)
    print(json.dumps({"probe": "stream_latency_all", "results": results}))


if __name__ == "__main__":
    main()
