"""K1 foreachPartition sink variant (per-partition callback ordering)
and the P10/le_uN column helpers."""

from __future__ import annotations

import glob
import json
import os
import tempfile


def test_foreach_partition_callback_ordering(spark):
    """Each callback invocation gets a contiguous, internally ordered
    slice; concatenating slices by first key restores the total order;
    no transaction spans two invocations."""
    from solana_event_stream_spark.plans.pipeline import load_raw_transactions
    from solana_event_stream_spark.sources.replay import (
        read_transaction_stream, write_slot_bucketed_archive)
    from solana_event_stream_spark.streaming.sink import (
        foreach_partition_callback)
    from solana_event_stream_spark.plans.pipeline import build_events_core

    fixtures = os.path.join(os.path.dirname(os.path.dirname(
        os.path.abspath(__file__))), "fixtures")
    raw = load_raw_transactions(
        spark, os.path.join(fixtures, "raw_transactions.parquet"))

    with tempfile.TemporaryDirectory() as tmp:
        archive = os.path.join(tmp, "archive")
        out_dir = os.path.join(tmp, "out")
        os.makedirs(out_dir)
        write_slot_bucketed_archive(raw, archive, n_buckets=2)

        def sink(rows):  # runs on executors: persist, don't accumulate
            if not rows:
                return
            keys = [(r.slot, r.transaction_index, r.outer_index,
                     r.inner_index if r.inner_index is not None else -1,
                     r.signature) for r in rows]
            name = f"{keys[0][0]:012d}_{keys[0][1]:06d}_{os.getpid()}_" \
                   f"{abs(hash(tuple(keys))) % 10**8}.json"
            with open(os.path.join(out_dir, name), "w") as f:
                json.dump(keys, f)

        # one micro-batch for the whole archive: the contiguity/global
        # order contract is per batch (per-batch ranges overlap across
        # batches by construction of the slot-bucketed layout)
        stream = read_transaction_stream(spark, archive,
                                         max_files_per_trigger=64)
        q = (build_events_core(stream)
             .writeStream
             .foreachBatch(foreach_partition_callback(sink,
                                                      num_partitions=4))
             .option("checkpointLocation", os.path.join(tmp, "ckpt"))
             .trigger(availableNow=True).start())
        q.awaitTermination(120)

        slices = []
        for path in sorted(glob.glob(os.path.join(out_dir, "*.json"))):
            with open(path) as f:
                slices.append([tuple(k) for k in json.load(f)])
        assert slices, "no partition callbacks fired"
        # each slice internally ordered
        for s in slices:
            assert s == sorted(s)
        # slices are disjoint ranges: concatenation in first-key order is
        # globally sorted
        slices.sort(key=lambda s: s[0])
        flat = [k for s in slices for k in s]
        assert flat == sorted(flat)
        # a transaction (signature) never spans two invocations
        sig_home = {}
        for i, s in enumerate(slices):
            for k in s:
                assert sig_home.setdefault(k[4], i) == i
        # same event count as the batch form
        n_events = build_events_core(raw).count()
        assert len(flat) == n_events


def test_format_pubkey_short(spark):
    from solana_event_stream_spark.functions import format_pubkey_short
    from pyspark.sql import functions as F

    df = spark.createDataFrame(
        [("6EF8rrecthR5Dkzon8Nwu78hRvfCKubJ14M5uBEwF6P",),
         ("short",), ("12345678",)], "pk string")
    out = [r.s for r in df.select(
        format_pubkey_short(F.col("pk")).alias("s")).collect()]
    # common/utils.rs:103-110: first4 + '...' + last4; <=8 chars verbatim
    assert out == ["6EF8...wF6P", "short", "12345678"]


def test_le_uint_helpers(spark):
    from solana_event_stream_spark.functions import le_u32, le_u64

    df = spark.createDataFrame(
        [(bytes([2]) + (2 ** 64 - 1).to_bytes(8, "little"),),
         (bytes([3]) + (123456).to_bytes(8, "little"),)], "data binary")
    rows = df.select(le_u64("data", 2).alias("v"),
                     le_u32("data", 2).alias("w")).collect()
    assert int(rows[0].v) == 2 ** 64 - 1
    assert int(rows[1].v) == 123456
    assert rows[1].w == 123456

def test_row_order_key_matches_spark_orderby(spark):
    """Property: the driver-side sort key is EXACTLY Spark's
    orderBy(slot, tx, outer, coalesce(inner,-1), event_type) ascending
    NULLS FIRST — including NULL slot/outer/event_type rows (the class
    the round-7 review caught: plain tuple keys raise TypeError on
    None)."""
    import random

    from solana_event_stream_spark.streaming.sink import _row_order_key
    from pyspark.sql import functions as F

    rng = random.Random(7)
    vals = [0, 1, 5, None]
    rows = [(rng.choice(vals), rng.choice(vals), rng.choice(vals),
             rng.choice(vals), rng.choice(["A", "B", None]), i)
            for i in range(120)]
    df = spark.createDataFrame(
        rows, "slot long, transaction_index long, outer_index long, "
              "inner_index long, event_type string, rid long")
    spark_order = [r.rid for r in df.orderBy(
        "slot", "transaction_index", "outer_index",
        F.coalesce(F.col("inner_index"), F.lit(-1)), "event_type",
        "rid").collect()]
    py_order = [r["rid"] for r in sorted(
        df.collect(), key=lambda r: (_row_order_key(r), r["rid"]))]
    assert py_order == spark_order


def test_driver_handlers_run_one_job_per_batch(spark):
    """The K1 handler and the strict handler each launch exactly ONE
    Spark job per micro-batch (the collect): J3 comes out of the decode
    worker, so nothing is persisted, aggregated or joined first. Jobs
    are counted by job group, as a stream's triggers are."""
    import uuid

    from solana_event_stream_spark.plans.pipeline import (
        build_events_core, load_raw_transactions)
    from solana_event_stream_spark.streaming.sink import (
        foreach_batch_callback, foreach_batch_callback_strict)

    fixtures = os.path.join(os.path.dirname(os.path.dirname(
        os.path.abspath(__file__))), "fixtures")
    df = build_events_core(load_raw_transactions(
        spark, os.path.join(fixtures, "raw_transactions.parquet")))
    n_events = df.count()
    sc = spark.sparkContext
    for factory in (foreach_batch_callback, foreach_batch_callback_strict):
        delivered: list = []
        handler = factory(delivered.extend)
        group = f"{factory.__name__}-{uuid.uuid4().hex}"
        sc.setJobGroup(group, factory.__name__)
        try:
            handler(df, 0)
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        jobs = sc.statusTracker().getJobIdsForGroup(group)
        assert len(delivered) == n_events, factory.__name__
        assert len(jobs) == 1, (factory.__name__, jobs)
