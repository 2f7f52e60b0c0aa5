"""Strict cross-batch J3 state vs the window form: the
split-across-batches fixture the window form cannot flag, plus
same-batch parity, on the GroupState keyed form; the driver-side
capped fold; and a session that leaves the protobuf environment
alone."""

from __future__ import annotations

import os
import sys
import tempfile
import time

from conftest import drain_active_streams, stop_streaming_query
from solana_event_stream_spark.streaming.state import (
    INPUT_COLS, tag_dev_trades_stateful)

_run_seq = 0


def _event(signature, slot, event_type, user=None, creator=None, payer=None,
           outer_index=0, inner_index=None, transaction_index=0):
    return {"signature": signature, "slot": slot,
            "transaction_index": transaction_index,
            "outer_index": outer_index, "inner_index": inner_index,
            "event_type": event_type, "user": user, "creator": creator,
            "payer": payer}


SCHEMA = ("signature string, slot long, transaction_index long, "
          "outer_index long, inner_index long, event_type string, "
          "user string, creator string, payer string")


def _run_two_batches(spark, batch1, batch2, tmp):
    """Write batch1, stream with maxFilesPerTrigger=1, then batch2 —
    forcing the rows into separate micro-batches with shared state."""
    global _run_seq
    _run_seq += 1
    sink = f"strict_j3_{_run_seq}"
    drain_active_streams(spark)  # no leftover query may race our tempdir
    src = os.path.join(tmp, "src")
    os.makedirs(src)
    spark.createDataFrame([tuple(r[c] for c in INPUT_COLS)
                           for r in batch1], SCHEMA) \
        .coalesce(1).write.mode("append").parquet(src)
    stream = (spark.readStream.schema(SCHEMA)
              .option("maxFilesPerTrigger", "1").parquet(src))
    tagged = tag_dev_trades_stateful(stream)
    q = (tagged.writeStream.format("memory").queryName(sink)
         .option("checkpointLocation", os.path.join(tmp, "ckpt"))
         .trigger(processingTime="1 seconds").start())
    try:
        deadline = time.time() + 60
        while spark.table(sink).count() < len(batch1) \
                and time.time() < deadline:
            time.sleep(0.5)
        assert spark.table(sink).count() == len(batch1)
        spark.createDataFrame([tuple(r[c] for c in INPUT_COLS)
                               for r in batch2], SCHEMA) \
            .coalesce(1).write.mode("append").parquet(src)
        total = len(batch1) + len(batch2)
        deadline = time.time() + 60
        while spark.table(sink).count() < total \
                and time.time() < deadline:
            time.sleep(0.5)
        assert spark.table(sink).count() == total
        return {(r.signature, r.event_type, r.slot):
                r.is_dev_create_token_trade
                for r in spark.table(sink).collect()}
    finally:
        stop_streaming_query(q, spark)
        spark.catalog.dropTempView(sink)


def test_create_trade_split_across_batches(spark):
    """The reference's GlobalState flags a trade whose create arrived in
    an EARLIER message (global_state.rs:71-114); the window form cannot.
    The strict form must."""
    dev = "DevWallet1111111111111111111111111111111111"
    other = "OtherWallet111111111111111111111111111111111"
    batch1 = [_event("sigA", 1, "PumpFunCreateToken", user=dev),
              _event("sigBonk", 1, "BonkInitialize", creator=dev)]
    batch2 = [_event("sigA", 2, "PumpFunBuy", user=dev, creator=other),
              _event("sigA", 2, "PumpFunSell", user=other, creator=other),
              _event("sigBonk", 2, "BonkBuyExactIn", payer=dev),
              _event("sigOther", 2, "PumpFunBuy", user=other)]
    with tempfile.TemporaryDirectory(ignore_cleanup_errors=True) as tmp:
        flags = _run_two_batches(spark, batch1, batch2, tmp)
    # creates carry no flag (reference sets the flag on trades only)
    assert flags[("sigA", "PumpFunCreateToken", 1)] is None
    # cross-batch: dev's later trade in the same signature is flagged
    assert flags[("sigA", "PumpFunBuy", 2)] is True
    assert flags[("sigA", "PumpFunSell", 2)] is False
    assert flags[("sigBonk", "BonkBuyExactIn", 2)] is True
    # a different signature never sees sigA's dev set
    assert flags[("sigOther", "PumpFunBuy", 2)] is False


def test_same_batch_matches_window_form(spark):
    """Within one batch the strict form agrees with enrich_events'
    window: create-then-trade in the same signature flags the trade."""
    dev = "DevWallet1111111111111111111111111111111111"
    batch1 = [_event("sigX", 1, "PumpFunCreateToken", user=dev,
                     outer_index=0),
              _event("sigX", 1, "PumpFunBuy", user=dev, outer_index=1)]
    batch2 = [_event("sigY", 2, "PumpFunBuy", user=dev)]
    with tempfile.TemporaryDirectory(ignore_cleanup_errors=True) as tmp:
        flags = _run_two_batches(spark, batch1, batch2, tmp)
    assert flags[("sigX", "PumpFunBuy", 1)] is True
    # sigY never had a create: not flagged (state is per signature)
    assert flags[("sigY", "PumpFunBuy", 2)] is False


def test_sequential_order_within_batch(spark):
    """Strict form is sequential like the reference's callback loop: a
    trade BEFORE the create (by instruction order) is not flagged —
    stricter than the window form's whole-partition collect_set."""
    dev = "DevWallet1111111111111111111111111111111111"
    batch1 = [_event("sigZ", 1, "PumpFunBuy", user=dev, outer_index=0),
              _event("sigZ", 1, "PumpFunCreateToken", user=dev,
                     outer_index=1)]
    batch2 = [_event("sigZ", 2, "PumpFunBuy", user=dev)]
    with tempfile.TemporaryDirectory(ignore_cleanup_errors=True) as tmp:
        flags = _run_two_batches(spark, batch1, batch2, tmp)
    assert flags[("sigZ", "PumpFunBuy", 1)] is False   # before the create
    assert flags[("sigZ", "PumpFunBuy", 2)] is True    # after, next batch


def test_capped_global_state_eviction_envelope():
    """Reference capacity parity (global_state.rs:7-8,40-68): cleanup
    triggers only when the count STRICTLY exceeds the cap, evicts
    exactly evict_count arbitrary victims, and the store hovers in
    (max - evict, max + 1]."""
    from solana_event_stream_spark.streaming.state import CappedGlobalState

    st = CappedGlobalState(max_entries=5, evict_count=2)
    for i in range(6):
        st.add_dev_address(f"sig{i}", f"dev{i}")
    # 6th add saw count==5 (not > 5): no cleanup yet — the reference
    # overshoots the cap by one before evicting
    assert st.signature_count() == 6
    st.add_dev_address("sig6", "dev6")  # sees 6 > 5: evicts 2, inserts 1
    assert st.signature_count() == 5
    # victims are the first two keys in map order (sig0, sig1 here)
    assert not st.is_dev_address_in_signature("sig0", "dev0")
    assert not st.is_dev_address_in_signature("sig1", "dev1")
    for i in range(2, 7):
        assert st.is_dev_address_in_signature(f"sig{i}", f"dev{i}")
    # long-run envelope: count never exceeds max_entries + 1
    for i in range(7, 100):
        st.add_dev_address(f"sig{i}", f"dev{i}")
        assert st.signature_count() <= st.max_entries + 1
    # reads and trades never trigger cleanup (reference checks on add only)
    n = st.signature_count()
    st.is_dev_address_in_signature("sig99", "dev99")
    assert st.signature_count() == n


def test_capped_replay_degrades_like_reference():
    """Under overflow the flag DEGRADES exactly like the reference: a
    signature whose create registration was evicted yields an unflagged
    (False) trade — never an error, never a stale flag."""
    from solana_event_stream_spark.streaming.state import (
        CappedGlobalState, fold_rows_with_global_state)

    dev = "DevWallet1111111111111111111111111111111111"
    st = CappedGlobalState(max_entries=3, evict_count=1)
    # batch 1: sigA's create registers dev
    fold_rows_with_global_state(
        [_event("sigA", 1, "PumpFunCreateToken", user=dev)], st)
    # batch 2: filler creates push the store to the cap overshoot (4)
    fold_rows_with_global_state(
        [_event(s, 2, "PumpFunCreateToken", user=dev)
         for s in ("sigB", "sigC", "sigD")], st)
    assert st.signature_count() == 4
    # batch 3: trade BEFORE any further add still sees sigA (no cleanup
    # on reads), then one more create evicts sigA (oldest key)
    out = fold_rows_with_global_state(
        [_event("sigA", 3, "PumpFunBuy", user=dev)], st)
    assert out[0] is True
    fold_rows_with_global_state(
        [_event("sigE", 4, "PumpFunCreateToken", user=dev)], st)
    batch5 = [_event("sigA", 5, "PumpFunBuy", user=dev),
              _event("sigD", 5, "PumpFunBuy", user=dev)]
    out = fold_rows_with_global_state(batch5, st)
    flags = {r["signature"]: f for r, f in zip(batch5, out)}
    assert flags["sigA"] is False   # evicted: degraded, not an error
    assert flags["sigD"] is True    # survivor keeps its registration


def test_capped_replay_matches_uncapped_strict_form():
    """Under the cap, the capped driver-side fold and the distributed
    _replay_rows core agree row-for-row (shared semantics, different
    state plumbing)."""
    import pandas as pd

    from solana_event_stream_spark.streaming.state import (
        CappedGlobalState, _replay_rows, fold_rows_with_global_state)

    dev = "DevWallet1111111111111111111111111111111111"
    other = "OtherWallet111111111111111111111111111111111"
    rows = [_event("sigX", 1, "PumpFunCreateToken", user=dev,
                   outer_index=0),
            _event("sigX", 1, "PumpFunBuy", user=dev, outer_index=1),
            _event("sigX", 1, "PumpFunSell", user=other, creator=other,
                   outer_index=2),
            _event("sigX", 1, "BonkInitialize", creator=dev,
                   outer_index=3),
            _event("sigX", 1, "BonkBuyExactIn", payer=dev, outer_index=4)]
    capped = fold_rows_with_global_state(rows, CappedGlobalState())
    uncapped, _, _ = _replay_rows([pd.DataFrame(rows)[INPUT_COLS]],
                                  set(), set())
    assert capped == [r[-1] for r in uncapped]


def test_strict_state_survives_query_restart(spark):
    """Keyed J3 state must RECOVER from the checkpoint across a full
    query stop/start (the reference process keeps its GlobalState in
    memory for its lifetime; our durable equivalent is the state store
    checkpoint, RocksDB with changelog checkpointing by default): a
    create registered in run 1 must flag a trade delivered in run 2."""
    dev = "DevWallet1111111111111111111111111111111111"
    batch1 = [_event("sigR", 1, "PumpFunCreateToken", user=dev)]
    batch2 = [_event("sigR", 2, "PumpFunBuy", user=dev)]

    drain_active_streams(spark)
    with tempfile.TemporaryDirectory(ignore_cleanup_errors=True) as tmp:
        src = os.path.join(tmp, "src")
        ckpt = os.path.join(tmp, "ckpt")
        os.makedirs(src)

        def _write(batch):
            spark.createDataFrame([tuple(r[c] for c in INPUT_COLS)
                                   for r in batch], SCHEMA) \
                .coalesce(1).write.mode("append").parquet(src)

        def _run(expected_rows):
            # foreachBatch sink: the memory sink is not fault-tolerant
            # and refuses to RESUME from a checkpoint, which is the
            # whole point here. Poll-then-stop rather than
            # awaitTermination: an availableNow query with
            # processing-time state timeouts does not self-terminate
            # promptly, so awaiting would burn the full timeout.
            rows: list = []
            stream = (spark.readStream.schema(SCHEMA)
                      .option("maxFilesPerTrigger", "1").parquet(src))
            q = (tag_dev_trades_stateful(stream).writeStream
                 .foreachBatch(lambda df, bid: rows.extend(df.collect()))
                 .option("checkpointLocation", ckpt)
                 .trigger(availableNow=True).start())
            try:
                deadline = time.time() + 120
                while len(rows) < expected_rows and time.time() < deadline:
                    time.sleep(0.5)
                # one extra beat so the batch's state commit finishes
                # before we stop (the NEXT run must recover it)
                time.sleep(2.0)
            finally:
                stop_streaming_query(q, spark)
            assert len(rows) == expected_rows, rows
            return {(r.signature, r.event_type):
                    r.is_dev_create_token_trade for r in rows}

        _write(batch1)
        flags1 = _run(1)                 # run 1: create only, then STOP
        assert flags1[("sigR", "PumpFunCreateToken")] is None

        time.sleep(1.1)                  # distinct mtime for file 2
        _write(batch2)
        flags2 = _run(1)                 # run 2: SAME checkpoint
        # the dev pool registered in run 1 must have been recovered
        # from the state store checkpoint
        assert flags2[("sigR", "PumpFunBuy")] is True


def test_session_leaves_protobuf_environment_alone(spark):
    """Starting the session must not switch off protobuf's version check
    or put a protobuf overlay on the driver's or the workers' import
    path: the keyed form needs no runtime beyond PySpark's own."""
    assert "TEMPORARILY_DISABLE_PROTOBUF_VERSION_CHECK" not in os.environ
    paths = sys.path + os.environ.get("PYTHONPATH", "").split(os.pathsep)
    assert not [p for p in paths if "ses_spark_pbshim" in p]
