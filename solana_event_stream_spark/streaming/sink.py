"""Streaming sinks: the K1 callback sink with the §2.9 ordering contract,
plus the full stream pipeline assembly.

Structured Streaming notes vs the reference:
- delivery: checkpointed foreachBatch gives at-least-once (stronger than
  the reference's at-most-once-under-Drop, SURVEY §2.10);
- ordering: events inside each micro-batch are sorted by
  (slot, transaction_index, outer_index, inner_index, event_type) before
  the callback — the reference's synchronous intra-transaction order;
- enrichment: J3 is computed in the decode worker per signature (a
  signature's events always share a transaction and hence a partition of
  one micro-batch, so this equals a global window over signature), and
  the J4/P11 projections run inside foreachBatch. Nothing is persisted:
  the driver handlers run ONE job per micro-batch (the collect), so the
  decode runs once. Only the partition form persists, because its range
  sampling is a second job over the same batch.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark import StorageLevel
from pyspark.sql import DataFrame, functions as F

from ..plans.pipeline import enrich_events


def _nulls_first(v):
    """Sort-key wrapper matching Spark's ascending NULLS FIRST."""
    return (v is not None, 0 if v is None else v)


def _row_order_key(r) -> tuple:
    """THE §2.9 ordering contract: (slot, transaction_index,
    outer_index, inner_index NULL->-1, event_type), nulls first —
    driver-side equivalent of the cluster
    orderBy(slot, tx, outer, coalesce(inner, -1), event_type)."""
    return (_nulls_first(r["slot"]), _nulls_first(r["transaction_index"]),
            _nulls_first(r["outer_index"]),
            r["inner_index"] if r["inner_index"] is not None else -1,
            _nulls_first(r["event_type"]))


def foreach_batch_callback(callback: Callable[[list], None],
                           bot_wallet: str | None = None):
    """K1: invoke `callback(rows)` once per micro-batch with enriched,
    deterministically ordered event rows.

    Faithful to the reference's single-consumer callback — which means
    every row funnels through the driver (`.collect()`). Correct at the
    reference's single-node scale; at cluster scale use
    `foreach_partition_callback` below.

    Latency note (latency_probe.py attribution): since every row reaches
    the driver anyway, the total order is applied DRIVER-SIDE — a
    cluster `orderBy` before a full collect would add a range-partition
    exchange plus its sampling job to every micro-batch's critical path
    for rows that are about to leave the cluster.
    """
    def _handle(batch_df: DataFrame, batch_id: int):
        rows = enrich_events(batch_df, bot_wallet).collect()
        callback(sorted(rows, key=_row_order_key))
    return _handle


def foreach_partition_callback(callback: Callable[[list], None],
                               bot_wallet: str | None = None,
                               num_partitions: int | None = None):
    """K1 at scale: `callback(rows)` runs per PARTITION on the executors
    — no driver bottleneck.

    Ordering contract (vs the driver form): rows are range-partitioned
    and sorted on (slot, transaction_index, outer_index, inner_index),
    so each invocation receives a CONTIGUOUS, internally ordered slice
    of the batch's total order; invocations themselves run concurrently
    across executors. Consumers needing the global order concatenate
    slices by their first key; consumers needing only intra-transaction
    order (the reference's real contract, SURVEY §2.9) need nothing — a
    transaction never spans partitions because the range keys lead with
    (slot, transaction_index).
    """
    def _handle(batch_df: DataFrame, batch_id: int):
        # the range-partition sampling job and the foreachPartition job
        # would each run the decode without this persist
        batch_df = batch_df.persist(StorageLevel.MEMORY_AND_DISK)
        try:
            enriched = enrich_events(batch_df, bot_wallet)
            keys = [F.col("slot"), F.col("transaction_index"),
                    F.col("outer_index"),
                    F.coalesce(F.col("inner_index"), F.lit(-1))]
            n = num_partitions or batch_df.sparkSession.sparkContext \
                .defaultParallelism
            ordered = (enriched.repartitionByRange(n, *keys)
                       .sortWithinPartitions(*keys, F.col("event_type")))
            ordered.foreachPartition(lambda rows: callback(list(rows)))
        finally:
            batch_df.unpersist()
    return _handle


def foreach_batch_callback_strict(callback: Callable[[list], None],
                                  state=None,
                                  bot_wallet: str | None = None):
    """K1 with reference-EXACT GlobalState semantics: the dev flag is
    computed by folding the ordered rows through a `CappedGlobalState`
    that persists ACROSS micro-batches — cross-batch create->trade
    registration AND the 1000-signature/evict-100 capacity envelope
    (`core/global_state.rs`), which the per-batch window form cannot
    express. Driver-side by design: this is the single-consumer path
    where the reference's process-wide singleton lives. Rows are
    delivered as dicts (the flag is rewritten post-collect).
    """
    from .state import CappedGlobalState, fold_rows_with_global_state
    state = state if state is not None else CappedGlobalState()

    def _handle(batch_df: DataFrame, batch_id: int):
        rows = sorted(enrich_events(batch_df, bot_wallet).collect(),
                      key=_row_order_key)
        flags = fold_rows_with_global_state(rows, state)
        out = []
        for r, flag in zip(rows, flags):
            d = r.asDict()
            d["is_dev_create_token_trade"] = flag
            out.append(d)
        callback(out)
    return _handle


def start_event_stream(raw_stream: DataFrame,
                       callback: Callable[[list], None],
                       checkpoint_dir: str,
                       bot_wallet: str | None = None,
                       protocols=None,
                       global_state=None,
                       dedup_redelivery: str | None = None,
                       state_partitions: int | None = None):
    """raw transaction stream -> decoded events -> ordered callback sink.

    ``global_state``: pass a `streaming.state.CappedGlobalState` (or
    ``True`` for a fresh one) to switch the dev-flag enrichment to the
    reference-exact cross-batch capped store (see
    `foreach_batch_callback_strict`); rows then arrive as dicts.
    Default (None) keeps the per-signature J3 of the decode worker,
    exact whenever a signature's events share a micro-batch — every
    case the reference's own delivery produces.

    ``dedup_redelivery``: a watermark duration (e.g. "10 minutes") to
    insert the cross-batch redelivery filter (`streaming/dedup.py`) in
    front of the sink — effectively-once delivery under transport
    reconnect replay, with state bounded by the given horizon.

    ``state_partitions``: state-store width for the dedup arm on a NEW
    checkpoint (frozen in by the first commit). None = the measured
    low-latency default (`state.DEFAULT_STATE_PARTITIONS`); 0 = leave
    the session conf untouched; positive = that width (size to the
    executor count on a real cluster).
    """
    from ..plans.pipeline import build_events_core
    events = build_events_core(raw_stream, protocols)
    if dedup_redelivery is not None:
        from .dedup import dedup_event_stream
        events = dedup_event_stream(events, watermark=dedup_redelivery)
    if global_state is not None:
        from .state import CappedGlobalState
        state = (CappedGlobalState() if global_state is True
                 else global_state)
        handler = foreach_batch_callback_strict(callback, state, bot_wallet)
    else:
        handler = foreach_batch_callback(callback, bot_wallet)
    from .state import pin_state_width, resolve_state_width
    restore = pin_state_width(
        raw_stream.sparkSession, checkpoint_dir,
        resolve_state_width(raw_stream.sparkSession, state_partitions,
                            stateful=dedup_redelivery is not None))
    try:
        return (events.writeStream
                .foreachBatch(handler)
                .option("checkpointLocation", checkpoint_dir)
                .trigger(availableNow=True)
                .start())
    finally:
        restore()
