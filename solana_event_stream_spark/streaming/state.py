"""Strict cross-batch J3 dev-address state (opt-in).

The default J3 implementation is the per-signature pass in the decode
worker (plans/pipeline.py:_with_dev_flags) — exact whenever a transaction's create
and trade events arrive in the same micro-batch, which is every case the
reference's own delivery produces (create and trade share a SIGNATURE,
i.e. a transaction, and one transaction arrives as one message). This
module is the strict-parity form for the remaining case (the same
signature's events split across micro-batches, e.g. duplicate delivery
or a replay seam): keyed streaming state per signature, mirroring
`core/global_state.rs`:

- state per signature = {dev_addresses, bonk_dev_addresses}
  (`global_state.rs:12-18`);
- writes: PumpFun create registers user (+ creator when distinct and
  non-zero); Bonk initialize registers creator
  (`core/event_parser.rs:674-689, 724-727`);
- reads: PumpFun trades check user/creator membership, Bonk trades check
  payer (`:690-693, 728-731`);
- rows are processed in event order (slot, tx_index, outer, inner) —
  sequential like the reference's callback loop, NOT the default form's
  whole-signature pools;
- capacity: the reference caps the map at 1000 signatures and evicts 100
  arbitrary victims when full (`global_state.rs:7-8, 40-68`) — a global
  bound whose victim choice is explicitly arbitrary. Spark keyed state
  is partitioned, so a cross-key counter is not expressible; the
  engine's equivalent bound is per-key timeout eviction, which gives the
  same guarantee the cap exists for — bounded state under unbounded
  signatures — with time-based instead of count-based victim selection.
  Default 10 minutes, configurable.

Implementation note: both state backends are provided, sharing one
replay core (`_replay_rows`): `applyInPandasWithState` (GroupState,
always available) and `transformWithStateInPandas` (Spark 4 arbitrary
state v2, gated on google.protobuf because its state-server control
channel needs it, and on the RocksDB state-store provider because its
state is multi-column-family). `protobuf_compat.ensure_protobuf()`
(called by `session.get_spark` before the JVM starts) discovers a
bundled pure-python protobuf runtime on hosts without an installed
one, so both backends execute in this sandbox; `tag_dev_trades_strict`
auto-selects.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql.streaming.state import GroupStateTimeout
from pyspark.sql.types import (ArrayType, BooleanType, LongType, StringType,
                               StructField, StructType)

from ..registry import ZERO_PUBKEY

PUMPFUN_CREATES = ("PumpFunCreateToken", "PumpFunCreateV2Token")
PUMPFUN_TRADES = ("PumpFunBuy", "PumpFunSell")
BONK_CREATES = ("BonkInitialize", "BonkInitializeV2",
                "BonkInitializeWithToken2022")
BONK_TRADES = ("BonkBuyExactIn", "BonkBuyExactOut", "BonkSellExactIn",
               "BonkSellExactOut")

INPUT_COLS = ["signature", "slot", "transaction_index", "outer_index",
              "inner_index", "event_type", "user", "creator", "payer"]

OUTPUT_SCHEMA = StructType([
    StructField("signature", StringType()),
    StructField("slot", LongType()),
    StructField("transaction_index", LongType()),
    StructField("outer_index", LongType()),
    StructField("inner_index", LongType()),
    StructField("event_type", StringType()),
    StructField("is_dev_create_token_trade", BooleanType()),
])

STATE_SCHEMA = StructType([
    StructField("dev", ArrayType(StringType())),
    StructField("bonk", ArrayType(StringType())),
])


def _replay_rows(frames, dev: set, bonk: set):
    """Shared sequential replay core for both state backends: sort the
    batch's rows into event order and fold them through the dev/bonk
    pools exactly like the reference's callback loop
    (event_parser.rs:674-731). Returns (output tuples, dev, bonk)."""
    import pandas as pd

    pdf = pd.concat(frames) if len(frames) > 1 else frames[0]
    pdf = pdf.sort_values(
        ["slot", "transaction_index", "outer_index", "inner_index"],
        na_position="first")

    out = []
    for row in pdf.itertuples(index=False):
        et = row.event_type
        flag = None
        if et in PUMPFUN_CREATES:
            # event_parser.rs:674-689
            if row.user is not None:
                dev.add(row.user)
            if row.creator not in (None, ZERO_PUBKEY) \
                    and row.creator != row.user:
                dev.add(row.creator)
        elif et in BONK_CREATES:
            # event_parser.rs:724-727
            if row.creator is not None:
                bonk.add(row.creator)
        elif et in PUMPFUN_TRADES:
            # event_parser.rs:690-693
            flag = (row.user in dev) or (row.creator in dev)
        elif et in BONK_TRADES:
            # event_parser.rs:728-731
            flag = row.payer in bonk
        out.append((row.signature, row.slot, row.transaction_index,
                    row.outer_index, row.inner_index, et, flag))
    return out, dev, bonk


class CappedGlobalState:
    """Exact-parity port of the reference's GlobalState capacity envelope
    (`streaming/event_parser/core/global_state.rs:7-8,40-68`): at most
    ~`max_entries` signatures; every add first runs `maybe_cleanup`,
    which — when the count STRICTLY exceeds the cap — evicts
    `evict_count` arbitrary entries (the reference truncates the
    DashMap's arbitrary iteration order; here dict insertion order plays
    that role, equally "random selection for simplicity" per its own
    comment). The store therefore hovers in
    (max_entries - evict_count, max_entries + 1], exactly like the Rust
    form.

    This is the single-consumer form: the reference's GlobalState is a
    process-wide singleton read inside its callback parse loop, which
    maps to our K1 driver-parity sink (`foreach_batch_callback`), where
    one Python object persists across micro-batches. The DISTRIBUTED
    strict backends below cannot express a cross-key count (Spark keyed
    state is partitioned per signature) and bound memory with per-key
    TTL instead — same guarantee, time-based victims (module docstring).
    """

    MAX_SIGNATURES = 1000       # global_state.rs:7
    CLEANUP_BATCH_SIZE = 100    # global_state.rs:8

    def __init__(self, max_entries: int = MAX_SIGNATURES,
                 evict_count: int = CLEANUP_BATCH_SIZE):
        self.max_entries = max_entries
        self.evict_count = evict_count
        self._m: dict[str, tuple[set, set]] = {}

    def _maybe_cleanup(self) -> None:
        # global_state.rs:40-68: trigger only when count > cap; victims
        # are the first evict_count keys of the map's iteration order
        if len(self._m) <= self.max_entries:
            return
        for key in list(self._m)[:self.evict_count]:
            del self._m[key]

    def _pools(self, signature: str) -> tuple[set, set]:
        if signature not in self._m:
            self._m[signature] = (set(), set())
        return self._m[signature]

    def add_dev_address(self, signature: str, address: str) -> None:
        self._maybe_cleanup()
        self._pools(signature)[0].add(address)

    def add_bonk_dev_address(self, signature: str, address: str) -> None:
        self._maybe_cleanup()
        self._pools(signature)[1].add(address)

    def is_dev_address_in_signature(self, signature: str,
                                    address) -> bool:
        pools = self._m.get(signature)
        return bool(pools and address in pools[0])

    def is_bonk_dev_address_in_signature(self, signature: str,
                                         address) -> bool:
        pools = self._m.get(signature)
        return bool(pools and address in pools[1])

    def signature_count(self) -> int:
        return len(self._m)

    def clear_all_data(self) -> None:
        self._m.clear()


def _fold_event(state: CappedGlobalState, sig: str, et: str,
                user, creator, payer):
    """One step of the reference's callback parse loop
    (event_parser.rs:674-731) against a CappedGlobalState: creates
    register addresses, trades read membership. Returns the trade flag
    (None for non-trades)."""
    if et in PUMPFUN_CREATES:
        if user is not None:
            state.add_dev_address(sig, user)
        if creator not in (None, ZERO_PUBKEY) and creator != user:
            state.add_dev_address(sig, creator)
        return None
    if et in BONK_CREATES:
        if creator is not None:
            state.add_bonk_dev_address(sig, creator)
        return None
    if et in PUMPFUN_TRADES:
        return (state.is_dev_address_in_signature(sig, user)
                or state.is_dev_address_in_signature(sig, creator))
    if et in BONK_TRADES:
        return state.is_bonk_dev_address_in_signature(sig, payer)
    return None


def fold_rows_with_global_state(rows, state: CappedGlobalState) -> list:
    """Fold an ALREADY event-ordered sequence of mapping-like event rows
    (dicts or pyspark Rows) through a CappedGlobalState; returns the
    strict dev flag per row, aligned with the input order. This is the
    sink-side integration point (`streaming/sink.py`
    foreach_batch_callback_strict) — the caller keeps one state object
    across micro-batches."""
    return [_fold_event(state, r["signature"], r["event_type"],
                        r["user"], r["creator"], r["payer"])
            for r in rows]


def replay_with_global_state(pdf, state: CappedGlobalState):
    """Sequential replay of one micro-batch's rows through a
    CappedGlobalState — the reference's callback parse loop verbatim
    (event_parser.rs:674-731), including the capacity envelope: a
    signature's create registrations can be EVICTED before its trade
    arrives, in which case the trade is simply unflagged (False), never
    an error. Returns OUTPUT_SCHEMA-shaped tuples in event order.

    Driver-side by design: this is the K1 single-consumer path, where
    the reference's GlobalState singleton actually lives. Use it inside
    `foreachBatch` with one CappedGlobalState held across batches.
    """
    pdf = pdf.sort_values(
        ["slot", "transaction_index", "outer_index", "inner_index"],
        na_position="first")
    out = []
    for row in pdf.itertuples(index=False):
        flag = _fold_event(state, row.signature, row.event_type,
                           row.user, row.creator, row.payer)
        out.append((row.signature, row.slot, row.transaction_index,
                    row.outer_index, row.inner_index, row.event_type,
                    flag))
    return out


def _make_processor(ttl_ms: int | None):
    import pandas as pd

    def process(key, pdfs, state):
        if state.hasTimedOut:
            # global_state.rs:40-68 eviction analog (time-based victim)
            state.remove()
            return
        dev: set = set()
        bonk: set = set()
        if state.exists:
            prev_dev, prev_bonk = state.get
            dev, bonk = set(prev_dev or []), set(prev_bonk or [])

        out, dev, bonk = _replay_rows(list(pdfs), dev, bonk)

        if dev or bonk:
            state.update((sorted(dev), sorted(bonk)))
            if ttl_ms is not None:
                state.setTimeoutDuration(ttl_ms)
        yield pd.DataFrame(out, columns=[f.name for f in
                                         OUTPUT_SCHEMA.fields])

    return process


def tag_dev_trades_stateful(events: DataFrame,
                            ttl_ms: int | None = 10 * 60 * 1000
                            ) -> DataFrame:
    """Opt-in strict J3: cross-batch keyed state per signature.

    Input: the event stream (build_events_core output or any frame with
    INPUT_COLS). Output: one row per event with the strict
    is_dev_create_token_trade flag; join back on (signature, outer_index,
    inner_index) if the full event row is needed.
    """
    cols = [c for c in INPUT_COLS if c in events.columns]
    timeout = (GroupStateTimeout.ProcessingTimeTimeout
               if ttl_ms is not None else GroupStateTimeout.NoTimeout)
    return (events.select(*cols)
            .groupBy("signature")
            .applyInPandasWithState(
                _make_processor(ttl_ms),
                outputStructType=OUTPUT_SCHEMA,
                stateStructType=STATE_SCHEMA,
                outputMode="Append",
                timeoutConf=timeout))


def has_transform_with_state() -> bool:
    """True when the transformWithStateInPandas runtime is usable.

    The operator itself ships with PySpark, but its state-server control
    channel speaks protobuf (python `google.protobuf`). Where protobuf
    is not pip-installed, `protobuf_compat.ensure_protobuf()` (run by
    `session.get_spark` BEFORE the JVM starts, so workers inherit the
    path) can activate a bundled runtime; this check reports the
    resulting importability. The strict-state API auto-selects the
    GroupState form when this returns False.
    """
    try:
        import google.protobuf  # noqa: F401
    except ImportError:
        return False
    return True


_ROCKSDB_PROVIDER = ("org.apache.spark.sql.execution.streaming.state."
                     "RocksDBStateStoreProvider")


def _require_rocksdb_provider(df: DataFrame) -> None:
    """transformWithStateInPandas keeps multi-column-family state, which
    the default HDFSBackedStateStoreProvider rejects at the first
    micro-batch ([UNSUPPORTED_FEATURE.STATE_STORE_MULTIPLE_COLUMN_
    FAMILIES]) — fail at plan-build time with an actionable message
    instead. `session.get_spark` configures RocksDB by default."""
    spark = df.sparkSession
    provider = spark.conf.get("spark.sql.streaming.stateStore.providerClass",
                              "")
    if "RocksDB" not in provider:
        raise RuntimeError(
            "transformWithStateInPandas requires the RocksDB state store: "
            "set spark.sql.streaming.stateStore.providerClass="
            f"{_ROCKSDB_PROVIDER} before starting the query (the "
            "session.get_spark factory does this by default; "
            "SPARK_GRAFT_STATE_STORE=hdfs overrides it)")


def tag_dev_trades_stateful_tws(events: DataFrame,
                                ttl_ms: int | None = 10 * 60 * 1000
                                ) -> DataFrame:
    """Strict J3 on the `transformWithStateInPandas` backend (Spark 4
    arbitrary-state v2): identical replay semantics to
    `tag_dev_trades_stateful` (shared `_replay_rows` core), with the
    reference's bounded-state cap expressed as native state TTL
    (`getValueState(..., ttlDurationMs=...)`) instead of GroupState
    timeouts. Requires google.protobuf at runtime (check
    `has_transform_with_state()` first) and the RocksDB state-store
    provider (session.get_spark's default; checked at plan build).
    """
    if not has_transform_with_state():
        raise ImportError(
            "transformWithStateInPandas needs google.protobuf, which is "
            "not installed; use tag_dev_trades_stateful (GroupState) or "
            "tag_dev_trades_strict() to auto-select")
    _require_rocksdb_provider(events)

    import pandas as pd
    from pyspark.sql.streaming.stateful_processor import (
        StatefulProcessor, StatefulProcessorHandle)

    class _DevPoolProcessor(StatefulProcessor):
        def init(self, handle: StatefulProcessorHandle) -> None:
            self._state = handle.getValueState(
                "dev_pools", STATE_SCHEMA,
                ttlDurationMs=ttl_ms)

        def handleInputRows(self, key, rows, timer_values):
            dev: set = set()
            bonk: set = set()
            if self._state.exists():
                prev = self._state.get()
                dev = set(prev[0] or [])
                bonk = set(prev[1] or [])
            out, dev, bonk = _replay_rows(list(rows), dev, bonk)
            if dev or bonk:
                self._state.update((sorted(dev), sorted(bonk)))
            yield pd.DataFrame(out, columns=[f.name for f in
                                             OUTPUT_SCHEMA.fields])

        def close(self) -> None:
            pass

    cols = [c for c in INPUT_COLS if c in events.columns]
    return (events.select(*cols)
            .groupBy("signature")
            .transformWithStateInPandas(
                statefulProcessor=_DevPoolProcessor(),
                outputStructType=OUTPUT_SCHEMA,
                outputMode="Append",
                timeMode=("ProcessingTime" if ttl_ms is not None
                          else "None")))


def tag_dev_trades_strict(events: DataFrame,
                          ttl_ms: int | None = 10 * 60 * 1000) -> DataFrame:
    """Strict J3 on whichever state backend the environment supports:
    transformWithStateInPandas when protobuf is importable AND the
    session uses the RocksDB state store, else the
    applyInPandasWithState form. Semantics are identical (both wrap
    `_replay_rows`); only the state plumbing differs."""
    provider = events.sparkSession.conf.get(
        "spark.sql.streaming.stateStore.providerClass", "")
    if has_transform_with_state() and "RocksDB" in provider:
        return tag_dev_trades_stateful_tws(events, ttl_ms)
    return tag_dev_trades_stateful(events, ttl_ms)


# ---------------------------------------------------------------------------
# State-partition width (VERDICT r8 item 6)
# ---------------------------------------------------------------------------

# Stateful streaming arms pay one Exchange onto the state partitions
# plus a per-partition state-store commit EVERY batch; at local/edge
# batch sizes the 32-wide default is pure overhead. Measured (r8,
# latency_probe): 32 -> 8 partitions cuts the dedup arm's p50 ~30%, to
# the 1,000 ms envelope. On a real cluster, size this to the executor
# count instead (pass an explicit value, or None to leave the session
# conf alone). The width is FROZEN into the checkpoint by the first
# batch — which is exactly why the entry points apply it before start.
DEFAULT_STATE_PARTITIONS = 8


def _checkpoint_exists(spark, checkpoint_dir: str) -> bool:
    """Does the checkpoint already hold committed offsets? Resolved
    through the session's Hadoop FS so the no-op-on-existing-checkpoint
    promise holds for S3/HDFS checkpoints too, not just local paths
    (ADVICE r9); falls back to os.path for sessions without a JVM."""
    try:
        jvm = spark._jvm
        path = jvm.org.apache.hadoop.fs.Path(checkpoint_dir, "offsets")
        fs = path.getFileSystem(
            spark.sparkContext._jsc.hadoopConfiguration())
        return bool(fs.exists(path))
    except Exception:
        import os as _os
        return _os.path.isdir(_os.path.join(checkpoint_dir, "offsets"))


def pin_state_width(spark, checkpoint_dir: str,
                    state_partitions: int | None):
    """Set spark.sql.shuffle.partitions for a stateful stream about to
    START on a NEW checkpoint, returning a restore callable.

    Safe bracketing: StreamExecution clones the session (and its conf)
    inside .start(), so `restore()` right after start() cannot race the
    stream's own planning. No-op when ``state_partitions`` is None or
    the checkpoint already exists (Spark then reuses the width frozen
    in the checkpoint and ignores the session conf).
    """
    if state_partitions is None or _checkpoint_exists(spark,
                                                      checkpoint_dir):
        return lambda: None
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", str(state_partitions))

    def restore():
        spark.conf.set("spark.sql.shuffle.partitions", prev)
    return restore


def resolve_state_width(spark, state_partitions: int | None,
                        stateful: bool) -> int | None:
    """Entry-point policy: 0 -> never pin (opt-out); a positive int ->
    that width; None -> the locally-measured low-latency default when
    the query is stateful AND the master is local — on a cluster the
    8-wide default would silently cap state parallelism for the
    checkpoint's LIFETIME (the width freezes into the first commit), so
    there the default is to leave the session conf alone and warn the
    operator to size state_partitions explicitly (ADVICE r9)."""
    if state_partitions == 0 or (state_partitions is None
                                 and not stateful):
        return None
    if state_partitions is not None:
        return state_partitions
    master = ""
    try:
        master = spark.sparkContext.master or ""
    except Exception:
        pass
    if master.startswith("local"):
        return DEFAULT_STATE_PARTITIONS
    import warnings
    warnings.warn(
        "stateful stream starting on a non-local master without "
        "state_partitions: the state-store width will freeze into the "
        "checkpoint at the session's spark.sql.shuffle.partitions — "
        "pass state_partitions sized to the executor count",
        stacklevel=3)
    return None
