"""Batch event pipeline: raw transactions -> decoded, merged, enriched
DEX-event DataFrame (SURVEY §3.1 translated to a single narrow DataFrame
DAG).

Stage layout (no shuffle and no join anywhere):

  JVM (Catalyst, codegen, pushdown):
    F6 vote filter -> F2 has-any-program prefilter (arrays_overlap before
    explode, so Catalyst keeps it at the scan) -> P1 account assembly +
    padding -> E1/E2 outer+inner instruction flattening (posexplode) ->
    P3 index->pubkey resolution (transform/element_at) -> F1+D1 dispatch
    (literal map lookup on (program, discriminator)) -> filter to matched
    rows only.
  Python (one Arrow-batched mapInArrow over MATCHED rows only — the
  minimal surface builtins cannot express: Borsh decode with
  length-prefixed strings / option tags):
    P5/P6 decode, J1 CPI-scan+merge (intra-row: both sides come from the
    same transaction, merger_event.rs semantics), J2 swap-data look-ahead,
    F7/F8/F9 guards, then J3 dev flags per signature in the same worker
    (a transaction's rows are contiguous in one partition, see
    _with_dev_flags).
  JVM again (row-local projections):
    J4 bot compare, P11 swap-amount fill.

Scale notes: every stage before/after the decode UDF is whole-stage
codegen-able; the decode stage is Arrow-vectorized IO with per-row Python
only for rows that already matched a (program, discriminator) pair — on
mainnet data that is the event rate, not the instruction rate. There is
no shuffle anywhere in the pipeline; output is partition-preserving in
(slot, tx) order, so archive writes can bucket by slot without a
repartition.
"""

from __future__ import annotations

from typing import Iterator

from pyspark.sql import DataFrame, functions as F

from ..registry import (COMPUTE_BUDGET_PROGRAM_ID, INNER_DISCRIMINATORS,
                        INSTRUCTION_DISCRIMINATORS,
                        PROGRAM_ID_BY_PROTOCOL, PROTOCOL_BY_PROGRAM_ID,
                        RAYDIUM_AMM_V4_PROGRAM_ID, SYSTEM_PROGRAMS,
                        ZERO_PUBKEY)
from ..schemas import EVENT_SCHEMA


# Base columns every output row copies verbatim from its source row —
# carried across the Arrow boundary columnar (take by index), never
# through per-row Python dicts.
_PASSTHROUGH = ("signature", "slot", "transaction_index", "block_time",
                "block_time_ms", "recv_us", "program_id", "protocol",
                "outer_index", "inner_index")


def _decode_batches(iterator: Iterator, bot_wallet: str | None,
                    vectorized: bool = True,
                    tables: dict | None = None):
    """mapInArrow body: decode matched instruction rows into event rows.

    The inner-group scans (J1 CPI match, J2 positional pruning) already
    ran JVM-side — each row arrives with only its few pre-matched
    candidates, so the Python work per row is the Borsh field extraction
    plus the payload-dependent merge/match, nothing positional.

    Arrow in, Arrow out, and vectorized where the layout is fixed: the
    spec-covered event types (operators/decode_vec.py — trades, swaps,
    deposits/withdraws, ComputeBudget) decode as NumPy reads over the
    Arrow binary buffers plus `take`s over the account list offsets, so
    neither payload bytes nor account pubkeys become Python objects.
    Rows the specs can't express (var-length Borsh, option tails, >= 2
    CPI candidates) run through the per-row decoders on a `take`n
    subset batch. Output assembly is shared (decode_vec.assemble_output)
    and restores exact input-row order, so both paths compose
    row-identically; `vectorized=False` forces everything through the
    per-row path (the reference the tests compare the fast path to).
    """
    import numpy as np
    import pyarrow as pa

    from ..operators.decode_vec import assemble_output, decode_batch_vectorized

    from pyspark.sql.pandas.types import to_arrow_schema

    if tables is None:       # direct invocation (tests, per-row A/B):
        tables = _decode_tables()  # worker-module state, as pre-plugin
    out_schema = to_arrow_schema(tables["schema"])
    pass_set = set(_PASSTHROUGH)

    for batch in iterator:
        if vectorized:
            groups, slow = decode_batch_vectorized(
                batch, specs=tables.get("vec_specs"),
                merge_specs=tables["merge_specs"])
            if slow.size:
                sub = batch.take(pa.array(slow, pa.int64()))
                local_idx, etypes, payloads = _decode_rows_python(
                    sub, tables)
                groups.append(_python_group(
                    slow[np.asarray(local_idx, np.int64)]
                    if local_idx else np.empty(0, np.int64),
                    etypes, payloads))
        else:
            local_idx, etypes, payloads = _decode_rows_python(batch, tables)
            groups = [_python_group(
                np.asarray(local_idx, np.int64), etypes, payloads)]
        yield assemble_output(batch, groups, out_schema, pass_set)


def _python_group(src, etypes: list, payloads: list):
    """Wrap per-row decode results as a decode_vec Group: one Python
    list per column some row actually set (same sparse materialization
    the pre-vectorization assembly used)."""
    from ..operators.decode_vec import Group

    n = len(payloads)
    touched: dict[str, list] = {}
    for j, payload in enumerate(payloads):
        for k, v in payload.items():
            if v is not None:
                col = touched.get(k)
                if col is None:
                    col = touched[k] = [None] * n
                col[j] = list(v) if isinstance(v, tuple) else v
    return Group(src, etypes,
                 {k: ("pylist", v) for k, v in touched.items()})


def _decode_rows_python(batch, tables: dict):
    """Per-row decode of one Arrow batch: returns (row indices into the
    batch, event_type per output row, decoded payload dict per row).
    Registry lookups go through ``tables`` (the driver-captured
    snapshot) so plug-in protocols decode on executors."""
    from ..operators.decode import decode_compute_budget, decode_cpi_with_f8
    from ..operators.swap import scan_swap_data

    instruction_decoders = tables["instruction_decoders"]
    cpi_decoders = tables["cpi_decoders"]
    merge_specs = tables["merge_specs"]
    requires_cpi = tables["requires_cpi"]

    names = batch.schema.names

    def _pylist(name):
        return batch.column(names.index(name)).to_pylist()

    protocol_l = _pylist("protocol")
    event_type_l = _pylist("event_type")
    program_id_l = _pylist("program_id")
    data_l = _pylist("data")
    resolved_l = _pylist("resolved_accounts")
    has_ig_l = _pylist("has_inner_group")
    cpi_l = _pylist("cpi_candidates")
    transfer_l = _pylist("transfer_candidates")

    src_idx: list[int] = []          # input row index per output row
    event_type_out: list[str] = []   # rewritten for ComputeBudget
    payloads: list[dict] = []        # decoded payload per output row

    for i in range(batch.num_rows):
        data = data_l[i] or b""

        # ComputeBudget bypasses the protocol registry (D4,
        # core/event_parser.rs:352-360)
        if protocol_l[i] == "Common":
            cu = decode_compute_budget(data)
            if cu is None:
                continue
            src_idx.append(i)
            event_type_out.append(cu[0])
            payloads.append(cu[1])
            continue

        event_type = event_type_l[i]
        decoder = instruction_decoders.get(event_type)
        if decoder is None:
            continue
        disc_len = (1 if program_id_l[i] == RAYDIUM_AMM_V4_PROGRAM_ID
                    else 8)
        accounts = resolved_l[i] or []
        payload = decoder(data[disc_len:], accounts)
        if payload is None:
            continue

        # J1: first JVM-matched CPI candidate that DECODES is the
        # merge source (event_parser.rs:392-439 — scan order is group
        # order, preserved by the JVM filter)
        cpi_kind, cpi_payload = None, None
        for cand in (cpi_l[i] or ()):
            decoded = decode_cpi_with_f8(
                cand["kind"], cand["body"] or b"", event_type,
                decoders=cpi_decoders)
            if decoded is not None:
                cpi_kind, cpi_payload = cand["kind"], decoded
                break

        # F9 (event_parser.rs:441-448)
        if event_type in requires_cpi and cpi_payload is None:
            continue

        # J2 swap-data match on the PRE-merge event (the reference
        # runs both scans concurrently, event_parser.rs:395-433)
        swap = None
        if has_ig_l[i]:
            cands = [(c["source"], c["dest"], int(c["amount"]))
                     for c in (transfer_l[i] or ())]
            swap = scan_swap_data(event_type, payload, cands)

        # J1 merge: overwrite listed fields (merger_event.rs)
        spec = merge_specs.get(event_type)
        if cpi_payload is not None and spec and spec[0] == cpi_kind:
            for fld in spec[1]:
                if fld in cpi_payload:
                    payload[fld] = cpi_payload[fld]

        if swap is not None:
            payload["swap_from_mint"] = swap["from_mint"]
            payload["swap_to_mint"] = swap["to_mint"]
            payload["swap_from_amount"] = swap["from_amount"]
            payload["swap_to_amount"] = swap["to_amount"]
            payload["swap_description"] = swap["description"]
        src_idx.append(i)
        event_type_out.append(event_type)
        payloads.append(payload)

    return src_idx, event_type_out, payloads


def _arrow_event_schema():
    from pyspark.sql.pandas.types import to_arrow_schema
    return to_arrow_schema(EVENT_SCHEMA)


# J3 event classes (core/event_parser.rs:674-693, 724-731): creates
# register dev addresses under their signature, trades of the SAME
# signature read them.
_PF_CREATES = ("PumpFunCreateToken", "PumpFunCreateV2Token")
_BONK_CREATES = ("BonkInitialize", "BonkInitializeV2",
                 "BonkInitializeWithToken2022")
_PF_TRADES = ("PumpFunBuy", "PumpFunSell")
_BONK_TRADES = ("BonkBuyExactIn", "BonkBuyExactOut", "BonkSellExactIn",
                "BonkSellExactOut")

DEV_FLAG = "is_dev_create_token_trade"


def _with_dev_flags(batches: Iterator):
    """J3 over decoded event batches, in the decode worker: appends
    ``is_dev_create_token_trade`` (True/False on PumpFun/Bonk trades,
    NULL on every other row).

    The reference's GlobalState map is keyed by signature and only read
    by events of the same transaction (SURVEY §2.6 J3), so the pools
    are per signature: a PumpFun create registers its user, plus its
    creator when non-zero and distinct; a Bonk initialize registers
    its creator. A PumpFun trade is a dev trade when its user or
    creator is in the PumpFun pool, a Bonk trade when its payer is in
    the Bonk pool; create-after-trade order within the transaction
    still counts, as the pools cover the whole signature.

    ``build_decode_input`` is narrow (filters, explodes, projections),
    so all rows of one transaction are contiguous in one partition;
    only the Arrow batching can cut a transaction in two. The trailing
    signature of each batch is therefore held back and flagged with
    the next batch, or at the end of the partition. A transaction
    duplicated into another raw row is a self-contained copy, so it
    flags the same wherever it lands.
    """
    import numpy as np
    import pyarrow as pa
    import pyarrow.compute as pc

    field = pa.field(DEV_FLAG, pa.bool_())
    carry = None
    for batch in batches:
        tbl = pa.Table.from_batches([batch])
        if carry is not None:
            tbl = pa.concat_tables([carry, tbl])
        n = tbl.num_rows
        if n == 0:
            continue
        sig = tbl.column("signature")
        last = sig[n - 1]
        tail = (pc.is_null(sig) if not last.is_valid
                else pc.fill_null(pc.equal(sig, last), False))
        head = np.flatnonzero(~tail.to_numpy())
        cut = int(head[-1]) + 1 if head.size else 0
        carry = tbl.slice(cut)
        if cut:
            yield from _flag_table(tbl.slice(0, cut), field)
    if carry is not None and carry.num_rows:
        yield from _flag_table(carry, field)


def _flag_table(tbl, field):
    """Record batches of ``tbl`` (whole signatures only) with the J3
    flag column appended; see _with_dev_flags."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.compute as pc

    et = tbl.column("event_type")

    def _is(types):
        return pc.is_in(et, value_set=pa.array(types)).to_numpy()

    def _at(name, idx):
        return tbl.column(name).take(pa.array(idx, pa.int64())).to_pylist()

    pf_trade, bonk_trade = _is(_PF_TRADES), _is(_BONK_TRADES)
    trade = pf_trade | bonk_trade
    flag = np.zeros(tbl.num_rows, bool)
    creates = np.flatnonzero(_is(_PF_CREATES + _BONK_CREATES))
    pf_pool: dict = {}
    bonk_pool: dict = {}
    for s, e, user, creator in zip(
            _at("signature", creates), _at("event_type", creates),
            _at("user", creates), _at("creator", creates)):
        if s is None:            # a NULL key joins no pool
            continue
        if e in _PF_CREATES:
            pool = pf_pool.setdefault(s, set())
            if user is not None:
                pool.add(user)
            if (creator is not None and user is not None
                    and creator != ZERO_PUBKEY and creator != user):
                pool.add(creator)
        elif creator is not None:
            bonk_pool.setdefault(s, set()).add(creator)
    if pf_pool or bonk_pool:
        trades = np.flatnonzero(trade)
        keyed = pc.is_in(tbl.column("signature").take(pa.array(trades)),
                         value_set=pa.array([*pf_pool, *bonk_pool],
                                            pa.string())).to_numpy()
        trades = trades[keyed]
        for i, s, user, creator, payer in zip(
                trades.tolist(), _at("signature", trades),
                _at("user", trades), _at("creator", trades),
                _at("payer", trades)):
            if pf_trade[i]:
                pool = pf_pool.get(s, ())
                flag[i] = user in pool or creator in pool
            else:
                flag[i] = payer in bonk_pool.get(s, ())
    col = pa.array(flag, pa.bool_(), mask=~trade)
    yield from tbl.append_column(field, col).to_batches()


def build_events(raw_tx: DataFrame,
                 protocols: tuple[str, ...] | None = None,
                 bot_wallet: str | None = None) -> DataFrame:
    """Raw transactions (FIXTURES.md §1 schema) -> enriched event table:
    the core decode (J3 included) plus the row-local J4/P11 columns.
    One narrow pass: no second decode, no aggregate, no join."""
    return enrich_events(build_events_core(raw_tx, protocols), bot_wallet)


def build_events_core(raw_tx: DataFrame,
                      protocols: tuple[str, ...] | None = None
                      ) -> DataFrame:
    """Pipeline through decode+merge and the J3 dev flag, WITHOUT the
    J4/P11 projections — works on both batch and streaming DataFrames
    (J4/P11 run per micro-batch in streaming/sink.py, or at read time
    over an event archive)."""
    return _apply_decode(build_decode_input(raw_tx, protocols))


def _decode_tables() -> dict:
    """Snapshot of the registries the Python decode stage consumes,
    captured at PLAN-BUILD time on the driver and shipped in the UDF
    closure. Required for protocol plug-ins (plugins.register_protocol):
    executor workers import the modules fresh, so driver-side
    registrations are only visible through this capture. Builtin
    decoders pickle by reference; plug-in decoders by value
    (cloudpickle)."""
    from ..operators.decode import CPI_DECODERS, INSTRUCTION_DECODERS
    from ..operators.decode_vec import SPECS
    from ..registry import MERGE_SPECS, REQUIRES_CPI
    from ..schemas import event_schema
    return {"schema": event_schema(),
            "instruction_decoders": dict(INSTRUCTION_DECODERS),
            "cpi_decoders": dict(CPI_DECODERS),
            "merge_specs": dict(MERGE_SPECS),
            "requires_cpi": tuple(REQUIRES_CPI),
            # vector fast-path dispatch (incl. plug-in vector specs —
            # pure data, pickles into the closure like the decoders)
            "vec_specs": dict(SPECS)}


def _apply_decode(decode_input: DataFrame) -> DataFrame:
    """P5/P6 + J1-merge + J2-match decode stage and the J3 dev flag, in
    one Arrow-batched Python worker (event schema + the flag column)."""
    from pyspark.sql.types import BooleanType, StructField, StructType

    tables = _decode_tables()
    return decode_input.mapInArrow(
        lambda it: _with_dev_flags(_decode_batches(it, None, tables=tables)),
        schema=StructType(tables["schema"].fields
                          + [StructField(DEV_FLAG, BooleanType())]))


def build_decode_input(raw_tx: DataFrame,
                       protocols: tuple[str, ...] | None = None
                       ) -> DataFrame:
    """The JVM half of the pipeline: filters, account assembly, explodes,
    dispatch, and the J1/J2 pre-scans — everything up to (excluding) the
    Python decode stage. ``protocols=None`` means every protocol
    registered at CALL time (so plug-ins registered after import are
    dispatched)."""
    if protocols is None:
        protocols = tuple(PROGRAM_ID_BY_PROTOCOL)
    elif not protocols:
        # An empty tuple used to coerce (falsily) to ALL protocols; that
        # silent flip now fails loudly — a ComputeBudget-only stream is
        # never what a caller meant (ADVICE r9).
        raise ValueError("protocols=() selects no protocols; pass None "
                         "for every registered protocol")
    program_ids = [PROGRAM_ID_BY_PROTOCOL[p] for p in protocols]
    relevant = program_ids + [COMPUTE_BUDGET_PROGRAM_ID]
    relevant_sql = ", ".join(f"'{p}'" for p in relevant)

    # NOTE (r18, guide §7.3): every column below is emitted as a parsed
    # SQL fragment instead of nested Column calls. Each PySpark Column
    # op is a py4j round-trip and each higher-order-function lambda
    # costs dozens of them — this builder measured ~6,000 round-trips
    # (≈1.9 s driver wall) per invocation, and it runs once per batch
    # query AND per streaming micro-batch plan rebuild. The parsed
    # trees are node-for-node the ones the Column calls produced
    # (oracle-pinned by the seven dex_* hash rows + the golden tests).

    # --- F6 + P1 + F2 (JVM) ---------------------------------------------
    tx = (
        raw_tx
        .filter(~F.col("is_vote"))  # grpc/subscription.rs:121
        .withColumn("accounts", F.expr(
            "concat(coalesce(static_account_keys, array()), "
            "coalesce(loaded_writable_addresses, array()), "
            "coalesce(loaded_readonly_addresses, array()))"))
        # F2 prefilter before any explode (event_parser.rs:222-225)
        .filter(F.expr(
            f"arrays_overlap(accounts, array({relevant_sql}))"))
    )

    # P2 padding: extend accounts with default pubkeys up to the max index
    # referenced by any outer instruction (event_parser.rs:233-237; the
    # reference pads progressively per instruction — global padding
    # resolves identically for every in-range index, see docstring).
    max_idx = ("greatest(-1, array_max(flatten(transform(instructions, "
               "ix -> coalesce(ix.account_indices, array(-1))))))")
    pad_n = f"greatest(0, {max_idx} + 1 - size(accounts))"
    tx = tx.withColumn(
        "accounts_padded",
        F.expr(f"CASE WHEN {pad_n} > 0 THEN concat(accounts, "
               f"transform(sequence(1, {pad_n}), _i -> '{ZERO_PUBKEY}')) "
               "ELSE accounts END"))

    # --- E1/E2: outer + inner instruction rows, ONE source scan ---------
    # A union of two explodes over `tx` compiles to TWO FileScans of the
    # archive per (micro-)batch — 2x read amplification at 100 TB and
    # double numInputRows per trigger. Instead, build one in-row array of
    # (outer_index, inner_index, ix) structs (outer positions + flattened
    # inner groups — both element types are INSTRUCTION_TYPE, schemas.py)
    # and explode ONCE: same rows, half the scans, no Union.
    common_cols = ["slot", "transaction_index", "block_time", "signature",
                   "recv_us", "accounts_padded", "inner_instructions"]

    outer_structs = (
        "transform(coalesce(instructions, array()), (ix, i) -> "
        "named_struct('outer_index', CAST(i AS BIGINT), "
        "'inner_index', CAST(NULL AS BIGINT), 'ix', ix))")
    # coalesce INSIDE the lambda: a group with a NULL instructions
    # array otherwise yields a NULL element, flatten propagates it
    # to a NULL array, and concat+explode would then drop the whole
    # transaction INCLUDING its outer rows (the old union form only
    # lost that group's inner rows)
    inner_structs = (
        "flatten(transform(coalesce(inner_instructions, array()), "
        "grp -> transform(coalesce(grp.instructions, array()), "
        "(ix, j) -> named_struct("
        "'outer_index', CAST(grp.index AS BIGINT), "
        "'inner_index', CAST(j AS BIGINT), 'ix', ix))))")

    rows = (
        tx.select(*common_cols,
                  F.explode(F.expr(
                      f"concat({outer_structs}, {inner_structs})"))
                  .alias("r"))
        .select(*common_cols,
                F.col("r.outer_index").alias("outer_index"),
                F.col("r.ix").alias("ix"),
                F.col("r.inner_index").alias("inner_index"))
    )

    # Attach this outer index's inner group (E2; used for J1 CPI scan and
    # J2 look-ahead). Intra-row filter — no join, no shuffle.
    rows = rows.withColumn(
        "inner_group_arr",
        F.expr("filter(coalesce(inner_instructions, array()), "
               "g -> g.index = outer_index)"))
    rows = (
        rows.withColumn(
            "inner_group",
            F.expr("CASE WHEN size(inner_group_arr) > 0 "
                   "THEN inner_group_arr[0].instructions END"))
        .withColumn("has_inner_group", F.expr("size(inner_group_arr) > 0"))
        .drop("inner_group_arr", "inner_instructions")
    )

    # --- F1 + D1 dispatch (JVM) -----------------------------------------
    # try_element_at, NOT element_at: under ANSI mode (Spark 4 default)
    # element_at RAISES on an out-of-range index, so one corrupt
    # transaction with program_id_index >= len(accounts) would kill the
    # whole query; the reference's accounts.get() returns None and the
    # row is dropped (event_parser.rs:373-377 filter_map semantics).
    # Found by the J1/J2 candidate property test (round 8).
    rows = rows.withColumn(
        "program_id",
        F.expr("try_element_at(accounts_padded, ix.program_id_index + 1)"))
    rows = rows.filter(F.expr(f"program_id IN ({relevant_sql})"))

    rows = rows.withColumn("data", F.col("ix.data"))
    rows = rows.filter(  # F7 disc-length guard
        F.expr(f"program_id = '{COMPUTE_BUDGET_PROGRAM_ID}' OR "
               "length(data) >= (CASE WHEN program_id = "
               f"'{RAYDIUM_AMM_V4_PROGRAM_ID}' THEN 1 ELSE 8 END)"))

    proto_map = "map(" + ", ".join(
        f"'{pid}', '{proto}'"
        for pid, proto in PROTOCOL_BY_PROGRAM_ID.items()) + ")"
    rows = rows.withColumn(
        "protocol",
        F.expr(f"CASE WHEN program_id = '{COMPUTE_BUDGET_PROGRAM_ID}' "
               f"THEN 'Common' ELSE {proto_map}[program_id] END"))

    disc_map = "map(" + ", ".join(
        f"'{proto}:{disc}', '{etype}'"
        for (proto, disc), etype in INSTRUCTION_DISCRIMINATORS.items()) + ")"
    rows = rows.withColumn(
        "disc_hex", F.expr(
            "lower(hex(substring(data, 1, case when program_id = '"
            + RAYDIUM_AMM_V4_PROGRAM_ID + "' then 1 else 8 end)))"))
    rows = rows.withColumn(
        "event_type",
        F.expr(f"{disc_map}[concat(protocol, ':', disc_hex)]"))

    # Only matched rows reach Python (D1 result or ComputeBudget)
    rows = rows.filter(
        F.expr("event_type IS NOT NULL OR protocol = 'Common'"))

    # P3: resolve instruction account indices -> pubkeys; out-of-range
    # indices are dropped (filter_map semantics, event_parser.rs:373-377)
    rows = rows.withColumn(
        "resolved_accounts",
        F.expr("filter(transform(coalesce(ix.account_indices, array()), "
               "i -> try_element_at(accounts_padded, i + 1)), "
               "x -> x IS NOT NULL)"))

    # P9 block_time_ms (event_parser.rs:336-337; 0 when block_time null)
    rows = rows.withColumn(
        "block_time_ms",
        F.expr("coalesce(CAST(unix_micros(block_time) / 1000 AS BIGINT), "
               "0)"))

    # --- J1/J2 JVM pre-scans --------------------------------------------
    # Both scans over the inner-instruction group are positional/shape
    # predicates, so they run as Catalyst array expressions here; only the
    # few matching candidates cross the Arrow boundary — the raw inner
    # group (every CPI payload of the transaction) never does. At 100 TB
    # this is the difference between shipping ~100s of bytes vs ~10s of KB
    # per instruction row into Python.
    ig = "coalesce(inner_group, array())"

    # J1 (JVM half): inner instructions carrying a 16-byte discriminator
    # registered for this protocol, in group order (event_parser.rs:
    # 392-439). Python judges decode success (first successful wins).
    cpi_map = "map(" + ", ".join(
        f"'{proto}:{disc}', '{kind}'"
        for (proto, disc), kind in INNER_DISCRIMINATORS.items()) + ")"
    cpi_kind = (f"{cpi_map}[concat(protocol, ':', "
                "lower(hex(substring(g.data, 1, 16))))]")

    rows = rows.withColumn(
        "cpi_candidates",
        F.expr(f"transform(filter({ig}, g -> "
               f"coalesce(length(g.data), 0) >= 16 "
               f"AND {cpi_kind} IS NOT NULL), "
               f"g -> named_struct('kind', {cpi_kind}, "
               "'body', substring(g.data, 17, length(g.data))))"))

    # J2 (JVM half): transfer-shaped inner instructions after the event's
    # position, truncated at the first non-system-program instruction
    # (types.rs:461-489). The break conditions (program out of bounds /
    # not an SPL-or-system program) become a first-break position.
    indexed = f"transform({ig}, (g, i) -> named_struct('pos', i, 'g', g))"
    sys_progs = ", ".join(f"'{p}'" for p in SYSTEM_PROGRAMS)

    # try_element_at: whole-stage codegen's subexpression elimination
    # can hoist this lookup PAST the bounds guard in the same
    # predicate (observed: INVALID_ARRAY_INDEX_IN_ELEMENT_AT from
    # the first-break filter), so the lookup itself must be total
    prog = "try_element_at(accounts_padded, s.g.program_id_index + 1)"

    # The reference scan starts at current_index + 1 (types.rs:461
    # `.skip((current_index + 1) as usize)`), so instructions at or before
    # the event's own position — including the event's own (non-system)
    # protocol instruction — must not register as breaks.
    rows = rows.withColumn("first_break", F.expr(
        f"coalesce(array_min(transform(filter({indexed}, s -> "
        "s.pos > coalesce(inner_index, -1) "
        "AND (s.g.program_id_index >= size(accounts_padded) "
        f"OR NOT ({prog} IN ({sys_progs})))), "
        f"s -> s.pos)), size({ig}))"))

    d = "s.g.data"
    ai = "coalesce(s.g.account_indices, array())"
    dlen = f"coalesce(length({d}), 0)"

    def _tag_is(t: int) -> str:
        return f"substring({d}, 1, 1) = X'{t:02X}'"

    is12 = f"({_tag_is(12)} AND size({ai}) >= 4 AND {dlen} >= 9)"
    is3 = f"({_tag_is(3)} AND size({ai}) >= 3 AND {dlen} >= 9)"
    is2 = f"({_tag_is(2)} AND size({ai}) >= 2 AND {dlen} >= 12)"
    s_i = f"try_element_at({ai}, 1)"
    d_i = (f"(CASE WHEN {is12} THEN try_element_at({ai}, 3) "
           f"ELSE try_element_at({ai}, 2) END)")
    # LE u64: hex the 8-byte slice, reassemble the byte pairs
    # MSB-first, conv (unsigned-64 exact). NB: reverse() on BinaryType
    # goes through a string cast and mangles bytes — don't use it.
    h = f"hex(substring({d}, (CASE WHEN {is2} THEN 5 ELSE 2 END), 8))"
    be = "concat(" + ", ".join(
        f"substring({h}, {1 + 2 * i}, 2)" for i in range(7, -1, -1)) + ")"
    amount = f"CAST(conv({be}, 16, 10) AS DECIMAL(20,0))"

    rows = rows.withColumn(
        "transfer_candidates",
        F.expr(
            "CASE WHEN has_inner_group THEN "
            f"transform(filter({indexed}, s -> "
            "s.pos > coalesce(inner_index, -1) "
            "AND s.pos < first_break "
            f"AND {dlen} >= 8 "
            f"AND ({is12} OR {is3} OR {is2}) "
            f"AND {s_i} < size(accounts_padded) "
            f"AND {d_i} < size(accounts_padded)), "
            "s -> named_struct("
            f"'source', try_element_at(accounts_padded, {s_i} + 1), "
            f"'dest', try_element_at(accounts_padded, {d_i} + 1), "
            f"'amount', {amount})) END"))

    return rows.select(
        "signature", "slot", "transaction_index", "block_time",
        "block_time_ms", "recv_us", "program_id", "protocol", "event_type",
        "outer_index", "inner_index", "data", "resolved_accounts",
        "has_inner_group", "cpi_candidates", "transfer_candidates")


def enrich_events(events: DataFrame, bot_wallet: str | None) -> DataFrame:
    """J4 bot flag and P11 swap amount fill (core/event_parser.rs:
    671-736) over core events, which already carry the J3 dev flag
    (see _with_dev_flags).

    Both are projections of the row itself, so this adds no aggregate,
    exchange or join: over a micro-batch, an archive or a batch table
    it is one narrow pass.
    """
    # Parsed-SQL column bodies (r18, guide §7.3 — see build_decode_input
    # note; enrich ran ~0.6 s of py4j chatter per build). Same CASE
    # trees as the Column form; the dex_enrichment_flags oracle pins
    # the values.
    def _in(types):
        return "event_type IN (" + ", ".join(f"'{t}'" for t in types) + ")"

    is_pf, is_bonk = _in(_PF_TRADES), _in(_BONK_TRADES)

    # SQL-quote the caller-supplied wallet ('' escaping, r18 ADVICE):
    # semantics equal the old F.lit comparison for every input, and a
    # quote can no longer break or alter the parsed predicate.
    bot = ("'" + bot_wallet.replace("'", "''") + "'"
           if bot_wallet else "CAST(NULL AS STRING)")
    is_bot = (f"CASE WHEN {is_pf} THEN user = {bot} "
              f"WHEN {is_bonk} THEN payer = {bot} "
              "ELSE CAST(NULL AS BOOLEAN) END")

    out = events.withColumn("is_bot", F.expr(
        f"coalesce({is_bot}, CASE WHEN {is_pf} OR {is_bonk} "
        "THEN false END)"))

    # P11 swap amount fill (post-merge values, event_parser.rs:690-722)
    has_swap = "swap_from_mint IS NOT NULL"
    dec = "DECIMAL(20,0)"
    out = (
        out.withColumn(
            "swap_from_amount",
            F.expr(
                f"CASE WHEN {has_swap} AND {is_pf} THEN "
                "CAST(CASE WHEN is_buy THEN sol_amount "
                f"ELSE token_amount END AS {dec}) "
                f"WHEN {has_swap} AND event_type = 'PumpSwapBuy' THEN "
                f"CAST(user_quote_amount_in AS {dec}) "
                f"WHEN {has_swap} AND event_type = 'PumpSwapSell' THEN "
                f"CAST(base_amount_in AS {dec}) "
                "ELSE swap_from_amount END"))
        .withColumn(
            "swap_to_amount",
            F.expr(
                f"CASE WHEN {has_swap} AND {is_pf} THEN "
                "CAST(CASE WHEN is_buy THEN token_amount "
                f"ELSE sol_amount END AS {dec}) "
                f"WHEN {has_swap} AND event_type = 'PumpSwapBuy' THEN "
                f"CAST(base_amount_out AS {dec}) "
                f"WHEN {has_swap} AND event_type = 'PumpSwapSell' THEN "
                f"CAST(user_quote_amount_out AS {dec}) "
                "ELSE swap_to_amount END"))
    )
    return out


def load_raw_transactions(spark, path: str) -> DataFrame:
    from ..schemas import RAW_TRANSACTION_SCHEMA
    return spark.read.schema(RAW_TRANSACTION_SCHEMA).parquet(path)
