"""Guards on the mapInArrow decode boundary itself: batch shapes the
golden corpus never produces (all rows skipped, empty batch, split
batches) must still yield schema-correct RecordBatches — a malformed
output schema would fail every downstream query at once."""

from __future__ import annotations

import os

import pyarrow as pa

FIXTURES = os.path.join(os.path.dirname(os.path.dirname(
    os.path.abspath(__file__))), "fixtures")


def _input_batch(spark):
    from solana_event_stream_spark.plans.pipeline import (
        build_decode_input, load_raw_transactions)
    din = build_decode_input(load_raw_transactions(
        spark, os.path.join(FIXTURES, "raw_transactions.parquet")))
    # Public df.toArrow() (Spark 4.0+) — same Spark->Arrow schema
    # conversion the mapInArrow input path uses, without depending on
    # the private _collect_as_arrow API.
    tbl = din.toArrow().combine_chunks()
    return tbl.to_batches()[0]


def test_decode_output_schema_is_exact(spark):
    from solana_event_stream_spark.plans.pipeline import (
        _arrow_event_schema, _decode_batches)
    batch = _input_batch(spark)
    out = list(_decode_batches(iter([batch]), None))
    assert len(out) == 1
    assert out[0].schema.equals(_arrow_event_schema())
    assert out[0].num_rows > 0


def test_decode_all_rows_skipped_yields_empty_batch(spark):
    from solana_event_stream_spark.plans.pipeline import (
        _arrow_event_schema, _decode_batches)
    batch = _input_batch(spark)
    n = batch.num_rows
    cols = {nm: batch.column(i) for i, nm in enumerate(batch.schema.names)}
    # Common protocol + empty data: every row fails the ComputeBudget
    # decode and is dropped
    cols["protocol"] = pa.array(["Common"] * n, pa.string())
    cols["data"] = pa.array([b""] * n, batch.schema.field("data").type)
    bad = pa.RecordBatch.from_arrays(
        [cols[nm] for nm in batch.schema.names], schema=batch.schema)
    out = list(_decode_batches(iter([bad]), None))
    assert out[0].num_rows == 0
    assert out[0].schema.equals(_arrow_event_schema())


def test_decode_split_batches_equal_one_batch(spark):
    from solana_event_stream_spark.plans.pipeline import _decode_batches
    batch = _input_batch(spark)
    whole = pa.Table.from_batches(list(_decode_batches(iter([batch]), None)))
    mid = batch.num_rows // 2
    halves = [batch.slice(0, mid), batch.slice(mid)]
    split = pa.Table.from_batches(list(_decode_batches(iter(halves), None)))
    assert whole.num_rows == split.num_rows
    # row-level equality after a deterministic sort
    a = whole.to_pandas().sort_values(
        ["signature", "outer_index", "inner_index", "event_type"],
        na_position="first").reset_index(drop=True)
    b = split.to_pandas().sort_values(
        ["signature", "outer_index", "inner_index", "event_type"],
        na_position="first").reset_index(drop=True)
    assert a.equals(b)


# --- J3 in the decode worker: Arrow-batch seams and duplicate rows -------

def _flagged(batches):
    """Decode + worker J3 over the given input batches, as one table."""
    from solana_event_stream_spark.plans.pipeline import (
        DEV_FLAG, _arrow_event_schema, _decode_batches, _with_dev_flags)
    schema = _arrow_event_schema().append(pa.field(DEV_FLAG, pa.bool_()))
    out = list(_with_dev_flags(_decode_batches(iter(batches), None)))
    assert all(b.schema.equals(schema) for b in out)
    return pa.Table.from_batches(out, schema=schema)


def _bot_wallet():
    import json
    with open(os.path.join(FIXTURES, "meta.json")) as f:
        return json.load(f)["bot_wallet"]


def test_dev_flag_create_and_trade_split_across_arrow_batches(spark):
    """A create in Arrow batch k and a dev trade of the same signature in
    batch k+1 flag the trade exactly as the unsplit batch does, and so
    does one input row per batch: the worker carries the trailing
    signature's rows into the next batch."""
    from solana_event_stream_spark.plans.pipeline import DEV_FLAG
    from solana_event_stream_spark.registry import (
        BONK_CREATES, BONK_TRADES, PUMPFUN_CREATES, PUMPFUN_TRADES)
    batch = _input_batch(spark)
    whole = _flagged([batch])
    dev_sigs = {s for s, f in zip(whole.column("signature").to_pylist(),
                                  whole.column(DEV_FLAG).to_pylist()) if f}

    # cut right after a create whose next row is a trade of the same
    # signature that the unsplit batch flags as a dev trade
    sigs = batch.column("signature").to_pylist()
    etypes = batch.column("event_type").to_pylist()
    cut = next(i + 1 for i in range(len(sigs) - 1)
               if sigs[i] in dev_sigs and sigs[i + 1] == sigs[i]
               and etypes[i] in PUMPFUN_CREATES + BONK_CREATES
               and etypes[i + 1] in PUMPFUN_TRADES + BONK_TRADES)
    split = _flagged([batch.slice(0, cut), batch.slice(cut)])
    assert split.equals(whole)
    # one input row per Arrow batch: every transaction cut at every row
    singles = _flagged([batch.slice(i, 1) for i in range(batch.num_rows)])
    assert singles.equals(whole)


def test_build_events_tiny_arrow_batches_equal_default(spark):
    """build_events under maxRecordsPerBatch=2 (transactions cut across
    many Arrow batches) equals the default run, row for row."""
    from solana_event_stream_spark.plans.pipeline import (
        build_events, load_raw_transactions)
    raw = load_raw_transactions(
        spark, os.path.join(FIXTURES, "raw_transactions.parquet"))
    bot = _bot_wallet()

    def rows():
        return sorted(build_events(raw, bot_wallet=bot).collect(), key=repr)

    conf = "spark.sql.execution.arrow.maxRecordsPerBatch"
    default = rows()
    old = spark.conf.get(conf)
    spark.conf.set(conf, "2")
    try:
        tiny = rows()
    finally:
        spark.conf.set(conf, old)
    assert tiny == default
    assert any(r.is_dev_create_token_trade for r in default)


def test_duplicate_transaction_across_partitions_matches_reference(spark):
    """The same transactions in two raw rows, in different partitions,
    flag exactly as the JVM dev pools of the archived reference, which
    merge both copies under one signature."""
    import reference_pipeline_r17 as ref

    from solana_event_stream_spark.plans.pipeline import (
        build_events, build_events_core, load_raw_transactions)
    raw = load_raw_transactions(
        spark, os.path.join(FIXTURES, "raw_transactions.parquet"))
    dup = raw.unionByName(raw)
    assert dup.rdd.getNumPartitions() >= 2
    bot = _bot_wallet()
    live = build_events(dup, bot_wallet=bot)
    jvm = ref.enrich_events(build_events_core(dup), bot)
    assert live.schema == jvm.schema
    assert live.exceptAll(jvm).count() == 0
    assert jvm.exceptAll(live).count() == 0
    n_dev = live.filter("is_dev_create_token_trade").count()
    assert n_dev > 0 and n_dev % 2 == 0
