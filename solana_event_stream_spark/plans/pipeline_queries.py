"""Catalog entries for the Solana event pipeline (SURVEY §2).

Each query runs the REAL pipeline (raw_transactions.parquet -> explode ->
dispatch -> decode -> merge -> enrich) and aggregates the result; the
DuckDB oracle runs the same aggregation over events_golden.parquet, which
was generated independently of the pipeline (golden-first encoding, see
tests/gen_fixtures.py). A hash match therefore verifies the pipeline
end-to-end, not just the aggregation.

These queries ignore sf_dir: their input is the committed fixture corpus.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, functions as F

from ..catalog import register

FIXTURES = "/root/repo/fixtures"
GOLDEN = f"{FIXTURES}/events_golden.parquet"


def _events(spark) -> DataFrame:
    from .pipeline import build_events, load_raw_transactions
    with open(os.path.join(FIXTURES, "meta.json")) as f:
        bot = json.load(f)["bot_wallet"]
    raw = load_raw_transactions(
        spark, os.path.join(FIXTURES, "raw_transactions.parquet"))
    return build_events(raw, bot_wallet=bot)


@register(
    "dex_events_by_type",
    oracle=f"""
    SELECT protocol, event_type, COUNT(*) AS n_events,
           COUNT(DISTINCT signature) AS n_txs
    FROM read_parquet('{GOLDEN}')
    GROUP BY protocol, event_type
    """,
    tags=("pipeline", "dex"),
    doc="Full pipeline -> per-type event counts (D1-D4 dispatch parity).",
)
def dex_events_by_type(spark, sf_dir: str) -> DataFrame:
    return (_events(spark)
            .groupBy("protocol", "event_type")
            .agg(F.count(F.lit(1)).alias("n_events"),
                 F.countDistinct("signature").alias("n_txs")))


@register(
    "dex_trade_volume_by_mint",
    oracle=f"""
    SELECT mint,
           CAST(CAST(COALESCE(SUM(sol_amount), 0) AS DECIMAL(38,0))
                AS VARCHAR) AS sol_volume,
           CAST(CAST(COALESCE(SUM(token_amount), 0) AS DECIMAL(38,0))
                AS VARCHAR) AS token_volume,
           COUNT(*) AS n_trades
    FROM read_parquet('{GOLDEN}')
    WHERE event_type IN ('PumpFunBuy', 'PumpFunSell')
    GROUP BY mint
    """,
    tags=("pipeline", "dex"),
    doc="SURVEY §7 Phase-1 flagship: SOL volume and trade count per mint "
        "over decoded + CPI-merged PumpFun trades.",
)
def dex_trade_volume_by_mint(spark, sf_dir: str) -> DataFrame:
    return (_events(spark)
            .filter(F.col("event_type").isin("PumpFunBuy", "PumpFunSell"))
            .groupBy("mint")
            .agg(F.coalesce(F.sum("sol_amount"), F.lit(0))
                 .cast("decimal(38,0)").cast("string").alias("sol_volume"),
                 F.coalesce(F.sum("token_amount"), F.lit(0))
                 .cast("decimal(38,0)").cast("string").alias("token_volume"),
                 F.count(F.lit(1)).alias("n_trades")))


@register(
    "dex_swap_data_join",
    oracle=f"""
    SELECT event_type, swap_from_mint, swap_to_mint,
           CAST(CAST(SUM(swap_from_amount) AS DECIMAL(38,0)) AS VARCHAR)
             AS total_from,
           CAST(CAST(SUM(swap_to_amount) AS DECIMAL(38,0)) AS VARCHAR)
             AS total_to,
           COUNT(*) AS n_events
    FROM read_parquet('{GOLDEN}')
    WHERE swap_from_mint IS NOT NULL
    GROUP BY event_type, swap_from_mint, swap_to_mint
    """,
    tags=("pipeline", "dex", "swap"),
    doc="J2 look-ahead join + P11 amount fill parity.",
)
def dex_swap_data_join(spark, sf_dir: str) -> DataFrame:
    return (_events(spark)
            .filter(F.col("swap_from_mint").isNotNull())
            .groupBy("event_type", "swap_from_mint", "swap_to_mint")
            .agg(F.sum("swap_from_amount").cast("decimal(38,0)")
                 .cast("string").alias("total_from"),
                 F.sum("swap_to_amount").cast("decimal(38,0)")
                 .cast("string").alias("total_to"),
                 F.count(F.lit(1)).alias("n_events")))


@register(
    "dex_enrichment_flags",
    oracle=f"""
    SELECT event_type,
           COUNT(*) FILTER (WHERE is_dev_create_token_trade) AS n_dev_trades,
           COUNT(*) FILTER (WHERE is_bot) AS n_bot_trades,
           COUNT(*) AS n_events
    FROM read_parquet('{GOLDEN}')
    WHERE is_dev_create_token_trade IS NOT NULL
    GROUP BY event_type
    """,
    tags=("pipeline", "dex", "enrich"),
    doc="J3 dev-address window + J4 bot-wallet flag parity.",
)
def dex_enrichment_flags(spark, sf_dir: str) -> DataFrame:
    ev = _events(spark).filter(
        F.col("is_dev_create_token_trade").isNotNull())
    return ev.groupBy("event_type").agg(
        F.count(F.when(F.col("is_dev_create_token_trade"), 1))
         .alias("n_dev_trades"),
        F.count(F.when(F.col("is_bot"), 1)).alias("n_bot_trades"),
        F.count(F.lit(1)).alias("n_events"))


@register(
    "account_events_by_type",
    oracle=f"""
    SELECT protocol, event_type, COUNT(*) AS n_events,
           CAST(CAST(COALESCE(SUM(supply), 0) AS DECIMAL(38,0)) AS VARCHAR)
             AS total_supply,
           CAST(CAST(COALESCE(SUM(amount), 0) AS DECIMAL(38,0)) AS VARCHAR)
             AS total_amount,
           COUNT(nonce) AS n_nonces
    FROM read_parquet('{FIXTURES}/accounts_golden.parquet')
    GROUP BY protocol, event_type
    """,
    tags=("pipeline", "accounts"),
    doc="Account-update pipeline (D3/P8): protocol account dispatch + SPL "
        "Token/Mint/Nonce fallbacks vs independent golden parquet.",
)
def account_events_by_type(spark, sf_dir: str) -> DataFrame:
    from .account_pipeline import build_account_events, load_raw_accounts
    raw = load_raw_accounts(
        spark, os.path.join(FIXTURES, "raw_accounts.parquet"))
    return (build_account_events(raw)
            .groupBy("protocol", "event_type")
            .agg(F.count(F.lit(1)).alias("n_events"),
                 F.coalesce(F.sum("supply"), F.lit(0))
                 .cast("decimal(38,0)").cast("string").alias("total_supply"),
                 F.coalesce(F.sum("amount"), F.lit(0))
                 .cast("decimal(38,0)").cast("string").alias("total_amount"),
                 F.count("nonce").alias("n_nonces")))


@register(
    "dex_pipeline_throughput",
    oracle=None,  # throughput surface; rows-only check
    tags=("pipeline", "dex", "bench"),
    doc="Parse throughput (BASELINE.md bench plan (a)): the fixture corpus "
        "replicated SPARK_GRAFT_PIPE_SCALE (default 2000) times with "
        "distinct signatures/slots -> full decode + merge + enrich DAG -> "
        "per-type counts (2000x = 94,000 transactions; large enough that "
        "per-job fixed overhead stops dominating the tx/s figure). "
        "Self-checking: this row is rows-only for the driver (DuckDB "
        "cannot Borsh-decode), so the query itself asserts that per-type "
        "counts AND a payload checksum equal exactly n x the golden "
        "fixture's — every replica decodes identical payload bytes, so "
        "any decode drift at scale raises at collect time instead of "
        "passing silently.",
)
def dex_pipeline_throughput(spark, sf_dir: str) -> DataFrame:
    from .pipeline import build_events, load_raw_transactions
    raw = load_raw_transactions(
        spark, os.path.join(FIXTURES, "raw_transactions.parquet"))
    with open(os.path.join(FIXTURES, "meta.json")) as f:
        bot = json.load(f)["bot_wallet"]
    n = int(os.environ.get("SPARK_GRAFT_PIPE_SCALE", "2000"))
    scaled = (raw.crossJoin(spark.range(n).select(F.col("id").alias("rep")))
              .withColumn("signature",
                          F.concat_ws("_", "signature", "rep"))
              .withColumn("slot", F.col("slot") + F.col("rep") * 10000)
              .drop("rep")
              .repartition(int(spark.conf.get(
                  "spark.sql.shuffle.partitions", "32"))))
    # same bot_wallet the golden fixture was generated with — the
    # checksum covers is_bot, so the enrichment config must match
    events = build_events(scaled, bot_wallet=bot)

    # Replica-invariant payload checksum: these columns come from the
    # decoded instruction/CPI bytes and the J3/J4 enrichment (identical
    # in every replica — dev pools resolve within a replica's own
    # signatures), never from the replica-varying envelope
    # (signature/slot). Including the enrichment flags also keeps the
    # J4 projection in the measured DAG (a count-only aggregate would
    # prune it; J3 rides in the decode worker either way). pmod keeps
    # the 94k-row sum far from i64 overflow.
    check_cols = ["mint", "user", "sol_amount", "token_amount",
                  "amount_in", "amount_out", "swap_from_mint",
                  "swap_to_mint", "swap_from_amount", "swap_to_amount",
                  "is_dev_create_token_trade", "is_bot"]
    _sum = F.sum(F.expr(
        f"pmod(xxhash64({', '.join(check_cols)}), 1000000007)"))
    actual = (events.groupBy("protocol", "event_type")
              .agg(F.count(F.lit(1)).alias("n_events"),
                   _sum.alias("checksum")))

    golden = (spark.read.parquet(GOLDEN)
              .groupBy("protocol", "event_type")
              .agg((F.count(F.lit(1)) * n).alias("expected_n"),
                   (_sum * n).alias("expected_checksum")))

    ok = (F.col("n_events").eqNullSafe(F.col("expected_n"))
          & F.col("checksum").eqNullSafe(F.col("expected_checksum")))
    # The check column is part of the output projection, so Catalyst
    # cannot prune it; raise_error fires only on the failing rows.
    self_check = F.when(ok, F.lit(True)).otherwise(F.raise_error(F.concat_ws(
        " ", F.lit("dex_pipeline_throughput decode drift at scale"),
        F.lit(str(n)), F.lit("for"), F.col("protocol"), F.col("event_type"),
        F.lit("n_events"), F.col("n_events").cast("string"),
        F.lit("expected"), F.col("expected_n").cast("string"),
        F.lit("checksum"), F.col("checksum").cast("string"),
        F.lit("expected"), F.col("expected_checksum").cast("string"))))
    return (actual.join(F.broadcast(golden),
                        ["protocol", "event_type"], "full_outer")
            .select("protocol", "event_type", "n_events",
                    self_check.alias("self_check")))


@register(
    # "dex_" prefix keeps S3's only oracle sorted inside the driver's
    # 50-row CORRECTNESS window (alphabetical) with margin to spare.
    "dex_system_transfers",
    oracle=f"""
    SELECT slot, COUNT(*) AS n_transfers,
           COUNT(DISTINCT signature) AS n_signatures
    FROM read_parquet('{FIXTURES}/raw_transactions.parquet')
    WHERE list_contains(
            list_concat(list_concat(
              COALESCE(static_account_keys, []),
              COALESCE(loaded_writable_addresses, [])),
              COALESCE(loaded_readonly_addresses, [])),
            '11111111111111111111111111111111')
    GROUP BY slot
    """,
    tags=("pipeline", "system"),
    doc="S3 subscribe_system (yellowstone_sub_system.rs:34-113): "
        "system-program transactions -> NewTransfer rows, counted per "
        "slot (no decoding, F4 required-account semantics).",
)
def system_transfers(spark, sf_dir: str) -> DataFrame:
    from ..streaming.subscription import subscribe_system
    from .pipeline import load_raw_transactions
    raw = load_raw_transactions(
        spark, os.path.join(FIXTURES, "raw_transactions.parquet"))
    return (subscribe_system(raw)
            .groupBy("slot")
            .agg(F.count(F.lit(1)).alias("n_transfers"),
                 F.countDistinct("signature").alias("n_signatures")))


@register(
    "pubkey_short_by_mint",
    oracle=f"""
    SELECT CASE WHEN length(mint) <= 8 THEN mint
                ELSE substr(mint, 1, 4) || '...'
                     || substr(mint, length(mint) - 3, 4) END AS mint_short,
           COUNT(*) AS n_events
    FROM read_parquet('{GOLDEN}')
    WHERE mint IS NOT NULL
    GROUP BY 1
    """,
    tags=("pipeline", "display"),
    doc="P10 short-pubkey display helper (common/utils.rs:103-110) over "
        "pipeline-decoded events.",
)
def pubkey_short_by_mint(spark, sf_dir: str) -> DataFrame:
    from ..functions import format_pubkey_short
    return (_events(spark)
            .filter(F.col("mint").isNotNull())
            .groupBy(format_pubkey_short(F.col("mint")).alias("mint_short"))
            .agg(F.count(F.lit(1)).alias("n_events")))


@register(
    "dex_event_ordering",
    oracle=f"""
    SELECT signature,
           string_agg(event_type, '|' ORDER BY outer_index,
                      COALESCE(inner_index, -1), event_type) AS event_seq,
           COUNT(*) AS n_events
    FROM read_parquet('{GOLDEN}')
    GROUP BY signature
    """,
    tags=("pipeline", "dex", "ordering"),
    doc="§2.9 ordering contract: intra-transaction event sequence "
        "recovered from (outer_index, inner_index).",
)
def dex_event_ordering(spark, sf_dir: str) -> DataFrame:
    ev = _events(spark).withColumn(
        "sort_key",
        F.struct(F.col("outer_index"),
                 F.coalesce(F.col("inner_index"), F.lit(-1)),
                 F.col("event_type")))
    return (ev.groupBy("signature")
            .agg(F.array_join(
                    F.transform(F.array_sort(F.collect_list("sort_key")),
                                lambda s: s["event_type"]), "|")
                 .alias("event_seq"),
                 F.count(F.lit(1)).alias("n_events")))
