"""Physical-plan quality gates (the 100 TB design contract, SURVEY §4):

- predicate pushdown reaches the parquet scan (PushedFilters),
- column pruning reaches the scan (ReadSchema lists only needed columns),
- small dims broadcast instead of shuffling,
- the event pipeline stays shuffle-free up to enrichment,
- pairwise dedup operators never cross-join (blocked equi-joins only).

These are assertions on `.explain("formatted")` text, so a regression in
plan shape fails CI even while results stay correct.
"""

from __future__ import annotations

import io
import os
from contextlib import redirect_stdout

FIXTURES = os.path.join(os.path.dirname(os.path.dirname(
    os.path.abspath(__file__))), "fixtures")
SF = "/root/testdata/sf0.01"


def plan_of(df) -> str:
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def test_q6_pushdown_and_pruning(spark):
    # q6 now ships inside the q4614 tagged union; its standalone plan
    # must still push every predicate to the scan.
    from solana_event_stream_spark.plans.analytics import q6_revenue_delta
    plan = plan_of(q6_revenue_delta(spark, SF))
    assert "PushedFilters" in plan
    # shipdate/discount/quantity predicates pushed to the scan
    assert "l_shipdate" in plan.split("PushedFilters")[1][:400]
    # pruning: the scan must not read unused lineitem columns
    read_schema = plan.split("ReadSchema")[1][:400]
    assert "l_extendedprice" in read_schema
    assert "l_returnflag" not in read_schema
    assert "l_orderkey" not in read_schema


def test_q5_broadcasts_dimensions(spark):
    # q5 now ships inside the q578 tagged union; its 6-way join tree is
    # the first branch and must still broadcast every dimension.
    from solana_event_stream_spark.catalog import load_catalog
    cat = load_catalog()
    plan = plan_of(cat["q578_nation_trade_flows"].spark_fn(spark, SF))
    assert "BroadcastHashJoin" in plan
    # none of the three branches may sort-merge a dimension
    assert "SortMergeJoin" not in plan


def test_event_pipeline_core_has_no_shuffle(spark):
    from solana_event_stream_spark.plans.pipeline import (
        build_events_core, load_raw_transactions)
    raw = load_raw_transactions(
        spark, os.path.join(FIXTURES, "raw_transactions.parquet"))
    core = build_events_core(raw)
    plan = plan_of(core)
    # parse/decode/merge is a single narrow pipeline: no exchange at all
    assert "Exchange" not in plan, plan[:2000]
    # ...and a SINGLE source scan: the combined outer+inner explode
    # replaced the union-of-two-explodes that read the archive twice
    # per (micro-)batch — 2x read amplification at 100 TB (r7)
    simple = str(core._jdf.queryExecution().executedPlan())
    assert simple.count("FileScan") == 1, simple[:2000]
    assert "Union" not in simple


def test_account_pipeline_single_scan_no_shuffle(spark):
    """The account decode core shares the tx core's plan contract:
    one FileScan, no Union, no Exchange — a narrow dispatch+decode
    pipeline end to end."""
    from solana_event_stream_spark.plans.account_pipeline import (
        build_account_events, load_raw_accounts)
    raw = load_raw_accounts(
        spark, os.path.join(FIXTURES, "raw_accounts.parquet"))
    plan = str(build_account_events(raw)._jdf.queryExecution()
               .executedPlan())
    assert plan.count("FileScan") == 1, plan[:2000]
    assert "Union" not in plan and "Exchange" not in plan


def test_enrichment_keeps_wide_rows_unshuffled(spark):
    """Enrichment must never shuffle the ~375-wide event rows: J3 comes
    out of the decode worker and J4/P11 are projections, so the final
    plan of build_events holds no hash Exchange and no join at all
    (checked after a collect, on the plan that actually ran)."""
    from solana_event_stream_spark.plans.pipeline import (
        build_events, load_raw_transactions)
    raw = load_raw_transactions(
        spark, os.path.join(FIXTURES, "raw_transactions.parquet"))
    ev = build_events(raw)
    ev.collect()
    plan = plan_of(ev)
    executed = str(ev._jdf.queryExecution().executedPlan())
    for text in (plan, executed):
        assert "Exchange" not in text, text[:2000]
        assert "Join" not in text, text[:2000]
    assert executed.count("FileScan") == 1, executed[:2000]


def test_dedup_joins_are_blocked_not_cross(spark):
    from solana_event_stream_spark.catalog import load_catalog
    cat = load_catalog()
    for name in ["dedup_minhash_lsh", "dedup_simhash",
                 "dedup_ngram_jaccard", "dedup_embedding_cosine"]:
        plan = plan_of(cat[name].spark_fn(spark, SF))
        assert "CartesianProduct" not in plan, name
        assert "BroadcastNestedLoopJoin" not in plan, name


def test_dedup_blocking_keys_are_bounded(spark):
    """The candidate joins key on similarity-bounded LSH values (band
    hash / hyperplane bucket), never on corpus-growing attributes like
    (lang, length-bucket) or label; and the minhash/jaccard band joins
    ship ids only — the heavy shingle/gram arrays re-attach post-join."""
    import re

    from solana_event_stream_spark.catalog import load_catalog
    cat = load_catalog()

    def exchange_inputs(plan):
        """Input column lists of every (Broadcast)Exchange node."""
        blocks = re.split(r"\n\(\d+\) ", plan)
        return [b for b in blocks if b.startswith(("Exchange",
                                                   "BroadcastExchange"))]

    for name, payload in [("dedup_minhash_lsh", "shingles#"),
                          ("dedup_ngram_jaccard", "g#")]:
        plan = plan_of(cat[name].spark_fn(spark, SF))
        assert "band_val" in plan, name  # candidate join keyed on bands
        for ex in exchange_inputs(plan):
            # no shuffle/broadcast moves band keys AND payload arrays
            # together: the candidate join is ids+bands only
            assert not ("band_val" in ex and payload in ex), (name, ex[:300])

    plan = plan_of(cat["dedup_ngram_jaccard"].spark_fn(spark, SF))
    assert "len_bucket" not in plan and "lang" not in plan

    plan = plan_of(cat["dedup_embedding_cosine"].spark_fn(spark, SF))
    assert "bucket" in plan   # hyperplane-LSH block key
    assert "label" not in plan  # corpus-attribute block gone (and pruned)


def test_decontaminate_broadcasts_eval_side(spark):
    """Decontamination's 100 TB contract: the eval-side gram/digest sets
    broadcast (benchmarks are MBs), the corpus side never sort-merges,
    and the wide text payload never rides an exchange — only ids, grams,
    digests, and the tiny per-lang rollup shuffle."""
    import re

    from solana_event_stream_spark.catalog import load_catalog
    cat = load_catalog()
    plan = plan_of(cat["corpus_decontaminate"].spark_fn(spark, SF))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan
    for b in re.split(r"\n\(\d+\) ", plan):
        if b.startswith(("Exchange", "BroadcastExchange")):
            assert "text#" not in b, b[:300]


def test_kmeans_assignment_is_narrow(spark):
    # Same contract as the IVF coarse quantizer: a literal-centroid
    # argmin is a pure projection — no exchange beyond load_spread's
    # round-robin crutch, no window, no cross join.
    from solana_event_stream_spark.operators.curation import KM_DIMS, _assign
    from solana_event_stream_spark.tables import load_spread
    emb = load_spread(spark, SF, "embeddings")
    cents = {0: [0.0] * KM_DIMS, 1: [1.0] * KM_DIMS}
    plan = plan_of(_assign(emb, cents))
    assert "hashpartitioning" not in plan, plan[:2000]
    assert "Window" not in plan
    assert "CartesianProduct" not in plan and "Cross" not in plan


def test_semdedup_pairs_are_cluster_blocked(spark):
    # The pairwise cosine compare must be an equi-join on cluster
    # (SemDeDup's whole point) — never a cartesian/nested-loop product.
    from solana_event_stream_spark.operators.curation import (
        _assign, KM_DIMS, semdedup_flags)
    from solana_event_stream_spark.tables import load_spread
    emb = load_spread(spark, SF, "embeddings")
    cents = {0: [0.0] * KM_DIMS, 1: [1.0] * KM_DIMS}
    plan = plan_of(semdedup_flags(_assign(emb, cents)))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_asof_join_is_joinless_single_key_shuffle(spark):
    """The as-of join must compile to union + keyed window fill: NO join
    operator of any kind (no range explosion, no per-row probe), and the
    only fact-sized exchange is the single hashpartitioning on the key."""
    from solana_event_stream_spark.catalog import load_catalog
    cat = load_catalog()
    plan = plan_of(cat["events_asof_join"].spark_fn(spark, SF))
    assert "Join" not in plan, plan[:2000]      # joinless by construction
    assert "CartesianProduct" not in plan
    assert "hashpartitioning(user_id" in plan   # the one keyed shuffle
    assert "Window" in plan


def test_range_join_is_bucketed_equi_not_nested_loop(spark):
    # The interval join must ride the bucket-grid decomposition: a
    # broadcast HASH equi-join on bucket, never the nested-loop probe a
    # naive lo <= x < hi condition compiles to.
    from solana_event_stream_spark.catalog import load_catalog
    cat = load_catalog()
    plan = plan_of(cat["events_value_band_join"].spark_fn(spark, SF))
    assert "BroadcastHashJoin" in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "SortMergeJoin" not in plan and "CartesianProduct" not in plan


def test_time_rollup_hourly_reads_cached_partials(spark):
    # The hypertable cascade: the hourly branch re-aggregates the cached
    # 5-minute partials (InMemoryTableScan), never a second base scan.
    from solana_event_stream_spark.catalog import load_catalog
    cat = load_catalog()
    plan = plan_of(cat["events_time_rollup"].spark_fn(spark, SF))
    assert plan.count("InMemoryTableScan") >= 2, plan[:2000]


def test_ann_broadcasts_queries(spark):
    from solana_event_stream_spark.catalog import load_catalog
    cat = load_catalog()
    plan = plan_of(cat["ann_lsh_topk"].spark_fn(spark, SF))
    assert "BroadcastHashJoin" in plan  # bucket equi-join, query side small


def test_ivf_assignment_is_narrow(spark):
    # The centroid argmax must be a pure projection: no hash exchange
    # (the old crossJoin + Window.partitionBy(vec_id) form shuffled the
    # whole corpus to compute a per-row argmax). The only Exchange
    # allowed is load_spread's round-robin fan-out.
    from solana_event_stream_spark.operators.similarity import _ivf_cells
    plan = plan_of(_ivf_cells(spark, SF))
    assert "hashpartitioning" not in plan, plan[:2000]
    assert "Window" not in plan
    assert "CartesianProduct" not in plan and "Cross" not in plan


def test_ann_topk_reduce_is_two_phase(spark):
    # Phase 1 must rank within (query_id, salt) so the reduce fan-out is
    # n_queries x TOPK_SALTS, not n_queries; phase 2 ranks the tiny
    # survivor set on query_id alone.
    import re
    from solana_event_stream_spark.catalog import load_catalog
    cat = load_catalog()
    for name in ("ann_cosine_topk", "ann_lsh_topk", "ann_ivf_topk"):
        plan = plan_of(cat[name].spark_fn(spark, SF))
        parts = re.findall(r"hashpartitioning\(([^)]*)\)", plan)
        salted = [p for p in parts if "query_id" in p and "_salt" in p]
        plain = [p for p in parts if "query_id" in p and "_salt" not in p]
        assert salted, (name, parts)
        assert plain, (name, parts)


def test_ivf_cell_join_infers_no_fold_filter(spark):
    # The catalog IVF cell key is the k x dims argmax fold. Joined with
    # `=`, InferFiltersFromConstraints adds isnotnull(<fold>) below the
    # corpus projection and every corpus row evaluates the fold twice
    # (the r19 0.71x regression); the never-NULL key joins with <=>, so
    # the only inferred null checks left are on vec_id.
    import re
    from solana_event_stream_spark.catalog import load_catalog
    df = load_catalog()["ann_ivf_topk"].spark_fn(spark, SF)
    opt = df._jdf.queryExecution().optimizedPlan().toString()
    args = re.findall(r"isnotnull\(([^)]*)", opt)
    assert args and all(a.startswith("vec_id#") for a in args), args


def test_load_spread_is_self_tuning(spark, tmp_path):
    """load_spread's round-robin shuffle is a small-SF parallelism
    crutch only: when the scan already has >= defaultParallelism splits
    (the 100 TB case) it must be a no-op — no RoundRobin Exchange."""
    from solana_event_stream_spark.tables import load_spread
    cores = spark.sparkContext.defaultParallelism

    wide = str(tmp_path / "wide")
    os.makedirs(wide)
    (spark.range(cores * 10).selectExpr("id vec_id", "array(0.1) embedding")
     .repartition(cores + 4)
     .write.parquet(os.path.join(wide, "embeddings.parquet")))
    # Make every file its own split (the small test files would
    # otherwise be bin-packed below defaultParallelism, which is the
    # exact case load_spread SHOULD spread).
    open_cost = spark.conf.get("spark.sql.files.openCostInBytes")
    mpb = spark.conf.get("spark.sql.files.maxPartitionBytes")
    spark.conf.set("spark.sql.files.openCostInBytes", str(128 << 20))
    spark.conf.set("spark.sql.files.maxPartitionBytes", str(128 << 20))
    try:
        df = load_spread(spark, wide, "embeddings")
        assert df.rdd.getNumPartitions() >= cores
        assert "roundrobinpartitioning" not in plan_of(df).lower()
    finally:
        spark.conf.set("spark.sql.files.openCostInBytes", open_cost)
        spark.conf.set("spark.sql.files.maxPartitionBytes", mpb)

    narrow = str(tmp_path / "narrow")
    os.makedirs(narrow)
    (spark.range(100).selectExpr("id vec_id", "array(0.1) embedding")
     .coalesce(1)
     .write.parquet(os.path.join(narrow, "embeddings.parquet")))
    df = load_spread(spark, narrow, "embeddings")
    assert df.rdd.getNumPartitions() == cores
    assert "roundrobinpartitioning" in plan_of(df).lower()


def test_scan_counts_stay_fused(spark, sf_dir):
    """r13 scan-audit regression gate: the queries rebuilt as fused
    one-pass forms must not quietly regrow per-branch corpus re-reads
    (each extra FileScan is a full-corpus read at warehouse scale).
    Counts are physical: one FileScan prints inside every
    InMemoryRelation render, so uncached scans = n_fs - n_imr."""
    import __spark_entry__ as entry
    from solana_event_stream_spark.catalog import release_persisted

    # query -> max UNCACHED FileScans (documented shapes, BENCH_NOTES
    # r13): training_sample_filter 1 (everything behind the cached
    # agg); corpus_decontaminate 2 uncached train passes (+1 eval scan
    # inside the cache); events_profile_battery 2; dedup_exact 2 (the
    # shared variant-explode scan feeds the hash part and the
    # substring part's two passes are one scan each... pinned at its
    # audited value); text_battery has its own dedicated gate.
    budgets = {"training_sample_filter": 1, "corpus_decontaminate": 2,
               "events_profile_battery": 2, "dedup_exact": 3,
               # r16 tagged-union floors (VERDICT r15 item 8): the
               # r16 drift adjudication fused domain_mix's pool and
               # mix aggregates (both per-lang sums over the same
               # non-pushdown-able rows) — THREE uncached passes now
               # (totals; pool+mix; fill), vs the r15 four and the
               # naive composition's SEVEN — pack_sequences' two
               # parts stay one scan each
               "domain_mix_resample": 3, "pack_sequences": 2}
    q = entry.queries()
    for name, budget in budgets.items():
        try:
            df = q[name](spark, sf_dir)
            ex = df._jdf.queryExecution().executedPlan().toString()
        finally:
            release_persisted()
        lines = ex.splitlines()
        n_fs = sum("FileScan" in ln for ln in lines)
        n_imr = sum("InMemoryRelation" in ln for ln in lines)
        assert n_fs - n_imr <= budget, (
            f"{name}: {n_fs - n_imr} uncached scans > budget {budget}")


def test_indexed_cross_probe_band_join_ships_ids_only(spark, tmp_path):
    """The r17 index_probe catalog part probes a committed embedding
    index through embedding_pairs_cross_indexed; its 100 TB contract
    is the same as every banded candidate join: the (band_idx, bucket)
    equi-join moves IDS + band keys only — the 64-wide embedding
    arrays re-attach AFTER the per-pair dropDuplicates — and the plan
    is blocked, never cartesian."""
    import re

    from pyspark.sql import functions as F

    from solana_event_stream_spark.operators.dedup_index import (
        create_embedding_index, embedding_index_rows,
        embedding_pairs_cross_indexed, open_dedup_index)
    from solana_event_stream_spark.tables import load_spread

    emb = load_spread(spark, SF, "embeddings")
    seen = emb.filter(F.col("vec_id") % 2 == 0) \
        .select("vec_id", "embedding")
    new = emb.filter(F.col("vec_id") % 2 == 1) \
        .select("vec_id", "embedding")
    idir = str(tmp_path / "idx")
    store = create_embedding_index(idir, n_planes=8, n_bands=2)
    store.append(embedding_index_rows(seen, 2, 8))
    store = open_dedup_index(idir)
    pairs = embedding_pairs_cross_indexed(
        new, seen, store.load(spark), n_bands=2, band_bits=8, tau=0.3)
    plan = plan_of(pairs)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "band_idx" in plan and "bucket" in plan
    blocks = re.split(r"\n\(\d+\) ", plan)
    for b in blocks:
        if b.startswith(("Exchange", "BroadcastExchange")):
            # no exchange moves band keys AND the embedding payload
            assert not ("bucket" in b and "embedding#" in b), b[:300]
