"""Scale probe: empirical near-linear-scaling evidence for the two
hot paths (VERDICT r5 next-step #2).

Not part of the driver's bench battery (multi-minute, writes nothing):
run manually —  python scale_probe.py  — and record the JSON lines in
BENCH_NOTES.md. Two experiments:

1. **Pipeline core** (decode+merge+enrich DAG): the fixture corpus
   replicated 2,000x / 8,000x / 20,000x (94k / 376k / 940k
   transactions) through the same DAG `dex_pipeline_throughput` times,
   split into core (shuffle-free scan->decode) and full (enrich +
   final agg) stages. Near-linear = wall ratio tracks input ratio.
2. **Blocked dedup** (MinHash-LSH): the sf0.1 documents corpus (5k
   docs) replicated 1x / 4x / 10x with distinct doc_ids; times the
   full banded-LSH pair pipeline. Blocking bounds candidate growth, so
   wall should scale near input ratio, not its square (all-pairs
   would be 16x / 100x).

Timing note: this sandbox's wall clock swings +-50% under gVisor vCPU
steal (BENCH_NOTES.md) — each point is best-of-2 in one JVM, and the
conclusion drawn is the trend across a 10x input span, not any single
figure.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from pyspark.sql import functions as F

from solana_event_stream_spark.session import get_spark

FIXTURES = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                        "fixtures")
SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def _timed(fn, n: int = 2) -> float:
    best = float("inf")
    for _ in range(n):
        t0 = time.perf_counter()
        fn()
        best = min(best, time.perf_counter() - t0)
    return round(best, 3)


def _scaled_raw(spark, n: int):
    from solana_event_stream_spark.plans.pipeline import load_raw_transactions
    raw = load_raw_transactions(
        spark, os.path.join(FIXTURES, "raw_transactions.parquet"))
    return (raw.crossJoin(spark.range(n).select(F.col("id").alias("rep")))
            .withColumn("signature", F.concat_ws("_", "signature", "rep"))
            .withColumn("slot", F.col("slot") + F.col("rep") * 10000)
            .drop("rep")
            .repartition(int(spark.conf.get(
                "spark.sql.shuffle.partitions", "32"))))


def probe_pipeline(spark) -> list[dict]:
    from solana_event_stream_spark.plans.pipeline import (build_events,
                                                          build_events_core)
    out = []
    for scale in (2000, 8000, 20000):
        raw = _scaled_raw(spark, scale)
        n_tx = 47 * scale
        t_core = _timed(
            lambda: build_events_core(raw).select(F.count(F.lit(1))
                                                  ).collect())
        t_full = _timed(
            lambda: build_events(raw).groupBy("protocol", "event_type")
            .agg(F.count(F.lit(1))).collect())
        out.append({"probe": "pipeline", "scale": scale, "n_tx": n_tx,
                    "core_sec": t_core, "full_sec": t_full,
                    "tx_per_sec_full": round(n_tx / t_full)})
        print(json.dumps(out[-1]), flush=True)
    return out


def probe_accounts(spark) -> list[dict]:
    """Account-pipeline (D3/P8) scaling: fixture account updates
    replicated with distinct pubkeys/slots through the full
    dispatch+decode, same near-linear expectation as the transaction
    pipeline."""
    from solana_event_stream_spark.plans.account_pipeline import (
        build_account_events, load_raw_accounts)

    base = load_raw_accounts(
        spark, os.path.join(FIXTURES, "raw_accounts.parquet"))
    n_base = base.count()
    out = []
    for mult in (2000, 8000, 20000):
        raw = (base.crossJoin(
            spark.range(mult).select(F.col("id").alias("rep")))
            .withColumn("pubkey", F.concat_ws("_", "pubkey", "rep"))
            .withColumn("slot", F.col("slot") + F.col("rep") * 10000)
            .drop("rep")
            .repartition(int(spark.conf.get(
                "spark.sql.shuffle.partitions", "32"))))
        t = _timed(
            lambda: build_account_events(raw)
            .groupBy("event_type").agg(F.count(F.lit(1))).collect())
        out.append({"probe": "account_pipeline", "mult": mult,
                    "n_updates": n_base * mult, "sec": t,
                    "updates_per_sec": round(n_base * mult / t)})
        print(json.dumps(out[-1]), flush=True)
    return out


def probe_dedup(spark) -> list[dict]:
    from solana_event_stream_spark.operators.dedup import (
        _minhash_verified_pairs, docs_with_dups)
    base = docs_with_dups(spark, SF_DIR)
    n_base = base.count()
    out = []
    for mult in (1, 4, 10):
        docs = (base.crossJoin(
            spark.range(mult).select(F.col("id").alias("rep")))
            .withColumn("doc_id",
                        F.col("doc_id") + F.col("rep") * 10_000_000)
            .drop("rep"))
        t = _timed(
            lambda: _minhash_verified_pairs(docs)
            .select(F.count(F.lit(1))).collect())
        out.append({"probe": "dedup_minhash", "mult": mult,
                    "n_docs": n_base * mult, "sec": t})
        print(json.dumps(out[-1]), flush=True)
    return out


def probe_curation_k(spark) -> list[dict]:
    """r11: the two centroid-assignment backends across k — evidence
    that the Arrow backend (broadcast ndarray + per-batch matmul) has
    plan-build cost ~constant in k while the literal-centroid fold's
    plan grows with k x dims (the r10 'the documented scale knob does
    not turn' fix). Reports per (backend, k): plan-build seconds
    (DataFrame construction + executedPlan materialization — the cost
    that explodes for the literal form) and execution seconds."""
    import random

    from solana_event_stream_spark.operators.curation import (
        KM_DIMS, _assign, assign_arrow)
    from solana_event_stream_spark.tables import load_spread

    emb = load_spread(spark, SF_DIR, "embeddings")
    n = emb.count()
    rng = random.Random(7)

    def _cents(k):
        return {c: [rng.uniform(-1, 1) for _ in range(KM_DIMS)]
                for c in range(k)}

    out = []
    for backend, build, ks in (
            ("literal", _assign, (8, 64, 256)),
            ("arrow", assign_arrow, (8, 256, 4096))):
        for k in ks:
            cents = _cents(k)
            t0 = time.perf_counter()
            df = build(emb, cents)
            df._jdf.queryExecution().executedPlan()
            t_plan = round(time.perf_counter() - t0, 3)
            t_exec = _timed(lambda: df.select(
                F.count(F.lit(1)), F.sum("cluster"), F.sum("dist")
            ).collect())
            out.append({"probe": "curation_k", "backend": backend,
                        "k": k, "n_vec": n, "plan_sec": t_plan,
                        "exec_sec": t_exec})
            print(json.dumps(out[-1]), flush=True)
    return out


def probe_multiprobe(spark) -> list[dict]:
    """r12 (VERDICT r11 item 6): multi-probe LSH at corpus-tracking
    n_planes — recall vs brute-force ground truth and cost for
    nprobe_bits 0..3, at the scaled_n_planes(corpus) point and a
    high-plane (16) point. The operator's stated purpose is exactly
    this regime: high n_planes keeps buckets small (candidate work
    ~corpus x bucket), multi-probe buys the recall back."""
    from solana_event_stream_spark.catalog import load_catalog
    from solana_event_stream_spark.operators.dedup import scaled_n_planes
    from solana_event_stream_spark.operators.similarity import (
        N_QUERIES, _probe_masks, ann_topk_frames)
    from solana_event_stream_spark.tables import load_spread

    cat = load_catalog()
    emb = load_spread(spark, SF_DIR, "embeddings")
    n_vec = emb.count()
    queries = (emb.filter(F.col("vec_id") < N_QUERIES)
               .select(F.col("vec_id").alias("query_id"), "embedding"))
    brute = {(r.query_id, r.neighbor_id)
             for r in cat["ann_cosine_topk"].spark_fn(
                 spark, SF_DIR).collect()}

    out = []
    for n_planes in sorted({scaled_n_planes(n_vec), 16}):
        for bits in (0, 1, 2, 3):
            df = ann_topk_frames(queries, emb, n_planes=n_planes,
                                 nprobe_bits=bits)
            got = [None]

            def _run():
                got[0] = {(r.query_id, r.neighbor_id)
                          for r in df.collect()}

            sec = _timed(_run)
            out.append({
                "probe": "multiprobe", "n_vec": n_vec,
                "n_planes": n_planes, "nprobe_bits": bits,
                "n_masks": len(_probe_masks(n_planes, bits)),
                "recall": round(len(got[0] & brute) / len(brute), 3),
                "exec_sec": sec})
            print(json.dumps(out[-1]), flush=True)
    return out


def probe_curation_scaled(spark) -> list[dict]:
    """r12 (VERDICT r11 item 7): the FULL scaled battery (Lloyd loop on
    the Arrow backend + SemDeDup) at a corpus-tracking k ~ sqrt(corpus)
    — the point of scaling k is the SemDeDup sum(cluster_size^2) pair
    bound, so that sum is logged alongside the wall time."""
    import math

    from solana_event_stream_spark.catalog import release_persisted
    from solana_event_stream_spark.operators.curation import (
        embedding_curation_scaled)
    from solana_event_stream_spark.tables import load_spread

    n_vec = load_spread(spark, SF_DIR, "embeddings").count()
    k = max(8, int(math.isqrt(n_vec)))
    t0 = time.perf_counter()
    rows = embedding_curation_scaled(spark, SF_DIR, k=k).collect()
    wall = round(time.perf_counter() - t0, 3)
    sizes = {r.cluster: (r.n1 if r.n2 is None else r.n1 + r.n2)
             for r in rows if r.part == "semdedup"}
    dropped = sum(r.n2 for r in rows if r.part == "semdedup")
    release_persisted()
    out = [{"probe": "curation_scaled", "n_vec": n_vec, "k": k,
            "wall_sec": wall, "n_clusters_nonempty": len(sizes),
            "sum_cluster_sq": sum(s * s for s in sizes.values()),
            "all_pairs_sq": n_vec * n_vec,
            "max_cluster": max(sizes.values()), "n_dropped": dropped}]
    print(json.dumps(out[-1]), flush=True)
    return out


def probe_enrichment(spark) -> list[dict]:
    """r12: the lake as-of enrichment under hot-account skew — plain
    per-key window fill vs the (key, slot-slice) skewed form, on a
    synthetic 1M-trade corpus where ONE bonding curve carries 20% of
    trades and 50% of account writes (the viral-mint shape). The
    skewed form's win is the point of `skewed=True`; both arms must
    agree on the checksum (they are differential-tested at unit
    scale; the checksum here is the at-scale guard)."""
    from solana_event_stream_spark.plans.enrichment import (
        enrich_trades_asof)

    n_trades, n_states, n_keys = 1_000_000, 200_000, 10_000
    hot = "HOTCURVE"
    key = (F.when(F.col("id") % 5 == 0, F.lit(hot))
           .otherwise(F.concat(F.lit("c"), F.pmod("id", n_keys))))
    trades = spark.range(n_trades).select(
        F.concat(F.lit("s"), "id").alias("sig"),
        F.pmod(F.col("id") * 7919, 500_000).alias("slot"),
        key.alias("bonding_curve"))
    skey = (F.when(F.col("id") % 2 == 0, F.lit(hot))
            .otherwise(F.concat(F.lit("c"), F.pmod("id", n_keys))))
    states = spark.range(n_states).select(
        skey.alias("pubkey"),
        F.pmod(F.col("id") * 104729, 500_000).alias("slot"),
        F.col("id").alias("recv_us"),
        (F.col("id") % 1_000_000).alias("reserves"))

    out = []
    checks = {}
    for arm, kw in (("plain", {}),
                    ("skewed", {"skewed": True, "slice_slots": 10_000})):
        df = enrich_trades_asof(trades, states,
                                state_cols=("reserves",), **kw)
        agg = [None]

        def _run():
            agg[0] = df.agg(
                F.count(F.lit(1)).alias("n"),
                F.count("state_slot").alias("n_matched"),
                F.sum("state_reserves").alias("chk")).collect()[0]

        sec = _timed(_run)
        checks[arm] = (agg[0].n, agg[0].n_matched, int(agg[0].chk))
        out.append({"probe": "enrichment_skew", "arm": arm,
                    "n_trades": n_trades, "n_states": n_states,
                    "hot_share_trades": 0.2, "hot_share_states": 0.5,
                    "wall_sec": sec, "n_matched": int(agg[0].n_matched)})
        print(json.dumps(out[-1]), flush=True)
    assert checks["plain"] == checks["skewed"], checks
    return out


def main() -> None:
    spark = get_spark("scale-probe")
    spark.sparkContext.setLogLevel("ERROR")
    which = set(sys.argv[1:])
    probes = {"pipeline": probe_pipeline, "accounts": probe_accounts,
              "dedup": probe_dedup, "curation": probe_curation_k,
              "multiprobe": probe_multiprobe,
              "curation_scaled": probe_curation_scaled,
              "enrichment": probe_enrichment}
    results = []
    for name, fn in probes.items():
        if not which or name in which:
            results += fn(spark)
    print(json.dumps({"probe": "all", "results": results}))


if __name__ == "__main__":
    main()
