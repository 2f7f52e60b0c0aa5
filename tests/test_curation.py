"""Semantics tests for operators/curation.py (decontamination, k-means,
SemDeDup, shard assignment) — planted-case checks that the oracle-parity
gate (test_queries_oracle) can't express: the oracle proves Spark ==
DuckDB; these prove both compute the RIGHT thing."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from solana_event_stream_spark.operators.curation import (
    KM_ITERS, _assign, decontaminate, kmeans_assign, semdedup_flags,
)
from solana_event_stream_spark.operators.training_data import (
    shard_assignment_stats,
)
from solana_event_stream_spark.tables import load_spread


def _docs(spark, rows):
    return spark.createDataFrame(
        rows, "doc_id long, lang string, text string")


def test_decontaminate_flags_planted_overlap(spark):
    # doc 0 -> eval split (0 % 37 == 0). doc 1 copies 4 consecutive
    # words from it; doc 2 is disjoint; doc 3 is a verbatim copy.
    eval_text = "alpha beta gamma delta epsilon zeta"
    docs = _docs(spark, [
        (0, "en", eval_text),
        (1, "en", "xx yy beta gamma delta epsilon zz"),
        (2, "en", "one two three four five six seven"),
        (3, "en", eval_text),
    ])
    out = {(r.part, r.lang): r for r in decontaminate(docs).collect()}
    ng, ex = out[("ngram", "en")], out[("exact", "en")]
    assert ng.n_train == 3
    assert ng.n_flagged == 2          # docs 1 and 3
    assert ex.n_flagged == 1          # doc 3 only
    assert ex.rate == pytest.approx(1 / 3)


def test_decontaminate_short_docs_produce_no_grams(spark):
    # < NGRAM words on either side: the guarded gram builder must not
    # emit a descending-sequence artifact (Spark sequence(1, 0) is
    # DESCENDING) and short docs can never collide.
    docs = _docs(spark, [
        (0, "en", "alpha beta"),              # eval, 2 words
        (1, "en", "alpha beta"),              # train, identical 2 words
    ])
    out = {(r.part, r.lang): r for r in decontaminate(docs).collect()}
    assert out[("ngram", "en")].n_flagged == 0   # no 4-grams exist
    assert out[("exact", "en")].n_flagged == 1   # exact hash still hits


def test_kmeans_inertia_monotone_under_iterations(spark, sf_dir):
    emb = load_spread(spark, sf_dir, "embeddings")
    inertia = []
    for iters in (0, 1, KM_ITERS):
        assigned = kmeans_assign(emb, iters=iters)
        inertia.append(
            assigned.agg(F.sum("dist").alias("s")).collect()[0].s)
    assert inertia[1] <= inertia[0] + 1e-9
    assert inertia[2] <= inertia[1] + 1e-9
    assert inertia[2] < inertia[0]  # it actually moved


def test_kmeans_assign_covers_corpus_exactly_once(spark, sf_dir):
    emb = load_spread(spark, sf_dir, "embeddings")
    assigned = kmeans_assign(emb)
    n = emb.count()
    assert assigned.count() == n
    assert assigned.select("vec_id").distinct().count() == n
    assert assigned.filter(
        (F.col("cluster") < 0) | (F.col("cluster") >= 8)).count() == 0


def test_assign_tie_break_prefers_smaller_cluster(spark):
    # Two identical centroids: every vector ties; the fold's strict <
    # must keep cluster 0 (matching ROW_NUMBER ORDER BY dist, cluster).
    emb = spark.createDataFrame(
        [(0, [1.0, 2.0]), (1, [3.0, 4.0])],
        "vec_id long, embedding array<float>")
    cents = {0: [0.0, 0.0], 1: [0.0, 0.0]}
    rows = _assign(emb, cents).collect()
    assert all(r.cluster == 0 for r in rows)


def test_semdedup_drops_later_twin_keeps_earlier(spark):
    # vec 5 is a near-copy of vec 1 (same cluster): 5 dropped, 1 kept.
    # vec 9 is its own cluster: kept. Cross-cluster twins never compare.
    base = [1.0] * 4
    rows = [
        (1, base, 0, 0.0),
        (5, [1.0, 1.0, 1.0, 1.001], 0, 0.0),
        (7, [-1.0, 1.0, -1.0, 1.0], 0, 0.0),   # orthogonal-ish, kept
        (9, base, 1, 0.0),                      # other cluster, kept
    ]
    assigned = spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, cluster int, "
              "dist double")
    flags = {r.vec_id: r.dropped
             for r in semdedup_flags(assigned, tau=0.95).collect()}
    assert flags == {1: False, 5: True, 7: False, 9: False}


def test_shard_assignment_balanced_and_deterministic(spark, sf_dir):
    a = shard_assignment_stats(spark, sf_dir).collect()
    b = shard_assignment_stats(spark, sf_dir).collect()
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))
    shares = {r.shard: r.share for r in a}
    assert abs(sum(shares.values()) - 1.0) < 1e-9
    # md5 is uniform: with 500 docs over 16 shards no shard should be
    # pathologically empty or dominant
    assert len(shares) == 16
    assert max(shares.values()) < 0.25


# ---------------------------------------------------------------------------
# r11: the Arrow assignment backend (the knob that actually turns at
# corpus-tracking k) vs the literal-centroid Catalyst fold.
# ---------------------------------------------------------------------------

def _init_centroids(spark, sf_dir, k):
    from solana_event_stream_spark.operators.curation import KM_DIMS
    emb = load_spread(spark, sf_dir, "embeddings")
    rows = (emb.select("vec_id", "embedding").orderBy("vec_id")
            .limit(k).collect())
    assert len(rows) == k and all(len(r.embedding) == KM_DIMS for r in rows)
    return emb, {i: [float(x) for x in r.embedding]
                 for i, r in enumerate(rows)}


def test_assign_arrow_matches_literal(spark, sf_dir):
    """assign_arrow (broadcast ndarray + matmul) == _assign (literal
    fold) on the full corpus: identical cluster ids, distances equal to
    float64 round-off (the matmul expansion vs the sequential fold)."""
    from solana_event_stream_spark.operators.curation import assign_arrow

    emb, cents = _init_centroids(spark, sf_dir, 8)
    lit = {r.vec_id: (r.cluster, r.dist)
           for r in _assign(emb, cents).collect()}
    arw = {r.vec_id: (r.cluster, r.dist)
           for r in assign_arrow(emb, cents).collect()}
    assert set(lit) == set(arw)
    mismatch = {v for v in lit if lit[v][0] != arw[v][0]}
    assert not mismatch, f"cluster mismatch on {sorted(mismatch)[:5]}"
    for v in lit:
        assert arw[v][1] == pytest.approx(lit[v][1], rel=1e-9, abs=1e-9)


def test_kmeans_scaled_matches_literal_at_k8(spark, sf_dir):
    """Full-loop differential: kmeans_assign_scaled (Arrow assignments,
    same DECIMAL-exact centroid updates) lands on the same final
    clustering as the literal-backend kmeans_assign."""
    from solana_event_stream_spark.operators.curation import (
        kmeans_assign_scaled)

    emb = load_spread(spark, sf_dir, "embeddings")
    lit = {r.vec_id: r.cluster for r in kmeans_assign(emb).collect()}
    arw = {r.vec_id: r.cluster
           for r in kmeans_assign_scaled(emb).collect()}
    assert lit == arw


def test_assign_arrow_plan_constant_in_k(spark, sf_dir):
    """The r10 weakness this backend removes: the literal form compiles
    k x dims into the plan; the Arrow form's plan must not grow with k
    (k=256 here — already far past where the literal fold gets painful
    to build) and it must stay a zero-shuffle narrow projection."""
    import random

    from solana_event_stream_spark.operators.curation import (
        KM_DIMS, assign_arrow)

    emb, cents8 = _init_centroids(spark, sf_dir, 8)
    rng = random.Random(11)
    cents256 = {c: [rng.uniform(-1, 1) for _ in range(KM_DIMS)]
                for c in range(256)}

    plan8 = assign_arrow(emb, cents8)._jdf.queryExecution() \
        .executedPlan().toString()
    df256 = assign_arrow(emb, cents256)
    plan256 = df256._jdf.queryExecution().executedPlan().toString()
    assert "zip_with" not in plan256 and "hashpartitioning" not in plan256
    assert abs(len(plan256) - len(plan8)) < 200, (len(plan8), len(plan256))
    # and it actually executes: full coverage, sane cluster range
    rows = df256.collect()
    assert len(rows) == emb.count()
    assert all(0 <= r.cluster < 256 for r in rows)
    assert len({r.cluster for r in rows}) > 8   # really used the k range


def test_assign_arrow_raises_on_ragged_width(spark):
    from solana_event_stream_spark.operators.curation import assign_arrow

    emb = spark.createDataFrame(
        [(0, [1.0, 2.0, 3.0]), (1, [1.0, 2.0])],
        "vec_id long, embedding array<float>")
    with pytest.raises(Exception, match="uniform"):
        assign_arrow(emb, {0: [0.0, 0.0, 0.0]}).collect()


def test_ivf_cells_arrow_matches_literal(spark, sf_dir):
    from solana_event_stream_spark.operators.similarity import (
        _ivf_cells, _norms_and_centroid_choices, ivf_cells_arrow)

    lit = {r.vec_id: (r.cell, r.nrm) for r in
           _ivf_cells(spark, sf_dir).collect()}
    emb = load_spread(spark, sf_dir, "embeddings")
    arw = {r.vec_id: (r.cell, r.nrm) for r in
           ivf_cells_arrow(emb, dict(enumerate(
               _norms_and_centroid_choices(spark, sf_dir)[2])))
           .collect()}
    assert set(lit) == set(arw)
    assert {v: c for v, (c, _) in lit.items()} == \
           {v: c for v, (c, _) in arw.items()}
    for v, (_, nrm) in lit.items():
        assert arw[v][1] == pytest.approx(nrm, rel=1e-12)


def test_ann_ivf_topk_scaled_matches_catalog(spark, sf_dir):
    """The catalog's literal-fold IVF equals the frame entry point over
    the Arrow-assigned corpus (same corpus-vector centroids, nprobe=1)."""
    from solana_event_stream_spark.catalog import load_catalog
    from solana_event_stream_spark.operators.similarity import (
        N_QUERIES, _norms_and_centroid_choices, ann_ivf_topk_frames,
        ivf_cells_arrow)

    cat = load_catalog()
    emb = load_spread(spark, sf_dir, "embeddings")
    cents = _norms_and_centroid_choices(spark, sf_dir)[2]
    queries = (emb.filter(F.col("vec_id") < N_QUERIES)
               .select(F.col("vec_id").alias("query_id"), "embedding"))
    lit = sorted((r.query_id, r.neighbor_id, r.rk)
                 for r in cat["ann_ivf_topk"].spark_fn(spark, sf_dir)
                 .collect())
    arw = sorted((r.query_id, r.neighbor_id, r.rk)
                 for r in ann_ivf_topk_frames(
                     queries, ivf_cells_arrow(emb, dict(enumerate(cents))),
                     cents, exclude_matching_ids=True,
                     cell_pushdown=False).collect())
    assert lit == arw


def test_embedding_curation_scaled_matches_catalog_at_k8(spark, sf_dir):
    from solana_event_stream_spark.catalog import load_catalog
    from solana_event_stream_spark.operators.curation import (
        embedding_curation_scaled)

    cat = load_catalog()
    lit = sorted((r.part, r.cluster, r.n1, r.n2,
                  None if r.v is None else round(r.v, 4))
                 for r in cat["embedding_curation"]
                 .spark_fn(spark, sf_dir).collect())
    arw = sorted((r.part, r.cluster, r.n1, r.n2,
                  None if r.v is None else round(r.v, 4))
                 for r in embedding_curation_scaled(spark, sf_dir, k=8)
                 .collect())
    assert lit == arw


def test_decontaminate_hashed_grams_differential(spark, sf_dir):
    """The hash_grams scale knob (grams fold to u64 before the explode)
    must report exactly the string form's output on a real corpus, and
    on the planted-overlap case."""
    from solana_event_stream_spark.tables import load_table

    docs = load_table(spark, sf_dir, "documents")
    plain = sorted(map(tuple, decontaminate(docs).collect()))
    hashed = sorted(map(tuple,
                        decontaminate(docs, hash_grams=True).collect()))
    assert plain == hashed

    planted = _docs(spark, [
        (0, "en", "alpha beta gamma delta epsilon zeta"),
        (1, "en", "xx yy beta gamma delta epsilon zz"),
        (2, "en", "one two three four five six seven"),
    ])
    out = {(r.part, r.lang): r.n_flagged
           for r in decontaminate(planted, hash_grams=True).collect()}
    assert out[("ngram", "en")] == 1


def test_decontaminate_scaled_no_string_grams(spark, sf_dir):
    """VERDICT r11 item 8: the deployment entry point must hash grams
    by default — no ~4-word gram STRING may ride the explode or the
    broadcast probe set. Gate: the plan folds grams through xxhash64
    and every occurrence of the exploded `gram` attribute is a long
    (`gram#<id>L`), plus the report matches the explicit-flag form."""
    import re

    from solana_event_stream_spark.operators.curation import (
        decontaminate, decontaminate_scaled)
    from solana_event_stream_spark.tables import load_table

    docs = load_table(spark, sf_dir, "documents")
    out = decontaminate_scaled(docs)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "xxhash64" in plan
    grams = re.findall(r"gram#\d+(L?)", plan)
    assert grams and all(suffix == "L" for suffix in grams), plan[:2000]
    assert (sorted(map(tuple, out.collect()))
            == sorted(map(tuple,
                          decontaminate(docs, hash_grams=True).collect())))


def test_ivf_cells_arrow_rejects_zero_norm(spark):
    """ADVICE r11: a zero embedding used to yield NaN cosines and a
    silent argmax-to-cell-0 assignment, diverging from the literal
    fold's NULL behavior — now it raises loudly."""
    import pytest

    from solana_event_stream_spark.operators.similarity import (
        ivf_cells_arrow)

    emb = spark.createDataFrame(
        [(0, [1.0, 0.0, 0.0, 0.0]), (1, [0.0, 0.0, 0.0, 0.0])],
        "vec_id long, embedding array<float>")
    cents = {0: [1.0, 0.0, 0.0, 0.0], 1: [0.0, 1.0, 0.0, 0.0]}
    with pytest.raises(Exception, match="zero-norm"):
        ivf_cells_arrow(emb, cents).collect()


def test_kmeans_scaled_init_rule_matches_literal(spark):
    """ADVICE r11: both backends now share the SAME init rule
    (filter(vec_id < k) + exact count) — on a corpus whose vec_ids
    don't start at 0, BOTH raise instead of the scaled form silently
    proceeding with different seed vectors."""
    import pytest

    from solana_event_stream_spark.operators.curation import (
        KM_DIMS, kmeans_assign, kmeans_assign_scaled)

    emb = spark.createDataFrame(
        [(100 + i, [float((i + d) % 7) for d in range(KM_DIMS)])
         for i in range(16)],
        "vec_id long, embedding array<float>")
    with pytest.raises(ValueError, match="expects vec_id 0"):
        kmeans_assign(emb, k=8, iters=1)
    with pytest.raises(ValueError, match="expects vec_id 0"):
        kmeans_assign_scaled(emb, k=8, iters=1)


def test_decontaminate_frames_external_eval(spark):
    """decontaminate_frames (r12): the eval side is an external frame
    (text-only benchmark corpus). Planted: train doc 1 shares a 4-gram
    with the benchmark, train doc 3 is an exact copy; doc 2 is clean."""
    from solana_event_stream_spark.operators.curation import (
        decontaminate_frames)

    train = spark.createDataFrame([
        (1, "en", "the quick brown fox jumps over the dog"),
        (2, "en", "completely unrelated training text here"),
        (3, "de", "benchmark question about spark internals"),
    ], "doc_id long, lang string, text string")
    bench = spark.createDataFrame([
        ("what does the quick brown fox do",),
        ("benchmark question about spark internals",),
    ], "text string")

    got = {(r.part, r.lang): (r.n_train, r.n_flagged)
           for r in decontaminate_frames(train, bench).collect()}
    assert got[("ngram", "en")] == (2, 1)     # doc 1 gram hit, doc 2 clean
    assert got[("exact", "de")] == (1, 1)     # doc 3 exact copy
    assert got[("exact", "en")] == (2, 0)
    # ngram part also flags the exact copy (it shares every gram)
    assert got[("ngram", "de")] == (1, 1)

    # string-gram form agrees (hash_grams only changes representation)
    got_str = {(r.part, r.lang): (r.n_train, r.n_flagged)
               for r in decontaminate_frames(train, bench,
                                             hash_grams=False).collect()}
    assert got_str == got


def test_decontaminate_survivors_apply_step(spark):
    """decontaminate_survivors: gram-hit and exact-copy docs are
    removed, clean docs survive unchanged; agrees with the report's
    flag counts; hash/string gram forms identical."""
    from solana_event_stream_spark.operators.curation import (
        decontaminate_frames, decontaminate_survivors)

    train = spark.createDataFrame([
        (1, "en", "the quick brown fox jumps over the dog"),
        (2, "en", "completely unrelated training text here"),
        (3, "de", "benchmark question about spark internals"),
        (4, "fr", "another clean document with novel words"),
    ], "doc_id long, lang string, text string")
    bench = spark.createDataFrame([
        ("what does the quick brown fox do",),
        ("benchmark question about spark internals",),
    ], "text string")

    out = decontaminate_survivors(train, bench).collect()
    assert {r.doc_id for r in out} == {2, 4}
    assert all(len(r) == 3 for r in out)  # rows unchanged in shape
    # consistency with the report: survivors == n_train - flagged
    rep = {(r.part, r.lang): r.n_flagged
           for r in decontaminate_frames(train, bench).collect()}
    n_flagged_docs = 2  # doc 1 (gram), doc 3 (gram+exact)
    assert train.count() - n_flagged_docs == len(out)
    assert rep[("ngram", "en")] == 1 and rep[("ngram", "de")] == 1
    # string-gram parity
    got_str = {r.doc_id for r in decontaminate_survivors(
        train, bench, hash_grams=False).collect()}
    assert got_str == {2, 4}
