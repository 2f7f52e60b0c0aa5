"""Int8 embedding quantization (operators/similarity.py): exact
round-trip bounds, scale invariance of the quantized cosine, and the
recall differential of the quantized brute-force top-k vs the exact
catalog form on the real corpus."""

from __future__ import annotations

from pyspark.sql import functions as F


def test_quantize_roundtrip_bounds(spark):
    """Every dequantized element must sit within scale/254 of the
    original (symmetric round-to-nearest at 127 steps); zero vectors
    round-trip to zeros."""
    from solana_event_stream_spark.operators.similarity import (
        dequantize_embeddings_int8, quantize_embeddings_int8)

    rows = [(1, [0.5, -1.0, 0.25, 0.0]),
            (2, [3.0, 2.9999, -3.0, 1.5]),
            (3, [0.0, 0.0, 0.0, 0.0])]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    q = quantize_embeddings_int8(emb)
    back = {r.vec_id: r.embedding
            for r in dequantize_embeddings_int8(q).collect()}
    for vid, vec in rows:
        scale = max(abs(v) for v in vec)
        for orig, rt in zip(vec, back[vid]):
            assert abs(orig - rt) <= (scale / 254 + 1e-12), (vid, orig, rt)
    assert back[3] == [0.0, 0.0, 0.0, 0.0]
    codes = {r.vec_id: r.q for r in q.collect()}
    assert max(abs(c) for c in codes[2]) == 127   # scale maps to +/-127


def _quantized_brute_topk(spark, sf_dir):
    """Brute-force top-k scored directly on the int8 codes: the
    catalog query slice and the corpus both quantized, codes cast to
    array<double> (cosine is scale-invariant, so the per-vector scales
    never enter the score)."""
    from solana_event_stream_spark.operators.similarity import (
        N_QUERIES, ann_topk_frames, quantize_embeddings_int8)
    from solana_event_stream_spark.tables import load_spread

    codes = quantize_embeddings_int8(
        load_spread(spark, sf_dir, "embeddings")).select(
        "vec_id", F.col("q").cast("array<double>").alias("embedding"))
    queries = (codes.filter(F.col("vec_id") < N_QUERIES)
               .select(F.col("vec_id").alias("query_id"), "embedding"))
    return ann_topk_frames(queries, codes, method="brute")


def test_quantized_topk_recall_on_corpus(spark, sf_dir):
    """recall@k of the int8 brute-force top-k vs the exact catalog
    form must be high (~1/254 per-element noise barely perturbs
    cosine ranks): >= 0.9 overall on the real corpus."""
    from solana_event_stream_spark.operators.similarity import (
        ann_cosine_topk)

    exact = {}
    for r in ann_cosine_topk(spark, sf_dir).collect():
        exact.setdefault(r.query_id, set()).add(r.neighbor_id)
    quant = {}
    for r in _quantized_brute_topk(spark, sf_dir).collect():
        quant.setdefault(r.query_id, set()).add(r.neighbor_id)
    assert set(quant) == set(exact)
    hits = sum(len(exact[q] & quant[q]) for q in exact)
    total = sum(len(exact[q]) for q in exact)
    assert hits / total >= 0.9, (hits, total)


def test_quantized_plan_no_udf_no_cross(spark, sf_dir):
    plan = (_quantized_brute_topk(spark, sf_dir)
            ._jdf.queryExecution().executedPlan().toString())
    assert "PythonUDF" not in plan
    assert "CartesianProduct" not in plan


def test_quantized_frames_lsh_recall_and_zero_actions(
        spark, sf_dir, monkeypatch):
    """VERDICT r13 item 5: the deployment serving path accepts the
    int8-quantized corpus — LSH over the codes (scale cancels in both
    the signature sign and the cosine) with recall@k >= the pinned 0.9
    floor vs the exact float path, and the width=+corpus_rows=
    zero-action plan guarantee intact."""
    from pyspark.sql import DataFrame

    from solana_event_stream_spark.operators.similarity import (
        N_QUERIES, ann_topk_frames, ann_topk_frames_quantized,
        quantize_embeddings_int8)
    from solana_event_stream_spark.tables import load_spread

    emb = load_spread(spark, sf_dir, "embeddings")
    qcorpus = quantize_embeddings_int8(emb).localCheckpoint()
    queries = (emb.filter(F.col("vec_id") < N_QUERIES)
               .select(F.col("vec_id").alias("query_id"), "embedding"))

    def _boom(self, *a, **k):
        raise AssertionError("pre-query action fired on the quantized "
                             "width=+corpus_rows= serving path")

    with monkeypatch.context() as m:
        for action in ("count", "collect", "toLocalIterator", "head"):
            m.setattr(DataFrame, action, _boom)
        # 5 probe bits: the float LSH path's measured >=0.9-recall
        # setting on this corpus (0.96 measured; see commit notes)
        planned = ann_topk_frames_quantized(
            queries, qcorpus, method="lsh", width=64, corpus_rows=500,
            nprobe_bits=5)

    def recall_of(df, exact):
        got = {}
        for r in df.collect():
            got.setdefault(r.query_id, set()).add(r.neighbor_id)
        hits = sum(len(exact[q] & got.get(q, set())) for q in exact)
        return hits / sum(len(exact[q]) for q in exact)

    exact = {}
    for r in ann_topk_frames(queries, emb, method="brute").collect():
        exact.setdefault(r.query_id, set()).add(r.neighbor_id)
    q_recall = recall_of(planned, exact)
    assert q_recall >= 0.9, q_recall
    # quantization itself costs (almost) nothing: the code-domain LSH
    # path tracks the float LSH path at identical geometry
    f_recall = recall_of(
        ann_topk_frames(queries, emb, method="lsh", width=64,
                        corpus_rows=500, nprobe_bits=5), exact)
    assert q_recall >= f_recall - 0.05, (q_recall, f_recall)

    # code-domain cosines equal the float cosines for shared pairs
    # (scale cancellation is exact up to fp rounding)
    fcos = {(r.query_id, r.neighbor_id): r.cosine
            for r in ann_topk_frames(queries, emb, method="brute")
            .collect()}
    for r in planned.collect():
        key = (r.query_id, r.neighbor_id)
        if key in fcos:
            assert abs(r.cosine - fcos[key]) < 2e-2   # ~1/254 noise


def test_quantized_rerank_closes_recall_gap(spark, sf_dir, monkeypatch):
    """VERDICT r14 item 6: rerank_m pulls top-m through the quantized
    path and re-scores ONLY those m against the full-precision tier —
    recall@k >= 0.98 vs exact, shared-pair cosines now EXACT (not
    ~1/254-noisy), and the zero-pre-query-action plan gate stays
    intact (the re-rank adds joins, never actions)."""
    from pyspark.sql import DataFrame

    from solana_event_stream_spark.operators.similarity import (
        N_QUERIES, TOP_K, ann_topk_frames, ann_topk_frames_quantized,
        quantize_embeddings_int8)
    from solana_event_stream_spark.tables import load_spread

    emb = load_spread(spark, sf_dir, "embeddings").localCheckpoint()
    qcorpus = quantize_embeddings_int8(emb).localCheckpoint()
    queries = (emb.filter(F.col("vec_id") < N_QUERIES)
               .select(F.col("vec_id").alias("query_id"), "embedding"))

    def _boom(self, *a, **k):
        raise AssertionError("pre-query action fired on the reranked "
                             "quantized serving path")

    with monkeypatch.context() as m:
        for action in ("count", "collect", "toLocalIterator", "head"):
            m.setattr(DataFrame, action, _boom)
        planned = ann_topk_frames_quantized(
            queries, qcorpus, rerank_m=3 * TOP_K, exact_corpus=emb,
            method="lsh", width=64, corpus_rows=500, nprobe_bits=5)
        brute_rr = ann_topk_frames_quantized(
            queries, qcorpus, rerank_m=3 * TOP_K, exact_corpus=emb,
            method="brute")

    exact = {}
    ecos = {}
    for r in ann_topk_frames(queries, emb, method="brute").collect():
        exact.setdefault(r.query_id, set()).add(r.neighbor_id)
        ecos[(r.query_id, r.neighbor_id)] = r.cosine

    def recall_of(df):
        got = {}
        for r in df.collect():
            got.setdefault(r.query_id, set()).add(r.neighbor_id)
        hits = sum(len(exact[q] & got.get(q, set())) for q in exact)
        return hits / sum(len(exact[q]) for q in exact)

    # brute candidates + exact re-rank: the only loss is a true
    # neighbor pushed below rank 3k by quantization noise — >= 0.98
    assert recall_of(brute_rr) >= 0.98
    # shared-pair cosines are EXACT now (the re-rank reads the float
    # tier), where the non-reranked path was only within ~1/254
    for r in brute_rr.collect():
        key = (r.query_id, r.neighbor_id)
        if key in ecos:
            assert abs(r.cosine - ecos[key]) < 1e-9, key
    # the LSH serving shape also benefits: reranked >= plain quantized
    plain = ann_topk_frames_quantized(
        queries, qcorpus, method="lsh", width=64, corpus_rows=500,
        nprobe_bits=5)
    assert recall_of(planned) >= recall_of(plain) - 1e-9


def test_quantized_rerank_guards(spark):
    import pytest

    from solana_event_stream_spark.operators.similarity import (
        ann_topk_frames_quantized)

    q = spark.createDataFrame([(1, [1.0, 0.0])],
                              "query_id long, embedding array<double>")
    qc = spark.createDataFrame([(2, 1.0, [127, 0])],
                               "vec_id long, scale double, q array<tinyint>")
    with pytest.raises(ValueError, match="exact_corpus"):
        ann_topk_frames_quantized(q, qc, rerank_m=10)
    ex = spark.createDataFrame([(2, [1.0, 0.0])],
                               "vec_id long, embedding array<double>")
    with pytest.raises(ValueError, match="must be >= k"):
        ann_topk_frames_quantized(q, qc, rerank_m=3, exact_corpus=ex,
                                  k=10)
