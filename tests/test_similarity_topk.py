"""Equivalence guard for the bounded two-phase ANN top-k reduce:
on any scored candidate set it must return exactly the rows (and ranks)
of the naive single-window form it replaced."""

from __future__ import annotations

from pyspark.sql import functions as F
from pyspark.sql.window import Window


def _naive_topk(scored, k):
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cosine"), F.asc("neighbor_id"))
    return (scored.withColumn("rk", F.row_number().over(w))
            .filter(F.col("rk") <= k))


def test_two_phase_topk_matches_naive(spark):
    from solana_event_stream_spark.operators.similarity import (
        TOP_K, _topk_per_query)

    # Deterministic synthetic candidate set: 7 queries x 400 candidates,
    # hash-derived scores with exact ties (score quantized to 1/32) so
    # the neighbor_id tie-break is exercised, plus queries with fewer
    # than TOP_K candidates.
    scored = (spark.range(7 * 400)
              .select((F.col("id") % 7).alias("query_id"),
                      (F.col("id") / 7).cast("long").alias("neighbor_id"))
              .filter(  # query 6 keeps only 2 candidates
                  (F.col("query_id") != 6) | (F.col("neighbor_id") < 2))
              .withColumn(
                  "cosine",
                  (F.floor(F.pmod(F.xxhash64("query_id", "neighbor_id"),
                                  F.lit(32))) / F.lit(32.0))))

    got = sorted(map(tuple, _topk_per_query(scored).collect()))
    want = sorted(map(tuple, _naive_topk(scored, TOP_K).collect()))
    assert got == want
    # sanity: ties actually occurred (quantized scores guarantee it)
    per_q = {}
    for qid, _nid, cos, _rk in want:
        per_q.setdefault(qid, []).append(cos)
    assert any(len(set(v)) < len(v) for v in per_q.values())


def _catalog_query_slice(spark, sf):
    """The catalog ANN forms' fixed query batch (vec_id < N_QUERIES)
    as an ann_topk_frames / ann_ivf_topk_frames query frame."""
    from solana_event_stream_spark.operators.similarity import N_QUERIES
    from solana_event_stream_spark.tables import load_spread

    return (load_spread(spark, sf, "embeddings")
            .filter(F.col("vec_id") < N_QUERIES)
            .select(F.col("vec_id").alias("query_id"), "embedding"))


def _ivf_probed(spark, sf, nprobe, cells=None):
    """The catalog IVF search with each query probing its ``nprobe``
    nearest cells: ann_ivf_topk_frames over the catalog query slice and
    the literal-fold cell assignment (or ``cells``, e.g. the Arrow
    backend's) with the catalog's corpus-vector centroids."""
    from solana_event_stream_spark.operators.similarity import (
        _ivf_cells, _norms_and_centroid_choices, ann_ivf_topk_frames)

    cents = _norms_and_centroid_choices(spark, sf)[2]
    return ann_ivf_topk_frames(
        _catalog_query_slice(spark, sf),
        _ivf_cells(spark, sf) if cells is None else cells, cents,
        nprobe=nprobe, exclude_matching_ids=True, cell_pushdown=False)


def test_ivf_nprobe_recall_monotone_and_exact_at_full_probe(spark):
    """The nprobe knob must behave like a real IVF index: recall vs the
    brute-force ground truth is monotone in nprobe, and probing every
    cell degenerates to the exact result."""
    from solana_event_stream_spark.operators.similarity import (
        IVF_K, ann_cosine_topk, ann_ivf_topk)
    sf = "/root/testdata/sf0.001"

    def result_set(df):
        return {(r.query_id, r.neighbor_id) for r in df.collect()}

    truth = result_set(ann_cosine_topk(spark, sf))

    def recall(pairs):
        return len(pairs & truth) / len(truth)

    r1 = recall(result_set(ann_ivf_topk(spark, sf)))
    r1p = recall(result_set(_ivf_probed(spark, sf, 1)))
    r2 = recall(result_set(_ivf_probed(spark, sf, 2)))
    rfull = result_set(_ivf_probed(spark, sf, IVF_K))

    assert r1p == r1            # nprobe=1 == the argmax single-cell form
    assert r2 >= r1             # more probes never lose recall
    assert rfull == truth       # probing all cells == exact brute force


def test_ivf_probed_assignment_stays_narrow(spark, sf_dir):
    """The probe-cell computation must keep the zero-exchange shape of
    the nprobe=1 assignment: no Window, no cross join."""
    import io
    from contextlib import redirect_stdout
    df = _ivf_probed(spark, sf_dir, 2)
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    plan = buf.getvalue()
    assert "CartesianProduct" not in plan and "Cross" not in plan


def test_scaled_lsh_entry_points(spark):
    """VERDICT r9 item 3: the corpus-tracking n_planes forms. At
    n_planes=8 both scaled entry points ARE the oracle-pinned catalog
    queries (identical results); at higher plane counts every returned
    pair must still carry its TRUE cosine (bucketing changes recall,
    never correctness of a returned score), and the auto-sizing formula
    follows log2(corpus/target)."""
    from solana_event_stream_spark.operators.dedup import (
        dedup_embedding_cosine, dedup_embedding_cosine_scaled,
        scaled_n_planes)
    from solana_event_stream_spark.operators.similarity import (
        ann_lsh_topk, ann_topk_frames)
    from solana_event_stream_spark.tables import load_spread
    sf = "/root/testdata/sf0.001"
    emb = load_spread(spark, sf, "embeddings")
    q_slice = _catalog_query_slice(spark, sf)

    # formula: log2-tracking with an 8-plane floor
    assert scaled_n_planes(10_000, 64) == 8          # floor binds
    assert scaled_n_planes(1_000_000, 64) == 14
    assert scaled_n_planes(10**9, 1024) == 20        # the VERDICT example
    assert scaled_n_planes(0, 64) == 8

    # n_planes=8 == the catalog plan, bit for bit
    assert sorted(map(tuple, ann_topk_frames(q_slice, emb, method="lsh",
                                             n_planes=8).collect())) \
        == sorted(map(tuple, ann_lsh_topk(spark, sf).collect()))
    assert sorted(map(tuple,
                      dedup_embedding_cosine_scaled(spark, sf, 8)
                      .collect())) \
        == sorted(map(tuple, dedup_embedding_cosine(spark, sf).collect()))

    # higher plane count: fewer candidate pairs (the whole point), and
    # every returned pair still carries its TRUE cosine — bucketing
    # changes recall, never the correctness of a returned score
    import numpy as np
    vecs = {r.vec_id: np.asarray(r.embedding, dtype=np.float64)
            for r in emb.collect()}
    got9 = dedup_embedding_cosine_scaled(spark, sf, n_planes=9,
                                         limit=200_000).collect()
    got8 = dedup_embedding_cosine_scaled(spark, sf, n_planes=8,
                                         limit=200_000).collect()
    assert 0 < len(got9) < len(got8)     # 9 bits strictly shrink pairs
    for r in got9:
        a, b = vecs[r.doc_a], vecs[r.doc_b]
        true_cos = float(a @ b / (np.linalg.norm(a) * np.linalg.norm(b)))
        assert abs(r.cosine - true_cos) < 1e-9, (r.doc_a, r.doc_b)
    # ann form at 9 planes: runs, ranks stay dense per query
    by_q = {}
    for r in ann_topk_frames(q_slice, emb, method="lsh",
                             n_planes=9).collect():
        by_q.setdefault(r.query_id, []).append(r.rk)
    assert all(sorted(v) == list(range(1, len(v) + 1))
               for v in by_q.values())

    # auto-sized: runs end-to-end and respects the limit
    auto = dedup_embedding_cosine_scaled(spark, sf,
                                         target_bucket_size=16).collect()
    assert len(auto) <= 20


def test_ragged_embedding_bucket_parity(spark):
    """ADVICE r10: a corpus with ragged embedding widths must produce
    the same hyperplane signature from bucket_col_for (single-row width
    probe + literal weights) as from the width-independent md5
    expression form — pre-r11 the off-width rows zip_with-padded NULLs
    and silently folded to an all-zero bucket."""
    from solana_event_stream_spark.operators.dedup import (
        _N_PLANES, bucket_col_for, spark_sign_expr)

    rows = []
    vid = 0
    for width in (64, 32, 64, 7, 64, 1):   # probe row is width 64
        for _ in range(3):
            rows.append((vid, [((vid * 31 + d * 17) % 19 - 9) / 3.0
                               for d in range(width)]))
            vid += 1
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")

    got = {r.vec_id: r.b for r in emb.select(
        "vec_id", bucket_col_for(emb, _N_PLANES).alias("b")).collect()}
    want = {r.vec_id: r.b for r in emb.select(
        "vec_id",
        F.expr(spark_sign_expr(_N_PLANES)).alias("b")).collect()}
    assert got == want
    # sanity: the ragged rows produce non-degenerate (not all-equal)
    # buckets, i.e. the fallback really computed signatures
    ragged = [got[v] for v, (_, e) in enumerate(rows) if len(e) != 64]
    assert len(set(ragged)) > 1


def test_lsh_multiprobe_recall_ladder(spark, sf_dir):
    """Multi-probe LSH invariants: (a) nprobe_bits=0 returns exactly
    the single-probe catalog answer; (b) recall vs brute force is
    monotone in nprobe_bits and strictly improves somewhere on the
    ladder; (c) nprobe_bits=n_planes probes every bucket and IS the
    brute-force answer."""
    from solana_event_stream_spark.catalog import load_catalog
    from solana_event_stream_spark.operators.dedup import _N_PLANES
    from solana_event_stream_spark.operators.similarity import (
        _probe_masks, ann_topk_frames)
    from solana_event_stream_spark.tables import load_spread

    cat = load_catalog()
    emb = load_spread(spark, sf_dir, "embeddings")
    q_slice = _catalog_query_slice(spark, sf_dir)

    def multiprobe(bits):
        return ann_topk_frames(q_slice, emb, n_planes=_N_PLANES,
                               nprobe_bits=bits)

    def pairs(df):
        return {(r.query_id, r.neighbor_id, r.rk) for r in df.collect()}

    single = pairs(cat["ann_lsh_topk"].spark_fn(spark, sf_dir))
    brute = pairs(cat["ann_cosine_topk"].spark_fn(spark, sf_dir))
    assert pairs(multiprobe(0)) == single
    assert pairs(multiprobe(_N_PLANES)) == brute

    recalls = []
    for b in (0, 1, 2):
        got = pairs(multiprobe(b))
        recalls.append(len({p[:2] for p in got}
                           & {p[:2] for p in brute}) / len(brute))
    assert recalls == sorted(recalls)
    assert recalls[2] > recalls[0]

    # mask generator: counts and popcount bound
    masks = _probe_masks(8, 2)
    assert len(masks) == 1 + 8 + 28
    assert all(bin(m).count("1") <= 2 for m in masks)
    import pytest as _pytest
    with _pytest.raises(ValueError):
        _probe_masks(8, 9)


def test_multiprobe_plan_flat_in_masks(spark, sf_dir):
    """VERDICT r11 item 5: the probe-mask set must be DATA (one
    array<long> Literal exploded and XORed once), not one XOR Column
    per mask folded into the plan — at corpus-tracking n_planes (~20+)
    with nprobe_bits >= 3 the old form carried C(20, <=3) = 1,351
    expressions, the same plan-growth pattern the Arrow centroid
    backend removed for cells. Gate: the XOR operator appears a
    constant (tiny) number of times in the analyzed plan regardless of
    nprobe_bits, and the high-mask-count form still executes."""
    from solana_event_stream_spark.operators.similarity import (
        _probe_masks, ann_topk_frames)
    from solana_event_stream_spark.tables import load_spread

    assert len(_probe_masks(20, 3)) == 1 + 20 + 190 + 1140

    def xor_count(df):
        return df._jdf.queryExecution().analyzed().toString().count("^")

    emb = load_spread(spark, sf_dir, "embeddings")
    q_slice = _catalog_query_slice(spark, sf_dir)
    lo = ann_topk_frames(q_slice, emb, n_planes=20, nprobe_bits=1)
    hi = ann_topk_frames(q_slice, emb, n_planes=20, nprobe_bits=3)
    n_lo, n_hi = xor_count(lo), xor_count(hi)
    assert n_lo == n_hi, (n_lo, n_hi)
    assert n_hi <= 4, n_hi  # one XOR per plan (x a couple of reprints)
    # and the 1,351-mask plan actually runs (it would take minutes to
    # even construct in the per-mask-Column form)
    assert hi.count() >= 0


def test_banded_dedup_identity(spark, sf_dir):
    """n_bands=1, band_bits=8: band 0's planes are exactly the catalog
    bucket's planes, so the banded top-20 IS dedup_embedding_cosine's
    bucket_top20 part (r17: the catalog entry is the two-part battery;
    the single-bucket form stays exported for the identity)."""
    from solana_event_stream_spark.operators.dedup import (
        dedup_embedding_cosine, dedup_embedding_cosine_banded)

    single = sorted(map(tuple,
                        dedup_embedding_cosine(spark, sf_dir)
                        .collect()))
    banded = sorted(map(tuple, dedup_embedding_cosine_banded(
        spark, sf_dir, n_bands=1, band_bits=8).collect()))
    assert banded == single and banded


def _planted_corpus(spark, noise: float):
    """300 deterministic pseudo-random 16-dim vectors + 30 planted
    near-dup partners (vec_id 1000+i ~ vec_id i)."""
    def vec(i):
        return [((i * 37 + d * 101) % 997) / 498.5 - 1.0
                for d in range(16)]

    rows = [(i, vec(i)) for i in range(300)]
    for i in range(30):
        rows.append((1000 + i,
                     [x + noise * (((i + d) % 5) - 2)
                      for d, x in enumerate(vec(i))]))
    return spark.createDataFrame(rows, "vec_id long, embedding array<float>")


def test_banded_dedup_recall_on_planted_pairs(spark):
    """The reason the banded form exists: at a band width that keeps
    buckets small, a single w-bit bucket splits some true near-dup
    pairs (one flipped sign among w planes kills the match); a second
    independent-plane band recovers pairs the first splits. Band 0 ==
    the single bucket, so the banded pair set is a strict SUPERSET."""
    from solana_event_stream_spark.operators.dedup import (
        banded_cosine_pairs)

    emb = _planted_corpus(spark, noise=0.05)
    planted = {(i, 1000 + i) for i in range(30)}

    def pairs(n_bands):
        got = banded_cosine_pairs(emb, n_bands=n_bands, band_bits=16,
                                  limit=1_000_000).collect()
        return {(r.doc_a, r.doc_b) for r in got}

    p1, p2, p3 = pairs(1), pairs(2), pairs(3)
    assert p1 <= p2 <= p3
    h1, h2, h3 = (len(planted & p) for p in (p1, p2, p3))
    # deterministic corpus + deterministic md5 planes: measured ladder
    # is 17 -> 28 -> 29 of 30 (each extra independent band recovers
    # pairs a single 16-bit bucket splits)
    assert h1 < h2 <= h3, (h1, h2, h3)
    assert h2 >= 25 and h3 >= 25


def test_banded_dedup_rejects_ragged(spark):
    from solana_event_stream_spark.operators.dedup import (
        banded_cosine_pairs)

    emb = spark.createDataFrame(
        [(0, [1.0] * 16), (1, [1.0] * 8)],
        "vec_id long, embedding array<float>")
    import pytest as _pytest
    with _pytest.raises(ValueError, match="uniform-width"):
        banded_cosine_pairs(emb, n_bands=2, band_bits=8)


def test_ivf_scaled_nprobe_matches_literal_and_brute(spark, sf_dir,
                                                     monkeypatch):
    """The Arrow-scaled IVF's nprobe dial (r12): probe-cell ORDER
    matches the literal form's (cos DESC, cid ASC) total order —
    nprobe=2 results over the Arrow-assigned cells (literal or Arrow
    query probes) equal those of the literal form, and nprobe=IVF_K
    probes every cell, i.e. exact brute force."""
    from solana_event_stream_spark.catalog import load_catalog
    from solana_event_stream_spark.operators import similarity
    from solana_event_stream_spark.operators.similarity import (
        IVF_K, _norms_and_centroid_choices, ivf_cells_arrow)
    from solana_event_stream_spark.tables import load_spread

    def rows(df):
        return sorted((r.query_id, r.neighbor_id, r.rk)
                      for r in df.collect())

    cents = _norms_and_centroid_choices(spark, sf_dir)[2]
    arrow_cells = ivf_cells_arrow(load_spread(spark, sf_dir, "embeddings"),
                                  dict(enumerate(cents)))
    want = rows(_ivf_probed(spark, sf_dir, 2))
    assert rows(_ivf_probed(spark, sf_dir, 2, cells=arrow_cells)) == want
    # past the literal ceiling the query probes come from the Arrow
    # backend's probe_cells too
    monkeypatch.setattr(similarity, "IVF_LITERAL_CEILING", 0)
    assert rows(_ivf_probed(spark, sf_dir, 2, cells=arrow_cells)) == want
    monkeypatch.undo()
    brute = rows(load_catalog()["ann_cosine_topk"].spark_fn(spark, sf_dir))
    assert rows(_ivf_probed(spark, sf_dir, IVF_K, cells=arrow_cells)) \
        == brute
    import pytest as _pytest
    with _pytest.raises(ValueError, match="nprobe"):
        ivf_cells_arrow(None, {0: [1.0], 1: [0.5]}, nprobe=3)


def test_ann_topk_frames_matches_catalog_and_handles_external_queries(
        spark, sf_dir):
    """The frame-in ANN entry point (r12): with the catalog's own query
    slice it reproduces the catalog operators exactly (brute, 8-plane
    LSH, multi-probe); with EXTERNAL queries (perturbed corpus vectors
    under fresh ids, exclude_matching_ids=False) each query's top-1 is
    its source vector."""
    from solana_event_stream_spark.catalog import load_catalog
    from solana_event_stream_spark.operators.similarity import (
        N_QUERIES, ann_topk_frames)
    from solana_event_stream_spark.tables import load_spread

    cat = load_catalog()
    emb = load_spread(spark, sf_dir, "embeddings")
    q_slice = (emb.filter(F.col("vec_id") < N_QUERIES)
               .select(F.col("vec_id").alias("query_id"), "embedding"))

    def rows(df):
        return sorted((r.query_id, r.neighbor_id, r.rk)
                      for r in df.collect())

    assert rows(ann_topk_frames(q_slice, emb, method="brute")) \
        == rows(cat["ann_cosine_topk"].spark_fn(spark, sf_dir))
    assert rows(ann_topk_frames(q_slice, emb, method="lsh", n_planes=8)) \
        == rows(cat["ann_lsh_topk"].spark_fn(spark, sf_dir))

    # external query batch: 5 corpus vectors, slightly perturbed, new ids
    src = emb.filter(F.col("vec_id") < 5)
    ext = src.select(
        (F.col("vec_id") + 1_000_000).alias("query_id"),
        F.transform("embedding", lambda x: x * F.lit(1.01) + F.lit(1e-4))
        .alias("embedding"))
    got = ann_topk_frames(ext, emb, method="brute", k=1,
                          exclude_matching_ids=False).collect()
    assert {r.query_id - 1_000_000: r.neighbor_id for r in got} \
        == {i: i for i in range(5)}
    # and the LSH path finds the same top-1 (near-identical vector ->
    # same signature bucket)
    got_lsh = ann_topk_frames(ext, emb, method="lsh", n_planes=8, k=1,
                              exclude_matching_ids=False).collect()
    assert {r.query_id - 1_000_000: r.neighbor_id for r in got_lsh} \
        == {i: i for i in range(5)}

    import pytest as _pytest
    with _pytest.raises(ValueError, match="method"):
        ann_topk_frames(q_slice, emb, method="ivf")


def test_null_embedding_query_rows_are_deterministic(spark):
    """A NULL-embedding query scores NULL cosines (try_divide, never an
    ANSI error) and still returns deterministic rows: brute force ranks
    every corpus row at a NULL cosine, so the neighbor_id tie-break
    picks ids 0-4; under LSH a NULL vector folds to the all-zero
    signature, which here only the NULL-embedding corpus rows share."""
    import hashlib

    from solana_event_stream_spark.operators.similarity import (
        ann_topk_frames)

    def vec(i):
        return [int(hashlib.md5(f"nq{i}_{d}".encode()).hexdigest()[:4],
                    16) / 32767.5 - 1.0 for d in range(8)]

    corpus = spark.createDataFrame(
        [(i, vec(i)) for i in range(20)] + [(20, None), (21, None)],
        "vec_id long, embedding array<double>")
    queries = spark.createDataFrame(
        [(100, None)], "query_id long, embedding array<double>")

    def rows(**kw):
        return sorted(map(tuple, ann_topk_frames(
            queries, corpus, exclude_matching_ids=False, **kw).collect()),
            key=lambda r: r[3])

    assert rows(method="brute") == [(100, n, None, n + 1)
                                    for n in range(5)]
    assert rows(method="lsh", n_planes=8) == [(100, 20, None, 1),
                                              (100, 21, None, 2)]


def test_dedup_survivors_apply_step(spark, sf_dir):
    """dedup_survivors == corpus minus every non-canonical cluster
    member, cross-checked against a driver-side recomputation from the
    same membership frame; idempotent (a survivor set has no clusters
    to re-drop... its own re-application is identity)."""
    from solana_event_stream_spark.operators.dedup import (
        _minhash_verified_pairs, connected_components, dedup_survivors,
        docs_with_dups)

    docs = docs_with_dups(spark, sf_dir)
    memb = connected_components(_minhash_verified_pairs(docs))
    got = {r.doc_id for r in dedup_survivors(docs, memb)
           .select("doc_id").collect()}

    all_ids = {r.doc_id for r in docs.select("doc_id").collect()}
    m = {r.doc_id: r.cluster_id for r in memb.collect()}
    want = {d for d in all_ids if d not in m or m[d] == d}
    assert got == want
    assert len(got) < len(all_ids)              # something was dropped
    clusters = {v for v in m.values()}
    assert clusters <= got                      # one survivor per cluster
    # idempotent: survivors re-filtered with the same membership frame
    # lose nothing more than the already-dropped members
    again = {r.doc_id for r in dedup_survivors(
        dedup_survivors(docs, memb), memb).select("doc_id").collect()}
    assert again == got


def test_ivf_fitted_quantizer(spark, sf_dir):
    """Data-fitted IVF (r12): runs end-to-end on k-means cells, dense
    per-query ranks, full-probe degenerates to exact brute force, and
    kmeans_assign_scaled == assign on kmeans_fit_scaled centroids
    (the fit/assign split is a pure refactor)."""
    from solana_event_stream_spark.catalog import load_catalog
    from solana_event_stream_spark.operators.curation import (
        kmeans_assign_scaled, kmeans_fit_scaled, assign_arrow)
    from solana_event_stream_spark.operators.similarity import (
        IVF_K, ann_ivf_topk_frames, ivf_cells_arrow)
    from solana_event_stream_spark.tables import load_spread

    emb = load_spread(spark, sf_dir, "embeddings")
    cents = kmeans_fit_scaled(emb, k=8, iters=2)
    a = sorted(map(tuple, assign_arrow(emb, cents).collect()))
    b = sorted(map(tuple,
                   kmeans_assign_scaled(emb, k=8, iters=2).collect()))
    assert a == b

    def fitted(fit, nprobe):
        """IVF over k-means-fitted cells: the Arrow assignment of the
        corpus to kmeans_fit_scaled centroids, probed by the catalog
        query slice."""
        return ann_ivf_topk_frames(
            _catalog_query_slice(spark, sf_dir), ivf_cells_arrow(emb, fit),
            [fit[c] for c in sorted(fit)], nprobe=nprobe,
            exclude_matching_ids=True, cell_pushdown=False)

    got = fitted(cents, nprobe=2)
    by_q = {}
    for r in got.collect():
        by_q.setdefault(r.query_id, []).append(r.rk)
    assert by_q and all(sorted(v) == list(range(1, len(v) + 1))
                        for v in by_q.values())

    brute = sorted((r.query_id, r.neighbor_id, r.rk) for r in
                   load_catalog()["ann_cosine_topk"].spark_fn(
                       spark, sf_dir).collect())
    full = sorted((r.query_id, r.neighbor_id, r.rk) for r in
                  fitted(kmeans_fit_scaled(emb, k=IVF_K, iters=1),
                         nprobe=IVF_K).collect())
    assert full == brute


def test_incremental_dedup(spark, sf_dir):
    """Append-only dedup (r12): (a) cross-frame pairs equal the
    self-join pairs' cross section on a disjoint-id union; (b) the
    incremental step drops seen-near-dups and within-batch dups but
    keeps fresh docs; (c) the batch-over-batch invariant holds — after
    two increments no near-dup pair exists in the accumulated corpus."""
    from solana_event_stream_spark.operators.dedup import (
        _minhash_verified_pairs, dedup_incremental_survivors,
        dedup_pairs_cross, docs_with_dups)

    base = docs_with_dups(spark, sf_dir)
    seen = base.filter(F.col("doc_id") % 2 == 0)
    new = base.filter(F.col("doc_id") % 2 == 1)

    cross = {(r.doc_a, r.doc_b)
             for r in dedup_pairs_cross(new, seen).collect()}
    union_pairs = {(r.doc_a, r.doc_b)
                   for r in _minhash_verified_pairs(base).collect()}
    want = {(a, b) for a, b in union_pairs if (a % 2, b % 2) == (1, 0)} \
        | {(b, a) for a, b in union_pairs if (a % 2, b % 2) == (0, 1)}
    assert cross == want and cross

    surv = dedup_incremental_survivors(new, seen)
    surv_ids = {r.doc_id for r in surv.select("doc_id").collect()}
    # every survivor is clean vs seen AND vs other survivors
    flagged_vs_seen = {a for a, _ in cross}
    assert not (surv_ids & flagged_vs_seen)
    accumulated = seen.unionByName(surv)
    assert _minhash_verified_pairs(accumulated).filter(
        # seen itself contains legacy dups (docs_with_dups plants them)
        # — the invariant is about pairs INVOLVING the new survivors
        (F.col("doc_a").isin(*surv_ids))
        | (F.col("doc_b").isin(*surv_ids))).count() == 0


def test_embedding_incremental_dedup(spark):
    """Vector analog of the append-only dedup: a new batch drops
    near-copies of the seen corpus, keeps one of a within-batch dup
    pair (min vec_id), keeps fresh vectors; seen is never re-paired."""
    import hashlib

    from solana_event_stream_spark.operators.dedup import (
        embedding_incremental_survivors, embedding_pairs_cross)

    def vec(i):
        # md5-derived: uncorrelated across ids (a linear-congruential
        # family here is near-PERIODIC — vec(i) ~ vec(i+27) — which
        # made every "fresh" id a true near-dup of the seen corpus)
        return [int(hashlib.md5(f"{i}_{d}".encode()).hexdigest()[:4],
                    16) / 32767.5 - 1.0 for d in range(16)]

    def near(v):
        return [x + 0.001 for x in v]

    seen = spark.createDataFrame(
        [(i, vec(i)) for i in range(50)],
        "vec_id long, embedding array<float>")
    new = spark.createDataFrame(
        [(1000, near(vec(7))),          # near-copy of seen 7 -> dropped
         (1001, vec(300)),              # fresh -> kept
         (1002, near(vec(400))),        # dup pair within batch:
         (1003, near(near(vec(400)))),  #   1002 kept, 1003 dropped
         ], "vec_id long, embedding array<float>")

    cross = {(r.doc_a, r.doc_b) for r in
             embedding_pairs_cross(new, seen, n_planes=8,
                                   tau=0.95).collect()}
    assert (1000, 7) in cross
    assert not any(a in (1001, 1002, 1003) for a, _ in cross)

    surv = {r.vec_id for r in embedding_incremental_survivors(
        new, seen, n_planes=8, tau=0.95).collect()}
    assert surv == {1001, 1002}


def test_embedding_incremental_within_batch_recall_at_high_planes(spark):
    """ADVICE r12: the within-batch pass must not inherit the SEEN
    corpus' plane count as a single band — at ~24 bits a cosine-0.96
    within-batch pair survives a single band with ~p^24 and the
    invariant 'no two near-dups in the corpus' silently erodes. The
    fixed form (multi-band, batch-scaled bits) finds the pair this
    exact scenario plants; the old form demonstrably missed it
    (single 24-bit band: zero candidate pairs on these vectors)."""
    import hashlib
    import math

    from pyspark.sql import functions as F

    from solana_event_stream_spark.operators.dedup import (
        banded_cosine_pairs, embedding_incremental_survivors)

    def vec(i):
        return [int(hashlib.md5(f"{i}_{d}".encode()).hexdigest()[:4],
                    16) / 32767.5 - 1.0 for d in range(16)]

    def mix(v, w, a):
        n1 = math.sqrt(sum(x * x for x in v))
        n2 = math.sqrt(sum(x * x for x in w))
        return [x / n1 * (1 - a) + y / n2 * a for x, y in zip(v, w)]

    base = vec(400)
    b2 = mix(base, vec(401), 0.22)          # cosine(base, b2) ~ 0.959
    seen = spark.createDataFrame(
        [(i, vec(i)) for i in range(50)],
        "vec_id long, embedding array<float>")
    new = spark.createDataFrame(
        [(1000, [x + 0.001 for x in vec(7)]),  # near-copy of seen 7
         (1001, vec(300)),                     # fresh
         (1002, base),                         # within-batch dup pair
         (1003, b2)],
        "vec_id long, embedding array<float>")

    # the failure mode on record: ONE band at the seen-tracking width
    # has no candidate for the planted pair
    old_form = (banded_cosine_pairs(new, n_bands=1, band_bits=24,
                                    limit=None)
                .filter(F.col("cosine") >= 0.9).collect())
    assert old_form == []
    surv = sorted(r.vec_id for r in embedding_incremental_survivors(
        new, seen, n_planes=24, tau=0.9).collect())
    assert surv == [1001, 1002]


def test_width_census_tracks_appended_files(spark, tmp_path):
    """VERDICT r12 item 1 (the staleness hole): the census memo is
    keyed on a DATA VERSION (input-file digest), not the plan hash
    alone — a path re-read after the directory gained a ragged file
    must re-probe and hand the ragged row the expression-form
    signature, NOT the stale uniform corpus' literal fold (whose
    zip_with NULL-padding collapses other-width rows to the all-zero
    signature)."""
    from solana_event_stream_spark.operators.dedup import (
        bucket_col_for, embedding_width_census, spark_sign_expr)

    path = str(tmp_path / "emb")
    uniform = spark.createDataFrame(
        [(i, [((i * 31 + d * 17) % 19 - 9) / 3.0 for d in range(8)])
         for i in range(20)], "vec_id long, embedding array<float>")
    uniform.write.parquet(path)

    first = spark.read.parquet(path)
    assert set(embedding_width_census(first)) == {8}
    # uniform corpus: one-width census -> bare literal form, whose
    # signature matches the expression form on every row
    lit_sig = {r.vec_id: r.b for r in first.select(
        "vec_id", bucket_col_for(first, 8).alias("b")).collect()}
    expr_sig = {r.vec_id: r.b for r in first.select(
        "vec_id", F.expr(spark_sign_expr(8)).alias("b")).collect()}
    assert lit_sig == expr_sig

    # the append-only lake shape: same path gains a ragged-width file
    spark.createDataFrame(
        [(999, [1.0, -2.0, 3.0])], "vec_id long, embedding array<float>"
    ).write.mode("append").parquet(path)

    second = spark.read.parquet(path)
    census = embedding_width_census(second)
    assert set(census) == {8, 3}, (
        "stale census: the re-read after append must re-probe")
    got = {r.vec_id: r.b for r in second.select(
        "vec_id", bucket_col_for(second, 8).alias("b")).collect()}
    want = {r.vec_id: r.b for r in second.select(
        "vec_id", F.expr(spark_sign_expr(8)).alias("b")).collect()}
    assert got == want
    # the ragged row's signature is the real expression-form value,
    # not the all-zero literal-fold artifact
    assert got[999] == want[999]
    assert want[999] != 0

    # the ORIGINAL frame's entry stays valid: its scan is pinned to
    # the pre-append file list, and its memo key differs
    assert set(embedding_width_census(first)) == {8}


def test_frames_lsh_plans_with_zero_actions_given_width_and_rows(
        spark, sf_dir, monkeypatch):
    """VERDICT r12 item 5: with ``width=`` and ``corpus_rows=`` the
    serving entry point must plan WITHOUT any pre-query action — no
    ``corpus.count()``, no census collect. Enforced by making every
    DataFrame action explode during plan construction."""
    from pyspark.sql import DataFrame

    from solana_event_stream_spark.operators.similarity import (
        N_QUERIES, ann_topk_frames)
    from solana_event_stream_spark.tables import load_spread

    emb = load_spread(spark, sf_dir, "embeddings")
    q = (emb.filter(F.col("vec_id") < N_QUERIES)
         .select(F.col("vec_id").alias("query_id"), "embedding"))

    def _boom(self, *a, **k):
        raise AssertionError("pre-query action fired on the "
                             "width=+corpus_rows= serving path")

    with monkeypatch.context() as m:
        for action in ("count", "collect", "toLocalIterator", "head"):
            m.setattr(DataFrame, action, _boom)
        planned = ann_topk_frames(q, emb, method="lsh", width=64,
                                  corpus_rows=500, nprobe_bits="auto")
        planned_expl = ann_topk_frames(q, emb, method="lsh", width=64,
                                       n_planes=8)
    # outside the patch both plans execute; the auto plan agrees with
    # the explicit-bits form at the same derived setting
    from solana_event_stream_spark.operators.similarity import (
        auto_nprobe_bits)
    bits = auto_nprobe_bits(8, 500)
    want = sorted((r.query_id, r.neighbor_id, r.rk) for r in
                  ann_topk_frames(q, emb, method="lsh", n_planes=8,
                                  nprobe_bits=bits).collect())
    got = sorted((r.query_id, r.neighbor_id, r.rk)
                 for r in planned.collect())
    assert got == want and got
    assert planned_expl.count() > 0


def test_frames_incomparable_id_dtypes_raise(spark, sf_dir):
    """ADVICE r12: string query ids vs long corpus ids under the
    default exclude_matching_ids=True used to implicit-cast the
    predicate to NULL and silently return zero rows — now a loud
    ValueError pointing at exclude_matching_ids=False."""
    import pytest as _pytest

    from solana_event_stream_spark.operators.similarity import (
        ann_topk_frames)
    from solana_event_stream_spark.tables import load_spread

    emb = load_spread(spark, sf_dir, "embeddings")
    ext = (emb.filter(F.col("vec_id") < 3)
           .select(F.concat(F.lit("q_"), F.col("vec_id"))
                   .alias("query_id"), "embedding"))
    with _pytest.raises(ValueError, match="exclude_matching_ids"):
        ann_topk_frames(ext, emb, method="brute")
    # the documented external-id path works
    got = ann_topk_frames(ext, emb, method="brute", k=1,
                          exclude_matching_ids=False).collect()
    assert {r.query_id: r.neighbor_id for r in got} \
        == {f"q_{i}": i for i in range(3)}


def test_auto_nprobe_recall_at_high_plane_count(spark, sf_dir):
    """VERDICT r12 item 6: at n_planes=16 (far past this corpus'
    corpus-tracking count) ``nprobe_bits="auto"`` must recover at
    least the bits=3 rung of the recall ladder — the documented
    relationship (excess planes -> probe mass) encoded as a default —
    with the plan still flat in the mask count."""
    from solana_event_stream_spark.catalog import load_catalog
    from solana_event_stream_spark.operators.similarity import (
        ann_topk_frames, auto_nprobe_bits)
    from solana_event_stream_spark.tables import load_spread

    # closed-form checks: a corpus big enough for its plane count has
    # no excess -> 0 bits; this 500-row corpus at 16 planes -> enough
    # bits that C(16, <=b) >= 2^excess
    assert auto_nprobe_bits(8, 64 << 8) == 0
    bits = auto_nprobe_bits(16, 500)
    assert bits >= 3

    def pairs(df):
        return {(r.query_id, r.neighbor_id) for r in df.collect()}

    brute = pairs(load_catalog()["ann_cosine_topk"].spark_fn(
        spark, sf_dir))
    emb = load_spread(spark, sf_dir, "embeddings")
    q_slice = _catalog_query_slice(spark, sf_dir)

    def recall(b):
        got = pairs(ann_topk_frames(q_slice, emb, n_planes=16,
                                    nprobe_bits=b))
        return len(got & brute) / len(brute)

    r0, r3, r_auto = recall(0), recall(3), recall("auto")
    assert r_auto >= r3
    # the auto setting actually buys recall at this plane count: a
    # strict improvement over the collapsed single-probe rung
    assert r_auto > r0, (bits, r0, r_auto)


def test_ann_serving_stream_over_maintained_corpus(spark, tmp_path):
    """r15 serving loop: an availableNow query stream answered against
    the maintained (quantized) embedding corpus must equal the direct
    ann_topk_frames_quantized call per batch, and a float-corpus loop
    must equal ann_topk_frames; results land batch-id-named."""
    import hashlib

    from pyspark.sql import functions as F

    from solana_event_stream_spark.operators.dedup_index import (
        apply_embedding_maintenance_batch, create_embedding_index,
        load_maintained_corpus)
    from solana_event_stream_spark.operators.similarity import (
        ann_topk_frames, ann_topk_frames_quantized,
        start_ann_serving_stream)

    def vec(i):
        return [int(hashlib.md5(f"sv{i}_{d}".encode()).hexdigest()[:4],
                    16) / 32767.5 - 1.0 for d in range(8)]

    corpus_rows = [(i, vec(i)) for i in range(50)]
    emb = spark.createDataFrame(corpus_rows,
                                "vec_id long, embedding array<double>")
    cdir, idir = str(tmp_path / "c"), str(tmp_path / "i")
    create_embedding_index(idir, n_planes=6, width=8, n_bands=2)
    assert apply_embedding_maintenance_batch(
        spark, emb, 0, cdir, idir, quantize_corpus=True)

    qrows = [(100 + i, vec(i)) for i in range(4)]
    qdir = tmp_path / "queries"
    qdir.mkdir()
    (spark.createDataFrame(qrows, "query_id long, embedding array<double>")
     .coalesce(1).write.parquet(str(qdir / "q0.parquet")))

    odir = str(tmp_path / "out")
    stream = (spark.readStream
              .schema("query_id long, embedding array<double>")
              .parquet(str(qdir) + "/*"))
    q = start_ann_serving_stream(
        stream, cdir, idir, odir, str(tmp_path / "ckpt"),
        k=3, available_now=True, method="brute")
    q.awaitTermination(120)

    got = {(r.query_id, r.neighbor_id, r.rk)
           for r in spark.read.parquet(odir + "/batch=0").collect()}
    qcorpus = load_maintained_corpus(
        spark, cdir, idir,
        empty_schema="vec_id long, scale double, q array<tinyint>")
    queries = spark.createDataFrame(
        qrows, "query_id long, embedding array<double>")
    want = {(r.query_id, r.neighbor_id, r.rk)
            for r in ann_topk_frames_quantized(
                queries, qcorpus, k=3, method="brute",
                exclude_matching_ids=False).collect()}
    assert got == want and len(got) == 12

    # float-corpus loop serves through ann_topk_frames
    cdir2, idir2 = str(tmp_path / "c2"), str(tmp_path / "i2")
    create_embedding_index(idir2, n_planes=6, width=8, n_bands=2)
    assert apply_embedding_maintenance_batch(spark, emb, 0, cdir2, idir2)
    odir2 = str(tmp_path / "out2")
    stream2 = (spark.readStream
               .schema("query_id long, embedding array<double>")
               .parquet(str(qdir) + "/*"))
    q2 = start_ann_serving_stream(
        stream2, cdir2, idir2, odir2, str(tmp_path / "ckpt2"),
        k=3, available_now=True, method="brute")
    q2.awaitTermination(120)
    corpus_f = load_maintained_corpus(spark, cdir2, idir2,
                                      empty_schema="vec_id long, "
                                      "embedding array<double>")
    want2 = {(r.query_id, r.neighbor_id, r.rk)
             for r in ann_topk_frames(
                 queries, corpus_f, k=3, method="brute",
                 exclude_matching_ids=False).collect()}
    got2 = {(r.query_id, r.neighbor_id, r.rk)
            for r in spark.read.parquet(odir2 + "/batch=0").collect()}
    assert got2 == want2

    # wrong index kind is loud
    import pytest

    from solana_event_stream_spark.operators.dedup_index import (
        create_minhash_index)
    from solana_event_stream_spark.operators.similarity import (
        apply_ann_serving_batch)
    create_minhash_index(str(tmp_path / "mh"))
    with pytest.raises(ValueError, match="embedding index"):
        apply_ann_serving_batch(spark, queries, 0, cdir,
                                str(tmp_path / "mh"), odir)


def test_ann_serving_rerank_uses_float_tier(spark, tmp_path):
    """VERDICT r15 item 1, done-criteria: rerank_m through the serving
    stream re-scores against the maintained FLOAT tier — recall@k >=
    0.98 vs the exact float brute-force, returned cosines are the
    EXACT float-tier scores (not code-domain reconstructions), and the
    quantized-only / float-corpus misuses raise instead of silently
    burning a corpus scan on a mathematically inert re-rank."""
    import hashlib

    from solana_event_stream_spark.operators.dedup_index import (
        apply_embedding_maintenance_batch, create_embedding_index,
        load_float_tier)
    from solana_event_stream_spark.operators.similarity import (
        ann_topk_frames, apply_ann_serving_batch,
        start_ann_serving_stream)

    def vec(i):
        return [int(hashlib.md5(f"rr{i}_{d}".encode()).hexdigest()[:4],
                    16) / 32767.5 - 1.0 for d in range(16)]

    emb = spark.createDataFrame([(i, vec(i)) for i in range(80)],
                                "vec_id long, embedding array<double>")
    cdir, idir = str(tmp_path / "c"), str(tmp_path / "i")
    create_embedding_index(idir, n_planes=6, width=16, n_bands=2)
    assert apply_embedding_maintenance_batch(
        spark, emb, 0, cdir, idir, quantize_corpus=True,
        keep_float_tier=True)

    qrows = [(1000 + i, vec(i)) for i in range(5)]
    queries = spark.createDataFrame(
        qrows, "query_id long, embedding array<double>")
    qdir = tmp_path / "q"
    qdir.mkdir()
    queries.coalesce(1).write.parquet(str(qdir / "q0.parquet"))
    odir = str(tmp_path / "out")
    stream = (spark.readStream
              .schema("query_id long, embedding array<double>")
              .parquet(str(qdir) + "/*"))
    q = start_ann_serving_stream(
        stream, cdir, idir, odir, str(tmp_path / "ckpt"),
        k=5, rerank_m=20, available_now=True, method="brute")
    q.awaitTermination(120)
    got = spark.read.parquet(odir + "/batch=0").collect()

    tier = load_float_tier(spark, cdir, idir)
    exact = ann_topk_frames(queries, tier, k=5, method="brute",
                            exclude_matching_ids=False)
    want = {(r.query_id, r.neighbor_id): r.cosine
            for r in exact.collect()}
    hits = sum((r.query_id, r.neighbor_id) in want for r in got)
    assert hits / len(want) >= 0.98
    for r in got:                  # shared pairs score EXACT float
        if (r.query_id, r.neighbor_id) in want:
            assert abs(r.cosine - want[(r.query_id, r.neighbor_id)]) \
                < 1e-12

    # quantized-only corpus: loud, mirroring the library guard
    import pytest

    cdir2, idir2 = str(tmp_path / "c2"), str(tmp_path / "i2")
    create_embedding_index(idir2, n_planes=6, width=16, n_bands=2)
    assert apply_embedding_maintenance_batch(
        spark, emb, 0, cdir2, idir2, quantize_corpus=True)
    with pytest.raises(ValueError, match="keep_float_tier"):
        apply_ann_serving_batch(spark, queries, 0, cdir2, idir2,
                                str(tmp_path / "o2"), rerank_m=20,
                                method="brute")
    # float corpus: rerank is a no-op there too — loud
    cdir3, idir3 = str(tmp_path / "c3"), str(tmp_path / "i3")
    create_embedding_index(idir3, n_planes=6, width=16, n_bands=2)
    assert apply_embedding_maintenance_batch(spark, emb, 0, cdir3,
                                             idir3)
    with pytest.raises(ValueError, match="no-op"):
        apply_ann_serving_batch(spark, queries, 0, cdir3, idir3,
                                str(tmp_path / "o3"), rerank_m=20,
                                method="brute")
    # rerank_m < k is loud before any work
    with pytest.raises(ValueError, match="rerank_m"):
        apply_ann_serving_batch(spark, queries, 0, cdir, idir,
                                str(tmp_path / "o4"), k=9, rerank_m=5,
                                method="brute")


def test_ann_serving_rerank_attach_is_candidate_pruned(spark, tmp_path):
    """Scan evidence for the serving re-rank: the float-tier attach
    goes through _restrict_to_candidates, so with a bounded
    id-clustered candidate set the COMPACTED tier scan reads ~the
    candidate row groups, not the corpus (the isin point-lookup
    shape; per-trigger dirs are batch-sized and scatter-partitioned —
    the id-clustered fold is where pruning pays, same story as the
    verify tier); the serving batch's output equals the same
    composition built by hand."""
    import hashlib

    from solana_event_stream_spark.operators.dedup_index import (
        _compact_meta_dirs, _restrict_to_candidates,
        apply_embedding_maintenance_batch, create_embedding_index,
        float_tier_path, load_float_tier, open_dedup_index)
    from solana_event_stream_spark.operators.similarity import (
        _exact_rerank, ann_topk_frames, apply_ann_serving_batch)

    def vec(i):
        return [int(hashlib.md5(f"cp{i}_{d}".encode()).hexdigest()[:4],
                    16) / 32767.5 - 1.0 for d in range(8)]

    # ids laid out monotonically -> sortWithinPartitions keeps the
    # float batch id-clustered per file; ids < 48 are planted NEAR the
    # three queries (and only those), so every query's top-12 lands in
    # the FIRST range file — the clustered-candidate shape row-group
    # pruning pays off on (spread candidates read every file, pruned
    # or not; that case is the semi-join's anyway)
    def row(i):
        if i < 48:
            base = vec(9000 + i % 3)
            return (i, [a + 0.15 * b for a, b in zip(base, vec(i))])
        return (i, vec(i))

    cdir, idir = str(tmp_path / "c"), str(tmp_path / "i")
    create_embedding_index(idir, n_planes=10, width=8, n_bands=2)
    for b in range(2):
        emb = spark.createDataFrame(
            [row(b * 1000 + i) for i in range(1000)],
            "vec_id long, embedding array<double>")
        assert apply_embedding_maintenance_batch(
            spark, emb, b, cdir, idir, tau=0.999, quantize_corpus=True,
            keep_float_tier=True)
    store = open_dedup_index(idir)
    _compact_meta_dirs(spark, float_tier_path(cdir), store,
                       "float_batches", "float_compact_seq",
                       n_files=8, order_col="vec_id")

    queries = spark.createDataFrame(
        [(9000 + i, vec(9000 + i)) for i in range(3)],
        "query_id long, embedding array<double>")
    tier = load_float_tier(spark, cdir, idir)
    n_tier = tier.count()
    qcorpus = spark.read.parquet(cdir + "/batch=0", cdir + "/batch=1")
    corpus = qcorpus.selectExpr(
        "vec_id", "cast(q as array<double>) as embedding")
    cand = (ann_topk_frames(queries, corpus, k=12, method="brute",
                            exclude_matching_ids=False)
            .select("query_id", "neighbor_id").localCheckpoint())

    def tier_scan_rows(df):
        # the float tier is the ONLY FileScan in the re-rank plan
        # (queries and candidates are in-memory frames); matching the
        # path would be fragile — leaf.toString() truncates Location
        # metadata at spark.sql.maxMetadataStringLength
        df.collect()
        ep = df._jdf.queryExecution().executedPlan()
        leaves = ep.collectLeaves()
        total, found = 0, False
        for i in range(leaves.length()):
            leaf = leaves.apply(i)
            if ("FileScan" in leaf.toString()
                    and leaf.metrics().contains("numOutputRows")):
                total += int(leaf.metrics()
                             .apply("numOutputRows").value())
                found = True
        if not found:
            raise AssertionError("float tier scan not in plan leaves")
        return total

    prev = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        doc_b = cand.select(F.col("neighbor_id").alias("doc_b"))
        pruned = tier_scan_rows(_exact_rerank(
            cand, queries,
            _restrict_to_candidates(tier, doc_b, "vec_id", 4096),
            k=5))
        full = tier_scan_rows(_exact_rerank(
            cand, queries,
            _restrict_to_candidates(tier, doc_b, "vec_id", None),
            k=5))
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", prev)
    assert full == n_tier
    assert pruned <= 400, pruned   # ~the first range file, not 2000
    # and the serving batch itself returns this composition's answer
    dest = apply_ann_serving_batch(
        spark, queries, 0, cdir, idir, str(tmp_path / "o"),
        k=5, rerank_m=12, method="brute")
    got = {(r.query_id, r.neighbor_id, r.rk)
           for r in spark.read.parquet(dest).collect()}
    want = {(r.query_id, r.neighbor_id, r.rk)
            for r in _exact_rerank(cand, queries, tier, k=5).collect()}
    assert got == want


def test_quantized_rerank_coverage_check_is_loud(spark):
    """ADVICE r15: the re-rank attach is an inner join — a candidate
    missing from exact_corpus silently vanishes (documented contract);
    check_coverage=True turns the first uncovered candidate into a
    loud error instead."""
    import hashlib

    import pytest

    from solana_event_stream_spark.operators.similarity import (
        ann_topk_frames_quantized, quantize_embeddings_int8)

    def vec(i):
        return [int(hashlib.md5(f"cc{i}_{d}".encode()).hexdigest()[:4],
                    16) / 32767.5 - 1.0 for d in range(8)]

    emb = spark.createDataFrame([(i, vec(i)) for i in range(40)],
                                "vec_id long, embedding array<double>")
    qcorpus = quantize_embeddings_int8(emb).localCheckpoint()
    queries = spark.createDataFrame(
        [(100, vec(0)), (101, vec(1))],
        "query_id long, embedding array<double>")
    partial = emb.filter(F.col("vec_id") >= 35)   # misses most ids
    with pytest.raises(ValueError, match="does not cover"):
        ann_topk_frames_quantized(
            queries, qcorpus, rerank_m=10, exact_corpus=partial,
            check_coverage=True, method="brute",
            exclude_matching_ids=False).collect()
    # without the check the contract stands: silent under-return
    thin = ann_topk_frames_quantized(
        queries, qcorpus, rerank_m=10, exact_corpus=partial,
        method="brute", exclude_matching_ids=False)
    assert thin.count() < 10              # fewer than 2 queries x k
    # full coverage passes the check and returns k per query
    full = ann_topk_frames_quantized(
        queries, qcorpus, rerank_m=10, exact_corpus=emb,
        check_coverage=True, method="brute",
        exclude_matching_ids=False)
    assert full.count() == 10


def test_ivf_serving_over_maintained_corpus(spark, tmp_path):
    """r16 IVF serving tier: an embedding index that pins
    ivf_centroids stamps every survivor's nearest-centroid cell onto
    the (cell, vec_id)-clustered corpus; method='ivf' serving probes
    nprobe cells. Probing ALL cells equals brute exactly; nprobe=2
    keeps recall high; rerank_m composes; the streaming entry point
    serves it; misuse (ivf without pinned centroids) is loud."""
    import hashlib

    import pytest

    from solana_event_stream_spark.operators.dedup_index import (
        apply_embedding_maintenance_batch, create_embedding_index)
    from solana_event_stream_spark.operators.similarity import (
        ann_topk_frames, apply_ann_serving_batch,
        start_ann_serving_stream)

    W = 8

    def vec(i):
        return [int(hashlib.md5(f"iv{i}_{d}".encode()).hexdigest()[:4],
                    16) / 32767.5 - 1.0 for d in range(W)]

    cents = [vec(70_000 + j) for j in range(4)]
    cdir, idir = str(tmp_path / "c"), str(tmp_path / "i")
    create_embedding_index(idir, n_planes=8, width=W, n_bands=2,
                           ivf_centroids=cents)
    for b in range(2):
        emb = spark.createDataFrame(
            [(b * 1000 + i, vec(b * 1000 + i)) for i in range(300)],
            "vec_id long, embedding array<double>")
        assert apply_embedding_maintenance_batch(
            spark, emb, b, cdir, idir, quantize_corpus=True,
            keep_float_tier=True, compact_every=2 if b == 1 else None)
    corp = spark.read.parquet(cdir + "/compact=0")
    assert "cell" in corp.columns
    assert (sorted(r.cell for r in corp.select("cell")
                   .distinct().collect()) == [0, 1, 2, 3])

    queries = spark.createDataFrame(
        [(9000 + i, vec(i)) for i in range(5)],
        "query_id long, embedding array<double>")
    fcorp = corp.selectExpr("vec_id",
                            "cast(q as array<double>) as embedding")
    want = {(r.query_id, r.neighbor_id, r.rk)
            for r in ann_topk_frames(queries, fcorp, k=5,
                                     method="brute",
                                     exclude_matching_ids=False)
            .collect()}
    # nprobe = all cells == brute, exactly
    dest = apply_ann_serving_batch(spark, queries, 0, cdir, idir,
                                   str(tmp_path / "o"), k=5,
                                   method="ivf", nprobe=4)
    got = {(r.query_id, r.neighbor_id, r.rk)
           for r in spark.read.parquet(dest).collect()}
    assert got == want and len(got) == 25
    # nprobe=2 of 4: the recall dial
    dest1 = apply_ann_serving_batch(spark, queries, 1, cdir, idir,
                                    str(tmp_path / "o1"), k=5,
                                    method="ivf", nprobe=2)
    got1 = {(r.query_id, r.neighbor_id)
            for r in spark.read.parquet(dest1).collect()}
    assert len(got1 & {(a, b) for a, b, _ in want}) / len(want) >= 0.8
    # rerank composes on the IVF candidate path (float-tier scores)
    dest2 = apply_ann_serving_batch(spark, queries, 2, cdir, idir,
                                    str(tmp_path / "o2"), k=5,
                                    rerank_m=15, method="ivf", nprobe=4)
    rr = spark.read.parquet(dest2).collect()
    assert len(rr) == 25
    exact_cos = {(r.query_id, r.neighbor_id): r.cosine
                 for r in ann_topk_frames(
                     queries, spark.createDataFrame(
                         [(b * 1000 + i, vec(b * 1000 + i))
                          for b in range(2) for i in range(300)],
                         "vec_id long, embedding array<double>"),
                     k=600, method="brute",
                     exclude_matching_ids=False).collect()}
    for r in rr:                 # re-ranked cosines are exact float
        key = (r.query_id, r.neighbor_id)
        if key in exact_cos:
            assert abs(r.cosine - exact_cos[key]) < 1e-12
    # streaming entry point serves ivf too
    qdir = tmp_path / "q"
    qdir.mkdir()
    queries.coalesce(1).write.parquet(str(qdir / "q0.parquet"))
    stream = (spark.readStream
              .schema("query_id long, embedding array<double>")
              .parquet(str(qdir) + "/*"))
    sq = start_ann_serving_stream(
        stream, cdir, idir, str(tmp_path / "so"),
        str(tmp_path / "ck"), k=5, available_now=True,
        method="ivf", nprobe=4)
    sq.awaitTermination(120)
    sgot = {(r.query_id, r.neighbor_id, r.rk) for r in
            spark.read.parquet(str(tmp_path / "so") + "/batch=0")
            .collect()}
    assert sgot == want
    # guards: no pinned centroids; empty query batch answers empty
    cdir3, idir3 = str(tmp_path / "c3"), str(tmp_path / "i3")
    create_embedding_index(idir3, n_planes=8, width=W, n_bands=2)
    with pytest.raises(ValueError, match="ivf_centroids"):
        apply_ann_serving_batch(spark, queries, 0, cdir3, idir3,
                                str(tmp_path / "o3"), k=5,
                                method="ivf")
    q0 = spark.createDataFrame([], "query_id long, "
                               "embedding array<double>")
    d0 = apply_ann_serving_batch(spark, q0, 3, cdir, idir,
                                 str(tmp_path / "o"), k=5,
                                 method="ivf", nprobe=2)
    assert spark.read.parquet(d0).count() == 0


def test_ivf_cell_pushdown_prunes_corpus_scan(spark, tmp_path):
    """Scan evidence for the IVF serving read: on the compacted
    (cell, vec_id)-clustered corpus, probing 1 of 4 cells reads ~that
    cell's row groups (cell_pushdown's isin reaches the parquet
    stats); cell_pushdown=False scans everything but returns the
    identical answer."""
    import hashlib

    from solana_event_stream_spark.operators.dedup_index import (
        apply_embedding_maintenance_batch, create_embedding_index)
    from solana_event_stream_spark.operators.similarity import (
        ann_ivf_topk_frames)

    W = 8

    def vec(i):
        return [int(hashlib.md5(f"pv{i}_{d}".encode()).hexdigest()[:4],
                    16) / 32767.5 - 1.0 for d in range(W)]

    cents = [vec(80_000 + j) for j in range(4)]
    cdir, idir = str(tmp_path / "c"), str(tmp_path / "i")
    create_embedding_index(idir, n_planes=8, width=W, n_bands=2,
                           ivf_centroids=cents)
    for b in range(2):
        emb = spark.createDataFrame(
            [(b * 10_000 + i, vec(b * 10_000 + i))
             for i in range(1000)],
            "vec_id long, embedding array<double>")
        assert apply_embedding_maintenance_batch(
            spark, emb, b, cdir, idir, quantize_corpus=True,
            compact_every=2 if b == 1 else None)
    corp = (spark.read.parquet(cdir + "/compact=0")
            .selectExpr("cell", "vec_id",
                        "cast(q as array<double>) as embedding"))
    n_rows = corp.count()
    # one query sitting AT centroid 0 probes exactly cell 0
    queries = spark.createDataFrame(
        [(1, cents[0])], "query_id long, embedding array<double>")

    def corpus_scan_rows(df):
        df.collect()
        leaves = (df._jdf.queryExecution().executedPlan()
                  .collectLeaves())
        total, found = 0, False
        for i in range(leaves.length()):
            leaf = leaves.apply(i)
            if ("FileScan" in leaf.toString()
                    and leaf.metrics().contains("numOutputRows")):
                total += int(leaf.metrics()
                             .apply("numOutputRows").value())
                found = True
        if not found:
            raise AssertionError("corpus scan not in plan leaves")
        return total

    prev = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        pushed = corpus_scan_rows(ann_ivf_topk_frames(
            queries, corp, cents, nprobe=1, k=5))
        full = corpus_scan_rows(ann_ivf_topk_frames(
            queries, corp, cents, nprobe=1, k=5,
            cell_pushdown=False))
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", prev)
    assert full == n_rows
    cell0 = corp.filter(F.col("cell") == 0).count()
    assert pushed <= cell0 + n_rows / 4, (pushed, cell0, n_rows)
    # identical answers either way
    a = sorted(tuple(r) for r in ann_ivf_topk_frames(
        queries, corp, cents, nprobe=1, k=5).collect())
    b = sorted(tuple(r) for r in ann_ivf_topk_frames(
        queries, corp, cents, nprobe=1, k=5,
        cell_pushdown=False).collect())
    assert a == b and len(a) == 5


def test_ivf_cell_col_matches_arrow_assignment(spark):
    """Differential: the serving tier's literal-fold cell assignment
    (ivf_cell_col — python-side centroid norms, Spark-fold dots) must
    agree with the established Arrow backend (ivf_cells_arrow — NumPy
    matmul) on every vector, including ones equidistant-ish between
    centroids; ties resolve to the smallest cid in both."""
    import hashlib

    from solana_event_stream_spark.operators.similarity import (
        ivf_cell_col, ivf_cells_arrow)

    W = 8

    def vec(i):
        return [int(hashlib.md5(f"da{i}_{d}".encode()).hexdigest()[:4],
                    16) / 32767.5 - 1.0 for d in range(W)]

    cents = [vec(50_000 + j) for j in range(6)]
    emb = spark.createDataFrame(
        [(i, vec(i)) for i in range(400)]
        + [(9_000 + j, cents[j]) for j in range(6)],   # AT centroids
        "vec_id long, embedding array<double>")
    lit = {r.vec_id: r.cell for r in emb.select(
        "vec_id", ivf_cell_col(cents).alias("cell")).collect()}
    arrow = {r.vec_id: r.cell for r in ivf_cells_arrow(
        emb, {j: c for j, c in enumerate(cents)}).collect()}
    assert lit == arrow
    for j in range(6):             # a vector AT centroid j lands in j
        assert lit[9_000 + j] == j


def test_ivf_zero_norm_query_is_deterministic_not_crash(spark):
    """A zero-norm query vector under IVF: centroid cosines are NULL
    (try_divide), the probe order is deterministic, scoring yields
    NULL cosines, and nothing raises — consistent with the engine's
    zero-norm policy everywhere else (r15's try_divide sweep)."""
    import hashlib

    from solana_event_stream_spark.operators.similarity import (
        ann_ivf_topk_frames, ivf_cell_col)

    W = 8

    def vec(i):
        return [int(hashlib.md5(f"zn{i}_{d}".encode()).hexdigest()[:4],
                    16) / 32767.5 - 1.0 for d in range(W)]

    cents = [vec(60_000 + j) for j in range(3)]
    corpus = spark.createDataFrame(
        [(i, vec(i)) for i in range(30)],
        "vec_id long, embedding array<double>")
    corpus = corpus.select("vec_id", "embedding",
                           ivf_cell_col(cents).alias("cell"))
    queries = spark.createDataFrame(
        [(1, [0.0] * W), (2, vec(5))],
        "query_id long, embedding array<double>")
    a = ann_ivf_topk_frames(queries, corpus, cents, nprobe=2,
                            k=3).collect()
    b = ann_ivf_topk_frames(queries, corpus, cents, nprobe=2,
                            k=3).collect()
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))
    zero = [r for r in a if r.query_id == 1]
    real = [r for r in a if r.query_id == 2]
    assert all(r.cosine is None for r in zero)
    assert len(real) == 3 and all(r.cosine is not None for r in real)


def test_ivf_maintenance_arrow_backend_above_literal_ceiling(
        spark, tmp_path):
    """A deployment-sized coarse quantizer (n_cells ~ sqrt(corpus))
    crosses the literal-expression ceiling, so the maintenance loop's
    cell stamping switches to the Arrow backend past k x dims > 4096.
    The committed cells must equal the literal fold's on every
    survivor, and a zero-norm survivor (it never pairs, so it DOES
    survive) takes cell 0 on both backends instead of crashing the
    Arrow path."""
    import hashlib

    from solana_event_stream_spark.operators.dedup_index import (
        apply_embedding_maintenance_batch, create_embedding_index)
    from solana_event_stream_spark.operators.similarity import (
        ivf_cell_col)

    W = 16

    def vec(i):
        return [int(hashlib.md5(f"ac{i}_{d}".encode()).hexdigest()[:4],
                    16) / 32767.5 - 1.0 for d in range(W)]

    cents = [vec(90_000 + j) for j in range(300)]   # 4800 > 4096
    cdir, idir = str(tmp_path / "c"), str(tmp_path / "i")
    create_embedding_index(idir, n_planes=8, width=W, n_bands=2,
                           ivf_centroids=cents)
    rows = [(i, vec(i)) for i in range(200)] + [(999, [0.0] * W)]
    emb = spark.createDataFrame(rows,
                                "vec_id long, embedding array<double>")
    assert apply_embedding_maintenance_batch(
        spark, emb, 0, cdir, idir, quantize_corpus=True)
    corp = spark.read.parquet(cdir + "/batch=0")
    got = {r.vec_id: r.cell for r in
           corp.select("vec_id", "cell").collect()}
    assert got[999] == 0                       # zero-norm -> cell 0
    want = {r.vec_id: r.cell for r in emb.filter("vec_id != 999")
            .select("vec_id", ivf_cell_col(cents).alias("cell"))
            .collect()}
    for vid, c in want.items():
        if vid in got:                         # survivors only
            assert got[vid] == c, (vid, got[vid], c)
    assert len(set(got.values())) > 20         # cells genuinely spread


def test_ivf_query_probe_arrow_backend_parity(spark, tmp_path):
    """Query-side twin of the maintenance ceiling switch: past
    k x dims > 4096 literals, ann_ivf_topk_frames derives probe cells
    through the Arrow backend (joined back by id so scoring keeps
    float64). Probe lists must equal the literal fold's per query;
    nprobe=all still equals brute exactly; nprobe=1 works through the
    slice; a zero-norm query probes cells [0..nprobe-1] with NULL
    cosines, no crash."""
    import hashlib

    from solana_event_stream_spark.operators.dedup_index import (
        apply_embedding_maintenance_batch, create_embedding_index)
    from solana_event_stream_spark.operators.similarity import (
        ann_ivf_topk_frames, ann_topk_frames, ivf_probe_cells_col)

    W = 16

    def vec(i):
        return [int(hashlib.md5(f"qp{i}_{d}".encode()).hexdigest()[:4],
                    16) / 32767.5 - 1.0 for d in range(W)]

    cents = [vec(91_000 + j) for j in range(300)]   # 4800 > 4096
    cdir, idir = str(tmp_path / "c"), str(tmp_path / "i")
    create_embedding_index(idir, n_planes=8, width=W, n_bands=2,
                           ivf_centroids=cents)
    emb = spark.createDataFrame([(i, vec(i)) for i in range(150)],
                                "vec_id long, embedding array<double>")
    assert apply_embedding_maintenance_batch(spark, emb, 0, cdir, idir)
    corp = spark.read.parquet(cdir + "/batch=0")
    queries = spark.createDataFrame(
        [(9000 + i, vec(9000 + i)) for i in range(4)]
        + [(9999, [0.0] * W)],
        "query_id long, embedding array<double>")

    # probe-list parity vs the literal fold (finite-norm queries)
    lit = {r.query_id: list(r.pc) for r in
           queries.filter("query_id != 9999").select(
               "query_id",
               ivf_probe_cells_col(cents, 3).alias("pc")).collect()}
    got3 = ann_ivf_topk_frames(queries, corp, cents, nprobe=3, k=4)
    # derive probed cells from the result's neighbors' cells
    cell_of = {r.vec_id: r.cell for r in
               corp.select("vec_id", "cell").collect()}
    res = got3.collect()
    for qid, pcs in lit.items():
        used = {cell_of[r.neighbor_id] for r in res
                if r.query_id == qid}
        assert used <= set(pcs), (qid, used, pcs)
    # zero-norm query: rows come back NULL-scored from cells 0..2
    zrows = [r for r in res if r.query_id == 9999]
    assert all(r.cosine is None for r in zrows)
    assert all(cell_of[r.neighbor_id] in (0, 1, 2) for r in zrows)
    # nprobe=1 (the slice path) runs; nprobe=all == brute exactly
    assert ann_ivf_topk_frames(queries, corp, cents, nprobe=1,
                               k=4).count() > 0
    want = {(r.query_id, r.neighbor_id, r.rk) for r in ann_topk_frames(
        queries.filter("query_id != 9999"),
        corp.select("vec_id", "embedding"), k=4, method="brute",
        exclude_matching_ids=False).collect()}
    full = {(r.query_id, r.neighbor_id, r.rk) for r in
            ann_ivf_topk_frames(
                queries.filter("query_id != 9999"), corp, cents,
                nprobe=len(cents), k=4).collect()}
    assert full == want


def test_ivf_null_embedding_rows_survive_both_backends(spark,
                                                       tmp_path):
    """NULL-embedding handling around the IVF cell backends
    (ADVICE r16). Maintenance side: a NULL embedding can never reach
    the stamping branch — the survivors computation's width census
    rejects mixed/NULL corpora LOUDLY first (pinned here, so the zz
    NULL-routing in the stamping branch stays defense-in-depth, not a
    live data path). Query side (reachable — queries are not deduped):
    a NULL-embedding query above the literal ceiling must probe cells
    [0..nprobe-1] with NULL cosines like the zero-norm case, instead
    of silently vanishing from the Arrow path."""
    import hashlib

    import pytest

    from solana_event_stream_spark.operators.dedup_index import (
        apply_embedding_maintenance_batch, create_embedding_index)
    from solana_event_stream_spark.operators.similarity import (
        ann_ivf_topk_frames)

    W = 16

    def vec(i):
        return [int(hashlib.md5(f"nu{i}_{d}".encode()).hexdigest()[:4],
                    16) / 32767.5 - 1.0 for d in range(W)]

    schema = "vec_id long, embedding array<double>"
    finite = [(i, vec(i)) for i in range(50)]
    with_null = spark.createDataFrame(
        finite + [(998, None), (999, [0.0] * W)], schema)
    emb = spark.createDataFrame(finite + [(999, [0.0] * W)], schema)

    # Arrow backend (300 x 16 = 4800 > 4096 literals)
    big = [vec(92_000 + j) for j in range(300)]
    ca, ia = str(tmp_path / "ca"), str(tmp_path / "ia")
    create_embedding_index(ia, n_planes=8, width=W, n_bands=2,
                           ivf_centroids=big)
    # NULL rows are rejected loudly BEFORE stamping, on both backends
    with pytest.raises(ValueError, match="width census"):
        apply_embedding_maintenance_batch(
            spark, with_null, 0, ca, ia, quantize_corpus=True)
    assert apply_embedding_maintenance_batch(
        spark, emb, 0, ca, ia, quantize_corpus=True)
    arrow_cells = {r.vec_id: r.cell for r in spark.read.parquet(
        ca + "/batch=0").select("vec_id", "cell").collect()}
    assert arrow_cells.get(999) == 0        # zero-norm -> cell 0

    # query side above the ceiling: NULL-embedding query returns
    # NULL-cosine rows from cells [0..nprobe-1], not zero rows
    # (quantized corpus has no embedding col; rebuild a float corpus)
    corp = emb.filter("vec_id < 50").join(
        spark.read.parquet(ca + "/batch=0").select("vec_id", "cell"),
        "vec_id")
    queries = spark.createDataFrame(
        [(9000, vec(9000)), (9998, None)],
        "query_id long, embedding array<double>")
    res = ann_ivf_topk_frames(queries, corp, big, nprobe=2,
                              k=3).collect()
    cell_of = {r.vec_id: r.cell for r in
               corp.select("vec_id", "cell").collect()}
    nrows = [r for r in res if r.query_id == 9998]
    assert nrows, "NULL-embedding query vanished from the Arrow path"
    assert all(r.cosine is None for r in nrows)
    assert all(cell_of[r.neighbor_id] in (0, 1) for r in nrows)


def test_serving_floor_warning_fires_once_below_threshold(spark,
                                                          tmp_path):
    """VERDICT r16 item 7: the serving stream surfaces its own sizing
    guidance — the first NON-EMPTY trigger below
    min_queries_per_trigger flips the one-time floor warning (read
    from the stream's own progress, no counting job); a stream whose
    triggers meet the threshold never warns; None disables the
    listener entirely."""
    import hashlib as _h

    from solana_event_stream_spark.operators.dedup_index import (
        apply_embedding_maintenance_batch, create_embedding_index)
    from solana_event_stream_spark.operators.similarity import (
        start_ann_serving_stream)

    def vec(i):
        return [int(_h.md5(f"fw{i}_{d}".encode()).hexdigest()[:4],
                    16) / 32767.5 - 1.0 for d in range(8)]

    emb = spark.createDataFrame([(i, vec(i)) for i in range(30)],
                                "vec_id long, embedding array<double>")
    cdir, idir = str(tmp_path / "c"), str(tmp_path / "i")
    create_embedding_index(idir, n_planes=6, width=8, n_bands=2)
    assert apply_embedding_maintenance_batch(spark, emb, 0, cdir, idir)

    qdir = tmp_path / "q"
    qdir.mkdir()
    (spark.createDataFrame([(100, vec(1)), (101, vec(2))],
                           "query_id long, embedding array<double>")
     .coalesce(1).write.parquet(str(qdir / "q0.parquet")))

    def run(tag, **kw):
        stream = (spark.readStream
                  .schema("query_id long, embedding array<double>")
                  .parquet(str(qdir) + "/*"))
        q = start_ann_serving_stream(
            stream, cdir, idir, str(tmp_path / f"out{tag}"),
            str(tmp_path / f"ckpt{tag}"), k=3, available_now=True,
            method="brute", **kw)
        q.awaitTermination(120)
        return q

    # 2 queries < threshold 64 -> warns once, with the actionable text
    import time as _time

    q = run("a", min_queries_per_trigger=64)
    floor = q._serving_floor_listener
    deadline = _time.time() + 30     # listener delivery is async
    while not floor.warned and _time.time() < deadline:
        _time.sleep(0.2)
    assert floor.warned and "64" in floor.detail \
        and "maxFilesPerTrigger" in floor.detail
    # threshold met -> silent
    q = run("b", min_queries_per_trigger=2)
    assert not q._serving_floor_listener.warned
    # disabled -> no listener attached at all
    q = run("c", min_queries_per_trigger=None)
    assert not hasattr(q, "_serving_floor_listener")


def test_ivf_nprobe_for_recall_calibrates_on_sample(spark):
    """The IVF recall dial's offline calibration: doubling-ladder
    nprobe until recall@k on a query sample meets the target against
    brute truth. Pinned on a 4-cluster fixture where nprobe=1 is
    lossy for off-axis queries (true neighbors straddle two cells)
    but nprobe=2 recovers them; target 1.0 is always reachable
    because nprobe=all == brute exactly."""
    import math

    import pytest

    from solana_event_stream_spark.operators.similarity import (
        ivf_cell_col, ivf_nprobe_for_recall)

    cents = [[1.0, 0, 0, 0], [0, 1.0, 0, 0],
             [0, 0, 1.0, 0], [0, 0, 0, 1.0]]

    def vec(j, n=64):
        # points fanned BETWEEN the e_{axis} and e_{axis+1} axes so
        # each point's near neighbors straddle the two cells
        axis = j % 4
        t = (j // 4) / (n // 4) * (math.pi / 2)
        v = [0.0] * 4
        v[axis] = math.cos(t) + 1.0
        v[(axis + 1) % 4] = math.sin(t) + 0.2
        return v

    corpus = spark.createDataFrame(
        [(j, vec(j)) for j in range(64)],
        "vec_id long, embedding array<double>")
    corpus = corpus.withColumn("cell", ivf_cell_col(cents))
    sample = spark.createDataFrame(
        [(900 + j, vec(j)) for j in range(0, 64, 7)],
        "query_id long, embedding array<double>")

    out = ivf_nprobe_for_recall(sample, corpus, cents,
                                target_recall=0.95, k=5)
    assert out["recall"] >= 0.95
    assert out["nprobe"] in (2, 4)            # 1 is lossy here
    assert [n for n, _ in out["ladder"]] == sorted(
        {n for n, _ in out["ladder"]})        # doubling, monotone
    rs = [r for _, r in out["ladder"]]
    assert all(b >= a - 1e-9 for a, b in zip(rs, rs[1:]))
    # target 1.0 reachable: the last rung is exact
    exact = ivf_nprobe_for_recall(sample, corpus, cents,
                                  target_recall=1.0, k=5)
    assert exact["recall"] == 1.0 and exact["nprobe"] <= 4
    with pytest.raises(ValueError, match="target_recall"):
        ivf_nprobe_for_recall(sample, corpus, cents, target_recall=0)


def test_serving_method_auto_resolves_measured_crossover(spark,
                                                         tmp_path):
    """VERDICT r17 item 2: method='auto' encodes the measured LSH/IVF
    serving crossover. Pure-rule half pins the BENCH_NOTES r17 matrix
    points on BOTH sides of the crossover; integration half proves a
    trigger resolves ivf past the thresholds (bit-identical to an
    explicit method='ivf' run), lsh below them (bit-identical to the
    explicit default run), that corpus size rides the manifest for
    free (corpus_seen_rows), and that auto_recall_target calibrates
    nprobe once per quantizer generation."""
    import hashlib

    from solana_event_stream_spark.operators.dedup_index import (
        apply_embedding_maintenance_batch, create_embedding_index,
        open_dedup_index)
    from solana_event_stream_spark.operators import similarity as S
    from solana_event_stream_spark.operators.similarity import (
        apply_ann_serving_batch, resolve_serving_method)

    # --- pure rule: the measured 3x3 matrix decades (sqrt-corpus
    # quantizers), winners exactly as BENCH_NOTES r17 recorded them
    assert resolve_serving_method(707, 500_000, 16) == "ivf"     # 1.88x
    assert resolve_serving_method(707, 500_000, 256) == "ivf"    # 1.34x
    assert resolve_serving_method(707, 500_000, 2_048) == "lsh"  # sat.
    assert resolve_serving_method(71, 5_000, 16) == "lsh"        # floor
    assert resolve_serving_method(224, 50_000, 16) == "lsh"      # ~tie
    assert resolve_serving_method(224, 50_000, 2_048) == "lsh"
    # degenerate inputs: no quantizer / unknown corpus size -> lsh
    assert resolve_serving_method(0, 500_000, 16) == "lsh"
    assert resolve_serving_method(707, None, 16) == "lsh"

    # --- integration over a real maintained corpus (16-cell quantizer
    # so q=5 x nprobe=2 = 10 <= 0.75*16 clears the union budget)
    W = 8

    def vec(i):
        return [int(hashlib.md5(f"au{i}_{d}".encode()).hexdigest()[:4],
                    16) / 32767.5 - 1.0 for d in range(W)]

    cents = [vec(70_000 + j) for j in range(16)]
    cdir, idir = str(tmp_path / "c"), str(tmp_path / "i")
    create_embedding_index(idir, n_planes=8, width=W, n_bands=2,
                           ivf_centroids=cents)
    for b in range(2):
        emb = spark.createDataFrame(
            [(b * 1000 + i, vec(b * 1000 + i)) for i in range(300)],
            "vec_id long, embedding array<double>")
        assert apply_embedding_maintenance_batch(
            spark, emb, b, cdir, idir, quantize_corpus=True,
            keep_float_tier=True)
    store = open_dedup_index(idir)
    from solana_event_stream_spark.operators.dedup_index import (
        load_maintained_corpus)
    n_corpus = load_maintained_corpus(
        spark, cdir, idir, empty_schema="vec_id long").count()
    # the manifest carries the corpus size for free, accumulated by
    # the Observation riding each trigger's corpus write
    assert store.meta["corpus_seen_rows"] == n_corpus

    queries = spark.createDataFrame(
        [(9000 + i, vec(i)) for i in range(5)],
        "query_id long, embedding array<double>")
    S._AUTO_ROWS_CACHE.clear()
    S._AUTO_NPROBE_CACHE.clear()

    # ivf side: corpus clears the (test-sized) floor, union fits
    d_auto = apply_ann_serving_batch(
        spark, queries, 0, cdir, idir, str(tmp_path / "oa"), k=5,
        method="auto", auto_min_corpus=100, nprobe=2)
    assert S._AUTO_LAST_DECISION["method"] == "ivf"
    assert S._AUTO_LAST_DECISION["corpus_rows"] == n_corpus
    assert S._AUTO_LAST_DECISION["n_queries"] == 5
    d_ivf = apply_ann_serving_batch(
        spark, queries, 1, cdir, idir, str(tmp_path / "oi"), k=5,
        method="ivf", nprobe=2)
    got_a = {tuple(r) for r in spark.read.parquet(d_auto).collect()}
    assert got_a == {tuple(r)
                     for r in spark.read.parquet(d_ivf).collect()}
    assert len(got_a) == 25

    # lsh side 1: same corpus, default min_corpus (100k) -> the
    # fixture corpus is decades below the measured crossover
    d_auto2 = apply_ann_serving_batch(
        spark, queries, 2, cdir, idir, str(tmp_path / "ob"), k=5,
        method="auto", nprobe=2)
    assert S._AUTO_LAST_DECISION["method"] == "lsh"
    d_lsh = apply_ann_serving_batch(
        spark, queries, 3, cdir, idir, str(tmp_path / "ol"), k=5)
    assert ({tuple(r) for r in spark.read.parquet(d_auto2).collect()}
            == {tuple(r) for r in spark.read.parquet(d_lsh).collect()})

    # lsh side 2: big trigger saturates the quantizer even past the
    # corpus floor (q x nprobe = 34 > 0.75 * 16)
    big_q = spark.createDataFrame(
        [(9500 + i, vec(100 + i)) for i in range(17)],
        "query_id long, embedding array<double>")
    apply_ann_serving_batch(
        spark, big_q, 4, cdir, idir, str(tmp_path / "oc"), k=5,
        method="auto", auto_min_corpus=100, nprobe=2)
    assert S._AUTO_LAST_DECISION["method"] == "lsh"

    # recall target: nprobe calibrated through the doubling ladder,
    # cached per quantizer generation (second call hits the cache)
    d_cal = apply_ann_serving_batch(
        spark, queries, 5, cdir, idir, str(tmp_path / "od"), k=5,
        method="auto", auto_min_corpus=100, auto_recall_target=1.0)
    assert S._AUTO_LAST_DECISION["method"] == "ivf"
    np1 = S._AUTO_LAST_DECISION["nprobe"]
    assert 1 <= np1 <= 16 and len(S._AUTO_NPROBE_CACHE) == 1
    d_full = apply_ann_serving_batch(
        spark, queries, 6, cdir, idir, str(tmp_path / "oe"), k=5,
        method="ivf", nprobe=16)
    # target 1.0 must reproduce the exact full-probe answer
    assert ({tuple(r) for r in spark.read.parquet(d_cal).collect()}
            == {tuple(r) for r in spark.read.parquet(d_full).collect()})
    apply_ann_serving_batch(
        spark, queries, 7, cdir, idir, str(tmp_path / "of"), k=5,
        method="auto", auto_min_corpus=100, auto_recall_target=1.0)
    assert len(S._AUTO_NPROBE_CACHE) == 1      # no re-ladder
    assert S._AUTO_LAST_DECISION["nprobe"] == np1

    # manifests predating corpus_seen_rows: the resolver falls back
    # to ONE count job, cached per committed batch list
    store = open_dedup_index(idir)
    del store.meta["corpus_seen_rows"]
    store._write_manifest()
    S._AUTO_ROWS_CACHE.clear()
    apply_ann_serving_batch(
        spark, queries, 8, cdir, idir, str(tmp_path / "og"), k=5,
        method="auto", auto_min_corpus=100, nprobe=2)
    assert S._AUTO_LAST_DECISION["method"] == "ivf"
    assert S._AUTO_LAST_DECISION["corpus_rows"] == n_corpus
    assert list(S._AUTO_ROWS_CACHE.values()) == [n_corpus]
