"""Similarity search over the `embeddings` table (array<float> column).

Every search form ends in ONE scorer, :func:`_score_topk`: broadcast the
query features, join them to the corpus features on an optional
blocking key (plus the self-match exclusion), score exact cosine with
an ordered-fold dot product, keep the bounded two-phase per-query top-k
(:func:`_topk_per_query`). The forms differ only in how they block:

- brute force (``ann_cosine_topk``, ``ann_topk_frames(method="brute")``):
  no key — the correctness baseline, every corpus row is scored;
- LSH (``ann_lsh_topk``, ``ann_topk_frames(method="lsh")``):
  deterministic random-hyperplane signatures (md5-derived weights) as
  the bucket key; the frame form adds corpus-tracking plane counts and
  the multi-probe ``nprobe_bits`` recall dial;
- IVF (``ann_ivf_topk``, ``ann_ivf_topk_frames``): the nearest coarse
  centroid as the cell key — a literal-centroid argmax fold, or the
  Arrow matmul backend (``ivf_cells_arrow``) for quantizers past
  ``IVF_LITERAL_CEILING``, with the ``nprobe`` recall dial on the query
  side.

The catalog queries are the oracle-pinned fixed-slice forms (queries =
vec_id < N_QUERIES); ``ann_topk_frames`` / ``ann_ivf_topk_frames`` are
the deployment entry points over arbitrary query and corpus frames, and
the streaming serving loop at the bottom of this module answers
micro-batches through them. At 100 TB the query side stays a broadcast
(no shuffle except the final per-query heads) and the blocked forms
make the candidate join key-based. All math uses ordered folds
(bitwise deterministic across Spark/DuckDB — see operators/dedup.py).
"""

from __future__ import annotations

import hashlib

from pyspark.sql import DataFrame, functions as F
from pyspark.sql.window import Window

from ..catalog import register
from ..tables import load_spread
from .dedup import _SPARK_DOT, _SQL_DOT, _SQL_SIGN

N_QUERIES = 10
TOP_K = 5
IVF_K = 8           # coarse-quantizer cells
IVF_CENTROID_BASE = 100  # vec_ids used as deterministic centroids
# n_cells x dims above which IVF cell assignment / query-probe
# derivation switches from the literal Catalyst fold to the Arrow
# matmul backend. The r16 value (4096) guarded only against plan-size
# FAILURE; the r17 serving-crossover A/B showed the literal plan's
# per-call BUILD cost bites far earlier: at 3,584 literals (224 cells
# x 16 dims) the literal probe pays a constant ~2 s vs Arrow
# (4.7 -> 2.5 s triggers), while at 1,136 literals the backends tie
# (BENCH_NOTES r17). The switch now sits at the measured-equal point;
# the catalog's small fixed quantizers (IVF_K x 64 = 512) stay
# literal, keeping their oracle-pinned plans.
IVF_LITERAL_CEILING = 1024
TOPK_SALTS = 32     # phase-1 reduce fan-out of the two-phase top-k


def _topk_per_query(scored: DataFrame, k: int = TOP_K) -> DataFrame:
    """Bounded two-phase per-query top-k.

    A single ``Window.partitionBy("query_id")`` funnels every scored
    candidate into one reducer partition per query — with a small query
    batch that is a handful of reducers swallowing the whole candidate
    set. Phase 1 ranks within (query_id, salt) — ``n_queries x
    TOPK_SALTS`` bounded reduce keys — and keeps only each salt group's
    top-k (a deterministic neighbor-id hash salt, stable under retries).
    Phase 2 re-ranks the surviving ``<= n_queries x TOPK_SALTS x k``
    rows, a trivially small exchange. The global top-k is invariant:
    every global winner is also a winner inside its salt group.
    """
    salt = F.pmod(F.xxhash64("neighbor_id"), F.lit(TOPK_SALTS))
    order = [F.desc("cosine"), F.asc("neighbor_id")]
    w1 = Window.partitionBy("query_id", "_salt").orderBy(*order)
    partial = (scored.withColumn("_salt", salt)
               .withColumn("_prk", F.row_number().over(w1))
               .filter(F.col("_prk") <= k)
               .drop("_salt", "_prk"))
    w2 = Window.partitionBy("query_id").orderBy(*order)
    return (partial.withColumn("rk", F.row_number().over(w2))
            .filter(F.col("rk") <= k))


def _norm() -> F.Column:
    """sqrt of the ordered-fold self dot of the current row's
    ``embedding`` — the vector norm every scorer input carries."""
    return F.sqrt(F.expr(_SPARK_DOT.format(a="embedding", b="embedding")))


def _score_topk(queries: DataFrame, corpus: DataFrame, k: int = TOP_K,
                key: str | None = None, key_never_null: bool = False,
                exclude_self: bool = True,
                broadcast: bool = True) -> DataFrame:
    """The one ANN scorer: ``queries`` (query_id, q_emb, q_nrm
    [, q_<key>]) joined to ``corpus`` (vec_id, embedding, nrm[, <key>])
    on ``q_<key> = <key>`` (when a blocking key is given) and
    ``query_id != vec_id`` (when ``exclude_self``), in that order, then
    exact cosine and the per-query top-k. Returns (query_id,
    neighbor_id, cosine, rk <= k). ``broadcast`` hints the query side.

    ``key_never_null`` joins the key with ``<=>`` instead of ``=``
    (r19): a plain equi-join makes
    InferFiltersFromConstraints inject isnotnull(<key>) below the
    corpus-side projection, and a COMPUTED key is then evaluated twice
    per corpus row (once in the inferred Filter, once in the Project
    that emits the column) — for the catalog IVF cell, the k x dims
    argmax fold that dominates the query. Declare it only for keys that
    are provably never NULL (that fold's cid is an array index over a
    literal centroid array: NULL/short embeddings yield NULL cosines,
    but the argmax still returns a struct with a literal cid), where
    the inferred filter keeps every row and ``<=>`` is row-for-row
    identical to ``=``; the join stays a broadcast hash join
    (EqualNullSafe is an equi-key for ExtractEquiJoinKeys). Keys that
    can be NULL keep ``=``, so a NULL key never matches."""
    cond = None
    if key is not None:
        q_key, c_key = F.col(f"q_{key}"), F.col(key)
        cond = q_key.eqNullSafe(c_key) if key_never_null else q_key == c_key
    if exclude_self:
        ne = F.col("query_id") != F.col("vec_id")
        cond = ne if cond is None else cond & ne
    if broadcast:
        queries = F.broadcast(queries)
    return _cosine_topk(
        queries.join(corpus, F.lit(True) if cond is None else cond), k)


def _cosine_topk(pairs: DataFrame, k: int) -> DataFrame:
    """Exact cosine of each (query_id, q_emb, q_nrm) x (vec_id,
    embedding, nrm) pair, then the per-query top-k — the tail shared by
    :func:`_score_topk` and :func:`_exact_rerank`. ``try_divide``: a
    zero-norm or NULL vector scores a NULL cosine (never an ANSI 0/0)
    and ranks last."""
    dot = F.expr(_SPARK_DOT.format(a="q_emb", b="embedding"))
    return _topk_per_query(
        pairs.select("query_id", F.col("vec_id").alias("neighbor_id"),
                     F.try_divide(dot, F.col("q_nrm") * F.col("nrm"))
                     .alias("cosine")), k)


def _catalog_queries(feats: DataFrame, key: str | None = None) -> DataFrame:
    """The catalog forms' fixed query slice (vec_id < N_QUERIES) of a
    (vec_id, embedding, nrm[, <key>]) frame, renamed to the scorer's
    query features."""
    cols = [F.col("vec_id").alias("query_id"),
            F.col("embedding").alias("q_emb"), F.col("nrm").alias("q_nrm")]
    if key is not None:
        cols.append(F.col(key).alias(f"q_{key}"))
    return feats.filter(F.col("vec_id") < N_QUERIES).select(*cols)


@register(
    "ann_cosine_topk",
    oracle=f"""
    WITH norms AS (
      SELECT vec_id, embedding,
             sqrt({_SQL_DOT.format(a='embedding', b='embedding')}) AS nrm
      FROM embeddings),
    queries AS (SELECT * FROM norms WHERE vec_id < {N_QUERIES}),
    scored AS (
      SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
             {_SQL_DOT.format(a='q.embedding', b='c.embedding')}
               / (q.nrm * c.nrm) AS cosine
      FROM queries q JOIN norms c ON q.vec_id != c.vec_id),
    ranked AS (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                 ORDER BY cosine DESC, neighbor_id) AS rk
      FROM scored)
    SELECT query_id, neighbor_id, cosine, rk FROM ranked WHERE rk <= {TOP_K}
    """,
    tags=("similarity", "llm-data", "ann"),
    doc="Brute-force cosine top-k (baseline): broadcast query set, rank "
        "all candidates per query.",
)
def ann_cosine_topk(spark, sf_dir: str) -> DataFrame:
    emb = load_spread(spark, sf_dir, "embeddings")
    norms = emb.select("vec_id", "embedding", _norm().alias("nrm"))
    return _score_topk(_catalog_queries(norms), norms)


# Deterministic hyperplanes shared with operators/dedup.py
# (dedup_embedding_cosine blocks on the same buckets): weight(plane p,
# dim d) = +1 if the md5-derived hex nibble is even else -1.


@register(
    "ann_lsh_topk",
    oracle=f"""
    WITH sigs AS (
      SELECT vec_id, embedding,
             sqrt({_SQL_DOT.format(a='embedding', b='embedding')}) AS nrm,
             {_SQL_SIGN} AS bucket
      FROM embeddings),
    queries AS (SELECT * FROM sigs WHERE vec_id < {N_QUERIES}),
    scored AS (
      SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
             {_SQL_DOT.format(a='q.embedding', b='c.embedding')}
               / (q.nrm * c.nrm) AS cosine
      FROM queries q JOIN sigs c
        ON q.bucket = c.bucket AND q.vec_id != c.vec_id),
    ranked AS (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                 ORDER BY cosine DESC, neighbor_id) AS rk
      FROM scored)
    SELECT query_id, neighbor_id, cosine, rk FROM ranked WHERE rk <= {TOP_K}
    """,
    tags=("similarity", "llm-data", "ann", "lsh"),
    doc="LSH-bucketed ANN (scale path): 8 deterministic random-hyperplane "
        "bits -> bucket equi-join -> rank candidates only.",
)
def ann_lsh_topk(spark, sf_dir: str) -> DataFrame:
    from .dedup import _N_PLANES, bucket_col_for

    emb = load_spread(spark, sf_dir, "embeddings")
    sigs = emb.select("vec_id", "embedding", _norm().alias("nrm"),
                      bucket_col_for(emb, _N_PLANES).alias("bucket"))
    return _score_topk(_catalog_queries(sigs, "bucket"), sigs, key="bucket")


def _probe_masks(n_planes: int, nprobe_bits: int) -> list[int]:
    """All signature XOR masks with popcount <= nprobe_bits, ascending —
    the standard multi-probe LSH perturbation set (probe the home
    bucket, then every bucket within Hamming distance nprobe_bits)."""
    from itertools import combinations

    if not 0 <= nprobe_bits <= n_planes:
        raise ValueError(
            f"nprobe_bits must be in [0, {n_planes}], got {nprobe_bits}")
    masks = [0]
    for r in range(1, nprobe_bits + 1):
        masks += [sum(1 << b for b in bits)
                  for bits in combinations(range(n_planes), r)]
    return sorted(masks)


def auto_nprobe_bits(n_planes: int, corpus_rows: int,
                     target_bucket_size: int = 64) -> int:
    """The documented plane-count/recall relationship as a default
    (VERDICT r12 item 6): when a query runs MORE planes than the
    corpus-tracking count (``dedup.scaled_n_planes``), each excess
    plane halves the home bucket's expected population — and with it
    the candidate mass a single probe sees, which is exactly the
    recall collapse the sf1.0 ladder measured at n_planes=16. Probing
    the ~2^excess nearest buckets restores the candidate mass the
    scaled setting would have had, so the smallest ``b`` with
    C(n_planes, <=b) >= 2^excess is the bit count that buys recall
    back at bounded cost: probes x expected bucket population
    ~ 2^excess x corpus/2^n_planes = corpus/2^scaled
    ~ target_bucket_size per query — the scaled setting's single
    bucket, paid as many small probes. excess <= 0 -> 0 bits (the
    home bucket already holds ~target candidates). Mask sets are
    nested in ``b``, so a larger auto answer never loses a smaller
    setting's candidates."""
    import math
    from math import comb

    scaled = max(0, math.ceil(math.log2(
        max(corpus_rows, 1) / max(target_bucket_size, 1))))
    excess = n_planes - scaled
    if excess <= 0:
        return 0
    need = 1 << excess
    total = 0
    for b in range(n_planes + 1):
        total += comb(n_planes, b)
        if total >= need:
            return b
    return n_planes


def _ivf_cells(spark, sf_dir: str) -> DataFrame:
    """Assign every vector to its nearest coarse centroid — zero-exchange.

    The 8 centroids are collected to the driver (8 rows — the standard
    k-means-style pattern; at 100 TB the coarse quantizer is still tiny)
    and folded into literal arrays, so the assignment is a NARROW
    projection: per centroid an ordered-fold dot product (bitwise
    identical to the oracle's list_reduce), then an argmax fold over the
    8 (cosine, cent_id) structs with strict-> so exact ties keep the
    smallest cent_id — the same total order as the previous
    ROW_NUMBER(ORDER BY cosine DESC, cent_id) form, without its full
    corpus hash exchange.
    """
    norms, choices, _ = _norms_and_centroid_choices(spark, sf_dir)
    return norms.select("vec_id", "embedding", "nrm",
                        _nearest_cid(choices, IVF_K).alias("cell"))


def _nearest_cid(choices: F.Column, n_cells: int) -> F.Column:
    """The cid of the max-cosine struct in an array<struct<cos, cid>>
    of per-centroid choices: strict ``>`` keeps the smallest cid on
    exact ties (and the first cid when every cosine is NULL, so the
    result is never NULL)."""
    return F.aggregate(
        F.slice(choices, 2, n_cells - 1), F.element_at(choices, 1),
        lambda acc, c: F.when(c["cos"] > acc["cos"], c).otherwise(acc)
    )["cid"]


def _norms_and_centroid_choices(spark, sf_dir: str):
    """Shared coarse-quantizer setup: the normalized corpus frame, ONE
    array<struct<cos, cid>> Column of per-centroid choices against the
    current row's embedding, and the centroid vectors as float lists
    (cent_id == list index — the ``centroids`` argument of
    :func:`ann_ivf_topk_frames`; ``dict(enumerate(...))`` for
    :func:`ivf_cells_arrow`). The IVF_K centroids are the corpus
    vectors vec_id IVF_CENTROID_BASE.. collected driver-side (the
    standard k-means-style pattern) and ride as a single
    array<array<double>> literal under one ``F.transform`` lambda (r12
    — same plan-build cut as curation._assign; the cosine fold
    arithmetic is unchanged, so values stay bitwise identical and the
    oracle pins them)."""
    emb = load_spread(spark, sf_dir, "embeddings")
    norms = emb.select("vec_id", "embedding", _norm().alias("nrm"))
    cent_rows = sorted(
        norms.filter(
            (F.col("vec_id") >= IVF_CENTROID_BASE)
            & (F.col("vec_id") < IVF_CENTROID_BASE + IVF_K)).collect(),
        key=lambda r: r.vec_id)
    if len(cent_rows) != IVF_K:
        raise ValueError(
            f"IVF coarse quantizer expects exactly {IVF_K} centroid "
            f"vectors (vec_id {IVF_CENTROID_BASE}.."
            f"{IVF_CENTROID_BASE + IVF_K - 1}) in the corpus; found "
            f"{len(cent_rows)} — cell assignment would be wrong")
    # cent_id == array index: cent_rows are the exact-count-checked
    # contiguous vec_ids BASE..BASE+IVF_K-1 sorted ascending.
    # One parsed SQL fragment instead of ~600 nested Column calls
    # (r18, guide §7.3): each PySpark Column op is a py4j round-trip
    # and this builder runs once per ann_ivf invocation; the parsed
    # tree is the same transform/zip_with/aggregate fold in the same
    # IEEE order (double literals round-trip exactly through repr),
    # so cell assignments stay bitwise identical — the oracle pins it.
    from .curation import _sql_double_array_array, _sql_double_literal
    cents = [[float(x) for x in r.embedding] for r in cent_rows]
    cents_sql = _sql_double_array_array(cents)
    cnrm_sql = "array(" + ", ".join(
        _sql_double_literal(r.nrm) for r in cent_rows) + ")"
    choices = F.expr(
        f"transform({cents_sql}, (c, i) -> named_struct("
        "'cos', aggregate(zip_with(embedding, c, "
        "(x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)), "
        "CAST(0.0 AS DOUBLE), (acc, v) -> acc + v) "
        f"/ (nrm * element_at({cnrm_sql}, i + 1)), "
        "'cid', i))")
    return norms, choices, cents


def ivf_cells_arrow(emb: DataFrame,
                    centroids: dict[int, list[float]],
                    nprobe: int = 1) -> DataFrame:
    """The corpus-tracking-cells form of :func:`_ivf_cells`: same
    (vec_id, embedding, nrm, cell) output and the same
    max-cosine/ties-to-smallest-cid rule, but the centroids ship as ONE
    broadcast ndarray and each Arrow batch takes a single matmul —
    plan size constant in the cell count, so the coarse quantizer can
    grow past the literal form's k x dims expression ceiling (same
    backend as curation.assign_arrow; differential-tested against the
    literal form in tests/test_curation.py). Norms are float64 NumPy
    sums — they can differ from the Spark fold in low-order bits, so
    the oracle-pinned catalog entry keeps the literal form.

    ``nprobe > 1`` (r12) adds a ``probe_cells`` array column: the
    nprobe nearest cells by cosine DESC with ties to the smallest cid
    (same total order as ivf_probe_cells_col's array_sort) — the
    standard IVF recall dial, on the backend whose cell count actually
    scales. Corpus rows still keep their single ``cell``; only the
    query side explodes ``probe_cells``."""
    import numpy as np
    import pyarrow as pa

    from .curation import _centroid_matrix

    cids, cmat = _centroid_matrix(centroids)
    if not 1 <= nprobe <= len(cids):
        raise ValueError(f"nprobe must be in [1, {len(cids)}], "
                         f"got {nprobe}")
    dims = cmat.shape[1]
    bc = emb.sparkSession.sparkContext.broadcast((cids, cmat))
    fields = [
        ("vec_id", pa.int64()),
        ("embedding", pa.list_(pa.float32())),
        ("nrm", pa.float64()),
        ("cell", pa.int32()),
    ]
    if nprobe > 1:
        fields.append(("probe_cells", pa.list_(pa.int32())))
    out_schema = pa.schema(fields)

    def _batches(it):
        cids_, cmat_ = bc.value
        c_nrm = np.sqrt((cmat_ * cmat_).sum(axis=1))
        for batch in it:
            n = batch.num_rows
            if n == 0:
                continue
            vec_id = batch.column(batch.schema.get_field_index("vec_id"))
            col = batch.column(batch.schema.get_field_index("embedding"))
            if col.null_count:
                raise ValueError("NULL embedding in ivf_cells_arrow batch")
            flat = col.flatten().to_numpy(zero_copy_only=False)
            if flat.size != n * dims:
                widths = {len(col[i]) for i in range(n)}
                raise ValueError(
                    f"ivf_cells_arrow needs uniform {dims}-wide "
                    f"embeddings; batch has widths {sorted(widths)}")
            x = flat.astype(np.float64, copy=False).reshape(n, dims)
            nrm = np.sqrt((x * x).sum(axis=1))
            if not nrm.all():  # ADVICE r11: a zero vector would yield
                # NaN cosines and a silent argmax-to-cell-0 assignment,
                # diverging from the literal fold's NULL behavior.
                raise ValueError(
                    "zero-norm embedding in ivf_cells_arrow batch "
                    f"(vec_ids {[int(vec_id[i].as_py()) for i in range(n) if nrm[i] == 0.0][:5]})")
            cos = (x @ cmat_.T) / (nrm[:, None] * c_nrm[None, :])
            idx = cos.argmax(axis=1)
            arrays = [vec_id, col.cast(pa.list_(pa.float32())),
                      pa.array(nrm, pa.float64()),
                      pa.array(cids_[idx], pa.int32())]
            if nprobe > 1:
                # stable sort of -cos: equal cosines keep cid order
                # (cids ascend in cmat) — the probed literal form's
                # (cos DESC, cid ASC) total order
                order = np.argsort(-cos, axis=1, kind="stable")
                arrays.append(pa.array(
                    cids_[order[:, :nprobe]].tolist(),
                    pa.list_(pa.int32())))
            yield pa.RecordBatch.from_arrays(arrays, schema=out_schema)

    ret_schema = ("vec_id long, embedding array<float>, "
                  "nrm double, cell int")
    if nprobe > 1:
        ret_schema += ", probe_cells array<int>"
    return emb.select("vec_id", "embedding").mapInArrow(_batches,
                                                        ret_schema)


@register(
    "ann_ivf_topk",
    oracle=f"""
    WITH norms AS (
      SELECT vec_id, embedding,
             sqrt({_SQL_DOT.format(a='embedding', b='embedding')}) AS nrm
      FROM embeddings),
    cents AS (
      SELECT vec_id - {IVF_CENTROID_BASE} AS cent_id,
             embedding AS c_emb, nrm AS c_nrm
      FROM norms
      WHERE vec_id >= {IVF_CENTROID_BASE}
        AND vec_id < {IVF_CENTROID_BASE + IVF_K}),
    assigned AS (
      SELECT vec_id, embedding, nrm, cent_id,
             ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY
               {_SQL_DOT.format(a='embedding', b='c_emb')}
                 / (nrm * c_nrm) DESC, cent_id) AS crk
      FROM norms CROSS JOIN cents),
    cells AS (SELECT vec_id, embedding, nrm, cent_id AS cell
              FROM assigned WHERE crk = 1),
    queries AS (SELECT * FROM cells WHERE vec_id < {N_QUERIES}),
    scored AS (
      SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
             {_SQL_DOT.format(a='q.embedding', b='c.embedding')}
               / (q.nrm * c.nrm) AS cosine
      FROM queries q JOIN cells c
        ON q.cell = c.cell AND q.vec_id != c.vec_id),
    ranked AS (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                 ORDER BY cosine DESC, neighbor_id) AS rk
      FROM scored)
    SELECT query_id, neighbor_id, cosine, rk FROM ranked WHERE rk <= {TOP_K}
    """,
    tags=("similarity", "llm-data", "ann", "ivf"),
    doc="IVF-bucketed ANN (the other scale path): assign every vector to "
        "its nearest of 8 deterministic coarse centroids via a NARROW "
        "literal-centroid argmax fold (the 8 centroids are collected "
        "driver-side, k-means style — zero exchanges before the cell "
        "equi-join), then search only the query's cell (nprobe=1).",
)
def ann_ivf_topk(spark, sf_dir: str) -> DataFrame:
    cells = _ivf_cells(spark, sf_dir)
    # the argmax cid is never NULL, so the cell key joins with <=> —
    # no inferred isnotnull Filter re-evaluating the fold (_score_topk)
    return _score_topk(_catalog_queries(cells, "cell"), cells,
                       key="cell", key_never_null=True)


def ann_topk_frames(queries: DataFrame, corpus: DataFrame,
                    method: str = "lsh", k: int = TOP_K,
                    n_planes: int | None = None,
                    nprobe_bits: int | str = 0,
                    target_bucket_size: int = 64,
                    query_id_col: str = "query_id",
                    corpus_id_col: str = "vec_id",
                    exclude_matching_ids: bool = True,
                    broadcast_queries: bool = True,
                    width: int | None = None,
                    corpus_rows: int | None = None) -> DataFrame:
    """The deployment ANN entry point (r12): ARBITRARY query and corpus
    frames, instead of the catalog forms' fixed vec_id < N_QUERIES
    query slice — what an actual user calls with an external query
    batch against the embedding lake.

    ``queries``: (query_id_col, embedding); ``corpus``: (corpus_id_col,
    embedding). Returns (query_id, neighbor_id, cosine, rk <= k) with
    the catalog operators' exact scoring (ordered-fold dots, bounded
    two-phase top-k, cosine DESC / neighbor_id ASC total order). With
    the catalog's own query slice, ``method="brute"`` is
    ``ann_cosine_topk`` and ``method="lsh", n_planes=8`` is
    ``ann_lsh_topk`` (pinned in tests/test_similarity_topk.py).

    - ``method="brute"``: broadcast the query batch, rank every corpus
      row — the correctness baseline, one narrow corpus scan.
    - ``method="lsh"``: hyperplane signatures on both sides (same
      deterministic md5 plane family, corpus-level width decision via
      the census on EACH side) -> bucket equi-join; ``n_planes``
      defaults to the corpus-tracking scaled_n_planes, which keeps the
      per-bucket candidate count ~``target_bucket_size`` instead of
      the 8-bit form's ~corpus²/256 trend.
    - ``nprobe_bits`` > 0: multi-probe LSH (Lv et al. 2007's
      perturbation idea on sign-LSH) — the corpus keeps ONE bucket per
      vector, each query also probes every bucket within Hamming
      distance ``nprobe_bits`` of its signature, so high plane counts
      keep their recall. The C(n_planes, <=nprobe_bits) masks ship as
      ONE array<long> literal exploded and XORed once on the query
      side, so the plan is flat in the mask count (VERDICT r11 item 5;
      test_multiprobe_plan_flat_in_masks); ``nprobe_bits=n_planes``
      probes every bucket, i.e. the brute-force answer.
    - ``exclude_matching_ids``: drop candidates whose corpus id equals
      the query id (the catalog semantics, for query batches drawn
      from the corpus itself); pass False for external query ids.
    - ``broadcast_queries``: default hints the query side broadcast —
      right for query BATCHES (thousands to low millions of rows).
      Pass False when the query side outgrows executor memory (an
      all-pairs-style workload); the LSH bucket join then falls back
      to a shuffle hash/sort-merge equi-join, which is the correct
      plan at that scale (brute at that scale is corpus x queries —
      use LSH).
    - ``width``: the known uniform embedding dimension — skips the
      width-census probe scan on BOTH sides (the zero-extra-scan
      deployment path; embedding models emit fixed dims).
    - ``corpus_rows``: known corpus row count — with ``width`` (or an
      explicit ``n_planes``) the LSH path plans with ZERO pre-query
      actions (asserted in tests/test_similarity_topk.py). Without
      either hint, the row count is the width census' value-sum — ONE
      memoized scan that bucket_col_for reuses, never a second
      ``count()`` pass (VERDICT r12 item 5).
    - ``nprobe_bits="auto"``: derive the probe bit count from the
      plane/corpus relationship (:func:`auto_nprobe_bits`).
    """
    from pyspark.sql.types import NumericType

    from .dedup import (bucket_col_for, embedding_width_census,
                        scaled_n_planes)

    if method not in ("brute", "lsh"):
        raise ValueError(f"method must be 'brute' or 'lsh', got {method!r}")
    if exclude_matching_ids:
        qt = queries.schema[query_id_col].dataType
        ct = corpus.schema[corpus_id_col].dataType
        if qt != ct and not (isinstance(qt, NumericType)
                             and isinstance(ct, NumericType)):
            # ADVICE r12: an implicit cast between incomparable id
            # types (string query ids vs long corpus ids) turns the
            # exclusion predicate NULL and silently returns ZERO rows.
            raise ValueError(
                f"exclude_matching_ids=True needs comparable id types; "
                f"{query_id_col} is {qt.simpleString()} but "
                f"{corpus_id_col} is {ct.simpleString()} — pass "
                "exclude_matching_ids=False for external query ids, or "
                "align the id types")

    nrm = _norm()
    c_cols = [F.col(corpus_id_col).alias("vec_id"), F.col("embedding"),
              nrm.alias("nrm")]
    q_cols = [F.col(query_id_col).alias("query_id"),
              F.col("embedding").alias("q_emb"), nrm.alias("q_nrm")]
    key = None
    if method == "brute":
        q_feats, c_feats = queries.select(*q_cols), corpus.select(*c_cols)
    else:
        if (n_planes is None or nprobe_bits == "auto") \
                and corpus_rows is None:
            corpus_rows = sum(embedding_width_census(corpus).values())
        if n_planes is None:
            n_planes = scaled_n_planes(corpus_rows, target_bucket_size)
        if nprobe_bits == "auto":
            nprobe_bits = auto_nprobe_bits(n_planes, corpus_rows,
                                           target_bucket_size)
        c_feats = corpus.select(*c_cols,
                                bucket_col_for(corpus, n_planes,
                                               width=width)
                                .alias("bucket"))
        q_bucket = bucket_col_for(queries, n_planes, width=width)
        if nprobe_bits:
            masks = _probe_masks(n_planes, nprobe_bits)
            q_feats = (queries.select(*q_cols, q_bucket.alias("_qb"),
                                      F.explode(F.lit(masks)
                                                .cast("array<long>"))
                                      .alias("_mask"))
                       .select("query_id", "q_emb", "q_nrm",
                               F.col("_qb").bitwiseXOR(F.col("_mask"))
                               .alias("q_bucket")))
        else:
            q_feats = queries.select(*q_cols, q_bucket.alias("q_bucket"))
        key = "bucket"
    return _score_topk(q_feats, c_feats, k, key=key,
                       exclude_self=exclude_matching_ids,
                       broadcast=broadcast_queries)


# ---------------------------------------------------------------------------
# Int8 scalar quantization (embedding storage compression)
# ---------------------------------------------------------------------------

def quantize_embeddings_int8(emb: DataFrame,
                             id_col: str = "vec_id",
                             vec_col: str = "embedding") -> DataFrame:
    """(id, scale, q) per-vector symmetric int8 quantization:
    q[d] = round(x[d] / scale * 127) with scale = max|x| — the standard
    embedding-storage compression (8x smaller than float64 columns,
    4x smaller than float32) whose dot products approximate the
    originals to ~1/254 relative error per element.

    At 100 TB the embedding column IS the dominant similarity-stack
    IO; serving tiers store the int8 form and keep full precision only
    for re-ranking. All arithmetic is JVM HOFs (one narrow
    projection); a zero vector carries scale=0 and an all-zero q (its
    cosine is undefined either way)."""
    x = F.col(vec_col)
    scale = F.array_max(F.transform(x, lambda v: F.abs(v)))
    q = F.transform(
        F.col("_x"),
        lambda v: F.when(F.col("_s") > 0,
                         F.round(v / F.col("_s") * 127))
        .otherwise(F.lit(0)).cast("tinyint"))
    return (emb.select(F.col(id_col).alias("vec_id"), x.alias("_x"),
                       scale.alias("_s"))
            .select("vec_id", F.col("_s").alias("scale"),
                    q.alias("q")))


def dequantize_embeddings_int8(qemb: DataFrame) -> DataFrame:
    """(vec_id, embedding) back from the int8 form — the ~1/254
    round-trip approximation the recall differential quantifies."""
    return qemb.select(
        "vec_id",
        F.transform(F.col("q"),
                    lambda b: b.cast("double") / 127.0 * F.col("scale"))
        .alias("embedding"))


def _centroid_choices(centroids: list) -> F.Column:
    """Per-centroid (cos, cid) choice structs for the CURRENT row's
    ``embedding`` column, centroids folded in as ONE literal
    array<array<double>> (the catalog IVF forms' zero-exchange
    pattern, reference-free here: the serving tier's coarse quantizer
    is caller-supplied). Cosines ride try_divide, so a zero-norm
    vector yields NULL cosines (never an ANSI 0/0) and falls out of
    ranking downstream.

    Emitted as ONE parsed SQL fragment (r18, guide §7.3): this builder
    runs per serving TRIGGER (the maintenance/serving loops re-stamp
    cells each batch) and the nested-Column form paid k x dims py4j
    round-trips — at the IVF_LITERAL_CEILING (1024 cells) that is
    ~65k driver calls per trigger. Same fold nodes, same IEEE order,
    bitwise-identical cosines (repr round-trips doubles exactly)."""
    import math

    from .curation import _sql_double_array_array, _sql_double_literal

    cents_sql = _sql_double_array_array(
        [[float(x) for x in c] for c in centroids])
    cnrm_sql = "array(" + ", ".join(
        _sql_double_literal(math.sqrt(sum(float(x) * float(x) for x in c)))
        for c in centroids) + ")"
    nrm_sql = f"sqrt({_SPARK_DOT.format(a='embedding', b='embedding')})"
    return F.expr(
        f"transform({cents_sql}, (c, i) -> named_struct("
        "'cos', try_divide(aggregate(zip_with(embedding, c, "
        "(x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)), "
        "CAST(0.0 AS DOUBLE), (acc, v) -> acc + v), "
        f"{nrm_sql} * element_at({cnrm_sql}, i + 1)), "
        "'cid', i))")


def ivf_cell_col(centroids: list) -> F.Column:
    """Nearest-centroid cell id for the current row's ``embedding`` —
    max cosine, exact ties to the smallest cid (the catalog
    ``_ivf_cells`` total order). One narrow projection, no exchange;
    the maintained-corpus maintenance loop stamps this on every
    survivor when the index pins ``ivf_centroids``."""
    return _nearest_cid(_centroid_choices(centroids), len(centroids))


def ivf_probe_cells_col(centroids: list, nprobe: int) -> F.Column:
    """The ``nprobe`` nearest cells for the current row's
    ``embedding``, cosine DESC with ties to the smallest cid — the
    query-side recall dial of the IVF serving path."""
    if not 1 <= nprobe <= len(centroids):
        raise ValueError(
            f"nprobe must be in [1, {len(centroids)}], got {nprobe}")
    choices = _centroid_choices(centroids)
    srt = F.array_sort(
        choices,
        lambda a, b: F.when(a["cos"] > b["cos"], F.lit(-1))
        .when(a["cos"] < b["cos"], F.lit(1))
        .otherwise(a["cid"] - b["cid"]))
    return F.slice(F.transform(srt, lambda c: c["cid"]), 1, nprobe)


def ann_ivf_topk_frames(queries: DataFrame, corpus: DataFrame,
                        centroids: list, nprobe: int = 1,
                        k: int = TOP_K,
                        query_id_col: str = "query_id",
                        corpus_id_col: str = "vec_id",
                        exclude_matching_ids: bool = False,
                        broadcast_queries: bool = True,
                        cell_pushdown: bool = True) -> DataFrame:
    """IVF analog of :func:`ann_topk_frames` for a CELL-ASSIGNED
    corpus — the maintained-corpus serving scale path where the coarse
    quantizer is pinned in the index manifest and every committed
    corpus row already carries its ``cell`` (so the probe never
    re-assigns the corpus; only the query batch computes centroid
    cosines). Queries probe their ``nprobe`` nearest cells and score
    exact cosine against those cells' rows only — the classic
    inverted-file ANN design (IVF-Flat: Jegou et al., "Product
    Quantization for Nearest Neighbor Search", coarse-quantizer half),
    re-expressed as a cell equi-join over a cell-clustered parquet
    layout. Zero-norm queries get NULL centroid cosines (try_divide)
    — a deterministic probe order and NULL result cosines, never an
    ANSI 0/0.

    ``centroids`` is a list (cid == index). Standalone corpora get
    their ``cell`` from :func:`ivf_cell_col` or, past the literal
    ceiling, :func:`ivf_cells_arrow`; a DATA-FITTED quantizer is
    ``curation.kmeans_fit_scaled(corpus, k)`` (~3x the single-probe
    recall of arbitrary corpus-vector cells, BENCH_NOTES r12).
    ``nprobe=len(centroids)`` probes every cell, i.e. brute force.

    ``cell_pushdown`` (default on): ONE bounded driver action collects
    the query batch's distinct probed cells (<= len(centroids) small
    ints — a micro-batch-sized query frame, same budget class as the
    maintenance loops' candidate pushdown) and pushes an ``isin`` on
    the corpus scan: with the maintained corpus (cell, vec_id)-sorted
    through compaction, parquet row-group stats prune unprobed cells'
    row groups — the serving read is O(probed cells), not O(corpus).
    Pass False for a fully lazy plan (the cell equi-join still bounds
    the SCORED pairs; only the scan reads everything)."""
    if "cell" not in corpus.columns:
        raise ValueError(
            "ann_ivf_topk_frames needs a cell-assigned corpus "
            "(columns include 'cell') — maintained corpora get it "
            "when the embedding index pins ivf_centroids; standalone "
            "frames via ivf_cell_col(centroids)")
    nrm = _norm()
    if len(centroids) * len(centroids[0]) > IVF_LITERAL_CEILING:
        # past the literal-expression ceiling (deployment-sized
        # quantizers: n_cells ~ sqrt(corpus)), derive the probe lists
        # through the Arrow backend — broadcast ndarray + one matmul
        # per batch, plan constant in k — and join them back by id so
        # SCORING keeps the original float64 embeddings (the Arrow
        # frame carries float32 casts). Zero-norm queries mirror the
        # literal fold's all-NULL-cosine order: cells [0..nprobe-1].
        if not 1 <= nprobe <= len(centroids):
            raise ValueError(
                f"nprobe must be in [1, {len(centroids)}], "
                f"got {nprobe}")
        sq = F.expr(_SPARK_DOT.format(a="embedding", b="embedding"))
        base = queries.select(F.col(query_id_col).alias("query_id"),
                              "embedding", sq.alias("_sq"))
        nz = base.filter(F.col("_sq") > 0)
        probes = (ivf_cells_arrow(
            nz.select(F.col("query_id").alias("vec_id"), "embedding"),
            {i: list(map(float, c)) for i, c in enumerate(centroids)},
            nprobe=max(nprobe, 2)) .select(
                F.col("vec_id").alias("query_id"),
                F.slice("probe_cells", 1, nprobe).alias("_pc")))
        # NULL-embedding queries leave _sq NULL, failing both filters —
        # include them here so the Arrow path matches the literal
        # fold's NULL-cosine behavior instead of silently dropping.
        zz = (base.filter(F.col("_sq").isNull() | ~(F.col("_sq") > 0))
              .select("query_id",
                      F.array(*[F.lit(j).cast("int")
                                for j in range(nprobe)]).alias("_pc")))
        q_feats = (base.select("query_id",
                               F.col("embedding").alias("q_emb"),
                               nrm.alias("q_nrm"))
                   .join(probes.unionByName(zz), "query_id")
                   .select("query_id", "q_emb", "q_nrm",
                           F.explode("_pc").alias("q_cell")))
    else:
        q_feats = queries.select(
            F.col(query_id_col).alias("query_id"),
            F.col("embedding").alias("q_emb"), nrm.alias("q_nrm"),
            F.explode(ivf_probe_cells_col(centroids, nprobe))
            .alias("q_cell"))
    if cell_pushdown:
        probed = sorted(r.q_cell for r in
                        q_feats.select("q_cell").distinct().collect())
        if not probed:
            corpus = corpus.filter(F.lit(False))
        else:
            corpus = corpus.filter(F.col("cell").isin(probed))
    c_feats = corpus.select(F.col(corpus_id_col).alias("vec_id"),
                            "embedding", nrm.alias("nrm"), "cell")
    # no pair dedup needed: each corpus row carries exactly ONE cell
    # and a query's probe list holds distinct cids, so the equi-join
    # yields at most one row per (query, neighbor). A materialized
    # cell column can be NULL, so the key stays a plain `=`.
    return _score_topk(q_feats, c_feats, k, key="cell",
                       exclude_self=exclude_matching_ids,
                       broadcast=broadcast_queries)


def ivf_nprobe_for_recall(queries_sample: DataFrame, corpus: DataFrame,
                          centroids: list,
                          target_recall: float = 0.9,
                          k: int = TOP_K,
                          query_id_col: str = "query_id") -> dict:
    """Calibrate the IVF recall dial: the smallest doubling-ladder
    nprobe whose recall@k on a QUERY SAMPLE meets ``target_recall``
    against exact brute top-k over the same corpus — the IVF twin of
    the LSH family's ``nprobe_bits`` sizing, run OFFLINE on the refit
    cadence like :func:`~.dedup_index.refit_ivf_centroids` (each rung
    costs one brute pass over the sample plus one IVF pass; this is a
    calibration utility, never a per-trigger step). The caller passes
    a bounded sample — recall is estimated over sample x k pairs
    collected to the driver.

    Returns ``{"nprobe": n, "recall": r, "ladder": [(n, r), ...]}``;
    the final rung nprobe=len(centroids) is exact by construction
    (nprobe=all == brute, pinned in tests), so the target is always
    reachable."""
    if not 0.0 < target_recall <= 1.0:
        raise ValueError(
            f"target_recall must be in (0, 1], got {target_recall}")
    truth = {(r[0], r[1]) for r in
             ann_topk_frames(queries_sample,
                             corpus.select("vec_id", "embedding"),
                             k=k, method="brute",
                             query_id_col=query_id_col,
                             exclude_matching_ids=False)
             .select("query_id", "neighbor_id").collect()}
    if not truth:
        raise ValueError("empty query sample or corpus — nothing to "
                         "calibrate against")
    ladder: list[tuple[int, float]] = []
    nprobe = 1
    while True:
        nprobe = min(nprobe, len(centroids))
        got = {(r[0], r[1]) for r in
               ann_ivf_topk_frames(queries_sample, corpus, centroids,
                                   nprobe=nprobe, k=k,
                                   query_id_col=query_id_col)
               .select("query_id", "neighbor_id").collect()}
        recall = len(got & truth) / len(truth)
        ladder.append((nprobe, round(recall, 4)))
        if recall >= target_recall or nprobe >= len(centroids):
            return {"nprobe": nprobe, "recall": round(recall, 4),
                    "ladder": ladder}
        nprobe *= 2


def ann_topk_frames_quantized(queries: DataFrame, qcorpus: DataFrame,
                              rerank_m: int | None = None,
                              exact_corpus: DataFrame | None = None,
                              check_coverage: bool = False,
                              **kwargs) -> DataFrame:
    """:func:`ann_topk_frames` over an INT8-QUANTIZED corpus (VERDICT
    r13 item 5) — the deployment serving path where the 100 TB corpus
    tier stores only (vec_id, scale, q) from
    :func:`quantize_embeddings_int8` (8x smaller than float64) and
    queries arrive as float embeddings.

    The whole composition rides one identity: cosine is
    SCALE-INVARIANT per corpus vector, so scoring directly on the int8
    codes equals scoring on the dequantized values exactly —
    dot(query, codes) / (|query| * |codes|) has the per-vector scale
    cancelled — and the hyperplane signature is a SIGN, so
    sign(W . codes) = sign(W . dequant) too (positive scale). The
    codes therefore pass straight through as the corpus embedding
    column: LSH bucket join, multiprobe, broadcast hints, the
    ``width``/``corpus_rows`` zero-action plan guarantees, and the
    bounded two-phase top-k are all inherited unchanged, and the
    ``scale`` column is never read at serving time (it exists for
    reconstruction/re-ranking). Accepts every :func:`ann_topk_frames`
    keyword; recall@k >= the pinned 0.9 floor vs the exact float path
    (tests/test_quantization.py).

    ``rerank_m`` (VERDICT r14 item 6) closes the residual recall gap:
    pull top-``rerank_m`` candidates (m >= k) through the quantized
    path, then re-score ONLY those m per query against
    ``exact_corpus`` — the FULL-precision (vec_id, embedding) tier the
    quantize docstring says a serving deployment keeps for exactly
    this — and return the exact-cosine top-k. O(queries x m)
    re-scored rows, attached by an id equi-join (never a second
    corpus-wide scoring pass). Note the re-rank source must be the
    full-precision tier, NOT dequantized codes: cosine against
    dequantized values EQUALS the code-domain cosine (the same
    scale-invariance identity the fast path rides), so a
    "dequantized re-rank" would be a no-op by construction — the gap
    being closed IS the quantization error, and only the float
    vectors carry the lost bits. Recall@k vs exact pinned >= 0.98 in
    tests/test_quantization.py; the zero-pre-query-action plan
    guarantee is inherited (the re-rank adds joins, not actions).

    COVERAGE CONTRACT (ADVICE r15): the re-rank attach is an INNER
    equi-join on neighbor_id, so a candidate id missing from
    ``exact_corpus`` silently vanishes from the final top-k — a query
    may return fewer than k rows. The tier must cover every corpus id
    the codes were built from (the maintained float tier satisfies
    this by construction: it commits in the same manifest publish as
    the codes). ``check_coverage=True`` opts into a loud bounded check
    (one left-anti 5-row sample action, like
    dedup_pairs_cross_indexed's) that raises on the first uncovered
    candidate instead of under-returning."""
    corpus = qcorpus.select(
        "vec_id",
        F.col("q").cast("array<double>").alias("embedding"))
    kwargs.setdefault("corpus_id_col", "vec_id")
    if rerank_m is None:
        return ann_topk_frames(queries, corpus, **kwargs)
    if exact_corpus is None:
        raise ValueError(
            "rerank_m requires exact_corpus (the full-precision "
            "(vec_id, embedding) re-rank tier): dequantized codes "
            "score identically to the codes themselves — they cannot "
            "close the quantization gap")
    k = kwargs.pop("k", TOP_K)
    if rerank_m < k:
        raise ValueError(f"rerank_m ({rerank_m}) must be >= k ({k})")
    query_id_col = kwargs.get("query_id_col", "query_id")
    cand = (ann_topk_frames(queries, corpus, k=rerank_m, **kwargs)
            .select("query_id", "neighbor_id"))
    if check_coverage:
        missing = (cand.join(
            exact_corpus.select(F.col("vec_id").alias("neighbor_id")),
            "neighbor_id", "left_anti").limit(5).collect())
        if missing:
            raise ValueError(
                "exact_corpus does not cover every candidate "
                f"neighbor_id (sample missing: "
                f"{sorted(r.neighbor_id for r in missing)}) — the "
                "re-rank inner join would silently drop them from the "
                "final top-k; supply the full-precision tier for the "
                "same corpus the codes came from")
    return _exact_rerank(cand, queries, exact_corpus, k,
                         query_id_col=query_id_col)


def _exact_rerank(cand: DataFrame, queries: DataFrame,
                  exact_corpus: DataFrame, k: int,
                  query_id_col: str = "query_id") -> DataFrame:
    """Re-score (query_id, neighbor_id) candidate pairs against the
    full-precision (vec_id, embedding) tier and return the exact-cosine
    top-k per query — the shared tail of
    :func:`ann_topk_frames_quantized`'s ``rerank_m`` path and the
    serving loop's float-tier re-rank. COVERAGE CONTRACT: the attach is
    an INNER id equi-join, so a candidate absent from ``exact_corpus``
    vanishes from the final top-k (possibly returning fewer than k rows
    for its query). Callers must pass a tier covering every candidate
    id (the maintained float tier is committed in the same manifest
    publish as the codes, so coverage holds by construction there), or
    opt into the loud ``check_coverage`` sample in
    :func:`ann_topk_frames_quantized`."""
    nrm = _norm()
    exact = exact_corpus.select("vec_id", "embedding", nrm.alias("nrm"))
    q_feats = queries.select(F.col(query_id_col).alias("query_id"),
                             F.col("embedding").alias("q_emb"),
                             nrm.alias("q_nrm"))
    pairs = (cand.select("query_id", F.col("neighbor_id").alias("vec_id"))
             .join(exact, "vec_id")
             .join(F.broadcast(q_feats), "query_id"))
    return _cosine_topk(pairs, k)


# ---------------------------------------------------------------------------
# Streaming ANN serving over the maintained embedding corpus (r15)
# ---------------------------------------------------------------------------

def _auto_calibrated_nprobe(spark, queries: DataFrame,
                            corpus_path: str, index_path: str,
                            store, centroids: list,
                            recall_target: float, k: int) -> int:
    """nprobe for method="auto" serving when a recall target is given:
    :func:`ivf_nprobe_for_recall` over a bounded sample of the
    trigger's own queries against the maintained corpus, cached per
    QUANTIZER GENERATION (a refit or geometry rebuild re-calibrates;
    ordinary corpus growth does not — the calibration is the
    refit-cadence offline op its docstring mandates, never a
    per-trigger step). Quantized corpora calibrate in the code domain
    directly (the scale-invariance identity — same as serving)."""
    key = (index_path, len(centroids),
           int(store.meta.get("ivf_refits", 0)),
           int(store.meta.get("geometry_rebuilds", 0)),
           round(float(recall_target), 4), int(k))
    if key in _AUTO_NPROBE_CACHE:
        return _AUTO_NPROBE_CACHE[key]
    from .dedup_index import load_maintained_corpus
    if store.meta.get("corpus_quantized"):
        corpus = load_maintained_corpus(
            spark, corpus_path, index_path,
            empty_schema="cell int, vec_id long, scale double, "
                         "q array<tinyint>").select(
            "cell", "vec_id",
            F.col("q").cast("array<double>").alias("embedding"))
    else:
        corpus = load_maintained_corpus(
            spark, corpus_path, index_path,
            empty_schema="cell int, vec_id long, "
                         "embedding array<double>").select(
            "cell", "vec_id", "embedding")
    sample = queries.limit(SERVING_AUTO_SAMPLE_QUERIES)
    out = ivf_nprobe_for_recall(sample, corpus, centroids,
                                target_recall=recall_target, k=k)
    _AUTO_NPROBE_CACHE[key] = int(out["nprobe"])
    return _AUTO_NPROBE_CACHE[key]


def apply_ann_serving_batch(spark, batch_df: DataFrame, batch_id: int,
                            corpus_path: str, index_path: str,
                            out_path: str, k: int = TOP_K,
                            rerank_m: int | None = None,
                            candidate_pushdown: int | None = 4096,
                            **ann_kwargs) -> str:
    """Serve one micro-batch of (query_id, embedding) queries against
    the MAINTAINED embedding corpus (the dedup_index maintenance
    loops' manifest-committed state) and write (query_id, neighbor_id,
    cosine, rk) to ``out_path/batch=<id>``. Quantized corpora score
    directly on the int8 codes (the scale-invariance identity of
    :func:`ann_topk_frames_quantized`); float corpora on the stored
    vectors. ``ann_kwargs`` forward
    (method/width/corpus_rows/nprobe_bits/...); ``method="ivf"``
    (r16) serves through :func:`ann_ivf_topk_frames` against the
    cell-assigned maintained corpus — requires the index to pin
    ``ivf_centroids`` (``create_embedding_index``), reads O(probed
    cells) of the (cell, vec_id)-clustered corpus per trigger, and
    accepts ``nprobe``/``cell_pushdown``.

    ``method="auto"`` (r18, VERDICT r17 item 2) resolves lsh vs ivf
    PER TRIGGER from the measured crossover
    (:func:`resolve_serving_method`; BENCH_NOTES r17 matrix): ivf when
    the manifest's corpus size clears ``auto_min_corpus`` (default
    :data:`SERVING_AUTO_MIN_CORPUS`) and the trigger's worst-case
    probed-cell union ``q x nprobe`` stays under
    :data:`SERVING_AUTO_CELL_FRACTION` of the quantizer; lsh
    otherwise. ``auto_recall_target=0.9`` additionally sets nprobe
    from :func:`ivf_nprobe_for_recall` on a bounded sample of the
    trigger's own queries, cached per quantizer generation. The last
    resolution is readable at ``_AUTO_LAST_DECISION`` (telemetry).

    ``rerank_m`` (VERDICT r15 item 1) requires the maintained corpus
    to carry a FULL-PRECISION float re-rank tier
    (``keep_float_tier=True`` on the embedding maintenance loop) —
    a "dequantized re-rank" is a no-op by the scale-invariance
    identity (:func:`ann_topk_frames_quantized`'s own guard), so a
    quantized-only corpus raises here rather than silently paying a
    whole-corpus read for zero recall, and a FLOAT corpus raises too
    (its fast path already scores candidates with exact cosine on the
    stored vectors — there is nothing left to re-rank). The float
    tier attaches CANDIDATE-PRUNED: the top-``rerank_m`` candidate ids
    are pushed into the id-clustered tier scan as a point lookup when
    they fit ``candidate_pushdown`` (the maintenance loops'
    ``_restrict_to_candidates`` machinery, semi-join + min/max range
    residual above the limit), so the re-rank reads O(queries x m) row
    groups, never O(corpus). Coverage of the inner re-rank join holds
    by construction: the tier commits in the same atomic manifest
    publish as the codes.

    The write is batch-id-named and mode=overwrite, so a Structured
    Streaming replay is idempotent AGAINST THE SAME corpus state;
    serving is stateless, so a replay after the corpus grew re-answers
    under the newer corpus — acceptable for an approximate serving
    tier and documented here rather than hidden."""
    import os

    from .dedup_index import (_restrict_to_candidates,
                              load_float_tier, load_maintained_corpus,
                              open_dedup_index)

    store = open_dedup_index(index_path)
    if store.kind != "embedding":
        raise ValueError(f"ANN serving needs an embedding index, got "
                         f"{store.kind!r} at {index_path!r}")
    queries = batch_df.select(
        F.col("query_id"), F.col("embedding"))
    ann_kwargs.setdefault("exclude_matching_ids", False)
    if ann_kwargs.get("method") == "auto":
        # VERDICT r17 item 2: resolve lsh vs ivf PER TRIGGER from the
        # measured crossover rule. Inputs are (nearly) free: corpus
        # rows ride the manifest (corpus_seen_rows, accumulated by a
        # zero-job Observation on each maintenance commit; one cached
        # count job backfills manifests predating the field), the
        # query count is one action on the trigger-sized batch — the
        # same budget class as cell_pushdown's distinct collect — on
        # a localCheckpoint the downstream probe/score joins reuse.
        recall_target = ann_kwargs.pop("auto_recall_target", None)
        min_corpus = ann_kwargs.pop("auto_min_corpus",
                                    SERVING_AUTO_MIN_CORPUS)
        queries = queries.localCheckpoint()
        n_q = queries.count()
        centroids = store.params.get("ivf_centroids") or []
        corpus_rows = store.meta.get("corpus_seen_rows")
        if corpus_rows is None and centroids:
            ck = (corpus_path,
                  tuple(store.meta.get("corpus_batches", [])))
            if ck not in _AUTO_ROWS_CACHE:
                _AUTO_ROWS_CACHE[ck] = load_maintained_corpus(
                    spark, corpus_path, index_path,
                    empty_schema="vec_id long").count()
            corpus_rows = _AUTO_ROWS_CACHE[ck]
        req_nprobe = int(ann_kwargs.get("nprobe", 2))
        resolved = resolve_serving_method(
            len(centroids), corpus_rows, n_q, req_nprobe,
            min_corpus=min_corpus)
        if resolved == "ivf":
            ann_kwargs["method"] = "ivf"
            if recall_target is not None:
                ann_kwargs["nprobe"] = _auto_calibrated_nprobe(
                    spark, queries, corpus_path, index_path, store,
                    centroids, recall_target, k)
        else:
            # the LSH path takes none of the IVF dials
            ann_kwargs.pop("method")
            ann_kwargs.pop("nprobe", None)
            ann_kwargs.pop("cell_pushdown", None)
        _AUTO_LAST_DECISION.update(
            method=resolved, n_queries=n_q, corpus_rows=corpus_rows,
            n_cells=len(centroids),
            nprobe=ann_kwargs.get("nprobe", req_nprobe))
    ivf = ann_kwargs.get("method") == "ivf"
    if ivf:
        centroids = store.params.get("ivf_centroids")
        if not centroids:
            raise ValueError(
                "method='ivf' needs the embedding index to pin "
                "ivf_centroids (create_embedding_index(..., "
                f"ivf_centroids=...)); the index at {index_path!r} "
                "has none, so its corpus rows carry no cell "
                "assignments")
        ann_kwargs.pop("method")

    def _topm(corpus, m):
        """Top-m candidates over a (vec_id, [cell,] embedding) frame
        through the serving method; an empty pre-first-commit corpus
        (no cell column yet) answers empty under ivf."""
        if ivf:
            if "cell" not in corpus.columns:
                return spark.createDataFrame(
                    [], "query_id long, neighbor_id long, "
                        "cosine double, rk int")
            return ann_ivf_topk_frames(queries, corpus, centroids,
                                       k=m, **ann_kwargs)
        kw = dict(ann_kwargs)
        kw.setdefault("corpus_id_col", "vec_id")
        return ann_topk_frames(queries, corpus.select(
            "vec_id", "embedding"), k=m, **kw)

    if store.meta.get("corpus_quantized"):
        qcorpus = load_maintained_corpus(
            spark, corpus_path, index_path,
            empty_schema="vec_id long, scale double, q array<tinyint>")
        corpus = qcorpus.select(
            *(["cell"] if "cell" in qcorpus.columns else []),
            "vec_id",
            F.col("q").cast("array<double>").alias("embedding"))
        if rerank_m is not None:
            if not store.meta.get("float_tier"):
                raise ValueError(
                    "rerank_m needs a full-precision re-rank tier, but "
                    f"the maintained corpus at {corpus_path!r} is "
                    "quantized-only (float originals were discarded at "
                    "ingest): dequantized codes score identically to "
                    "the codes themselves — they cannot close the "
                    "quantization gap. Run the embedding maintenance "
                    "loop with keep_float_tier=True")
            if rerank_m < k:
                raise ValueError(
                    f"rerank_m ({rerank_m}) must be >= k ({k})")
            cand = (_topm(corpus, rerank_m)
                    .select("query_id", "neighbor_id")
                    .localCheckpoint())
            tier = load_float_tier(spark, corpus_path, index_path)
            pruned = _restrict_to_candidates(
                tier, cand.select(F.col("neighbor_id").alias("doc_b")),
                "vec_id", candidate_pushdown)
            out = _exact_rerank(cand, queries, pruned, k)
        else:
            out = _topm(corpus, k)
    else:
        if rerank_m is not None:
            raise ValueError(
                "rerank_m over a FLOAT maintained corpus is a no-op: "
                "the fast path already scores every candidate with "
                "exact cosine on the stored full-precision vectors — "
                "rerank_m exists to close the quantization gap of "
                "quantize_corpus=True loops (with keep_float_tier)")
        corpus = load_maintained_corpus(
            spark, corpus_path, index_path,
            empty_schema="vec_id long, embedding array<double>")
        out = _topm(corpus, k)
    dest = os.path.join(out_path, f"batch={batch_id}")
    out.write.mode("overwrite").parquet(dest)
    return dest


# Below this many queries in a trigger, the measured ~1.4-2 s
# local-mode per-trigger floor (BENCH_NOTES r16: fixed stage/job
# overhead, not per-query work) dominates end-to-end cost — at 2,048
# queries/trigger the same floor amortizes to 0.8-1.4 ms/query.
SERVING_FLOOR_QUERIES = 256

# method="auto" crossover rule (VERDICT r17 item 2), lifted from the
# measured 3x3 serving matrix + recall addendum (BENCH_NOTES r17):
# IVF's edge is reading O(probed cells) of the (cell, vec_id)-
# clustered corpus, so it wins exactly where the trigger's
# PROBED-CELL UNION stays a small fraction of the quantizer — large
# corpus, small-to-mid query volume (measured: 1.88x at 500k rows /
# 707 cells / q=16; 1.34x at q=256). It loses when q x nprobe
# saturates the cells (q=2,048: every cell probed — whole-corpus scan
# PLUS the explode/cell-join machinery, lsh 1.20x) and at small
# corpora (5k/50k decades: both methods sit on the fixed local
# trigger floor and LSH's flatter plan wins the overheads; the LSH
# codes scan only becomes the bottleneck as the corpus grows —
# 2.5 -> 4.0 s across the measured decades while IVF stayed flat).
SERVING_AUTO_MIN_CORPUS = 100_000   # geometric middle of the 50k tie
#                                     and the 500k ivf-win decades
SERVING_AUTO_CELL_FRACTION = 0.75   # probed-union budget: 500k/q=256
#                                     (512 <= 0.75*707) measured ivf
SERVING_AUTO_SAMPLE_QUERIES = 64    # nprobe calibration sample bound


def resolve_serving_method(n_cells: int, corpus_rows: int | None,
                           n_queries: int, nprobe: int = 2,
                           min_corpus: int = SERVING_AUTO_MIN_CORPUS
                           ) -> str:
    """The measured LSH<->IVF serving crossover rule as a pure
    function (BENCH_NOTES r17 matrix; constants above): ``"ivf"``
    when the corpus is past the decade where the LSH codes scan
    dominates AND the trigger's worst-case probed-cell union
    (``n_queries x nprobe``) stays a small fraction of the quantizer;
    ``"lsh"`` otherwise (including no quantizer / unknown corpus
    size — the flat-plan default)."""
    if not n_cells or corpus_rows is None:
        return "lsh"
    if (corpus_rows >= min_corpus
            and n_queries * nprobe
            <= SERVING_AUTO_CELL_FRACTION * n_cells):
        return "ivf"
    return "lsh"


# method="auto" in-process caches: corpus row-count fallback for
# manifests predating corpus_seen_rows (keyed by the exact committed
# batch list — any commit/compaction/refit re-counts), and the
# recall-calibrated nprobe (keyed by quantizer generation — a refit
# invalidates it). Serving telemetry for tests/operators: the last
# resolution's inputs + outcome.
_AUTO_ROWS_CACHE: dict = {}
_AUTO_NPROBE_CACHE: dict = {}
_AUTO_LAST_DECISION: dict = {}


class _ServingFloorListener:
    """One-time under-filled-trigger warning for a serving stream
    (VERDICT r16 item 7): watches the stream's OWN progress events
    (numInputRows is free — no extra job) and warns the first time a
    non-empty trigger arrives below the documented floor, then
    detaches. State is readable on the object (``warned``/``detail``)
    so tests don't depend on cross-thread warning capture."""

    def __init__(self, spark, query_name: str, threshold: int):
        self._spark = spark
        self._query_name = query_name
        self._threshold = threshold
        self.warned = False
        self.detail: str | None = None

    def make_listener(self):
        from pyspark.sql.streaming import StreamingQueryListener

        outer = self

        class _L(StreamingQueryListener):
            def onQueryStarted(self, event):
                pass

            def onQueryProgress(self, event):
                p = event.progress
                if outer.warned or p.name != outer._query_name:
                    return
                n = p.numInputRows
                if 0 < n < outer._threshold:
                    outer.warned = True
                    outer.detail = (
                        f"ANN serving stream {outer._query_name!r}: "
                        f"trigger {p.batchId} carried {n} queries — "
                        f"below ~{outer._threshold}, the per-trigger "
                        "fixed floor (stage/job overhead, BENCH_NOTES "
                        "r16) dominates; batch queries into larger "
                        "triggers (maxFilesPerTrigger / "
                        "maxOffsetsPerTrigger) or stretch "
                        "processing_time")
                    import warnings
                    warnings.warn(outer.detail, RuntimeWarning)
                    outer._detach(self)

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                outer._detach(self)

        self._inner = _L()
        return self._inner

    def _detach(self, inner) -> None:
        try:
            self._spark.streams.removeListener(inner)
        except Exception:
            pass  # already removed / session stopping


def start_ann_serving_stream(queries_stream: DataFrame,
                             corpus_path: str, index_path: str,
                             out_path: str, checkpoint_dir: str,
                             k: int = TOP_K,
                             rerank_m: int | None = None,
                             available_now: bool = False,
                             processing_time: str = "10 seconds",
                             min_queries_per_trigger: int | None
                             = SERVING_FLOOR_QUERIES,
                             **ann_kwargs):
    """The serving half the maintenance loops promise: queries arrive
    as a stream, each trigger answers them against the CURRENT
    manifest-committed maintained corpus (new survivors become
    searchable at their commit, exactly-once via the maintenance
    loop's protocol), results land as batch-id-named parquet. The
    corpus re-resolves from the manifest EVERY trigger — a long-lived
    serving stream tracks corpus growth without restart. foreachBatch
    like the maintenance loops: per-trigger work is a bounded exact
    batch operator.

    Pass ``method="auto"`` (r18) to let each trigger pick lsh vs ivf
    from the measured crossover rule — corpus size from the manifest,
    query count from the trigger — so a stream that starts on a small
    corpus switches to cell-probed IVF serving as the maintenance
    loop grows the corpus past the crossover, with no restart (see
    :func:`apply_ann_serving_batch` / :func:`resolve_serving_method`).

    ``min_queries_per_trigger`` (VERDICT r16 item 7): the first
    non-empty trigger below this count emits a ONE-TIME RuntimeWarning
    — the measured local per-trigger floor is fixed overhead, so
    sub-hundred-query triggers waste 10-100x; the default is the
    README's sizing guidance made observable. None disables. The
    listener reads the stream's own progress (no counting job) and
    detaches after warning or at termination; it is exposed as
    ``query._serving_floor_listener`` for tests/telemetry."""
    def _proc(batch_df: DataFrame, batch_id: int) -> None:
        apply_ann_serving_batch(
            batch_df.sparkSession, batch_df, batch_id,
            corpus_path, index_path, out_path, k=k, rerank_m=rerank_m,
            **ann_kwargs)

    spark = queries_stream.sparkSession
    qname = "ann_serving_" + hashlib.md5(
        checkpoint_dir.encode()).hexdigest()[:12]
    writer = (queries_stream.writeStream.queryName(qname)
              .foreachBatch(_proc)
              .option("checkpointLocation", checkpoint_dir))
    if available_now:
        writer = writer.trigger(availableNow=True)
    else:
        writer = writer.trigger(processingTime=processing_time)
    floor = None
    if min_queries_per_trigger is not None:
        floor = _ServingFloorListener(spark, qname,
                                      int(min_queries_per_trigger))
        spark.streams.addListener(floor.make_listener())
    q = writer.start()
    if floor is not None:
        q._serving_floor_listener = floor
    return q
