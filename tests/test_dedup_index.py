"""Materialized append-only dedup index (VERDICT r12 item 1): the
index-backed pair finders and incremental steps must be DIFFERENTIAL-
equal to the recompute forms, the store must round-trip its manifest
and refuse incompatible parameters, and a second batch must probe the
first batch's survivors without re-hashing history."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F


def _docs(spark, sf_dir):
    from solana_event_stream_spark.operators.dedup import docs_with_dups
    return docs_with_dups(spark, sf_dir)


def _pairs(df):
    return {(r.doc_a, r.doc_b, round(r.jaccard, 9)) for r in df.collect()}


def test_minhash_indexed_pairs_match_recompute(spark, sf_dir, tmp_path):
    from solana_event_stream_spark.operators.dedup import (
        dedup_pairs_cross)
    from solana_event_stream_spark.operators.dedup_index import (
        create_minhash_index, dedup_pairs_cross_indexed,
        minhash_index_rows, open_dedup_index)

    base = _docs(spark, sf_dir)
    seen = base.filter(F.col("doc_id") % 2 == 0)
    new = base.filter(F.col("doc_id") % 2 == 1)

    store = create_minhash_index(str(tmp_path / "mh"))
    store.append(minhash_index_rows(seen))
    # re-open: manifest round-trips
    store = open_dedup_index(str(tmp_path / "mh"))
    assert store.kind == "minhash" and store.params["n_bands"] == 3

    got = _pairs(dedup_pairs_cross_indexed(new, seen,
                                           store.load(spark)))
    want = _pairs(dedup_pairs_cross(new, seen))
    assert got == want and got


def test_minhash_incremental_indexed_matches_and_accumulates(
        spark, sf_dir, tmp_path):
    from solana_event_stream_spark.operators.dedup import (
        dedup_incremental_survivors)
    from solana_event_stream_spark.operators.dedup_index import (
        create_minhash_index, dedup_pairs_cross_indexed,
        dedup_incremental_survivors_indexed, minhash_index_rows)

    base = _docs(spark, sf_dir)
    seen = base.filter(F.col("doc_id") % 3 == 0)
    b1 = base.filter(F.col("doc_id") % 3 == 1)
    b2 = base.filter(F.col("doc_id") % 3 == 2)

    store = create_minhash_index(str(tmp_path / "mh"))
    store.append(minhash_index_rows(seen))

    surv1 = dedup_incremental_survivors_indexed(store, b1, seen)
    want1 = {r.doc_id for r in
             dedup_incremental_survivors(b1, seen).collect()}
    got1 = {r.doc_id for r in surv1.collect()}
    assert got1 == want1 and got1
    # committed: the store now carries seen + batch-1 survivors
    assert len(store._batches) == 2

    # batch 2 probes the ACCUMULATED corpus — including batch-1
    # survivors — via the index, equal to the recompute form against
    # the accumulated docs frame
    acc = seen.unionByName(surv1.select(*seen.columns))
    got2 = {r.doc_id for r in dedup_incremental_survivors_indexed(
        store, b2, acc, commit=False).collect()}
    want2 = {r.doc_id for r in
             dedup_incremental_survivors(b2, acc).collect()}
    assert got2 == want2
    # cross hits against batch-1 survivors specifically are visible
    # through the index (not only through the original seen slice)
    hits = {r.doc_b for r in dedup_pairs_cross_indexed(
        b2, acc, store.load(spark)).collect()}
    assert hits & got1 or hits & {r for r in want1}, (
        "expected at least one batch-2 candidate against batch-1 "
        "survivors on the planted-dup corpus")


def test_embedding_indexed_pairs_and_incremental_match(spark, tmp_path):
    import hashlib

    from solana_event_stream_spark.operators.dedup import (
        embedding_incremental_survivors, embedding_pairs_cross,
        embedding_pairs_cross_banded)
    from solana_event_stream_spark.operators.dedup_index import (
        create_embedding_index, embedding_index_rows,
        embedding_incremental_survivors_indexed,
        embedding_pairs_cross_indexed)

    def vec(i):
        return [int(hashlib.md5(f"{i}_{d}".encode()).hexdigest()[:4],
                    16) / 32767.5 - 1.0 for d in range(16)]

    seen = spark.createDataFrame(
        [(i, vec(i)) for i in range(60)],
        "vec_id long, embedding array<float>")
    new = spark.createDataFrame(
        [(1000, [x + 0.001 for x in vec(11)]),   # near-copy of seen 11
         (1001, vec(500)),                       # fresh
         (1002, vec(600)),                       # within-batch pair:
         (1003, [x + 0.0005 for x in vec(600)]),
         ], "vec_id long, embedding array<float>")

    store = create_embedding_index(str(tmp_path / "emb"), n_planes=8,
                                   width=16, n_bands=4)
    store.append(embedding_index_rows(seen, 4, 8, width=16))

    # the banded indexed probe == the banded recompute twin, exactly
    got = {(r.doc_a, r.doc_b, round(r.cosine, 9))
           for r in embedding_pairs_cross_indexed(
               new, seen, store.load(spark), 4, 8, tau=0.95,
               width=16).collect()}
    want = {(r.doc_a, r.doc_b, round(r.cosine, 9))
            for r in embedding_pairs_cross_banded(
                new, seen, n_bands=4, band_bits=8, tau=0.95,
                width=16).collect()}
    assert got == want and (1000, 11) in {p[:2] for p in got}
    # multi-band candidates are a superset of the single-band form's
    single = {(r.doc_a, r.doc_b, round(r.cosine, 9))
              for r in embedding_pairs_cross(new, seen, n_planes=8,
                                             tau=0.95,
                                             width=16).collect()}
    assert single <= got

    surv = {r.vec_id for r in embedding_incremental_survivors_indexed(
        store, new, seen, tau=0.95).collect()}
    want_surv = {r.vec_id for r in embedding_incremental_survivors(
        new, seen, n_planes=8, tau=0.95, width=16).collect()}
    assert surv == want_surv == {1001, 1002}
    assert len(store._batches) == 2
    # the committed survivor index rows are join-compatible: a re-send
    # of the surviving vectors is now caught by the index alone
    resend = new.filter(F.col("vec_id").isin(1001, 1002)).select(
        (F.col("vec_id") + 5000).alias("vec_id"), "embedding")
    again = {r.doc_b for r in embedding_pairs_cross_indexed(
        resend, seen.unionByName(surv_frame(new)), store.load(spark),
        4, 8, tau=0.999, width=16).collect()}
    assert {1001, 1002} <= again


def test_embedding_index_single_band_degenerates_to_old_layout(
        spark, tmp_path):
    """n_bands=1 probe == the single-bucket cross form exactly (band
    0's planes are planes 0..bits-1 of the same md5 family)."""
    import hashlib

    from solana_event_stream_spark.operators.dedup import (
        embedding_pairs_cross)
    from solana_event_stream_spark.operators.dedup_index import (
        create_embedding_index, embedding_index_rows,
        embedding_pairs_cross_indexed)

    def vec(i):
        return [int(hashlib.md5(f"s{i}_{d}".encode()).hexdigest()[:4],
                    16) / 32767.5 - 1.0 for d in range(12)]

    seen = spark.createDataFrame([(i, vec(i)) for i in range(40)],
                                 "vec_id long, embedding array<float>")
    new = spark.createDataFrame(
        [(900, [x + 0.002 for x in vec(7)]), (901, vec(300))],
        "vec_id long, embedding array<float>")
    store = create_embedding_index(str(tmp_path / "e1"), n_planes=8,
                                   width=12, n_bands=1)
    store.append(embedding_index_rows(seen, 1, 8, width=12))
    got = {(r.doc_a, r.doc_b, round(r.cosine, 9))
           for r in embedding_pairs_cross_indexed(
               new, seen, store.load(spark), 1, 8, tau=0.9,
               width=12).collect()}
    want = {(r.doc_a, r.doc_b, round(r.cosine, 9))
            for r in embedding_pairs_cross(
                new, seen, n_planes=8, tau=0.9, width=12).collect()}
    assert got == want


def test_embedding_banded_index_recall_beats_single_wide_band(spark):
    """The ADVICE r13 motivation, measured: planted cosine~0.93 pairs
    under a 24-bit signature — the corpus-scale single band misses
    most (keep ~p^24), four independent 6-bit bands keep nearly all
    (1-(1-p^6)^4). Deterministic vectors -> pinned counts."""
    import math

    from solana_event_stream_spark.operators.dedup import (
        embedding_pairs_cross, embedding_pairs_cross_banded)

    dim = 32
    n_pairs = 40

    def vec(seed, jitter=0.0):
        v = [math.sin(seed * 2.3 + d * 0.7) for d in range(dim)]
        if jitter:
            v = [x + jitter * math.cos(seed * 5.1 + d * 1.3)
                 for d, x in enumerate(v)]
        return v

    seen = spark.createDataFrame(
        [(i, vec(i)) for i in range(n_pairs)],
        "vec_id long, embedding array<double>")
    new = spark.createDataFrame(
        [(1000 + i, vec(i, jitter=0.25)) for i in range(n_pairs)],
        "vec_id long, embedding array<double>")
    tau = 0.9
    # ground truth: every cross pair above tau by brute-force cosine
    a = new.select(F.col("vec_id").alias("doc_a"),
                   F.col("embedding").alias("ea"))
    b = seen.select(F.col("vec_id").alias("doc_b"),
                    F.col("embedding").alias("eb"))
    dot = F.aggregate(F.zip_with("ea", "eb", lambda x, y: x * y),
                      F.lit(0.0), lambda acc, v: acc + v)
    na = F.sqrt(F.aggregate(F.zip_with("ea", "ea",
                                       lambda x, y: x * y),
                            F.lit(0.0), lambda acc, v: acc + v))
    nb = F.sqrt(F.aggregate(F.zip_with("eb", "eb",
                                       lambda x, y: x * y),
                            F.lit(0.0), lambda acc, v: acc + v))
    truth = {(r.doc_a, r.doc_b) for r in
             a.crossJoin(b).select("doc_a", "doc_b",
                                   (dot / (na * nb)).alias("c"))
             .filter(F.col("c") >= tau).collect()}
    assert len(truth) >= n_pairs // 2   # planted pairs actually >= tau

    single = {(r.doc_a, r.doc_b) for r in embedding_pairs_cross(
        new, seen, n_planes=24, tau=tau, width=dim).collect()}
    banded = {(r.doc_a, r.doc_b) for r in embedding_pairs_cross_banded(
        new, seen, n_bands=4, band_bits=6, tau=tau,
        width=dim).collect()}
    recall_single = len(single & truth) / len(truth)
    recall_banded = len(banded & truth) / len(truth)
    assert recall_banded > recall_single
    assert recall_banded >= 0.8
    # precision is exact on both (every emitted pair is cosine>=tau)
    assert banded <= truth and single <= truth


def surv_frame(new):
    return new.filter(F.col("vec_id").isin(1001, 1002))


def test_store_parameter_guards(spark, tmp_path):
    from solana_event_stream_spark.operators.dedup_index import (
        DedupIndexStore, create_embedding_index, create_minhash_index,
        open_dedup_index)

    mh = create_minhash_index(str(tmp_path / "a"))
    with pytest.raises(ValueError, match="not 'embedding'"):
        mh._require("embedding")
    emb = create_embedding_index(str(tmp_path / "b"), n_planes=12)
    with pytest.raises(ValueError, match="n_planes"):
        emb._require("embedding", n_planes=8)
    with pytest.raises(FileNotFoundError):
        open_dedup_index(str(tmp_path / "missing"))
    with pytest.raises(ValueError, match="non-empty"):
        DedupIndexStore._create(str(tmp_path / "a"), "minhash", {})
    # wrong columns refused
    bad = spark.range(3).select(F.col("id").alias("doc_id"))
    with pytest.raises(ValueError, match="schema"):
        mh.append(bad)
    # right columns, wrong TYPE refused at append time, not at a later
    # multi-directory read (VERDICT r13 item 3)
    mistyped = spark.createDataFrame(
        [(1, 0, 7)], "doc_id long, band_idx int, band_val long")
    with pytest.raises(ValueError, match="schema"):
        mh.append(mistyped)
    # empty store loads an empty, correctly-typed frame
    assert emb.load(spark).count() == 0
    assert set(emb.load(spark).columns) == {"vec_id", "band_idx",
                                            "bucket", "nrm"}
    # a mistyped compact_mode is refused before the trigger writes or
    # commits anything (with or without compaction due), and before a
    # maintenance stream starts
    from solana_event_stream_spark.operators.dedup_index import (
        apply_dedup_maintenance_batch, start_dedup_maintenance_stream)
    docs = spark.createDataFrame([(1, "alpha bravo charlie delta echo")],
                                 "doc_id long, text string")
    cdir, idir = str(tmp_path / "c"), str(tmp_path / "m")
    create_minhash_index(idir)
    assert apply_dedup_maintenance_batch(spark, docs, 0, cdir, idir)
    for every in (1, None):
        with pytest.raises(ValueError, match="compact_mode"):
            apply_dedup_maintenance_batch(
                spark, docs, 1, cdir, idir, compact_every=every,
                compact_mode="tierd")
        st = open_dedup_index(idir)
        assert st.meta["last_stream_batch"] == 0
        assert st.meta["corpus_batches"] == ["batch=0"]
    (tmp_path / "in").mkdir()
    stream = (spark.readStream.schema("doc_id long, text string")
              .parquet(str(tmp_path / "in")))
    with pytest.raises(ValueError, match="compact_mode"):
        start_dedup_maintenance_stream(
            stream, cdir, idir, str(tmp_path / "ck"),
            compact_mode="tierd")


def test_store_orphan_batch_is_invisible_then_overwritten(
        spark, tmp_path):
    """Crash between parquet write and manifest swap: the orphan dir
    is invisible to load() and the next append overwrites it."""
    from solana_event_stream_spark.operators.dedup_index import (
        create_minhash_index, open_dedup_index)

    store = create_minhash_index(str(tmp_path / "mh"))
    rows = spark.createDataFrame(
        [(1, 0, "x"), (2, 1, "y")],
        "doc_id long, band_idx int, band_val string")
    # simulate the crash: write the parquet half only
    rows.write.mode("overwrite").parquet(str(tmp_path / "mh" / "batch=0"))
    assert open_dedup_index(str(tmp_path / "mh")).load(spark).count() == 0
    # recovery: a real append lands on the same batch id
    store.append(rows)
    loaded = open_dedup_index(str(tmp_path / "mh")).load(spark)
    assert loaded.count() == 2


def test_index_compaction_roundtrip(spark, tmp_path):
    """compact() folds N committed batch dirs into one, rows identical;
    appends after compaction never reuse a superseded directory name;
    a reader holding the pre-compaction manifest keeps working."""
    from solana_event_stream_spark.operators.dedup_index import (
        DedupIndexStore, create_minhash_index, minhash_index_rows,
        open_dedup_index)

    path = str(tmp_path / "mh_index")
    store = create_minhash_index(path)
    for i in range(4):
        docs = spark.createDataFrame(
            [(100 * i + j, f"alpha bravo charlie d{i}x{j} echo "
                           f"foxtrot golf hotel india juliet")
             for j in range(5)],
            "doc_id long, text string")
        store.append(minhash_index_rows(docs))
    before = sorted(map(tuple, store.load(spark).collect()))
    old_reader = open_dedup_index(path)          # pre-compaction view

    name = store.compact(spark)
    assert store._batches == [name] == ["batch=4"]
    after = sorted(map(tuple, store.load(spark).collect()))
    assert after == before
    # reopen sees the compacted manifest
    assert open_dedup_index(path)._batches == [name]
    # superseded dirs still on disk: the old reader's view is intact
    assert sorted(map(tuple, old_reader.load(spark).collect())) == before

    # append after compaction: fresh name, data unions in
    docs = spark.createDataFrame(
        [(999, "kilo lima mike november oscar papa quebec romeo "
               "sierra tango")],
        "doc_id long, text string")
    new_name = store.append(minhash_index_rows(docs))
    assert new_name == "batch=5"
    assert store.load(spark).select("doc_id").distinct().count() == 21

    # compacting an empty store is a no-op
    empty = create_minhash_index(str(tmp_path / "empty_index"))
    assert empty.compact(spark) == ""


def test_streaming_maintenance_matches_batch_loop(spark, tmp_path):
    """The streaming maintenance loop (availableNow over 3 one-file
    micro-batches with planted cross-batch and vs-seen near-dups) must
    land the SAME survivors corpus as driving
    apply_dedup_maintenance_batch by hand, replay of a committed batch
    must be a no-op, and compaction must fold the index."""
    import os

    from solana_event_stream_spark.operators.dedup_index import (
        apply_dedup_maintenance_batch, create_minhash_index,
        load_maintained_corpus, open_dedup_index,
        start_dedup_maintenance_stream)

    base = ("alpha bravo charlie delta echo foxtrot golf hotel india "
            "juliet kilo lima mike november oscar papa")

    def doc(i, extra=""):
        return (i, base + f" uniq{i} " + extra if extra
                else base + f" uniq{i}")

    batches = [
        [(1, base + " one"), (2, "totally different words here for "
                                 "the second document of batch zero "
                                 "nothing shared with the template")],
        # 11 near-dups doc 1 (one appended token); 12 fresh
        [(11, base + " one xdup"),
         (12, "another fully distinct document with its own "
              "vocabulary set nothing in common with others")],
        # 21 near-dups 11/1 again; 22 within-batch dup of 23
        [(21, base + " one ydup"),
         (22, "shared within batch text payload aaa bbb ccc ddd eee "
              "fff ggg hhh iii jjj"),
         (23, "shared within batch text payload aaa bbb ccc ddd eee "
              "fff ggg hhh iii jjj zzz")],
    ]

    def run(tag, driver):
        cdir = str(tmp_path / f"corpus_{tag}")
        idir = str(tmp_path / f"index_{tag}")
        create_minhash_index(idir)
        driver(cdir, idir)
        return sorted(r.doc_id for r in
                      load_maintained_corpus(spark, cdir, idir).collect())

    # hand-driven loop
    def by_hand(cdir, idir):
        for bid, rows in enumerate(batches):
            bdf = spark.createDataFrame(rows, "doc_id long, text string")
            assert apply_dedup_maintenance_batch(
                spark, bdf, bid, cdir, idir, compact_every=2)
        # replay of the last batch: committed -> no-op
        bdf = spark.createDataFrame(batches[-1],
                                    "doc_id long, text string")
        assert not apply_dedup_maintenance_batch(
            spark, bdf, len(batches) - 1, cdir, idir)

    want = run("hand", by_hand)
    assert want == [1, 2, 12, 22]   # 11/21 cross-batch dups, 23 within

    # streaming loop over the same batches as files
    sdir = tmp_path / "stream_in"
    sdir.mkdir()
    for bid, rows in enumerate(batches):
        (spark.createDataFrame(rows, "doc_id long, text string")
         .coalesce(1).write.mode("overwrite")
         .parquet(str(sdir / f"b{bid}.parquet")))

    def by_stream(cdir, idir):
        stream = (spark.readStream
                  .schema("doc_id long, text string")
                  .option("maxFilesPerTrigger", 1)
                  .parquet(str(sdir) + "/*"))
        q = start_dedup_maintenance_stream(
            stream, cdir, idir,
            str(tmp_path / "ckpt_stream"), compact_every=2,
            available_now=True)
        q.awaitTermination(120)

    got = run("stream", by_stream)
    assert sorted(got) == sorted(want) or set(got) == {1, 2, 12, 22, 11}
    # (file-trigger order is filename-deterministic here: strict equality)
    assert got == want
    st = open_dedup_index(str(tmp_path / "index_stream"))
    assert len(st._batches) <= 2    # compact_every=2 folded the index
    assert st.meta["last_stream_batch"] == 2


def test_embedding_streaming_maintenance_matches_batch_loop(spark,
                                                            tmp_path):
    """Embedding analog of the maintenance differential: availableNow
    stream over 3 micro-batches with planted cosine near-dups == the
    hand-driven loop; replay no-op; compaction folds the index."""
    import math

    from solana_event_stream_spark.operators.dedup_index import (
        apply_embedding_maintenance_batch, create_embedding_index,
        load_maintained_corpus, open_dedup_index,
        start_embedding_maintenance_stream)

    dim = 8

    def vec(seed, jitter=0.0):
        base = [math.sin(seed * 1.7 + d) for d in range(dim)]
        if jitter:
            base = [x + jitter * math.cos(seed + 9.1 * d)
                    for d, x in enumerate(base)]
        return base

    batches = [
        [(1, vec(1)), (2, vec(2))],
        [(11, vec(1, 0.01)), (12, vec(3))],      # 11 ~ 1
        [(21, vec(2, 0.01)), (22, vec(4)), (23, vec(4, 0.01))],
    ]                                             # 21 ~ 2; 23 ~ 22

    def run(tag, driver):
        cdir = str(tmp_path / f"ecorpus_{tag}")
        idir = str(tmp_path / f"eindex_{tag}")
        create_embedding_index(idir, n_planes=8, width=dim)
        driver(cdir, idir)
        got = load_maintained_corpus(
            spark, cdir, idir,
            empty_schema="vec_id long, embedding array<double>")
        return sorted(r.vec_id for r in got.collect())

    def by_hand(cdir, idir):
        for bid, rows in enumerate(batches):
            bdf = spark.createDataFrame(
                rows, "vec_id long, embedding array<double>")
            assert apply_embedding_maintenance_batch(
                spark, bdf, bid, cdir, idir, compact_every=2)
        bdf = spark.createDataFrame(
            batches[-1], "vec_id long, embedding array<double>")
        assert not apply_embedding_maintenance_batch(
            spark, bdf, len(batches) - 1, cdir, idir)

    want = run("hand", by_hand)
    assert want == [1, 2, 12, 22]

    sdir = tmp_path / "estream_in"
    sdir.mkdir()
    for bid, rows in enumerate(batches):
        (spark.createDataFrame(rows,
                               "vec_id long, embedding array<double>")
         .coalesce(1).write.mode("overwrite")
         .parquet(str(sdir / f"b{bid}.parquet")))

    def by_stream(cdir, idir):
        stream = (spark.readStream
                  .schema("vec_id long, embedding array<double>")
                  .option("maxFilesPerTrigger", 1)
                  .parquet(str(sdir) + "/*"))
        q = start_embedding_maintenance_stream(
            stream, cdir, idir, str(tmp_path / "eckpt"),
            compact_every=2, available_now=True)
        q.awaitTermination(120)

    got = run("stream", by_stream)
    assert got == want
    st = open_dedup_index(str(tmp_path / "eindex_stream"))
    assert len(st._batches) <= 2
    assert st.meta["last_stream_batch"] == 2


def test_stream_token_mismatch_is_a_hard_error(spark, tmp_path):
    """Restarting maintenance with a NEW checkpoint dir restarts
    micro-batch ids at 0; without the token guard those batches were
    silently dropped as replays (ADVICE r13). Same token resumes; a
    different token raises; tokenless direct driving is unchanged."""
    import pytest

    from solana_event_stream_spark.operators.dedup_index import (
        apply_dedup_maintenance_batch, create_minhash_index)

    cdir, idir = str(tmp_path / "c"), str(tmp_path / "i")
    create_minhash_index(idir)
    doc = spark.createDataFrame(
        [(1, "alpha bravo charlie delta echo foxtrot golf hotel")],
        "doc_id long, text string")
    assert apply_dedup_maintenance_batch(
        spark, doc, 0, cdir, idir, stream_token="ckpt/A")
    # same checkpoint: replay of batch 0 is a no-op, batch 1 commits
    assert not apply_dedup_maintenance_batch(
        spark, doc, 0, cdir, idir, stream_token="ckpt/A")
    doc2 = spark.createDataFrame(
        [(2, "totally different words for the second committed doc")],
        "doc_id long, text string")
    assert apply_dedup_maintenance_batch(
        spark, doc2, 1, cdir, idir, stream_token="ckpt/A")
    # NEW checkpoint: loud error, not a silent drop
    with pytest.raises(ValueError, match="paired with streaming"):
        apply_dedup_maintenance_batch(
            spark, doc2, 0, cdir, idir, stream_token="ckpt/B")
    # tokenless (hand-driven) calls keep the legacy id-only contract
    assert not apply_dedup_maintenance_batch(spark, doc2, 1, cdir, idir)


def test_corpus_compaction_roundtrip_and_crash_safety(spark, tmp_path):
    """compact_maintained_corpus folds N trigger corpus dirs into one
    compact=K dir, content identical; the pre-compaction manifest view
    stays readable; a crash before the manifest swap changes nothing;
    later triggers append fresh batch dirs and a second compaction
    picks K+1 (never reusing a superseded name)."""
    import os

    from solana_event_stream_spark.operators.dedup_index import (
        apply_dedup_maintenance_batch, compact_maintained_corpus,
        create_minhash_index, load_maintained_corpus, open_dedup_index)

    cdir, idir = str(tmp_path / "c"), str(tmp_path / "i")
    create_minhash_index(idir)
    for bid in range(5):
        doc = spark.createDataFrame(
            [(bid * 10 + j,
              f"corpus doc b{bid}x{j} with its own distinct words "
              f"w{bid}a{j} w{bid}b{j} w{bid}c{j} w{bid}d{j} w{bid}e{j}")
             for j in range(3)],
            "doc_id long, text string")
        assert apply_dedup_maintenance_batch(spark, doc, bid, cdir, idir)

    before = sorted(map(tuple, load_maintained_corpus(
        spark, cdir, idir).collect()))
    old_store = open_dedup_index(idir)          # pre-compaction view

    # crash simulation: compacted dir half-written, NO manifest swap --
    # loader output unchanged
    os.makedirs(os.path.join(cdir, "compact=0"), exist_ok=True)
    assert sorted(map(tuple, load_maintained_corpus(
        spark, cdir, idir).collect())) == before

    name = compact_maintained_corpus(spark, cdir, idir)
    assert name == "compact=0"
    store = open_dedup_index(idir)
    assert store.meta["corpus_batches"] == [name]
    after = sorted(map(tuple, load_maintained_corpus(
        spark, cdir, idir).collect()))
    assert after == before
    # pre-compaction reader's dirs are still on disk
    old_batches = old_store.meta["corpus_batches"]
    assert all(os.path.isdir(os.path.join(cdir, b)) for b in old_batches)

    # new triggers append; second compaction takes the next seq
    doc = spark.createDataFrame(
        [(999, "a final doc with fresh vocabulary nothing shared "
               "qqq www eee rrr ttt yyy uuu")],
        "doc_id long, text string")
    assert apply_dedup_maintenance_batch(spark, doc, 9, cdir, idir)
    assert compact_maintained_corpus(spark, cdir, idir) == "compact=1"
    got = sorted(map(tuple, load_maintained_corpus(
        spark, cdir, idir).collect()))
    assert got == sorted(before + [(999, doc.collect()[0].text)])
    # single-batch corpus: compaction is a no-op
    assert compact_maintained_corpus(spark, cdir, idir) == ""


def test_maintenance_compact_every_also_compacts_corpus(spark, tmp_path):
    """compact_every folds BOTH stores (VERDICT r13 item 1): after 4
    triggers at compact_every=2, the corpus-batch list is bounded, not
    one dir per trigger."""
    from solana_event_stream_spark.operators.dedup_index import (
        apply_dedup_maintenance_batch, create_minhash_index,
        load_maintained_corpus, open_dedup_index)

    cdir, idir = str(tmp_path / "c"), str(tmp_path / "i")
    create_minhash_index(idir)
    for bid in range(4):
        doc = spark.createDataFrame(
            [(bid, f"trigger {bid} document with distinct words "
                   f"x{bid}a x{bid}b x{bid}c x{bid}d x{bid}e x{bid}f")],
            "doc_id long, text string")
        assert apply_dedup_maintenance_batch(
            spark, doc, bid, cdir, idir, compact_every=2)
    store = open_dedup_index(idir)
    assert len(store._batches) <= 2
    assert len(store.meta["corpus_batches"]) <= 2
    assert sorted(r.doc_id for r in load_maintained_corpus(
        spark, cdir, idir).collect()) == [0, 1, 2, 3]


def test_cross_indexed_coverage_check(spark, tmp_path):
    """check_coverage=True raises when the caller's seen frame misses
    indexed candidate ids (whose pairs would otherwise vanish at the
    verify join, silently ADMITTING near-dups — ADVICE r13)."""
    import pytest

    from solana_event_stream_spark.operators.dedup_index import (
        create_minhash_index, dedup_pairs_cross_indexed,
        minhash_index_rows)

    seen = spark.createDataFrame(
        [(1, "alpha bravo charlie delta echo foxtrot golf hotel india"),
         (2, "one two three four five six seven eight nine ten")],
        "doc_id long, text string")
    new = spark.createDataFrame(
        [(10, "alpha bravo charlie delta echo foxtrot golf hotel "
              "india xx")],
        "doc_id long, text string")
    store = create_minhash_index(str(tmp_path / "mh"))
    store.append(minhash_index_rows(seen))
    idx = store.load(spark)

    full = dedup_pairs_cross_indexed(new, seen, idx,
                                     check_coverage=True)
    assert {(r.doc_a, r.doc_b) for r in full.collect()} == {(10, 1)}

    # seen frame missing doc 1: unchecked silently admits the dup...
    partial = seen.filter(F.col("doc_id") != 1)
    assert dedup_pairs_cross_indexed(new, partial, idx).count() == 0
    # ...checked raises loudly
    with pytest.raises(ValueError, match="does not cover"):
        dedup_pairs_cross_indexed(new, partial, idx,
                                  check_coverage=True).count()


def _span(prefix, n):
    return " ".join(f"{prefix}{i}" for i in range(n))


def test_substring_indexed_matches_recompute_and_accumulates(
        spark, tmp_path):
    """The 'substring' index kind (VERDICT r13 item 2): indexed
    incremental survivors == the recompute form on planted shared
    verbatim spans; committed survivors' fingerprints catch a batch-2
    re-send; indexed cross pairs == the recompute cross pairs."""
    from solana_event_stream_spark.operators.dedup import (
        substring_incremental_survivors, substring_pairs_cross)
    from solana_event_stream_spark.operators.dedup_index import (
        create_substring_index, substring_index_rows,
        substring_incremental_survivors_indexed,
        substring_pairs_cross_indexed)

    k, w = 8, 4
    shared = _span("s", 24)             # >= k+w-1: guaranteed to collide
    seen = spark.createDataFrame(
        [(1, shared + " " + _span("p1_", 4)),
         (2, _span("q", 30))],
        "doc_id long, text string")
    new = spark.createDataFrame(
        [(11, shared + " " + _span("n1_", 3)),   # mostly the seen span
         (12, _span("r", 30)),                   # fresh
         (13, _span("t", 20) + " " + _span("w13_", 2)),  # within-batch
         (14, _span("t", 20) + " " + _span("w14_", 2))], # dup pair
        "doc_id long, text string")

    store = create_substring_index(str(tmp_path / "ss"), k=k, w=w)
    store.append(substring_index_rows(seen, k, w))

    # cross pairs: indexed == recompute
    gotp = {(r.doc_a, r.doc_b, r.n_shared_fps)
            for r in substring_pairs_cross_indexed(
                new, store.load(spark), k=k, w=w).collect()}
    wantp = {(r.doc_a, r.doc_b, r.n_shared_fps)
             for r in substring_pairs_cross(new, seen, k=k,
                                            w=w).collect()}
    assert gotp == wantp and (11, 1) in {p[:2] for p in gotp}

    got = {r.doc_id for r in substring_incremental_survivors_indexed(
        store, new, max_dup_frac=0.5).collect()}
    want = {r.doc_id for r in substring_incremental_survivors(
        new, seen, k=k, w=w, max_dup_frac=0.5).collect()}
    assert got == want == {12}          # 11 vs seen; 13/14 each other
    assert len(store._batches) == 2     # survivors' fps committed

    # a batch-2 re-send of survivor 12's text probes the INDEX alone
    resend = spark.createDataFrame(
        [(120, _span("r", 30) + " " + _span("z", 2))],
        "doc_id long, text string")
    got2 = {r.doc_id for r in substring_incremental_survivors_indexed(
        store, resend, max_dup_frac=0.5, commit=False).collect()}
    assert got2 == set()

    # geometry guard: a probe against a differently-pinned index raises
    import pytest
    with pytest.raises(ValueError, match="parameter mismatch"):
        store._require("substring", k=16, w=w)


def test_substring_streaming_maintenance_matches_batch_loop(
        spark, tmp_path):
    """Streaming exact-substring maintenance == the hand-driven loop;
    replay no-op; compact_every folds index AND corpus."""
    from solana_event_stream_spark.operators.dedup_index import (
        apply_substring_maintenance_batch, create_substring_index,
        load_maintained_corpus, open_dedup_index,
        start_substring_maintenance_stream)

    k, w = 8, 4
    boiler = _span("b", 24)
    batches = [
        [(1, boiler + " " + _span("x1_", 3)), (2, _span("u", 30))],
        [(11, boiler + " " + _span("x11_", 3)),   # span seen in b0
         (12, _span("v", 30))],
        [(21, _span("v", 30) + " " + _span("x21_", 2)),  # ~ doc 12
         (22, _span("y", 30))],
    ]

    def run(tag, driver):
        cdir = str(tmp_path / f"sc_{tag}")
        idir = str(tmp_path / f"si_{tag}")
        create_substring_index(idir, k=k, w=w)
        driver(cdir, idir)
        return sorted(r.doc_id for r in load_maintained_corpus(
            spark, cdir, idir).collect())

    def by_hand(cdir, idir):
        for bid, rows in enumerate(batches):
            bdf = spark.createDataFrame(rows, "doc_id long, text string")
            assert apply_substring_maintenance_batch(
                spark, bdf, bid, cdir, idir, compact_every=2)
        bdf = spark.createDataFrame(batches[-1],
                                    "doc_id long, text string")
        assert not apply_substring_maintenance_batch(
            spark, bdf, len(batches) - 1, cdir, idir)

    want = run("hand", by_hand)
    # doc 1's coverage ~24/27 of the boiler span within batch 0? No:
    # within batch 0 nothing repeats, so 1 and 2 both survive; 11 is
    # dropped against 1's committed span; 21 against 12's.
    assert want == [1, 2, 12, 22]

    sdir = tmp_path / "ss_stream_in"
    sdir.mkdir()
    for bid, rows in enumerate(batches):
        (spark.createDataFrame(rows, "doc_id long, text string")
         .coalesce(1).write.mode("overwrite")
         .parquet(str(sdir / f"b{bid}.parquet")))

    def by_stream(cdir, idir):
        stream = (spark.readStream
                  .schema("doc_id long, text string")
                  .option("maxFilesPerTrigger", 1)
                  .parquet(str(sdir) + "/*"))
        q = start_substring_maintenance_stream(
            stream, cdir, idir, str(tmp_path / "ss_ckpt"),
            compact_every=2, available_now=True)
        q.awaitTermination(120)

    got = run("stream", by_stream)
    assert got == want
    st = open_dedup_index(str(tmp_path / "si_stream"))
    assert len(st._batches) <= 2
    assert len(st.meta["corpus_batches"]) <= 2
    assert st.meta["last_stream_batch"] == 2
    assert st.meta["stream_token"] == str(tmp_path / "ss_ckpt")


def test_embedding_maintenance_quantized_corpus(spark, tmp_path):
    """quantize_corpus=True: same survivor ids as float storage on
    separable planted data (quantization noise ~1/254 << the planted
    jitter margins), int8 batches on disk are materially smaller, the
    loaded corpus dequantizes within the round-trip bound, and mixing
    the flag across restarts is a loud error."""
    import math
    import os

    import pytest

    from solana_event_stream_spark.operators.dedup_index import (
        apply_embedding_maintenance_batch, create_embedding_index,
        load_maintained_corpus, open_dedup_index)
    from solana_event_stream_spark.operators.similarity import (
        dequantize_embeddings_int8)

    dim = 64

    def vec(seed, jitter=0.0):
        v = [math.sin(seed * 1.7 + d * 0.31) for d in range(dim)]
        if jitter:
            v = [x + jitter * math.cos(seed + 9.1 * d)
                 for d, x in enumerate(v)]
        return v

    batches = [
        [(1, vec(1)), (2, vec(2))],
        [(11, vec(1, 0.01)), (12, vec(3))],       # 11 ~ 1 -> dropped
        [(21, vec(2, 0.01)), (22, vec(4))],       # 21 ~ 2 -> dropped
    ]

    def run(tag, quantize):
        cdir = str(tmp_path / f"qc_{tag}")
        idir = str(tmp_path / f"qi_{tag}")
        create_embedding_index(idir, n_planes=8, width=dim)
        for bid, rows in enumerate(batches):
            bdf = spark.createDataFrame(
                rows, "vec_id long, embedding array<double>")
            assert apply_embedding_maintenance_batch(
                spark, bdf, bid, cdir, idir, quantize_corpus=quantize)
        return cdir, idir

    fc, fi = run("float", False)
    qc, qi = run("int8", True)

    want = sorted(r.vec_id for r in load_maintained_corpus(
        spark, fc, fi).collect())
    qraw = load_maintained_corpus(
        spark, qc, qi, empty_schema="vec_id long, scale double, "
                                    "q array<tinyint>")
    assert sorted(r.vec_id for r in qraw.collect()) == want == [1, 2, 12, 22]
    assert open_dedup_index(qi).meta["corpus_quantized"] is True
    # the loader's dequantize form returns floats; mis-pairing raises
    deq = load_maintained_corpus(spark, qc, qi, dequantize=True)
    assert set(deq.columns) == {"vec_id", "embedding"}
    assert deq.count() == 4
    with pytest.raises(ValueError, match="not committed as quantized"):
        load_maintained_corpus(spark, fc, fi, dequantize=True)

    # dequantized round-trip within the scale/254 bound vs the floats
    back = {r.vec_id: r.embedding
            for r in dequantize_embeddings_int8(qraw).collect()}
    orig = {r[0]: r[1] for b in batches for r in b}
    for vid in want:
        scale = max(abs(x) for x in orig[vid])
        assert all(abs(a - b) <= scale / 254 + 1e-12
                   for a, b in zip(orig[vid], back[vid]))

    # storage: int8 materially smaller than float64 at data volumes
    # where row content (not parquet footers) dominates
    from solana_event_stream_spark.operators.similarity import (
        quantize_embeddings_int8)

    def written_bytes(df, path):
        df.coalesce(1).write.mode("overwrite").parquet(path)
        return sum(os.path.getsize(os.path.join(r, f))
                   for r, _, fs in os.walk(path) for f in fs
                   if f.endswith(".parquet"))
    bulk = spark.createDataFrame(
        [(i, vec(i, 0.001 * i)) for i in range(500)],
        "vec_id long, embedding array<double>")
    fbytes = written_bytes(bulk, str(tmp_path / "bulk_float"))
    qbytes = written_bytes(quantize_embeddings_int8(bulk),
                           str(tmp_path / "bulk_int8"))
    assert qbytes < 0.35 * fbytes, (qbytes, fbytes)

    # restarting the loop with the other flag is a hard error
    bdf = spark.createDataFrame([(99, vec(9))],
                                "vec_id long, embedding array<double>")
    with pytest.raises(ValueError, match="corpus_quantized"):
        apply_embedding_maintenance_batch(
            spark, bdf, 9, qc, qi, quantize_corpus=False)


def test_quantized_corpus_serves_ann_directly(spark, tmp_path):
    """End-to-end composition: the int8-quantized MAINTAINED corpus
    (deduped by the streaming loop) is directly the serving tier of
    ann_topk_frames_quantized — no dequantized copy, no float corpus
    anywhere on disk. Neighbors found over the maintained tier match
    the exact float brute force over the same survivors."""
    import hashlib
    import math

    from solana_event_stream_spark.operators.dedup_index import (
        apply_embedding_maintenance_batch, create_embedding_index,
        load_maintained_corpus)
    from solana_event_stream_spark.operators.similarity import (
        ann_topk_frames, ann_topk_frames_quantized)

    dim = 32

    def vec(seed, jitter=0.0):
        v = [int(hashlib.md5(f"sv{seed}_{d}".encode()).hexdigest()[:4],
                 16) / 32767.5 - 1.0 for d in range(dim)]
        if jitter:
            v = [x + jitter * math.cos(seed + 3.7 * d)
                 for d, x in enumerate(v)]
        return v

    cdir, idir = str(tmp_path / "c"), str(tmp_path / "i")
    create_embedding_index(idir, n_planes=6, width=dim)
    for bid in range(3):
        bdf = spark.createDataFrame(
            [(bid * 100 + j, vec(bid * 100 + j)) for j in range(30)]
            + ([(bid * 100 + 90, vec((bid - 1) * 100 + 5, 0.01))]
               if bid else []),          # cross-batch near-dup
            "vec_id long, embedding array<double>")
        assert apply_embedding_maintenance_batch(
            spark, bdf, bid, cdir, idir, quantize_corpus=True)

    qcorpus = load_maintained_corpus(
        spark, cdir, idir,
        empty_schema="vec_id long, scale double, q array<tinyint>")
    fcorpus = load_maintained_corpus(spark, cdir, idir, dequantize=True)
    queries = spark.createDataFrame(
        [(9001, vec(5, 0.05)), (9002, vec(105, 0.05))],
        "query_id long, embedding array<double>")

    got = {(r.query_id, r.rk): r.neighbor_id
           for r in ann_topk_frames_quantized(
               queries, qcorpus, method="brute", k=5,
               exclude_matching_ids=False).collect()}
    want = {(r.query_id, r.rk): r.neighbor_id
            for r in ann_topk_frames(
                queries, fcorpus, method="brute", k=5,
                exclude_matching_ids=False).collect()}
    # top-1 agrees exactly; deeper ranks may swap within the 1/254
    # noise — require >= 4/5 overlap per query
    assert got[(9001, 1)] == want[(9001, 1)] == 5
    assert got[(9002, 1)] == want[(9002, 1)] == 105
    for qid in (9001, 9002):
        g = {v for (q, _), v in got.items() if q == qid}
        w = {v for (q, _), v in want.items() if q == qid}
        assert len(g & w) >= 4


def test_corpus_compaction_is_schema_agnostic_quantized(spark, tmp_path):
    """compact_every folds a QUANTIZED corpus identically: (vec_id,
    scale, q) rows survive the rewrite bit-for-bit and the loop keeps
    running against the compacted tier."""
    import hashlib

    from solana_event_stream_spark.operators.dedup_index import (
        apply_embedding_maintenance_batch, create_embedding_index,
        load_maintained_corpus, open_dedup_index)

    dim = 16

    def vec(seed):
        return [int(hashlib.md5(f"cq{seed}_{d}".encode()).hexdigest()
                    [:4], 16) / 32767.5 - 1.0 for d in range(dim)]

    cdir, idir = str(tmp_path / "c"), str(tmp_path / "i")
    create_embedding_index(idir, n_planes=6, width=dim)
    for bid in range(4):
        bdf = spark.createDataFrame(
            [(bid * 100 + j, vec(bid * 100 + j)) for j in range(8)],
            "vec_id long, embedding array<double>")
        assert apply_embedding_maintenance_batch(
            spark, bdf, bid, cdir, idir, quantize_corpus=True,
            compact_every=2)
    store = open_dedup_index(idir)
    assert len(store.meta["corpus_batches"]) <= 2   # compacted
    assert any(b.startswith("compact=")
               for b in store.meta["corpus_batches"])
    got = load_maintained_corpus(
        spark, cdir, idir,
        empty_schema="vec_id long, scale double, q array<tinyint>")
    rows = {r.vec_id: (r.scale, list(r.q)) for r in got.collect()}
    assert len(rows) == 32                          # nothing lost
    # still int8-typed after the rewrite, and dequantizable
    assert dict(got.dtypes)["q"] == "array<tinyint>"
    deq = load_maintained_corpus(spark, cdir, idir, dequantize=True)
    assert deq.count() == 32


def _curation_batches():
    span = _span("s", 24)                       # verbatim boilerplate
    base_b = _span("b", 40)                     # minhash target
    words = base_b.split(" ")
    words[20] = "CHANGED"       # kills the >=16-token verbatim runs'
    near_b = " ".join(words)    # dominance (fp coverage 0.33 < 0.5,
    #                             measured) but keeps shingle jaccard
    #                             0.854 — caught by MinHash, not the
    #                             substring gate
    return [
        [(1, span + " " + _span("p", 4)), (2, base_b)],
        [(11, span + " " + _span("q", 2)),      # substring-dropped
         (12, near_b),                          # minhash-dropped
         (13, _span("u", 25))],                 # fresh -> survives
    ]


def test_curation_maintenance_composes_both_gates(spark, tmp_path):
    """The composed loop applies the substring coverage gate THEN
    MinHash dedup per trigger: a boilerplate re-send dies at stage 1
    (never reaching the quadratic-ish candidate work), a reworded
    near-dup passes stage 1 and dies at stage 2, fresh docs survive;
    the stream matches the hand-driven loop; replay is a no-op; the
    geometry guard is loud."""
    from solana_event_stream_spark.operators.dedup_index import (
        apply_curation_maintenance_batch, create_minhash_index,
        load_maintained_corpus, open_dedup_index,
        start_curation_maintenance_stream)

    batches = _curation_batches()

    def run(tag, driver):
        cdir = str(tmp_path / f"cc_{tag}")
        idir = str(tmp_path / f"ci_{tag}")
        fdir = str(tmp_path / f"cf_{tag}")
        create_minhash_index(idir)
        driver(cdir, idir, fdir)
        return sorted(r.doc_id for r in load_maintained_corpus(
            spark, cdir, idir).collect())

    def by_hand(cdir, idir, fdir):
        for bid, rows in enumerate(batches):
            bdf = spark.createDataFrame(rows, "doc_id long, text string")
            assert apply_curation_maintenance_batch(
                spark, bdf, bid, cdir, idir, fdir, k=16, w=4,
                compact_every=2)
        bdf = spark.createDataFrame(batches[-1],
                                    "doc_id long, text string")
        assert not apply_curation_maintenance_batch(
            spark, bdf, len(batches) - 1, cdir, idir, fdir, k=16, w=4)

    want = run("hand", by_hand)
    assert want == [1, 2, 13]   # 11 substring-dropped, 12 minhash-dropped

    sdir = tmp_path / "cur_stream_in"
    sdir.mkdir()
    for bid, rows in enumerate(batches):
        (spark.createDataFrame(rows, "doc_id long, text string")
         .coalesce(1).write.mode("overwrite")
         .parquet(str(sdir / f"b{bid}.parquet")))

    def by_stream(cdir, idir, fdir):
        stream = (spark.readStream
                  .schema("doc_id long, text string")
                  .option("maxFilesPerTrigger", 1)
                  .parquet(str(sdir) + "/*"))
        q = start_curation_maintenance_stream(
            stream, cdir, idir, fdir, str(tmp_path / "cur_ckpt"),
            k=16, w=4, compact_every=2, available_now=True)
        q.awaitTermination(120)

    got = run("stream", by_stream)
    assert got == want
    st = open_dedup_index(str(tmp_path / "ci_stream"))
    assert st.meta["last_stream_batch"] == 1
    assert len(st.meta["corpus_batches"]) <= 2
    assert len(st.meta["fp_batches"]) <= 2
    assert (st.meta["substring_k"], st.meta["substring_w"]) == (16, 4)

    # geometry guard: different (k, w) against committed fingerprints
    bdf = spark.createDataFrame([(99, _span("z", 30))],
                                "doc_id long, text string")
    with pytest.raises(ValueError, match="committed fingerprints"):
        apply_curation_maintenance_batch(
            spark, bdf, 5, str(tmp_path / "cc_hand"),
            str(tmp_path / "ci_hand"), str(tmp_path / "cf_hand"),
            k=32, w=4)


def _crash_replay_loop(spark, name, tmp_path):
    """(apply(batch_df, batch_id), batches, id column, the tier dirs a
    trigger-1 crash leaves behind, corpus dir, index dir) for one
    maintenance loop."""
    import os

    from solana_event_stream_spark.operators import dedup_index as di

    cdir, idir, fdir = (str(tmp_path / "c"), str(tmp_path / "i"),
                        str(tmp_path / "f"))
    docs = [spark.createDataFrame(b, "doc_id long, text string")
            for b in _curation_batches()]
    if name == "minhash":
        di.create_minhash_index(idir)
        return (lambda df, bid: di.apply_dedup_maintenance_batch(
                    spark, df, bid, cdir, idir),
                docs, "doc_id",
                [os.path.join(cdir, "batch=1"),
                 os.path.join(idir, "verify=1")], cdir, idir)
    if name == "substring":
        di.create_substring_index(idir, k=16, w=4)
        return (lambda df, bid: di.apply_substring_maintenance_batch(
                    spark, df, bid, cdir, idir),
                docs, "doc_id", [os.path.join(cdir, "batch=1")],
                cdir, idir)
    if name == "curation":
        di.create_minhash_index(idir)
        return (lambda df, bid: di.apply_curation_maintenance_batch(
                    spark, df, bid, cdir, idir, fdir, k=16, w=4),
                docs, "doc_id",
                [os.path.join(cdir, "batch=1"),
                 os.path.join(fdir, "batch=1"),
                 os.path.join(idir, "verify=1")], cdir, idir)
    di.create_embedding_index(idir, n_planes=6, width=8, n_bands=2)
    schema = "vec_id long, embedding array<double>"
    embs = [spark.createDataFrame([(i, _vec(i)) for i in range(12)],
                                  schema),
            # 200 repeats vector 3 exactly: dropped against the corpus
            spark.createDataFrame([(100 + i, _vec(100 + i))
                                   for i in range(4)]
                                  + [(200, _vec(3))], schema)]
    return (lambda df, bid: di.apply_embedding_maintenance_batch(
                spark, df, bid, cdir, idir, quantize_corpus=True,
                keep_float_tier=True),
            embs, "vec_id",
            [os.path.join(cdir, "batch=1"),
             os.path.join(di.float_tier_path(cdir), "batch=1")],
            cdir, idir)


def _committed_state(spark, cdir, idir, id_col):
    from solana_event_stream_spark.operators import dedup_index as di

    st = di.open_dedup_index(idir)
    lists = {k: st.meta.get(k) for k in (
        "last_stream_batch", "corpus_batches", "verify_batches",
        "fp_batches", "float_batches")}
    lists["index_batches"] = list(st._batches)
    surv = sorted(r[0] for r in di.load_maintained_corpus(
        spark, cdir, idir).select(id_col).collect())
    return surv, lists


@pytest.mark.parametrize("loop", ["minhash", "substring", "curation",
                                  "embedding"])
def test_maintenance_crash_replay_single_authority(
        spark, tmp_path, monkeypatch, loop):
    """THE case the single-commit-point design exists for, on every
    maintenance loop: a crash after the trigger's tier dirs land but
    BEFORE the manifest publish leaves only invisible orphans — the
    replay recomputes the trigger against pre-crash state and commits
    the SAME survivors and tier lists a never-crashed run would. (Two
    chained stores would have committed the batch's own features at
    the crash point, and the replay's probe would dedup the batch
    against itself to nothing.)"""
    import os

    from solana_event_stream_spark.operators import dedup_index as di

    apply, batches, id_col, _, cref, iref = _crash_replay_loop(
        spark, loop, tmp_path / "ref")
    for bid, df in enumerate(batches):
        assert apply(df, bid)
    want = _committed_state(spark, cref, iref, id_col)
    # the second batch must lose something, or a replay that deduped
    # itself to nothing could not be told from a correct one
    assert len(want[0]) < sum(df.count() for df in batches)

    apply, batches, id_col, orphans, cdir, idir = _crash_replay_loop(
        spark, loop, tmp_path / "run")
    assert apply(batches[0], 0)

    # crash simulation: the publish (store.append) raises AFTER every
    # tier dir is written
    def boom(self, *a, **kw):
        raise RuntimeError("simulated crash before manifest publish")

    with monkeypatch.context() as m:
        m.setattr(di.DedupIndexStore, "append", boom)
        with pytest.raises(RuntimeError, match="simulated crash"):
            apply(batches[1], 1)
    for d in orphans:                                     # orphans...
        assert os.path.isdir(d), d
    st = di.open_dedup_index(idir)
    assert st.meta["last_stream_batch"] == 0              # ...invisible
    assert st.meta["corpus_batches"] == ["batch=0"]

    # replay: commits batch 1 with the same survivors and tier lists
    # as the never-crashed run
    assert apply(batches[1], 1)
    assert _committed_state(spark, cdir, idir, id_col) == want
    if loop == "curation":
        # 11 substring-dropped, 12 minhash-dropped
        assert want[0] == [1, 2, 13]
    # and a second replay of the committed batch is a no-op
    assert not apply(batches[1], 1)


# ---------------------------------------------------------------------------
# Round 15: narrow verify tiers, candidate pushdown, fp-count deltas,
# tiered compaction (VERDICT r14 items 1, 3, 4, 7)
# ---------------------------------------------------------------------------

def test_verify_tier_pairs_match_raw_text_form(spark, sf_dir, tmp_path):
    """The hashed-shingle verify tier must reproduce the raw-text
    verify exactly: same pair set, same jaccards (xxhash64 collisions
    are the only divergence channel — 2^-64 per pair)."""
    from solana_event_stream_spark.operators.dedup_index import (
        create_minhash_index, dedup_pairs_cross_indexed,
        minhash_index_rows, minhash_verify_rows)

    base = _docs(spark, sf_dir)
    seen = base.filter(F.col("doc_id") % 2 == 0)
    new = base.filter(F.col("doc_id") % 2 == 1)
    store = create_minhash_index(str(tmp_path / "mh"))
    store.append(minhash_index_rows(seen))
    idx = store.load(spark)

    want = _pairs(dedup_pairs_cross_indexed(new, seen, idx))
    tier = minhash_verify_rows(seen).localCheckpoint()
    got = _pairs(dedup_pairs_cross_indexed(new, None, idx,
                                           seen_verify=tier))
    assert got == want and got
    # candidate pushdown: isin path (huge limit) and semi-join
    # fallback (limit 1 always exceeded) both equal
    got_isin = _pairs(dedup_pairs_cross_indexed(
        new, None, idx, seen_verify=tier, candidate_pushdown=100000))
    got_fb = _pairs(dedup_pairs_cross_indexed(
        new, None, idx, seen_verify=tier, candidate_pushdown=1))
    assert got_isin == want and got_fb == want
    with pytest.raises(ValueError, match="exactly one"):
        dedup_pairs_cross_indexed(new, seen, idx, seen_verify=tier)
    with pytest.raises(ValueError, match="exactly one"):
        dedup_pairs_cross_indexed(new, None, idx)


def test_maintenance_loop_never_reads_seen_text(spark, tmp_path):
    """The wide survivors corpus must be WRITE-ONLY for the minhash
    maintenance trigger (VERDICT r14 item 1): physically deleting the
    committed corpus directories between triggers must not affect the
    next trigger's dedup decisions."""
    import shutil

    from solana_event_stream_spark.operators.dedup_index import (
        apply_dedup_maintenance_batch, create_minhash_index,
        open_dedup_index)

    base = ("alpha bravo charlie delta echo foxtrot golf hotel india "
            "juliet kilo lima mike november oscar papa")
    b0 = [(1, base + " one"),
          (2, "totally different words here for the second document "
              "nothing shared with the template")]
    b1 = [(11, base + " one xdup"),     # near-dup of committed doc 1
          (12, "another fully distinct document with its own "
               "vocabulary set nothing in common with the others")]

    cdir, idir = str(tmp_path / "c"), str(tmp_path / "i")
    create_minhash_index(idir)
    assert apply_dedup_maintenance_batch(
        spark, spark.createDataFrame(b0, "doc_id long, text string"),
        0, cdir, idir)
    # nuke the committed corpus text — the verify tier carries the
    # evidence, the trigger must neither need nor touch it
    st = open_dedup_index(idir)
    for b in st.meta["corpus_batches"]:
        shutil.rmtree(f"{cdir}/{b}")
    assert apply_dedup_maintenance_batch(
        spark, spark.createDataFrame(b1, "doc_id long, text string"),
        1, cdir, idir)
    st = open_dedup_index(idir)
    # batch-1's own corpus dir committed; 11 was dropped as a near-dup
    # of seen doc 1 WITHOUT any corpus read
    surv1 = spark.read.parquet(f"{cdir}/batch=1")
    assert sorted(r.doc_id for r in surv1.collect()) == [12]
    assert st.meta["verify_batches"] == ["verify=0", "verify=1"]


def test_pre_r15_manifest_without_verify_tier_is_loud(spark, tmp_path):
    """A manifest with corpus batches but no verify tier (pre-r15)
    must be a loud error, never a silent fallback to the wide corpus
    scan, and it must commit nothing."""
    from solana_event_stream_spark.operators.dedup_index import (
        apply_dedup_maintenance_batch, create_minhash_index,
        open_dedup_index)

    base = ("alpha bravo charlie delta echo foxtrot golf hotel india "
            "juliet kilo lima mike november oscar papa")
    b0 = [(1, base + " one")]
    b1 = [(11, base + " one xdup"), (12, "fresh words entirely "
                                         "disjoint vocabulary here")]
    cdir, idir = str(tmp_path / "c"), str(tmp_path / "i")
    create_minhash_index(idir)
    assert apply_dedup_maintenance_batch(
        spark, spark.createDataFrame(b0, "doc_id long, text string"),
        0, cdir, idir)
    # simulate a pre-r15 store: strip the verify tier from the manifest
    st = open_dedup_index(idir)
    del st.meta["verify_batches"]
    st._write_manifest()
    with pytest.raises(ValueError, match="no verify tier"):
        apply_dedup_maintenance_batch(
            spark, spark.createDataFrame(b1, "doc_id long, text string"),
            1, cdir, idir)
    assert open_dedup_index(idir).meta["last_stream_batch"] == 0


def test_substring_fp_counts_roundtrip_and_probe_equality(
        spark, tmp_path):
    """The (fp, n) count deltas must always equal a recount of the raw
    index — across appends, after compact, and restricted — and the
    count-backed probe must give identical pairs to the re-aggregating
    form (VERDICT r14 item 3)."""
    from solana_event_stream_spark.operators.dedup_index import (
        create_substring_index, substring_index_rows,
        substring_pairs_cross_indexed)

    span = " ".join(f"tok{i}" for i in range(60))
    docs_a = spark.createDataFrame(
        [(1, span + " tail one"), (2, span + " tail two")],
        "doc_id long, text string")
    docs_b = spark.createDataFrame(
        [(3, span + " tail three"),
         (4, "unrelated " + " ".join(f"z{i}" for i in range(60)))],
        "doc_id long, text string")
    store = create_substring_index(str(tmp_path / "ss"), k=32, w=16)
    store.append(substring_index_rows(docs_a, 32, 16))
    store.append(substring_index_rows(docs_b, 32, 16))

    def recount():
        return {(r.fp, r.n) for r in store.load(spark).groupBy("fp")
                .agg(F.count(F.lit(1)).alias("n")).collect()}

    def counted():
        return {(r.fp, r.n) for r in
                store.load_fp_counts(spark).collect()}

    assert counted() == recount() and counted()
    new = spark.createDataFrame([(9, span + " tail nine")],
                                "doc_id long, text string")
    idx = store.load(spark)
    want = {(r.doc_a, r.doc_b, r.n_shared_fps) for r in
            substring_pairs_cross_indexed(new, idx).collect()}
    got = {(r.doc_a, r.doc_b, r.n_shared_fps) for r in
           substring_pairs_cross_indexed(
               new, idx,
               seen_fp_counts=store.load_fp_counts(spark)).collect()}
    assert got == want and got
    store.compact(spark)
    assert store.meta["fpcount_batches"] == ["fpn=2"]
    assert counted() == recount()
    # restriction: counts for the restricted fps only, values unchanged
    some = store.load(spark).select("fp").limit(3)
    sub = {(r.fp, r.n) for r in
           store.load_fp_counts(spark, restrict_to=some).collect()}
    assert sub <= recount()


def test_tiered_compaction_bounds_dirs_and_preserves_rows(
        spark, sf_dir, tmp_path):
    """LSM-tiered partial compaction (VERDICT r14 item 4): dir count
    stays bounded, every fold is same-level, loaded rows always equal
    the union of appends, and a full compact still wins."""
    from solana_event_stream_spark.operators.dedup_index import (
        create_minhash_index, minhash_index_rows, open_dedup_index)

    base = _docs(spark, sf_dir).limit(40).localCheckpoint()
    store = create_minhash_index(str(tmp_path / "mh"))
    total = 0
    for i in range(7):
        part = base.filter(F.col("doc_id") % 7 == i)
        rows = minhash_index_rows(part).localCheckpoint()
        total += rows.count()
        store.append(rows)
        store.compact(spark, max_batches=3)
        assert len(store._batches) <= 5
        assert store.load(spark).count() == total
    st = open_dedup_index(str(tmp_path / "mh"))
    lv = st.meta["batch_levels"]
    # levels record folds; raw appends default to level 0
    assert set(lv) <= set(st._batches)
    assert any(v >= 1 for v in lv.values())   # at least one fold ran
    st.compact(spark)
    assert len(st._batches) == 1
    assert st.load(spark).count() == total
    # post-full-compact: the big dir outranks fresh level-0 appends
    assert list(st.meta["batch_levels"].values())[0] >= 2


def test_tiered_maintenance_matches_full_compaction(spark, tmp_path):
    """compact_mode='tiered' must land the same survivors corpus as
    the full-compaction loop while keeping every family's dir count
    bounded."""
    from solana_event_stream_spark.operators.dedup_index import (
        apply_dedup_maintenance_batch, create_minhash_index,
        load_maintained_corpus, open_dedup_index)

    base = ("alpha bravo charlie delta echo foxtrot golf hotel india "
            "juliet kilo lima mike november oscar papa")
    batches = []
    for b in range(6):
        rows = [(100 * b + 1, base + f" uniq{b}"),
                (100 * b + 2, f"own words {b} " + " ".join(
                    f"w{b}_{j}" for j in range(12)))]
        if b:
            rows.append((100 * b + 3, base + " uniq0 xdup"))
        batches.append(rows)

    def run(tag, mode):
        cdir = str(tmp_path / f"c_{tag}")
        idir = str(tmp_path / f"i_{tag}")
        create_minhash_index(idir)
        for bid, rows in enumerate(batches):
            assert apply_dedup_maintenance_batch(
                spark, spark.createDataFrame(
                    rows, "doc_id long, text string"),
                bid, cdir, idir, compact_every=2, compact_mode=mode)
        st = open_dedup_index(idir)
        got = sorted(r.doc_id for r in
                     load_maintained_corpus(spark, cdir, idir).collect())
        return got, st

    want, _ = run("full", "full")
    got, st = run("tiered", "tiered")
    assert got == want
    assert len(st._batches) <= 4
    assert len(st.meta["corpus_batches"]) <= 4
    assert len(st.meta["verify_batches"]) <= 4


def test_meta_compactor_rejects_mixed_schemas(spark, tmp_path):
    """ADVICE r14: folding schema-mixed family dirs must fail loudly,
    never merge by position."""
    from solana_event_stream_spark.operators.dedup_index import (
        _compact_meta_dirs, create_minhash_index)

    store = create_minhash_index(str(tmp_path / "mh"))
    fam = tmp_path / "fam"
    (spark.createDataFrame([(1, 2.0)], "vec_id long, scale double")
     .write.parquet(str(fam / "batch=0")))
    (spark.createDataFrame([(1, [0.5])],
                           "vec_id long, embedding array<double>")
     .write.parquet(str(fam / "batch=1")))
    store.meta["fam_batches"] = ["batch=0", "batch=1"]
    store._write_manifest()
    with pytest.raises(ValueError, match="schema-mixed"):
        _compact_meta_dirs(spark, str(fam), store, "fam_batches",
                           "fam_seq")


def test_embedding_index_without_n_bands_is_a_format_error(
        spark, tmp_path):
    """ADVICE r14: a pre-multi-band manifest must raise a format error
    instead of dead-code defaulting to n_bands=1."""
    from solana_event_stream_spark.operators.dedup_index import (
        create_embedding_index, embedding_incremental_survivors_indexed,
        open_dedup_index)

    store = create_embedding_index(str(tmp_path / "e"), n_planes=8,
                                   width=4)
    del store.params["n_bands"]
    store._write_manifest()
    store = open_dedup_index(str(tmp_path / "e"))
    emb = spark.createDataFrame([(1, [1.0, 0.0, 0.0, 0.0])],
                                "vec_id long, embedding array<double>")
    with pytest.raises(ValueError, match="multi-band format"):
        embedding_incremental_survivors_indexed(store, emb, emb,
                                                commit=False)


def test_trigger_shuffle_width_knob_sets_and_restores(spark, tmp_path):
    """VERDICT r14 item 7: the per-trigger shuffle-width option must
    apply inside the batch fn and restore the session conf after,
    with identical survivors."""
    from solana_event_stream_spark.operators.dedup_index import (
        create_minhash_index, load_maintained_corpus,
        start_dedup_maintenance_stream)

    before = spark.conf.get("spark.sql.shuffle.partitions")
    rows = [(1, "alpha bravo charlie delta echo foxtrot golf hotel "
                "india juliet kilo lima"),
            (2, "second doc with its own distinct vocabulary nothing "
                "shared at all here")]
    sdir = tmp_path / "in"
    sdir.mkdir()
    (spark.createDataFrame(rows, "doc_id long, text string")
     .coalesce(1).write.parquet(str(sdir / "b0.parquet")))
    cdir, idir = str(tmp_path / "c"), str(tmp_path / "i")
    create_minhash_index(idir)
    stream = (spark.readStream.schema("doc_id long, text string")
              .parquet(str(sdir) + "/*"))
    q = start_dedup_maintenance_stream(
        stream, cdir, idir, str(tmp_path / "ckpt"),
        available_now=True, trigger_shuffle_partitions=4)
    q.awaitTermination(120)
    assert spark.conf.get("spark.sql.shuffle.partitions") == before
    got = sorted(r.doc_id for r in
                 load_maintained_corpus(spark, cdir, idir).collect())
    assert got == [1, 2]


def test_trigger_shuffle_width_context_manager(spark):
    """The knob must set the session's shuffle width inside the block
    and restore the prior value after, including on error; None is a
    no-op."""
    from solana_event_stream_spark.operators.dedup_index import (
        _trigger_shuffle_width)

    key = "spark.sql.shuffle.partitions"
    before = spark.conf.get(key)
    with _trigger_shuffle_width(spark, 8):
        assert spark.conf.get(key) == "8"
    assert spark.conf.get(key) == before
    with pytest.raises(RuntimeError):
        with _trigger_shuffle_width(spark, 8):
            raise RuntimeError("boom")
    assert spark.conf.get(key) == before
    with _trigger_shuffle_width(spark, None):
        assert spark.conf.get(key) == before
    assert spark.conf.get(key) == before


def test_candidate_pushdown_prunes_tier_scan(spark, tmp_path):
    """The isin pushdown must reach the verify-tier parquet scan: on a
    range-laid-out (id-sorted) tier, a small clustered candidate set
    reads only the matching files' row groups — the point-lookup shape
    the maintenance loops claim at 100 TB. Verified via the scan
    node's numOutputRows (the documented metrics recipe)."""
    from solana_event_stream_spark.operators.dedup_index import (
        create_minhash_index, dedup_pairs_cross_indexed,
        minhash_index_rows, minhash_verify_rows)

    def text(i):
        # mutually DISSIMILAR docs (disjoint vocabularies) — the band
        # probe must produce only the planted candidates, not a
        # corpus-wide near-dup clique
        return " ".join(f"d{i}t{j}" for j in range(20))

    seen = spark.createDataFrame(
        [(i, text(i)) for i in range(2000)],
        "doc_id long, text string")
    store = create_minhash_index(str(tmp_path / "mh"))
    store.append(minhash_index_rows(seen))
    tier_path = str(tmp_path / "tier")
    (minhash_verify_rows(seen).repartitionByRange(8, "doc_id")
     .sortWithinPartitions("doc_id")
     .write.parquet(tier_path))
    tier = spark.read.parquet(tier_path)
    # batch near-dups docs 0..9 — candidates cluster in ONE id range
    new = spark.createDataFrame(
        [(9_000_000 + i, text(i) + " xdup") for i in range(10)],
        "doc_id long, text string")

    def tier_scan_rows(df):
        # AQE wraps FileScans inside query-stage leaves where the
        # metrics recipe can't reach them — measure non-adaptive
        # (restored below; the pushdown itself is planner-independent)
        df.collect()
        ep = df._jdf.queryExecution().executedPlan()
        leaves = ep.collectLeaves()
        total, found = 0, False
        for i in range(leaves.length()):
            leaf = leaves.apply(i)
            s = leaf.toString()
            if "tier" in s and leaf.metrics().contains("numOutputRows"):
                total += int(leaf.metrics()
                             .apply("numOutputRows").value())
                found = True
        if not found:
            raise AssertionError("tier scan not found in plan leaves")
        return total

    idx = store.load(spark)
    prev = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        pushed = tier_scan_rows(dedup_pairs_cross_indexed(
            new, None, idx, seen_verify=tier, candidate_pushdown=10000))
        semi = tier_scan_rows(dedup_pairs_cross_indexed(
            new, None, idx, seen_verify=tier))
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", prev)
    assert semi == 2000              # semi-join reads the whole tier
    assert pushed <= 2000 / 8 + 16, pushed   # ~one of 8 range files


def test_vacuum_removes_superseded_and_orphans_only(spark, sf_dir,
                                                    tmp_path):
    """The retention step: superseded pre-compaction dirs and crash
    orphans delete; manifest-referenced dirs, foreign files, and
    dirs younger than the grace window survive; dry_run deletes
    nothing."""
    import os
    import time

    from solana_event_stream_spark.operators.dedup_index import (
        create_minhash_index, minhash_index_rows, open_dedup_index,
        vacuum_dedup_index)

    base = _docs(spark, sf_dir).limit(30).localCheckpoint()
    idir = str(tmp_path / "mh")
    store = create_minhash_index(idir)
    for i in range(3):
        store.append(minhash_index_rows(
            base.filter(F.col("doc_id") % 3 == i)))
    total = store.load(spark).count()
    store.compact(spark)      # batch=0..2 now superseded by batch=3
    # a crash orphan (written, never committed) + a foreign file
    (base.limit(1).write.parquet(os.path.join(idir, "batch=99")))
    with open(os.path.join(idir, "NOTES.txt"), "w") as fh:
        fh.write("not ours")
    # a corpus family with one referenced and one superseded dir
    cdir = str(tmp_path / "corpus")
    base.limit(2).write.parquet(os.path.join(cdir, "batch=0"))
    base.limit(2).write.parquet(os.path.join(cdir, "batch=1"))
    store = open_dedup_index(idir)
    store.meta["corpus_batches"] = ["batch=1"]
    store._write_manifest()

    fams = [(cdir, "corpus_batches")]
    # everything is younger than the grace window -> nothing deletes
    assert vacuum_dedup_index(idir, families=fams,
                              grace_seconds=3600) == {idir: [],
                                                      cdir: []}
    # age everything out, dry-run first
    old = time.time() - 7200
    for d in (idir, cdir):
        for name in os.listdir(d):
            os.utime(os.path.join(d, name), (old, old))
    dry = vacuum_dedup_index(idir, families=fams, grace_seconds=3600,
                             dry_run=True)
    assert sorted(dry[idir]) == ["batch=0", "batch=1", "batch=2",
                                 "batch=99"]
    assert dry[cdir] == ["batch=0"]
    assert os.path.isdir(os.path.join(idir, "batch=0"))  # dry!
    got = vacuum_dedup_index(idir, families=fams, grace_seconds=3600)
    assert got == dry
    left = sorted(os.listdir(idir))
    assert "batch=3" in left and "NOTES.txt" in left
    assert not any(n in left for n in dry[idir])
    assert sorted(os.listdir(cdir)) == ["batch=1"]
    # the store still reads intact after the vacuum
    assert open_dedup_index(idir).load(spark).count() == total


from hypothesis import given, settings, strategies as st

_WORDS = [f"w{i}" for i in range(12)]
_DOC = st.lists(st.sampled_from(_WORDS), min_size=0, max_size=24).map(
    " ".join)


@settings(max_examples=5, deadline=None)
@given(seen_texts=st.lists(_DOC, min_size=1, max_size=8),
       new_texts=st.lists(_DOC, min_size=1, max_size=6))
def test_verify_tier_property_differential(spark, seen_texts, new_texts):
    """Property: for ANY corpus pair drawn from a small shared
    vocabulary (overlaps and degenerate docs arise naturally —
    empties, <3-word docs, identical texts), the hashed-shingle tier
    verify and the raw-text verify produce identical pair sets and
    jaccards through the index probe."""
    from solana_event_stream_spark.operators.dedup_index import (
        dedup_pairs_cross_indexed, minhash_index_rows,
        minhash_verify_rows)

    seen = spark.createDataFrame(
        list(enumerate(seen_texts)), "doc_id long, text string")
    new = spark.createDataFrame(
        [(100 + i, t) for i, t in enumerate(new_texts)],
        "doc_id long, text string")
    idx = minhash_index_rows(seen).localCheckpoint()
    want = _pairs(dedup_pairs_cross_indexed(new, seen, idx))
    got = _pairs(dedup_pairs_cross_indexed(
        new, None, idx, seen_verify=minhash_verify_rows(seen)))
    assert got == want


def test_short_docs_never_band_and_never_crash(spark):
    """Regression for the hypothesis-found ANSI crash: docs with < 3
    words (empty shingle sets) must emit NO band rows — previously
    their all-NULL signatures concat_ws-folded to "" and every short
    doc band-matched every other, with the verify's 0/0 Jaccard
    throwing DIVIDE_BY_ZERO under ANSI. The DuckDB oracle's NULL
    bands never joined, so this also pins cross-engine parity."""
    from solana_event_stream_spark.operators.dedup import (
        _minhash_verified_pairs, dedup_pairs_cross)
    from solana_event_stream_spark.operators.dedup_index import (
        dedup_pairs_cross_indexed, minhash_index_rows,
        minhash_verify_rows)

    seen = spark.createDataFrame(
        [(1, ""), (2, "one two"), (3, "a proper document with many "
                                      "words in a row here")],
        "doc_id long, text string")
    new = spark.createDataFrame(
        [(11, ""), (12, "one two"),
         (13, "a proper document with many words in a row here too")],
        "doc_id long, text string")
    idx = minhash_index_rows(seen)
    assert {r.doc_id for r in idx.select("doc_id").distinct()
            .collect()} == {3}    # short docs emit no index rows
    got = _pairs(dedup_pairs_cross_indexed(new, seen, idx))
    got_t = _pairs(dedup_pairs_cross_indexed(
        new, None, idx, seen_verify=minhash_verify_rows(seen)))
    want = _pairs(dedup_pairs_cross(new, seen))
    assert got == got_t == want == {p for p in want
                                    if p[0] == 13 and p[1] == 3}
    # the self-join finder tolerates short docs too
    assert {(r.doc_a, r.doc_b) for r in _minhash_verified_pairs(
        seen.unionByName(new)).collect()} == {(3, 13)}


def test_zero_vectors_never_pair_never_crash(spark, tmp_path):
    """Zero embeddings have no direction: every cosine path must treat
    them as non-evidence (NULL via try_divide — DuckDB's exact
    division-by-zero semantics) instead of the ANSI DIVIDE_BY_ZERO
    crash two co-bucketed zero vectors used to trigger. They survive
    dedup (nothing matches them) and never appear in pair output."""
    from solana_event_stream_spark.operators.dedup import (
        banded_cosine_pairs, embedding_pairs_cross)
    from solana_event_stream_spark.operators.dedup_index import (
        apply_embedding_maintenance_batch, create_embedding_index,
        load_maintained_corpus)
    from solana_event_stream_spark.operators.similarity import (
        ann_topk_frames)

    z = [0.0, 0.0, 0.0, 0.0]
    seen = spark.createDataFrame(
        [(1, z), (2, z), (3, [1.0, 0.0, 0.0, 0.0])],
        "vec_id long, embedding array<double>")
    new = spark.createDataFrame(
        [(11, z), (12, [1.0, 0.001, 0.0, 0.0])],
        "vec_id long, embedding array<double>")
    got = {(r.doc_a, r.doc_b) for r in
           embedding_pairs_cross(new, seen, n_planes=4,
                                 width=4).collect()}
    assert got == {(12, 3)}
    both = seen.unionByName(new)
    banded = {(r.doc_a, r.doc_b) for r in banded_cosine_pairs(
        both, n_bands=2, band_bits=3, limit=None)
        .filter(F.col("cosine") >= 0.9).collect()}
    assert banded == {(3, 12)}
    # the maintenance loop tolerates zero vectors end to end (they
    # always survive — no evidence against them)
    cdir, idir = str(tmp_path / "c"), str(tmp_path / "i")
    create_embedding_index(idir, n_planes=4, width=4, n_bands=2)
    assert apply_embedding_maintenance_batch(spark, seen, 0, cdir, idir)
    assert apply_embedding_maintenance_batch(spark, new, 1, cdir, idir)
    ids = sorted(r.vec_id for r in load_maintained_corpus(
        spark, cdir, idir, empty_schema="vec_id long, embedding "
                                        "array<double>").collect())
    assert ids == [1, 2, 3, 11]   # 12 deduped vs 3; zeros all survive
    # ANN serving: zero corpus rows rank last (NULL cosine), zero
    # queries return no rows — never a crash
    q = spark.createDataFrame([(100, [1.0, 0.0, 0.0, 0.0]), (101, z)],
                              "query_id long, embedding array<double>")
    rows = ann_topk_frames(q, seen, method="brute", k=2,
                           exclude_matching_ids=False).collect()
    by_q = {}
    for r in rows:
        by_q.setdefault(r.query_id, []).append(r)
    assert by_q[100][0].neighbor_id == 3
    assert all(r.cosine is None for r in by_q.get(101, []))


def test_verify_tier_compaction_keeps_id_clustering(spark, tmp_path):
    """Compacting the verify family must keep the id-clustered layout
    (repartitionByRange + sort) so candidate_pushdown's point lookup
    keeps pruning after every fold — a plain repartition would degrade
    the tier to full-scan shape."""
    import glob

    import pyarrow.parquet as pq

    from solana_event_stream_spark.operators.dedup_index import (
        _compact_meta_dirs, create_minhash_index, minhash_verify_rows)

    def text(i):
        return " ".join(f"d{i}t{j}" for j in range(10))

    store = create_minhash_index(str(tmp_path / "mh"))
    fam = str(tmp_path / "fam")
    for b in range(4):
        docs = spark.createDataFrame(
            [(b * 500 + i, text(b * 500 + i)) for i in range(400)],
            "doc_id long, text string")
        (minhash_verify_rows(docs).sortWithinPartitions("doc_id")
         .write.parquet(f"{fam}/batch={b}"))
    store.meta["fam_batches"] = [f"batch={b}" for b in range(4)]
    store._write_manifest()
    name = _compact_meta_dirs(spark, fam, store, "fam_batches",
                              "fam_seq", n_files=4, order_col="doc_id")
    assert name == "compact=0"
    files = sorted(glob.glob(f"{fam}/compact=0/*.parquet"))
    assert len(files) >= 2
    ranges = []
    for f in files:
        t = pq.read_table(f, columns=["doc_id"])
        ids = t.column("doc_id").to_pylist()
        assert ids == sorted(ids)          # sorted within file
        ranges.append((min(ids), max(ids)))
    ranges.sort()
    for (a_lo, a_hi), (b_lo, b_hi) in zip(ranges, ranges[1:]):
        assert a_hi < b_lo                 # disjoint id ranges
    # rows survive the fold intact
    got = spark.read.parquet(f"{fam}/compact=0").count()
    assert got == 1600


# ---------------------------------------------------------------------------
# r16: full-precision re-rank float tier (VERDICT r15 item 1)
# ---------------------------------------------------------------------------

def _vec(i, d=8):
    import hashlib
    return [int(hashlib.md5(f"ft{i}_{j}".encode()).hexdigest()[:4], 16)
            / 32767.5 - 1.0 for j in range(d)]


def test_float_tier_commits_with_codes_and_loads(spark, tmp_path):
    """keep_float_tier persists the survivors' float originals in the
    SAME manifest publish as the int8 codes: after each trigger the
    manifest lists one float batch per corpus batch, the tier loads as
    the exact survivors (bitwise — these are the originals, not a
    dequantized reconstruction), and an uncommitted float orphan from
    a crash between data and manifest stays invisible."""
    from solana_event_stream_spark.operators.dedup_index import (
        apply_embedding_maintenance_batch, create_embedding_index,
        float_tier_path, load_float_tier, load_maintained_corpus,
        open_dedup_index)

    cdir, idir = str(tmp_path / "c"), str(tmp_path / "i")
    create_embedding_index(idir, n_planes=6, width=8, n_bands=2)
    b0 = spark.createDataFrame([(i, _vec(i)) for i in range(30)],
                               "vec_id long, embedding array<double>")
    b1 = spark.createDataFrame([(100 + i, _vec(100 + i))
                                for i in range(20)],
                               "vec_id long, embedding array<double>")
    assert apply_embedding_maintenance_batch(
        spark, b0, 0, cdir, idir, quantize_corpus=True,
        keep_float_tier=True)
    assert apply_embedding_maintenance_batch(
        spark, b1, 1, cdir, idir, quantize_corpus=True,
        keep_float_tier=True)
    store = open_dedup_index(idir)
    assert store.meta["float_tier"] is True
    assert store.meta["float_batches"] == store.meta["corpus_batches"]
    tier = load_float_tier(spark, cdir, idir)
    got = {r.vec_id: r.embedding for r in tier.collect()}
    inputs = {r.vec_id: r.embedding
              for r in b0.unionByName(b1).collect()}
    # quantized corpus is still the serving/verify source, and the
    # tier covers EXACTLY the committed survivors
    q = load_maintained_corpus(
        spark, cdir, idir,
        empty_schema="vec_id long, scale double, q array<tinyint>")
    assert set(q.columns) == {"vec_id", "scale", "q"}
    surv_ids = {r.vec_id for r in q.select("vec_id").collect()}
    assert set(got) == surv_ids and surv_ids <= set(inputs)
    for vid, emb_vals in got.items():      # bitwise: the originals,
        assert emb_vals == inputs[vid]     # not a dequantized recon
    # a float orphan with no manifest entry is invisible
    extra = spark.createDataFrame([(999, _vec(999))],
                                  "vec_id long, embedding array<double>")
    (extra.write.mode("overwrite")
     .parquet(float_tier_path(cdir) + "/batch=9"))
    assert 999 not in {
        r.vec_id for r in load_float_tier(spark, cdir, idir).collect()}


def test_float_tier_guards_are_loud(spark, tmp_path):
    """The pinned-flag contract: keep_float_tier without
    quantize_corpus raises (a float corpus IS the tier); a restart
    with the other setting raises (partial tier coverage would
    silently under-return at serving); load_float_tier on a
    tier-less manifest raises."""
    from solana_event_stream_spark.operators.dedup_index import (
        apply_embedding_maintenance_batch, create_embedding_index,
        load_float_tier)

    emb = spark.createDataFrame([(i, _vec(i)) for i in range(10)],
                                "vec_id long, embedding array<double>")
    cdir, idir = str(tmp_path / "c"), str(tmp_path / "i")
    create_embedding_index(idir, n_planes=6, width=8, n_bands=2)
    with pytest.raises(ValueError, match="quantize_corpus"):
        apply_embedding_maintenance_batch(
            spark, emb, 0, cdir, idir, keep_float_tier=True)
    assert apply_embedding_maintenance_batch(
        spark, emb, 0, cdir, idir, quantize_corpus=True,
        keep_float_tier=True)
    with pytest.raises(ValueError, match="float_tier"):
        apply_embedding_maintenance_batch(
            spark, emb, 1, cdir, idir, quantize_corpus=True)
    # and the inverse: a quantized-only corpus can't grow a tier
    # mid-life (older survivors would be uncovered)
    cdir2, idir2 = str(tmp_path / "c2"), str(tmp_path / "i2")
    create_embedding_index(idir2, n_planes=6, width=8, n_bands=2)
    assert apply_embedding_maintenance_batch(
        spark, emb, 0, cdir2, idir2, quantize_corpus=True)
    with pytest.raises(ValueError, match="float_tier"):
        apply_embedding_maintenance_batch(
            spark, emb, 1, cdir2, idir2, quantize_corpus=True,
            keep_float_tier=True)
    with pytest.raises(ValueError, match="keep_float_tier"):
        load_float_tier(spark, cdir2, idir2)


def test_float_tier_compacts_and_vacuums_with_the_corpus(spark,
                                                         tmp_path):
    """The tier is one more manifest-listed dir family: full
    compaction folds its batches into one id-clustered dir alongside
    the corpus fold, rows intact; vacuum (with the float family
    passed) deletes the superseded per-trigger dirs after the grace
    window and keeps the referenced fold."""
    import os

    from solana_event_stream_spark.operators.dedup_index import (
        apply_embedding_maintenance_batch, create_embedding_index,
        float_tier_path, load_float_tier, open_dedup_index,
        vacuum_dedup_index)

    cdir, idir = str(tmp_path / "c"), str(tmp_path / "i")
    create_embedding_index(idir, n_planes=6, width=8, n_bands=2)
    for b in range(3):
        emb = spark.createDataFrame(
            [(b * 100 + i, _vec(b * 100 + i)) for i in range(20)],
            "vec_id long, embedding array<double>")
        assert apply_embedding_maintenance_batch(
            spark, emb, b, cdir, idir, quantize_corpus=True,
            keep_float_tier=True,
            compact_every=3 if b == 2 else None)
    store = open_dedup_index(idir)
    assert store.meta["float_batches"] == ["compact=0"]
    assert store.meta["corpus_batches"] == ["compact=0"]
    tier = load_float_tier(spark, cdir, idir)
    q = spark.read.parquet(cdir + "/compact=0")
    n_surv = q.count()
    assert ({r.vec_id for r in tier.select("vec_id").collect()}
            == {r.vec_id for r in q.select("vec_id").collect()})
    fbase = float_tier_path(cdir)
    assert sorted(n for n in os.listdir(fbase)
                  if n.startswith(("batch=", "compact="))) == [
        "batch=0", "batch=1", "batch=2", "compact=0"]
    got = vacuum_dedup_index(
        idir, families=[(cdir, "corpus_batches"),
                        (fbase, "float_batches")],
        grace_seconds=0.0)
    assert sorted(got[fbase]) == ["batch=0", "batch=1", "batch=2"]
    assert sorted(n for n in os.listdir(fbase)
                  if n.startswith(("batch=", "compact="))) == [
        "compact=0"]
    # tier still loads complete off the fold
    assert load_float_tier(spark, cdir, idir).count() == n_surv


def test_range_residual_prunes_semi_join_fallback(spark, tmp_path):
    """VERDICT r15 item 3: above the candidate_pushdown limit the
    fallback is a semi-join PLUS a min/max range residual derived from
    the candidate set — on an id-sorted tier a clustered 50k-candidate
    set keeps coarse row-group pruning (reads ~its covering files)
    where the bare semi-join scans every row."""
    from solana_event_stream_spark.operators.dedup_index import (
        _restrict_to_candidates)

    tier_path = str(tmp_path / "tier")
    (spark.range(200_000).select(
        F.col("id").alias("doc_id"),
        (F.col("id") * 7).alias("payload"))
     .repartitionByRange(8, "doc_id").sortWithinPartitions("doc_id")
     .write.parquet(tier_path))
    tier = spark.read.parquet(tier_path)
    # 50k candidates clustered in the FIRST quarter of the id space
    pairs = (spark.range(50_000)
             .select(F.col("id").alias("doc_b")).localCheckpoint())

    def scan_rows(df):
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
            raise AssertionError("tier scan not in plan leaves")
        return total

    prev = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        # 50k candidates >> the 4096 limit -> semi-join fallback with
        # the range residual
        ranged = scan_rows(
            _restrict_to_candidates(tier, pairs, "doc_id", 4096))
        bare = scan_rows(
            _restrict_to_candidates(tier, pairs, "doc_id", None))
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", prev)
    assert bare == 200_000
    # ids 0..49999 cover ~2-3 of 8 range files (sampling-based
    # boundaries are inexact) -> a fraction of the tier is read
    assert ranged <= 100_000, ranged
    # exactness: both forms restrict to the same rows
    a = _restrict_to_candidates(tier, pairs, "doc_id", 4096)
    b = _restrict_to_candidates(tier, pairs, "doc_id", None)
    assert a.count() == b.count() == 50_000


def test_fp_count_partial_coverage_is_loud_and_compact_heals(
        spark, tmp_path):
    """ADVICE r15: a substring manifest whose fp-count deltas cover
    only SOME committed batches (pre-r15 history + a direct r15
    append) must raise from load_fp_counts — a merely non-empty check
    silently under-counted seen fingerprint populations, admitting
    duplicates of the old corpus. compact() (full or tiered) heals by
    recounting from the folded rows, never by merging the partial
    delta set under a name that claims full coverage."""
    from solana_event_stream_spark.operators.dedup_index import (
        create_substring_index, open_dedup_index, substring_index_rows)

    def docs(lo, n=40):
        return spark.createDataFrame(
            [(lo + i, " ".join(f"w{lo + i}x{j}" for j in range(40)))
             for i in range(n)],
            "doc_id long, text string")

    idir = str(tmp_path / "ss")
    store = create_substring_index(idir, k=8, w=4)
    for b in range(3):
        store.append(substring_index_rows(docs(b * 100), k=8, w=4))
    full_counts = {(r.fp, r.n) for r in
                   store.load_fp_counts(spark).collect()}
    recount = {(r.fp, r.n) for r in
               store.load(spark).groupBy("fp")
               .agg(F.count(F.lit(1)).alias("n")).collect()}
    assert full_counts == recount
    # simulate the pre-r15 + direct-append manifest: drop the first
    # batch's delta from the meta (the dir itself may even remain)
    store.meta["fpcount_batches"] = store.meta["fpcount_batches"][1:]
    store._write_manifest()
    store = open_dedup_index(idir)
    with pytest.raises(ValueError, match="missing or stale"):
        store.load_fp_counts(spark)
    # full compact recounts from the folded rows: counts complete again
    store.compact(spark)
    healed = {(r.fp, r.n) for r in
              store.load_fp_counts(spark).collect()}
    assert healed == recount

    # tiered partial fold with a missing delta inside the fold: the
    # new fpn dir must be a recount of the fold, not a partial merge
    idir2 = str(tmp_path / "ss2")
    store2 = create_substring_index(idir2, k=8, w=4)
    for b in range(3):
        store2.append(substring_index_rows(docs(1000 + b * 100),
                                           k=8, w=4))
    recount2 = {(r.fp, r.n) for r in
                store2.load(spark).groupBy("fp")
                .agg(F.count(F.lit(1)).alias("n")).collect()}
    store2.meta["fpcount_batches"] = store2.meta["fpcount_batches"][1:]
    store2._write_manifest()
    store2 = open_dedup_index(idir2)
    assert store2.compact(spark, max_batches=3) != ""
    healed2 = {(r.fp, r.n) for r in
               store2.load_fp_counts(spark).collect()}
    assert healed2 == recount2


def test_empty_triggers_commit_across_all_loops(spark, tmp_path):
    """r16 hardening: real streams deliver ZERO-ROW triggers (empty
    source files, drained availableNow tails). Every maintenance loop
    must commit them — advancing the manifest's batch id for the
    idempotent-replay contract — rather than crash (the embedding
    loop's within-batch census guard used to raise on an empty
    frame); the serving batch must answer queries over and after
    them."""
    from solana_event_stream_spark.operators.dedup_index import (
        apply_dedup_maintenance_batch, apply_embedding_maintenance_batch,
        apply_substring_maintenance_batch, create_embedding_index,
        create_minhash_index, create_substring_index, load_float_tier,
        open_dedup_index)
    from solana_event_stream_spark.operators.similarity import (
        apply_ann_serving_batch)

    e_docs = spark.createDataFrame([], "doc_id long, text string")
    e_emb = spark.createDataFrame([], "vec_id long, "
                                  "embedding array<double>")
    create_minhash_index(str(tmp_path / "mh"))
    assert apply_dedup_maintenance_batch(
        spark, e_docs, 0, str(tmp_path / "cm"), str(tmp_path / "mh"))
    create_substring_index(str(tmp_path / "ss"))
    assert apply_substring_maintenance_batch(
        spark, e_docs, 0, str(tmp_path / "cs"), str(tmp_path / "ss"))
    cdir, idir = str(tmp_path / "ce"), str(tmp_path / "ie")
    create_embedding_index(idir, n_planes=6, width=8, n_bands=2)
    # empty FIRST trigger on a quantized+float-tier loop, then a real
    # one, then empty again — ids advance 0,1,2 and state is sane
    assert apply_embedding_maintenance_batch(
        spark, e_emb, 0, cdir, idir, quantize_corpus=True,
        keep_float_tier=True)
    emb = spark.createDataFrame(
        [(i, _vec(i)) for i in range(1, 12)],
        "vec_id long, embedding array<double>")
    assert apply_embedding_maintenance_batch(
        spark, emb, 1, cdir, idir, quantize_corpus=True,
        keep_float_tier=True)
    assert apply_embedding_maintenance_batch(
        spark, e_emb, 2, cdir, idir, quantize_corpus=True,
        keep_float_tier=True)
    store = open_dedup_index(idir)
    assert store.meta["last_stream_batch"] == 2
    assert store.meta["corpus_batches"] == ["batch=0", "batch=1",
                                            "batch=2"]
    tier = load_float_tier(spark, cdir, idir)
    assert tier.count() > 0
    # serving (with rerank) still answers over the mixed history, and
    # an EMPTY QUERY batch writes an empty-but-valid output dir
    q = spark.createDataFrame(
        [(100, _vec(3))], "query_id long, embedding array<double>")
    dest = apply_ann_serving_batch(spark, q, 0, cdir, idir,
                                   str(tmp_path / "o"), k=3,
                                   rerank_m=6, method="brute")
    assert spark.read.parquet(dest).count() == 3
    dest0 = apply_ann_serving_batch(spark, e_emb.selectExpr(
        "vec_id as query_id", "embedding"), 1, cdir, idir,
        str(tmp_path / "o"), k=3, rerank_m=6, method="brute")
    assert spark.read.parquet(dest0).count() == 0


def test_restrict_to_candidates_modes_agree_property(spark):
    """Hypothesis differential for the three _restrict_to_candidates
    shapes (isin+between point lookup / semi-join + range residual /
    bare semi-join): same restricted row set for ANY candidate
    multiset — including empty, all-duplicates, ids absent from the
    tier, negative ids, and candidate counts straddling the pushdown
    limit (the r16 range-residual and empty-isin edges)."""
    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st

    from solana_event_stream_spark.operators.dedup_index import (
        _restrict_to_candidates)

    tier = spark.range(0, 400, 7).select(
        F.col("id").alias("doc_id"),
        (F.col("id") * 3).alias("payload")).localCheckpoint()

    @settings(max_examples=12, deadline=None,
              suppress_health_check=[HealthCheck.too_slow])
    @given(st.lists(st.integers(min_value=-50, max_value=450),
                    max_size=40))
    def check(ids):
        pairs = spark.createDataFrame(
            [(i,) for i in ids], "doc_b long").localCheckpoint()
        outs = []
        for limit in (4, 4096, None):   # straddle + fit + semi-only
            got = sorted(
                tuple(r) for r in _restrict_to_candidates(
                    tier, pairs, "doc_id", limit).collect())
            outs.append(got)
        assert outs[0] == outs[1] == outs[2]
        want = sorted((i, i * 3) for i in set(ids)
                      if 0 <= i < 400 and i % 7 == 0)
        assert outs[0] == want

    check()


def test_manual_corpus_compact_preserves_clustering(spark, tmp_path):
    """r16: compact_maintained_corpus (the standalone helper, not the
    loops' internal compaction) must keep the corpus clustered on its
    natural order — a plain repartition used to silently destroy the
    row-group pruning the verify tiers and IVF serving rely on. The
    folded IVF corpus' files must hold disjoint (cell, vec_id)
    ranges; results are row-identical."""
    import glob

    import pyarrow.parquet as pq

    from solana_event_stream_spark.operators.dedup_index import (
        apply_embedding_maintenance_batch, compact_maintained_corpus,
        create_embedding_index, load_maintained_corpus,
        open_dedup_index)

    cents = [_vec(40_000 + j) for j in range(4)]
    cdir, idir = str(tmp_path / "c"), str(tmp_path / "i")
    create_embedding_index(idir, n_planes=8, width=8, n_bands=2,
                           ivf_centroids=cents)
    for b in range(3):
        emb = spark.createDataFrame(
            [(b * 1000 + i, _vec(b * 1000 + i)) for i in range(200)],
            "vec_id long, embedding array<double>")
        assert apply_embedding_maintenance_batch(
            spark, emb, b, cdir, idir, quantize_corpus=True)
    before = {tuple(r) for r in load_maintained_corpus(
        spark, cdir, idir, empty_schema="x int").select(
        "vec_id", "cell").collect()}
    name = compact_maintained_corpus(spark, cdir, idir, n_files=4)
    assert name == "compact=0"
    store = open_dedup_index(idir)
    assert store.meta["corpus_batches"] == ["compact=0"]
    after = {tuple(r) for r in load_maintained_corpus(
        spark, cdir, idir, empty_schema="x int").select(
        "vec_id", "cell").collect()}
    assert after == before
    ranges = []
    for f in sorted(glob.glob(f"{cdir}/compact=0/*.parquet")):
        t = pq.read_table(f, columns=["cell", "vec_id"])
        pairs = list(zip(t.column("cell").to_pylist(),
                         t.column("vec_id").to_pylist()))
        assert pairs == sorted(pairs)       # sorted within file
        ranges.append((pairs[0], pairs[-1]))
    ranges.sort()
    for (_, a_hi), (b_lo, _) in zip(ranges, ranges[1:]):
        assert a_hi <= b_lo                 # disjoint across files


def test_ivf_refit_recovers_recall_after_drift(spark, tmp_path):
    """VERDICT r16 item 2: a corpus whose embedding distribution
    shifts away from the pinned coarse quantizer loses serving recall;
    refit_ivf_centroids re-fits against the current corpus, re-stamps
    every committed cell through the cluster-preserving fold, and
    swaps centroids + corpus in ONE manifest publish. Deterministic
    drift construction: the quantizer is pinned along +-e0, batch 0 is
    a ring around e0, batch 1 (the drift) is a ring around e1 whose
    tiny alternating +-x component scatters NEIGHBORING rows across
    both old cells — so nprobe=1 serving sees exactly every OTHER
    neighbor (recall 0.5). After refit (k-means init: A row id 0 +
    B row id 1 -> centroids converge to the two ring axes) the whole
    drifted ring shares one cell and recall is 1.0. Also pinned:
    per-trigger occupancy telemetry in the manifest, replay
    idempotence across the refit, and new-batch stamping under the
    NEW quantizer."""
    import math

    from solana_event_stream_spark.operators.dedup_index import (
        _assign_ivf_cells, apply_embedding_maintenance_batch,
        create_embedding_index, ivf_cell_occupancy, open_dedup_index,
        refit_ivf_centroids)
    from solana_event_stream_spark.operators.similarity import (
        apply_ann_serving_batch)

    TAU = 0.995

    def a_vec(j, n=12):          # ring around e0, radius 0.5
        t = 2 * math.pi * j / n
        return [1.0, 0.5 * math.cos(t), 0.5 * math.sin(t), 0.0]

    def b_vec(j, n=24):          # drifted ring around e1, radius 0.8,
        t = 2 * math.pi * j / n  # alternating tiny +-x that the OLD
        x = 0.02 if j % 2 == 0 else -0.02   # quantizer splits on
        return [x, 1.0, 0.8 * math.cos(t), 0.8 * math.sin(t)]

    cdir, idir = str(tmp_path / "c"), str(tmp_path / "i")
    odir = str(tmp_path / "serve")
    old = [[1.0, 0.0, 0.0, 0.0], [-1.0, 0.0, 0.0, 0.0]]
    create_embedding_index(idir, n_planes=4, width=4, n_bands=2,
                           ivf_centroids=old)
    schema = "vec_id long, embedding array<double>"
    b0 = spark.createDataFrame(
        [(0, a_vec(0))] + [(10 + j, a_vec(j)) for j in range(1, 12)],
        schema)
    b1 = spark.createDataFrame(
        [(1, b_vec(0))] + [(100 + j, b_vec(j)) for j in range(1, 24)],
        schema)
    assert apply_embedding_maintenance_batch(
        spark, b0, 0, cdir, idir, tau=TAU, quantize_corpus=True,
        keep_float_tier=True)
    assert apply_embedding_maintenance_batch(
        spark, b1, 1, cdir, idir, tau=TAU, quantize_corpus=True,
        keep_float_tier=True)
    store = open_dedup_index(idir)
    # rings are spread below tau: nothing deduped (recall calc needs
    # the full rings)
    assert sorted(store.meta["corpus_batches"]) == [
        "batch=0", "batch=1"]
    n_rows = sum(r.n for r in ivf_cell_occupancy(
        spark, cdir, idir).collect())
    assert n_rows == 36
    # per-trigger occupancy telemetry (a free observation on the
    # corpus write; exact histogram stays on-demand): the drifted
    # batch split across both old cells
    occ = store.meta["ivf_occupancy"]
    assert occ == {"batch": 1, "cells_hit": 2, "rows": 24,
                   "n_cells": 2}

    def recall_at(k, tag):
        """ivf nprobe=1 vs brute over the same codes — isolates the
        cell-miss effect from quantization."""
        qs = spark.createDataFrame(
            [(9000 + j,
              [0.0, 1.0, 0.5 * math.cos(2 * math.pi * (j + 0.3) / 6),
               0.5 * math.sin(2 * math.pi * (j + 0.3) / 6)])
             for j in range(6)], "query_id long, embedding array<double>")
        truth = spark.read.parquet(apply_ann_serving_batch(
            spark, qs, 0, cdir, idir, odir + f"/{tag}_truth", k=k,
            method="brute"))
        got = spark.read.parquet(apply_ann_serving_batch(
            spark, qs, 0, cdir, idir, odir + f"/{tag}_ivf", k=k,
            method="ivf", nprobe=1))
        t = {(r.query_id, r.neighbor_id) for r in truth.collect()}
        g = {(r.query_id, r.neighbor_id) for r in got.collect()}
        return len(t & g) / len(t)

    assert recall_at(4, "pre") == 0.5          # drifted: every other
    cents = refit_ivf_centroids(spark, cdir, idir, iters=6)
    assert recall_at(4, "post") == 1.0         # recovered
    # one atomic publish: new centroids + single re-stamped fold
    store = open_dedup_index(idir)
    assert store.params["ivf_centroids"] == cents
    assert store.meta["corpus_batches"] == ["compact=0"]
    assert store.meta["ivf_refits"] == 1
    # centroids converged to the two ring axes
    assert cents[0][0] > 0.9 and abs(cents[0][1]) < 0.1
    assert cents[1][1] > 0.9 and abs(cents[1][0]) < 0.1
    # the drifted ring now shares ONE cell
    occ_rows = {r.cell: r.n for r in
                ivf_cell_occupancy(spark, cdir, idir).collect()}
    assert occ_rows == {0: 12, 1: 24}
    # replay idempotence across the refit: batch 1 is still committed
    assert not apply_embedding_maintenance_batch(
        spark, b1, 1, cdir, idir, tau=TAU, quantize_corpus=True,
        keep_float_tier=True)
    assert sum(r.n for r in ivf_cell_occupancy(
        spark, cdir, idir).collect()) == 36
    # the next trigger stamps under the NEW quantizer
    b2 = spark.createDataFrame(
        [(200, [0.0, 0.0, 1.0, 0.0]), (201, [0.0, 0.0, -1.0, 0.0]),
         (202, [0.0, 0.0, 0.0, 1.0])], schema)
    assert apply_embedding_maintenance_batch(
        spark, b2, 2, cdir, idir, tau=TAU, quantize_corpus=True,
        keep_float_tier=True)
    want = {r.vec_id: r.cell for r in
            _assign_ivf_cells(b2, cents).collect()}
    got = {r.vec_id: r.cell for r in spark.read.parquet(
        cdir + "/batch=2").select("vec_id", "cell").collect()}
    assert got == want


def test_ivf_refit_resizes_quantizer_with_corpus(spark, tmp_path):
    """The 100 TB sizing rule is n_cells ~ sqrt(corpus): as the corpus
    grows a decade the refit must be able to GROW the quantizer, not
    just re-center it. refit_ivf_centroids(n_cells=8) over an index
    created with 2 centroids republishes an 8-centroid quantizer, the
    corpus re-stamps into >2 occupied cells, serving keeps answering
    (nprobe=all == brute through the new geometry), and a stale
    nprobe sized for the OLD quantizer still validates against the
    new one."""
    import math

    from solana_event_stream_spark.operators.dedup_index import (
        apply_embedding_maintenance_batch, create_embedding_index,
        ivf_cell_occupancy, open_dedup_index, refit_ivf_centroids)
    from solana_event_stream_spark.operators.similarity import (
        apply_ann_serving_batch)

    def vec(j, n=48):            # one ring: refit spreads it over
        t = 2 * math.pi * j / n  # many angular cells
        return [math.cos(t), math.sin(t),
                0.3 * math.cos(3 * t), 0.3 * math.sin(3 * t)]

    cdir, idir = str(tmp_path / "c"), str(tmp_path / "i")
    create_embedding_index(
        idir, n_planes=4, width=4, n_bands=2,
        ivf_centroids=[[1.0, 0.0, 0.0, 0.0], [-1.0, 0.0, 0.0, 0.0]])
    emb = spark.createDataFrame([(j, vec(j)) for j in range(48)],
                                "vec_id long, embedding array<double>")
    assert apply_embedding_maintenance_batch(
        spark, emb, 0, cdir, idir, tau=0.999, quantize_corpus=True,
        keep_float_tier=True)
    assert len({r.cell for r in ivf_cell_occupancy(
        spark, cdir, idir).collect()}) <= 2
    cents = refit_ivf_centroids(spark, cdir, idir, n_cells=8, iters=6)
    assert len(cents) == 8
    store = open_dedup_index(idir)
    assert len(store.params["ivf_centroids"]) == 8
    occ = {r.cell: r.n for r in ivf_cell_occupancy(
        spark, cdir, idir).collect()}
    assert sum(occ.values()) == 48
    assert len(occ) >= 4            # the ring spread across the cells
    # serving through the resized quantizer: nprobe=all == brute
    qs = spark.createDataFrame(
        [(900 + j, vec(j + 0.5)) for j in range(4)],
        "query_id long, embedding array<double>")
    odir = str(tmp_path / "s")
    truth = spark.read.parquet(apply_ann_serving_batch(
        spark, qs, 0, cdir, idir, odir + "/t", k=5, method="brute"))
    got = spark.read.parquet(apply_ann_serving_batch(
        spark, qs, 0, cdir, idir, odir + "/g", k=5, method="ivf",
        nprobe=8))
    assert {(r.query_id, r.neighbor_id, r.rk) for r in got.collect()} \
        == {(r.query_id, r.neighbor_id, r.rk) for r in truth.collect()}
    # shrink is allowed too (an over-provisioned quantizer after
    # heavy vacuuming), and n_cells < 2 is loud
    assert len(refit_ivf_centroids(spark, cdir, idir, n_cells=2,
                                   iters=2)) == 2
    with pytest.raises(ValueError, match="n_cells"):
        refit_ivf_centroids(spark, cdir, idir, n_cells=1)


def test_ivf_refit_advice_flags_drift_and_clears_after_refit(
        spark, tmp_path):
    """The operator-facing drift loop: occupancy telemetry ->
    ivf_refit_advice -> refit_ivf_centroids -> advice clears.
    Deterministic drift: the quantizer is pinned along +-e0, batch 0
    is a ring around e0 and batch 1 (the drift) a ring around e1 with
    a uniformly POSITIVE tiny x — every row of BOTH batches lands in
    cell 0, the exact piling signature (occupied 1/2 cells, largest
    cell 2x ideal). The corpus-fitted refit splits the two rings
    1:1 across the two cells and the recommendation drops at the SAME
    thresholds."""
    import math

    from solana_event_stream_spark.operators.dedup_index import (
        apply_embedding_maintenance_batch, create_embedding_index,
        ivf_refit_advice, refit_ivf_centroids)

    def a_vec(j, n=20):
        t = 2 * math.pi * j / n
        return [1.0, 0.5 * math.cos(t), 0.5 * math.sin(t), 0.0]

    def b_vec(j, n=20):
        t = 2 * math.pi * j / n
        return [0.02, 1.0, 0.8 * math.cos(t), 0.8 * math.sin(t)]

    cdir, idir = str(tmp_path / "c"), str(tmp_path / "i")
    create_embedding_index(
        idir, n_planes=4, width=4, n_bands=2,
        ivf_centroids=[[1.0, 0, 0, 0], [-1.0, 0, 0, 0]])
    schema = "vec_id long, embedding array<double>"
    b0 = spark.createDataFrame(
        [(0, a_vec(0))] + [(10 + j, a_vec(j)) for j in range(1, 20)],
        schema)
    b1 = spark.createDataFrame(
        [(1, b_vec(0))] + [(100 + j, b_vec(j)) for j in range(1, 20)],
        schema)
    assert apply_embedding_maintenance_batch(
        spark, b0, 0, cdir, idir, tau=0.999, quantize_corpus=True,
        keep_float_tier=True)
    assert apply_embedding_maintenance_batch(
        spark, b1, 1, cdir, idir, tau=0.999, quantize_corpus=True,
        keep_float_tier=True)
    thresholds = dict(max_share_threshold=1.5, min_occupied_frac=0.9)
    before = ivf_refit_advice(spark, cdir, idir, **thresholds)
    assert before["refit_recommended"]          # drifted layout
    assert before["occupied_frac"] == 0.5       # cell 1 stranded
    assert before["max_share_x"] == 2.0         # everything in cell 0
    refit_ivf_centroids(spark, cdir, idir, iters=6)
    after = ivf_refit_advice(spark, cdir, idir, **thresholds)
    assert not after["refit_recommended"], after
    assert after["occupied_frac"] == 1.0
    assert after["max_share_x"] == 1.0          # 20/20 split
    assert after["rows"] == before["rows"] == 40
    # no quantizer -> loud
    import pytest as _pt

    cdir2, idir2 = str(tmp_path / "c2"), str(tmp_path / "i2")
    create_embedding_index(idir2, n_planes=4, width=4, n_bands=2)
    assert apply_embedding_maintenance_batch(
        spark, b0, 0, cdir2, idir2, tau=0.999, quantize_corpus=True)
    with _pt.raises(ValueError, match="ivf_centroids"):
        ivf_refit_advice(spark, cdir2, idir2)


def test_embedding_stream_commits_ivf_occupancy_telemetry(spark,
                                                          tmp_path):
    """The per-trigger occupancy record rides a pyspark Observation on
    the corpus write (r17: a separate groupBy job measured 0.74 s —
    ~25% of the trigger floor); Observations must work inside the
    STREAMING loop's foreachBatch too, landing the record in the same
    manifest publish as the batch it describes."""
    import math

    from conftest import stop_streaming_query
    from solana_event_stream_spark.operators.dedup_index import (
        create_embedding_index, open_dedup_index,
        start_embedding_maintenance_stream)

    W = 4
    cents = [[1.0, 0, 0, 0], [0, 1.0, 0, 0], [0, 0, 1.0, 0]]
    cdir, idir = str(tmp_path / "c"), str(tmp_path / "i")
    create_embedding_index(idir, n_planes=4, width=W, n_bands=2,
                           ivf_centroids=cents)
    srcdir = tmp_path / "src"
    srcdir.mkdir()
    for b in range(2):
        rows = [(b * 100 + j,
                 [math.cos(j + b), math.sin(j + b),
                  math.cos(3 * j + b), 0.1 * j]) for j in range(6)]
        (spark.createDataFrame(rows,
                               "vec_id long, embedding array<double>")
         .coalesce(1).write.parquet(str(srcdir / f"b{b}.parquet")))
    stream = (spark.readStream
              .schema("vec_id long, embedding array<double>")
              .option("maxFilesPerTrigger", 1)
              .parquet(str(srcdir) + "/*"))
    q = start_embedding_maintenance_stream(
        stream, cdir, idir, str(tmp_path / "ckpt"),
        available_now=True, quantize_corpus=True)
    try:
        q.awaitTermination(120)
    finally:
        stop_streaming_query(q, spark)
    store = open_dedup_index(idir)
    occ = store.meta.get("ivf_occupancy")
    assert occ is not None and occ["batch"] == 1
    assert occ["n_cells"] == 3 and 1 <= occ["cells_hit"] <= 3
    assert occ["rows"] == spark.read.parquet(
        cdir + "/batch=1").count()


def test_geometry_rebuild_resigns_index_from_maintained_corpus(
        spark, tmp_path):
    """VERDICT-scale follow-through: band geometry must TRACK the
    corpus (scaled_n_planes), and rebuild_embedding_index_geometry
    walks that path without the original raw batches — re-signing
    from the float tier (bitwise the originals), swapping batch list
    + geometry params in one manifest publish. Pinned: rebuilt rows
    == embedding_index_rows(originals) at the new geometry EXACTLY;
    bucket populations shrink at wider bits; the NEXT maintenance
    trigger signs under the new geometry and still catches a planted
    near-dup of an OLD survivor; replay stays idempotent."""
    from solana_event_stream_spark.operators.dedup_index import (
        apply_embedding_maintenance_batch, create_embedding_index,
        embedding_index_rows, load_float_tier, open_dedup_index,
        rebuild_embedding_index_geometry)

    def vec(i, w=16):
        import hashlib
        return [int(hashlib.md5(f"gr{i}_{d}".encode()).hexdigest()[:4],
                    16) / 32767.5 - 1.0 for d in range(w)]

    cdir, idir = str(tmp_path / "c"), str(tmp_path / "i")
    create_embedding_index(idir, n_planes=4, width=16, n_bands=2)
    emb = spark.createDataFrame([(i, vec(i)) for i in range(400)],
                                "vec_id long, embedding array<double>")
    assert apply_embedding_maintenance_batch(
        spark, emb, 0, cdir, idir, quantize_corpus=True,
        keep_float_tier=True)
    store = open_dedup_index(idir)
    old_rows = store.load(spark)
    old_max_bucket = max(r["n"] for r in old_rows.groupBy(
        "band_idx", "bucket").agg(F.count("*").alias("n")).collect())

    out = rebuild_embedding_index_geometry(spark, cdir, idir,
                                           n_planes=9)
    assert out["n_planes"] == 9 and out["n_bands"] == 2
    store = open_dedup_index(idir)
    assert store.params["n_planes"] == 9
    assert store.meta["geometry_rebuilds"] == 1
    assert store._batches == [out["dir"]]
    # ADVICE r17 (medium): the rebuilt full-index dir must outrank
    # every tier (like a full fold) and stale level entries must be
    # dropped — otherwise a routine tiered compact folds the ENTIRE
    # rebuilt index with K-1 level-0 appends (O(seen) rewrite)
    assert store.meta["batch_levels"] == {out["dir"]: 1}
    got = {tuple(r) for r in store.load(spark).collect()}
    tier = load_float_tier(spark, cdir, idir)
    want = {tuple(r) for r in
            embedding_index_rows(tier, 2, 9, width=16).collect()}
    assert got == want                    # bitwise: float-tier source
    new_max_bucket = max(r["n"] for r in store.load(spark).groupBy(
        "band_idx", "bucket").agg(F.count("*").alias("n")).collect())
    assert new_max_bucket < old_max_bucket    # wider bits -> smaller
    # the next trigger signs at 9 planes and the cross probe still
    # catches a planted near-dup of an OLD survivor
    surv0 = {r.vec_id for r in tier.select("vec_id").collect()}
    keep_id = min(surv0)
    dup = [float(x) + 1e-6 for x in
           {r.vec_id: r.embedding for r in tier.collect()}[keep_id]]
    b1 = spark.createDataFrame(
        [(1000, dup), (1001, vec(9001))],
        "vec_id long, embedding array<double>")
    assert apply_embedding_maintenance_batch(
        spark, b1, 1, cdir, idir, quantize_corpus=True,
        keep_float_tier=True)
    surv1 = {r.vec_id for r in load_float_tier(
        spark, cdir, idir).select("vec_id").collect()}
    assert 1000 not in surv1 and 1001 in surv1
    # replay: no-op
    assert not apply_embedding_maintenance_batch(
        spark, b1, 1, cdir, idir, quantize_corpus=True,
        keep_float_tier=True)
    # default sizing: scaled_n_planes over the corpus, floor 8
    out2 = rebuild_embedding_index_geometry(spark, cdir, idir)
    assert out2["n_planes"] == 8              # 401 rows -> floor
    store = open_dedup_index(idir)
    assert store.meta["batch_levels"] == {out2["dir"]: 2}
    # functional half of the ADVICE pin: two fresh level-0 appends
    # then a tiered pass — the fold must take ONLY the appends and
    # leave the rebuilt dir untouched in the manifest
    for mb in (2, 3):
        nxt = spark.createDataFrame(
            [(2000 + mb, vec(7000 + mb))],
            "vec_id long, embedding array<double>")
        assert apply_embedding_maintenance_batch(
            spark, nxt, mb, cdir, idir, quantize_corpus=True,
            keep_float_tier=True)
    store = open_dedup_index(idir)
    appends = [b for b in store._batches if b != out2["dir"]]
    assert len(appends) == 2
    folded = store.compact(spark, max_batches=2)
    assert folded and out2["dir"] in store._batches
    assert set(store._batches) == {out2["dir"], folded}
    # guards
    import pytest as _pt
    cdir2, idir2 = str(tmp_path / "c2"), str(tmp_path / "i2")
    create_embedding_index(idir2, n_planes=4, width=16, n_bands=2)
    with _pt.raises(ValueError, match="no committed"):
        rebuild_embedding_index_geometry(spark, cdir2, idir2)


def test_maintenance_stream_auto_refits_on_drift(spark, tmp_path):
    """VERDICT r17 item 3: the drift loop CLOSED inside the stream —
    refit_check_every=N runs ivf_refit_advice's narrow scan every N
    committed triggers and refits when it fires, no hand-polling.
    Deterministic drift (the r17 recovery fixture): quantizer pinned
    along +-e0; ring A (12 rows) lands in cell 0; the drifted ring B
    (12 rows around e1, alternating tiny +-x) scatters NEIGHBORING
    rows across both old cells, so nprobe=1 serving sees every OTHER
    neighbor (recall exactly 0.5). The loop's own check at trigger 2
    fires at max_share 1.54 > 1.25, the refit splits the rings 1:1,
    recall recovers to 1.0, the SAME thresholds then clear, and
    replay/restart never refits twice."""
    import math

    from conftest import stop_streaming_query
    from solana_event_stream_spark.operators.dedup_index import (
        apply_embedding_maintenance_batch, create_embedding_index,
        ivf_refit_advice, open_dedup_index,
        start_embedding_maintenance_stream)
    from solana_event_stream_spark.operators.similarity import (
        apply_ann_serving_batch)

    TAU = 0.995
    THRESH = dict(max_share_threshold=1.25, min_occupied_frac=0.4)

    def a_vec(j, n=12):
        t = 2 * math.pi * j / n
        return [1.0, 0.5 * math.cos(t), 0.5 * math.sin(t), 0.0]

    def b_vec(j, n=12):
        t = 2 * math.pi * j / n
        x = 0.02 if j % 2 == 0 else -0.02
        return [x, 1.0, 0.8 * math.cos(t), 0.8 * math.sin(t)]

    cdir, idir = str(tmp_path / "c"), str(tmp_path / "i")
    odir = str(tmp_path / "serve")
    create_embedding_index(idir, n_planes=4, width=4, n_bands=2,
                           ivf_centroids=[[1.0, 0, 0, 0],
                                          [-1.0, 0, 0, 0]])
    schema = "vec_id long, embedding array<double>"
    srcdir = tmp_path / "src"
    srcdir.mkdir()
    (spark.createDataFrame(
        [(0, a_vec(0))] + [(10 + j, a_vec(j)) for j in range(1, 12)],
        schema).coalesce(1).write.parquet(str(srcdir / "f0.parquet")))
    (spark.createDataFrame(
        [(1, b_vec(0))] + [(100 + j, b_vec(j)) for j in range(1, 12)],
        schema).coalesce(1).write.parquet(str(srcdir / "f1.parquet")))

    def run_stream():
        stream = (spark.readStream.schema(schema)
                  .option("maxFilesPerTrigger", 1)
                  .parquet(str(srcdir) + "/*"))
        q = start_embedding_maintenance_stream(
            stream, cdir, idir, str(tmp_path / "ckpt"), tau=TAU,
            available_now=True, quantize_corpus=True,
            keep_float_tier=True, refit_check_every=2,
            refit_kwargs=dict(iters=6, **THRESH))
        try:
            q.awaitTermination(180)
        finally:
            stop_streaming_query(q, spark)

    def recall_at4(tag):
        qs = spark.createDataFrame(
            [(9000 + j,
              [0.0, 1.0, 0.5 * math.cos(2 * math.pi * (j + 0.3) / 6),
               0.5 * math.sin(2 * math.pi * (j + 0.3) / 6)])
             for j in range(6)], "query_id long, embedding array<double>")
        t = {(r.query_id, r.neighbor_id) for r in spark.read.parquet(
            apply_ann_serving_batch(spark, qs, 0, cdir, idir,
                                    odir + f"/{tag}_t", k=4,
                                    method="brute")).collect()}
        g = {(r.query_id, r.neighbor_id) for r in spark.read.parquet(
            apply_ann_serving_batch(spark, qs, 0, cdir, idir,
                                    odir + f"/{tag}_g", k=4,
                                    method="ivf", nprobe=1)).collect()}
        return len(t & g) / len(t)

    # phase 1: two triggers (batch 0, 1) — the check cadence is every
    # 2nd batch and batch 0 never checks, so NO refit yet; the
    # drifted layout serves at recall 0.5
    run_stream()
    store = open_dedup_index(idir)
    assert store.meta.get("ivf_refits") is None
    assert "auto_refit_check" not in store.meta
    assert recall_at4("pre") == 0.5
    assert ivf_refit_advice(spark, cdir, idir,
                            **THRESH)["refit_recommended"]

    # phase 2: one more source file -> batch 2 commits, the loop's
    # own check fires, the loop refits ITSELF
    (spark.createDataFrame([(200, [0.0, 0.0, 1.0, 0.0]),
                            (201, [0.0, 0.0, -1.0, 0.0])], schema)
     .coalesce(1).write.parquet(str(srcdir / "f2.parquet")))
    run_stream()
    store = open_dedup_index(idir)
    assert store.meta["ivf_refits"] == 1
    rec = store.meta["auto_refit_check"]
    assert rec["batch"] == 2 and rec["refit_ran"]
    assert recall_at4("post") == 1.0          # recovered, by the loop
    after = ivf_refit_advice(spark, cdir, idir, **THRESH)
    assert not after["refit_recommended"], after

    # replay idempotence: a direct replay of a committed trigger is a
    # no-op (no second commit, so no second check/refit)...
    b1 = spark.read.parquet(str(srcdir / "f1.parquet"))
    assert not apply_embedding_maintenance_batch(
        spark, b1, 1, cdir, idir, tau=TAU, quantize_corpus=True,
        keep_float_tier=True, stream_token=str(tmp_path / "ckpt"))
    # ...and a stream restart with no new data never re-checks
    run_stream()
    store = open_dedup_index(idir)
    assert store.meta["ivf_refits"] == 1
    assert store.meta["auto_refit_check"]["batch"] == 2

    # guards: the knob is loud at start, before any trigger runs
    import pytest as _pt
    idir2 = str(tmp_path / "i2")
    create_embedding_index(idir2, n_planes=4, width=4, n_bands=2)
    stream = (spark.readStream.schema(schema)
              .parquet(str(srcdir) + "/*"))
    with _pt.raises(ValueError, match="ivf_centroids"):
        start_embedding_maintenance_stream(
            stream, cdir, idir2, str(tmp_path / "ck2"),
            refit_check_every=2)
    with _pt.raises(ValueError, match=">= 1"):
        start_embedding_maintenance_stream(
            stream, cdir, idir, str(tmp_path / "ck3"),
            refit_check_every=0)


def test_minhash_geometry_rebuild_rebases_on_hashed_shingles(
        spark, tmp_path):
    """VERDICT r17 item 4: the minhash half of geometry adaptation.
    Default indexes band md5-derived shingle ints that exist nowhere
    in the maintained state, so their geometry was pinned forever;
    rebuild_minhash_index_geometry RE-BASES banding on the committed
    xxhash64 verify tier (a complete record of every survivor's
    shingle set) and publishes geometry + basis + batch list in one
    manifest swap. Pinned: rebuilt rows bitwise-equal a fresh build
    at the new geometry from the same corpus; the manifest flips to
    band_basis=xxhash64 with batch_levels outranking tiers; the NEXT
    maintenance trigger signs under the new geometry and still drops
    a planted near-dup of an OLD survivor; replay stays idempotent;
    a second (default-args) rebuild is stable; band-rows-without-
    verify-tier is loud."""
    from solana_event_stream_spark.operators.dedup import (
        bands_from_hashed_shingles)
    from solana_event_stream_spark.operators.dedup_index import (
        apply_dedup_maintenance_batch, create_minhash_index,
        minhash_index_rows, minhash_verify_rows, open_dedup_index,
        rebuild_minhash_index_geometry)

    def text(i):
        return (f"alpha bravo charlie tok{i} delta echo foxtrot "
                f"golf hotel india juliet kilo")

    cdir, idir = str(tmp_path / "c"), str(tmp_path / "i")
    create_minhash_index(idir)
    for b in range(2):
        docs = spark.createDataFrame(
            [(b * 100 + i, text(b * 100 + i)) for i in range(20)],
            "doc_id long, text string")
        assert apply_dedup_maintenance_batch(
            spark, docs, b, cdir, idir)
    store = open_dedup_index(idir)
    assert store.params.get("band_basis") is None      # md5 default
    old_rows = {tuple(r) for r in store.load(spark).collect()}

    out = rebuild_minhash_index_geometry(spark, idir, n_bands=4,
                                         rows_per_band=5)
    assert out["n_bands"] == 4 and out["rows_per_band"] == 5
    assert out["band_basis"] == "xxhash64"
    store = open_dedup_index(idir)
    assert store.params["band_basis"] == "xxhash64"
    assert store.params["n_bands"] == 4
    assert store.params["rows_per_band"] == 5
    assert store.params["n_hashes"] == 20
    assert store.meta["geometry_rebuilds"] == 1
    assert store._batches == [out["dir"]]
    assert store.meta["batch_levels"] == {out["dir"]: 1}
    got = {tuple(r) for r in store.load(spark).collect()}
    assert got != old_rows                    # genuinely re-signed
    # bitwise: fresh-build rows at the new geometry from the same
    # corpus (the verify tier IS minhash_verify_rows of the corpus)
    corpus = spark.read.parquet(cdir + "/batch=0", cdir + "/batch=1")
    want = {tuple(r) for r in bands_from_hashed_shingles(
        minhash_verify_rows(corpus), 4, 5).collect()}
    assert got == want and len(got) == 40 * 4
    assert max(r[1] for r in got) == 3        # band_idx at 4 bands

    # the next trigger signs under the NEW basis/geometry and the
    # cross-probe still drops a planted near-dup of an OLD survivor
    b2 = spark.createDataFrame(
        [(500, text(3) + " extra"),
         (501, "zulu yankee xray tok999 whiskey victor uniform "
               "tango sierra romeo quebec papa")],
        "doc_id long, text string")
    assert apply_dedup_maintenance_batch(spark, b2, 2, cdir, idir)
    surv2 = {r.doc_id for r in
             spark.read.parquet(cdir + "/batch=2").collect()}
    assert surv2 == {501}
    store = open_dedup_index(idir)
    new_rows = [r for r in store.load(spark).collect()
                if r.doc_id == 501]
    assert len(new_rows) == 4                 # 4 bands
    assert all(r.band_val.count("_") == 4 for r in new_rows)  # 5 rows
    # replay idempotence
    assert not apply_dedup_maintenance_batch(spark, b2, 2, cdir, idir)

    # default-args rebuild keeps geometry, re-signs bitwise-stable
    out2 = rebuild_minhash_index_geometry(spark, idir)
    assert (out2["n_bands"], out2["rows_per_band"]) == (4, 5)
    store = open_dedup_index(idir)
    assert store.meta["geometry_rebuilds"] == 2
    corpus3 = spark.read.parquet(cdir + "/batch=0", cdir + "/batch=1",
                                 cdir + "/batch=2")
    want3 = {tuple(r) for r in bands_from_hashed_shingles(
        minhash_verify_rows(corpus3), 4, 5).collect()}
    assert {tuple(r) for r in store.load(spark).collect()} == want3

    # guard: committed band rows with no verify tier is loud
    import pytest as _pt
    idir2 = str(tmp_path / "i2")
    st2 = create_minhash_index(idir2)
    st2.append(minhash_index_rows(spark.createDataFrame(
        [(1, text(1))], "doc_id long, text string")))
    with _pt.raises(ValueError, match="verify tier"):
        rebuild_minhash_index_geometry(spark, idir2)


def test_battery_pushdown_part_matches_and_prunes(spark, sf_dir,
                                                  tmp_path):
    """VERDICT r17 item 8 (the oracle row for candidate pushdown) —
    local halves of the driver's hash check: (a) the battery's
    index_probe_pushdown part returns EXACTLY the index_probe pairs
    (same committed index, different access path), (b) the embedding
    pushdown genuinely reaches the seen-side parquet scan: on an
    id-sorted tier a small clustered candidate set reads ~one range
    file's rows, the point-lookup shape (embedding twin of
    test_candidate_pushdown_prunes_tier_scan)."""
    import hashlib

    from solana_event_stream_spark.operators.dedup import (
        _indexed_cross_probe)
    from solana_event_stream_spark.operators.dedup_index import (
        embedding_index_rows, embedding_pairs_cross_indexed)

    out = _indexed_cross_probe(spark, sf_dir,
                               with_pushdown=True).toPandas()
    p2 = out[out.part == "index_probe"].drop(columns="part")
    p3 = out[out.part == "index_probe_pushdown"].drop(columns="part")
    assert len(p2) > 0
    assert (sorted(map(tuple, p2.values.tolist()))
            == sorted(map(tuple, p3.values.tolist())))

    # 64 dims: random 16-bit band collisions are ~2^-16 per pair (at
    # 8 dims the sign-space is too small and ~40 stray candidates
    # scatter across every id range, defeating the file pruning this
    # test asserts) — the planted exact dups are the only candidates
    W = 64

    def vec(i):
        return [int(hashlib.md5(f"pp{i}_{d}".encode()).hexdigest()[:4],
                    16) / 32767.5 - 1.0 for d in range(W)]

    seen = spark.createDataFrame([(i, vec(i)) for i in range(2000)],
                                 "vec_id long, embedding array<double>")
    tier_path = str(tmp_path / "tier")
    (seen.repartitionByRange(8, "vec_id")
     .sortWithinPartitions("vec_id").write.parquet(tier_path))
    tier = spark.read.parquet(tier_path)
    idx = embedding_index_rows(seen, 2, 16, width=W).localCheckpoint()
    # exact copies of vecs 0..9: identical signatures -> the
    # candidates cluster in ONE id range of the sorted tier
    new = spark.createDataFrame(
        [(9_000_000 + i, vec(i)) for i in range(10)],
        "vec_id long, embedding array<double>")

    def tier_scan_rows(df):
        df.collect()
        ep = df._jdf.queryExecution().executedPlan()
        leaves = ep.collectLeaves()
        total, found = 0, False
        for i in range(leaves.length()):
            leaf = leaves.apply(i)
            if ("tier" in leaf.toString()
                    and leaf.metrics().contains("numOutputRows")):
                total += int(leaf.metrics()
                             .apply("numOutputRows").value())
                found = True
        if not found:
            raise AssertionError("tier scan not found in plan leaves")
        return total

    prev = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        pushed = tier_scan_rows(embedding_pairs_cross_indexed(
            new, tier, idx, 2, 16, tau=0.99, width=W,
            candidate_pushdown=10000))
        semi = tier_scan_rows(embedding_pairs_cross_indexed(
            new, tier, idx, 2, 16, tau=0.99, width=W))
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", prev)
    assert semi == 2000              # semi-join reads the whole tier
    assert pushed <= 2000 / 8 + 16, pushed   # ~one of 8 range files


def test_minhash_rows_for_threshold_sizing_rule():
    """The rebuild's sizing rule: r = ln(1/b)/ln(J*) places the banded
    S-curve midpoint at the target Jaccard. Pinned: round-trips the
    creation-time default; is monotone (higher threshold at fixed b ->
    steeper bands, i.e. r grows as J* -> 1); midpoint check both
    directions; loud on degenerate inputs."""
    import pytest

    from solana_event_stream_spark.operators.dedup import (
        minhash_rows_for_threshold)

    # the default geometry's own midpoint: (1/3)^(1/4) ~ 0.7598
    assert minhash_rows_for_threshold(0.76, 3) == 4
    # inverting the identity at other points
    assert minhash_rows_for_threshold((1 / 3) ** (1 / 5), 3) == 5
    assert minhash_rows_for_threshold((1 / 4) ** (1 / 6), 4) == 6
    # monotone in the threshold at fixed bands
    rs = [minhash_rows_for_threshold(j, 3)
          for j in (0.5, 0.7, 0.8, 0.9, 0.95)]
    assert rs == sorted(rs) and rs[0] < rs[-1]
    # single band: P(J*) = 0.5 rule
    assert minhash_rows_for_threshold(0.5, 1) == 1
    # floor/cap and guards
    assert minhash_rows_for_threshold(0.01, 3) == 1
    assert minhash_rows_for_threshold(0.999, 3) == 64
    with pytest.raises(ValueError, match="j_threshold"):
        minhash_rows_for_threshold(1.0)
    with pytest.raises(ValueError, match="n_bands"):
        minhash_rows_for_threshold(0.8, 0)

def test_minhash_index_advice_flags_piles_and_clears_after_rebuild(
        spark, tmp_path):
    """The minhash drift loop closed (r18): bucket-population
    telemetry -> minhash_index_advice -> rebuild at a steeper
    geometry (rows_per_band from minhash_rows_for_threshold) ->
    advice clears at the SAME thresholds. Fixture: 60 variants of one
    base doc, each swapping two words (pairwise Jaccard 0.2-0.5 —
    BELOW the 0.6 verify threshold, so the maintenance loop keeps all
    of them; boilerplate families look exactly like this) — their
    shared shingle core makes ~60% of each doc's minima come from the
    common set, so at the creation geometry (r=4) they pile into
    shared band buckets (measured: max bucket 7, size-biased mean
    1.74) and at r=10 the piles disperse (2 / 1.01). The advice
    prices the probe's candidate volume: expected candidates per
    probe row IS the size-biased mean."""
    from solana_event_stream_spark.operators.dedup import (
        minhash_rows_for_threshold)
    from solana_event_stream_spark.operators.dedup_index import (
        apply_dedup_maintenance_batch, create_minhash_index,
        minhash_index_advice, rebuild_minhash_index_geometry)

    base = [f"w{j}" for j in range(20)]

    def text(i):
        w = list(base)
        w[(i * 7) % 20] = f"var{i}a"
        w[(i * 7 + 4) % 20] = f"var{i}b"
        return " ".join(w)

    cdir, idir = str(tmp_path / "c"), str(tmp_path / "i")
    create_minhash_index(idir)
    docs = spark.createDataFrame(
        [(i, text(i)) for i in range(60)], "doc_id long, text string")
    assert apply_dedup_maintenance_batch(spark, docs, 0, cdir, idir)
    surv0 = spark.read.parquet(cdir + "/batch=0").count()
    # docs 20 apart reuse replacement positions and land J >= 0.6 —
    # the loop dedups those few; the sub-threshold bulk is kept
    assert surv0 >= 50

    thresholds = dict(size_biased_threshold=1.5,
                      max_bucket_threshold=4)
    before = minhash_index_advice(spark, idir, **thresholds)
    assert before["rebuild_recommended"], before
    assert before["n_rows"] == surv0 * 3
    assert before["band_basis"] == "md5"
    assert before["rows_per_band"] == 4

    r = minhash_rows_for_threshold(0.9, before["n_bands"])
    assert r == 10
    out = rebuild_minhash_index_geometry(spark, idir,
                                         rows_per_band=r)
    assert out["rows_per_band"] == 10
    after = minhash_index_advice(spark, idir, **thresholds)
    assert not after["rebuild_recommended"], after
    assert after["band_basis"] == "xxhash64"
    assert after["rows_per_band"] == 10
    assert after["size_biased_mean"] < before["size_biased_mean"]
    assert after["max_bucket"] <= 4

    # the loop still catches an EXACT dup post-rebuild (identical
    # minima at any geometry), and telemetry reflects the new batch
    b1 = spark.createDataFrame(
        [(500, text(3)), (501, " ".join(f"z{j}" for j in range(20)))],
        "doc_id long, text string")
    assert apply_dedup_maintenance_batch(spark, b1, 1, cdir, idir)
    surv = {r_.doc_id for r_ in
            spark.read.parquet(cdir + "/batch=1").collect()}
    assert surv == {501}
    assert minhash_index_advice(
        spark, idir, **thresholds)["n_rows"] == (surv0 + 1) * 3


def test_minhash_stream_auto_rebuilds_on_bucket_piles(spark, tmp_path):
    """The minhash drift loop closed INSIDE the stream (r18, the
    refit_check_every twin): rebuild_check_every=N runs the advice
    scan every N committed triggers and rebuilds to the target
    geometry when it fires — at most once per target (the at-target
    guard), with replay/restart never rebuilding twice. Same
    boilerplate-family fixture as the advice test."""
    from conftest import stop_streaming_query
    from solana_event_stream_spark.operators.dedup_index import (
        apply_dedup_maintenance_batch, create_minhash_index,
        open_dedup_index, start_dedup_maintenance_stream)

    base = [f"w{j}" for j in range(20)]

    def text(i):
        w = list(base)
        w[(i * 7) % 20] = f"var{i}a"
        w[(i * 7 + 4) % 20] = f"var{i}b"
        return " ".join(w)

    cdir, idir = str(tmp_path / "c"), str(tmp_path / "i")
    create_minhash_index(idir)
    schema = "doc_id long, text string"
    srcdir = tmp_path / "src"
    srcdir.mkdir()
    (spark.createDataFrame([(i, text(i)) for i in range(60)], schema)
     .coalesce(1).write.parquet(str(srcdir / "f0.parquet")))
    (spark.createDataFrame(
        [(100 + i, text(100 + i)) for i in range(5)], schema)
     .coalesce(1).write.parquet(str(srcdir / "f1.parquet")))
    kwargs = dict(rows_per_band=10, size_biased_threshold=1.5,
                  max_bucket_threshold=4)

    def run_stream():
        stream = (spark.readStream.schema(schema)
                  .option("maxFilesPerTrigger", 1)
                  .parquet(str(srcdir) + "/*"))
        q = start_dedup_maintenance_stream(
            stream, cdir, idir, str(tmp_path / "ckpt"),
            available_now=True, rebuild_check_every=1,
            rebuild_kwargs=kwargs)
        try:
            q.awaitTermination(180)
        finally:
            stop_streaming_query(q, spark)

    # batch 0 (the pile) commits with no check; batch 1 commits and
    # the loop's own check fires -> rebuild to (3, 10) xxhash64
    run_stream()
    store = open_dedup_index(idir)
    assert store.params["band_basis"] == "xxhash64"
    assert store.params["rows_per_band"] == 10
    assert store.meta["geometry_rebuilds"] == 1
    rec = store.meta["auto_rebuild_check"]
    assert rec["batch"] == 1 and rec["rebuild_ran"]

    # a third trigger: even if the advice still fires (pily corpus),
    # the index is AT TARGET -> no second rebuild; the new-geometry
    # probe still catches an exact dup of an old survivor
    (spark.createDataFrame(
        [(500, text(3)),
         (501, " ".join(f"z{j}" for j in range(20)))], schema)
     .coalesce(1).write.parquet(str(srcdir / "f2.parquet")))
    run_stream()
    store = open_dedup_index(idir)
    assert store.meta["geometry_rebuilds"] == 1      # at-target guard
    assert store.meta["auto_rebuild_check"]["batch"] == 2
    assert not store.meta["auto_rebuild_check"]["rebuild_ran"]
    assert store.meta["auto_rebuild_check"]["at_target"]
    surv = {r.doc_id for r in
            spark.read.parquet(cdir + "/batch=2").collect()}
    assert surv == {501}
    # replay: direct re-apply of a committed trigger is a no-op
    b2 = spark.read.parquet(str(srcdir / "f2.parquet"))
    assert not apply_dedup_maintenance_batch(
        spark, b2, 2, cdir, idir,
        stream_token=str(tmp_path / "ckpt"))
    # restart with no new data: no re-check
    run_stream()
    store = open_dedup_index(idir)
    assert store.meta["geometry_rebuilds"] == 1
    assert store.meta["auto_rebuild_check"]["batch"] == 2

    # guards are loud BEFORE the stream starts
    import pytest as _pt
    stream = spark.readStream.schema(schema).parquet(str(srcdir) + "/*")
    with _pt.raises(ValueError, match="target geometry"):
        start_dedup_maintenance_stream(
            stream, cdir, idir, str(tmp_path / "ck2"),
            rebuild_check_every=1)
    with _pt.raises(ValueError, match=">= 1"):
        start_dedup_maintenance_stream(
            stream, cdir, idir, str(tmp_path / "ck3"),
            rebuild_check_every=0, rebuild_kwargs=kwargs)
