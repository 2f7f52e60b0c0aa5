"""Materialized append-only dedup index (VERDICT r12 item 1).

The r12 incremental primitives (``dedup_pairs_cross`` /
``embedding_pairs_cross``) never re-PAIR the historical corpus, but
they re-DERIVED its features — minhash bands / LSH buckets — from raw
text/vectors on every batch, so per-batch cost still grew with history
size. At a 100 TB seen corpus the per-batch wall is dominated by
re-hashing history, defeating the operators' stated purpose: "never
re-pair history" must also mean "never re-hash history".

This module persists the features as an append-only INDEX table:

- minhash index: ``(doc_id, band_idx, band_val)`` — one row per
  (doc, LSH band), the exact frame the band equi-join consumes;
- embedding index: ``(vec_id, band_idx, bucket, nrm)`` — one row per
  (vector, hyperplane band) plus the norm, the exact frame the
  (band_idx, bucket) equi-join consumes. MULTI-band (ADVICE r13): a
  single band at the corpus-scale plane count keeps a cosine-0.9 pair
  with ~p^bits — vanishing as bits track the corpus — so the index
  stores ``n_bands`` independent ``band_bits``-bit bands (the
  ``banded_cosine_pairs`` plane-offset families) and the probe keeps
  a near-dup with 1-(1-p^bits)^bands, the same S-curve as the
  minhash index's band layout.

Each incremental step (1) hashes ONLY the new batch, (2) probes the
index with a band/bucket equi-join, (3) verifies candidates against a
NARROW verify tier — xxhash64'd shingle sets for minhash
(:func:`minhash_verify_rows`), the int8 code tier for embeddings —
never the raw seen text/vectors (VERDICT r14 item 1: the wide
re-attach scan was the one O(seen)-wide term left), and (4) appends
the survivors' index + verify rows in one atomic publish. Per-batch
feature-extraction cost is therefore O(batch), independent of
seen-corpus size; the only O(seen) terms left are NARROW columnar
scans (the 2-3-column index and the hashed-feature verify tier, tens
of bytes/row — prunable further by bucketing on ``band_val`` /
``bucket`` / id on a real warehouse, and the verify scan additionally
shrinks to candidate row groups under the opt-in
``candidate_pushdown`` id filter when a trigger's candidate set is
small).

Storage layout: ``<path>/batch=N/`` parquet directories plus a
one-line JSON manifest listing committed batches, published by atomic
rename (the same recipe as the event lake's manifest —
streaming/event_archive.py; its FS facade is reused, so the store
works on local disk and any Hadoop-resolvable URI). A crash between
the parquet write and the manifest swap leaves an orphan directory
that the next append simply overwrites — readers only ever see
committed batches. Single concurrent writer (the corpus maintainer),
any number of readers — the append-only pipeline's natural shape.

Index parameters (minhash band geometry / hyperplane count) are
pinned in the manifest at creation and validated on open: signatures
computed under different parameters are not join-compatible, so a
mismatch is a loud error, never silent zero recall.

No reference analog (/root/reference is a streaming decoder); the
design follows standard LSH index maintenance from the public
literature (Leskovec et al., Mining of Massive Datasets ch. 3).
"""

from __future__ import annotations

import json
import os
from typing import Callable, NamedTuple

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..streaming.event_archive import (_fs_isdir, _fs_listdir,
                                       _fs_read_text, _fs_rmtree,
                                       _fs_write_atomic, _join)
from .dedup import (N_BANDS, N_HASHES, ROWS_PER_BAND, _SPARK_DOT,
                    _bands_from_shingles, _minhash_band_frame,
                    _minhash_verified_pairs, _shingles,
                    _substring_fp_exploded,
                    _substring_survivors_against, _verify_jaccard,
                    banded_signature_rows, bands_from_hashed_shingles,
                    connected_components, dedup_survivors)

_INDEX_MANIFEST = "_INDEX_MANIFEST.json"


def _tier_fold_set(names: list, levels: dict, fanout: int):
    """LSM size-tiered fold selection: the oldest ``fanout`` dirs of
    the LOWEST level holding at least ``fanout`` dirs (appends enter
    at level 0; ``names`` is append-ordered, so within a level oldest
    == first). Returns (fold_list, level) or (None, None) — folding
    only same-level dirs keeps every pass's rewrite bounded by the
    level's dir size instead of the whole history (the naive
    oldest-K-of-everything re-folds the big prior fold every pass,
    quadratic total rewrite)."""
    by_level: dict[int, list] = {}
    for n in names:
        by_level.setdefault(int(levels.get(n, 0)), []).append(n)
    for lv in sorted(by_level):
        if len(by_level[lv]) >= fanout:
            return by_level[lv][:fanout], lv
    return None, None

_SCHEMAS = {
    "minhash": "doc_id long, band_idx int, band_val string",
    "embedding": "vec_id long, band_idx int, bucket long, nrm double",
    "substring": "doc_id long, fp long",
}


def minhash_index_rows(docs: DataFrame) -> DataFrame:
    """(doc_id, band_idx, band_val) index rows for a (doc_id, text)
    corpus — the exact band frame ``dedup_minhash_lsh``'s candidate
    join consumes, computed once to be stored."""
    return _bands_from_shingles(
        docs.select("doc_id", _shingles(F.col("text")).alias("shingles")))


def _hashed_shingles(shingles_col) -> F.Column:
    """String shingle array -> distinct xxhash64 array. Jaccard over
    the hashed sets equals Jaccard over the string sets except under
    an xxhash64 collision (2^-64 per pair — the same collision budget
    the substring fingerprints already accept); the array_distinct
    re-pass folds any such collision into consistent SET semantics on
    both sides of the verify."""
    return F.array_distinct(
        F.transform(shingles_col, lambda s: F.xxhash64(s)))


_VERIFY_SCHEMA = "doc_id long, shingles array<bigint>"


def minhash_verify_rows(docs: DataFrame) -> DataFrame:
    """(doc_id, shingles: array<bigint>) — each doc's xxhash64'd
    distinct shingle set: the NARROW verify tier the maintenance loop
    persists beside the band index (VERDICT r14 item 1). The Jaccard
    verify needs only set intersection/union sizes, so hashed shingles
    carry the full evidence at 8 bytes per shingle — the seen corpus's
    raw text is never read again after ingest. Column is named
    ``shingles`` so the tier feeds ``_verify_jaccard`` directly."""
    return docs.select(
        "doc_id",
        _hashed_shingles(_shingles(F.col("text"))).alias("shingles"))


def _restrict_to_candidates(tier: DataFrame, pairs: DataFrame,
                            id_col: str,
                            pushdown_limit: int | None) -> DataFrame:
    """Restrict a seen-side verify tier to the candidate ids of
    ``pairs`` (its ``doc_b`` column). Default (``pushdown_limit``
    None): left-semi join — correct at any candidate volume, but the
    tier scan reads every row group. With ``pushdown_limit`` set the
    candidate ids are collected (``pairs`` must already be
    materialized — the caller localCheckpoints it) and, when they fit
    the limit, pushed into the scan as an ``isin`` predicate: on an
    id-sorted tier the parquet min/max stats prune to candidate row
    groups, the point-lookup shape the maintenance loops want at a
    100 TB seen tier. Above the limit it falls back to the semi-join
    (a huge IN-list is a plan-time regression — the staged-chain
    lesson) PLUS a min/max range residual on the id column (VERDICT
    r15 item 3), so large triggers keep coarse row-group pruning on
    the id-sorted tier at one narrow agg's plan cost."""
    ids = pairs.select(F.col("doc_b").alias(id_col)).distinct()
    if pushdown_limit:
        got = ids.limit(pushdown_limit + 1).collect()
        if len(got) <= pushdown_limit:
            vals = [r[0] for r in got]
            if not vals:
                return tier.filter(F.lit(False))
            # the isin is the exact predicate, but parquet only
            # translates In up to
            # spark.sql.parquet.pushdown.inFilterThreshold (10)
            # values — beyond that the row-group stats never see it.
            # A redundant min/max range residual (driver-side free:
            # the ids are already collected) always pushes as two
            # comparisons, keeping the point-lookup's row-group
            # pruning at any candidate count within the limit.
            return tier.filter(
                F.col(id_col).between(min(vals), max(vals))
                & F.col(id_col).isin(vals))
        # VERDICT r15 item 3: above the limit, keep COARSE row-group
        # pruning on the id-sorted tier with a min/max range residual
        # derived from the full candidate set (one narrow agg over the
        # already-materialized pairs — no giant IN-list, no plan-time
        # trap), then the semi-join for exactness. When candidates
        # cluster in id space (recent-batch ids probing a monotone
        # corpus) the range predicate prunes the tier scan to the
        # covering row groups; worst case (ids spanning the full
        # range) it is a no-op filter on an already-required scan.
        lo, hi = ids.agg(F.min(id_col), F.max(id_col)).first()
        if lo is not None:
            tier = tier.filter(F.col(id_col).between(lo, hi))
    return tier.join(ids, id_col, "left_semi")


def embedding_index_rows(emb: DataFrame, n_bands: int, band_bits: int,
                         width: int | None = None) -> DataFrame:
    """(vec_id, band_idx, bucket, nrm) index rows for a (vec_id,
    embedding) corpus — one row per (vector, band): the banded
    hyperplane signatures plus the norm, everything the (band_idx,
    bucket) join and the cosine verify need from the seen side except
    the (candidate-only) embedding arrays. The norm rides every band
    row (it is 8 bytes against the row's ~20 — cheaper than a second
    per-vector side table at read time)."""
    nrm = emb.select(
        "vec_id",
        F.sqrt(F.expr(_SPARK_DOT.format(a="embedding", b="embedding")))
        .alias("nrm"))
    return (banded_signature_rows(emb, n_bands, band_bits, width=width)
            .join(nrm, "vec_id")
            .select("vec_id", "band_idx", "bucket", "nrm"))


class DedupIndexStore:
    """Append-only feature-index table (see module docstring).

    Use :func:`create_minhash_index` / :func:`create_embedding_index`
    to create, :func:`open_dedup_index` to open; ``append`` commits a
    batch of index rows, ``load`` reads every committed batch."""

    def __init__(self, path: str, kind: str, params: dict,
                 batches: list[str], meta: dict | None = None):
        self.path = path
        self.kind = kind
        self.params = params
        self._batches = batches
        # free-form consumer state published ATOMICALLY with the batch
        # list (e.g. the streaming maintenance loop's last-committed
        # micro-batch id and corpus-batch list): a reader never sees
        # index rows without the meta that committed them, or vice versa
        self.meta = dict(meta or {})

    # -- manifest ------------------------------------------------------
    @classmethod
    def _create(cls, path: str, kind: str, params: dict
                ) -> "DedupIndexStore":
        if _fs_isdir(path) and any(
                not n.startswith(".") for n in _fs_listdir(path)):
            raise ValueError(f"refusing to create dedup index over "
                             f"non-empty directory {path!r}")
        if not _fs_isdir(path) and "://" not in path:
            os.makedirs(path, exist_ok=True)
        store = cls(path, kind, params, [])
        store._write_manifest()
        return store

    @classmethod
    def open(cls, path: str) -> "DedupIndexStore":
        try:
            m = json.loads(_fs_read_text(_join(path, _INDEX_MANIFEST)))
        except (OSError, ValueError) as exc:
            raise FileNotFoundError(
                f"no dedup index manifest under {path!r}") from exc
        return cls(path, m["kind"], m["params"], list(m["batches"]),
                   m.get("meta"))

    def _write_manifest(self) -> None:
        _fs_write_atomic(
            _join(self.path, _INDEX_MANIFEST),
            json.dumps({"version": 1, "kind": self.kind,
                        "params": self.params,
                        "batches": self._batches,
                        "meta": self.meta}))

    def _require(self, kind: str, **params) -> None:
        if self.kind != kind:
            raise ValueError(f"dedup index at {self.path!r} is a "
                             f"{self.kind!r} index, not {kind!r}")
        for k, v in params.items():
            if v is not None and self.params.get(k) != v:
                raise ValueError(
                    f"index parameter mismatch at {self.path!r}: "
                    f"{k}={self.params.get(k)!r} in the manifest, "
                    f"{v!r} requested — signatures under different "
                    "parameters are not join-compatible")

    # -- data ----------------------------------------------------------
    def _next_name(self) -> str:
        """Monotonic batch naming: the counter never reuses an index,
        even after :meth:`compact` shrinks the committed list — a new
        append must never land on a directory an in-flight reader of
        an older manifest may still be scanning."""
        used = [int(n.split("=", 1)[1]) for n in self._batches]
        return f"batch={max(used) + 1 if used else 0}"

    def append(self, index_rows: DataFrame,
               meta_update: dict | None = None) -> str:
        """Commit one batch of index rows; returns the batch dir name.

        The parquet write lands first, the manifest swap publishes it
        — a crash in between leaves an uncommitted orphan that the
        next append overwrites. ``meta_update`` merges into
        :attr:`meta` in the SAME atomic publish (the streaming
        maintenance loop's idempotency handle).

        The batch is validated against the index's FULL schema —
        names and types (VERDICT r13 item 3): a name-only check let a
        mistyped column (e.g. an int ``band_val``) write a
        schema-divergent parquet batch that only failed at a later
        multi-directory read. Type mismatch must be loud at append
        time, like the manifest's parameter guard."""
        from pyspark.sql.types import StructType
        want = {f.name: f.dataType.simpleString()
                for f in StructType.fromDDL(_SCHEMAS[self.kind]).fields}
        got = {f.name: f.dataType.simpleString()
               for f in index_rows.schema.fields}
        if got != want:
            raise ValueError(
                f"{self.kind} index rows need schema {want}, "
                f"got {got}")
        name = self._next_name()
        (index_rows.write.mode("overwrite")
         .parquet(_join(self.path, name)))
        if self.kind == "substring":
            # per-fingerprint population DELTA, pre-counted at append
            # (VERDICT r14 item 3): the probe's stop-window cut joins
            # these narrow (fp, n) frames instead of re-aggregating
            # the full (doc_id, fp) index every trigger. Counted from
            # the just-written parquet (re-running the caller's lazy
            # plan would recompute the fingerprint explode); committed
            # by the same single manifest swap below.
            spark = index_rows.sparkSession
            nname = name.replace("batch=", "fpn=")
            (spark.read.parquet(_join(self.path, name))
             .groupBy("fp").agg(F.count(F.lit(1)).alias("n"))
             .write.mode("overwrite").parquet(_join(self.path, nname)))
            self.meta["fpcount_batches"] = list(
                self.meta.get("fpcount_batches", [])) + [nname]
        self._batches.append(name)
        if meta_update:
            self.meta.update(meta_update)
        self._write_manifest()
        return name

    def compact(self, spark: SparkSession,
                n_files: int | None = None,
                max_batches: int | None = None) -> str:
        """Rewrite committed batches into fewer directories and
        publish the new list in one manifest swap — the small-files
        lifecycle step an append-only index needs: after B appends the
        loader unions B parquet directories, and at per-trigger append
        cadence B grows without bound (planning cost, file handles,
        and min-file-size row groups all degrade the probe scan).

        Two modes:

        - FULL (default): every batch folds into one directory — the
          smallest read set, but the rewrite is O(seen), so at
          maintenance-trigger cadence it spikes the trigger it lands
          on (measured 7.4-10.1 s vs ~2.4 s steady p50, BENCH_NOTES
          r14).
        - TIERED (``max_batches=K`` — VERDICT r14 item 4): fold only
          the oldest K directories of the lowest LSM level holding at
          least K (appends enter at level 0; a fold of level-L dirs
          produces one level-L+1 dir, levels ride the manifest). Each
          pass rewrites ~K similar-sized dirs, never the whole index
          — per-pass cost is bounded by the level size, dir count
          stays O(K x log_K(appends)), and a big high-level fold
          happens only every K^level appends. No-op ("" returned)
          when no level qualifies, so the maintenance loops call it
          every trigger.

        Crash-safe the same way append is: the compacted directory
        lands first, the manifest swap publishes it; a crash in
        between leaves the old manifest (and data) fully intact. The
        superseded batch directories are left on disk as orphans so a
        reader holding the PRE-compaction manifest keeps working —
        physical deletion is the owner's separate retention decision
        (same policy as the event lake's snapshot compactor).

        ``n_files`` sizes the rewrite (default: the cluster's
        parallelism, capped at the folded dir count)."""
        if not self._batches:
            return ""
        if max_batches is not None:
            return self._compact_tier(spark, n_files, max_batches)
        whole = self.load(spark)
        if n_files is None:
            n_files = max(1, min(len(self._batches),
                                 spark.sparkContext.defaultParallelism))
        name = self._next_name()
        (whole.repartition(n_files).write.mode("overwrite")
         .parquet(_join(self.path, name)))
        if self.kind == "substring":
            # merge the per-append count deltas into ONE pre-summed
            # (fp, n) frame — after this the probe's population join
            # reads a single already-unique-per-fp directory
            cdirs = self.meta.get("fpcount_batches", [])
            nname = name.replace("batch=", "fpn=")
            covered = {b.replace("batch=", "fpn=")
                       for b in self._batches}
            if cdirs and set(cdirs) == covered:
                merged = (spark.read.parquet(
                    *[_join(self.path, d) for d in cdirs])
                    .groupBy("fp").agg(F.sum("n").alias("n")))
            else:
                # pre-r15 substring index, or PARTIAL coverage (a
                # direct append onto a pre-r15 manifest — ADVICE r15):
                # merging an incomplete delta set would persist the
                # under-count, so derive the count dir from the
                # just-compacted rows instead (the one-time migration
                # load_fp_counts' error message points at)
                merged = (spark.read.parquet(_join(self.path, name))
                          .groupBy("fp")
                          .agg(F.count(F.lit(1)).alias("n")))
            merged.write.mode("overwrite").parquet(_join(self.path, nname))
            self.meta["fpcount_batches"] = [nname]
        # a full fold outranks every tier: a later tiered pass must
        # never re-fold this dir with fresh level-0 appends
        top = max([int(v) for v in
                   self.meta.get("batch_levels", {}).values()] or [0])
        self.meta["batch_levels"] = {name: top + 1}
        superseded = [b for b in self._batches if b != name]
        if self.kind == "substring":
            superseded += [c for c in cdirs if c != nname]
        self._batches = [name]
        self._write_manifest()
        for b in superseded:        # retire stamp for vacuum's grace
            _touch_dir(_join(self.path, b))
        return name

    def _compact_tier(self, spark: SparkSession, n_files: int | None,
                      fanout: int) -> str:
        """One tiered pass (see :meth:`compact`): fold the oldest
        ``fanout`` dirs of the lowest qualifying level."""
        levels = {n: int(v) for n, v in
                  self.meta.get("batch_levels", {}).items()}
        fold, lv = _tier_fold_set(self._batches, levels, fanout)
        if not fold:
            return ""
        whole = spark.read.parquet(*[_join(self.path, b) for b in fold])
        if n_files is None:
            n_files = max(1, min(len(fold),
                                 spark.sparkContext.defaultParallelism))
        name = self._next_name()
        (whole.repartition(n_files).write.mode("overwrite")
         .parquet(_join(self.path, name)))
        if self.kind == "substring":
            cnames = [b.replace("batch=", "fpn=") for b in fold]
            have = [c for c in self.meta.get("fpcount_batches", [])
                    if c in cnames]
            nname = name.replace("batch=", "fpn=")
            if set(have) == set(cnames):
                merged = (spark.read.parquet(
                    *[_join(self.path, c) for c in have])
                    .groupBy("fp").agg(F.sum("n").alias("n")))
            else:
                # some folded dir has no paired delta (pre-r15 history
                # — ADVICE r15): merging the partial set would persist
                # an under-count under a name that claims coverage of
                # the whole fold; recount the fold's rows instead
                # (they were just rewritten into the compacted dir)
                merged = (spark.read.parquet(_join(self.path, name))
                          .groupBy("fp")
                          .agg(F.count(F.lit(1)).alias("n")))
            merged.write.mode("overwrite").parquet(
                _join(self.path, nname))
            self.meta["fpcount_batches"] = (
                [c for c in self.meta.get("fpcount_batches", [])
                 if c not in cnames] + [nname])
        idx = self._batches.index(fold[0])
        remaining = [b for b in self._batches if b not in fold]
        self._batches = remaining[:idx] + [name] + remaining[idx:]
        levels = {n: v for n, v in levels.items() if n not in fold}
        levels[name] = lv + 1
        self.meta["batch_levels"] = levels
        self._write_manifest()
        retired = list(fold)
        if self.kind == "substring":
            retired += [c for c in cnames if c != nname]
        for b in retired:           # retire stamp for vacuum's grace
            _touch_dir(_join(self.path, b))
        return name

    def load(self, spark: SparkSession) -> DataFrame:
        """Every committed batch as one frame (empty frame with the
        index schema when no batch has been committed yet)."""
        if not self._batches:
            return spark.createDataFrame([], _SCHEMAS[self.kind])
        return spark.read.parquet(
            *[_join(self.path, b) for b in self._batches])

    def load_fp_counts(self, spark: SparkSession,
                       restrict_to: DataFrame | None = None) -> DataFrame:
        """(fp, n) per-fingerprint population of a substring index —
        the pre-counted narrow frame the probes' stop-window cut
        consumes (VERDICT r14 item 3), never a re-aggregation of the
        full (doc_id, fp) index. ``restrict_to``: a SMALL (fp) frame
        (the new batch's fingerprints) broadcast-semi-joined into the
        delta scan BEFORE the cross-directory merge, so the only
        aggregation runs over matched rows — per-trigger cost
        O(batch ∩ seen), the seen side contributing a pure narrow scan
        with zero shuffle. Between compactions there are
        ``compact_every`` delta dirs at most; after a compact, one
        pre-summed dir (already unique per fp)."""
        if self.kind != "substring":
            raise ValueError(
                f"fp counts exist only for substring indexes, not "
                f"{self.kind!r}")
        dirs = self.meta.get("fpcount_batches", [])
        # ADVICE r15: coverage must be COMPLETE, not merely non-empty.
        # Every batch dir commits a name-paired fpn= delta (append and
        # both compact modes preserve the pairing), so a mismatch
        # means some committed batch's rows are missing from the
        # counts — e.g. a direct append() onto a pre-r15 manifest
        # wrote ONE delta while every older batch has none; a merely
        # non-empty check would then silently under-count seen
        # fingerprint populations and shrink the probes' seen-fps
        # set, admitting duplicates of the old corpus.
        expected = {b.replace("batch=", "fpn=") for b in self._batches}
        if set(dirs) != expected and self._batches:
            raise ValueError(
                f"substring index at {self.path!r} has committed "
                f"batches whose fp-count deltas are missing or "
                f"stale (have {sorted(dirs)}, need "
                f"{sorted(expected)} — a pre-r15 manifest, or "
                "appends made before the counts existed) — "
                "compact() once to derive a complete merged "
                "count dir")
        if not self._batches:
            return spark.createDataFrame([], "fp long, n long")
        cnt = spark.read.parquet(*[_join(self.path, d) for d in dirs])
        if restrict_to is not None:
            cnt = cnt.join(F.broadcast(restrict_to.select("fp")),
                           "fp", "left_semi")
        if len(dirs) == 1:
            return cnt
        return cnt.groupBy("fp").agg(F.sum("n").alias("n"))


def substring_index_rows(docs: DataFrame, k: int = 32,
                         w: int = 16) -> DataFrame:
    """(doc_id, fp) winnowed exact-substring fingerprints for a
    (doc_id, text) corpus — the rows a "substring" index persists
    (``dedup.substring_fingerprint_frame`` exploded): a fingerprint
    equality IS the duplicate evidence (it implies a shared exact
    k-token window), so unlike the minhash/embedding kinds this index
    needs NO raw-feature re-attach at probe time."""
    return (_substring_fp_exploded(docs, k, w)
            .filter(F.col("fp").isNotNull())
            .select("doc_id", "fp"))


def create_minhash_index(path: str) -> DedupIndexStore:
    """New empty minhash band index; geometry pinned from the module
    constants the finders use (``N_HASHES``/``N_BANDS``/
    ``ROWS_PER_BAND``)."""
    return DedupIndexStore._create(
        path, "minhash", {"n_hashes": N_HASHES, "n_bands": N_BANDS,
                          "rows_per_band": ROWS_PER_BAND})


def create_embedding_index(path: str, n_planes: int,
                           width: int | None = None,
                           n_bands: int = 4,
                           ivf_centroids: list | None = None
                           ) -> DedupIndexStore:
    """New empty hyperplane-signature index at a FIXED band geometry
    (every batch must sign under the same planes to stay
    join-compatible). ``n_planes`` is the PER-BAND signature width in
    bits (pick it with ``dedup.scaled_n_planes`` against the corpus
    size you are building toward, so each band's expected bucket
    population stays bounded); ``n_bands`` independent bands restore
    the recall a single corpus-scale-width band loses (ADVICE r13 —
    keep prob 1-(1-p^bits)^bands vs p^bits; at ``n_bands=1`` the
    layout degenerates to the old single-bucket index).

    ``ivf_centroids`` (r16): a list of coarse-quantizer centroid
    vectors, pinned in the manifest (cell ids are their list
    positions; hand-editing centroids would orphan every committed
    cell assignment — adapt a drifted quantizer through
    :func:`refit_ivf_centroids`, which re-stamps the corpus and swaps
    the centroids in one atomic publish). When pinned, the
    maintenance loop stamps each survivor's nearest-centroid ``cell``
    onto the corpus rows and keeps them (cell, vec_id)-clustered
    through compaction (the float re-rank tier stays vec_id-clustered
    only: the re-rank joins by vec_id, never by cell), enabling the IVF
    serving path (``apply_ann_serving_batch(method="ivf")``) whose
    per-trigger corpus read is O(probed cells). Fit them offline —
    ``curation.kmeans_fit_scaled(emb, k)`` is the in-repo Arrow Lloyd
    fit (returns {cid: centroid}; pass
    ``[c for _, c in sorted(fit.items())]`` so cid == list position)
    — a coarse quantizer is tiny relative to the corpus."""
    params = {"n_planes": n_planes, "width": width, "n_bands": n_bands}
    if ivf_centroids is not None:
        if len(ivf_centroids) < 2:
            raise ValueError("ivf_centroids needs >= 2 centroids")
        widths = {len(c) for c in ivf_centroids}
        if len(widths) != 1 or (width is not None
                                and widths != {width}):
            raise ValueError(
                f"ivf_centroids must share one width matching the "
                f"index width {width}; got widths {sorted(widths)}")
        params["ivf_centroids"] = [
            [float(x) for x in c] for c in ivf_centroids]
    return DedupIndexStore._create(path, "embedding", params)


def create_substring_index(path: str, k: int = 32, w: int = 16
                           ) -> DedupIndexStore:
    """New empty winnowed exact-substring fingerprint index (VERDICT
    r13 item 2 — the strongest-signal dedup modality gets the same
    append-only form as minhash/embedding). ``k`` is the verbatim
    window length in tokens, ``w`` the winnowing window (volume
    ~2/(w+1) of all positions; shared spans >= k + w - 1 are
    guaranteed to collide) — both pinned: fingerprints under different
    (k, w) are not join-compatible."""
    return DedupIndexStore._create(path, "substring", {"k": k, "w": w})


def open_dedup_index(path: str) -> DedupIndexStore:
    return DedupIndexStore.open(path)


# ---------------------------------------------------------------------------
# Index-backed pair finders (differential-tested against the recompute
# forms in tests/test_dedup_index.py)
# ---------------------------------------------------------------------------

def _check_candidate_coverage(pairs: DataFrame, seen: DataFrame,
                              id_col: str) -> None:
    """Raise when a candidate seen-side id has no row in the caller's
    seen frame — such candidates vanish at the verify inner join and
    near-dups are silently ADMITTED (ADVICE r13). One small action
    over candidate ids only; opt-in via ``check_coverage``."""
    missing = (pairs.select(F.col("doc_b").alias(id_col)).distinct()
               .join(seen.select(id_col), id_col, "left_anti")
               .limit(5).collect())
    if missing:
        raise ValueError(
            "seen frame does not cover indexed candidate ids "
            f"{sorted(r[0] for r in missing)}... — candidates for "
            "uncovered docs would vanish at the verify join and "
            "near-dups would be silently admitted. The seen frame "
            "must cover every doc whose rows are in the index "
            "(the streaming maintenance loop guarantees this via the "
            "manifest's corpus_batches).")


def _minhash_geometry(store: "DedupIndexStore") -> tuple:
    """(band_basis, n_bands, rows_per_band) the manifest pins. An
    md5-basis index (the creation default) is always at the module-
    constant geometry — enforced loudly here, because md5 band values
    re-derive only from RAW TEXT through those constants (the silent-
    zero-recall guard ADVICE r13 demanded). An xxhash64-basis index
    (post-:func:`rebuild_minhash_index_geometry`) carries its own
    geometry: its bands re-derive from the hashed-shingle verify
    tier, so the probe signs new batches at whatever the manifest
    says."""
    basis = store.params.get("band_basis", "md5")
    if basis == "md5":
        store._require("minhash", n_hashes=N_HASHES, n_bands=N_BANDS,
                       rows_per_band=ROWS_PER_BAND)
        return basis, N_BANDS, ROWS_PER_BAND
    store._require("minhash")
    return (basis, int(store.params["n_bands"]),
            int(store.params["rows_per_band"]))


def _minhash_rows_for_store(store: "DedupIndexStore",
                            surv: DataFrame) -> DataFrame:
    """Band index rows for new survivors under the STORE's basis and
    geometry — md5 constants for default indexes, hashed-shingle
    banding at manifest geometry after a rebuild."""
    basis, nb, rpb = _minhash_geometry(store)
    if basis == "md5":
        return minhash_index_rows(surv)
    return bands_from_hashed_shingles(minhash_verify_rows(surv),
                                      nb, rpb)


def dedup_pairs_cross_indexed(new_docs: DataFrame,
                              seen_docs: DataFrame | None,
                              seen_index: DataFrame,
                              check_coverage: bool = False,
                              seen_verify: DataFrame | None = None,
                              candidate_pushdown: int | None = None,
                              band_basis: str = "md5",
                              n_bands: int = N_BANDS,
                              rows_per_band: int = ROWS_PER_BAND
                              ) -> DataFrame:
    """:func:`~.dedup.dedup_pairs_cross` with the seen side's band
    frame read from the index instead of re-derived from raw text.

    The verify re-attach has two sources (exactly one required):

    - ``seen_verify`` — the NARROW hashed-shingle tier
      (:func:`minhash_verify_rows`): the Jaccard verify runs entirely
      on xxhash64'd sets, seen raw text is NEVER read (VERDICT r14
      item 1 — the maintenance loops' path). ``candidate_pushdown``
      additionally collects the candidate ids (materializing the
      probe with one localCheckpoint) and pushes an ``isin`` into the
      tier scan when they fit the limit — O(candidate) row groups on
      an id-sorted tier.
    - ``seen_docs`` — the raw (doc_id, text) corpus (legacy/standalone
      form): shingles re-derive for CANDIDATE ids only (explicit
      semi-join BEFORE the shingle projection), but the scan still
      reads the wide text column.

    CONTRACT (ADVICE r13): the chosen seen frame must cover every
    doc_id whose rows are in ``seen_index`` — candidates whose verify
    features are missing vanish at the verify join, silently ADMITTING
    near-dups. The maintenance loop satisfies this by reading the
    manifest's committed tier; standalone callers can pass
    ``check_coverage=True`` to pay one candidate-ids-only action that
    raises on uncovered ids."""
    if (seen_docs is None) == (seen_verify is None):
        raise ValueError("pass exactly one of seen_docs (raw text) or "
                         "seen_verify (hashed-shingle tier)")
    if band_basis == "md5":
        sh_n, b_n = _minhash_band_frame(new_docs)
    else:
        # xxhash64 basis (post-geometry-rebuild): the new side signs
        # from its hashed shingle sets at the manifest's geometry —
        # the same derivation the rebuild applied to the verify tier
        sh_n = (new_docs.select(
            "doc_id", _shingles(F.col("text")).alias("shingles"))
            .localCheckpoint())
        b_n = bands_from_hashed_shingles(
            sh_n.select("doc_id", _hashed_shingles(F.col("shingles"))
                        .alias("shingles")),
            n_bands, rows_per_band)
    pairs = (b_n.alias("a")
             .join(seen_index.alias("b"),
                   (F.col("a.band_idx") == F.col("b.band_idx"))
                   & (F.col("a.band_val") == F.col("b.band_val")))
             .select(F.col("a.doc_id").alias("doc_a"),
                     F.col("b.doc_id").alias("doc_b"))
             .dropDuplicates(["doc_a", "doc_b"]))
    if seen_verify is not None:
        if candidate_pushdown:
            pairs = pairs.localCheckpoint()
        if check_coverage:
            _check_candidate_coverage(pairs, seen_verify, "doc_id")
        sh_n_h = sh_n.select("doc_id",
                             _hashed_shingles(F.col("shingles"))
                             .alias("shingles"))
        sv = _restrict_to_candidates(seen_verify, pairs, "doc_id",
                                     candidate_pushdown)
        return _verify_jaccard(pairs, sh_n_h, sv)
    if check_coverage:
        _check_candidate_coverage(pairs, seen_docs, "doc_id")
    ids_b = pairs.select(F.col("doc_b").alias("doc_id")).distinct()
    sh_s = (seen_docs.join(ids_b, "doc_id", "left_semi")
            .select("doc_id", _shingles(F.col("text")).alias("shingles")))
    return _verify_jaccard(pairs, sh_n, sh_s)


def embedding_pairs_cross_indexed(new_emb: DataFrame,
                                  seen_emb: DataFrame,
                                  seen_index: DataFrame,
                                  n_bands: int, band_bits: int,
                                  tau: float = 0.9,
                                  width: int | None = None,
                                  check_coverage: bool = False,
                                  seen_quantized: bool = False,
                                  candidate_pushdown: int | None = None
                                  ) -> DataFrame:
    """:func:`~.dedup.embedding_pairs_cross_banded` with the seen
    side's (band_idx, bucket, nrm) read from the index. ``seen_emb``
    supplies embedding arrays for CANDIDATE ids only (the cosine
    verify); the band geometry must be the index's pinned one —
    callers should go through
    :func:`embedding_incremental_survivors_indexed`, which enforces
    it. Ids-only through the band join: the new batch's arrays attach
    AFTER the per-pair dropDuplicates.

    ``seen_quantized=True``: ``seen_emb`` is the INT8 tier (vec_id,
    scale, q) and the candidate vectors dequantize inline AFTER the
    attach restriction — bit-identical cosines to dequantizing the
    whole corpus first (the dequantize is row-wise, it commutes with
    the join), but the verify scan reads 8x fewer bytes (VERDICT r14
    item 1: the int8 tier is the verify source, the float corpus is
    never re-read). ``candidate_pushdown``: as in
    :func:`dedup_pairs_cross_indexed` — collect candidate ids
    (materializes the probe) and push ``isin`` into the tier scan when
    they fit the limit.

    Same coverage CONTRACT as :func:`dedup_pairs_cross_indexed`:
    ``seen_emb`` must cover every indexed vec_id (``check_coverage``
    opts into the loud candidate-only check)."""
    bands_a = banded_signature_rows(new_emb, n_bands, band_bits,
                                    width=width)
    pairs = (bands_a.alias("a")
             .join(seen_index.alias("b"),
                   (F.col("a.band_idx") == F.col("b.band_idx"))
                   & (F.col("a.bucket") == F.col("b.bucket")))
             .select(F.col("a.vec_id").alias("doc_a"),
                     F.col("b.vec_id").alias("doc_b"),
                     F.col("b.nrm").alias("nrm_b"))
             .dropDuplicates(["doc_a", "doc_b"]))
    if candidate_pushdown:
        pairs = pairs.localCheckpoint()
    if check_coverage:
        _check_candidate_coverage(pairs, seen_emb, "vec_id")
    new_feats = new_emb.select(
        F.col("vec_id").alias("doc_a"),
        F.col("embedding").alias("emb_a"),
        F.sqrt(F.expr(_SPARK_DOT.format(a="embedding", b="embedding")))
        .alias("nrm_a"))
    seen_side = _restrict_to_candidates(seen_emb, pairs, "vec_id",
                                        candidate_pushdown)
    if seen_quantized:
        emb_b = F.transform(
            F.col("q"),
            lambda b: b.cast("double") / 127.0 * F.col("scale"))
    else:
        emb_b = F.col("embedding")
    seen_vecs = seen_side.select(F.col("vec_id").alias("doc_b"),
                                 emb_b.alias("emb_b"))
    dot = F.expr(_SPARK_DOT.format(a="emb_a", b="emb_b"))
    return (pairs.join(new_feats, "doc_a").join(seen_vecs, "doc_b")
            .select("doc_a", "doc_b",
                    F.try_divide(dot, F.col("nrm_a") * F.col("nrm_b"))
                    .alias("cosine"))
            .filter(F.col("cosine") >= tau))


def _embedding_n_bands(store: DedupIndexStore) -> int:
    """The embedding index's band count — REQUIRED in the manifest.
    A pre-multi-band manifest (r13 layout) persisted (vec_id, bucket,
    nrm) rows with no band_idx column: a silent ``get("n_bands", 1)``
    default implied such indexes still probe, but the banded equi-join
    fails on the missing column and append rejects the old schema —
    the default was dead code masking a format break (ADVICE r14).
    Loud version error instead: rebuild the index."""
    n_bands = store.params.get("n_bands")
    if n_bands is None:
        raise ValueError(
            f"embedding index at {store.path!r} predates the "
            "multi-band format (manifest has no n_bands parameter); "
            "its rows lack the band_idx column the banded probe "
            "equi-joins on — rebuild the index with "
            "create_embedding_index (the old single-bucket layout is "
            "not probe-compatible)")
    return n_bands


# ---------------------------------------------------------------------------
# Index-backed incremental steps (probe index -> drop hits -> resolve
# within batch -> append survivors' index rows)
# ---------------------------------------------------------------------------

def dedup_incremental_survivors_indexed(store: DedupIndexStore,
                                        new_docs: DataFrame,
                                        seen_docs: DataFrame | None = None,
                                        commit: bool = True,
                                        seen_verify: DataFrame | None = None,
                                        candidate_pushdown: int | None = None
                                        ) -> DataFrame:
    """Index-backed :func:`~.dedup.dedup_incremental_survivors`: drop
    new docs that near-dup the indexed corpus, resolve duplicates
    within the remainder, and (``commit=True``) append the survivors'
    band rows so the NEXT batch probes them too. Returns surviving
    rows (materialized via localCheckpoint when committing, so the
    caller's frame does not recompute the whole step).

    The seen-side verify source is either ``seen_docs`` (raw text —
    the legacy/standalone form) or ``seen_verify`` (the hashed-shingle
    tier from :func:`minhash_verify_rows` — the maintenance loops'
    narrow path; see :func:`dedup_pairs_cross_indexed`, including the
    ``candidate_pushdown`` point-lookup option). Exactly one must be
    given, and it must cover every doc_id in the index (the coverage
    contract) — the maintenance loop guarantees it via the manifest's
    committed verify-tier list."""
    # geometry, not just kind (ADVICE r13): the probe must sign the
    # NEW batch under the index's OWN basis + geometry, else the band
    # equi-join compares incompatible band_vals and silently returns
    # zero candidates — _minhash_geometry enforces the constants for
    # md5-basis indexes and reads the manifest's geometry for
    # xxhash64-basis (post-rebuild) ones.
    basis, nb, rpb = _minhash_geometry(store)
    spark = new_docs.sparkSession
    hit = (dedup_pairs_cross_indexed(new_docs, seen_docs,
                                     store.load(spark),
                                     seen_verify=seen_verify,
                                     candidate_pushdown=candidate_pushdown,
                                     band_basis=basis, n_bands=nb,
                                     rows_per_band=rpb)
           .select(F.col("doc_a").alias("doc_id")).distinct())
    # Eager checkpoint (r19, guide §1.2): same recompute fan-out as the
    # embedding loop — `fresh` (batch minus index hits) feeds the
    # within-batch pair finding AND the survivors join, and each action
    # re-executed the probe band-join/verify plan. Materialize the
    # bounded micro-batch remainder once.
    fresh = new_docs.join(hit, "doc_id", "left_anti").localCheckpoint()
    surv = dedup_survivors(
        fresh, connected_components(_minhash_verified_pairs(fresh)))
    if commit:
        surv = surv.localCheckpoint()
        store.append(_minhash_rows_for_store(store, surv))
    return surv


def embedding_incremental_survivors_indexed(store: DedupIndexStore,
                                            new_emb: DataFrame,
                                            seen_emb: DataFrame,
                                            tau: float = 0.9,
                                            within_bands: int = 4,
                                            commit: bool = True,
                                            seen_quantized: bool = False,
                                            candidate_pushdown: int | None
                                            = None) -> DataFrame:
    """Index-backed :func:`~.dedup.embedding_incremental_survivors`;
    the band geometry and width come from the store's manifest (the
    signatures must match the indexed ones — geometry cannot drift by
    construction). The cross probe is multi-band (ADVICE r13), like
    the within-batch batch-scaled multi-band resolve. ``seen_emb``
    must cover every vec_id in the index (the
    :func:`embedding_pairs_cross_indexed` coverage contract) — the
    maintenance loop guarantees it via the manifest's
    corpus_batches."""
    from .dedup import (banded_cosine_pairs, embedding_width_census,
                        scaled_n_planes)

    store._require("embedding")
    n_planes = store.params["n_planes"]
    n_bands = _embedding_n_bands(store)
    width = store.params.get("width")
    spark = new_emb.sparkSession
    census = embedding_width_census(new_emb)
    if not census:
        # EMPTY trigger (r16): real streams deliver zero-row batches
        # (empty source files, drained availableNow tails), and the
        # within-batch banding's census guard would raise on them.
        # Nothing to dedup — pass the empty frame through so the
        # caller still commits and the manifest's batch id advances
        # (the idempotent-replay contract needs the id recorded).
        surv = new_emb
    else:
        hit = (embedding_pairs_cross_indexed(
                   new_emb, seen_emb, store.load(spark),
                   n_bands, n_planes, tau=tau, width=width,
                   seen_quantized=seen_quantized,
                   candidate_pushdown=candidate_pushdown)
               .select(F.col("doc_a").alias("vec_id")).distinct())
        # Eager checkpoint (r19, guide §1.2): `fresh` (batch minus
        # index hits — the whole probe band-join + cosine-verify plan)
        # feeds THREE downstream actions — the within-batch banding's
        # census, connected_components' pairs checkpoint, and the
        # survivors materialization — and each used to re-execute the
        # probe plan from scratch. One bounded materialization (the
        # micro-batch's survivors-candidate rows) runs it once; with
        # the caller-passed census below, a 50-job / ~7 s trigger on
        # the fixture geometry drops to 38 jobs / ~4.2 s (the suite's
        # lifecycle tests and every production trigger pay this path).
        fresh = new_emb.join(hit, "vec_id", "left_anti").localCheckpoint()
        batch_bits = scaled_n_planes(sum(census.values()), floor=4)
        within = (banded_cosine_pairs(fresh, n_bands=within_bands,
                                      band_bits=batch_bits, limit=None,
                                      census=census)
                  .filter(F.col("cosine") >= tau)
                  .select("doc_a", "doc_b"))
        memb = connected_components(within)
        surv = (fresh.join(memb.select(F.col("doc_id").alias("vec_id"),
                                       "cluster_id"),
                           "vec_id", "left")
                .filter(F.col("cluster_id").isNull()
                        | (F.col("vec_id") == F.col("cluster_id")))
                .drop("cluster_id"))
    if commit:
        surv = surv.localCheckpoint()
        store.append(embedding_index_rows(surv, n_bands, n_planes,
                                          width=width))
    return surv


def substring_pairs_cross_indexed(new_docs: DataFrame,
                                  seen_index: DataFrame,
                                  k: int = 32, w: int = 16,
                                  max_docs_per_window: int = 64,
                                  seen_fp_counts: DataFrame | None = None
                                  ) -> DataFrame:
    """:func:`~.dedup.substring_pairs_cross` with the seen side's
    fingerprints read from the index — (doc_a=new, doc_b=seen,
    n_shared_fps). No seen raw text is touched at all: a fingerprint
    match already implies a shared exact k-token window. Stop-window
    cut on the combined (new + indexed) per-fingerprint population.

    ``seen_fp_counts`` — the store's pre-counted (fp, n) frame
    (:meth:`DedupIndexStore.load_fp_counts`; VERDICT r14 item 3):
    the population cut becomes new-batch counts LEFT-JOINED against
    seen counts restricted to the batch's own fingerprints (fps the
    batch doesn't carry can't pair anyway), so the per-trigger plan
    has NO corpus-wide aggregation — the seen side contributes only
    narrow scans. Without it (standalone callers holding a bare index
    frame) the cut falls back to re-aggregating the union."""
    fp_n = (_substring_fp_exploded(new_docs, k, w)
            .filter(F.col("fp").isNotNull()).select("doc_id", "fp"))
    if seen_fp_counts is not None:
        new_cnt = fp_n.groupBy("fp").agg(F.count(F.lit(1)).alias("n"))
        seen_cnt = seen_fp_counts.withColumnRenamed("n", "n_seen")
        pop = (new_cnt.join(seen_cnt, "fp", "left")
               .filter(F.col("n")
                       + F.coalesce(F.col("n_seen"), F.lit(0))
                       <= max_docs_per_window)
               .select("fp"))
    else:
        pop = (fp_n.select("fp").unionByName(seen_index.select("fp"))
               .groupBy("fp").agg(F.count(F.lit(1)).alias("n"))
               .filter(F.col("n") <= max_docs_per_window).select("fp"))
    return (fp_n.join(pop, "fp").alias("a")
            .join(seen_index.alias("b"), F.col("a.fp") == F.col("b.fp"))
            .groupBy(F.col("a.doc_id").alias("doc_a"),
                     F.col("b.doc_id").alias("doc_b"))
            .agg(F.count(F.lit(1)).alias("n_shared_fps")))


def substring_incremental_survivors_indexed(store: DedupIndexStore,
                                            new_docs: DataFrame,
                                            max_dup_frac: float = 0.5,
                                            commit: bool = True
                                            ) -> DataFrame:
    """Index-backed :func:`~.dedup.substring_incremental_survivors`:
    drop new docs whose duplicated-fingerprint coverage against the
    INDEXED corpus (plus within-batch duplicates) exceeds the
    ceiling, and (``commit=True``) append the survivors' fingerprints
    so the next batch probes them too. The (k, w) geometry comes from
    the manifest — mismatched fingerprints would silently equi-join to
    nothing, so it is never caller-supplied. Unlike the minhash form,
    no ``seen_docs`` parameter exists: the index IS the complete seen
    state (fingerprint equality needs no verify re-attach)."""
    store._require("substring")
    k, w = store.params["k"], store.params["w"]
    spark = new_docs.sparkSession
    # the seen fingerprint SET, restricted to the batch's own
    # fingerprints before any cross-directory merge (fps the batch
    # doesn't carry can't affect its coverage): the count deltas make
    # this a narrow scan + broadcast semi-join — the corpus-wide
    # load().distinct() shuffle is gone (VERDICT r14 item 3)
    batch_fps = (_substring_fp_exploded(new_docs, k, w)
                 .filter(F.col("fp").isNotNull()).select("fp").distinct())
    seen_fps = store.load_fp_counts(
        spark, restrict_to=batch_fps).select("fp")
    surv = _substring_survivors_against(new_docs, seen_fps, k, w,
                                        max_dup_frac)
    if commit:
        surv = surv.localCheckpoint()
        store.append(substring_index_rows(surv, k, w))
    return surv


# ---------------------------------------------------------------------------
# Streaming corpus maintenance: the index + survivors corpus as the
# foreachBatch target of a document stream
# ---------------------------------------------------------------------------

def _check_stream_token(store: DedupIndexStore,
                        stream_token: str | None) -> None:
    """Replay idempotence is keyed on the micro-batch id, and batch
    ids restart at 0 under a NEW checkpoint directory — without this
    guard every early micro-batch of a restarted-with-fresh-checkpoint
    stream would satisfy ``batch_id <= last_stream_batch`` and be
    silently dropped until ids passed the old high-water mark (ADVICE
    r13). The checkpoint dir is recorded in the manifest meta on the
    first commit and a mismatch is a hard error: a checkpoint dir and
    an index are permanently paired."""
    recorded = store.meta.get("stream_token")
    if (stream_token is not None and recorded is not None
            and recorded != stream_token):
        raise ValueError(
            f"dedup index at {store.path!r} is paired with streaming "
            f"checkpoint {recorded!r}; driving it from "
            f"{stream_token!r} would restart micro-batch ids at 0 and "
            "silently drop batches as replays — resume from the "
            "original checkpoint directory (or build a new index)")


def _load_minhash_verify_tier(spark: SparkSession, store: DedupIndexStore
                              ) -> DataFrame:
    """The committed hashed-shingle verify tier (``verify=N`` dirs
    under the index path, listed in manifest meta). A manifest with
    committed corpus batches but NO verify tier predates r15 — loud
    error, never a silent fallback to the wide corpus scan the tier
    exists to kill."""
    verify_batches = store.meta.get("verify_batches", [])
    if not verify_batches:
        if store.meta.get("corpus_batches"):
            raise ValueError(
                f"index at {store.path!r} has committed corpus batches "
                "but no verify tier (pre-r15 manifest) — the probe "
                "has no hashed-shingle evidence to verify against; "
                "rebuild the index and corpus from the raw documents")
        return spark.createDataFrame([], _VERIFY_SCHEMA)
    return spark.read.parquet(
        *[_join(store.path, b) for b in verify_batches])


def load_maintained_corpus(spark: SparkSession, corpus_path: str,
                           index_path: str,
                           empty_schema: str = "doc_id long, text string",
                           dequantize: bool = False) -> DataFrame:
    """The deduplicated corpus as of the index manifest — only
    manifest-committed corpus batches (orphans from a crashed trigger
    are invisible until their replay commits). ``empty_schema`` is the
    frame shape before the first commit (text default; pass
    ``"vec_id long, embedding array<double>"`` for embedding
    corpora). ``dequantize=True`` returns an int8-stored embedding
    corpus (``quantize_corpus`` loops) as (vec_id, embedding) floats —
    it raises if the manifest says the corpus is NOT quantized, so a
    mis-paired loader fails loudly instead of mis-typing."""
    store = open_dedup_index(index_path)
    batches = store.meta.get("corpus_batches", [])
    if dequantize and not store.meta.get("corpus_quantized"):
        raise ValueError(
            f"corpus at {corpus_path!r} is not committed as quantized "
            "(manifest meta corpus_quantized is falsy) — nothing to "
            "dequantize")
    if not batches:
        if dequantize:
            return spark.createDataFrame(
                [], "vec_id long, embedding array<double>")
        return spark.createDataFrame([], empty_schema)
    out = spark.read.parquet(*[_join(corpus_path, b) for b in batches])
    if dequantize:
        from .similarity import dequantize_embeddings_int8
        out = dequantize_embeddings_int8(out)
    return out


def float_tier_path(corpus_path: str) -> str:
    """Base directory of a maintained corpus' full-precision re-rank
    tier (its ``batch=``/``compact=`` dirs live under this path, and
    :func:`vacuum_dedup_index` callers pass it with the
    ``float_batches`` list key)."""
    return _join(corpus_path, "float")


def load_float_tier(spark: SparkSession, corpus_path: str,
                    index_path: str) -> DataFrame:
    """The maintained corpus' FULL-PRECISION (vec_id, embedding)
    re-rank tier (VERDICT r15 item 1) — the float originals a
    ``quantize_corpus=True`` maintenance loop persists alongside the
    int8 codes when driven with ``keep_float_tier=True``, committed in
    the same atomic manifest publish and id-clustered so the serving
    loop's candidate-pruned re-rank attach reads only the candidate
    row groups. Loud when the manifest has no float tier — the codes
    CANNOT reconstruct the lost bits (the scale-invariance no-op
    :func:`~.similarity.ann_topk_frames_quantized` documents)."""
    store = open_dedup_index(index_path)
    if not store.meta.get("float_tier"):
        raise ValueError(
            f"maintained corpus at {corpus_path!r} has no float "
            "re-rank tier (manifest meta float_tier is falsy) — run "
            "the embedding maintenance loop with keep_float_tier=True")
    batches = store.meta.get("float_batches", [])
    if not batches:
        return spark.createDataFrame(
            [], "vec_id long, embedding array<double>")
    base = float_tier_path(corpus_path)
    return spark.read.parquet(*[_join(base, b) for b in batches])


def _assign_ivf_cells(emb: DataFrame, centroids: list) -> DataFrame:
    """(vec_id, cell) nearest-centroid assignment for corpus stamping
    — the single implementation behind the maintenance loop's IVF tier
    and :func:`refit_ivf_centroids`. Small quantizers ride the
    literal-fold argmax (one narrow projection); past the
    literal-expression ceiling (the curation k-means lesson: k x dims
    literals blow up plan build, and a deployment-sized quantizer at
    n_cells ~ sqrt(corpus) crosses it) the Arrow backend takes over —
    one broadcast ndarray + a matmul per batch, plan size constant in
    k. Zero-norm rows (they never pair, so they DO survive dedup) take
    cell 0 on both backends, the literal fold's all-NULL-cosine first
    choice — the Arrow backend would otherwise raise on them. NULL
    embeddings (unreachable through the maintenance loop — the width
    census rejects them upstream — but kept correct for direct
    callers) route to cell 0 too: their _sq evaluates NULL, which
    fails BOTH `> 0` and `~(> 0)`."""
    from .similarity import (IVF_LITERAL_CEILING, ivf_cell_col,
                             ivf_cells_arrow)

    if len(centroids) * len(centroids[0]) > IVF_LITERAL_CEILING:
        sq = F.aggregate(
            F.zip_with(F.col("embedding"), F.col("embedding"),
                       lambda a, b: a.cast("double")
                       * b.cast("double")),
            F.lit(0.0), lambda acc, v: acc + v)
        nz = emb.select("vec_id", "embedding", sq.alias("_sq")) \
            .filter(F.col("_sq") > 0)
        zz = (emb.select("vec_id", sq.alias("_sq"))
              .filter(F.col("_sq").isNull() | ~(F.col("_sq") > 0))
              .select("vec_id",
                      F.lit(0).cast("int").alias("cell")))
        return (ivf_cells_arrow(
            nz.select("vec_id", "embedding"),
            {i: list(map(float, c))
             for i, c in enumerate(centroids)})
            .select("vec_id", "cell").unionByName(zz))
    return emb.select("vec_id", ivf_cell_col(centroids).alias("cell"))


def ivf_cell_occupancy(spark: SparkSession, corpus_path: str,
                       index_path: str) -> DataFrame:
    """(cell, n) row counts over the COMMITTED maintained corpus — the
    telemetry a deployment watches to decide when the pinned coarse
    quantizer has drifted (VERDICT r16 item 2): a healthy IVF layout
    keeps per-cell populations near corpus/n_cells; a shifted
    embedding distribution piles new survivors into few cells, and
    the serving probe's O(probed cells) read degrades toward
    O(corpus). One narrow scan of the corpus' int `cell` column
    (column-pruned; at 100 TB this reads the one small column, never
    the codes/text)."""
    store = open_dedup_index(index_path)
    store._require("embedding")
    if not store.params.get("ivf_centroids"):
        raise ValueError(
            f"index at {index_path!r} pins no ivf_centroids — the "
            "corpus has no cell column to tally")
    batches = store.meta.get("corpus_batches", [])
    if not batches:
        return spark.createDataFrame([], "cell int, n long")
    corp = spark.read.parquet(
        *[_join(corpus_path, b) for b in batches])
    return (corp.groupBy("cell").agg(F.count("*").alias("n"))
            .orderBy("cell"))


def ivf_refit_advice(spark: SparkSession, corpus_path: str,
                     index_path: str,
                     max_share_threshold: float = 4.0,
                     min_occupied_frac: float = 0.5) -> dict:
    """Turn the occupancy telemetry into an actionable refit signal —
    the operator-facing half of the drift loop (occupancy histogram ->
    advice -> :func:`refit_ivf_centroids`). Reads the
    :func:`ivf_cell_occupancy` histogram (one narrow cell-column scan;
    at 100 TB this is the one small int column) and reports:

    - ``max_share_x``: the largest cell's population as a multiple of
      the ideal corpus/n_cells — the skew a drifted corpus piles into
      few cells (serving cost per probe of that cell grows with it);
    - ``occupied_frac``: occupied cells / n_cells — a shifted
      distribution strands old centroids empty;
    - ``refit_recommended``: True when either crosses its threshold.

    Thresholds are deliberately coarse defaults: a 4x-overloaded cell
    means nprobe hits read ~4x their fair share; under-50% occupancy
    means half the quantizer buys no partitioning. Pure telemetry — no
    state is touched."""
    store = open_dedup_index(index_path)
    store._require("embedding")
    centroids = store.params.get("ivf_centroids")
    if not centroids:
        raise ValueError(
            f"index at {index_path!r} pins no ivf_centroids — nothing "
            "to advise a refit on")
    occ = ivf_cell_occupancy(spark, corpus_path, index_path) \
        .agg(F.count("*").alias("occupied"),
             F.sum("n").alias("rows"),
             F.max("n").alias("max_cell")).first()
    n_cells = len(centroids)
    rows = int(occ["rows"] or 0)
    occupied = int(occ["occupied"] or 0)
    max_cell = int(occ["max_cell"] or 0)
    ideal = rows / n_cells if rows else 0.0
    max_share = (max_cell / ideal) if ideal else 0.0
    occupied_frac = occupied / n_cells
    return {
        "n_cells": n_cells,
        "rows": rows,
        "occupied_cells": occupied,
        "occupied_frac": round(occupied_frac, 4),
        "max_cell_rows": max_cell,
        "max_share_x": round(max_share, 3),
        "refit_recommended": bool(rows) and (
            max_share > max_share_threshold
            or occupied_frac < min_occupied_frac),
    }


def rebuild_embedding_index_geometry(spark: SparkSession,
                                     corpus_path: str, index_path: str,
                                     n_planes: int | None = None,
                                     n_bands: int | None = None,
                                     target_bucket_size: int = 64
                                     ) -> dict:
    """Re-sign the ENTIRE embedding index at a new band geometry and
    publish it atomically — the scale path `scaled_n_planes` implies
    but r16 could not walk: band geometry is pinned at
    `create_embedding_index` because signatures under different
    planes are not join-compatible, yet the right plane count TRACKS
    the corpus (n ~ log2(corpus/bucket)); an index created for 5k
    docs saturates its buckets by the time the corpus has grown
    decades, and within-bucket candidate pairs grow ~corpus²/2^bits.
    This rebuilds the index rows from the maintained corpus itself —
    no access to the original raw batches needed:

    - signing source, in order of fidelity: the float re-rank tier
      (bitwise the originals), else the int8 codes dequantized
      (hyperplane signatures are SIGNS, and the per-vector scale is
      positive, so sign(W . dequant) == sign(W . original) except
      within quantization error of the hyperplane — and the stored
      ``nrm`` is then the dequantized norm, exactly consistent with
      what the verify step dequantizes), else the float corpus;
    - ``n_planes`` defaults to ``scaled_n_planes(corpus_rows,
      target_bucket_size)`` — the documented sizing rule; ``n_bands``
      defaults to the current band count;
    - one new index dir lands first (monotonic ``batch=`` name — an
      in-flight reader of the old manifest never has its dirs
      touched), then ONE manifest swap replaces the batch list AND
      the geometry params; superseded dirs get the vacuum retire
      stamp. ``last_stream_batch`` is untouched, so streaming replay
      idempotence holds, and the next maintenance trigger signs its
      batch under the new geometry because every signer reads the
      manifest params.

    Returns {"n_planes", "n_bands", "rows", "dir"}."""
    from .dedup import scaled_n_planes
    from .similarity import dequantize_embeddings_int8

    store = open_dedup_index(index_path)
    store._require("embedding")
    batches = list(store.meta.get("corpus_batches", []))
    if not batches:
        raise ValueError(
            f"maintained corpus at {corpus_path!r} has no committed "
            "batches — nothing to re-sign the index from")
    corp = spark.read.parquet(
        *[_join(corpus_path, b) for b in batches])
    if store.meta.get("float_tier"):
        emb = load_float_tier(spark, corpus_path, index_path)
    elif store.meta.get("corpus_quantized"):
        emb = dequantize_embeddings_int8(corp.select(
            "vec_id", "scale", "q"))
    else:
        emb = corp.select("vec_id", "embedding")
    if n_bands is None:
        n_bands = _embedding_n_bands(store)
    if n_planes is None:
        n_rows = corp.select("vec_id").count()
        n_planes = scaled_n_planes(n_rows, target_bucket_size)
    rows = embedding_index_rows(emb, n_bands, n_planes,
                                width=store.params.get("width"))
    name = store._next_name()
    rows.write.mode("overwrite").parquet(_join(store.path, name))
    n_rows_written = spark.read.parquet(
        _join(store.path, name)).count()
    old = list(store._batches)
    store._batches[:] = [name]
    # a geometry rebuild outranks every tier, same as a full fold:
    # without this the rebuilt full-index dir defaults to level 0 and
    # a routine tiered compact (compact_mode='tiered') folds the
    # ENTIRE index together with K-1 trigger-sized appends — an
    # O(seen) rewrite violating the bounded-cost contract. Stale
    # entries for the superseded dirs are dropped with the swap.
    top = max([int(v) for v in
               store.meta.get("batch_levels", {}).values()] or [0])
    store.meta["batch_levels"] = {name: top + 1}
    store.params["n_planes"] = int(n_planes)
    store.params["n_bands"] = int(n_bands)
    store.meta["geometry_rebuilds"] = int(
        store.meta.get("geometry_rebuilds", 0)) + 1
    store._write_manifest()
    for b in old:                   # retire stamp for vacuum's grace
        _touch_dir(_join(store.path, b))
    return {"n_planes": int(n_planes), "n_bands": int(n_bands),
            "rows": int(n_rows_written), "dir": name}


def minhash_index_advice(spark: SparkSession, index_path: str,
                         size_biased_threshold: float = 256.0,
                         max_bucket_threshold: int = 4096) -> dict:
    """Turn the minhash band index's bucket populations into an
    actionable rebuild signal — the minhash twin of
    :func:`ivf_refit_advice` now that
    :func:`rebuild_minhash_index_geometry` exists (r18): telemetry ->
    advice -> rebuild closes the loop on BOTH maintained-index
    modalities. One narrow scan of the (doc_id, band_idx, band_val)
    index — corpus text and the verify tier are never read.

    What matters at 100 TB is the CANDIDATE VOLUME a new doc's probe
    pays: each of its band rows equi-joins one bucket, so the
    expected candidates per probe row is the SIZE-BIASED mean bucket
    population E[pop^2]/E[pop] (a random probe lands in a bucket
    proportionally to its size), and the worst case is the largest
    bucket. A corpus that has outgrown its creation-time geometry —
    or piled up a family of loosely-similar documents — shows both
    numbers climbing; the repair is a steeper band
    (``rows_per_band`` up, sized via
    :func:`~.dedup.minhash_rows_for_threshold`) through the rebuild.

    Returns {n_rows, n_buckets, max_bucket, mean_bucket,
    size_biased_mean, band_basis, n_bands, rows_per_band,
    rebuild_recommended}. Pure telemetry — no state is touched."""
    store = open_dedup_index(index_path)
    basis, nb, rpb = _minhash_geometry(store)
    stats = (store.load(spark)
             .groupBy("band_idx", "band_val")
             .agg(F.count(F.lit(1)).alias("n"))
             .agg(F.sum("n").alias("rows"),
                  F.count(F.lit(1)).alias("buckets"),
                  F.max("n").alias("max_n"),
                  F.sum(F.col("n") * F.col("n")).alias("sq"))
             .first())
    rows = int(stats["rows"] or 0)
    buckets = int(stats["buckets"] or 0)
    max_bucket = int(stats["max_n"] or 0)
    sq = int(stats["sq"] or 0)
    mean = rows / buckets if buckets else 0.0
    size_biased = sq / rows if rows else 0.0
    return {
        "n_rows": rows,
        "n_buckets": buckets,
        "max_bucket": max_bucket,
        "mean_bucket": round(mean, 3),
        "size_biased_mean": round(size_biased, 3),
        "band_basis": basis,
        "n_bands": nb,
        "rows_per_band": rpb,
        "rebuild_recommended": bool(rows) and (
            size_biased > size_biased_threshold
            or max_bucket > max_bucket_threshold),
    }


def run_minhash_rebuild_check(spark: SparkSession, index_path: str,
                              rows_per_band: int | None = None,
                              j_threshold: float | None = None,
                              n_bands: int | None = None,
                              size_biased_threshold: float = 256.0,
                              max_bucket_threshold: int = 4096,
                              record_batch: int | None = None) -> dict:
    """One turn of the minhash drift loop (r18 — the
    :func:`run_ivf_refit_check` twin): :func:`minhash_index_advice`'s
    narrow bucket scan, then :func:`rebuild_minhash_index_geometry`
    to the TARGET geometry iff the advice fires AND the index is not
    already there. The at-target guard is the rate limit that the
    IVF loop gets for free from its advice clearing: a genuinely
    pily corpus (boilerplate families) can keep the advice firing at
    any geometry, and a rebuild is O(index) — so the loop rebuilds
    AT MOST ONCE per target, never repeatedly. The target comes from
    ``rows_per_band`` directly or ``j_threshold`` through
    :func:`~.dedup.minhash_rows_for_threshold`; ``record_batch``
    stamps the outcome (``auto_rebuild_check``) as a small trailing
    manifest publish. Returns the advice dict with ``rebuild_ran``
    and ``at_target`` added."""
    from .dedup import minhash_rows_for_threshold

    store = open_dedup_index(index_path)
    basis, cur_nb, cur_rpb = _minhash_geometry(store)
    if rows_per_band is None:
        if j_threshold is None:
            raise ValueError(
                "pass rows_per_band or j_threshold as the rebuild "
                "target")
        rows_per_band = minhash_rows_for_threshold(
            j_threshold, n_bands if n_bands is not None else cur_nb)
    tgt_nb = n_bands if n_bands is not None else cur_nb
    advice = minhash_index_advice(
        spark, index_path,
        size_biased_threshold=size_biased_threshold,
        max_bucket_threshold=max_bucket_threshold)
    at_target = (basis == "xxhash64"
                 and (cur_nb, cur_rpb) == (tgt_nb, rows_per_band))
    advice["at_target"] = at_target
    advice["rebuild_ran"] = bool(
        advice["rebuild_recommended"] and not at_target)
    if advice["rebuild_ran"]:
        rebuild_minhash_index_geometry(spark, index_path,
                                       n_bands=tgt_nb,
                                       rows_per_band=rows_per_band)
    if record_batch is not None:
        store = open_dedup_index(index_path)
        store.meta["auto_rebuild_check"] = {
            "batch": int(record_batch),
            "rebuild_ran": advice["rebuild_ran"],
            "at_target": at_target,
            "size_biased_mean": advice["size_biased_mean"],
            "max_bucket": advice["max_bucket"]}
        store._write_manifest()
    return advice


def rebuild_minhash_index_geometry(spark: SparkSession,
                                   index_path: str,
                                   n_bands: int | None = None,
                                   rows_per_band: int | None = None
                                   ) -> dict:
    """Re-sign the ENTIRE minhash band index at a new (n_bands,
    rows_per_band) geometry and publish it atomically — the minhash
    half of geometry adaptation (VERDICT r17 item 4), closing the
    asymmetry where embedding indexes could re-sign
    (:func:`rebuild_embedding_index_geometry`) but minhash indexes
    kept their creation-time geometry forever: the default band
    values derive from md5-based shingle ints that exist nowhere in
    the maintained state, while the verify tier stores xxhash64'd
    shingle sets — a different hash family.

    Resolution: RE-BASE the banding on the stored hashed shingles.
    The committed verify tier is a complete, exact record of every
    survivor's shingle SET (that is why the Jaccard verify can run on
    it), and minhash only needs uniformly-hashed set elements — so
    :func:`~.dedup.bands_from_hashed_shingles` derives minima from
    the xxhash64 values directly (same universal-hash family, base
    ints folded into [0, 2^32) like the md5 path). After the rebuild
    the manifest pins ``band_basis="xxhash64"`` plus the new geometry,
    and every probe/sign site (:func:`_minhash_geometry` /
    :func:`_minhash_rows_for_store`) derives new batches' bands the
    same way — old-geometry band values never join against new ones
    by construction, because the whole index is replaced in ONE
    manifest swap. The S-curve retunes with the geometry:
    P(candidate) = 1 - (1 - J^rows_per_band)^n_bands, the knob a
    grown corpus needs when its creation-time geometry admits too
    many false candidates (rows_per_band up) or misses near-dups
    (n_bands up).

    Crash recipe mirrors the embedding rebuild: the re-signed dir
    lands first under a monotonic ``batch=`` name (in-flight readers
    of the old manifest never have their dirs touched), then one
    manifest swap publishes batch list + geometry + basis together;
    superseded dirs get the vacuum retire stamp, and the rebuilt dir
    takes a tier level above every existing one so a routine tiered
    compact never folds the full index with trigger appends.
    ``last_stream_batch`` is untouched — streaming replay idempotence
    holds. Defaults keep the current geometry (a pure md5->xxhash64
    basis migration). Pre-r15 manifests without a verify tier are a
    loud error.

    Returns {"n_bands", "rows_per_band", "band_basis", "rows",
    "dir"}."""
    store = open_dedup_index(index_path)
    _, cur_nb, cur_rpb = _minhash_geometry(store)
    if n_bands is None:
        n_bands = cur_nb
    if rows_per_band is None:
        rows_per_band = cur_rpb
    if n_bands < 1 or rows_per_band < 1:
        raise ValueError(
            f"n_bands and rows_per_band must be >= 1, got "
            f"({n_bands}, {rows_per_band})")
    tier = _load_minhash_verify_tier(spark, store)
    if not store.meta.get("verify_batches"):
        if store._batches:
            raise ValueError(
                f"index at {index_path!r} has committed band rows but "
                "no verify tier to re-sign from (pre-r15 manifest) — "
                "rebuild the index from the raw documents")
        # empty index: geometry/basis swap alone
    rows = bands_from_hashed_shingles(tier, n_bands, rows_per_band)
    name = store._next_name()
    rows.write.mode("overwrite").parquet(_join(store.path, name))
    n_rows_written = spark.read.parquet(
        _join(store.path, name)).count()
    old = list(store._batches)
    store._batches[:] = [name]
    top = max([int(v) for v in
               store.meta.get("batch_levels", {}).values()] or [0])
    store.meta["batch_levels"] = {name: top + 1}
    store.params["band_basis"] = "xxhash64"
    store.params["n_bands"] = int(n_bands)
    store.params["rows_per_band"] = int(rows_per_band)
    store.params["n_hashes"] = int(n_bands * rows_per_band)
    store.meta["geometry_rebuilds"] = int(
        store.meta.get("geometry_rebuilds", 0)) + 1
    store._write_manifest()
    for b in old:                   # retire stamp for vacuum's grace
        _touch_dir(_join(store.path, b))
    return {"n_bands": int(n_bands),
            "rows_per_band": int(rows_per_band),
            "band_basis": "xxhash64", "rows": int(n_rows_written),
            "dir": name}


def refit_ivf_centroids(spark: SparkSession, corpus_path: str,
                        index_path: str,
                        sample_frac: float = 1.0,
                        n_cells: int | None = None,
                        iters: int = 4,
                        n_files: int | None = None) -> list:
    """Refit the pinned IVF coarse quantizer against the CURRENT
    corpus and re-stamp every committed row's cell in one atomic
    publish (VERDICT r16 item 2) — the adaptation path for a drifting
    100 TB corpus whose embedding distribution has moved away from
    the centroids pinned at :func:`create_embedding_index` time (the
    occupancy histogram above is the alarm; this is the repair).
    Standard IVF practice: coarse quantizers are periodically
    re-trained on current data when the indexed distribution drifts
    (the re-train guidance every IVF implementation documents); the
    Spark-shaped part here is making the re-stamp a cluster-preserving
    columnar rewrite published atomically with the new centroids.

    Mechanics, all riding the existing crash recipes:

    - the fit is :func:`~.curation.kmeans_fit_scaled`'s Arrow Lloyd
      loop over a ``sample_frac`` sample of the corpus' full-precision
      view — the float re-rank tier when the manifest pins one (exact
      originals), else the dequantized int8 codes (~1/254 per-element
      error, immaterial to a coarse quantizer), else the float corpus;
      init follows the repo's deterministic rule (the k smallest
      vec_ids IN THE SAMPLE);
    - every committed corpus batch is re-read, its old ``cell``
      replaced via :func:`_assign_ivf_cells` under the NEW centroids,
      and the whole corpus folded into one ``compact=K`` dir through
      the same cluster-preserving (cell, vec_id) range-partition +
      sort the compactor uses — row-group pruning survives by
      construction;
    - ONE manifest swap publishes the new ``ivf_centroids`` params AND
      the re-stamped fold together: a reader holding the old manifest
      keeps a fully consistent (old centroids, old cells) view, a
      crash before the swap leaves an orphan fold dir that a redo
      overwrites (K is read from the old manifest, so the name is
      deterministic), and the maintenance loop — which re-opens the
      store every trigger — stamps its NEXT batch under the new
      quantizer with no restart. ``last_stream_batch`` is untouched,
      so streaming replay idempotence is preserved.

    The float tier (vec_id-clustered, no cell column) and the
    signature index (hyperplanes, centroid-independent) need no
    rewrite. Returns the new centroid list (cell id == position).
    Cell ids are only meaningful against the manifest generation that
    produced them — anything cached outside the store (there is
    nothing in-repo) must re-resolve."""
    from .curation import kmeans_fit_scaled
    from .similarity import dequantize_embeddings_int8

    store = open_dedup_index(index_path)
    store._require("embedding")
    old = store.params.get("ivf_centroids")
    if not old:
        raise ValueError(
            f"index at {index_path!r} pins no ivf_centroids — create "
            "the index with a quantizer before refitting one")
    batches = list(store.meta.get("corpus_batches", []))
    if not batches:
        raise ValueError(
            f"maintained corpus at {corpus_path!r} has no committed "
            "batches — nothing to fit against or re-stamp")
    width = len(old[0])
    k = int(n_cells) if n_cells is not None else len(old)
    if k < 2:
        raise ValueError(f"n_cells must be >= 2, got {k}")

    corp = spark.read.parquet(
        *[_join(corpus_path, b) for b in batches])
    if store.meta.get("float_tier"):
        emb = load_float_tier(spark, corpus_path, index_path)
    elif store.meta.get("corpus_quantized"):
        emb = dequantize_embeddings_int8(corp.select(
            "vec_id", "scale", "q"))
    else:
        emb = corp.select("vec_id", "embedding")

    fit = emb if sample_frac >= 1.0 else emb.sample(
        fraction=sample_frac, seed=width)
    # deterministic init: the k smallest vec_ids in the fit sample
    # (kmeans_fit_scaled's own rule assumes ids 0..k-1; a maintained
    # corpus has arbitrary survivor ids, so the init ships explicitly)
    init_rows = fit.select("vec_id", "embedding") \
        .orderBy("vec_id").limit(k).collect()
    if len(init_rows) < k:
        raise ValueError(
            f"refit sample has {len(init_rows)} rows < n_cells={k} — "
            "raise sample_frac or lower n_cells")
    init = [[float(x) for x in r.embedding] for r in init_rows]
    fitted = kmeans_fit_scaled(fit, k=k, iters=iters, dims=width,
                               init=init)
    cents = [[float(x) for x in fitted[i]] for i in range(k)]

    # re-stamp from the full-precision view (same source the
    # maintenance loop stamps from when the rows first arrive)
    cells = _assign_ivf_cells(emb, cents)
    seq = int(store.meta.get("corpus_compact_seq", -1)) + 1
    name = f"compact={seq}"
    if n_files is None:
        n_files = max(1, min(len(batches),
                             spark.sparkContext.defaultParallelism))
    (corp.drop("cell").join(cells, "vec_id")
     .repartitionByRange(n_files, "cell", "vec_id")
     .sortWithinPartitions("cell", "vec_id")
     .write.mode("overwrite").parquet(_join(corpus_path, name)))

    store.params["ivf_centroids"] = cents
    store.meta["corpus_batches"] = [name]
    lv = max([int(v) for v in
              store.meta.get("corpus_batches_levels", {}).values()]
             or [0])
    store.meta["corpus_batches_levels"] = {name: lv + 1}
    store.meta["corpus_compact_seq"] = seq
    store.meta["ivf_refits"] = int(store.meta.get("ivf_refits", 0)) + 1
    store._write_manifest()
    for b in batches:               # retire stamp for vacuum's grace
        _touch_dir(_join(corpus_path, b))
    return cents


def run_ivf_refit_check(spark: SparkSession, corpus_path: str,
                        index_path: str,
                        max_share_threshold: float = 4.0,
                        min_occupied_frac: float = 0.5,
                        sample_frac: float = 1.0,
                        n_cells: int | None = None,
                        iters: int = 4,
                        record_batch: int | None = None) -> dict:
    """One turn of the closed drift loop (VERDICT r17 item 3):
    :func:`ivf_refit_advice`'s narrow cell-column scan, then
    :func:`refit_ivf_centroids` iff it recommends one — the
    composition a deployment would otherwise hand-poll. Called by the
    maintenance stream every ``refit_check_every`` committed triggers
    (the built-in rate limit: at most one refit per check window, and
    the post-refit layout clears the advice for genuine drift, so
    steady state runs the cheap scan only). ``record_batch`` stamps
    the outcome into the manifest (``auto_refit_check``) as a small
    trailing publish — observability of when the loop last
    checked/acted; a crash between the refit's own atomic publish and
    this record loses only the record. Returns the advice dict with
    ``refit_ran`` added."""
    advice = ivf_refit_advice(spark, corpus_path, index_path,
                              max_share_threshold=max_share_threshold,
                              min_occupied_frac=min_occupied_frac)
    advice["refit_ran"] = bool(advice["refit_recommended"])
    if advice["refit_recommended"]:
        refit_ivf_centroids(spark, corpus_path, index_path,
                            sample_frac=sample_frac, n_cells=n_cells,
                            iters=iters)
    if record_batch is not None:
        store = open_dedup_index(index_path)
        store.meta["auto_refit_check"] = {
            "batch": int(record_batch),
            "refit_ran": advice["refit_ran"],
            "max_share_x": advice["max_share_x"],
            "occupied_frac": advice["occupied_frac"]}
        store._write_manifest()
    return advice


def compact_maintained_corpus(spark: SparkSession, corpus_path: str,
                              store: "DedupIndexStore | str",
                              n_files: int | None = None,
                              max_batches: int | None = None) -> str:
    """Fold every committed survivors-corpus batch directory into ONE
    and swap ``corpus_batches`` in a single atomic manifest publish —
    the corpus-side twin of :meth:`DedupIndexStore.compact` (VERDICT
    r13 item 1): the maintenance loops append one ``batch=N`` corpus
    dir per trigger, and both the per-trigger ``seen_docs`` read and
    :func:`load_maintained_corpus` union the full list, so at
    per-trigger cadence the read degrades exactly like the index's
    measured small-files shape — worse, because corpus rows are WIDE
    (full text), so min-file-size row groups waste more.

    Same crash-safety recipe as the index compact: the compacted
    directory lands first, the manifest swap publishes it; a crash in
    between leaves the old manifest (and every old dir) fully intact,
    and the rewrite is deterministic so a redo overwrites the same
    directory. Superseded dirs stay on disk for readers holding the
    pre-compaction manifest (retention is the owner's separate
    decision). Compacted dirs are named ``compact=K`` with a monotonic
    K carried in the manifest meta — they can never collide with the
    ``batch=<micro-batch id>`` trigger dirs.

    ``store`` may be an open :class:`DedupIndexStore` (the maintenance
    loop's in-hand instance) or the index path.

    The fold is CLUSTER-PRESERVING (r16): the rewrite range-partitions
    and sorts on the store's natural order — (cell, vec_id) for an
    IVF-centroid embedding corpus, vec_id for a plain embedding
    corpus, doc_id otherwise — matching what the maintenance loops'
    own compaction does. A plain repartition here used to silently
    DECLUSTER a manually-compacted corpus, destroying the
    candidate-pushdown / cell-probe row-group pruning the narrow
    tiers and IVF serving rely on."""
    if isinstance(store, str):
        store = open_dedup_index(store)
    if store.kind == "embedding":
        order = (["cell", "vec_id"]
                 if store.params.get("ivf_centroids") else "vec_id")
    else:
        order = "doc_id"
    return _compact_meta_dirs(spark, corpus_path, store,
                              "corpus_batches", "corpus_compact_seq",
                              n_files, max_batches=max_batches,
                              order_col=order)


def _assert_uniform_schema(spark: SparkSession, base_path: str,
                           dirs: list) -> None:
    """A meta-dir family must be schema-uniform before a folding read
    (ADVICE r14): `spark.read.parquet(many dirs)` merges BY POSITION
    across mismatched schemas, so a mixed family (e.g. an int8
    quantized corpus dir beside a float one) would compact into a
    silently corrupt parquet. The loops' manifest flags prevent mixing
    at write time; this guard makes the shared compactor fail loudly
    even for a hand-assembled manifest. Footer-only reads — no data
    scan."""
    schemas = [spark.read.parquet(_join(base_path, d)).schema
               for d in dirs]
    for d, s in zip(dirs[1:], schemas[1:]):
        if s != schemas[0]:
            raise ValueError(
                f"refusing to compact schema-mixed dirs under "
                f"{base_path!r}: {dirs[0]!r} has {schemas[0].simpleString()} "
                f"but {d!r} has {s.simpleString()}")


def _compact_meta_dirs(spark: SparkSession, base_path: str,
                       store: DedupIndexStore, list_key: str,
                       seq_key: str,
                       n_files: int | None = None,
                       max_batches: int | None = None,
                       order_col: str | None = None) -> str:
    """Shared compactor for any manifest-meta-listed directory family
    (the survivors corpus, the composed loop's fingerprint dirs, the
    hashed-shingle verify tier): fold listed dirs into a ``compact=K``
    dir and swap the list in ONE atomic manifest publish. Same crash
    recipe as the index compact — data first, manifest second,
    superseded dirs left for pre-compaction readers; K is monotonic
    per family via ``seq_key``. ``max_batches`` switches to the same
    tiered partial mode as :meth:`DedupIndexStore.compact` (fold the
    oldest K dirs of the lowest qualifying level; no-op otherwise),
    with the family's levels riding ``meta[f"{list_key}_levels"]``."""
    batches = list(store.meta.get(list_key, []))
    levels_key = f"{list_key}_levels"
    if max_batches is not None:
        levels = {n: int(v) for n, v in
                  store.meta.get(levels_key, {}).items()}
        fold, lv = _tier_fold_set(batches, levels, max_batches)
        if not fold:
            return ""
    elif len(batches) <= 1:
        return ""
    else:
        fold = batches
        lv = max([int(v) for v in
                  store.meta.get(levels_key, {}).values()] or [0])
        levels = {}
    _assert_uniform_schema(spark, base_path, fold)
    whole = spark.read.parquet(*[_join(base_path, b) for b in fold])
    if n_files is None:
        n_files = max(1, min(len(fold),
                             spark.sparkContext.defaultParallelism))
    seq = int(store.meta.get(seq_key, -1)) + 1
    name = f"compact={seq}"
    if order_col is not None:
        # id-clustered rewrite: RANGE-partition + sort so the folded
        # dir keeps tight per-file/row-group min-max stats on the id —
        # the property candidate_pushdown's point lookup prunes on.
        # A plain repartition would scatter ids and every compaction
        # would degrade the verify tier back to full-scan shape.
        # A LIST (r16, the IVF corpus' ["cell", "vec_id"]) clusters on
        # the leading column first, so cell probes keep pruning too.
        cols = [order_col] if isinstance(order_col, str) else \
            list(order_col)
        whole = (whole.repartitionByRange(n_files, *cols)
                 .sortWithinPartitions(*cols))
    else:
        whole = whole.repartition(n_files)
    (whole.write.mode("overwrite").parquet(_join(base_path, name)))
    if max_batches is not None:
        idx = batches.index(fold[0])
        remaining = [b for b in batches if b not in fold]
        store.meta[list_key] = remaining[:idx] + [name] + remaining[idx:]
        levels = {n: v for n, v in levels.items() if n not in fold}
        levels[name] = lv + 1
    else:
        store.meta[list_key] = [name]
        levels = {name: lv + 1}
    store.meta[levels_key] = levels
    store.meta[seq_key] = seq
    store._write_manifest()
    for b in fold:                  # retire stamp for vacuum's grace
        _touch_dir(_join(base_path, b))
    return name


_VACUUMABLE_PREFIXES = ("batch=", "verify=", "fpn=", "compact=")


def _dir_mtime(path: str) -> float:
    """Last-modification time of a directory (local or Hadoop URI)."""
    if "://" not in path:
        return os.path.getmtime(path)
    from ..streaming.event_archive import (_hadoop_fs,
                                           _java_io_as_oserror)
    with _java_io_as_oserror():
        _, jpath, fs, _, _ = _hadoop_fs(path)
        return fs.getFileStatus(jpath).getModificationTime() / 1000.0


def _touch_dir(path: str) -> None:
    """Bump a directory's mtime to NOW — called on every dir a
    compaction supersedes, so :func:`vacuum_dedup_index`'s grace
    window measures from the moment the dir became UNREFERENCED, not
    from its write time (r16: a dir written an hour ago but superseded
    a second ago would otherwise age straight past the grace and be
    deleted from under a reader still holding the pre-compaction
    manifest). Crash orphans need no touch: their mtime IS the moment
    they became orphaned. Best-effort — a failed touch only makes
    vacuum MORE aggressive on that dir, never less correct for
    referenced dirs (vacuum never deletes manifest-referenced dirs
    regardless of age)."""
    try:
        if "://" not in path:
            os.utime(path, None)
            return
        import time as _time

        from ..streaming.event_archive import (_hadoop_fs,
                                               _java_io_as_oserror)
        with _java_io_as_oserror():
            _, jpath, fs, _, _ = _hadoop_fs(path)
            fs.setTimes(jpath, int(_time.time() * 1000), -1)
    except OSError:
        pass


def vacuum_dedup_index(index_path: str,
                       families: list | None = None,
                       grace_seconds: float = 3600.0,
                       dry_run: bool = False) -> dict:
    """Physically delete UNREFERENCED data directories — the retention
    step :meth:`DedupIndexStore.compact` deliberately leaves to the
    owner: superseded pre-compaction dirs and crash orphans accumulate
    forever otherwise. Single-writer discipline applies: run this from
    the maintenance owner, never concurrently with an append/compact.

    Deletes a dir only when ALL of: (1) its name carries one of the
    store's data prefixes (batch=/verify=/fpn=/compact= — anything
    else under the path is not ours to touch), (2) the CURRENT
    manifest does not reference it (batch list, verify/fpcount meta
    families, and each entry of ``families`` — (base_path, list_key)
    pairs for the survivors corpus / composed-loop fingerprints),
    and (3) it is older than ``grace_seconds`` — measured from the
    dir's mtime, which every compaction BUMPS on the dirs it
    supersedes (r16), so the window counts from the moment the dir
    became unreferenced, not from its write time (a reader holding a
    pre-compaction manifest finishes within the grace window; orphans
    from a crashed trigger are replayed long before an hour passes,
    and their mtime already IS their orphaning time).

    Returns {path: [deleted dir names]} (the WOULD-delete list under
    ``dry_run=True``)."""
    import time

    store = open_dedup_index(index_path)
    referenced = {index_path: set(store._batches)
                  | set(store.meta.get("verify_batches", []))
                  | set(store.meta.get("fpcount_batches", []))}
    for base, list_key in (families or []):
        referenced.setdefault(base, set()).update(
            store.meta.get(list_key, []))
    now = time.time()
    out: dict[str, list] = {}
    for base, keep in referenced.items():
        victims = []
        for name in sorted(_fs_listdir(base)):
            full = _join(base, name)
            if (name.startswith(_VACUUMABLE_PREFIXES)
                    and name not in keep
                    and _fs_isdir(full)
                    and now - _dir_mtime(full) >= grace_seconds):
                victims.append(name)
                if not dry_run:
                    _fs_rmtree(full)
        out[base] = victims
    return out


class _Tier(NamedTuple):
    """One manifest-listed directory family a maintenance step writes
    per trigger (the survivors corpus, the hashed-shingle verify tier,
    the curation loop's fingerprint dirs, the float re-rank tier).
    ``rows`` derives the trigger's directory content from the
    checkpointed survivors; the dir is ``<base>/<prefix><batch_id>``
    and its name joins ``meta[list_key]`` in the step's one publish.
    ``order`` is the id clustering the family keeps through compaction
    (None: a plain repartition); ``seq_key`` carries its monotonic
    ``compact=K`` counter."""
    base: str
    list_key: str
    seq_key: str
    order: str | list | None
    rows: Callable[[DataFrame], DataFrame]
    prefix: str = "batch="


def _corpus_tier(corpus_path: str, order="doc_id",
                 rows: Callable[[DataFrame], DataFrame] = lambda s: s
                 ) -> _Tier:
    return _Tier(corpus_path, "corpus_batches", "corpus_compact_seq",
                 order, rows)


def _verify_tier(index_path: str) -> _Tier:
    """The minhash loops' hashed-shingle verify tier, id-sorted so
    ``candidate_pushdown``'s point lookup prunes row groups."""
    return _Tier(index_path, "verify_batches", "verify_compact_seq",
                 "doc_id",
                 lambda s: minhash_verify_rows(s)
                 .sortWithinPartitions("doc_id"),
                 "verify=")


def _check_compact_mode(compact_mode: str) -> None:
    """Fail before anything is written: a mistyped mode must never
    commit a trigger and only then raise inside the compaction."""
    if compact_mode not in ("full", "tiered"):
        raise ValueError(
            f"compact_mode must be 'full' or 'tiered', got "
            f"{compact_mode!r}")


def _run_compaction(spark: SparkSession, store: DedupIndexStore,
                    compact_every: int | None, compact_mode: str,
                    tiers: list) -> None:
    """The loops' shared lifecycle step over the index store and each
    declared tier. ``compact_mode``:

    - ``"full"`` — when the index reaches ``compact_every`` batch
      dirs, fold EVERYTHING (index + each tier) to one dir each:
      minimal read set, but the rewrite is O(seen), spiking the
      trigger it lands on (7.4-10.1 s vs ~2.4 s steady p50 measured
      in r14);
    - ``"tiered"`` — run a bounded LSM pass every trigger (fanout =
      ``compact_every``; no-op unless a level qualifies), so the
      worst-case trigger rewrites ~compact_every small dirs instead
      of the whole history (VERDICT r14 item 4)."""
    if not compact_every:
        return
    fanout = compact_every if compact_mode == "tiered" else None
    if fanout is None and len(store._batches) < compact_every:
        return
    store.compact(spark, max_batches=fanout)
    for t in tiers:
        _compact_meta_dirs(spark, t.base, store, t.list_key, t.seq_key,
                           max_batches=fanout, order_col=t.order)


def _maintenance_step(spark: SparkSession, index_path: str,
                      batch_id: int, stream_token: str | None,
                      compact_every: int | None, compact_mode: str, *,
                      guard: Callable, survivors: Callable,
                      tiers: Callable, index_rows: Callable,
                      meta: Callable | None = None) -> bool:
    """The one commit path of the four maintenance loops. Per-kind
    code arrives as callables over the freshly opened store:
    ``guard(store)`` (kind/geometry and pinned-flag checks),
    ``survivors(store)`` (the probe), ``tiers(store)`` (the declared
    :class:`_Tier` families), ``index_rows(store, surv)`` and
    ``meta(store)`` (extra manifest meta, called after the tier writes
    so it may read an ``Observation`` that rode one of them). Returns
    False when ``batch_id`` was already committed (crash-replay
    no-op).

    Commit protocol (single writer): the survivors are checkpointed
    once, every tier lands in its batch-id-named directory
    (mode=overwrite, so a replay rewrites identical content — the
    step is deterministic given the committed state), then ONE atomic
    index-manifest publish (:meth:`DedupIndexStore.append`) commits
    the index rows AND the meta (last committed micro-batch id, each
    tier's dir list, the stream token) together. A crash before the
    publish leaves orphan directories the replay overwrites; a crash
    after it makes the replay a no-op — readers only ever trust the
    manifest's lists, so they never see survivors whose index rows
    aren't committed (the state in which a replayed batch would
    self-collide with its own index rows and dedup itself to
    nothing). Compaction of the index and the same declared tiers
    follows the publish."""
    _check_compact_mode(compact_mode)
    store = open_dedup_index(index_path)
    guard(store)
    _check_stream_token(store, stream_token)
    if batch_id <= store.meta.get("last_stream_batch", -1):
        return False
    families = tiers(store)
    surv = survivors(store).localCheckpoint()
    update = {"last_stream_batch": batch_id}
    for t in families:
        name = f"{t.prefix}{batch_id}"
        t.rows(surv).write.mode("overwrite").parquet(_join(t.base, name))
        update[t.list_key] = list(store.meta.get(t.list_key, [])) + [name]
    if meta is not None:
        update.update(meta(store))
    if stream_token is not None:
        update["stream_token"] = stream_token
    store.append(index_rows(store, surv), meta_update=update)
    _run_compaction(spark, store, compact_every, compact_mode, families)
    return True


class _trigger_shuffle_width:
    """Set ``spark.sql.shuffle.partitions`` for one maintenance
    trigger and restore it after (VERDICT r14 item 7): per-trigger
    frames are bounded and small, so the right shuffle width tracks
    the TRIGGER volume, not the global conf — 32 -> 8 measured 0.84x
    p50 at 300-doc triggers (BENCH_NOTES r14). A None width is a
    no-op."""

    def __init__(self, spark: SparkSession, width: int | None):
        self.spark, self.width = spark, width

    def __enter__(self):
        if self.width is not None:
            self.prev = self.spark.conf.get("spark.sql.shuffle.partitions")
            self.spark.conf.set("spark.sql.shuffle.partitions",
                                str(int(self.width)))
        return self

    def __exit__(self, *exc):
        if self.width is not None:
            self.spark.conf.set("spark.sql.shuffle.partitions", self.prev)
        return False


def _every_committed(every: int | None, name: str,
                     check: Callable) -> Callable | None:
    """Post-commit hook running ``check(spark, batch_id)`` on every
    ``every``-th micro-batch id (ids > 0); None when ``every`` is."""
    if every is None:
        return None
    if every < 1:
        raise ValueError(f"{name} must be >= 1, got {every}")

    def hook(spark: SparkSession, batch_id: int) -> None:
        if batch_id > 0 and batch_id % every == 0:
            check(spark, batch_id)
    return hook


def _start_maintenance_stream(stream: DataFrame, checkpoint_dir: str,
                              step: Callable, available_now: bool,
                              processing_time: str, compact_mode: str,
                              trigger_shuffle_partitions: int | None,
                              post_commit: Callable | None = None):
    """The one stream starter of the four maintenance loops:
    ``step(spark, batch_df, batch_id)`` is the loop's ``apply_*``
    call (keyed on ``checkpoint_dir`` as its stream token), bracketed
    by the per-trigger shuffle width. ``post_commit(spark, batch_id)``
    runs only when the step committed — a replayed trigger never
    re-runs it, so restart idempotence holds."""
    _check_compact_mode(compact_mode)

    def _proc(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        with _trigger_shuffle_width(spark, trigger_shuffle_partitions):
            if step(spark, batch_df, batch_id) and post_commit is not None:
                post_commit(spark, batch_id)

    writer = (stream.writeStream.foreachBatch(_proc)
              .option("checkpointLocation", checkpoint_dir))
    if available_now:
        writer = writer.trigger(availableNow=True)
    else:
        writer = writer.trigger(processingTime=processing_time)
    return writer.start()


def apply_dedup_maintenance_batch(spark: SparkSession, batch_df: DataFrame,
                                  batch_id: int, corpus_path: str,
                                  index_path: str,
                                  compact_every: int | None = None,
                                  stream_token: str | None = None,
                                  candidate_pushdown: int | None = 4096,
                                  compact_mode: str = "full") -> bool:
    """One idempotent maintenance step: dedup ``batch_df`` against the
    indexed corpus, append the survivors to the corpus, their band
    rows to the index, and their hashed-shingle rows to the verify
    tier. Returns False when ``batch_id`` was already committed
    (crash-replay no-op; commit protocol in :func:`_maintenance_step`).

    Per-trigger IO is O(batch) + two NARROW seen-side scans — the
    band index and the hashed-shingle verify tier (VERDICT r14
    item 1): the wide survivors corpus is WRITE-ONLY here (read only
    by :func:`load_maintained_corpus` consumers), exactly the
    substring loop's proven flat-probe shape. ``candidate_pushdown``
    further turns the verify scan into an ``isin`` point lookup over
    the id-sorted tier when a trigger's candidate set fits the limit."""
    return _maintenance_step(
        spark, index_path, batch_id, stream_token, compact_every,
        compact_mode,
        guard=_minhash_geometry,   # kind + basis-aware geometry guard
        survivors=lambda store: dedup_incremental_survivors_indexed(
            store, batch_df.select("doc_id", "text"), commit=False,
            seen_verify=_load_minhash_verify_tier(spark, store),
            candidate_pushdown=candidate_pushdown),
        tiers=lambda store: [_corpus_tier(corpus_path),
                             _verify_tier(index_path)],
        index_rows=_minhash_rows_for_store)


def start_dedup_maintenance_stream(docs_stream: DataFrame,
                                   corpus_path: str, index_path: str,
                                   checkpoint_dir: str,
                                   compact_every: int | None = None,
                                   available_now: bool = False,
                                   processing_time: str = "10 seconds",
                                   candidate_pushdown: int | None = 4096,
                                   compact_mode: str = "full",
                                   trigger_shuffle_partitions:
                                   int | None = None,
                                   rebuild_check_every: int | None
                                   = None,
                                   rebuild_kwargs: dict | None = None):
    """Streaming corpus maintenance: each micro-batch of (doc_id,
    text) documents is deduplicated against everything committed so
    far (:func:`apply_dedup_maintenance_batch`) — the index answers
    "have I seen a near-dup?" without re-hashing history, survivors
    append to both stores, and the index optionally compacts when its
    batch-dir count reaches ``compact_every``. foreachBatch for the
    same reason as the lake enrichment stream: the step is an exact
    bounded-frame operator per trigger; idempotent replay makes it
    exactly-once end to end (the checkpoint replays a failed trigger,
    the manifest meta makes the replay a committed-batch no-op). The
    checkpoint directory is recorded in the manifest on first commit
    and pinned thereafter: driving a committed index from a DIFFERENT
    checkpoint (whose micro-batch ids restart at 0) is a hard error,
    not a silent replay-drop (ADVICE r13).

    ``trigger_shuffle_partitions`` sizes the shuffle width to the
    per-TRIGGER volume for the duration of each batch fn (restored
    after — VERDICT r14 item 7; 32 -> 8 measured 0.84x p50 at 300-doc
    triggers); ``compact_mode="tiered"`` bounds the compaction spike
    (see :func:`_run_compaction`); ``candidate_pushdown`` turns the
    verify-tier attach into an id point lookup.

    ``rebuild_check_every=N`` (opt-in, r18 — the minhash twin of the
    embedding loop's ``refit_check_every``): every N COMMITTED
    triggers run :func:`minhash_index_advice`'s narrow scan and
    rebuild to the TARGET geometry when it fires
    (:func:`run_minhash_rebuild_check`; the target — ``rows_per_band``
    or ``j_threshold`` — plus thresholds ride ``rebuild_kwargs`` and
    are validated here before the stream starts). Once the index
    sits at the target geometry the check never rebuilds again
    (bounded by construction), and replayed triggers never check."""
    kw = rebuild_kwargs or {}
    hook = _every_committed(
        rebuild_check_every, "rebuild_check_every",
        lambda spark, bid: run_minhash_rebuild_check(
            spark, index_path, record_batch=bid, **kw))
    if (hook is not None and kw.get("rows_per_band") is None
            and kw.get("j_threshold") is None):
        raise ValueError(
            "rebuild_check_every needs a target geometry in "
            "rebuild_kwargs: pass rows_per_band=... or "
            "j_threshold=... (sized via "
            "dedup.minhash_rows_for_threshold)")
    return _start_maintenance_stream(
        docs_stream, checkpoint_dir,
        lambda spark, df, bid: apply_dedup_maintenance_batch(
            spark, df, bid, corpus_path, index_path, compact_every,
            stream_token=checkpoint_dir,
            candidate_pushdown=candidate_pushdown,
            compact_mode=compact_mode),
        available_now, processing_time, compact_mode,
        trigger_shuffle_partitions, post_commit=hook)


def apply_substring_maintenance_batch(spark: SparkSession,
                                      batch_df: DataFrame, batch_id: int,
                                      corpus_path: str, index_path: str,
                                      max_dup_frac: float = 0.5,
                                      compact_every: int | None = None,
                                      stream_token: str | None = None,
                                      compact_mode: str = "full") -> bool:
    """Exact-substring analog of :func:`apply_dedup_maintenance_batch`
    (VERDICT r13 item 2): per trigger, drop new docs whose verbatim
    duplicated-span (fingerprint) coverage against everything
    committed so far exceeds ``max_dup_frac``, append survivors to the
    corpus and their winnowed fingerprints to the index — the
    composition that lets ``build_training_corpus``'s substring gate
    run append-only instead of batch-wide. Same idempotent commit
    protocol; note the per-trigger step never reads the seen corpus
    (the fingerprint index is the complete seen state), so corpus
    dirs are write-only until :func:`load_maintained_corpus`."""
    return _maintenance_step(
        spark, index_path, batch_id, stream_token, compact_every,
        compact_mode,
        guard=lambda store: store._require("substring"),
        survivors=lambda store: substring_incremental_survivors_indexed(
            store, batch_df.select("doc_id", "text"),
            max_dup_frac=max_dup_frac, commit=False),
        tiers=lambda store: [_corpus_tier(corpus_path)],
        index_rows=lambda store, surv: substring_index_rows(
            surv, store.params["k"], store.params["w"]))


def start_substring_maintenance_stream(docs_stream: DataFrame,
                                       corpus_path: str, index_path: str,
                                       checkpoint_dir: str,
                                       max_dup_frac: float = 0.5,
                                       compact_every: int | None = None,
                                       available_now: bool = False,
                                       processing_time: str = "10 seconds",
                                       compact_mode: str = "full",
                                       trigger_shuffle_partitions:
                                       int | None = None):
    """Streaming exact-substring corpus maintenance — see
    :func:`start_dedup_maintenance_stream` for the commit/replay/
    checkpoint-pairing contract and the ``compact_mode`` /
    ``trigger_shuffle_partitions`` knobs; the drop criterion here is
    winnowed verbatim-span coverage > ``max_dup_frac`` against the
    committed fingerprint index."""
    return _start_maintenance_stream(
        docs_stream, checkpoint_dir,
        lambda spark, df, bid: apply_substring_maintenance_batch(
            spark, df, bid, corpus_path, index_path, max_dup_frac,
            compact_every, stream_token=checkpoint_dir,
            compact_mode=compact_mode),
        available_now, processing_time, compact_mode,
        trigger_shuffle_partitions)


def apply_curation_maintenance_batch(spark: SparkSession,
                                     batch_df: DataFrame, batch_id: int,
                                     corpus_path: str, index_path: str,
                                     fp_path: str,
                                     max_dup_frac: float = 0.5,
                                     k: int = 32, w: int = 16,
                                     compact_every: int | None = None,
                                     stream_token: str | None = None,
                                     candidate_pushdown: int | None = 4096,
                                     compact_mode: str = "full") -> bool:
    """COMPOSED per-trigger curation (r14): the exact-substring
    coverage gate THEN MinHash near-dup dedup, both against committed
    state, with ONE commit point — the ``build_training_corpus``
    cross-document stage order, append-only.

    Why this cannot be two maintenance loops chained: each loop's
    store is its own commit authority, so a crash between the
    substring commit and the minhash commit leaves the trigger
    half-committed — and on replay the substring stage would probe an
    index that already contains the batch's OWN fingerprints and
    dedup it against itself to nothing. Here the MINHASH manifest is
    the single authority: the substring fingerprints live in plain
    ``fp_path`` directories whose committed list rides that manifest's
    meta (``fp_batches``), so corpus dir + fingerprint dir land first
    and ONE atomic publish commits rows + both directory lists + the
    replay high-water mark together. A crash anywhere before the
    publish leaves only invisible orphans the replay overwrites.

    The substring geometry (``k``, ``w``) is recorded in the manifest
    meta on first commit and validated thereafter (mismatched
    fingerprints equi-join to silent zero recall — same reason the
    index kinds pin their params).

    Per-trigger seen-side IO is the fingerprint index + the band index
    + the hashed-shingle verify tier — all NARROW; the wide survivors
    corpus is write-only (VERDICT r14 item 1), and the MinHash verify
    reads the tier committed in the same single-authority publish."""
    def guard(store: DedupIndexStore) -> None:
        _minhash_geometry(store)   # kind + basis-aware geometry guard
        rec_k = store.meta.get("substring_k")
        rec_w = store.meta.get("substring_w")
        if rec_k is not None and (rec_k, rec_w) != (k, w):
            raise ValueError(
                f"curation loop at {index_path!r} committed fingerprints "
                f"under (k={rec_k}, w={rec_w}); probing with (k={k}, "
                f"w={w}) would silently match nothing")

    def survivors(store: DedupIndexStore) -> DataFrame:
        seen_verify = _load_minhash_verify_tier(spark, store)
        fp_batches = store.meta.get("fp_batches", [])
        if fp_batches:
            seen_fps = (spark.read.parquet(
                *[_join(fp_path, b) for b in fp_batches])
                .select("fp").distinct())
        else:
            seen_fps = spark.createDataFrame([], "fp long")
        s1 = _substring_survivors_against(
            batch_df.select("doc_id", "text"), seen_fps, k, w,
            max_dup_frac)
        return dedup_incremental_survivors_indexed(
            store, s1, commit=False, seen_verify=seen_verify,
            candidate_pushdown=candidate_pushdown)

    return _maintenance_step(
        spark, index_path, batch_id, stream_token, compact_every,
        compact_mode, guard=guard, survivors=survivors,
        tiers=lambda store: [
            _corpus_tier(corpus_path),
            _Tier(fp_path, "fp_batches", "fp_compact_seq", None,
                  lambda s: substring_index_rows(s, k, w)),
            _verify_tier(index_path)],
        index_rows=_minhash_rows_for_store,
        meta=lambda store: {"substring_k": k, "substring_w": w})


def start_curation_maintenance_stream(docs_stream: DataFrame,
                                      corpus_path: str, index_path: str,
                                      fp_path: str,
                                      checkpoint_dir: str,
                                      max_dup_frac: float = 0.5,
                                      k: int = 32, w: int = 16,
                                      compact_every: int | None = None,
                                      available_now: bool = False,
                                      processing_time: str = "10 seconds",
                                      candidate_pushdown: int | None = 4096,
                                      compact_mode: str = "full",
                                      trigger_shuffle_partitions:
                                      int | None = None):
    """Streaming composed curation (substring gate -> MinHash dedup
    per trigger, one commit point) — see
    :func:`apply_curation_maintenance_batch` for the single-authority
    commit protocol and :func:`start_dedup_maintenance_stream` for the
    checkpoint-pairing contract and the knobs."""
    return _start_maintenance_stream(
        docs_stream, checkpoint_dir,
        lambda spark, df, bid: apply_curation_maintenance_batch(
            spark, df, bid, corpus_path, index_path, fp_path,
            max_dup_frac, k, w, compact_every,
            stream_token=checkpoint_dir,
            candidate_pushdown=candidate_pushdown,
            compact_mode=compact_mode),
        available_now, processing_time, compact_mode,
        trigger_shuffle_partitions)


def apply_embedding_maintenance_batch(spark: SparkSession,
                                      batch_df: DataFrame, batch_id: int,
                                      corpus_path: str, index_path: str,
                                      tau: float = 0.9,
                                      compact_every: int | None = None,
                                      stream_token: str | None = None,
                                      quantize_corpus: bool = False,
                                      candidate_pushdown: int | None = 4096,
                                      compact_mode: str = "full",
                                      keep_float_tier: bool = False) -> bool:
    """Embedding analog of :func:`apply_dedup_maintenance_batch` —
    same idempotent commit protocol (:func:`_maintenance_step`); the
    per-batch step is :func:`embedding_incremental_survivors_indexed`
    (banded bucket probe against the index, batch-scaled multi-band
    within-batch resolve).

    ``quantize_corpus=True`` stores the survivors corpus in the int8
    form (``similarity.quantize_embeddings_int8`` — (vec_id, scale, q),
    ~8x smaller than float64 arrays): at 100 TB the maintained corpus
    IS the dominant storage, and the int8 tier is then ALSO the verify
    source — candidate vectors dequantize inline after the attach
    restriction (VERDICT r14 item 1: the verify scan reads int8 codes,
    never the float arrays; bit-identical to dequantizing first, the
    row-wise dequantize commutes with the join), with
    ``candidate_pushdown`` turning it into an ``isin`` point lookup
    over the id-sorted tier when the trigger's candidate set is small.
    The flag is pinned in the manifest meta on first commit — a loop
    restarted with the other setting is a loud error, never a
    mis-typed read. The INDEX rows (signatures + norms) are always
    computed from the incoming full-precision batch.

    ``keep_float_tier=True`` (VERDICT r15 item 1; requires
    ``quantize_corpus=True`` — a float corpus IS full precision, the
    sidecar would be a byte-for-byte duplicate) additionally persists
    each trigger's survivors as a FLOAT (vec_id, embedding) re-rank
    tier under ``float_tier_path(corpus_path)``, id-clustered like the
    verify tier and committed in the SAME atomic manifest publish —
    the tier :func:`~.similarity.apply_ann_serving_batch`'s
    ``rerank_m`` re-scores against (dequantized int8 codes cannot
    close the quantization gap; only the float originals carry the
    lost bits). Storage is the float corpus the quantized loop
    otherwise saves — opt in when serving recall matters more than
    the 8x tier size. Pinned in the manifest like
    ``corpus_quantized``; compaction and vacuum treat the tier as one
    more manifest-listed dir family."""
    from pyspark.sql import Observation

    from .similarity import quantize_embeddings_int8

    def guard(store: DedupIndexStore) -> None:
        store._require("embedding")
        recorded_q = store.meta.get("corpus_quantized")
        if recorded_q is not None and bool(quantize_corpus) != recorded_q:
            raise ValueError(
                f"embedding corpus at {corpus_path!r} is committed with "
                f"corpus_quantized={recorded_q}; driving the loop with "
                f"quantize_corpus={bool(quantize_corpus)} would mix int8 "
                "and float batch schemas in one manifest")
        if keep_float_tier and not quantize_corpus:
            raise ValueError(
                "keep_float_tier=True only applies to quantize_corpus="
                "True loops: a float survivors corpus already IS the "
                "full-precision tier — rerank against it directly")
        recorded_f = store.meta.get("float_tier")
        if recorded_f is not None and bool(keep_float_tier) != recorded_f:
            raise ValueError(
                f"embedding corpus at {corpus_path!r} is committed with "
                f"float_tier={recorded_f}; driving the loop with "
                f"keep_float_tier={bool(keep_float_tier)} would leave "
                "the re-rank tier covering only part of the corpus — a "
                "silent under-return at serving time")

    def survivors(store: DedupIndexStore) -> DataFrame:
        batches = store.meta.get("corpus_batches", [])
        if batches:
            seen_emb = spark.read.parquet(
                *[_join(corpus_path, b) for b in batches])
        else:
            seen_emb = spark.createDataFrame([], (
                "vec_id long, scale double, q array<tinyint>"
                if quantize_corpus
                else "vec_id long, embedding array<double>"))
        return embedding_incremental_survivors_indexed(
            store, batch_df.select("vec_id", "embedding"), seen_emb,
            tau=tau, commit=False, seen_quantized=bool(quantize_corpus),
            candidate_pushdown=candidate_pushdown)

    # per-trigger telemetry riding the corpus write (VERDICT r16
    # item 2): a FREE observation — a separate groupBy job measured
    # 0.74 s/trigger, a ~25% tax on the ~2.5 s trigger floor
    # (BENCH_NOTES r17), so the per-trigger record carries what
    # row-level observation can compute (rows + approx-distinct cells
    # hit; exact at trigger-sized cardinalities) and the exact
    # histogram / max-share skew stays ivf_cell_occupancy /
    # ivf_refit_advice's on-demand job.
    obs = Observation()

    def tiers(store: DedupIndexStore) -> list:
        centroids = store.params.get("ivf_centroids")
        # IVF serving tier (r16): each survivor's nearest-centroid cell
        # is stamped onto the corpus rows, kept (cell, vec_id)-clustered
        # so the serving probe's cell isin prunes row groups. (The
        # float re-rank tier stays vec_id-clustered only — the re-rank
        # joins by vec_id, never by cell.)
        order = ["cell", "vec_id"] if centroids else ["vec_id"]

        def corpus_rows(surv: DataFrame) -> DataFrame:
            out = quantize_embeddings_int8(surv) if quantize_corpus \
                else surv
            aggs = [F.count(F.lit(1)).alias("rows")]
            if centroids:
                out = out.join(_assign_ivf_cells(surv, centroids),
                               "vec_id")
                aggs.append(
                    F.approx_count_distinct("cell").alias("cells_hit"))
            return out.observe(obs, *aggs).sortWithinPartitions(*order)

        out = [_corpus_tier(corpus_path, order, corpus_rows)]
        if keep_float_tier:
            # full-precision re-rank sidecar, id-sorted so the serving
            # re-rank's candidate pushdown prunes to candidate row groups
            out.append(_Tier(float_tier_path(corpus_path), "float_batches",
                             "float_compact_seq", "vec_id",
                             lambda s: s.sortWithinPartitions("vec_id")))
        return out

    def meta(store: DedupIndexStore) -> dict:
        got = obs.get
        n_written = int(got["rows"] or 0)
        out = {"corpus_quantized": bool(quantize_corpus),
               "float_tier": bool(keep_float_tier)}
        # the ROWS term accumulates into corpus_seen_rows, the
        # manifest-resident corpus size method='auto' serving reads
        # for free (r18) — only while the running total is
        # trustworthy: the field exists, or this is the corpus' FIRST
        # batch (serving falls back to one cached count job otherwise)
        prior_rows = store.meta.get("corpus_seen_rows")
        if prior_rows is not None or not store.meta.get("corpus_batches"):
            out["corpus_seen_rows"] = int(prior_rows or 0) + n_written
        centroids = store.params.get("ivf_centroids")
        if centroids:
            # latest trigger only — a full history would grow the
            # manifest unboundedly
            out["ivf_occupancy"] = {
                "batch": batch_id,
                "cells_hit": int(got["cells_hit"] or 0),
                "rows": n_written,
                "n_cells": len(centroids)}
        return out

    return _maintenance_step(
        spark, index_path, batch_id, stream_token, compact_every,
        compact_mode, guard=guard, survivors=survivors, tiers=tiers,
        index_rows=lambda store, surv: embedding_index_rows(
            surv, _embedding_n_bands(store), store.params["n_planes"],
            width=store.params.get("width")),
        meta=meta)


def start_embedding_maintenance_stream(emb_stream: DataFrame,
                                       corpus_path: str, index_path: str,
                                       checkpoint_dir: str,
                                       tau: float = 0.9,
                                       compact_every: int | None = None,
                                       available_now: bool = False,
                                       processing_time: str = "10 seconds",
                                       quantize_corpus: bool = False,
                                       candidate_pushdown: int | None = 4096,
                                       compact_mode: str = "full",
                                       trigger_shuffle_partitions:
                                       int | None = None,
                                       keep_float_tier: bool = False,
                                       refit_check_every: int | None
                                       = None,
                                       refit_kwargs: dict | None = None):
    """Streaming embedding-corpus maintenance — see
    :func:`start_dedup_maintenance_stream` for the commit/replay
    contract and the knobs; the dedup criterion here is cosine >=
    ``tau`` against the banded LSH-bucket index. ``quantize_corpus``
    stores the survivors tier int8 (8x smaller) and makes it the
    verify source; ``keep_float_tier`` additionally persists the
    float originals as the serving re-rank tier (see
    :func:`apply_embedding_maintenance_batch`).

    ``refit_check_every=N`` (opt-in, r18 — VERDICT r17 item 3) closes
    the quantizer drift loop INSIDE the stream: every N COMMITTED
    triggers the loop runs :func:`ivf_refit_advice`'s narrow scan and
    calls :func:`refit_ivf_centroids` when it fires
    (:func:`run_ivf_refit_check`; thresholds / fit knobs via
    ``refit_kwargs``). Replayed triggers never check (the commit
    gate), so restart idempotence is preserved; the serving stream
    picks the refit quantizer up at its next manifest re-resolve (the
    lifecycle test proves refit-under-live-serving). Requires the
    index to pin ``ivf_centroids`` — validated here, loudly, before
    the stream starts."""
    hook = _every_committed(
        refit_check_every, "refit_check_every",
        lambda spark, bid: run_ivf_refit_check(
            spark, corpus_path, index_path, record_batch=bid,
            **(refit_kwargs or {})))
    if hook is not None and not open_dedup_index(
            index_path).params.get("ivf_centroids"):
        raise ValueError(
            f"refit_check_every needs the embedding index at "
            f"{index_path!r} to pin ivf_centroids "
            "(create_embedding_index(..., ivf_centroids=...)) — "
            "there is no quantizer to refit")
    return _start_maintenance_stream(
        emb_stream, checkpoint_dir,
        lambda spark, df, bid: apply_embedding_maintenance_batch(
            spark, df, bid, corpus_path, index_path, tau, compact_every,
            stream_token=checkpoint_dir,
            quantize_corpus=quantize_corpus,
            candidate_pushdown=candidate_pushdown,
            compact_mode=compact_mode,
            keep_float_tier=keep_float_tier),
        available_now, processing_time, compact_mode,
        trigger_shuffle_partitions, post_commit=hook)
