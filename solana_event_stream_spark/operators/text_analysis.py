"""Text analysis over the `documents` table: language-ID (marker-word
heuristic), quality scoring (length/stopword/char ratios), token counting
(whitespace + BPE-ish regex), and content fingerprinting.

All per-row arithmetic (counts, ratios) — deterministic across engines
without rounding. Regexes are kept to the syntax subset shared by Java
regex (Spark) and RE2 (DuckDB).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from ..catalog import register, track_persist
from ..tables import load_spread

# tiny marker lexicons per language (n-gram heuristic stand-in)
_MARKERS = {
    "en": ["the", "fast", "slow", "value", "key"],
    "de": ["der", "die", "das", "und", "nicht"],
    "es": ["el", "la", "los", "que", "con"],
    "fr": ["le", "les", "des", "une", "est"],
    "zh": ["de", "shi", "bu", "le", "ren"],
}

_STOPWORDS = ["the", "a", "of", "to", "and", "in", "is", "it"]


def _hits_expr(words_col, markers):
    arr = F.array(*[F.lit(m) for m in markers])
    return F.size(F.filter(words_col, lambda w: F.array_contains(arr, w)))


def _sql_hits(markers):
    lst = "[" + ", ".join(f"'{m}'" for m in markers) + "]"
    return f"len(list_filter(w, x -> list_contains({lst}, x)))"


# The five text_* operators register as ONE catalog entry (text_battery,
# defined at the bottom) for the driver 50-row-cap reason: the driver's
# CORRECTNESS harness records at most 50 queries, so each operator keeps
# its full Spark plan and full oracle SQL, melted to a shared long-format
# schema (part, k1, metric, vd, vs) and concatenated shuffle-free.

_SQL_LANGUAGE_ID = f"""
    WITH toks AS (
      SELECT doc_id, lang AS labeled_lang, string_split(text, ' ') AS w
      FROM documents),
    scored AS (
      SELECT doc_id, labeled_lang, len(w) AS n_words,
             {_sql_hits(_MARKERS['en'])} AS hits_en,
             {_sql_hits(_MARKERS['de'])} AS hits_de,
             {_sql_hits(_MARKERS['es'])} AS hits_es,
             {_sql_hits(_MARKERS['fr'])} AS hits_fr,
             {_sql_hits(_MARKERS['zh'])} AS hits_zh
      FROM toks),
    pred AS (
      SELECT *, CASE
        WHEN hits_en >= hits_de AND hits_en >= hits_es
             AND hits_en >= hits_fr AND hits_en >= hits_zh THEN 'en'
        WHEN hits_de >= hits_es AND hits_de >= hits_fr
             AND hits_de >= hits_zh THEN 'de'
        WHEN hits_es >= hits_fr AND hits_es >= hits_zh THEN 'es'
        WHEN hits_fr >= hits_zh THEN 'fr' ELSE 'zh' END AS predicted_lang
      FROM scored)
    SELECT labeled_lang, predicted_lang, COUNT(*) AS n_docs,
           CAST(SUM(hits_en) AS BIGINT) AS total_marker_hits
    FROM pred GROUP BY labeled_lang, predicted_lang
"""


def _langid_pred(h) -> F.Column:
    """Deterministic-tie argmax over a {lang: hit-count Column} dict
    (shared by the standalone operator and the fused battery)."""
    return (
        F.when((h["en"] >= h["de"]) & (h["en"] >= h["es"])
               & (h["en"] >= h["fr"]) & (h["en"] >= h["zh"]), "en")
        .when((h["de"] >= h["es"]) & (h["de"] >= h["fr"])
              & (h["de"] >= h["zh"]), "de")
        .when((h["es"] >= h["fr"]) & (h["es"] >= h["zh"]), "es")
        .when(h["fr"] >= h["zh"], "fr").otherwise("zh"))


def text_language_id(spark, sf_dir: str, docs: DataFrame = None) -> DataFrame:
    """Language-ID heuristic: marker-word hit counts per language,
    argmax with deterministic tie order, confusion counts vs label."""
    docs = docs if docs is not None else load_spread(spark, sf_dir, "documents")
    words = F.split(F.col("text"), " ")
    scored = docs.select(
        "doc_id", F.col("lang").alias("labeled_lang"),
        *[_hits_expr(words, m).alias(f"hits_{k}")
          for k, m in _MARKERS.items()])
    pred = _langid_pred({k: F.col(f"hits_{k}") for k in _MARKERS})
    return (scored.withColumn("predicted_lang", pred)
            .groupBy("labeled_lang", "predicted_lang")
            .agg(F.count(F.lit(1)).alias("n_docs"),
                 F.sum("hits_en").alias("total_marker_hits")))


_SQL_QUALITY_SCORE = f"""
    WITH feats AS (
      SELECT doc_id, lang, length(text) AS n_chars2,
             len(string_split(text, ' ')) AS n_words,
             len(list_filter(string_split(text, ' '),
                 x -> list_contains(
                   [{", ".join(repr(s) for s in _STOPWORDS)}], x)))
               AS n_stop,
             length(regexp_replace(text, '[a-z ]', '', 'g')) AS n_nonalpha
      FROM documents)
    SELECT doc_id, lang, n_chars2, n_words,
           CAST(n_chars2 AS DOUBLE) / n_words AS avg_word_len,
           CAST(n_stop AS DOUBLE) / n_words AS stopword_ratio,
           CAST(n_nonalpha AS DOUBLE) / n_chars2 AS nonalpha_ratio,
           CASE WHEN n_words BETWEEN 50 AND 1000
                 AND CAST(n_stop AS DOUBLE) / n_words >= 0.01
                THEN 1 ELSE 0 END AS quality_pass
    FROM feats
"""


def _quality_metric_cols(text_col, words) -> dict:
    """Per-row quality metrics as a {name: Column} dict (shared by
    the standalone operator and the fused battery)."""
    stop_arr = F.array(*[F.lit(s) for s in _STOPWORDS])
    n_words = F.size(words)
    n_stop = F.size(F.filter(words, lambda w: F.array_contains(stop_arr, w)))
    n_chars2 = F.length(text_col)
    n_nonalpha = F.length(F.regexp_replace(text_col, "[a-z ]", ""))
    stop_ratio = n_stop.cast("double") / n_words
    return {
        "n_chars2": n_chars2,
        "n_words": n_words,
        "avg_word_len": n_chars2.cast("double") / n_words,
        "stopword_ratio": stop_ratio,
        # try_divide: empty text has 0 chars — ANSI division would
        # THROW, DuckDB's / yields NULL, so NULL is the parity value
        "nonalpha_ratio": F.try_divide(n_nonalpha.cast("double"),
                                       n_chars2),
        "quality_pass": F.when((n_words >= 50) & (n_words <= 1000)
                               & (stop_ratio >= 0.01), 1).otherwise(0),
    }


def text_quality_score(spark, sf_dir: str, docs: DataFrame = None) -> DataFrame:
    """Quality scoring: length, avg word length, stopword ratio,
    non-alpha ratio, pass/fail gate."""
    docs = docs if docs is not None else load_spread(spark, sf_dir, "documents")
    words = F.split(F.col("text"), " ")
    cols = _quality_metric_cols(F.col("text"), words)
    return docs.select("doc_id", "lang",
                       *[c.alias(n) for n, c in cols.items()])


_SQL_TOKEN_STATS = """
    SELECT doc_id,
           len(string_split(text, ' ')) AS ws_tokens,
           len(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9 ]'))
             AS bpe_ish_tokens,
           length(text) AS n_bytes2,
           CAST(length(text) AS DOUBLE)
             / len(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9 ]'))
             AS bytes_per_token
    FROM documents
"""


def _token_metric_cols(words) -> dict:
    """Per-row token metrics as a {name: Column} dict. Requires the
    source column to be named ``text`` (the BPE-ish segmentation uses
    a SQL expr)."""
    bpe = F.size(F.expr(
        "regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9 ]', 0)"))
    return {
        "ws_tokens": F.size(words),
        "bpe_ish_tokens": bpe,
        "n_bytes2": F.length("text"),
        # try_divide: empty text segments to 0 BPE-ish tokens (ANSI
        # crash / DuckDB NULL — same parity rule as nonalpha_ratio)
        "bytes_per_token": F.try_divide(
            F.length("text").cast("double"), bpe),
    }


def text_token_stats(spark, sf_dir: str, docs: DataFrame = None) -> DataFrame:
    """Token counting: whitespace split vs BPE-ish regex segmentation."""
    docs = docs if docs is not None else load_spread(spark, sf_dir, "documents")
    cols = _token_metric_cols(F.split(F.col("text"), " "))
    return docs.select("doc_id", *[c.alias(n) for n, c in cols.items()])


_SQL_FINGERPRINT = """
    WITH fp AS (
      SELECT doc_id, source,
             md5(lower(regexp_replace(text, ' +', ' ', 'g'))) AS fingerprint
      FROM documents)
    SELECT source, COUNT(*) AS n_docs,
           COUNT(DISTINCT fingerprint) AS n_distinct,
           MIN(fingerprint) AS min_fp
    FROM fp GROUP BY source
"""


def _fp_expr(text_col) -> F.Column:
    """Normalized-content md5 fingerprint (shared by the standalone
    operator and the fused battery)."""
    return F.md5(F.lower(F.regexp_replace(text_col, " +", " ")))


def text_fingerprint(spark, sf_dir: str, docs: DataFrame = None) -> DataFrame:
    """Document fingerprinting: normalized-content md5, per-source
    distinct counts (shard-level dedup accounting)."""
    docs = docs if docs is not None else load_spread(spark, sf_dir, "documents")
    fp = _fp_expr(F.col("text"))
    return (docs.select("doc_id", "source", fp.alias("fingerprint"))
            .groupBy("source")
            .agg(F.count(F.lit(1)).alias("n_docs"),
                 F.countDistinct("fingerprint").alias("n_distinct"),
                 F.min("fingerprint").alias("min_fp")))


# ---------------------------------------------------------------------------
# PII scrubbing (regex redaction with per-kind accounting)
# ---------------------------------------------------------------------------

# The synthetic corpus has no PII, so (like the dedup near-dup injection)
# deterministic contact strings are appended to every 5th doc — the
# operator then has real redactions to demonstrate and the oracle can
# rebuild the identical corpus. Patterns stay in the Java-regex ∩ RE2
# syntax subset.
_EMAIL_RE = "[a-z0-9._%+-]+@[a-z0-9.-]+\\.[a-z]+"
_PHONE_RE = "[0-9]{3}-[0-9]{3}-[0-9]{4}"

_SQL_PII_DOCS = """
    pii_docs AS (
      SELECT doc_id, lang,
             CASE WHEN doc_id % 5 = 0 THEN
               text || ' contact user' || CAST(doc_id AS VARCHAR)
                    || '@mail.example or 555-01' || CAST(doc_id % 10 AS VARCHAR)
                    || '-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
             ELSE text END AS text
      FROM documents)
"""


def _pii_text_expr(doc_id, text) -> F.Column:
    """The deterministic PII-injected text column (every 5th doc gains
    a synthetic contact string; shared by the standalone operator and
    the fused battery)."""
    contact = F.concat(
        text, F.lit(" contact user"),
        doc_id.cast("string"), F.lit("@mail.example or 555-01"),
        (doc_id % 10).cast("string"), F.lit("-"),
        F.lpad((doc_id % 10000).cast("string"), 4, "0"))
    return F.when(doc_id % 5 == 0, contact).otherwise(text)


def _pii_row_cols(ptext) -> dict:
    """Per-row PII metrics over the injected text column: redaction
    counts and the cleaned text."""
    clean = F.regexp_replace(
        F.regexp_replace(ptext, _EMAIL_RE, "<EMAIL>"),
        _PHONE_RE, "<PHONE>")
    return {
        "n_emails": F.regexp_count(ptext, F.lit(_EMAIL_RE)),
        "n_phones": F.regexp_count(ptext, F.lit(_PHONE_RE)),
        "clean": clean,
    }


def _docs_with_pii(spark, sf_dir: str, docs: DataFrame = None) -> DataFrame:
    docs = (docs if docs is not None
            else load_spread(spark, sf_dir, "documents")).select(
        "doc_id", "lang", "text")
    return docs.select(
        "doc_id", "lang",
        _pii_text_expr(F.col("doc_id"), F.col("text")).alias("text"))


_SQL_PII_SCRUB = f"""
    WITH {_SQL_PII_DOCS},
    scrubbed AS (
      SELECT doc_id, lang,
             len(regexp_extract_all(text, '{_EMAIL_RE}')) AS n_emails,
             len(regexp_extract_all(text, '{_PHONE_RE}')) AS n_phones,
             regexp_replace(regexp_replace(text, '{_EMAIL_RE}', '<EMAIL>',
                                           'g'),
                            '{_PHONE_RE}', '<PHONE>', 'g') AS clean
      FROM pii_docs)
    SELECT lang, COUNT(*) AS n_docs,
           CAST(SUM(n_emails) AS BIGINT) AS n_emails,
           CAST(SUM(n_phones) AS BIGINT) AS n_phones,
           CAST(SUM(CASE WHEN n_emails + n_phones > 0 THEN 1 ELSE 0 END)
                AS BIGINT) AS n_docs_redacted,
           CAST(SUM(strlen(clean)) AS BIGINT) AS sum_len_clean,
           COUNT(DISTINCT md5(clean)) AS n_distinct_clean
    FROM scrubbed GROUP BY lang
"""


def text_pii_scrub(spark, sf_dir: str, docs: DataFrame = None) -> DataFrame:
    """PII scrubbing: email/phone regex redaction with per-kind
    accounting, rolled up per language. Narrow per-row regex work
    (pushed-down 3-column scan); the 5-key rollup is the only shuffle.
    The md5-of-clean-text distinct count pins the exact redacted
    output, not just the counts."""
    docs = _docs_with_pii(spark, sf_dir, docs)
    cols = _pii_row_cols(F.col("text"))
    scrubbed = docs.select(
        "lang", *[c.alias(n) for n, c in cols.items()])
    return (scrubbed.groupBy("lang")
            .agg(F.count(F.lit(1)).alias("n_docs"),
                 F.sum("n_emails").alias("n_emails"),
                 F.sum("n_phones").alias("n_phones"),
                 F.sum(F.when(F.col("n_emails") + F.col("n_phones") > 0, 1)
                       .otherwise(0)).alias("n_docs_redacted"),
                 F.sum(F.length("clean")).alias("sum_len_clean"),
                 F.count_distinct(F.md5("clean"))
                 .alias("n_distinct_clean")))


# ---------------------------------------------------------------------------
# text_battery — all five operators as one long-format catalog entry
# ---------------------------------------------------------------------------

_SQL_REPETITION = """
    WITH w AS (SELECT doc_id, string_split(text, ' ') AS w
               FROM documents),
    base AS (SELECT doc_id, len(w) AS n_words,
                    len(list_distinct(w)) AS n_distinct_words FROM w),
    g2 AS (SELECT doc_id,
                  unnest(CASE WHEN len(w) >= 2 THEN
                    list_transform(range(1, len(w)),
                                   i -> w[i] || ' ' || w[i+1])
                  ELSE [] END) AS gram FROM w),
    c2 AS (SELECT doc_id, gram, COUNT(*) AS c FROM g2 GROUP BY 1, 2),
    s2 AS (SELECT doc_id, SUM(c) AS n2grams, MAX(c) AS top2_n,
                  SUM(CASE WHEN c >= 2 THEN c ELSE 0 END) AS dup2_n
           FROM c2 GROUP BY 1),
    g3 AS (SELECT doc_id,
                  unnest(CASE WHEN len(w) >= 3 THEN
                    list_transform(range(1, len(w) - 1),
                                   i -> w[i] || ' ' || w[i+1]
                                        || ' ' || w[i+2])
                  ELSE [] END) AS gram FROM w),
    c3 AS (SELECT doc_id, gram, COUNT(*) AS c FROM g3 GROUP BY 1, 2),
    s3 AS (SELECT doc_id, SUM(c) AS n3grams, MAX(c) AS top3_n,
                  SUM(CASE WHEN c >= 2 THEN c ELSE 0 END) AS dup3_n
           FROM c3 GROUP BY 1)
    SELECT b.doc_id, b.n_words, b.n_distinct_words,
           1.0 - CAST(b.n_distinct_words AS DOUBLE) / b.n_words
             AS dup_word_frac,
           s2.n2grams, s2.top2_n, s2.dup2_n,
           CAST(s2.top2_n AS DOUBLE) / s2.n2grams AS top2_frac,
           CAST(s2.dup2_n AS DOUBLE) / s2.n2grams AS dup2_frac,
           s3.n3grams, s3.top3_n, s3.dup3_n,
           CAST(s3.top3_n AS DOUBLE) / s3.n3grams AS top3_frac,
           CAST(s3.dup3_n AS DOUBLE) / s3.n3grams AS dup3_frac
    FROM base b LEFT JOIN s2 USING (doc_id) LEFT JOIN s3 USING (doc_id)
"""


def _rep_grams(words_col, n: int) -> F.Column:
    """Word n-grams WITHOUT the per-doc distinct (repetition is the
    thing being measured), built as ``zip_with`` over n shifted slices
    of the words array. The lambda bodies touch only ELEMENTS — the
    words array is evaluated once per slice argument, never inside a
    lambda, which matters enormously in interpreted (codegen-off)
    evaluation where a lambda-body subtree re-evaluates per element (a
    sequence->slice formulation re-split the text per gram: measured
    8x the whole battery's cost)."""
    s = F.size(words_col)
    cat = lambda a, b: F.concat_ws(" ", a, b)  # noqa: E731
    if n == 2:
        grams = F.zip_with(F.slice(words_col, 1, s - 1),
                           F.slice(words_col, 2, s - 1), cat)
    elif n == 3:
        grams = F.zip_with(
            F.zip_with(F.slice(words_col, 1, s - 2),
                       F.slice(words_col, 2, s - 2), cat),
            F.slice(words_col, 3, s - 2), cat)
    else:
        raise ValueError(f"n must be 2 or 3, got {n}")
    return F.when(s >= n, grams).otherwise(
        F.array().cast("array<string>"))


def _run_length_tally(grams_col, elem_type: str = "string") -> F.Column:
    """struct(total, top, dup) gram-frequency tally as a PER-ROW fold:
    sort the gram array, then ONE pass counting runs — total grams,
    the longest run (the most frequent gram's count), and the number
    of grams inside runs of length >= 2. Zero exchange, zero explode:
    the whole repetition part stays a narrow projection (the explode +
    (doc_id, gram) hash-aggregate form measured 2.4x the battery cost
    at sf0.1; the counts are integers, so the DuckDB oracle keeps the
    plain relational form and still hash-matches). The gram array is
    referenced exactly ONCE (total rides in the accumulator) and the
    NULL-init prev means the first gram never matches."""
    z = F.struct(
        F.lit(None).cast(elem_type).alias("prev"),
        F.lit(0).cast("long").alias("run"),
        F.lit(0).cast("long").alias("top"),
        F.lit(0).cast("long").alias("dup"),
        F.lit(0).cast("long").alias("total"))

    def step(acc, x):
        nr = F.when(x == acc["prev"], acc["run"] + 1) \
            .otherwise(F.lit(1).cast("long"))
        return F.struct(
            x.alias("prev"), nr.alias("run"),
            F.greatest(acc["top"], nr).alias("top"),
            (acc["dup"] + F.when(nr == 2, 2).when(nr > 2, 1)
             .otherwise(0)).alias("dup"),
            (acc["total"] + 1).alias("total"))

    def finish(acc):
        return F.when(
            acc["total"] > 0,
            F.struct(acc["total"].alias("total"), acc["top"].alias("top"),
                     acc["dup"].alias("dup")))

    return F.aggregate(F.array_sort(grams_col), z, step, finish)


def _word_hashes(words_col) -> F.Column:
    """xxhash64 per word — hash each word string ONCE; every gram
    downstream combines the LONGS (fixed 8-byte hashing) instead of
    re-traversing word strings per gram (each word otherwise gets
    string-hashed ~5x across the 2- and 3-gram builds)."""
    return F.transform(words_col, lambda x: F.xxhash64(x))


def _rep_gram_hashes(hw_col, n: int) -> F.Column:
    """Word n-gram HASHES from the pre-hashed word array: the same
    zip_with-over-shifted-slices shape as :func:`_rep_grams`, but the
    element op is xxhash64 over longs (3-grams chain the 2-gram hash
    with the third word's hash) — no per-gram string allocation, long
    sort keys, long run compares.

    The tallies only need equality runs, so hashed grams produce
    IDENTICAL counts unless two distinct grams of one doc collide in
    64 bits — P ~ m^2/2^65 per doc (~3e-11 at 1k grams), ~5e-2
    expected collisions across a trillion-doc corpus, and a collision
    perturbs one doc's top/dup count by one run merge; the exact
    string form (:func:`_rep_grams` + string tally) remains as the
    reference and is differential-pinned in
    tests/test_text_repetition.py. VERDICT r12 item 7: the measured
    A/B (BENCH_NOTES r13) chose this over the proposed single-fused
    fold (1.25x SLOWER than two folds — per-element cost dominates,
    not per-pass overhead), a packed single-long accumulator (1.07x),
    and a long-keyed fused sort (1.14x)."""
    s = F.size(hw_col)
    if n == 2:
        grams = F.zip_with(F.slice(hw_col, 1, s - 1),
                           F.slice(hw_col, 2, s - 1),
                           lambda a, b: F.xxhash64(a, b))
    elif n == 3:
        grams = F.zip_with(
            F.zip_with(F.slice(hw_col, 1, s - 2),
                       F.slice(hw_col, 2, s - 2),
                       lambda a, b: F.xxhash64(a, b)),
            F.slice(hw_col, 3, s - 2),
            lambda h, c: F.xxhash64(h, c))
    else:
        raise ValueError(f"n must be 2 or 3, got {n}")
    return F.when(s >= n, grams).otherwise(F.array().cast("array<long>"))


def _g3_from_g2(g2_col, hw_col) -> F.Column:
    """3-gram hashes chained FROM an already-materialized 2-gram hash
    array: hash3[i] = xxhash64(hash2[i], w[i+2]) — identical values to
    ``_rep_gram_hashes(hw, 3)`` by construction (same chain), but the
    (a, b) pair hashes are reused instead of recomputed (one fewer
    xxhash64 pass per row; measured 0.96x, BENCH_NOTES Round 13)."""
    s = F.size(hw_col)
    return F.when(s >= 3, F.zip_with(
        F.slice(g2_col, 1, s - 2), F.slice(hw_col, 3, s - 2),
        lambda h, c: F.xxhash64(h, c))) \
        .otherwise(F.array().cast("array<long>"))


def text_repetition(spark, sf_dir: str, docs: DataFrame = None) -> DataFrame:
    """Gopher-style within-document repetition filters (Rae et al.
    2021 §A1.1, public paper): duplicate-word fraction plus, per
    n ∈ {2, 3}, the total/most-frequent/duplicated word-n-gram counts
    and fractions — the standard curation pass that catches
    boilerplate and degenerate repetition BEFORE cross-document dedup.

    Scale: stacked narrow projections over one scan — no explode, no
    keyed shuffle (load_spread adds one round-robin rebalance ONLY
    when the scan has fewer splits than cores; a no-op at warehouse
    scale). The first projection materializes the per-word hash array
    ONCE (:func:`_word_hashes`; Catalyst keeps the projections
    separate because the transform is multi-referenced and non-cheap,
    so the hashes are computed once per row, not once per reference);
    the second stages the 2-gram hash array, from which the 3-gram
    hashes are chained (:func:`_g3_from_g2`); the third runs the
    distinct count and both gram tallies over LONGS — the r13 form
    that A/B-measured 0.64x the all-string form at identical counts
    (BENCH_NOTES r13; collision bound in _rep_gram_hashes'
    docstring). Docs too short for an n-gram carry NULL n-gram
    metrics (both engines)."""
    docs = (docs if docs is not None
            else load_spread(spark, sf_dir, "documents"))
    words = F.split(F.col("text"), " ")
    hashed = docs.select("doc_id", _word_hashes(words).alias("hw"))
    hw = F.col("hw")
    staged = hashed.select(
        "doc_id", "hw", _rep_gram_hashes(hw, 2).alias("g2"))
    base = staged.select(
        "doc_id", F.size(hw).alias("n_words"),
        F.size(F.array_distinct(hw)).alias("n_distinct_words"),
        _run_length_tally(F.col("g2"), "long").alias("_t2"),
        _run_length_tally(_g3_from_g2(F.col("g2"), hw), "long")
        .alias("_t3"))
    cols = _repetition_metric_cols(
        F.col("n_words"), F.col("n_distinct_words"),
        F.col("_t2"), F.col("_t3"))
    return base.select("doc_id",
                       *[c.alias(n) for n, c in cols.items()])


def _repetition_metric_cols(n_words, nd, t2, t3) -> dict:
    """The 13 Gopher repetition metrics from the staged word/tally
    columns, as a {name: Column} dict (shared by the standalone
    operator and the fused battery). ``t2``/``t3`` are the
    :func:`_run_length_tally` structs (NULL for too-short docs)."""
    return {
        "n_words": n_words,
        "n_distinct_words": nd,
        "dup_word_frac": F.lit(1.0) - nd.cast("double") / n_words,
        "n2grams": t2["total"],
        "top2_n": t2["top"],
        "dup2_n": t2["dup"],
        "top2_frac": t2["top"].cast("double") / t2["total"],
        "dup2_frac": t2["dup"].cast("double") / t2["total"],
        "n3grams": t3["total"],
        "top3_n": t3["top"],
        "dup3_n": t3["dup"],
        "top3_frac": t3["top"].cast("double") / t3["total"],
        "dup3_frac": t3["dup"].cast("double") / t3["total"],
    }


def _melt_df(df: DataFrame, part: str, k1, num_metrics, str_metrics=()):
    """Melt named columns to long format (part, k1, metric, vd, vs).

    Zero-shuffle: one generate (explode of a literal-size array) per
    branch; every metric value rides through unchanged, so the driver's
    value hash still pins each operator's full per-row output.
    """
    entries = [f"named_struct('metric', '{m}', "
               f"'vd', CAST(`{m}` AS DOUBLE), 'vs', CAST(NULL AS STRING))"
               for m in num_metrics]
    entries += [f"named_struct('metric', '{m}', "
                f"'vd', CAST(NULL AS DOUBLE), 'vs', CAST(`{m}` AS STRING))"
                for m in str_metrics]
    return (df.select(F.lit(part).alias("part"),
                      k1.cast("string").alias("k1"),
                      F.explode(F.expr(
                          "array(" + ", ".join(entries) + ")")).alias("m"))
            .select("part", "k1", F.col("m.metric").alias("metric"),
                    F.col("m.vd").alias("vd"), F.col("m.vs").alias("vs")))


def _melt_sql(part: str, sub_sql: str, k1_expr: str,
              num_metrics, str_metrics=()) -> str:
    out = []
    for m in num_metrics:
        out.append(
            f"SELECT '{part}' AS part, CAST({k1_expr} AS VARCHAR) AS k1,"
            f" '{m}' AS metric, CAST({m} AS DOUBLE) AS vd,"
            f" CAST(NULL AS VARCHAR) AS vs FROM ({sub_sql}) t")
    for m in str_metrics:
        out.append(
            f"SELECT '{part}' AS part, CAST({k1_expr} AS VARCHAR) AS k1,"
            f" '{m}' AS metric, CAST(NULL AS DOUBLE) AS vd,"
            f" CAST({m} AS VARCHAR) AS vs FROM ({sub_sql}) t")
    return "\nUNION ALL\n".join(out)


_BATTERY_METRICS = {
    "langid": dict(k1="labeled_lang || '->' || predicted_lang",
                   num=("n_docs", "total_marker_hits")),
    "quality": dict(k1="doc_id",
                    num=("n_chars2", "n_words", "avg_word_len",
                         "stopword_ratio", "nonalpha_ratio",
                         "quality_pass"),
                    str_=("lang",)),
    "tokens": dict(k1="doc_id",
                   num=("ws_tokens", "bpe_ish_tokens", "n_bytes2",
                        "bytes_per_token")),
    "fingerprint": dict(k1="source", num=("n_docs", "n_distinct"),
                        str_=("min_fp",)),
    "pii": dict(k1="lang",
                num=("n_docs", "n_emails", "n_phones", "n_docs_redacted",
                     "sum_len_clean", "n_distinct_clean")),
    "repetition": dict(k1="doc_id",
                       num=("n_words", "n_distinct_words",
                            "dup_word_frac", "n2grams", "top2_n",
                            "dup2_n", "top2_frac", "dup2_frac",
                            "n3grams", "top3_n", "dup3_n", "top3_frac",
                            "dup3_frac")),
}

_BATTERY_SQL = {
    "langid": _SQL_LANGUAGE_ID,
    "quality": _SQL_QUALITY_SCORE,
    "tokens": _SQL_TOKEN_STATS,
    "fingerprint": _SQL_FINGERPRINT,
    "pii": _SQL_PII_SCRUB,
    "repetition": _SQL_REPETITION,
}


def _melt_multi(df: DataFrame, k1, parts) -> DataFrame:
    """Melt SEVERAL parts' metric columns in ONE generate: like
    :func:`_melt_df` but the part rides inside each literal entry, so
    n parts over the same per-row frame cost one explode instead of n
    subplan copies. ``parts`` is [(part, num_metrics, str_metrics)]."""
    # ONE parsed SQL fragment for the whole entry array (r18, guide
    # §7.3): the nested-Column form paid ~8 py4j round-trips per
    # metric entry; the parsed tree is the same named_struct/CAST
    # nodes, so the melted values are unchanged.
    entries = []
    for part, num, str_ in parts:
        entries += [f"named_struct('part', '{part}', 'metric', '{m}', "
                    f"'vd', CAST(`{m}` AS DOUBLE), "
                    "'vs', CAST(NULL AS STRING))"
                    for m in num]
        entries += [f"named_struct('part', '{part}', 'metric', '{m}', "
                    "'vd', CAST(NULL AS DOUBLE), "
                    f"'vs', CAST(`{m}` AS STRING))"
                    for m in str_]
    return (df.select(k1.cast("string").alias("k1"),
                      F.explode(F.expr(
                          "array(" + ", ".join(entries) + ")")).alias("m"))
            .select(F.col("m.part").alias("part"), "k1",
                    F.col("m.metric").alias("metric"),
                    F.col("m.vd").alias("vd"), F.col("m.vs").alias("vs")))


@register(
    "text_battery",
    oracle="\nUNION ALL\n".join(
        _melt_sql(part, _BATTERY_SQL[part], spec["k1"], spec["num"],
                  spec.get("str_", ()))
        for part, spec in _BATTERY_METRICS.items()),
    tags=("text", "llm-data", "langid", "quality", "tokens",
          "fingerprint", "pii", "repetition"),
    doc="All six text-analysis operators (language-ID, quality score, "
        "token stats, fingerprint, PII scrub, Gopher-style repetition "
        "filters) as one catalog entry, "
        "melted to a shared (part, k1, metric, vd, vs) long format so "
        "each operator's full per-row output stays in the driver's "
        "value hash (driver 50-row-cap consolidation). Each branch "
        "keeps its full narrow plan; the melt is a per-row explode of "
        "a literal-size array — no extra shuffle.",
)
def text_battery(spark, sf_dir: str) -> DataFrame:
    """Fused one-pass battery (r13). The six operators' per-row work
    is computed in TWO corpus scans instead of six subplan re-scans —
    the shape that matters at 100 TB, where each union branch would
    otherwise re-read the whole documents table:

    - scan A (zero shuffle): the three PER-DOC parts (quality, tokens,
      repetition) share one staged projection chain (words -> word
      hashes -> 2-gram hashes -> tallies; each array materialized once
      per row) and melt through ONE literal-size explode
      (:func:`_melt_multi`).
    - scan B (one agg shuffle): the three ROLLUP parts (langid,
      fingerprint, pii) pre-compute their per-row inputs in one staged
      chain, emit one (kind, key) struct per part per row through one
      explode, and aggregate in ONE groupBy whose combined aggregate
      set covers all three parts (the distinct-heavy fingerprint/pii
      members shuffled the same per-doc hashes as the old per-branch
      form — volume unchanged, scans 3 -> 1). The ~35-row aggregate is
      persisted (catalog-tracked) so the three part selections don't
      re-trigger the scan.

    Values are bit-identical to the standalone operators (the metric
    expressions are the SAME shared builder functions) and the oracle
    SQL is unchanged. NULL-lang caveat: langid groups by the
    concatenated key, which merges label-NULL rows across predictions;
    the corpus has non-null lang (generator) and the oracle comparison
    would catch a violation."""
    shared = load_spread(spark, sf_dir, "documents")

    # ---- scan A: per-doc parts, zero shuffle ----
    words = F.split(F.col("text"), " ")
    s1 = shared.select("doc_id", "lang", "text",
                       words.alias("_w"))
    s2 = s1.select("doc_id", "lang", "text", "_w",
                   _word_hashes(F.col("_w")).alias("_hw"))
    s3 = s2.select("doc_id", "lang", "text", "_w", "_hw",
                   _rep_gram_hashes(F.col("_hw"), 2).alias("_g2"))
    s4 = s3.select(
        "doc_id", "lang", "text", "_w", "_hw",
        _run_length_tally(F.col("_g2"), "long").alias("_t2"),
        _run_length_tally(_g3_from_g2(F.col("_g2"), F.col("_hw")),
                          "long").alias("_t3"))
    per_doc_cols = {}
    per_doc_cols.update(_quality_metric_cols(F.col("text"), F.col("_w")))
    per_doc_cols.update(_token_metric_cols(F.col("_w")))
    # n_words appears in both quality and repetition with the same
    # value (word count) — one column serves both parts' melt entries
    rep = _repetition_metric_cols(
        F.size(F.col("_hw")),
        F.size(F.array_distinct(F.col("_hw"))),
        F.col("_t2"), F.col("_t3"))
    per_doc_cols.update({n: c for n, c in rep.items() if n != "n_words"})
    row = s4.select("doc_id", "lang",
                    *[c.alias(n) for n, c in per_doc_cols.items()])
    spec_q = _BATTERY_METRICS["quality"]
    melted_a = _melt_multi(row, F.col("doc_id"), [
        ("quality", spec_q["num"], spec_q.get("str_", ())),
        ("tokens", _BATTERY_METRICS["tokens"]["num"], ()),
        ("repetition", _BATTERY_METRICS["repetition"]["num"], ()),
    ])

    # ---- scan B: rollup parts, one agg shuffle ----
    b1 = shared.select(
        "doc_id", "lang", "source", "text",
        F.split(F.col("text"), " ").alias("_w"))
    b2 = b1.select(
        "lang", "source",
        *[_hits_expr(F.col("_w"), m).alias(f"hits_{k}")
          for k, m in _MARKERS.items()],
        _fp_expr(F.col("text")).alias("_fpr"),
        _pii_text_expr(F.col("doc_id"), F.col("text")).alias("_ptext"))
    pii = _pii_row_cols(F.col("_ptext"))
    b3 = b2.select(
        "lang", "source", "hits_en",
        F.concat(F.col("lang"), F.lit("->"),
                 _langid_pred({k: F.col(f"hits_{k}")
                               for k in _MARKERS})).alias("_lkey"),
        "_fpr",
        pii["n_emails"].alias("_nem"), pii["n_phones"].alias("_nph"),
        F.length(pii["clean"]).alias("_lenc"),
        F.md5(pii["clean"]).alias("_md5c"))
    null_s = F.lit(None).cast("string")
    null_l = F.lit(None).cast("long")
    null_i = F.lit(None).cast("int")
    kinds = b3.select(F.explode(F.array(
        F.struct(F.lit("langid").alias("kind"),
                 F.col("_lkey").alias("key"),
                 F.col("hits_en").cast("long").alias("h_en"),
                 null_s.alias("fpr"), null_i.alias("nem"),
                 null_i.alias("nph"), null_l.alias("lenc"),
                 null_s.alias("md5c")),
        F.struct(F.lit("fingerprint").alias("kind"),
                 F.col("source").alias("key"),
                 null_l.alias("h_en"), F.col("_fpr").alias("fpr"),
                 null_i.alias("nem"), null_i.alias("nph"),
                 null_l.alias("lenc"), null_s.alias("md5c")),
        F.struct(F.lit("pii").alias("kind"), F.col("lang").alias("key"),
                 null_l.alias("h_en"), null_s.alias("fpr"),
                 F.col("_nem").alias("nem"), F.col("_nph").alias("nph"),
                 F.col("_lenc").cast("long").alias("lenc"),
                 F.col("_md5c").alias("md5c")),
    )).alias("g")).select("g.*")
    agg = track_persist(
        kinds.groupBy("kind", "key").agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("h_en").alias("total_marker_hits"),
            F.count_distinct(F.col("fpr")).alias("n_distinct"),
            F.min("fpr").alias("min_fp"),
            F.sum("nem").alias("n_emails"),
            F.sum("nph").alias("n_phones"),
            F.sum(F.when(F.col("nem") + F.col("nph") > 0, 1)
                  .otherwise(0)).alias("n_docs_redacted"),
            F.sum("lenc").alias("sum_len_clean"),
            F.count_distinct(F.col("md5c")).alias("n_distinct_clean")))
    melted_b = None
    for part, key_col in (("langid", "key"), ("fingerprint", "key"),
                          ("pii", "key")):
        spec = _BATTERY_METRICS[part]
        m = _melt_df(agg.filter(F.col("kind") == part), part,
                     F.col(key_col), spec["num"], spec.get("str_", ()))
        melted_b = m if melted_b is None else melted_b.unionByName(m)

    return melted_a.unionByName(melted_b)


# ---------------------------------------------------------------------------
# N-gram LM perplexity scoring (CCNet-style quality filter — Wenzek et
# al. 2020 train a KenLM on clean reference text and keep low-perplexity
# documents; public paper. Same shape here with a word-bigram LM whose
# training and scoring are both plain Spark aggregations/joins, so the
# filter runs in-engine with no external model artifact.)
# ---------------------------------------------------------------------------

def train_bigram_lm(reference_docs: DataFrame,
                    add_k: float = 1.0,
                    vocab_size: int | None = None) -> DataFrame:
    """(w1, w2, logp, v) add-k-smoothed bigram log-probabilities from
    a clean reference corpus: logp = ln((c(w1,w2) + k) / (c(w1) + k*V)).

    V is the reference unigram vocabulary size (or the ``vocab_size``
    override when the deployment fixes V across LM versions) and is
    PINNED as the constant ``v`` column so downstream scoring never
    re-derives it (VERDICT r13 item 2: the default-args gate used to
    fire two driver-side counts before planning — V now folds into the
    plan as a one-row broadcast, zero pre-query actions end to end).
    The result is reference-sized (bounded by the clean slice, not the
    corpus being scored) — the broadcastable side of the scoring join.

    Scale: one explode of reference bigrams -> ONE groupBy; unigram
    counts derive from the bigram counts (sum over w2 of pairs led by
    w1, plus each doc's final token counted from the unigram explode)
    — here the simple exact form aggregates unigrams separately."""
    w = F.split("text", " ")
    uni = (reference_docs.select(F.explode_outer(w).alias("w1"))
           .filter(F.col("w1").isNotNull())
           .groupBy("w1").agg(F.count(F.lit(1)).alias("c1")))
    s = F.size(w)
    bigrams = F.when(s >= 2, F.zip_with(
        F.slice(w, 1, s - 1), F.slice(w, 2, s - 1),
        lambda a, b: F.struct(a.alias("w1"), b.alias("w2")))) \
        .otherwise(F.array().cast(
            "array<struct<w1:string,w2:string>>"))
    big = (reference_docs.select(F.explode_outer(bigrams).alias("g"))
           .filter(F.col("g").isNotNull())
           .groupBy(F.col("g.w1").alias("w1"), F.col("g.w2").alias("w2"))
           .agg(F.count(F.lit(1)).alias("c12")))
    base = big.join(uni, "w1")
    if vocab_size is not None:
        vcol = F.lit(int(vocab_size)).cast("long")
    else:
        # V in-plan: a one-row aggregate of the unigram table,
        # broadcast under the LM rows — no uni.count() action
        vtab = uni.agg(F.count(F.lit(1)).alias("_v"))
        base = base.crossJoin(F.broadcast(vtab))
        vcol = F.col("_v")
    return base.select(
        "w1", "w2",
        F.log((F.col("c12") + F.lit(float(add_k)))
              / (F.col("c1") + F.lit(float(add_k)) * vcol))
        .alias("logp"),
        vcol.alias("v"))


def score_perplexity(docs: DataFrame, lm: DataFrame,
                     add_k: float = 1.0,
                     vocab_size: int | None = None,
                     oov_logp: float | None = None) -> DataFrame:
    """(doc_id, n_bigrams, avg_logp, perplexity) of each document
    under a :func:`train_bigram_lm` table — the CCNet-style filter
    statistic (keep documents whose perplexity under the clean-text LM
    sits below a threshold; boilerplate and garbage score high).

    Unseen bigrams take ``oov_logp`` (default: the add-k floor
    ln(k / (k*V)) = -ln(V), the probability the smoothing assigns a
    novel pair under an unseen head word). V comes, in precedence
    order, from ``oov_logp`` directly, ``vocab_size``, the LM's
    pinned ``v`` column (:func:`train_bigram_lm` — folded in-plan as
    a one-row broadcast, ZERO pre-query actions, VERDICT r13 item 2),
    or — legacy LM tables without ``v`` only — a distinct-union count
    over the LM (one reference-sized action). Docs with no bigram
    carry NULL scores.

    Scale: the doc side explodes to (doc_id, w1, w2) and LEFT-joins
    the REFERENCE-sized LM (broadcastable — benchmarks/clean slices
    are MBs); one groupBy(doc_id) rolls up. No per-row Python, no
    corpus-sized state."""
    oov_col = None
    vtab = None
    if oov_logp is not None:
        oov_col = F.lit(float(oov_logp))
    elif vocab_size is not None:
        import math
        oov_col = F.lit(-math.log(max(vocab_size, 1)))
    elif "v" in lm.columns:
        # pinned-V LM: -ln(V) as a one-row broadcast, no action
        vtab = lm.agg(F.max("v").alias("_lmv"))
        oov_col = -F.log(F.coalesce(F.greatest(F.col("_lmv"),
                                               F.lit(1).cast("long")),
                                    F.lit(1).cast("long"))
                         .cast("double"))
    else:
        import math
        v = (lm.select(F.col("w1").alias("w"))
             .unionByName(lm.select(F.col("w2").alias("w")))
             .distinct().count())
        oov_col = F.lit(-math.log(max(v, 1)))
    w = F.split("text", " ")
    s = F.size(w)
    bigrams = F.when(s >= 2, F.zip_with(
        F.slice(w, 1, s - 1), F.slice(w, 2, s - 1),
        lambda a, b: F.struct(a.alias("w1"), b.alias("w2")))) \
        .otherwise(F.array().cast(
            "array<struct<w1:string,w2:string>>"))
    exploded = (docs.select("doc_id", F.explode_outer(bigrams).alias("g"))
                .select("doc_id", F.col("g.w1").alias("w1"),
                        F.col("g.w2").alias("w2")))
    if vtab is not None:
        exploded = exploded.crossJoin(F.broadcast(vtab))
    scored = (exploded
              .join(F.broadcast(lm.select("w1", "w2", "logp")),
                    ["w1", "w2"], "left")
              .groupBy("doc_id")
              .agg(F.count(F.col("w1")).alias("n_bigrams"),
                   F.sum(F.coalesce(F.col("logp"),
                                    F.when(F.col("w1").isNotNull(),
                                           oov_col)))
                   .alias("_sum")))
    avg = F.col("_sum") / F.col("n_bigrams")
    return scored.select(
        "doc_id", "n_bigrams",
        F.when(F.col("n_bigrams") > 0, avg).alias("avg_logp"),
        F.when(F.col("n_bigrams") > 0, F.exp(-avg)).alias("perplexity"))


def perplexity_filter(docs: DataFrame, reference_docs: DataFrame,
                      max_perplexity: float,
                      add_k: float = 1.0) -> DataFrame:
    """The APPLY step: ``docs`` rows whose bigram perplexity under the
    reference LM is at most ``max_perplexity`` (docs too short to
    score pass — the length gates own them). One LM build + one
    scoring pass; rows come back unchanged."""
    lm = train_bigram_lm(reference_docs, add_k=add_k)
    flagged = (score_perplexity(docs, lm, add_k=add_k)
               .filter(F.col("perplexity") > max_perplexity)
               .select("doc_id"))
    return docs.join(flagged, "doc_id", "left_anti")
