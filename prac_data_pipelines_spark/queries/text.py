"""Text-analysis and deduplication operators over the ``documents`` table —
the LLM-training-pipeline surface (dedup, fingerprinting, language ID,
quality scoring, token stats).

Everything is built from JVM-side higher-order functions (``transform``,
``aggregate``, ``array_min`` …) over tokenized text — zero Python in the row
path — and every hash is md5-derived so the DuckDB oracle can reproduce it
bit-for-bit.

Scale design: each doc is processed independently (embarrassingly parallel,
no shuffle) until the candidate-pair joins, which shuffle on short band keys
(MinHash-LSH) instead of all-pairs — the O(n²) structure is confined to
within-bucket comparisons, which is what makes 100 TB dedup feasible.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..operators.lsh import (
    BANDS_EXPR,
    JACCARD_EST,
    MAX_BAND_DOCS,
    MINHASH_K,
    MINHASH_P,
    N_BANDS,
    SIGS,
    WORDS,
    _A,
    _B,
    _SHINGLES_WS,
    _h,
    band_guard,
    band_pairs,
    minhash_signatures,
)
from ..operators.rounding import r4, r6
from ..sources import load_table
from . import register

# --------------------------------------------------------------------------
# Shared tokenization / hashing. The Spark-side MinHash-LSH definitions
# (WORDS, _SHINGLES_WS, _h, the MinHash parameters, SIGS, the band keys,
# the estimate, the hot-band guard and the band self-join) live in
# operators/lsh.py, shared with the curation and the incremental dedup
# state; their DuckDB twins below are built from the same constants.
# --------------------------------------------------------------------------

SQL_WORDS = "str_split_regex(trim(text), '\\s+')"

# DuckDB twin of lsh._SHINGLES_WS: 3-word shingles, guarded for short docs
SQL_SHINGLES = (
    f"CASE WHEN len({SQL_WORDS}) >= 3 THEN "
    f"list_transform(range(0, len({SQL_WORDS}) - 2), "
    f"i -> concat({SQL_WORDS}[i+1], ' ', {SQL_WORDS}[i+2], ' ', {SQL_WORDS}[i+3])) "
    f"ELSE [trim(text)] END"
)


# DuckDB twin of lsh._h, the 28-bit base hash of a string s
def _sql_h(s: str) -> str:
    return f"('0x' || substr(md5({s}), 1, 7))::BIGINT"


# DuckDB twin of lsh.SIGS
SQL_SIGS = (
    f"list_transform(range(0, {MINHASH_K}), i -> "
    f"list_min(list_transform(hs, h -> "
    f"(([{','.join(str(a) for a in _A)}])[i+1] * h + "
    f"([{','.join(str(b) for b in _B)}])[i+1]) % {MINHASH_P})))"
)


def _docs(spark: SparkSession, sf_dir: str,
          parallelize: bool = False) -> DataFrame:
    return load_table(spark, sf_dir, "documents", parallelize=parallelize)


# DuckDB twin of lsh.BANDS_EXPR + lsh.band_guard (two CTEs: DuckDB can't
# nest a window inside the expression that defines its partition key).
# Expects a `sigs` CTE with (doc_id, sigs) in scope.
SQL_BANDS_CTE = f"""bands0 AS (
  SELECT doc_id, sigs, concat(b, ':', sigs[2*b+1], ':', sigs[2*b+2]) AS banda
  FROM sigs CROSS JOIN (SELECT unnest(range(0, {N_BANDS})) AS b)
), bands AS (
  SELECT doc_id, sigs, banda FROM (
    SELECT *, count(*) OVER (PARTITION BY banda) AS _n FROM bands0)
  WHERE _n <= {MAX_BAND_DOCS}
)"""


# --------------------------------------------------------------------------
# doc_exact_dedup — exact dedup by content hash. Duplicates are synthesized
# deterministically (a re-keyed copy of doc_id < 50) so the grouping is
# demonstrable; at scale this is one hash-shuffle, map-side combined.
# --------------------------------------------------------------------------

def q_doc_exact_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _docs(spark, sf_dir)
    copies = (docs.filter(F.col("doc_id") < 50)
              .withColumn("doc_id", F.col("doc_id") + 1000000))
    union = docs.unionByName(copies)
    return (
        union.groupBy(F.md5("text").alias("text_hash"))
        .agg(F.count(F.lit(1)).cast("long").alias("n_docs"),
             F.min("doc_id").cast("long").alias("canonical_doc"))
        .filter(F.col("n_docs") > 1)
        .orderBy("canonical_doc")
    )


SQL_DOC_EXACT_DEDUP = """
WITH unioned AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + 1000000, text FROM documents WHERE doc_id < 50
)
SELECT md5(text) AS text_hash, count(*)::BIGINT AS n_docs,
       min(doc_id)::BIGINT AS canonical_doc
FROM unioned GROUP BY 1 HAVING count(*) > 1
ORDER BY canonical_doc
"""

register("doc_exact_dedup", q_doc_exact_dedup, SQL_DOC_EXACT_DEDUP)


# --------------------------------------------------------------------------
# doc_normalized_dedup — normalization-equivalence dedup, the stage
# between byte-exact and near-dup: case folding + whitespace-run
# collapse + trim before hashing, so "same content, different casing /
# spacing" collides (the CCNet/C4 preprocessing step byte-exact dedup
# misses). Variants are synthesized deterministically (doc_id < 25
# cloned UPPERCASED with doubled spaces, re-keyed +2000000 — the
# established clone-synthesis pattern, queries/corpus.py passage
# dedup) so the grouping is demonstrable; ``variantes`` counts the
# DISTINCT raw texts inside each normalized group — > 1 is exactly the
# set a byte-exact pass leaves behind.
#
# Normalization is case + whitespace only: punctuation/unicode classes
# differ between engines; regexp_replace replaces all matches in Spark
# by default but needs the 'g' flag in DuckDB.
#
# Scale: one hash-shuffle on the normalized digest (map-side combined),
# same class as doc_exact_dedup.
# --------------------------------------------------------------------------

_NORM = "lower(regexp_replace(trim(text), '\\\\s+', ' '))"
_SQL_NORM = r"lower(regexp_replace(trim(text), '\s+', ' ', 'g'))"


def q_doc_normalized_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _docs(spark, sf_dir).select("doc_id", "text")
    variants = (docs.filter(F.col("doc_id") < 25)
                .selectExpr("doc_id + 2000000 AS doc_id",
                            "replace(upper(text), ' ', '  ') AS text"))
    union = docs.unionByName(variants)
    return (
        union.groupBy(F.md5(F.expr(_NORM)).alias("huella_norm"))
        .agg(F.count(F.lit(1)).cast("long").alias("docs"),
             F.countDistinct("text").cast("long").alias("variantes"),
             F.min("doc_id").cast("long").alias("canonico"))
        .filter(F.col("docs") > 1)
        .orderBy("canonico")
    )


SQL_DOC_NORMALIZED_DEDUP = f"""
WITH unioned AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + 2000000, replace(upper(text), ' ', '  ')
  FROM documents WHERE doc_id < 25
)
SELECT md5({_SQL_NORM}) AS huella_norm, count(*)::BIGINT AS docs,
       count(DISTINCT text)::BIGINT AS variantes,
       min(doc_id)::BIGINT AS canonico
FROM unioned GROUP BY 1 HAVING count(*) > 1
ORDER BY canonico
"""

register("doc_normalized_dedup", q_doc_normalized_dedup,
         SQL_DOC_NORMALIZED_DEDUP)


# --------------------------------------------------------------------------
# doc_token_stats — token counting + length stats, all array expressions.
# --------------------------------------------------------------------------

def q_doc_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _docs(spark, sf_dir)
    return docs.selectExpr(
        "doc_id",
        f"cast(size({WORDS}) as bigint) AS n_tokens",
        f"cast(size(array_distinct({WORDS})) as bigint) AS n_unique",
        f"floor(aggregate(transform({WORDS}, w -> length(w)), 0L, (acc, x) -> acc + x) "
        f"/ cast(size({WORDS}) as double) * 10000 + 0.5) / 10000 AS avg_token_len",
        "cast(length(text) as bigint) AS n_chars",
    )


SQL_DOC_TOKEN_STATS = f"""
SELECT doc_id,
       len({SQL_WORDS})::BIGINT AS n_tokens,
       len(list_distinct({SQL_WORDS}))::BIGINT AS n_unique,
       floor(list_sum(list_transform({SQL_WORDS}, w -> strlen(w)))
             / len({SQL_WORDS})::DOUBLE * 10000 + 0.5) / 10000 AS avg_token_len,
       strlen(text)::BIGINT AS n_chars
FROM documents
"""

register("doc_token_stats", q_doc_token_stats, SQL_DOC_TOKEN_STATS)


# --------------------------------------------------------------------------
# doc_bpe_tokens — BPE-style pre-tokenization (letter runs / digit runs /
# single punctuation) via JVM-side regexp_extract_all; the token-count
# basis an LLM-data pipeline budgets by.
# --------------------------------------------------------------------------

_BPE_RE = "[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\\\\s]"
_SQL_BPE_RE = "[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\\s]"


def q_doc_bpe_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _docs(spark, sf_dir)
    return (
        docs.selectExpr(
            "doc_id", "source",
            f"regexp_extract_all(text, '{_BPE_RE}', 0) AS _toks",
        )
        .selectExpr(
            "doc_id", "source",
            "cast(size(_toks) as bigint) AS n_bpe_tokens",
            "cast(size(array_distinct(_toks)) as bigint) AS n_bpe_unique",
        )
    )


SQL_DOC_BPE_TOKENS = f"""
WITH toks AS (
  SELECT doc_id, source, regexp_extract_all(text, '{_SQL_BPE_RE}') AS _toks
  FROM documents
)
SELECT doc_id, source,
       len(_toks)::BIGINT AS n_bpe_tokens,
       len(list_distinct(_toks))::BIGINT AS n_bpe_unique
FROM toks
"""

register("doc_bpe_tokens", q_doc_bpe_tokens, SQL_DOC_BPE_TOKENS)


# --------------------------------------------------------------------------
# doc_quality_score — composite quality heuristic (length, lexical
# diversity, stopword balance) with a classification ladder.
# --------------------------------------------------------------------------

_STOPWORDS = "'the','a','of','and','is','el','la','de','los','un'"


_QUALITY_COLS = [
    f"cast(size({WORDS}) as double) AS _n",
    f"cast(size(array_distinct({WORDS})) as double) AS _u",
    f"cast(size(filter({WORDS}, w -> w in ({_STOPWORDS}))) as double) AS _s",
    "cast(length(text) as double) AS _c",
]


def _quality_score():
    """The shared composite score over the ``_QUALITY_COLS`` projection
    (also used by doc_token_budget's ranking)."""
    return (
        F.least(F.col("_c") / 400, F.lit(1.0)) * 0.4
        + (F.col("_u") / F.col("_n")) * 0.4
        + (1 - F.abs(F.col("_s") / F.col("_n") - 0.2)) * 0.2
    )


def q_doc_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _docs(spark, sf_dir)
    expr = docs.selectExpr("doc_id", *_QUALITY_COLS)
    score = _quality_score()
    out = expr.select(
        "doc_id",
        r4(score).alias("calidad"),
        F.when(r4(score) >= 0.75, "ALTA")
         .when(r4(score) >= 0.55, "MEDIA")
         .otherwise("BAJA").alias("clase_calidad"),
    )
    return out


SQL_DOC_QUALITY = f"""
WITH base AS (
  SELECT doc_id,
         len({SQL_WORDS})::DOUBLE AS _n,
         len(list_distinct({SQL_WORDS}))::DOUBLE AS _u,
         len(list_filter({SQL_WORDS}, w -> w IN ({_STOPWORDS})))::DOUBLE AS _s,
         strlen(text)::DOUBLE AS _c
  FROM documents
), scored AS (
  SELECT doc_id,
         floor((least(_c / 400, 1.0) * 0.4 + (_u / _n) * 0.4
                + (1 - abs(_s / _n - 0.2)) * 0.2) * 10000 + 0.5) / 10000 AS calidad
  FROM base
)
SELECT doc_id, calidad,
       CASE WHEN calidad >= 0.75 THEN 'ALTA'
            WHEN calidad >= 0.55 THEN 'MEDIA'
            ELSE 'BAJA' END AS clase_calidad
FROM scored
"""

register("doc_quality", q_doc_quality, SQL_DOC_QUALITY)


# --------------------------------------------------------------------------
# doc_quality_quantiles — per-source quality-score percentiles (p10/p50/
# p90): the threshold-selection step of a curation pipeline (pick the
# cutoff for each source from its distribution, not a global constant).
# Exact linear-interpolated percentiles (Spark `percentile` == DuckDB
# `quantile_cont`, probed bit-equal on rounded inputs); the input score
# is the already-rounded r4 `calidad`, so both engines interpolate over
# identical values. At 100 TB the same query swaps `percentile` for
# `approx_percentile` (t-digest, mergeable, no per-group sort) — the
# exact form is the oracle-checkable semantic definition.
# --------------------------------------------------------------------------

def q_doc_quality_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _docs(spark, sf_dir)
    scored = (q_doc_quality(spark, sf_dir)
              .join(docs.select("doc_id", "source"), "doc_id"))
    pct = F.expr("percentile(calidad, array(0.1, 0.5, 0.9))")
    return (
        scored.groupBy("source")
        .agg(F.count(F.lit(1)).cast("long").alias("n_docs"),
             pct.alias("_p"))
        .select("source", "n_docs",
                r6(F.col("_p")[0]).alias("p10"),
                r6(F.col("_p")[1]).alias("p50"),
                r6(F.col("_p")[2]).alias("p90"))
        .orderBy("source")
    )


SQL_DOC_QUALITY_QUANTILES = f"""
WITH base AS (
  SELECT doc_id, source,
         len({SQL_WORDS})::DOUBLE AS _n,
         len(list_distinct({SQL_WORDS}))::DOUBLE AS _u,
         len(list_filter({SQL_WORDS}, w -> w IN ({_STOPWORDS})))::DOUBLE AS _s,
         strlen(text)::DOUBLE AS _c
  FROM documents
), scored AS (
  SELECT source,
         floor((least(_c / 400, 1.0) * 0.4 + (_u / _n) * 0.4
                + (1 - abs(_s / _n - 0.2)) * 0.2) * 10000 + 0.5) / 10000 AS calidad
  FROM base
), q AS (
  SELECT source, count(*)::BIGINT AS n_docs,
         quantile_cont(calidad, [0.1, 0.5, 0.9]) AS _p
  FROM scored GROUP BY source
)
SELECT source, n_docs,
       floor(_p[1] * 1000000 + 0.5) / 1000000 AS p10,
       floor(_p[2] * 1000000 + 0.5) / 1000000 AS p50,
       floor(_p[3] * 1000000 + 0.5) / 1000000 AS p90
FROM q ORDER BY source
"""

register("doc_quality_quantiles", q_doc_quality_quantiles,
         SQL_DOC_QUALITY_QUANTILES)


# --------------------------------------------------------------------------
# doc_lang_id — n-gram/stopword-vote language heuristic (en/es/other).
# --------------------------------------------------------------------------

_EN = "'the','and','of','is','to','in'"
_ES = "'el','la','de','los','un','en'"


def q_doc_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _docs(spark, sf_dir)
    return docs.selectExpr(
        "doc_id",
        "lang",
        f"cast(size(filter({WORDS}, w -> w in ({_EN}))) as bigint) AS votos_en",
        f"cast(size(filter({WORDS}, w -> w in ({_ES}))) as bigint) AS votos_es",
        f"CASE WHEN size(filter({WORDS}, w -> w in ({_EN}))) > "
        f"size(filter({WORDS}, w -> w in ({_ES}))) THEN 'en' "
        f"WHEN size(filter({WORDS}, w -> w in ({_ES}))) > "
        f"size(filter({WORDS}, w -> w in ({_EN}))) THEN 'es' "
        f"ELSE 'unk' END AS lang_pred",
    )


SQL_DOC_LANG_ID = f"""
SELECT doc_id, lang,
       len(list_filter({SQL_WORDS}, w -> w IN ({_EN})))::BIGINT AS votos_en,
       len(list_filter({SQL_WORDS}, w -> w IN ({_ES})))::BIGINT AS votos_es,
       CASE WHEN len(list_filter({SQL_WORDS}, w -> w IN ({_EN}))) >
                 len(list_filter({SQL_WORDS}, w -> w IN ({_ES}))) THEN 'en'
            WHEN len(list_filter({SQL_WORDS}, w -> w IN ({_ES}))) >
                 len(list_filter({SQL_WORDS}, w -> w IN ({_EN}))) THEN 'es'
            ELSE 'unk' END AS lang_pred
FROM documents
"""

register("doc_lang_id", q_doc_lang_id, SQL_DOC_LANG_ID)


# --------------------------------------------------------------------------
# doc_lang_confusion — audit of the lang-id heuristic against the
# table's labels: the (lang, lang_pred) confusion matrix with each
# cell's share of its true-label row. The per-label share uses a window
# partitioned by lang (parallel across labels; label cardinality is
# tiny by nature). This is the calibration table a curation pipeline
# consults before trusting lang_pred for filtering or mixture weights.
# --------------------------------------------------------------------------

def q_doc_lang_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    pred = q_doc_lang_id(spark, sf_dir).select("lang", "lang_pred")
    counts = (pred.groupBy("lang", "lang_pred")
              .agg(F.count(F.lit(1)).cast("long").alias("n_docs")))
    w = Window.partitionBy("lang")
    return (counts
            .withColumn("proporcion",
                        r4(F.col("n_docs") / F.sum("n_docs").over(w)))
            .orderBy("lang", "lang_pred"))


SQL_DOC_LANG_CONFUSION = f"""
WITH pred AS ({SQL_DOC_LANG_ID})
SELECT lang, lang_pred, count(*)::BIGINT AS n_docs,
       floor(count(*) / sum(count(*)) OVER (PARTITION BY lang)::DOUBLE
             * 10000 + 0.5) / 10000 AS proporcion
FROM pred GROUP BY lang, lang_pred ORDER BY lang, lang_pred
"""

register("doc_lang_confusion", q_doc_lang_confusion, SQL_DOC_LANG_CONFUSION)


# --------------------------------------------------------------------------
# doc_fingerprint — whole-document fingerprint + winnowing-style minimum
# shingle hash (rolling-hash flavor of document identity).
# --------------------------------------------------------------------------

def q_doc_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _docs(spark, sf_dir)
    return (
        docs.selectExpr("doc_id", "text", f"{WORDS} AS _ws")
        .selectExpr("doc_id", "text", f"{_SHINGLES_WS} AS _sh")
        .selectExpr(
            "doc_id",
            f"{_h('text')} AS huella_doc",
            f"array_min(transform(_sh, s -> {_h('s')})) AS huella_min_shingle",
        )
    )


SQL_DOC_FINGERPRINT = f"""
SELECT doc_id,
       {_sql_h('text')} AS huella_doc,
       list_min(list_transform({SQL_SHINGLES}, s -> {_sql_h('s')})) AS huella_min_shingle
FROM documents
"""

register("doc_fingerprint", q_doc_fingerprint, SQL_DOC_FINGERPRINT)


# --------------------------------------------------------------------------
# doc_minhash_pairs — MinHash + LSH banding near-dup candidates with
# estimated Jaccard. The only shuffle is the short band-key join; signature
# computation is a per-row map. This is THE scale path for near-dedup.
# --------------------------------------------------------------------------

def q_doc_minhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _docs(spark, sf_dir)
    # The signature frame feeds both sides of the band self-join and the
    # estimate projection — cache so signatures are computed once.
    sigs = minhash_signatures(docs).cache()
    bands = band_guard(sigs.selectExpr("doc_id", "sigs", BANDS_EXPR))
    # estimate + threshold BEFORE the pair dedup: the estimate is a pure
    # function of the pair's signatures, so every banded duplicate of a
    # pair yields the same value — and the dedup shuffle then carries only
    # (d1, d2, est) for above-threshold pairs instead of two K-element
    # signature arrays for every banded candidate
    return (
        band_pairs(bands)
        .select("d1", "d2", r4(F.expr(JACCARD_EST)).alias("jaccard_est"))
        .filter(F.col("jaccard_est") >= 0.25)
        .dropDuplicates(["d1", "d2"])
        .orderBy("d1", "d2")
    )


SQL_DOC_MINHASH_PAIRS = f"""
WITH hs AS (
  SELECT doc_id, list_transform({SQL_SHINGLES}, s -> {_sql_h('s')}) AS hs
  FROM documents
), sigs AS (
  SELECT doc_id, {SQL_SIGS} AS sigs FROM hs
), {SQL_BANDS_CTE}, pairs AS (
  SELECT DISTINCT l.doc_id AS d1, r.doc_id AS d2, l.sigs AS s1, r.sigs AS s2
  FROM bands l JOIN bands r ON l.banda = r.banda AND l.doc_id < r.doc_id
)
SELECT d1, d2,
       floor(list_sum(list_transform(range(0, {MINHASH_K}),
                     i -> CASE WHEN s1[i+1] = s2[i+1] THEN 1 ELSE 0 END))
             / {MINHASH_K}.0 * 10000 + 0.5) / 10000 AS jaccard_est
FROM pairs
WHERE floor(list_sum(list_transform(range(0, {MINHASH_K}),
                     i -> CASE WHEN s1[i+1] = s2[i+1] THEN 1 ELSE 0 END))
             / {MINHASH_K}.0 * 10000 + 0.5) / 10000 >= 0.25
ORDER BY d1, d2
"""

register("doc_minhash_pairs", q_doc_minhash_pairs, SQL_DOC_MINHASH_PAIRS)


# --------------------------------------------------------------------------
# doc_ngram_jaccard — exact n-gram Jaccard on LSH candidates (verify stage
# of the dedup pipeline: cheap candidates → exact similarity on survivors).
# Candidates come from the SAME banded LSH join as doc_minhash_pairs: a pair
# must agree on a full band (2 consecutive signature positions), never on a
# single global minimum — one boilerplate shingle shared corpus-wide can no
# longer collapse a huge doc population into one quadratic bucket.
# --------------------------------------------------------------------------

def q_doc_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _docs(spark, sf_dir)
    sh = (docs.selectExpr("doc_id", "text", f"{WORDS} AS _ws")
          .selectExpr("doc_id", f"array_distinct({_SHINGLES_WS}) AS sh"))
    # narrow (doc_id, banda) frame feeds both sides of the self-join —
    # cache it, or the signature computation (one md5 per shingle) runs
    # twice over the full corpus
    bands = band_guard(minhash_signatures(docs).selectExpr("doc_id", BANDS_EXPR)).cache()
    cand = (
        band_pairs(bands)
        .select("d1", "d2")
        .dropDuplicates(["d1", "d2"])
    )
    verified = (
        cand.join(sh.select(F.col("doc_id").alias("d1"), F.col("sh").alias("sh1")), "d1")
        .join(sh.select(F.col("doc_id").alias("d2"), F.col("sh").alias("sh2")), "d2")
    )
    inter = F.expr("size(array_intersect(sh1, sh2))").cast("double")
    union = F.expr("size(sh1) + size(sh2) - size(array_intersect(sh1, sh2))").cast("double")
    return (
        verified.select("d1", "d2", r4(inter / union).alias("jaccard"))
        .orderBy("d1", "d2")
    )


# MATERIALIZED policy (measured at sf0.1, 2026-08-16): the hint stays only
# where it is load-bearing — multi-referenced CTEs (sh here: both sides of
# the verify join) and the single-ref cases where DuckDB's inliner measurably
# loses (hs in SQL_DOC_MINHASH_CONTAINMENT +4%, ds in SQL_DOC_WINNOWING +12%
# without it). Single-ref hints that A/B'd neutral-or-slower WITH the hint
# (hs here -28%, gc in SQL_DOC_DUP_NGRAMS, hs/ground/whs in
# SQL_SIMHASH_RECALL_AUDIT -23%) were dropped; results byte-identical.
SQL_DOC_NGRAM_JACCARD = f"""
WITH sh AS MATERIALIZED (
  SELECT doc_id, list_distinct({SQL_SHINGLES}) AS sh FROM documents
), hs AS (
  SELECT doc_id, list_transform({SQL_SHINGLES}, s -> {_sql_h('s')}) AS hs
  FROM documents
), sigs AS (
  SELECT doc_id, {SQL_SIGS} AS sigs FROM hs
), {SQL_BANDS_CTE}, cand AS (
  SELECT DISTINCT l.doc_id AS d1, r.doc_id AS d2
  FROM bands l JOIN bands r ON l.banda = r.banda AND l.doc_id < r.doc_id
)
SELECT d1, d2,
       floor(len(list_intersect(l.sh, r.sh))::DOUBLE
             / (len(l.sh) + len(r.sh) - len(list_intersect(l.sh, r.sh)))::DOUBLE
             * 10000 + 0.5) / 10000 AS jaccard
FROM cand JOIN sh l ON l.doc_id = cand.d1 JOIN sh r ON r.doc_id = cand.d2
ORDER BY d1, d2
"""

register("doc_ngram_jaccard", q_doc_ngram_jaccard, SQL_DOC_NGRAM_JACCARD)


# --------------------------------------------------------------------------
# doc_dup_ngrams — corpus-level duplicated-n-gram audit (the "what
# fraction of each document is copied text" measurement behind
# exact-substring train-data dedup, Lee et al. 2022): an n-gram is
# duplicated when it occurs in >= 2 DISTINCT documents; per source this
# reports the mean duplicated fraction per doc and how many docs are
# mostly copies (>= half their distinct n-grams duplicated) — the
# curation signal for substring-level dedup, complementing the
# whole-doc MinHash family.
#
# Scale shape: n-grams are hashed to bigints before any shuffle (the
# wide strings never leave the row), the gram-frequency aggregation is
# map-side partial, and the flag join is gram-keyed equi-join (AQE
# handles hot grams). Two corpus-sized shuffles — the canonical cost of
# this job at any scale; nothing is collected or broadcast-sized by the
# corpus.
# --------------------------------------------------------------------------

def q_doc_dup_ngrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _docs(spark, sf_dir)
    ds = (docs.selectExpr("doc_id", "source", "text", f"{WORDS} AS _ws")
          .selectExpr("doc_id", "source",
                      f"array_distinct(transform({_SHINGLES_WS}, "
                      f"s -> {_h('s')})) AS _gs"))
    # explode_outer, deliberately: plain explode triggers Catalyst's
    # InferFiltersFromGenerate, which pushes `size(_gs) > 0` BELOW the
    # projection — re-evaluating the whole shingle+md5 pipeline in an
    # interpreted Filter (measured 9.4s vs 2.4s for the exploded count at
    # sf0.1). The rule skips outer generate, and _gs is never empty (the
    # shingle CASE falls back to array(trim(text))), so the semantics are
    # identical.
    pairs = ds.select("doc_id", "source", F.explode_outer("_gs").alias("g"))
    # per-doc grams are distinct, so count(*) per gram == distinct docs.
    # The count attaches via a gram-partitioned window, not groupBy+self-
    # join: one shuffle either way, but the join form scans (and re-md5s)
    # the exploded gram set twice — min-of-2 at 8x/40k docs: 19.5s join
    # form vs 12.0s window form
    gram_n = F.count(F.lit(1)).over(Window.partitionBy("g"))
    per_doc = (pairs.withColumn("_n", gram_n)
               .groupBy("doc_id", "source")
               .agg(F.count(F.lit(1)).alias("_total"),
                    F.sum(F.when(F.col("_n") >= 2, 1).otherwise(0))
                    .alias("_dup")))
    return (per_doc.groupBy("source")
            .agg(F.count(F.lit(1)).cast("long").alias("n_docs"),
                 F.sum("_dup").cast("long").alias("ngramas_dup"),
                 F.sum("_total").cast("long").alias("ngramas"),
                 r4(F.avg(F.col("_dup") / F.col("_total")))
                 .alias("frac_dup_media"),
                 F.sum(F.when(F.col("_dup") * 2 >= F.col("_total"), 1)
                       .otherwise(0)).cast("long").alias("docs_mitad_dup"))
            .orderBy("source"))


SQL_DOC_DUP_NGRAMS = f"""
WITH ds AS (
  SELECT doc_id, source,
         list_distinct(list_transform({SQL_SHINGLES}, s -> {_sql_h('s')}))
           AS gs
  FROM documents
), p AS MATERIALIZED (
  SELECT doc_id, source, unnest(gs) AS g FROM ds
), gc AS (
  SELECT g, count(*) AS n FROM p GROUP BY g
), d AS (
  SELECT p.doc_id, p.source, count(*) AS total,
         sum(CASE WHEN gc.n >= 2 THEN 1 ELSE 0 END) AS dup
  FROM p JOIN gc USING (g) GROUP BY p.doc_id, p.source
)
SELECT source, count(*)::BIGINT AS n_docs,
       sum(dup)::BIGINT AS ngramas_dup, sum(total)::BIGINT AS ngramas,
       floor(avg(dup::DOUBLE / total) * 10000 + 0.5) / 10000
         AS frac_dup_media,
       sum(CASE WHEN dup * 2 >= total THEN 1 ELSE 0 END)::BIGINT
         AS docs_mitad_dup
FROM d GROUP BY source ORDER BY source
"""

register("doc_dup_ngrams", q_doc_dup_ngrams, SQL_DOC_DUP_NGRAMS)


# --------------------------------------------------------------------------
# source_cross_dup — cross-SOURCE near-duplication matrix: the corpus
# governance view of the MinHash pair family ("which sources copy from
# which"). Above-threshold (0.5 — the dedup drop threshold) LSH pairs
# joined to each side's source, canonicalized to an unordered source
# pair, rolled up to pair counts + mean similarity. Mixture design and
# licensing audits read this before deciding per-source sampling.
#
# Scale shape: identical to doc_minhash_pairs up to the band join (the
# only corpus-sized shuffle); the source lookups join the PAIRS (tiny by
# construction after thresholding) against the narrow (doc_id, source)
# projection; the final matrix is |sources|^2 at most.
# --------------------------------------------------------------------------

CROSS_DUP_THRESHOLD = 0.5


def q_source_cross_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _docs(spark, sf_dir)
    src = docs.select("doc_id", "source")
    sigs = minhash_signatures(docs).cache()
    bands = band_guard(sigs.selectExpr("doc_id", "sigs", BANDS_EXPR))
    pairs = (band_pairs(bands)
             .select("d1", "d2", r4(F.expr(JACCARD_EST)).alias("je"))
             .filter(F.col("je") >= CROSS_DUP_THRESHOLD)
             .dropDuplicates(["d1", "d2"]))
    j = (pairs
         .join(src.selectExpr("doc_id AS d1", "source AS sa"), "d1")
         .join(src.selectExpr("doc_id AS d2", "source AS sb"), "d2"))
    return (j.select(F.least("sa", "sb").alias("fuente_a"),
                     F.greatest("sa", "sb").alias("fuente_b"), "je")
            .groupBy("fuente_a", "fuente_b")
            .agg(F.count(F.lit(1)).cast("long").alias("n_pares"),
                 r4(F.avg("je")).alias("similitud_media"))
            .orderBy("fuente_a", "fuente_b"))


SQL_SOURCE_CROSS_DUP = f"""
WITH hs AS (
  SELECT doc_id, list_transform({SQL_SHINGLES}, s -> {_sql_h('s')}) AS hs
  FROM documents
), sigs AS (
  SELECT doc_id, {SQL_SIGS} AS sigs FROM hs
), {SQL_BANDS_CTE}, cand AS (
  SELECT DISTINCT l.doc_id AS d1, r.doc_id AS d2,
         floor(list_sum(list_transform(range(0, {MINHASH_K}),
                       i -> CASE WHEN l.sigs[i+1] = r.sigs[i+1]
                            THEN 1 ELSE 0 END))
               / {MINHASH_K}.0 * 10000 + 0.5) / 10000 AS je
  FROM bands l JOIN bands r ON l.banda = r.banda AND l.doc_id < r.doc_id
), pairs AS (
  SELECT least(da.source, db.source) AS fuente_a,
         greatest(da.source, db.source) AS fuente_b, je
  FROM cand
  JOIN documents da ON da.doc_id = cand.d1
  JOIN documents db ON db.doc_id = cand.d2
  WHERE je >= {CROSS_DUP_THRESHOLD}
)
SELECT fuente_a, fuente_b, count(*)::BIGINT AS n_pares,
       floor(avg(je) * 10000 + 0.5) / 10000 AS similitud_media
FROM pairs GROUP BY fuente_a, fuente_b ORDER BY fuente_a, fuente_b
"""

register("source_cross_dup", q_source_cross_dup, SQL_SOURCE_CROSS_DUP)


# --------------------------------------------------------------------------
# doc_token_budget — token-budget curation: per source, rank documents
# by quality (desc, doc_id tiebreak) and select the best until their
# cumulative token count reaches 40% of the source's tokens — the
# "spend a fixed token budget on the highest-quality data" primitive of
# corpus construction. Reports the achieved quality cutoff (min selected
# score) and budget utilization per source.
#
# Scale shape: the per-source quality ranking AND running token sum run
# through grouped_positions' two-level machinery (range partition +
# local rank/cumsum + triangular broadcast offsets) — no per-source
# window, parallelism scales with data. Token counts are BIGINTs, so
# the regrouped running sum is exact, and the 40% cutoff is integer
# arithmetic (cum*5 <= total*2) — no float boundary on either engine.
# --------------------------------------------------------------------------

BUDGET_NUM, BUDGET_DEN = 2, 5   # keep while cum_toks/total_toks <= 2/5


def q_doc_token_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.sorting import grouped_positions

    docs = _docs(spark, sf_dir)
    base = (docs.selectExpr(
        "doc_id", "source", f"cast(size({WORDS}) as bigint) AS toks",
        *_QUALITY_COLS)
        .withColumn("calidad", r4(_quality_score()))
        .select("doc_id", "source", "toks", "calidad"))
    ranked = grouped_positions(
        base, ["source"], [F.desc("calidad"), F.asc("doc_id")],
        pos_col="_rn", cum_of=F.col("toks"), cum_col="_cum",
        total_col="_tot", materialize=True)
    kept = F.col("_cum") * BUDGET_DEN <= F.col("_tot") * BUDGET_NUM
    return (ranked.groupBy("source")
            .agg(F.count(F.lit(1)).cast("long").alias("n_docs"),
                 F.sum(F.when(kept, 1).otherwise(0)).cast("long")
                 .alias("docs_sel"),
                 F.sum("toks").cast("long").alias("toks_total"),
                 F.coalesce(F.sum(F.when(kept, F.col("toks"))), F.lit(0))
                 .cast("long").alias("toks_sel"),
                 F.min(F.when(kept, F.col("calidad")))
                 .alias("calidad_corte"))
            .withColumn("utilizacion",
                        r6(F.col("toks_sel")
                           / (F.col("toks_total") * BUDGET_NUM
                              / F.lit(BUDGET_DEN))))
            .orderBy("source"))


SQL_DOC_TOKEN_BUDGET = f"""
WITH base AS (
  SELECT doc_id, source, len({SQL_WORDS})::BIGINT AS toks,
         len({SQL_WORDS})::DOUBLE AS _n,
         len(list_distinct({SQL_WORDS}))::DOUBLE AS _u,
         len(list_filter({SQL_WORDS}, w -> w IN ({_STOPWORDS})))::DOUBLE
           AS _s,
         strlen(text)::DOUBLE AS _c
  FROM documents
), scored AS (
  SELECT doc_id, source, toks,
         floor((least(_c / 400, 1.0) * 0.4 + (_u / _n) * 0.4
                + (1 - abs(_s / _n - 0.2)) * 0.2) * 10000 + 0.5) / 10000
           AS calidad
  FROM base
), ranked AS (
  SELECT source, toks, calidad,
         sum(toks) OVER (PARTITION BY source
                         ORDER BY calidad DESC, doc_id ASC
                         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS cum,
         sum(toks) OVER (PARTITION BY source) AS tot
  FROM scored
)
SELECT source, count(*)::BIGINT AS n_docs,
       sum(CASE WHEN cum * {BUDGET_DEN} <= tot * {BUDGET_NUM}
                THEN 1 ELSE 0 END)::BIGINT AS docs_sel,
       sum(toks)::BIGINT AS toks_total,
       coalesce(sum(CASE WHEN cum * {BUDGET_DEN} <= tot * {BUDGET_NUM}
                         THEN toks END), 0)::BIGINT AS toks_sel,
       min(CASE WHEN cum * {BUDGET_DEN} <= tot * {BUDGET_NUM}
                THEN calidad END) AS calidad_corte,
       floor(coalesce(sum(CASE WHEN cum * {BUDGET_DEN} <= tot * {BUDGET_NUM}
                               THEN toks END), 0)
             / (sum(toks) * {BUDGET_NUM} / CAST({BUDGET_DEN} AS DOUBLE))
             * 1000000 + 0.5) / 1000000 AS utilizacion
FROM ranked GROUP BY source ORDER BY source
"""

register("doc_token_budget", q_doc_token_budget, SQL_DOC_TOKEN_BUDGET)


# --------------------------------------------------------------------------
# doc_simhash — 28-bit SimHash from frequency-weighted token-hash bit votes.
# --------------------------------------------------------------------------

SIMHASH_BITS = 28


def q_doc_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Same single-pass-fold shape as MinHash: one traversal of the token
    # hashes accumulates all 28 bit votes (the per-bit re-scan form would
    # hash every token 28 times).
    docs = _docs(spark, sf_dir)
    votes = (
        f"aggregate(_hs, transform(sequence(0, {SIMHASH_BITS - 1}), b -> 0L), "
        f"(acc, h) -> zip_with(acc, sequence(0, {SIMHASH_BITS - 1}), (v, b) -> "
        f"v + CASE WHEN (shiftright(h, b) & 1) = 1 THEN 1L ELSE -1L END))"
    )
    return (
        docs.selectExpr("doc_id", f"transform({WORDS}, w -> {_h('w')}) AS _hs")
        .selectExpr("doc_id", f"{votes} AS _votes")
        .selectExpr(
            "doc_id",
            f"aggregate(zip_with(_votes, sequence(0, {SIMHASH_BITS - 1}), "
            f"(v, b) -> CASE WHEN v > 0 THEN shiftleft(1L, b) ELSE 0L END), "
            f"0L, (acc, x) -> acc + x) AS simhash",
        )
    )


SQL_DOC_SIMHASH = f"""
WITH hs AS (
  SELECT doc_id, list_transform({SQL_WORDS}, w -> {_sql_h('w')}) AS hs
  FROM documents
)
SELECT doc_id,
       list_sum(list_transform(range(0, {SIMHASH_BITS}), b ->
         CASE WHEN list_sum(list_transform(hs, h ->
                CASE WHEN (h >> b) & 1 = 1 THEN 1 ELSE -1 END)) > 0
              THEN (1::BIGINT << b) ELSE 0 END))::BIGINT AS simhash
FROM hs
"""

register("doc_simhash", q_doc_simhash, SQL_DOC_SIMHASH)


# --------------------------------------------------------------------------
# doc_curation — the composed training-data curation pipeline:
# quality-filter → near-dup removal (keep the lowest doc_id of each LSH
# candidate pair) → per-source token budget. Each stage is one of the
# operators above; the composition stays one lazy plan.
# --------------------------------------------------------------------------

CURATION_MIN_QUALITY = 0.55
CURATION_JACCARD = 0.5


def q_doc_curation(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _docs(spark, sf_dir)
    quality = q_doc_quality(spark, sf_dir).filter(
        F.col("calidad") >= CURATION_MIN_QUALITY).select("doc_id")
    dup_losers = (q_doc_minhash_pairs(spark, sf_dir)
                  .filter(F.col("jaccard_est") >= CURATION_JACCARD)
                  .select(F.col("d2").alias("doc_id")).distinct())
    kept = (docs.join(quality, "doc_id", "left_semi")
            .join(dup_losers, "doc_id", "left_anti"))
    return (
        kept.selectExpr("source", f"cast(size({WORDS}) as bigint) AS _toks")
        .groupBy("source")
        .agg(F.count(F.lit(1)).cast("long").alias("docs_conservados"),
             F.sum("_toks").cast("long").alias("tokens_conservados"))
        .orderBy("source")
    )


SQL_DOC_CURATION = f"""
WITH quality AS (
  SELECT doc_id FROM (
    SELECT doc_id,
           floor((least(strlen(text)::DOUBLE / 400, 1.0) * 0.4
                  + (len(list_distinct({SQL_WORDS}))::DOUBLE / len({SQL_WORDS})::DOUBLE) * 0.4
                  + (1 - abs(len(list_filter({SQL_WORDS}, w -> w IN ({_STOPWORDS})))::DOUBLE
                             / len({SQL_WORDS})::DOUBLE - 0.2)) * 0.2) * 10000 + 0.5) / 10000
             AS calidad
    FROM documents
  ) WHERE calidad >= {CURATION_MIN_QUALITY}
), hs AS (
  SELECT doc_id, list_transform({SQL_SHINGLES}, s -> {_sql_h('s')}) AS hs
  FROM documents
), sigs AS (
  SELECT doc_id, {SQL_SIGS} AS sigs FROM hs
), {SQL_BANDS_CTE}, pairs AS (
  SELECT DISTINCT l.doc_id AS d1, r.doc_id AS d2, l.sigs AS s1, r.sigs AS s2
  FROM bands l JOIN bands r ON l.banda = r.banda AND l.doc_id < r.doc_id
), losers AS (
  SELECT DISTINCT d2 AS doc_id FROM pairs
  WHERE floor(list_sum(list_transform(range(0, {MINHASH_K}),
                       i -> CASE WHEN s1[i+1] = s2[i+1] THEN 1 ELSE 0 END))
               / {MINHASH_K}.0 * 10000 + 0.5) / 10000 >= {CURATION_JACCARD}
), kept AS (
  SELECT d.* FROM documents d
  JOIN quality q ON d.doc_id = q.doc_id
  WHERE d.doc_id NOT IN (SELECT doc_id FROM losers)
)
SELECT source, count(*)::BIGINT AS docs_conservados,
       sum(len({SQL_WORDS}))::BIGINT AS tokens_conservados
FROM kept GROUP BY source ORDER BY source
"""

register("doc_curation", q_doc_curation, SQL_DOC_CURATION)


# --------------------------------------------------------------------------
# doc_minhash_containment — asymmetric containment on the LSH candidate
# pairs (Broder 1997's second resemblance measure): C(A in B) =
# |A∩B| / |A| over distinct shingle sets. Jaccard misses INCLUSIONS —
# a short document quoted wholesale inside a long one scores
# |A|/|B| << 1 on Jaccard but 1.0 on containment — and inclusion dups
# are exactly what boilerplate wrappers and quote-heavy pages produce.
# Emits every candidate pair where either direction's containment
# clears CONTAINMENT_T, with both directions + Jaccard, and flags pure
# inclusions (containment high, Jaccard below the near-dup threshold).
#
# Scale: identical shape to doc_ngram_jaccard — banded candidates only
# (never all-pairs), one narrow cached band frame, exact set math per
# candidate row. Thresholds compare ROUNDED values so both engines make
# identical keep decisions at the boundary.
# --------------------------------------------------------------------------

CONTAINMENT_T = 0.7


def q_doc_minhash_containment(spark: SparkSession,
                              sf_dir: str) -> DataFrame:
    docs = _docs(spark, sf_dir, parallelize=True)
    sh = (docs.selectExpr("doc_id", "text", f"{WORDS} AS _ws")
          .selectExpr("doc_id", f"array_distinct({_SHINGLES_WS}) AS sh"))
    bands = band_guard(
        minhash_signatures(docs).selectExpr("doc_id", BANDS_EXPR)).cache()
    cand = (
        band_pairs(bands)
        .select("d1", "d2")
        .dropDuplicates(["d1", "d2"]))
    verified = (
        cand.join(sh.select(F.col("doc_id").alias("d1"),
                            F.col("sh").alias("sh1")), "d1")
        .join(sh.select(F.col("doc_id").alias("d2"),
                        F.col("sh").alias("sh2")), "d2")
        .withColumn("_i", F.expr("size(array_intersect(sh1, sh2))")
                    .cast("double")))
    c12 = r4(F.col("_i") / F.expr("size(sh1)"))
    c21 = r4(F.col("_i") / F.expr("size(sh2)"))
    jac = r4(F.col("_i") / (F.expr("size(sh1) + size(sh2)") - F.col("_i")))
    return (
        verified.select("d1", "d2",
                        c12.alias("contencion_1_en_2"),
                        c21.alias("contencion_2_en_1"),
                        jac.alias("jaccard"))
        .filter(F.greatest("contencion_1_en_2", "contencion_2_en_1")
                >= CONTAINMENT_T)
        .withColumn("es_inclusion",
                    F.col("jaccard") < CURATION_JACCARD)
        .orderBy("d1", "d2"))


SQL_DOC_MINHASH_CONTAINMENT = f"""
WITH sh AS MATERIALIZED (
  SELECT doc_id, list_distinct({SQL_SHINGLES}) AS sh FROM documents
), hs AS MATERIALIZED (
  SELECT doc_id, list_transform({SQL_SHINGLES}, s -> {_sql_h('s')}) AS hs
  FROM documents
), sigs AS (
  SELECT doc_id, {SQL_SIGS} AS sigs FROM hs
), {SQL_BANDS_CTE}, cand AS (
  SELECT DISTINCT l.doc_id AS d1, r.doc_id AS d2
  FROM bands l JOIN bands r ON l.banda = r.banda AND l.doc_id < r.doc_id
), met AS (
  SELECT d1, d2,
         floor(len(list_intersect(l.sh, r.sh))::DOUBLE / len(l.sh)
               * 10000 + 0.5) / 10000 AS contencion_1_en_2,
         floor(len(list_intersect(l.sh, r.sh))::DOUBLE / len(r.sh)
               * 10000 + 0.5) / 10000 AS contencion_2_en_1,
         floor(len(list_intersect(l.sh, r.sh))::DOUBLE
               / (len(l.sh) + len(r.sh)
                  - len(list_intersect(l.sh, r.sh)))::DOUBLE
               * 10000 + 0.5) / 10000 AS jaccard
  FROM cand JOIN sh l ON l.doc_id = cand.d1
            JOIN sh r ON r.doc_id = cand.d2
)
SELECT d1, d2, contencion_1_en_2, contencion_2_en_1, jaccard,
       jaccard < {CURATION_JACCARD} AS es_inclusion
FROM met
WHERE greatest(contencion_1_en_2, contencion_2_en_1) >= {CONTAINMENT_T}
ORDER BY d1, d2
"""

register("doc_minhash_containment", q_doc_minhash_containment,
         SQL_DOC_MINHASH_CONTAINMENT)


# --------------------------------------------------------------------------
# doc_dup_clusters — connected components over the near-dup pair graph:
# each document labeled with the smallest doc_id reachable through LSH
# candidate pairs. Spark side: iterative min-label propagation PLUS
# pointer jumping (each round also replaces a doc's label with its
# label's label), so rounds needed is O(log diameter), not O(diameter).
# Labels are seeded with the first min-propagation step (fused into node
# extraction), and convergence is a cheap filter-count over checkpointed
# rows every round; exhausting the round budget without converging raises
# rather than silently returning partial labels. Oracle: transitive
# closure via a recursive CTE — an independent formulation of the same
# semantics.
# --------------------------------------------------------------------------

CLUSTER_MIN_EST = 0.25
_CC_MAX_ROUNDS = 20  # with pointer jumping this covers diameter ~2^20


def q_doc_dup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    # the propagation loop (sizing, pointer jumping, per-round lineage
    # truncation, convergence proof) lives in operators/graph.py — shared
    # with the perceptual-hash image clusters
    from ..operators.graph import min_label_components

    pairs = (q_doc_minhash_pairs(spark, sf_dir)
             .filter(F.col("jaccard_est") >= CLUSTER_MIN_EST)
             .select("d1", "d2"))
    labels = min_label_components(spark, pairs, max_rounds=_CC_MAX_ROUNDS)
    cluster_size = (labels.groupBy("etiqueta")
                    .agg(F.count(F.lit(1)).cast("long").alias("tam_cluster")))
    return (labels.join(cluster_size, "etiqueta")
            .select(F.col("doc_id").cast("long").alias("doc_id"),
                    F.col("etiqueta").cast("long").alias("cluster_id"),
                    "tam_cluster")
            .orderBy("cluster_id", "doc_id"))


# Recursive-CTE twin of the cluster labeling, shared by doc_dup_clusters
# and doc_dedup_keep_best: `labeled` = (doc_id, cluster_id) for every doc
# that appears in the near-dup pair graph.
SQL_CLUSTERS_CTE = f"""WITH RECURSIVE hs AS (
  SELECT doc_id, list_transform({SQL_SHINGLES}, s -> {_sql_h('s')}) AS hs
  FROM documents
), sigs AS (
  SELECT doc_id, {SQL_SIGS} AS sigs FROM hs
), {SQL_BANDS_CTE}, pairs AS (
  SELECT DISTINCT l.doc_id AS d1, r.doc_id AS d2
  FROM bands l JOIN bands r ON l.banda = r.banda AND l.doc_id < r.doc_id
  WHERE floor(list_sum(list_transform(range(0, {MINHASH_K}),
                       i -> CASE WHEN l.sigs[i+1] = r.sigs[i+1] THEN 1 ELSE 0 END))
               / {MINHASH_K}.0 * 10000 + 0.5) / 10000 >= {CLUSTER_MIN_EST}
), edges AS (
  SELECT d1, d2 FROM pairs UNION SELECT d2, d1 FROM pairs
), reach AS (
  SELECT d1 AS src, d2 AS dst FROM edges
  UNION
  SELECT r.src, e.d2 FROM reach r JOIN edges e ON r.dst = e.d1
), labeled AS (
  SELECT src AS doc_id, least(src, min(dst)) AS cluster_id
  FROM reach GROUP BY src
)"""

SQL_DOC_DUP_CLUSTERS = f"""
{SQL_CLUSTERS_CTE}
SELECT doc_id::BIGINT AS doc_id, cluster_id::BIGINT AS cluster_id,
       (count(*) OVER (PARTITION BY cluster_id))::BIGINT AS tam_cluster
FROM labeled
ORDER BY cluster_id, doc_id
"""

register("doc_dup_clusters", q_doc_dup_clusters, SQL_DOC_DUP_CLUSTERS)


# --------------------------------------------------------------------------
# doc_dedup_keep_best — canonical-representative selection: the step after
# cluster detection in a dedup pipeline. Every document gets a keep/drop
# verdict: singletons (not in any near-dup cluster) are kept; within a
# cluster the "best" document wins — longest text (n_chars desc), doc_id
# as the deterministic tiebreak. Shape: the cluster labels join the
# corpus on doc_id (left — the label frame only covers near-dup docs, a
# small fraction by construction), then one row_number window per
# cluster; windows partition by cluster_id, so parallelism is |clusters|-
# wide and no partition exceeds the largest cluster.
# --------------------------------------------------------------------------

def q_doc_dedup_keep_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    clusters = (q_doc_dup_clusters(spark, sf_dir)
                .select("doc_id", "cluster_id"))
    docs = _docs(spark, sf_dir).select("doc_id", "n_chars")
    labeled = (docs.join(clusters, "doc_id", "left")
               .withColumn("cluster_id",
                           F.coalesce("cluster_id", F.col("doc_id"))))
    w = (Window.partitionBy("cluster_id")
         .orderBy(F.col("n_chars").desc(), F.col("doc_id").asc()))
    return (
        labeled.withColumn("mantener", F.row_number().over(w) == 1)
        .select(F.col("doc_id").cast("long").alias("doc_id"),
                F.col("cluster_id").cast("long").alias("cluster_id"),
                "mantener")
        .orderBy("doc_id")
    )


SQL_DOC_DEDUP_KEEP_BEST = f"""
{SQL_CLUSTERS_CTE},
todos AS (
  SELECT d.doc_id, coalesce(l.cluster_id, d.doc_id) AS cluster_id, d.n_chars
  FROM documents d LEFT JOIN labeled l ON d.doc_id = l.doc_id
)
SELECT doc_id::BIGINT AS doc_id, cluster_id::BIGINT AS cluster_id,
       (row_number() OVER (PARTITION BY cluster_id
                           ORDER BY n_chars DESC, doc_id ASC) = 1) AS mantener
FROM todos
ORDER BY doc_id
"""

register("doc_dedup_keep_best", q_doc_dedup_keep_best,
         SQL_DOC_DEDUP_KEEP_BEST)


# --------------------------------------------------------------------------
# doc_dedup_weights — SOFT dedup: instead of keep-one-drop-rest, every
# document gets sampling weight 1/|cluster| (singletons 1.0), so a
# training sampler sees each piece of CONTENT with equal total
# probability while keeping every copy available — the standard
# alternative when hard dedup is too aggressive (copies carry distinct
# metadata) or when repetition should be down-weighted, not erased.
# Reports, per source, the effective corpus the weights induce.
#
# Determinism: weights are materialized as exact integers
# floor(1e6 / |cluster|) and summed as BIGINTs; division to a double
# happens once at the edge — a float sum of repeating-binary 1/3-type
# weights would be partition-order dependent (operators/rounding.py
# caveat) and could flip the r4 rounding across engines.
# --------------------------------------------------------------------------


def q_doc_dedup_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    clusters = (q_doc_dup_clusters(spark, sf_dir)
                .select("doc_id", "tam_cluster"))
    docs = _docs(spark, sf_dir).selectExpr(
        "doc_id", "source", f"cast(size({WORDS}) as bigint) AS _toks")
    weighted = (docs.join(clusters, "doc_id", "left")
                .withColumn("_tam", F.coalesce("tam_cluster", F.lit(1)))
                .withColumn("_w6", F.expr("1000000 div _tam")))
    return (weighted.groupBy("source")
            .agg(F.count(F.lit(1)).cast("long").alias("n_docs"),
                 F.sum("_toks").cast("long").alias("tokens"),
                 F.sum("_w6").cast("long").alias("_sw6"),
                 F.sum(F.col("_toks") * F.col("_w6")).cast("long")
                 .alias("_stw6"))
            .select("source", "n_docs", "tokens",
                    r4(F.col("_sw6") / F.lit(1000000.0))
                    .alias("docs_efectivos"),
                    F.expr("_stw6 div 1000000").cast("long")
                    .alias("tokens_efectivos"),
                    r4(F.col("_stw6")
                       / (F.lit(1000000.0) * F.col("tokens")))
                    .alias("frac_efectiva"))
            .orderBy("source"))


SQL_DOC_DEDUP_WEIGHTS = f"""
{SQL_CLUSTERS_CTE},
tam AS (
  SELECT doc_id, count(*) OVER (PARTITION BY cluster_id) AS tam_cluster
  FROM labeled
), weighted AS (
  SELECT d.source, len({SQL_WORDS})::BIGINT AS _toks,
         1000000 // coalesce(t.tam_cluster, 1) AS _w6
  FROM documents d LEFT JOIN tam t ON d.doc_id = t.doc_id
)
SELECT source, count(*)::BIGINT AS n_docs, sum(_toks)::BIGINT AS tokens,
       floor(sum(_w6)::DOUBLE / 1000000.0 * 10000 + 0.5) / 10000
         AS docs_efectivos,
       (sum(_toks * _w6) // 1000000)::BIGINT AS tokens_efectivos,
       floor(sum(_toks * _w6)::DOUBLE / (1000000.0 * sum(_toks))
             * 10000 + 0.5) / 10000 AS frac_efectiva
FROM weighted GROUP BY source ORDER BY source
"""

register("doc_dedup_weights", q_doc_dedup_weights, SQL_DOC_DEDUP_WEIGHTS)


# --------------------------------------------------------------------------
# doc_sample — deterministic hash-threshold sampling (reproducible splits
# without a seed exchange: the hash of the id decides membership, so any
# engine — and any rerun — draws the same sample).
# --------------------------------------------------------------------------

SAMPLE_PCT = 30


def q_doc_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _docs(spark, sf_dir)
    bucket = F.expr(f"{_h('cast(doc_id as string)')} % 100")
    return (
        docs.withColumn("_b", bucket)
        .filter(F.col("_b") < SAMPLE_PCT)
        .groupBy("source")
        .agg(F.count(F.lit(1)).cast("long").alias("n_muestra"),
             F.sum("n_chars").cast("long").alias("chars_muestra"))
        .orderBy("source")
    )


SQL_DOC_SAMPLE = f"""
SELECT source, count(*)::BIGINT AS n_muestra, sum(n_chars)::BIGINT AS chars_muestra
FROM documents
WHERE ({_sql_h('cast(doc_id as varchar)')}) % 100 < {SAMPLE_PCT}
GROUP BY source ORDER BY source
"""

register("doc_sample", q_doc_sample, SQL_DOC_SAMPLE)


# --------------------------------------------------------------------------
# doc_simhash_pairs — SimHash near-dup candidates over a 56-BIT
# fingerprint banded into 4 x 14-bit keys; a pair within Hamming
# distance 3 differs in at most 3 bands, so by pigeonhole it agrees
# EXACTLY on at least one band — guaranteed recall at the threshold with
# the quadratic work confined to band buckets.
#
# Why 56 bits and not the display query's 28 (q_doc_simhash): band-key
# cardinality IS the scale axis of this join. 4 x 7-bit bands give at
# most 512 distinct keys corpus-wide — at 160 k docs the in-bucket
# self-join is quadratic no matter how the corpus is distributed
# (measured 94 s at the 32x probe). 14-bit bands give 65 k keys per
# band; the same probe runs in seconds. The hot-band guard (same
# MAX_BAND_DOCS trade as MinHash LSH, enforced identically in the
# oracle) backstops boilerplate-degenerate fingerprints.
# --------------------------------------------------------------------------

SIMHASH_P_BITS = 56     # 14 hex chars of md5 — fits a signed int64
SIMHASH_P_BANDS = 4
SIMHASH_P_BAND_BITS = 14
SIMHASH_MAX_HAMMING = 3

_VOTES56 = (
    f"aggregate(_hs, transform(sequence(0, {SIMHASH_P_BITS - 1}), b -> 0L), "
    f"(acc, h) -> zip_with(acc, sequence(0, {SIMHASH_P_BITS - 1}), (v, b) -> "
    f"v + CASE WHEN (shiftright(h, b) & 1) = 1 THEN 1L ELSE -1L END))"
)
_SIM56 = (
    f"aggregate(zip_with(_votes, sequence(0, {SIMHASH_P_BITS - 1}), (v, b) -> "
    f"CASE WHEN v > 0 THEN shiftleft(1L, b) ELSE 0L END), 0L, (acc, x) -> acc + x)"
)


def q_doc_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _docs(spark, sf_dir, parallelize=True)
    h56 = "cast(conv(substring(md5(w), 1, 14), 16, 10) as bigint)"
    sim = (docs.selectExpr("doc_id",
                           f"transform({WORDS}, w -> {h56}) AS _hs")
           .selectExpr("doc_id", f"{_VOTES56} AS _votes")
           .selectExpr("doc_id", f"{_SIM56} AS simhash"))
    # cache: the banded frame feeds BOTH sides of the self-join — without
    # it the fingerprint computation (one md5 per word) runs twice over
    # the corpus (same pattern as doc_ngram_jaccard's band cache)
    bands = band_guard(sim.selectExpr(
        "doc_id", "simhash",
        f"explode(transform(sequence(0, {SIMHASH_P_BANDS - 1}), b -> "
        f"concat(b, ':', (shiftright(simhash, b * {SIMHASH_P_BAND_BITS}) "
        f"& {2 ** SIMHASH_P_BAND_BITS - 1})))) AS banda")).cache()
    return (
        band_pairs(bands)
        # hamming filter BEFORE the pair dedup: bit_count is per-row and
        # deterministic, so filtering first is identical — and the dedup
        # shuffle then carries only the pairs within threshold instead of
        # every banded candidate (a pair can appear in up to 4 bands)
        .withColumn("hamming", F.expr("bit_count(s1 ^ s2)").cast("long"))
        .filter(F.col("hamming") <= SIMHASH_MAX_HAMMING)
        .dropDuplicates(["d1", "d2"])
        .select("d1", "d2", "hamming")
        .orderBy("d1", "d2")
    )


SQL_DOC_SIMHASH_PAIRS = f"""
WITH hs AS (
  SELECT doc_id, list_transform({SQL_WORDS},
         w -> ('0x' || substr(md5(w), 1, 14))::BIGINT) AS hs
  FROM documents
), sim AS (
  SELECT doc_id,
         list_sum(list_transform(range(0, {SIMHASH_P_BITS}), b ->
           CASE WHEN list_sum(list_transform(hs, h ->
                  CASE WHEN (h >> b) & 1 = 1 THEN 1 ELSE -1 END)) > 0
                THEN (1::BIGINT << b) ELSE 0 END))::BIGINT AS simhash
  FROM hs
), sbands0 AS (
  SELECT doc_id, simhash,
         concat(b, ':', (simhash >> (b * {SIMHASH_P_BAND_BITS}))
                        & {2 ** SIMHASH_P_BAND_BITS - 1}) AS banda
  FROM sim CROSS JOIN (SELECT unnest(range(0, {SIMHASH_P_BANDS})) AS b)
), sbands AS (
  SELECT doc_id, simhash, banda FROM (
    SELECT *, count(*) OVER (PARTITION BY banda) AS _n FROM sbands0)
  WHERE _n <= {MAX_BAND_DOCS}
)
SELECT DISTINCT l.doc_id AS d1, r.doc_id AS d2,
       bit_count(xor(l.simhash, r.simhash))::BIGINT AS hamming
FROM sbands l JOIN sbands r ON l.banda = r.banda AND l.doc_id < r.doc_id
WHERE bit_count(xor(l.simhash, r.simhash)) <= {SIMHASH_MAX_HAMMING}
ORDER BY d1, d2
"""

register("doc_simhash_pairs", q_doc_simhash_pairs, SQL_DOC_SIMHASH_PAIRS)


# --------------------------------------------------------------------------
# doc_chunks — overlapping word-window chunking (RAG / context-packing
# prep): each document split into CHUNK_WORDS-word windows advancing by
# CHUNK_STRIDE words (the overlap preserves context across boundaries),
# each chunk carrying its provenance (doc, start offset, length) and a
# content fingerprint for chunk-level dedup downstream. Embarrassingly
# parallel — sequence+explode+slice per row, no shuffle until the output
# sort; fan-out is n_words/stride per doc, bounded by document length.
# --------------------------------------------------------------------------

CHUNK_WORDS = 64
CHUNK_STRIDE = 48


def q_doc_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _docs(spark, sf_dir)
    chunked = docs.selectExpr(
        "doc_id", "source",
        f"size({WORDS}) AS _n",
        f"posexplode(transform(sequence(0, size({WORDS}) - 1, {CHUNK_STRIDE}), "
        f"s -> concat_ws(' ', slice({WORDS}, s + 1, {CHUNK_WORDS})))) "
        f"AS (chunk_idx, _texto)")
    return (
        chunked.selectExpr(
            "cast(doc_id as bigint) AS doc_id",
            "source",
            "cast(chunk_idx as bigint) AS chunk_idx",
            f"cast(chunk_idx * {CHUNK_STRIDE} as bigint) AS desde_palabra",
            f"cast(least({CHUNK_WORDS}, _n - chunk_idx * {CHUNK_STRIDE}) "
            f"as bigint) AS n_palabras",
            f"{_h('_texto')} AS huella")
        .orderBy("doc_id", "chunk_idx")
    )


SQL_DOC_CHUNKS = f"""
WITH w AS (
  SELECT doc_id, source, {SQL_WORDS} AS palabras, len({SQL_WORDS}) AS n
  FROM documents
), chunked AS (
  SELECT doc_id, source, s.s AS desde, n,
         array_to_string(list_slice(palabras, s.s + 1, s.s + {CHUNK_WORDS}), ' ')
           AS texto
  FROM w CROSS JOIN LATERAL (SELECT unnest(range(0, n, {CHUNK_STRIDE})) AS s) s
)
SELECT doc_id::BIGINT AS doc_id, source,
       (desde / {CHUNK_STRIDE})::BIGINT AS chunk_idx,
       desde::BIGINT AS desde_palabra,
       least({CHUNK_WORDS}, n - desde)::BIGINT AS n_palabras,
       {_sql_h('texto')} AS huella
FROM chunked
ORDER BY doc_id, chunk_idx
"""

register("doc_chunks", q_doc_chunks, SQL_DOC_CHUNKS)


# --------------------------------------------------------------------------
# doc_substring_dedup — repeated-substring coverage, the exact-substring
# dedup signal of Lee et al. 2022 ("Deduplicating Training Data Makes
# Language Models Better"): flag every SUBSTR_K-token window whose text
# occurs more than once in the corpus (within OR across documents — the
# paper removes both), then measure, per document, how many of its
# tokens are covered by at least one repeated window. The suffix-array
# formulation of the paper is replaced by the hashed sliding-window
# equivalent (same flagged spans for window-aligned repeats; md5-derived
# 28-bit hashes keep both engines bit-identical).
#
# Token coverage of the flagged windows is an interval-union problem;
# because every interval has the same length K, the union size over the
# SORTED start positions is K + Σ min(K, s_i − s_{i−1}) — one lag window
# partitioned by doc_id (high-cardinality key, scale-safe), no fold.
#
# Scale: one wordcount-class shuffle on window hashes (map-side combined
# counts), one hash-keyed semi join (both sides shuffle on g; no
# all-pairs anywhere), one per-doc window. At 100 TB the window-hash key
# space grows with the corpus so no key gets hot; the doc_id window
# partitions by document — millions of partitions, never a funnel.
# --------------------------------------------------------------------------

SUBSTR_K = 8
_SUB_TERMS = ", ".join(f"element_at(_ws, i+{j})" for j in range(1, SUBSTR_K + 1))
_SQL_SUB_TERMS = ", ".join(f"w[i+{j}]" for j in range(1, SUBSTR_K + 1))


def doc_substring_coverage(docs: DataFrame) -> DataFrame:
    """(doc_id, source, _n, _cov) — per-document token count and the
    number of tokens covered by at least one repeated ``SUBSTR_K``-token
    window (interval union over the flagged window starts). Separated
    from the registered rollup so the union formula can be
    property-tested against a brute-force set union."""
    base = docs.selectExpr("doc_id", "source", f"{WORDS} AS _ws")
    wins = (base.filter(f"size(_ws) >= {SUBSTR_K}")
            .selectExpr(
                "doc_id",
                f"explode(transform(sequence(0, size(_ws) - {SUBSTR_K}), "
                f"i -> struct(i AS pos, "
                f"{_h(f'concat_ws(chr(32), {_SUB_TERMS})')} AS g))) AS _w")
            .select("doc_id", "_w.pos", "_w.g"))
    dup = (wins.groupBy("g")
           .agg(F.count(F.lit(1)).alias("_n"))
           .filter("_n >= 2")
           .select("g"))
    w = Window.partitionBy("doc_id").orderBy("pos")
    cov = (wins.join(dup, "g")
           .withColumn("_prev", F.lag("pos").over(w))
           .withColumn("_add",
                       F.when(F.col("_prev").isNull(), F.lit(SUBSTR_K))
                       .otherwise(F.least(F.lit(SUBSTR_K),
                                          F.col("pos") - F.col("_prev"))))
           .groupBy("doc_id")
           .agg(F.sum("_add").cast("long").alias("_cov")))
    return (base.selectExpr("doc_id", "source",
                            "cast(size(_ws) as bigint) AS _n")
            .join(cov, "doc_id", "left")
            .fillna(0, ["_cov"]))


def q_doc_substring_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    per_doc = doc_substring_coverage(_docs(spark, sf_dir, parallelize=True))
    frac = F.col("_cov").cast("double") / F.col("_n")
    return (per_doc.groupBy("source")
            .agg(F.count(F.lit(1)).cast("long").alias("docs_total"),
                 F.sum((F.col("_cov") > 0).cast("long")).cast("long")
                 .alias("docs_con_dup"),
                 F.sum("_cov").cast("long").alias("tokens_repetidos"),
                 r4(F.avg(frac)).alias("frac_media"),
                 r4(F.max(frac)).alias("frac_max"))
            .orderBy("source"))


SQL_DOC_SUBSTRING_DEDUP = f"""
WITH ws AS MATERIALIZED (
  SELECT doc_id, source, {SQL_WORDS} AS w FROM documents
), wins0 AS (
  SELECT doc_id,
         unnest(list_transform(range(0, len(w) - {SUBSTR_K - 1}),
                i -> {{'pos': i,
                       'g': {_sql_h(f"concat_ws(chr(32), {_SQL_SUB_TERMS})")}}}))
           AS s
  FROM ws WHERE len(w) >= {SUBSTR_K}
), wins AS MATERIALIZED (
  SELECT doc_id, s.pos AS pos, s.g AS g FROM wins0
), dup AS (
  SELECT g FROM wins GROUP BY g HAVING count(*) >= 2
), st AS (
  SELECT doc_id, pos,
         lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) AS _prev
  FROM wins JOIN dup USING (g)
), pc AS (
  SELECT doc_id,
         sum(CASE WHEN _prev IS NULL THEN {SUBSTR_K}
                  ELSE least({SUBSTR_K}, pos - _prev) END)::BIGINT AS _cov
  FROM st GROUP BY doc_id
), pd AS (
  SELECT ws.doc_id, ws.source, len(w)::BIGINT AS _n,
         coalesce(_cov, 0)::BIGINT AS _cov
  FROM ws LEFT JOIN pc USING (doc_id)
)
SELECT source, count(*)::BIGINT AS docs_total,
       sum(CASE WHEN _cov > 0 THEN 1 ELSE 0 END)::BIGINT AS docs_con_dup,
       sum(_cov)::BIGINT AS tokens_repetidos,
       floor(avg(_cov::DOUBLE / _n) * 10000 + 0.5) / 10000 AS frac_media,
       floor(max(_cov::DOUBLE / _n) * 10000 + 0.5) / 10000 AS frac_max
FROM pd GROUP BY source ORDER BY source
"""

register("doc_substring_dedup", q_doc_substring_dedup, SQL_DOC_SUBSTRING_DEDUP)


# --------------------------------------------------------------------------
# doc_dup_spans — span-granularity exact-substring dedup (VERDICT-r6 #5).
# doc_substring_dedup reports per-doc COVERAGE of duplicated SUBSTR_K-token
# windows; the production technique (the suffix-array pass of Lee et al.
# 2022) removes variable-length duplicated SPANS. This operator closes the
# gap Spark-natively: chain flagged windows whose starts are <= SUBSTR_K
# apart into maximal runs (the union of their [pos, pos+K) intervals is
# then contiguous) and emit, per document, every maximal duplicated span
# of at least DUP_SPAN_MIN tokens with its start and length — exactly the
# removal list a span-dedup pipeline stage consumes.
#
# Plan shape (same hash-keyed discipline as doc_substring_dedup): one
# wordcount-class shuffle on 28-bit window hashes (map-side combined), one
# hash-keyed semi join to flag repeated windows, then two doc_id-keyed
# window passes (lag -> span break flag, running sum -> span id) and one
# (doc_id, span_id) groupBy. Every post-join key is doc_id-rooted —
# high-cardinality, grows with the corpus, no funnel at 100 TB.
# --------------------------------------------------------------------------

DUP_SPAN_MIN = 2 * SUBSTR_K  # report spans of at least 16 tokens


def _dup_wins(docs: DataFrame) -> DataFrame:
    """(doc_id, pos, g) — every SUBSTR_K-token window as a 28-bit hash.
    The shared first stage of the span-dedup family (report + strip)."""
    base = docs.selectExpr("doc_id", f"{WORDS} AS _ws")
    return (base.filter(f"size(_ws) >= {SUBSTR_K}")
            .selectExpr(
                "doc_id",
                f"explode(transform(sequence(0, size(_ws) - {SUBSTR_K}), "
                f"i -> struct(i AS pos, "
                f"{_h(f'concat_ws(chr(32), {_SUB_TERMS})')} AS g))) AS _w")
            .select("doc_id", "_w.pos", "_w.g"))


def _chain_spans(flagged: DataFrame) -> DataFrame:
    """Chain flagged (doc_id, pos) windows into maximal spans.

    Adjacent flagged windows chain iff their [pos, pos+K) intervals touch
    or overlap: gap <= K (gap == K is token-contiguous). Output spans per
    doc are therefore disjoint and separated by > 0 unflagged tokens."""
    w = Window.partitionBy("doc_id").orderBy("pos")
    return (flagged
            .withColumn("_prev", F.lag("pos").over(w))
            .withColumn(
                "_new",
                F.when(F.col("_prev").isNull()
                       | (F.col("pos") - F.col("_prev") > SUBSTR_K), 1)
                .otherwise(0))
            .withColumn("_sid", F.sum("_new").over(w))
            .groupBy("doc_id", "_sid")
            .agg(F.min("pos").cast("long").alias("desde_palabra"),
                 (F.max("pos") - F.min("pos") + SUBSTR_K).cast("long")
                 .alias("n_palabras"))
            .drop("_sid"))


def dup_spans(docs: DataFrame) -> DataFrame:
    """(doc_id, desde_palabra, n_palabras) — every maximal duplicated span
    (no minimum-length filter; the registered query applies DUP_SPAN_MIN).
    Separated so the chaining can be property-tested against a brute-force
    Python span finder."""
    wins = _dup_wins(docs)
    dup = (wins.groupBy("g")
           .agg(F.count(F.lit(1)).alias("_n"))
           .filter("_n >= 2")
           .select("g"))
    # the duplicated-gram key set is CORPUS-derived (grows with data, not
    # a dim): pin the join to sort-merge so a small-side size estimate
    # can never pick broadcast — at 128x stress the estimate undershot
    # and the broadcast build blew the executor heap (r10)
    return _chain_spans(wins.join(dup.hint("merge"), "g"))


def q_doc_dup_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _docs(spark, sf_dir)
    spans = dup_spans(docs).filter(F.col("n_palabras") >= DUP_SPAN_MIN)
    w = Window.partitionBy("doc_id").orderBy("desde_palabra")
    return (spans
            .withColumn("span_idx", F.row_number().over(w).cast("long"))
            .join(docs.select("doc_id", "source").hint("merge"), "doc_id")
            .selectExpr("cast(doc_id as bigint) AS doc_id", "source",
                        "span_idx", "desde_palabra", "n_palabras")
            .orderBy("doc_id", "span_idx"))


SQL_DOC_DUP_SPANS = f"""
WITH ws AS MATERIALIZED (
  SELECT doc_id, source, {SQL_WORDS} AS w FROM documents
), wins0 AS (
  SELECT doc_id,
         unnest(list_transform(range(0, len(w) - {SUBSTR_K - 1}),
                i -> {{'pos': i,
                       'g': {_sql_h(f"concat_ws(chr(32), {_SQL_SUB_TERMS})")}}}))
           AS s
  FROM ws WHERE len(w) >= {SUBSTR_K}
), wins AS MATERIALIZED (
  SELECT doc_id, s.pos AS pos, s.g AS g FROM wins0
), dup AS (
  SELECT g FROM wins GROUP BY g HAVING count(*) >= 2
), st AS (
  SELECT doc_id, pos,
         lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) AS _prev
  FROM wins JOIN dup USING (g)
), sn AS (
  SELECT doc_id, pos,
         CASE WHEN _prev IS NULL OR pos - _prev > {SUBSTR_K}
              THEN 1 ELSE 0 END AS _new
  FROM st
), sid AS (
  SELECT doc_id, pos,
         sum(_new) OVER (PARTITION BY doc_id ORDER BY pos) AS _sid
  FROM sn
), sp AS (
  SELECT doc_id, min(pos)::BIGINT AS desde_palabra,
         (max(pos) - min(pos) + {SUBSTR_K})::BIGINT AS n_palabras
  FROM sid GROUP BY doc_id, _sid
  HAVING max(pos) - min(pos) + {SUBSTR_K} >= {DUP_SPAN_MIN}
)
SELECT sp.doc_id::BIGINT AS doc_id, ws.source,
       row_number() OVER (PARTITION BY sp.doc_id
                          ORDER BY desde_palabra)::BIGINT AS span_idx,
       desde_palabra, n_palabras
FROM sp JOIN ws USING (doc_id)
ORDER BY doc_id, span_idx
"""

register("doc_dup_spans", q_doc_dup_spans, SQL_DOC_DUP_SPANS)


# --------------------------------------------------------------------------
# doc_strip_dup_spans — the ACTIONABLE half of the span-dedup family
# (VERDICT-r7 item #4): rewrite ``text`` with every maximal duplicated
# span of >= DUP_SPAN_MIN tokens REMOVED, keeping the corpus-wide FIRST
# occurrence — the removal semantics of the suffix-array pass of Lee et
# al. 2022 ("Deduplicating Training Data Makes Language Models Better").
# doc_dup_spans REPORTS every occurrence of a duplicated span; this stage
# flags only NON-FIRST window occurrences (first = lexicographic min
# (doc_id, pos) corpus-wide), so exactly one copy of each duplicated
# region survives the rewrite. Consumed by corpus_pipeline
# --strip-dup-spans; reference parity: the reference's transform surface
# (src/data_transformer.py:135-158, _calculate_columns) is row-wise and
# has no span-level rewrite — this is LLM-pipeline surface beyond it.
#
# Plan shape: the same one 28-bit window-hash shuffle as doc_dup_spans —
# min(struct(doc_id, pos)) is a map-side-combinable aggregate riding the
# existing groupBy — one hash-keyed join back, the same two doc_id-keyed
# window passes, one doc_id-keyed join to the corpus. The rewrite itself
# is a per-row higher-order filter over the word array (JVM codegen — no
# extra shuffle, no Python, span lists are per-doc-sized). Every
# post-join key is doc_id-rooted: no funnel at 100 TB.
# --------------------------------------------------------------------------

# keep word i iff no removal span covers it (0-based positions)
_STRIP_KEEP = (
    "filter(_ws, (x, i) -> NOT exists(_spans, "
    "s -> i >= s.desde_palabra AND i < s.desde_palabra + s.n_palabras))"
)
_STRIP_JOIN = "concat_ws(' ', _kept)"


def strip_spans(docs: DataFrame) -> DataFrame:
    """(doc_id, desde_palabra, n_palabras) — the REMOVAL list: maximal
    spans of non-first occurrences of corpus-repeated windows, at least
    DUP_SPAN_MIN tokens long."""
    wins = _dup_wins(docs)
    firsts = (wins.groupBy("g")
              .agg(F.min(F.struct("doc_id", "pos")).alias("_f"),
                   F.count(F.lit(1)).alias("_n"))
              .filter("_n >= 2")
              .select("g", "_f"))
    # firsts is corpus-derived (one row per duplicated gram): same
    # merge-pin rationale as dup_spans — never broadcast a frame that
    # scales with the corpus
    flagged = (wins.join(firsts.hint("merge"), "g")
               .filter("NOT (doc_id = _f.doc_id AND pos = _f.pos)")
               .select("doc_id", "pos"))
    return (_chain_spans(flagged)
            .filter(F.col("n_palabras") >= DUP_SPAN_MIN))


def strip_dup_spans(docs: DataFrame) -> DataFrame:
    """Corpus rewrite: same columns as ``docs`` with ``text`` rewritten
    (removal spans dropped, survivors re-joined with single spaces) and
    ``n_chars`` recomputed when present. Untouched docs pass through with
    their original text byte-for-byte."""
    per_doc = (strip_spans(docs).groupBy("doc_id")
               .agg(F.collect_list(F.struct("desde_palabra", "n_palabras"))
                    .alias("_spans")))
    # per_doc holds a row per rewritten doc — corpus-derived; merge-pin
    # (the 128x stress run OOM'd building exactly this broadcast)
    out = (docs.join(per_doc.hint("merge"), "doc_id", "left")
           .withColumn("_ws", F.expr(WORDS))
           .withColumn(
               "text",
               F.when(F.col("_spans").isNull(), F.col("text"))
               .otherwise(F.expr(f"concat_ws(' ', {_STRIP_KEEP})"))))
    if "n_chars" in docs.columns:
        out = out.withColumn("n_chars", F.length("text").cast("long"))
    return out.drop("_ws", "_spans")


def q_doc_strip_dup_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-rewritten-doc audit of the strip stage: span count, token
    counts before/after, and a 28-bit fingerprint of the REWRITTEN text
    (the fingerprint makes the whole rewrite value-checked by the DuckDB
    oracle, not just the counts)."""
    docs = _docs(spark, sf_dir)
    per_doc = (strip_spans(docs).groupBy("doc_id")
               .agg(F.collect_list(F.struct("desde_palabra", "n_palabras"))
                    .alias("_spans"),
                    F.count(F.lit(1)).cast("long").alias("spans_eliminados")))
    # merge-pin: per_doc is corpus-derived (see strip_dup_spans)
    return (docs.join(per_doc.hint("merge"), "doc_id")
            .withColumn("_ws", F.expr(WORDS))
            .withColumn("_kept", F.expr(_STRIP_KEEP))
            .selectExpr("cast(doc_id as bigint) AS doc_id", "source",
                        "spans_eliminados",
                        "cast(size(_ws) as bigint) AS tokens_antes",
                        "cast(size(_kept) as bigint) AS tokens_despues",
                        f"{_h(_STRIP_JOIN)} AS huella_texto")
            .orderBy("doc_id"))


SQL_DOC_STRIP_DUP_SPANS = f"""
WITH ws AS MATERIALIZED (
  SELECT doc_id, source, {SQL_WORDS} AS w FROM documents
), wins0 AS (
  SELECT doc_id,
         unnest(list_transform(range(0, len(w) - {SUBSTR_K - 1}),
                i -> {{'pos': i,
                       'g': {_sql_h(f"concat_ws(chr(32), {_SQL_SUB_TERMS})")}}}))
           AS s
  FROM ws WHERE len(w) >= {SUBSTR_K}
), wins AS MATERIALIZED (
  SELECT doc_id, s.pos AS pos, s.g AS g FROM wins0
), firsts AS (
  -- lexicographic min(doc_id, pos) as a PACKED BIGINT min: pos < 2^32
  -- always (per-doc window index) AND doc_id < 2^31 (else the multiply
  -- overflows INT64 — DuckDB raises loudly, it cannot return wrong
  -- answers; re-pack with a wider shift if doc ids ever go 64-bit).
  -- DuckDB's min(STRUCT) aggregate is pathologically slow here (483 s
  -- CPU / ~80 s wall at sf0.1 vs 0.4 s packed — profiled r10); the
  -- Spark side keeps min(struct) which is cheap in Tungsten.
  SELECT g, min(doc_id * 4294967296 + pos) AS f
  FROM wins GROUP BY g HAVING count(*) >= 2
), fl AS (
  SELECT doc_id, pos FROM wins JOIN firsts USING (g)
  WHERE doc_id * 4294967296 + pos <> f
), st AS (
  SELECT doc_id, pos,
         lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) AS _prev
  FROM fl
), sn AS (
  SELECT doc_id, pos,
         CASE WHEN _prev IS NULL OR pos - _prev > {SUBSTR_K}
              THEN 1 ELSE 0 END AS _new
  FROM st
), sid AS (
  SELECT doc_id, pos,
         sum(_new) OVER (PARTITION BY doc_id ORDER BY pos) AS _sid
  FROM sn
), sp AS (
  SELECT doc_id, min(pos) AS desde,
         (max(pos) - min(pos) + {SUBSTR_K}) AS n
  FROM sid GROUP BY doc_id, _sid
  HAVING max(pos) - min(pos) + {SUBSTR_K} >= {DUP_SPAN_MIN}
), rem AS (
  -- spans are disjoint per doc by construction; no DISTINCT needed
  SELECT doc_id, unnest(range(desde, desde + n)) AS i FROM sp
), tok AS (
  SELECT doc_id,
         unnest(list_transform(range(0, len(w)),
                i -> {{'i': i, 'wd': w[i+1]}})) AS t
  FROM ws WHERE doc_id IN (SELECT doc_id FROM sp)
), kept AS (
  SELECT tok.doc_id AS doc_id, t.i AS i, t.wd AS wd
  FROM tok LEFT JOIN rem ON tok.doc_id = rem.doc_id AND t.i = rem.i
  WHERE rem.i IS NULL
), agg AS (
  SELECT doc_id, count(*)::BIGINT AS tokens_despues,
         string_agg(wd, ' ' ORDER BY i) AS texto
  FROM kept GROUP BY doc_id
), spn AS (
  SELECT doc_id, count(*)::BIGINT AS spans_eliminados FROM sp GROUP BY doc_id
)
SELECT ws.doc_id::BIGINT AS doc_id, ws.source, spn.spans_eliminados,
       len(ws.w)::BIGINT AS tokens_antes,
       coalesce(agg.tokens_despues, 0)::BIGINT AS tokens_despues,
       {_sql_h("coalesce(agg.texto, '')")} AS huella_texto
FROM spn JOIN ws USING (doc_id) LEFT JOIN agg USING (doc_id)
ORDER BY doc_id
"""

register("doc_strip_dup_spans", q_doc_strip_dup_spans,
         SQL_DOC_STRIP_DUP_SPANS)


# --------------------------------------------------------------------------
# doc_winnowing — positional winnowing fingerprints (Schleimer, Wilkerson
# & Aiken, SIGMOD 2003 — the MOSS algorithm). Unlike doc_fingerprint's
# single global min-shingle, winnowing slides a window of FP_W consecutive
# shingle hashes over each document and keeps, per window, the RIGHTMOST
# minimal hash with its position; consecutive windows usually agree, so
# the distinct fingerprint set has expected density 2/(FP_W+1) and — the
# paper's guarantee — any shared run of >= FP_W + shingle_k - 1 tokens
# between two documents shares at least one selected fingerprint. The
# rollup reports per-source fingerprint density and how much of each
# source's fingerprint mass collides with OTHER documents (the MOSS
# plagiarism signal, here a boilerplate/contamination signal).
#
# Each candidate is packed as hash * 2^30 + (2^30 - 1 - pos) into ONE
# bigint (hash < 2^28, pos << 2^30 → < 2^58, exact): the packed MIN over
# a window IS the rightmost-minimal-hash selection (inverted position
# breaks hash ties toward the larger pos), so selection is a plain
# array_min over a slice — no fold, no tie-break drift, and the packing
# keeps (hash, pos) identity for the distinct step. DuckDB's
# list_distinct can't deduplicate nested lists, which also makes the
# flat packed bigint the portable representation.
#
# Scale: selection is embarrassingly parallel (per-row array ops,
# O(n·FP_W) integer compares, no shuffle). The only shuffles are the
# fingerprint-hash groupBy and the hash-keyed join back — ~0.4x the
# shingle count (the density bound), keyed by a hash space that grows
# with the corpus, so no key gets hot at 100 TB; the corpus is never
# self-joined all-pairs.
# --------------------------------------------------------------------------

FP_W = 4  # winnowing window (in shingle-hash positions)
_FP_PACK = 1 << 30

# packed candidates: pk[j] = g[j]*2^30 + (2^30-1-j), 0-based j
_FP_PK = (
    f"transform(sequence(0, _m - 1), "
    f"j -> element_at(_g, j + 1) * {_FP_PACK}L + ({_FP_PACK - 1}L - j))"
)
_FP_SELECT = (
    f"array_distinct(transform(sequence(0, _nw - 1), "
    f"w -> array_min(slice(_pk, w + 1, least({FP_W}, _m - w)))))"
)


def doc_winnow_fingerprints(docs: DataFrame) -> DataFrame:
    """(doc_id, source, _nw, fps array<bigint>) — per-document winnowing
    fingerprints as distinct ``hash * 2^30 + (2^30-1-pos)`` packed pairs
    plus the window count. Shared by the registered rollup and the
    brute-force property test."""
    return (
        docs.selectExpr("doc_id", "source", "text", f"{WORDS} AS _ws")
        .selectExpr("doc_id", "source", "text", f"{_SHINGLES_WS} AS _sh")
        .selectExpr("doc_id", "source",
                    f"transform(_sh, s -> {_h('s')}) AS _g")
        .selectExpr("doc_id", "source", "_g", "size(_g) AS _m")
        .selectExpr("doc_id", "source", "_m",
                    f"greatest(_m - {FP_W - 1}, 1) AS _nw",
                    f"{_FP_PK} AS _pk")
        .selectExpr("doc_id", "source", "_nw", f"{_FP_SELECT} AS fps")
    )


def q_doc_winnowing(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _docs(spark, sf_dir)
    # doc-level frame feeds both the rollup and the overlap join — cache
    # so the shingle+hash+select pipeline runs once over the corpus
    pd_ = (doc_winnow_fingerprints(docs)
           .selectExpr("doc_id", "source", "_nw",
                       "cast(size(fps) as bigint) AS _nfp", "fps")
           .cache())
    ex = pd_.selectExpr("doc_id", "explode(fps) AS p").selectExpr(
        "doc_id", f"p div {_FP_PACK}L AS fh")
    shared = (ex.groupBy("fh")
              .agg(F.countDistinct("doc_id").alias("_nd"))
              .filter("_nd >= 2")
              .select("fh"))
    per_doc_shared = (ex.join(shared, "fh")
                      .groupBy("doc_id")
                      .agg(F.count(F.lit(1)).cast("long").alias("_comp")))
    return (pd_.join(per_doc_shared, "doc_id", "left")
            .fillna(0, ["_comp"])
            .groupBy("source")
            .agg(F.count(F.lit(1)).cast("long").alias("docs_total"),
                 F.sum("_nfp").cast("long").alias("huellas"),
                 r4(F.avg(F.col("_nfp").cast("double") / F.col("_nw")))
                 .alias("densidad_media"),
                 F.sum("_comp").cast("long").alias("huellas_compartidas"),
                 F.sum((F.col("_comp") > 0).cast("long")).cast("long")
                 .alias("docs_con_overlap"))
            .orderBy("source"))


SQL_DOC_WINNOWING = f"""
WITH hs AS (
  SELECT doc_id, source,
         list_transform({SQL_SHINGLES}, s -> {_sql_h('s')}) AS g
  FROM documents
), fp0 AS (
  SELECT doc_id, source, len(g) AS m, greatest(len(g) - {FP_W - 1}, 1) AS nw,
         list_transform(range(0, len(g)),
                        j -> g[j + 1] * {_FP_PACK} + ({_FP_PACK - 1} - j))
           AS pk
  FROM hs
), pd AS (
  SELECT doc_id, source, nw,
         list_distinct(list_transform(range(0, nw),
           w -> list_min(list_slice(pk, w + 1, least(w + {FP_W}, m))))) AS fps
  FROM fp0
), pdn AS MATERIALIZED (
  SELECT doc_id, source, nw, len(fps)::BIGINT AS nfp, fps FROM pd
), ex0 AS (
  SELECT doc_id, unnest(fps) AS p FROM pdn
), ex AS MATERIALIZED (
  SELECT doc_id, p // {_FP_PACK} AS fh FROM ex0
), shared AS (
  SELECT fh FROM ex GROUP BY fh HAVING count(DISTINCT doc_id) >= 2
), ds AS MATERIALIZED (
  SELECT doc_id, count(*)::BIGINT AS comp
  FROM ex JOIN shared USING (fh) GROUP BY doc_id
), doc AS (
  SELECT pdn.doc_id, pdn.source, nfp, nw,
         coalesce(comp, 0)::BIGINT AS comp
  FROM pdn LEFT JOIN ds ON pdn.doc_id = ds.doc_id
)
SELECT source, count(*)::BIGINT AS docs_total, sum(nfp)::BIGINT AS huellas,
       floor(avg(nfp::DOUBLE / nw) * 10000 + 0.5) / 10000 AS densidad_media,
       sum(comp)::BIGINT AS huellas_compartidas,
       sum(CASE WHEN comp > 0 THEN 1 ELSE 0 END)::BIGINT AS docs_con_overlap
FROM doc GROUP BY source ORDER BY source
"""

register("doc_winnowing", q_doc_winnowing, SQL_DOC_WINNOWING)


# --------------------------------------------------------------------------
# doc_minhash_est_error — sketch-accuracy audit of the MinHash estimator
# against the exact Jaccard it estimates, the dedup-family companion of
# ann_recall_audit ("measure, don't guess"): over the SAME banded LSH
# candidate pairs the dedup pipeline actually considers, bucket pairs by
# exact-Jaccard decile and report the mean/max absolute error of the
# K-component signature estimate per decile. This is the number that
# justifies (or refutes) MINHASH_K=8 before anyone trusts jaccard_est
# as a drop threshold — the theoretical std of the estimator is
# sqrt(J(1-J)/K); the audit measures the realized error.
#
# Exact Jaccard is computed over the DISTINCT 28-bit shingle hashes —
# the set the MinHash permutations actually sketch — so estimator error
# is isolated from hash-collision noise, and both engines intersect
# identical bigint sets (bit-portable; no string set ops).
#
# Scale: identical shape to doc_ngram_jaccard — banded candidate join
# (hot-band guarded), then per-pair array intersection; the audit adds
# one decile groupBy over the pair set (tiny). The corpus is never
# all-pairs joined; candidate count is what LSH yields at threshold.
# --------------------------------------------------------------------------

def q_doc_minhash_est_error(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _docs(spark, sf_dir)
    base = (docs.selectExpr("doc_id", "text", f"{WORDS} AS _ws")
            .selectExpr("doc_id", f"{_SHINGLES_WS} AS _sh")
            .selectExpr("doc_id", f"transform(_sh, s -> {_h('s')}) AS _hs")
            .selectExpr("doc_id", "array_distinct(_hs) AS ghs",
                        f"{SIGS} AS sigs")
            .cache())
    bands = band_guard(base.selectExpr("doc_id", BANDS_EXPR))
    cand = (band_pairs(bands)
            .select("d1", "d2")
            .dropDuplicates(["d1", "d2"]))
    paired = (cand
              .join(base.select(F.col("doc_id").alias("d1"),
                                F.col("ghs").alias("g1"),
                                F.col("sigs").alias("s1")), "d1")
              .join(base.select(F.col("doc_id").alias("d2"),
                                F.col("ghs").alias("g2"),
                                F.col("sigs").alias("s2")), "d2"))
    est = F.expr(JACCARD_EST)
    inter = F.expr("size(array_intersect(g1, g2))").cast("double")
    union = (F.expr("size(g1) + size(g2)").cast("double") - inter)
    scored = paired.select(
        F.least(F.floor((inter / union) * 10), F.lit(9)).cast("long")
        .alias("decil"),
        (inter / union).alias("_jac"), est.alias("_est"),
        F.abs(est - inter / union).alias("_err"))
    return (scored.groupBy("decil")
            .agg(F.count(F.lit(1)).cast("long").alias("pares"),
                 r4(F.avg("_jac")).alias("jac_media"),
                 r4(F.avg("_est")).alias("est_media"),
                 r4(F.avg("_err")).alias("err_medio"),
                 r6(F.max("_err")).alias("err_max"))
            .orderBy("decil"))


SQL_DOC_MINHASH_EST_ERROR = f"""
WITH hs0 AS (
  SELECT doc_id, list_transform({SQL_SHINGLES}, s -> {_sql_h('s')}) AS hs
  FROM documents
), base AS MATERIALIZED (
  SELECT doc_id, list_distinct(hs) AS ghs, hs FROM hs0
), sigs AS MATERIALIZED (
  SELECT doc_id, {SQL_SIGS} AS sigs FROM base
), {SQL_BANDS_CTE}, cand AS (
  SELECT DISTINCT l.doc_id AS d1, r.doc_id AS d2
  FROM bands l JOIN bands r ON l.banda = r.banda AND l.doc_id < r.doc_id
), scored0 AS (
  SELECT len(list_intersect(b1.ghs, b2.ghs))::DOUBLE AS inter,
         (len(b1.ghs) + len(b2.ghs))::DOUBLE
           - len(list_intersect(b1.ghs, b2.ghs))::DOUBLE AS un,
         list_sum(list_transform(range(0, {MINHASH_K}),
           i -> CASE WHEN s1.sigs[i+1] = s2.sigs[i+1] THEN 1 ELSE 0 END))
           / {MINHASH_K}.0 AS est
  FROM cand
  JOIN base b1 ON b1.doc_id = cand.d1
  JOIN base b2 ON b2.doc_id = cand.d2
  JOIN sigs s1 ON s1.doc_id = cand.d1
  JOIN sigs s2 ON s2.doc_id = cand.d2
), scored AS (
  SELECT least(floor((inter / un) * 10), 9)::BIGINT AS decil,
         inter / un AS jac, est, abs(est - inter / un) AS err
  FROM scored0
)
SELECT decil, count(*)::BIGINT AS pares,
       floor(avg(jac) * 10000 + 0.5) / 10000 AS jac_media,
       floor(avg(est) * 10000 + 0.5) / 10000 AS est_media,
       floor(avg(err) * 10000 + 0.5) / 10000 AS err_medio,
       floor(max(err) * 1000000 + 0.5) / 1000000 AS err_max
FROM scored GROUP BY decil ORDER BY decil
"""

register("doc_minhash_est_error", q_doc_minhash_est_error,
         SQL_DOC_MINHASH_EST_ERROR)


# --------------------------------------------------------------------------
# doc_gopher_quality — the Gopher document-filtering rule set (Rae et al.
# 2021, "Scaling Language Models: ... Gopher", Appendix A1.1), the
# published heuristic battery that complements the composite doc_quality
# score: word-count bounds, mean-word-length band, symbol-to-word ratio
# (# and ellipsis), minimum alphabetic-word fraction, required-stopword
# presence, and the bullet/ellipsis line-shape rules. The audit reports,
# per source, how many documents pass EACH rule and how many pass all —
# the per-rule attribution a curation run needs to tune thresholds.
#
# Every rule is evaluated as an INTEGER cross-multiplied comparison
# (e.g. mean word length in [3,10] as 3·n <= Σlen AND Σlen <= 10·n), so
# there is no float anywhere until the final rounded fraction — the
# verdicts are bit-portable by construction.
#
# Scale: per-row token/line folds (embarrassingly parallel, zero
# shuffle) into one map-side-combined per-source aggregate — the
# cheapest possible shape; nothing grows with the corpus but the scan.
# --------------------------------------------------------------------------

_GOPHER_STOPS = "'the','be','to','of','and','that','have','with'"

_GOPHER_COLS = [
    f"cast(size({WORDS}) as bigint) AS _n",
    f"aggregate({WORDS}, 0L, (a, w) -> a + length(w)) AS _sumlen",
    "cast(length(text) - length(replace(text, '#', '')) as bigint) AS _hash",
    "cast((length(text) - length(replace(text, '...', ''))) div 3 as bigint)"
    " AS _ell",
    f"cast(size(filter({WORDS}, x -> x rlike '[A-Za-z]')) as bigint) AS _alfa",
    f"cast(size(array_intersect(array_distinct({WORDS}), "
    f"array({_GOPHER_STOPS}))) as bigint) AS _stops",
    "split(text, '\\n') AS _ls",
]

_GOPHER_RULES = {
    # word count in [50, 100000]
    "palabras": "_n >= 50 AND _n <= 100000",
    # mean word length in [3, 10] chars
    "long_media": "3 * _n <= _sumlen AND _sumlen <= 10 * _n",
    # symbol-to-word ratio (# + '...') < 0.1
    "simbolos": "10 * (_hash + _ell) < _n",
    # >= 80% of words contain an alphabetic character
    "alfabetico": "5 * _alfa >= 4 * _n",
    # >= 2 of the 8 required stopwords present
    "stopwords": "_stops >= 2",
    # < 90% of lines start with a bullet
    "vinetas": "10 * _bul < 9 * _nl",
    # < 30% of lines end with an ellipsis
    "elipsis": "10 * _fin < 3 * _nl",
}


def doc_gopher_flags(docs: DataFrame) -> DataFrame:
    """(doc_id, source, _r_<rule>..., _hits) — per-document Gopher rule
    verdicts (1/0) plus the pass count. Shared by the registered rollup
    and the Python-reference property test."""
    base = (docs.selectExpr("doc_id", "source", *_GOPHER_COLS)
            .selectExpr(
                "*", "cast(size(_ls) as bigint) AS _nl",
                "cast(size(filter(_ls, l -> trim(l) like '-%' "
                "or trim(l) like '*%' or trim(l) like '•%')) as bigint)"
                " AS _bul",
                "cast(size(filter(_ls, l -> trim(l) like '%...')) as bigint)"
                " AS _fin"))
    return base.selectExpr(
        "doc_id", "source",
        *[f"cast(({cond}) as long) AS _r_{name}"
          for name, cond in _GOPHER_RULES.items()],
    ).selectExpr(
        "doc_id", "source", *[f"_r_{n}" for n in _GOPHER_RULES],
        " + ".join(f"_r_{n}" for n in _GOPHER_RULES) + " AS _hits")


def q_doc_gopher_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    flags = doc_gopher_flags(_docs(spark, sf_dir))
    n_rules = len(_GOPHER_RULES)
    return (flags.groupBy("source")
            .agg(F.count(F.lit(1)).cast("long").alias("docs_total"),
                 *[F.sum(f"_r_{n}").cast("long").alias(f"pasa_{n}")
                   for n in _GOPHER_RULES],
                 F.sum((F.col("_hits") == n_rules).cast("long")).cast("long")
                 .alias("pasa_todo"))
            .withColumn("frac_pasa",
                        r4(F.col("pasa_todo").cast("double")
                           / F.col("docs_total")))
            .orderBy("source"))


_SQL_GOPHER_RULES = {
    "palabras": "_n >= 50 AND _n <= 100000",
    "long_media": "3 * _n <= _sumlen AND _sumlen <= 10 * _n",
    "simbolos": "10 * (_hash + _ell) < _n",
    "alfabetico": "5 * _alfa >= 4 * _n",
    "stopwords": "_stops >= 2",
    "vinetas": "10 * _bul < 9 * _nl",
    "elipsis": "10 * _fin < 3 * _nl",
}

SQL_DOC_GOPHER_QUALITY = f"""
WITH base AS (
  SELECT doc_id, source,
         len({SQL_WORDS})::BIGINT AS _n,
         list_sum(list_transform({SQL_WORDS}, w -> length(w)))::BIGINT
           AS _sumlen,
         (length(text) - length(replace(text, '#', '')))::BIGINT AS _hash,
         ((length(text) - length(replace(text, '...', ''))) // 3)::BIGINT
           AS _ell,
         len(list_filter({SQL_WORDS},
             x -> regexp_matches(x, '[A-Za-z]')))::BIGINT AS _alfa,
         len(list_intersect(list_distinct({SQL_WORDS}),
             [{_GOPHER_STOPS}]))::BIGINT AS _stops,
         str_split(text, chr(10)) AS _ls
  FROM documents
), lines AS (
  SELECT *, len(_ls)::BIGINT AS _nl,
         len(list_filter(_ls, l -> trim(l) LIKE '-%' OR trim(l) LIKE '*%'
             OR trim(l) LIKE '•%'))::BIGINT AS _bul,
         len(list_filter(_ls, l -> trim(l) LIKE '%...'))::BIGINT AS _fin
  FROM base
), flags AS (
  SELECT source,
         {', '.join(f"CASE WHEN {c} THEN 1 ELSE 0 END AS _r_{n}"
                    for n, c in _SQL_GOPHER_RULES.items())},
         {' + '.join(f"CASE WHEN {c} THEN 1 ELSE 0 END"
                     for c in _SQL_GOPHER_RULES.values())} AS _hits
  FROM lines
)
SELECT source, count(*)::BIGINT AS docs_total,
       {', '.join(f"sum(_r_{n})::BIGINT AS pasa_{n}"
                  for n in _SQL_GOPHER_RULES)},
       sum(CASE WHEN _hits = {len(_SQL_GOPHER_RULES)} THEN 1 ELSE 0 END)::BIGINT
         AS pasa_todo,
       floor(sum(CASE WHEN _hits = {len(_SQL_GOPHER_RULES)} THEN 1 ELSE 0 END)
             ::DOUBLE / count(*) * 10000 + 0.5) / 10000 AS frac_pasa
FROM flags GROUP BY source ORDER BY source
"""

register("doc_gopher_quality", q_doc_gopher_quality, SQL_DOC_GOPHER_QUALITY)


# --------------------------------------------------------------------------
# doc_signal_corr — filter-redundancy audit: the pairwise Pearson
# correlation matrix between the per-doc curation signals (quality
# score, token count, within-doc repeated-shingle fraction, stopword
# ratio). Pipelines accumulate filters over time; this is the analysis
# that shows which ones measure the same thing (e.g. the stopword
# ratio is a CONSTRUCTIVE component of the quality score, and the
# audit should say so) before a redundant filter is retired. Signals
# are r4-quantized per row so the only float nondeterminism left is
# sum regrouping (~1e-15, absorbed by the final r6 — the pareto_abc
# argument); the correlation itself is the sqrt-portable textbook form.
#
# Scale: one per-row projection (folds only) + ONE one-row global
# aggregate carrying every Σx/Σx²/Σxy — 15 partial-aggregated sums; the
# 6-row output is built by exploding the broadcast aggregate row. No
# shuffle ever carries more than the aggregation partials.
# --------------------------------------------------------------------------

_CORR_SIGNALS = ("calidad", "toks", "rep3", "stop")


def q_doc_signal_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _docs(spark, sf_dir)
    # stage the split and the shingle array as multiply-referenced
    # columns: an inline shingle expression re-splits the text per lambda
    # element (measured 6.5 s vs 0.4 s at sf0.1, single task —
    # SCALING.md)
    base = (docs.selectExpr("doc_id", "text", f"{WORDS} AS _ws")
            .selectExpr(
                "cast(size(_ws) as double) AS _n",
                "cast(size(array_distinct(_ws)) as double) AS _u",
                f"cast(size(filter(_ws, w -> w in ({_STOPWORDS}))) "
                "as double) AS _s",
                "cast(length(text) as double) AS _c",
                f"{_SHINGLES_WS} AS _shs"))
    sig = base.select(
        r4(_quality_score()).alias("calidad"),
        r4(F.col("_n")).alias("toks"),
        r4(1 - F.expr("size(array_distinct(_shs))")
           / F.expr("size(_shs)")).alias("rep3"),
        r4(F.col("_s") / F.col("_n")).alias("stop"))
    aggs = [F.count(F.lit(1)).cast("double").alias("_cnt")]
    for a in _CORR_SIGNALS:
        aggs.append(F.sum(F.col(a)).alias(f"_s_{a}"))
        aggs.append(F.sum(F.col(a) * F.col(a)).alias(f"_q_{a}"))
    for i, a in enumerate(_CORR_SIGNALS):
        for b in _CORR_SIGNALS[i + 1:]:
            aggs.append(F.sum(F.col(a) * F.col(b)).alias(f"_x_{a}_{b}"))
    row = sig.agg(*aggs)
    pair_structs = ", ".join(
        f"struct('{a}' AS senal_a, '{b}' AS senal_b, "
        f"_cnt * _x_{a}_{b} - _s_{a} * _s_{b} AS _num, "
        f"(_cnt * _q_{a} - _s_{a} * _s_{a}) * "
        f"(_cnt * _q_{b} - _s_{b} * _s_{b}) AS _den) "
        for i, a in enumerate(_CORR_SIGNALS)
        for b in _CORR_SIGNALS[i + 1:])
    return (row.selectExpr(f"explode(array({pair_structs})) AS p")
            .select("p.senal_a", "p.senal_b",
                    F.when(F.col("p._den") > 0,
                           r6(F.col("p._num") / F.sqrt(F.col("p._den"))))
                    .alias("pearson_r"))
            .orderBy("senal_a", "senal_b"))


_SQL_CORR_PAIRS = ", ".join(
    f"{{'senal_a': '{a}', 'senal_b': '{b}', "
    f"'_num': _cnt * _x_{a}_{b} - _s_{a} * _s_{b}, "
    f"'_den': (_cnt * _q_{a} - _s_{a} * _s_{a}) * "
    f"(_cnt * _q_{b} - _s_{b} * _s_{b})}}"
    for i, a in enumerate(_CORR_SIGNALS)
    for b in _CORR_SIGNALS[i + 1:])

SQL_DOC_SIGNAL_CORR = f"""
WITH base AS (
  SELECT doc_id,
         len({SQL_WORDS})::DOUBLE AS _n,
         len(list_distinct({SQL_WORDS}))::DOUBLE AS _u,
         len(list_filter({SQL_WORDS}, w -> w IN ({_STOPWORDS})))::DOUBLE AS _s,
         strlen(text)::DOUBLE AS _c,
         len(list_distinct({SQL_SHINGLES}))::DOUBLE AS _sh_u,
         len({SQL_SHINGLES})::DOUBLE AS _sh
  FROM documents
), sig AS (
  SELECT
    floor((least(_c / 400, 1.0) * 0.4 + (_u / _n) * 0.4
           + (1 - abs(_s / _n - 0.2)) * 0.2) * 10000 + 0.5) / 10000
      AS calidad,
    floor(_n * 10000 + 0.5) / 10000 AS toks,
    floor((1 - _sh_u / _sh) * 10000 + 0.5) / 10000 AS rep3,
    floor(_s / _n * 10000 + 0.5) / 10000 AS stop
  FROM base
), agg AS (
  SELECT count(*)::DOUBLE AS _cnt,
         {", ".join(f"sum({a}) AS _s_{a}, sum({a} * {a}) AS _q_{a}"
                    for a in _CORR_SIGNALS)},
         {", ".join(f"sum({a} * {b}) AS _x_{a}_{b}"
                    for i, a in enumerate(_CORR_SIGNALS)
                    for b in _CORR_SIGNALS[i + 1:])}
  FROM sig
), pairs AS (
  SELECT unnest([{_SQL_CORR_PAIRS}], recursive := true) FROM agg
)
SELECT senal_a, senal_b,
       CASE WHEN _den > 0 THEN
         floor(_num / sqrt(_den) * 1000000 + 0.5) / 1000000
       ELSE NULL END AS pearson_r
FROM pairs ORDER BY senal_a, senal_b
"""

register("doc_signal_corr", q_doc_signal_corr, SQL_DOC_SIGNAL_CORR)


# --------------------------------------------------------------------------
# doc_ngram_novelty — dataset-ORDER novelty: what fraction of each
# document's distinct shingles appear here for the FIRST time in doc_id
# order? The complement of doc_dup_ngrams' symmetric duplication count:
# dedup pipelines that keep the first occurrence (doc_dedup_keep_best's
# lowest-id rule) and curriculum schedulers that front-load novel text
# both read exactly this attribution. A doc with novelty 0 contributes
# no gram the corpus hasn't already seen — the marginal-value signal
# behind epoch-capping and repetition budgets.
#
# Scale shape: identical to doc_dup_ngrams — grams are md5-hashed to
# bigints before the single gram-keyed shuffle, the first-occurrence
# attribution is a gram-partitioned window min (the measured-faster
# window form, not groupBy+self-join), then one per-doc aggregate and a
# |sources|-row rollup. Nothing is collected or corpus-broadcast.
# --------------------------------------------------------------------------

def q_doc_ngram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _docs(spark, sf_dir)
    ds = (docs.selectExpr("doc_id", "source", "text", f"{WORDS} AS _ws")
          .selectExpr("doc_id", "source",
                      f"array_distinct(transform({_SHINGLES_WS}, "
                      f"s -> {_h('s')})) AS _gs"))
    # explode_outer: same InferFiltersFromGenerate guard as
    # doc_dup_ngrams (_gs is never empty — the shingle CASE falls back
    # to array(trim(text))).
    pairs = ds.select("doc_id", "source", F.explode_outer("_gs").alias("g"))
    first = F.min("doc_id").over(Window.partitionBy("g"))
    per_doc = (pairs.withColumn("_f", first)
               .groupBy("doc_id", "source")
               .agg(F.count(F.lit(1)).alias("_total"),
                    F.sum(F.when(F.col("_f") == F.col("doc_id"), 1)
                          .otherwise(0)).alias("_new")))
    return (per_doc.groupBy("source")
            .agg(F.count(F.lit(1)).cast("long").alias("n_docs"),
                 F.sum("_new").cast("long").alias("ngramas_nuevos"),
                 F.sum("_total").cast("long").alias("ngramas"),
                 r4(F.avg(F.col("_new") / F.col("_total")))
                 .alias("novedad_media"),
                 F.sum(F.when(F.col("_new") == F.col("_total"), 1)
                       .otherwise(0)).cast("long").alias("docs_todo_nuevo"),
                 F.sum(F.when(F.col("_new") == 0, 1).otherwise(0))
                 .cast("long").alias("docs_sin_novedad"))
            .orderBy("source"))


SQL_DOC_NGRAM_NOVELTY = f"""
WITH ds AS (
  SELECT doc_id, source,
         list_distinct(list_transform({SQL_SHINGLES}, s -> {_sql_h('s')}))
           AS gs
  FROM documents
), p AS (
  SELECT doc_id, source, unnest(gs) AS g FROM ds
), attrib AS (
  SELECT doc_id, source,
         min(doc_id) OVER (PARTITION BY g) AS f
  FROM p
), d AS (
  SELECT doc_id, source, count(*) AS total,
         sum(CASE WHEN f = doc_id THEN 1 ELSE 0 END) AS new
  FROM attrib GROUP BY doc_id, source
)
SELECT source, count(*)::BIGINT AS n_docs,
       sum(new)::BIGINT AS ngramas_nuevos, sum(total)::BIGINT AS ngramas,
       floor(avg(new::DOUBLE / total) * 10000 + 0.5) / 10000
         AS novedad_media,
       sum(CASE WHEN new = total THEN 1 ELSE 0 END)::BIGINT
         AS docs_todo_nuevo,
       sum(CASE WHEN new = 0 THEN 1 ELSE 0 END)::BIGINT
         AS docs_sin_novedad
FROM d GROUP BY source ORDER BY source
"""

register("doc_ngram_novelty", q_doc_ngram_novelty, SQL_DOC_NGRAM_NOVELTY)


# --------------------------------------------------------------------------
# simhash_recall_audit — the SimHash member of the audit family
# (ann_recall_audit = sign-LSH vs brute cosine, ivf_recall_audit = IVF
# vs brute, doc_minhash_est_error = MinHash estimate vs exact Jaccard):
# how much of the TRUE near-duplicate set does a Hamming-radius cutoff
# on the word-level SimHash capture? Ground truth = the exact-verified
# Jaccard >= CURATION_JACCARD pairs (the dedup drop set); for each
# ground pair the audit reports its SimHash Hamming distance, and the
# cumulative recall per distance is the curve that picks the radius a
# simhash-based deduper would run at.
#
# Scale shape: identical to doc_ngram_jaccard up to the pair set (the
# banded LSH join is the only corpus-scale work, hot bands guarded);
# the SimHash lookups join the PAIRS (tiny by construction) against the
# narrow (doc_id, simhash) projection; the rollup and its cumulative
# window are bounded by SIMHASH_BITS + 1 rows.
# --------------------------------------------------------------------------

def q_simhash_recall_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _docs(spark, sf_dir)
    sh = (docs.selectExpr("doc_id", "text", f"{WORDS} AS _ws")
          .selectExpr("doc_id", f"array_distinct({_SHINGLES_WS}) AS sh"))
    bands = band_guard(
        minhash_signatures(docs).selectExpr("doc_id", BANDS_EXPR)).cache()
    cand = (
        band_pairs(bands)
        .select("d1", "d2")
        .dropDuplicates(["d1", "d2"]))
    jac = ("floor(size(array_intersect(sh1, sh2)) / cast(size(sh1) "
           "+ size(sh2) - size(array_intersect(sh1, sh2)) as double) "
           "* 10000 + 0.5) / 10000")
    ground = (
        cand.join(sh.select(F.col("doc_id").alias("d1"),
                            F.col("sh").alias("sh1")), "d1")
        .join(sh.select(F.col("doc_id").alias("d2"),
                        F.col("sh").alias("sh2")), "d2")
        .selectExpr("d1", "d2", f"{jac} AS _j")
        .filter(F.col("_j") >= CURATION_JACCARD)
        .select("d1", "d2"))
    sim = q_doc_simhash(spark, sf_dir)
    hams = (ground
            .join(sim.selectExpr("doc_id AS d1", "simhash AS h1"), "d1")
            .join(sim.selectExpr("doc_id AS d2", "simhash AS h2"), "d2")
            .selectExpr("cast(bit_count(h1 ^ h2) as bigint) AS hamming"))
    wc = (Window.orderBy("hamming")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    wt = Window.rowsBetween(Window.unboundedPreceding,
                            Window.unboundedFollowing)
    return (hams.groupBy("hamming")
            .agg(F.count(F.lit(1)).cast("long").alias("pares"))
            .withColumn("pares_acum", F.sum("pares").over(wc).cast("long"))
            .withColumn("_total", F.sum("pares").over(wt))
            .select("hamming", "pares", "pares_acum",
                    r6(F.col("pares_acum") / F.col("_total"))
                    .alias("recall_acum"))
            .orderBy("hamming"))


SQL_SIMHASH_RECALL_AUDIT = f"""
WITH sh AS MATERIALIZED (
  SELECT doc_id, list_distinct({SQL_SHINGLES}) AS sh FROM documents
), hs AS (
  SELECT doc_id, list_transform({SQL_SHINGLES}, s -> {_sql_h('s')}) AS hs
  FROM documents
), sigs AS (
  SELECT doc_id, {SQL_SIGS} AS sigs FROM hs
), {SQL_BANDS_CTE}, cand AS (
  SELECT DISTINCT l.doc_id AS d1, r.doc_id AS d2
  FROM bands l JOIN bands r ON l.banda = r.banda AND l.doc_id < r.doc_id
), ground AS (
  SELECT d1, d2
  FROM cand JOIN sh l ON l.doc_id = cand.d1
            JOIN sh r ON r.doc_id = cand.d2
  WHERE floor(len(list_intersect(l.sh, r.sh))::DOUBLE
              / (len(l.sh) + len(r.sh)
                 - len(list_intersect(l.sh, r.sh)))::DOUBLE
              * 10000 + 0.5) / 10000 >= {CURATION_JACCARD}
), whs AS (
  SELECT doc_id, list_transform({SQL_WORDS}, w -> {_sql_h('w')}) AS whs
  FROM documents
), sim AS MATERIALIZED (
  SELECT doc_id,
         list_sum(list_transform(range(0, {SIMHASH_BITS}), b ->
           CASE WHEN list_sum(list_transform(whs, h ->
                  CASE WHEN (h >> b) & 1 = 1 THEN 1 ELSE -1 END)) > 0
                THEN (1::BIGINT << b) ELSE 0 END))::BIGINT AS simhash
  FROM whs
), hams AS (
  SELECT bit_count(xor(a.simhash, b.simhash))::BIGINT AS hamming
  FROM ground JOIN sim a ON a.doc_id = ground.d1
              JOIN sim b ON b.doc_id = ground.d2
), hist AS (
  SELECT hamming, count(*)::BIGINT AS pares FROM hams GROUP BY hamming
)
SELECT hamming, pares,
       sum(pares) OVER (ORDER BY hamming ROWS UNBOUNDED PRECEDING)::BIGINT
         AS pares_acum,
       floor(sum(pares) OVER (ORDER BY hamming ROWS UNBOUNDED PRECEDING)
             ::DOUBLE / (sum(pares) OVER ())::DOUBLE * 1000000 + 0.5)
         / 1000000 AS recall_acum
FROM hist ORDER BY hamming
"""

register("simhash_recall_audit", q_simhash_recall_audit,
         SQL_SIMHASH_RECALL_AUDIT)


# --------------------------------------------------------------------------
# corpus_dedup_funnel — the curation pipeline's retention funnel: doc and
# token counts surviving each dedup/quality stage IN SEQUENCE (base →
# exact content dedup → normalization-equivalence dedup → MinHash
# near-dup removal → quality gate). The report every corpus run ships
# with: where the tokens went. Stages reuse the registered operators'
# exact semantics (first occurrence = min doc_id; near-dup losers = d2
# of banded pairs with r4 Jaccard-estimate >= CURATION_JACCARD over the
# CURRENT survivors; quality = the shared composite >= 0.55). Clones are
# synthesized (re-keyed exact copies of doc_id < 40, uppercased copies
# of 40 <= doc_id < 70) so every stage demonstrably drops rows on the
# synthetic corpus — the established doc_exact_dedup pattern.
#
# Scale: each dedup stage is one hash-keyed window (digest or band key,
# corpus-cardinality, map-side-combinable); the near-dup stage is the
# guarded band self-join (never all-pairs); the five stage rollups are
# bounded single-row aggregates (the legitimate SinglePartition class).
# --------------------------------------------------------------------------

def q_corpus_dedup_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    base = _docs(spark, sf_dir).select("doc_id", "text")
    clones_exact = (base.filter(F.col("doc_id") < 40)
                    .withColumn("doc_id", F.col("doc_id") + 1000000))
    clones_norm = (base.filter((F.col("doc_id") >= 40)
                               & (F.col("doc_id") < 70))
                   .withColumn("doc_id", F.col("doc_id") + 2000000)
                   .withColumn("text", F.upper("text")))
    s1 = (base.unionByName(clones_exact).unionByName(clones_norm)
          .selectExpr("doc_id", "text",
                      f"cast(size({WORDS}) as bigint) AS _toks"))
    # Stage survivorship as FLAGS on one cached frame instead of a chain
    # of filtered frames: the five rollup union arms share no mid-plan
    # results, so the s1 and s2 arms re-ran the tokenize pass and the
    # exact-dedup window (r10 alternating A/B min-of-4: 4.55 s -> 3.66 s,
    # 0.80x). _in2 == "kept by exact dedup"; _in3 additionally gates the
    # norm window's min on _in2 rows (min(when(_in2, doc_id)) over the
    # norm partition equals the sequential two-stage filter because
    # doc_id is unique). The cache is the same cost class as the s3
    # cache it replaces (same columns, plus the ~7% synthetic clones).
    w_exact = Window.partitionBy(F.md5("text"))
    w_norm = Window.partitionBy(F.md5(F.expr(_NORM)))
    flagged = (
        s1.withColumn("_in2", F.col("doc_id") == F.min("doc_id").over(w_exact))
        .withColumn("_in3", F.col("doc_id") == F.min(
            F.when(F.col("_in2"), F.col("doc_id"))).over(w_norm))
        .cache())
    s2 = flagged.filter("_in2").drop("_in2", "_in3")
    s3 = flagged.filter("_in3").drop("_in2", "_in3")
    sigs = minhash_signatures(s3).cache()
    bands = band_guard(sigs.selectExpr("doc_id", "sigs", BANDS_EXPR))
    losers = (band_pairs(bands)
              .select("d2", r4(F.expr(JACCARD_EST)).alias("_est"))
              .filter(F.col("_est") >= CURATION_JACCARD)
              .select(F.col("d2").alias("doc_id")).distinct())
    # narrow the s4 cache to per-doc scalars (ADVICE-r10): the quality
    # projection is computed INTO the cache so neither s4 consumer (the
    # stage-4 rollup, the stage-5 gate) pins the text column in memory
    s4 = (s3.join(losers, "doc_id", "left_anti")
          .selectExpr("doc_id", "_toks", *_QUALITY_COLS).cache())
    score = _quality_score()
    s5 = s4.filter(r4(score) >= CURATION_MIN_QUALITY)

    def rollup(df: DataFrame, etapa: str) -> DataFrame:
        return df.agg(
            F.lit(etapa).alias("etapa"),
            F.count(F.lit(1)).cast("long").alias("docs"),
            F.coalesce(F.sum("_toks"), F.lit(0)).cast("long")
            .alias("tokens"))

    return (rollup(flagged, "1_base")
            .unionByName(rollup(s2, "2_exacto"))
            .unionByName(rollup(s3, "3_normalizado"))
            .unionByName(rollup(s4, "4_near_dup"))
            .unionByName(rollup(s5, "5_calidad"))
            .select("etapa", "docs", "tokens")
            .orderBy("etapa"))


SQL_CORPUS_DEDUP_FUNNEL = f"""
WITH s1 AS (
  SELECT doc_id, text, len({SQL_WORDS})::BIGINT AS _toks FROM documents
  UNION ALL
  SELECT doc_id + 1000000, text, len({SQL_WORDS})::BIGINT FROM documents
  WHERE doc_id < 40
  UNION ALL
  SELECT doc_id + 2000000, upper(text), len({SQL_WORDS})::BIGINT
  FROM documents WHERE doc_id >= 40 AND doc_id < 70
), s2 AS (
  SELECT doc_id, text, _toks FROM (
    SELECT *, min(doc_id) OVER (PARTITION BY md5(text)) AS _m FROM s1)
  WHERE doc_id = _m
), s3 AS (
  SELECT doc_id, text, _toks FROM (
    SELECT *, min(doc_id) OVER (PARTITION BY md5({_SQL_NORM})) AS _m
    FROM s2)
  WHERE doc_id = _m
), hs AS (
  SELECT doc_id, list_transform({SQL_SHINGLES}, s -> {_sql_h('s')}) AS hs
  FROM s3
), sigs AS (
  SELECT doc_id, {SQL_SIGS} AS sigs FROM hs
), {SQL_BANDS_CTE}, losers AS (
  SELECT DISTINCT d2 AS doc_id FROM (
    SELECT l.doc_id AS d1, r.doc_id AS d2, l.sigs AS sl, r.sigs AS sr
    FROM bands l JOIN bands r ON l.banda = r.banda AND l.doc_id < r.doc_id)
  WHERE floor(list_sum(list_transform(range(0, {MINHASH_K}),
                       i -> CASE WHEN sl[i+1] = sr[i+1] THEN 1 ELSE 0 END))
              / {MINHASH_K}.0 * 10000 + 0.5) / 10000 >= {CURATION_JACCARD}
), s4 AS (
  SELECT * FROM s3 WHERE doc_id NOT IN (SELECT doc_id FROM losers)
), s5 AS (
  SELECT doc_id, _toks FROM (
    SELECT doc_id, _toks,
           floor((least(strlen(text)::DOUBLE / 400, 1.0) * 0.4
                  + (len(list_distinct({SQL_WORDS}))::DOUBLE
                     / len({SQL_WORDS})::DOUBLE) * 0.4
                  + (1 - abs(len(list_filter({SQL_WORDS},
                             w -> w IN ({_STOPWORDS})))::DOUBLE
                             / len({SQL_WORDS})::DOUBLE - 0.2)) * 0.2)
                 * 10000 + 0.5) / 10000 AS calidad
    FROM s4
  ) WHERE calidad >= {CURATION_MIN_QUALITY}
)
SELECT etapa, docs, tokens FROM (
  SELECT '1_base' AS etapa, count(*)::BIGINT AS docs,
         coalesce(sum(_toks), 0)::BIGINT AS tokens FROM s1
  UNION ALL
  SELECT '2_exacto', count(*)::BIGINT, coalesce(sum(_toks), 0)::BIGINT
  FROM s2
  UNION ALL
  SELECT '3_normalizado', count(*)::BIGINT, coalesce(sum(_toks), 0)::BIGINT
  FROM s3
  UNION ALL
  SELECT '4_near_dup', count(*)::BIGINT, coalesce(sum(_toks), 0)::BIGINT
  FROM s4
  UNION ALL
  SELECT '5_calidad', count(*)::BIGINT, coalesce(sum(_toks), 0)::BIGINT
  FROM s5
) ORDER BY etapa
"""

register("corpus_dedup_funnel", q_corpus_dedup_funnel,
         SQL_CORPUS_DEDUP_FUNNEL)
