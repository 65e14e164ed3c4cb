"""Corpus-preparation operators for LLM training pipelines: benchmark
decontamination, PII scrubbing, token-budget sequence packing, and
per-source TF-IDF terms.

These extend the reference's text surface (the reference is a business
reporting engine; SURVEY §2 has no corpus ops) with the remaining
operations a 100 TB pretraining-data pipeline runs between raw scrape and
tokenizer:

- decontamination: drop documents sharing any K-word n-gram with a held
  benchmark set (the standard train/test-overlap guard). The benchmark
  n-gram set is small by construction (eval sets are thousands of docs,
  not billions) → broadcast semi-join; the corpus never shuffles.
- PII scrub: detect/redact emails and phone numbers with JVM-side regex —
  per-row, embarrassingly parallel, no shuffle until the final per-source
  rollup.
- sequence packing: concatenate each source's docs in deterministic order
  and chop into fixed token blocks (the concat-and-chunk packing used for
  pretraining batches). One window cumsum per source partition.
- TF-IDF: the explode→aggregate wordcount shape with partial aggregation,
  then a tiny per-source top-k window.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.functions import broadcast

from ..operators.rounding import r4, r6
from ..sources import load_table
from . import register
from .text import SQL_WORDS, WORDS


def _docs(spark: SparkSession, sf_dir: str,
          parallelize: bool = False) -> DataFrame:
    return load_table(spark, sf_dir, "documents", parallelize=parallelize)


# --------------------------------------------------------------------------
# doc_decontaminate — benchmark n-gram overlap removal. A document is
# contaminated if it shares any DECON_K-word n-gram with the benchmark
# set (here: doc_id % BENCH_MOD == 0, a deterministic stand-in for a held
# eval set). 4-word grams on this corpus flag ~1.6% of docs — the
# realistic operating point; real deployments use 8-13 word grams.
# --------------------------------------------------------------------------

DECON_K = 4
BENCH_MOD = 97

_KGRAM_TERMS = ", ".join(f"element_at(_ws, i+{j})" for j in range(1, DECON_K + 1))
_KGRAMS = (
    f"CASE WHEN size(_ws) >= {DECON_K} THEN "
    f"transform(sequence(0, size(_ws) - {DECON_K}), "
    f"i -> concat_ws(' ', {_KGRAM_TERMS})) "
    f"ELSE array(trim(text)) END"
)
_SQL_KGRAM_TERMS = ", ".join(f"w[i+{j}]" for j in range(1, DECON_K + 1))
_SQL_KGRAMS = (
    f"CASE WHEN len(w) >= {DECON_K} THEN "
    f"list_transform(range(0, len(w) - {DECON_K - 1}), "
    f"i -> concat_ws(' ', {_SQL_KGRAM_TERMS})) "
    f"ELSE [trim(text)] END"
)


def q_doc_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _docs(spark, sf_dir)
    grams = (
        docs.selectExpr("doc_id", "source", "text", f"{WORDS} AS _ws")
        .selectExpr("doc_id", "source", f"explode({_KGRAMS}) AS grama"))
    bench = (grams.filter(F.col("doc_id") % BENCH_MOD == 0)
             .select("grama").distinct())
    corpus_grams = grams.filter(F.col("doc_id") % BENCH_MOD != 0)
    contaminated = (corpus_grams.join(broadcast(bench), "grama")
                    .select("doc_id").distinct())
    corpus = docs.filter(F.col("doc_id") % BENCH_MOD != 0)
    flagged = corpus.join(contaminated.withColumn("_c", F.lit(1)),
                          "doc_id", "left")
    return (
        flagged.groupBy("source")
        .agg(F.count(F.lit(1)).cast("long").alias("docs_total"),
             F.sum(F.coalesce("_c", F.lit(0))).cast("long")
             .alias("docs_contaminados"),
             F.sum(1 - F.coalesce("_c", F.lit(0))).cast("long")
             .alias("docs_conservados"))
        .orderBy("source")
    )


SQL_DOC_DECONTAMINATE = f"""
WITH ws AS (
  SELECT doc_id, source, text, str_split_regex(trim(text), '\\s+') AS w
  FROM documents
), grams AS (
  SELECT doc_id, source, unnest({_SQL_KGRAMS}) AS grama FROM ws
), bench AS (
  SELECT DISTINCT grama FROM grams WHERE doc_id % {BENCH_MOD} = 0
), cont AS (
  SELECT DISTINCT g.doc_id FROM grams g JOIN bench b ON g.grama = b.grama
  WHERE g.doc_id % {BENCH_MOD} <> 0
)
SELECT d.source,
       count(*)::BIGINT AS docs_total,
       sum(CASE WHEN c.doc_id IS NULL THEN 0 ELSE 1 END)::BIGINT
         AS docs_contaminados,
       sum(CASE WHEN c.doc_id IS NULL THEN 1 ELSE 0 END)::BIGINT
         AS docs_conservados
FROM documents d LEFT JOIN cont c ON d.doc_id = c.doc_id
WHERE d.doc_id % {BENCH_MOD} <> 0
GROUP BY d.source ORDER BY d.source
"""

register("doc_decontaminate", q_doc_decontaminate, SQL_DOC_DECONTAMINATE)


# --------------------------------------------------------------------------
# doc_eval_contamination — the EVAL-side contamination audit, the dual of
# doc_decontaminate's train-side gate: for each held-out eval document,
# what fraction of its DISTINCT DECON_K-grams also appears anywhere in the
# train corpus? This is the "dirty eval" analysis LLM reports publish
# (per-example overlap percentiles, clean/dirty split) — it answers
# "which of MY benchmark examples are compromised, and how badly", where
# doc_decontaminate only answers "how many train docs must go".
#
# Eval slice: doc_id % EVAL_MOD == 0 AND doc_id < EVAL_MAX_ID — the fixed
# bounded-slice discipline (EMB_DECON/MM_DECON/PH_AUDIT): at most
# EVAL_MAX_ID/EVAL_MOD (~182) eval docs at ANY corpus scale, so the eval
# gram set is broadcastable forever.
#
# Scale shape: the only corpus-sized work is the irreducible gram-explode
# scan of the train side; it is filtered MAP-SIDE by a left-semi
# broadcast of the eval vocabulary, so the sole post-scan exchange
# carries only grams that occur in the eval set (bounded by |eval
# grams|, corpus-independent), then a bounded distinct and a
# bounded-x-bounded join back to the per-doc gram list. No corpus-sized
# shuffle anywhere.
#
# Determinism: fractions are exact BIGINT millionths ((1e6*matched) div
# total — the doc_dedup_weights idiom) and the dirtiness bucket is exact
# integer arithmetic ((10*matched) div total), so no float aggregate or
# decision boundary exists on either engine; media_frac_ppm is the floor
# integer mean (exact BIGINT sum div count). Fractions are over DISTINCT
# grams per doc, the standard contamination-analysis convention.
# --------------------------------------------------------------------------

EVAL_MOD = 11
EVAL_MAX_ID = 2000


def _is_eval_doc():
    return (F.col("doc_id") % EVAL_MOD == 0) & (F.col("doc_id") < EVAL_MAX_ID)


def eval_slice_grams(docs: DataFrame) -> DataFrame:
    """Distinct ``(eval_doc, grama)`` pairs of the fixed eval slice —
    the bounded static side shared by the batch audit and its streaming
    twin (``streaming/corpus.py stream_eval_contamination``)."""
    return (docs.filter(_is_eval_doc())
            .selectExpr("doc_id", "text", f"{WORDS} AS _ws")
            .selectExpr("doc_id AS eval_doc", f"explode({_KGRAMS}) AS grama")
            .distinct())


def train_grams(docs: DataFrame) -> DataFrame:
    """Exploded (non-distinct) grams of every NON-eval document. Works
    on a batch or streaming frame alike — dedup is the caller's stage
    (broadcast-semi + distinct in the batch plan; per-eval-doc
    matched-set state in the streaming twin)."""
    return (docs.filter(~_is_eval_doc())
            .selectExpr("text", f"{WORDS} AS _ws")
            .selectExpr(f"explode({_KGRAMS}) AS grama"))


def eval_contamination_per_doc(docs: DataFrame) -> DataFrame:
    """``(eval_doc, total, matched)`` per eval document — the audit's
    numerator/denominator layer, shared with the streaming-twin
    equality test."""
    eval_grams = eval_slice_grams(docs)
    eval_vocab = eval_grams.select("grama").distinct()
    train_hits = (train_grams(docs)
                  .join(broadcast(eval_vocab), "grama", "left_semi")
                  .select("grama").distinct())  # bounded by |eval vocab|
    return (
        # broadcast() pinned explicitly: train_hits is bounded by the eval
        # vocabulary, but without the hint the broadcast depends on size
        # estimation/AQE and flips to a shuffle join under
        # autoBroadcastJoinThreshold=-1 sweeps (ADVICE-r8)
        eval_grams.join(
            broadcast(train_hits.withColumn("_m", F.lit(1))), "grama", "left")
        .groupBy("eval_doc")
        .agg(F.count(F.lit(1)).cast("long").alias("total"),
             F.sum(F.coalesce("_m", F.lit(0))).cast("long").alias("matched")))


def q_doc_eval_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        eval_contamination_per_doc(_docs(spark, sf_dir))
        .withColumn("bucket", F.expr("(10 * matched) div total"))
        .withColumn("frac_ppm", F.expr("(1000000 * matched) div total"))
        .groupBy("bucket")
        .agg(F.count(F.lit(1)).cast("long").alias("n_docs"),
             F.expr("sum(frac_ppm) div count(1)").cast("long")
             .alias("media_frac_ppm"),
             F.max("frac_ppm").cast("long").alias("max_frac_ppm"))
        .orderBy("bucket")
    )


SQL_DOC_EVAL_CONTAMINATION = f"""
WITH ws AS (
  SELECT doc_id, str_split_regex(trim(text), '\\s+') AS w, text
  FROM documents
), grams AS (
  SELECT doc_id, unnest({_SQL_KGRAMS}) AS grama FROM ws
), eval_g AS (
  SELECT DISTINCT doc_id, grama FROM grams
  WHERE doc_id % {EVAL_MOD} = 0 AND doc_id < {EVAL_MAX_ID}
), train_g AS (
  SELECT DISTINCT grama FROM grams
  WHERE NOT (doc_id % {EVAL_MOD} = 0 AND doc_id < {EVAL_MAX_ID})
), per_doc AS (
  SELECT e.doc_id, count(*) AS total,
         sum(CASE WHEN t.grama IS NULL THEN 0 ELSE 1 END) AS matched
  FROM eval_g e LEFT JOIN train_g t USING (grama)
  GROUP BY e.doc_id
)
SELECT ((10 * matched) // total)::BIGINT AS bucket,
       count(*)::BIGINT AS n_docs,
       (sum((1000000 * matched) // total) // count(*))::BIGINT
         AS media_frac_ppm,
       max((1000000 * matched) // total)::BIGINT AS max_frac_ppm
FROM per_doc GROUP BY bucket ORDER BY bucket
"""

register("doc_eval_contamination", q_doc_eval_contamination,
         SQL_DOC_EVAL_CONTAMINATION)


# --------------------------------------------------------------------------
# doc_pii_scrub — PII detection + redaction statistics. The synthetic
# corpus carries no PII, so it is injected deterministically first (every
# 7th doc an email, every 11th a phone number) — the same
# synthesize-then-verify pattern as doc_exact_dedup. Detection and
# redaction are JVM regex per row; both engines run the identical
# pattern (Java regex and RE2 agree on this subset).
# --------------------------------------------------------------------------

# one regex, two embeddings: Spark SQL string literals consume one level
# of backslash escaping, DuckDB standard strings do not
_EMAIL_RE = "[a-z0-9._]+@[a-z0-9.-]+\\.[a-z]{2,4}"
_PHONE_RE = "\\+[0-9]{2}-[0-9]{3}-[0-9]{4}"
_EMAIL_RE_SPARK = _EMAIL_RE.replace("\\", "\\\\")
_PHONE_RE_SPARK = _PHONE_RE.replace("\\", "\\\\")


def q_doc_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _docs(spark, sf_dir)
    with_pii = docs.selectExpr(
        "doc_id", "source",
        "CASE WHEN doc_id % 7 = 0 THEN concat(text, ' contacto: user', doc_id,"
        " '@example.com') ELSE text END AS text")
    with_pii = with_pii.selectExpr(
        "doc_id", "source",
        "CASE WHEN doc_id % 11 = 0 THEN concat(text, ' tel: +52-555-',"
        " lpad(cast(doc_id % 10000 as string), 4, '0')) ELSE text END AS text")
    scrubbed = with_pii.selectExpr(
        "doc_id", "source", "text",
        f"regexp_count(text, '{_EMAIL_RE_SPARK}') AS n_emails",
        f"regexp_count(text, '{_PHONE_RE_SPARK}') AS n_tels",
        f"regexp_replace(regexp_replace(text, '{_EMAIL_RE_SPARK}', '[EMAIL]'),"
        f" '{_PHONE_RE_SPARK}', '[TEL]') AS limpio")
    return (
        scrubbed.groupBy("source")
        .agg(F.sum("n_emails").cast("long").alias("emails"),
             F.sum("n_tels").cast("long").alias("telefonos"),
             F.sum(((F.col("n_emails") + F.col("n_tels")) > 0).cast("int"))
             .cast("long").alias("docs_con_pii"),
             F.sum(F.length("text") - F.length("limpio")).cast("long")
             .alias("chars_redactados"))
        .orderBy("source")
    )


SQL_DOC_PII_SCRUB = f"""
WITH pii AS (
  SELECT doc_id, source,
         CASE WHEN doc_id % 11 = 0 THEN concat(t1, ' tel: +52-555-',
              lpad((doc_id % 10000)::VARCHAR, 4, '0')) ELSE t1 END AS text
  FROM (
    SELECT doc_id, source,
           CASE WHEN doc_id % 7 = 0 THEN concat(text, ' contacto: user',
                doc_id, '@example.com') ELSE text END AS t1
    FROM documents)
), scrubbed AS (
  SELECT source,
         len(regexp_extract_all(text, '{_EMAIL_RE}')) AS n_emails,
         len(regexp_extract_all(text, '{_PHONE_RE}')) AS n_tels,
         len(text) - len(regexp_replace(regexp_replace(text, '{_EMAIL_RE}',
             '[EMAIL]', 'g'), '{_PHONE_RE}', '[TEL]', 'g')) AS redactado
  FROM pii
)
SELECT source, sum(n_emails)::BIGINT AS emails,
       sum(n_tels)::BIGINT AS telefonos,
       sum(CASE WHEN n_emails + n_tels > 0 THEN 1 ELSE 0 END)::BIGINT
         AS docs_con_pii,
       sum(redactado)::BIGINT AS chars_redactados
FROM scrubbed GROUP BY source ORDER BY source
"""

register("doc_pii_scrub", q_doc_pii_scrub, SQL_DOC_PII_SCRUB)


# --------------------------------------------------------------------------
# doc_pack_sequences — concat-and-chunk sequence packing: each source's
# documents are concatenated in doc_id order and chopped into fixed
# BLOCK_TOKENS blocks (how pretraining batches are formed). A document
# whose token span crosses a block boundary is "cut". One cumsum window
# per source; sources pack in parallel, and at 100 TB the same cumsum
# runs per (source, shard) with shard offsets added in a second tiny
# pass.
# --------------------------------------------------------------------------

BLOCK_TOKENS = 512


def q_doc_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _docs(spark, sf_dir)
    toks = docs.selectExpr(
        "doc_id", "source", f"cast(size({WORDS}) as bigint) AS toks")
    w = (Window.partitionBy("source").orderBy("doc_id")
         .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    spanned = (
        toks.withColumn("_cum", F.sum("toks").over(w))
        .selectExpr("source", "toks", "_cum",
                    f"cast((_cum - toks) div {BLOCK_TOKENS} as bigint)"
                    " AS _b_ini",
                    f"cast((_cum - 1) div {BLOCK_TOKENS} as bigint) AS _b_fin"))
    return (
        spanned.groupBy("source")
        .agg(F.max("_cum").cast("long").alias("tokens_total"),
             ((F.max("_cum") + BLOCK_TOKENS - 1) / BLOCK_TOKENS)
             .cast("long").alias("n_bloques"),
             F.sum((F.col("_b_ini") != F.col("_b_fin")).cast("int"))
             .cast("long").alias("docs_cortados"))
        .orderBy("source")
    )


SQL_DOC_PACK_SEQUENCES = f"""
WITH toks AS (
  SELECT doc_id, source, len({SQL_WORDS})::BIGINT AS toks FROM documents
), spanned AS (
  SELECT source, toks,
         sum(toks) OVER (PARTITION BY source ORDER BY doc_id
                         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS _cum
  FROM toks
)
SELECT source, max(_cum)::BIGINT AS tokens_total,
       ((max(_cum) + {BLOCK_TOKENS - 1}) // {BLOCK_TOKENS})::BIGINT
         AS n_bloques,
       sum(CASE WHEN (_cum - toks) // {BLOCK_TOKENS}
                  <> (_cum - 1) // {BLOCK_TOKENS} THEN 1 ELSE 0 END)::BIGINT
         AS docs_cortados
FROM spanned GROUP BY source ORDER BY source
"""

register("doc_pack_sequences", q_doc_pack_sequences, SQL_DOC_PACK_SEQUENCES)


# --------------------------------------------------------------------------
# tfidf_top_terms — per-source characteristic terms. tf = term count in
# the source (all its docs as one pseudo-document); df = number of
# sources containing the term; score = tf * n_sources / df (the rational
# idf variant — same ranking as log-idf, but exactly reproducible across
# engines: no transcendental in the checked output). Shape: explode →
# partially-aggregated wordcount (the canonical one-shuffle pattern),
# a tiny df aggregate joined back, top-k per source by window.
# --------------------------------------------------------------------------

TFIDF_TOP = 3


def q_tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _docs(spark, sf_dir)
    words = (docs.selectExpr("source", f"explode({WORDS}) AS termino")
             .filter(F.col("termino") != ""))
    tf = (words.groupBy("source", "termino")
          .agg(F.count(F.lit(1)).cast("long").alias("tf")))
    df = (tf.groupBy("termino")
          .agg(F.count(F.lit(1)).cast("long").alias("df")))
    n_sources = docs.select("source").distinct().count()
    scored = (tf.join(broadcast(df), "termino")
              .withColumn("puntaje",
                          r4(F.col("tf") * F.lit(float(n_sources))
                             / F.col("df"))))
    w = (Window.partitionBy("source")
         .orderBy(F.col("puntaje").desc(), F.col("termino").asc()))
    return (
        scored.withColumn("rango", F.row_number().over(w).cast("long"))
        .filter(F.col("rango") <= TFIDF_TOP)
        .select("source", "rango", "termino", "tf", "df", "puntaje")
        .orderBy("source", "rango")
    )


SQL_TFIDF_TOP_TERMS = f"""
WITH words AS (
  SELECT source, unnest({SQL_WORDS}) AS termino FROM documents
), tf AS (
  SELECT source, termino, count(*)::BIGINT AS tf
  FROM words WHERE termino <> '' GROUP BY source, termino
), df AS (
  SELECT termino, count(*)::BIGINT AS df FROM tf GROUP BY termino
), n AS (
  SELECT count(DISTINCT source) AS n_sources FROM documents
), scored AS (
  SELECT t.source, t.termino, t.tf, d.df,
         floor((t.tf * n.n_sources / d.df) * 10000 + 0.5) / 10000 AS puntaje
  FROM tf t JOIN df d ON t.termino = d.termino CROSS JOIN n
), ranked AS (
  SELECT *, row_number() OVER (PARTITION BY source
             ORDER BY puntaje DESC, termino ASC)::BIGINT AS rango
  FROM scored
)
SELECT source, rango, termino, tf, df, puntaje
FROM ranked WHERE rango <= {TFIDF_TOP} ORDER BY source, rango
"""

register("tfidf_top_terms", q_tfidf_top_terms, SQL_TFIDF_TOP_TERMS)


# --------------------------------------------------------------------------
# doc_repetition — Gopher-style repetition quality signals: the fraction
# of duplicated word 2-grams per document and the share taken by the
# single most frequent 2-gram. Highly repetitive documents (boilerplate,
# generated spam) score high on both.
#
# Plan shape (metrics-driven rewrite): repetition is a PER-DOCUMENT fact,
# so it computes entirely row-side — one fold over the sorted gram array
# yields total/distinct/longest-run in O(g log g) per doc — and the only
# shuffle is the 5-row per-source rollup. The previous explode →
# groupBy(doc, gram) shape shuffled every bigram occurrence (measured
# 9.5x the scan volume in docs/METRICS.md — the table this rewrite
# validates); the oracle keeps the unnest/groupBy form, which is the
# *definition*, not the plan.
# --------------------------------------------------------------------------

REP_DUP_THRESHOLD = 0.6   # flag: >60% of 2-gram occurrences are repeats
REP_TOP_THRESHOLD = 0.2   # flag: one 2-gram is >20% of all occurrences

_BIGRAMS = (
    "CASE WHEN size(_ws) >= 2 THEN "
    "transform(sequence(0, size(_ws) - 2), "
    "i -> concat_ws(' ', element_at(_ws, i+1), element_at(_ws, i+2))) "
    "ELSE array(trim(text)) END"
)
_SQL_BIGRAMS = (
    "CASE WHEN len(w) >= 2 THEN "
    "list_transform(range(0, len(w) - 1), "
    "i -> concat_ws(' ', w[i+1], w[i+2])) "
    "ELSE [trim(text)] END"
)


_GRAM_FOLD = (
    "aggregate(array_sort(_gs), "
    "struct(cast(null as string) AS prev, 0L AS run, 0L AS best, 0L AS dis), "
    "(acc, x) -> struct(x AS prev, "
    "IF(x = acc.prev, acc.run + 1, 1L) AS run, "
    "greatest(acc.best, IF(x = acc.prev, acc.run + 1, 1L)) AS best, "
    "acc.dis + IF(x = acc.prev, 0L, 1L) AS dis), "
    "acc -> struct(acc.best AS best, acc.dis AS dis))")


def q_doc_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _docs(spark, sf_dir)
    per_doc = (
        docs.selectExpr("doc_id", "source", "text", f"{WORDS} AS _ws")
        .selectExpr("doc_id", "source", f"{_BIGRAMS} AS _gs")
        .selectExpr("doc_id", "source",
                    "cast(size(_gs) AS long) AS _total",
                    f"{_GRAM_FOLD} AS _st")
        .selectExpr("doc_id", "source", "_total",
                    "_st.dis AS _distintos", "_st.best AS _max"))
    flagged = per_doc.select(
        "source",
        (1 - F.col("_distintos") / F.col("_total")).alias("_dup_ratio"),
        (F.col("_max") / F.col("_total")).alias("_top_ratio"))
    return (
        flagged.groupBy("source")
        .agg(F.count(F.lit(1)).cast("long").alias("docs_total"),
             F.sum(((F.col("_dup_ratio") > REP_DUP_THRESHOLD)
                    | (F.col("_top_ratio") > REP_TOP_THRESHOLD)).cast("int"))
             .cast("long").alias("docs_repetitivos"),
             r4(F.avg("_dup_ratio")).alias("dup_ratio_medio"),
             r4(F.avg("_top_ratio")).alias("top_ratio_medio"))
        .orderBy("source")
    )


SQL_DOC_REPETITION = f"""
WITH ws AS (
  SELECT doc_id, source, text, str_split_regex(trim(text), '\\s+') AS w
  FROM documents
), grams AS (
  SELECT doc_id, source, unnest({_SQL_BIGRAMS}) AS grama FROM ws
), per_gram AS (
  SELECT doc_id, source, grama, count(*) AS _n
  FROM grams GROUP BY doc_id, source, grama
), per_doc AS (
  SELECT doc_id, source, sum(_n) AS _total, count(*) AS _distintos,
         max(_n) AS _max
  FROM per_gram GROUP BY doc_id, source
)
SELECT source, count(*)::BIGINT AS docs_total,
       sum(CASE WHEN 1 - _distintos / _total > {REP_DUP_THRESHOLD}
                  OR _max / _total > {REP_TOP_THRESHOLD}
                THEN 1 ELSE 0 END)::BIGINT AS docs_repetitivos,
       floor(avg(1 - _distintos / _total) * 10000 + 0.5) / 10000
         AS dup_ratio_medio,
       floor(avg(_max / _total) * 10000 + 0.5) / 10000 AS top_ratio_medio
FROM per_doc GROUP BY source ORDER BY source
"""

register("doc_repetition", q_doc_repetition, SQL_DOC_REPETITION)


# --------------------------------------------------------------------------
# doc_stratified_sample — deterministic stratified sampling: EXACTLY
# ceil(frac * n) documents per source, chosen by md5-hash order (seed-free
# and engine-portable, like doc_sample's hash-threshold variant — but
# with exact per-stratum quotas, which threshold sampling cannot
# guarantee). One window per source partition; at 100 TB the same
# row_number runs per (source, shard) with shard quotas allocated
# proportionally in a first tiny count pass.
# --------------------------------------------------------------------------

SAMPLE_FRAC = 0.1


def q_doc_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _docs(spark, sf_dir)
    h = "md5(cast(doc_id as string))"
    w = (Window.partitionBy("source")
         .orderBy(F.expr(h), F.col("doc_id")))
    n_w = Window.partitionBy("source")
    sampled = (
        docs.select("doc_id", "source")
        .withColumn("_rn", F.row_number().over(w))
        .withColumn("_n", F.count(F.lit(1)).over(n_w))
        .filter(F.col("_rn") <= F.ceil(F.col("_n") * SAMPLE_FRAC)))
    return (
        sampled.groupBy("source")
        .agg(F.count(F.lit(1)).cast("long").alias("muestra"),
             F.min("doc_id").cast("long").alias("min_doc"),
             F.max("doc_id").cast("long").alias("max_doc"))
        .orderBy("source")
    )


SQL_DOC_STRATIFIED_SAMPLE = f"""
WITH ranked AS (
  SELECT doc_id, source,
         row_number() OVER (PARTITION BY source
                            ORDER BY md5(doc_id::VARCHAR), doc_id) AS _rn,
         count(*) OVER (PARTITION BY source) AS _n
  FROM documents
)
SELECT source, count(*)::BIGINT AS muestra,
       min(doc_id)::BIGINT AS min_doc, max(doc_id)::BIGINT AS max_doc
FROM ranked WHERE _rn <= ceil(_n * {SAMPLE_FRAC})
GROUP BY source ORDER BY source
"""

register("doc_stratified_sample", q_doc_stratified_sample,
         SQL_DOC_STRATIFIED_SAMPLE)


# --------------------------------------------------------------------------
# vocab_top_terms — tokenizer-prep vocabulary build: corpus-wide term
# frequency, document frequency, and cumulative corpus coverage of the
# top-V terms (the coverage curve is how a vocab size V is chosen).
# Shape: the canonical explode → partially-aggregated wordcount (one
# shuffle over term keys), then a DISTRIBUTED top-k (orderBy+limit plans
# as TakeOrdered: per-partition heads merged on the driver — never a
# global sort or an unpartitioned window over the full vocabulary, which
# is millions of terms at corpus scale). Rank and the cumulative coverage
# window run only over the V returned rows; the one-row corpus total
# broadcasts. Zipf skew is absorbed by map-side partial aggregation: hot
# terms combine within each task before the term-key shuffle.
# --------------------------------------------------------------------------

VOCAB_TOP = 30


def q_vocab_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _docs(spark, sf_dir)
    words = (docs.selectExpr("doc_id", f"explode({WORDS}) AS termino")
             .filter(F.col("termino") != ""))
    counts = (words.groupBy("termino")
              .agg(F.count(F.lit(1)).cast("long").alias("frecuencia"),
                   F.countDistinct("doc_id").cast("long").alias("docs")))
    total = counts.agg(F.sum("frecuencia").alias("_total"))
    top = (counts.orderBy(F.col("frecuencia").desc(), F.col("termino").asc())
           .limit(VOCAB_TOP))
    w = Window.orderBy(F.col("frecuencia").desc(), F.col("termino").asc())
    return (
        top.crossJoin(broadcast(total))
        .withColumn("rango", F.row_number().over(w).cast("long"))
        .withColumn("cobertura_acum",
                    r4(F.sum(F.col("frecuencia")).over(
                        w.rowsBetween(Window.unboundedPreceding, 0))
                       / F.col("_total")))
        .select("rango", "termino", "frecuencia", "docs", "cobertura_acum")
        .orderBy("rango")
    )


SQL_VOCAB_TOP_TERMS = f"""
WITH words AS (
  SELECT doc_id, unnest({SQL_WORDS}) AS termino FROM documents
), counts AS (
  SELECT termino, count(*)::BIGINT AS frecuencia,
         count(DISTINCT doc_id)::BIGINT AS docs
  FROM words WHERE termino <> '' GROUP BY termino
), total AS (
  SELECT sum(frecuencia) AS _total FROM counts
), ranked AS (
  SELECT *, row_number() OVER (ORDER BY frecuencia DESC, termino ASC)::BIGINT
            AS rango
  FROM counts CROSS JOIN total
)
SELECT rango, termino, frecuencia, docs,
       floor((sum(frecuencia) OVER (ORDER BY rango
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) / _total)
             * 10000 + 0.5) / 10000 AS cobertura_acum
FROM ranked WHERE rango <= {VOCAB_TOP} ORDER BY rango
"""

register("vocab_top_terms", q_vocab_top_terms, SQL_VOCAB_TOP_TERMS)


# --------------------------------------------------------------------------
# source_mix — training-mixture report: per (source) document/char
# volume, corpus share, and the sqrt-temperature sampling weight the
# mixture would use (sqrt dampening is the standard low-resource upweight;
# rational arithmetic only, so both engines reproduce it bit-for-bit
# after the shared rounding). One tiny aggregate over the corpus (sources
# are low-cardinality) plus a one-row total broadcast.
# --------------------------------------------------------------------------

def q_source_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _docs(spark, sf_dir)
    per_source = (docs.groupBy("source")
                  .agg(F.count(F.lit(1)).cast("long").alias("n_docs"),
                       F.sum("n_chars").cast("long").alias("n_chars"),
                       F.countDistinct("lang").cast("long").alias("idiomas")))
    totals = per_source.agg(
        F.sum("n_chars").alias("_chars"),
        F.sum(F.sqrt(F.col("n_chars"))).alias("_sqrt_sum"))
    return (
        per_source.crossJoin(broadcast(totals))
        .select("source", "n_docs", "n_chars", "idiomas",
                r6(F.col("n_chars") / F.col("_chars")).alias("parte"),
                r6(F.sqrt(F.col("n_chars")) / F.col("_sqrt_sum"))
                .alias("peso_sqrt"))
        .orderBy("source")
    )


SQL_SOURCE_MIX = """
WITH per_source AS (
  SELECT source, count(*)::BIGINT AS n_docs, sum(n_chars)::BIGINT AS n_chars,
         count(DISTINCT lang)::BIGINT AS idiomas
  FROM documents GROUP BY source
), totals AS (
  SELECT sum(n_chars) AS _chars, sum(sqrt(n_chars)) AS _sqrt_sum
  FROM per_source
)
SELECT source, n_docs, n_chars, idiomas,
       floor((n_chars / _chars) * 1000000 + 0.5) / 1000000 AS parte,
       floor((sqrt(n_chars) / _sqrt_sum) * 1000000 + 0.5) / 1000000 AS peso_sqrt
FROM per_source CROSS JOIN totals ORDER BY source
"""

register("source_mix", q_source_mix, SQL_SOURCE_MIX)


# --------------------------------------------------------------------------
# doc_passage_dedup — passage-level exact deduplication: each document is
# chopped into fixed word-window passages (PASSAGE_WORDS words), passages
# are hashed, and a passage is a duplicate when its hash occurs in more
# than one distinct document. Per-doc output: passage count, duplicated
# count, duplicated fraction. This is the sub-document member of the
# dedup family (RefinedWeb/CCNet run the same shape at line granularity;
# the testdata text has no newlines, so the window IS the passage). Plan:
# explode to passage grain (no shuffle), ONE hash-keyed shuffle for the
# cross-doc count — map-side combine collapses within-partition repeats —
# then one doc-keyed rollup. Clones are synthesized (re-keyed copies of
# doc_id < 25, the established pattern) so duplicated passages exist in
# the all-distinct synthetic corpus. At 100 TB the passage-hash shuffle
# carries only (hash, doc_id) pairs, never text.
# --------------------------------------------------------------------------

PASSAGE_WORDS = 20

_PASSAGES = (
    f"transform(sequence(0, cast(ceil(size(_ws) / {PASSAGE_WORDS}.0) as int) - 1), "
    f"i -> concat_ws(' ', slice(_ws, i * {PASSAGE_WORDS} + 1, {PASSAGE_WORDS})))")
_SQL_PASSAGES = (
    f"list_transform(range(0, cast(ceil(len(w) / {PASSAGE_WORDS}.0) as int)), "
    f"i -> concat_ws(' ', list_slice(w, i * {PASSAGE_WORDS} + 1, "
    f"i * {PASSAGE_WORDS} + {PASSAGE_WORDS})))")


def q_doc_passage_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _docs(spark, sf_dir).select("doc_id", "text")
    clones = (docs.filter(F.col("doc_id") < 25)
              .withColumn("doc_id", F.col("doc_id") + 1000000))
    union = docs.unionByName(clones)
    passages = (
        union.selectExpr("doc_id", f"{WORDS} AS _ws")
        .selectExpr("doc_id", f"explode({_PASSAGES}) AS _p")
        .select("doc_id", F.md5("_p").alias("_h")))
    per_hash = (passages.groupBy("_h")
                .agg(F.countDistinct("doc_id").alias("_docs")))
    return (
        passages.join(per_hash, "_h")
        .groupBy(F.col("doc_id").cast("long").alias("doc_id"))
        .agg(F.count(F.lit(1)).cast("long").alias("n_pasajes"),
             F.sum((F.col("_docs") > 1).cast("int")).cast("long")
             .alias("n_duplicados"))
        .withColumn("frac_duplicada",
                    F.expr("floor(n_duplicados / n_pasajes * 10000 + 0.5) "
                           "/ 10000"))
        .orderBy(F.col("frac_duplicada").desc(), F.col("doc_id").asc())
        .limit(80)
    )


SQL_DOC_PASSAGE_DEDUP = f"""
WITH unioned AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + 1000000, text FROM documents WHERE doc_id < 25
), words AS (
  SELECT doc_id, {SQL_WORDS} AS w FROM unioned
), passages AS (
  SELECT doc_id, md5(p) AS h
  FROM words, unnest({_SQL_PASSAGES}) AS t(p)
), per_hash AS (
  SELECT h, count(DISTINCT doc_id) AS n_docs FROM passages GROUP BY h
)
SELECT doc_id::BIGINT AS doc_id,
       count(*)::BIGINT AS n_pasajes,
       sum(CASE WHEN n_docs > 1 THEN 1 ELSE 0 END)::BIGINT AS n_duplicados,
       floor(sum(CASE WHEN n_docs > 1 THEN 1 ELSE 0 END)
             / count(*) * 10000 + 0.5) / 10000 AS frac_duplicada
FROM passages JOIN per_hash USING (h)
GROUP BY doc_id
ORDER BY frac_duplicada DESC, doc_id ASC LIMIT 80
"""

register("doc_passage_dedup", q_doc_passage_dedup, SQL_DOC_PASSAGE_DEDUP)


# --------------------------------------------------------------------------
# doc_train_split — deterministic train/val/test assignment: each document
# hashes (content-keyed, salted) into [0, 1) and the split is a pure
# function of that value — stable across runs, engines, partitionings,
# and corpus growth (a doc never migrates between splits when OTHER docs
# are added/removed, which fraction-based splitting cannot promise; this
# is the leak-proofness property evaluation depends on). Content-keyed
# (not id-keyed) so exact duplicates land in the SAME split and can never
# straddle the train/test boundary. Per-row hash, zero shuffles except
# the per-(source, split) rollup. The md5-prefix hash is the engine's
# established portable-hash convention (queries/text.py _h).
# --------------------------------------------------------------------------

SPLIT_SALT = "split-v1"
SPLIT_VAL = 0.05
SPLIT_TEST = 0.05
_SPLIT_DEN = float(1 << 28)  # 28-bit hash → [0, 1)

_SPLIT_H = ("cast(conv(substring(md5(concat(text, '" + SPLIT_SALT
            + "')), 1, 7), 16, 10) as bigint)")
_SQL_SPLIT_H = ("('0x' || substr(md5(text || '" + SPLIT_SALT
                + "'), 1, 7))::BIGINT")


def q_doc_train_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _docs(spark, sf_dir)
    u = F.expr(_SPLIT_H) / F.lit(_SPLIT_DEN)
    split = (F.when(u < SPLIT_TEST, "test")
             .when(u < SPLIT_TEST + SPLIT_VAL, "val")
             .otherwise("train"))
    return (
        docs.withColumn("division", split)
        .groupBy("source", "division")
        .agg(F.count(F.lit(1)).cast("long").alias("docs"),
             F.sum(F.length("text")).cast("long").alias("chars"))
        .orderBy("source", "division")
    )


SQL_DOC_TRAIN_SPLIT = f"""
WITH assigned AS (
  SELECT source, text,
         CASE WHEN {_SQL_SPLIT_H} / {_SPLIT_DEN} < {SPLIT_TEST} THEN 'test'
              WHEN {_SQL_SPLIT_H} / {_SPLIT_DEN} < {SPLIT_TEST + SPLIT_VAL}
                THEN 'val'
              ELSE 'train' END AS division
  FROM documents
)
SELECT source, division, count(*)::BIGINT AS docs,
       sum(length(text))::BIGINT AS chars
FROM assigned GROUP BY source, division ORDER BY source, division
"""

register("doc_train_split", q_doc_train_split, SQL_DOC_TRAIN_SPLIT)


# --------------------------------------------------------------------------
# shard_manifest — the verification contract of the deterministic
# training-shard writer (sinks/shards.py): per shard, the doc count,
# byte count, and salted content checksum that a written shard set must
# reproduce. Shard assignment is a pure per-row function of content
# (portable md5-prefix hash mod N) — balanced in expectation, no
# coordinator, no sort; the manifest itself is one N-row partial
# aggregate. Registered so the CONTRACT is oracle-pinned: if either
# engine's hash/assignment drifts, this row goes red.
# --------------------------------------------------------------------------

def q_shard_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..sinks.shards import shard_manifest

    return shard_manifest(_docs(spark, sf_dir))


def _sql_shard_manifest() -> str:
    from ..sinks.shards import DEFAULT_N_SHARDS, SQL_CKTERM, SQL_SKEY

    return f"""
SELECT ({SQL_SKEY} % {DEFAULT_N_SHARDS})::INT AS shard,
       count(*)::BIGINT AS docs,
       sum(strlen(text))::BIGINT AS bytes,
       sum({SQL_CKTERM})::BIGINT AS checksum
FROM documents GROUP BY shard ORDER BY shard
"""


register("shard_manifest", q_shard_manifest, _sql_shard_manifest())


# --------------------------------------------------------------------------
# shard_verify — the writer's ON-DISK contract, oracle-pinned: actually
# write the shard set (data + manifest) to scratch, then run the
# loader-side verification (re-aggregate the WRITTEN files, compare to
# the stored manifest). The oracle is the manifest computed straight
# from the documents table plus literal TRUEs — the row goes red if the
# written files drift from the manifest in any way (assignment, order
# spill, lost rows, encoding), not merely if the assignment expression
# drifts (that is shard_manifest's job). The result is localCheckpointed
# so the scratch dir can be reclaimed before the driver reads it.
# --------------------------------------------------------------------------

def q_shard_verify(spark: SparkSession, sf_dir: str) -> DataFrame:
    import shutil
    import tempfile

    from ..sinks.shards import verify_shards, write_training_shards

    scratch = tempfile.mkdtemp(prefix="shard_verify_")
    try:
        write_training_shards(_docs(spark, sf_dir), scratch)
        return (verify_shards(spark, scratch)
                .withColumn("escrito", F.lit(True))
                .localCheckpoint())
    finally:
        shutil.rmtree(scratch, ignore_errors=True)


def _sql_shard_verify() -> str:
    from ..sinks.shards import DEFAULT_N_SHARDS, SQL_CKTERM, SQL_SKEY

    return f"""
SELECT ({SQL_SKEY} % {DEFAULT_N_SHARDS})::INT AS shard,
       count(*)::BIGINT AS docs,
       sum(strlen(text))::BIGINT AS bytes,
       sum({SQL_CKTERM})::BIGINT AS checksum,
       TRUE AS ok, TRUE AS escrito
FROM documents GROUP BY shard ORDER BY shard
"""


register("shard_verify", q_shard_verify, _sql_shard_verify())


# --------------------------------------------------------------------------
# doc_lm_quality — CCNet-style language-model quality filter: train a
# bigram LM on the corpus ITSELF (the standard perplexity-filtering setup
# trains on a trusted corpus; self-training is its degenerate in-engine
# form and exercises the identical plan), then score every document by
# its mean add-1-smoothed bigram probability. Low-probability docs are
# the gibberish/boilerplate candidates a curation pass drops.
#
# Deterministic by construction: P(w|prev) = (c2+1)/(c1+V) is a ratio of
# exact integers — no log/exp (transcendentals round differently per
# libm, the tfidf lesson), one float division per bigram, bit-identical
# on both engines; per-doc/per-source averages are generic doubles far
# from r6 boundaries.
#
# Plan shape (100 TB): two wordcount-class aggregations (bigram counts,
# context counts — map-side partials), the vocabulary scalar as a
# broadcast one-row aggregate, two join-backs keyed by (prev,w)/(prev)
# (AQE skew-join absorbs the "the"-class hot contexts), one doc_id
# rollup. No all-pairs, no windows, no driver loops.
# --------------------------------------------------------------------------

def doc_lm_scores(docs: DataFrame) -> DataFrame:
    """(doc_id, source, _prob) — per-document mean smoothed bigram
    probability under the corpus-trained LM. Shared by the registered
    per-source rollup below and the curation pipeline's LM filter.
    Docs with fewer than two words carry no bigram and are absent."""
    bg = (docs.selectExpr("doc_id", "source", f"{WORDS} AS _ws")
          .filter("size(_ws) >= 2")
          .selectExpr(
              "doc_id", "source",
              "explode(transform(sequence(0, size(_ws) - 2), "
              "i -> struct(element_at(_ws, i+1) AS prev, "
              "element_at(_ws, i+2) AS w))) AS bg")
          .select("doc_id", "source", "bg.prev", "bg.w"))
    c2 = (bg.groupBy("prev", "w")
          .agg(F.count(F.lit(1)).cast("long").alias("_c2")))
    # context counts roll up from the bigram-count table — vocab-sized
    # input, so the corpus is aggregated ONCE, not twice
    c1 = (c2.groupBy("prev")
          .agg(F.sum("_c2").cast("long").alias("_c1")))
    voc = (docs.selectExpr(f"explode({WORDS}) AS w")
           .agg(F.countDistinct("w").cast("long").alias("_v")))
    p = (F.col("_c2") + 1).cast("double") / (F.col("_c1") + F.col("_v"))
    return (bg.join(c2, ["prev", "w"]).join(c1, "prev")
            .crossJoin(F.broadcast(voc))
            .groupBy("doc_id", "source")
            .agg(F.avg(p).alias("_prob")))


def q_doc_lm_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    per_doc = doc_lm_scores(_docs(spark, sf_dir))
    return (per_doc.groupBy("source")
            .agg(F.count(F.lit(1)).cast("long").alias("n_docs"),
                 r6(F.avg("_prob")).alias("media_prob"),
                 r6(F.expr("percentile(_prob, 0.5)")).alias("p50_prob"),
                 r6(F.min("_prob")).alias("min_prob"))
            .orderBy("source"))


SQL_DOC_LM_QUALITY = f"""
WITH ws AS (
  SELECT doc_id, source, {SQL_WORDS} AS ws FROM documents
), bg0 AS (
  SELECT doc_id, source,
         unnest(list_transform(range(1, len(ws)),
                               i -> {{'prev': ws[i], 'w': ws[i + 1]}})) AS bg
  FROM ws WHERE len(ws) >= 2
), bg AS (
  SELECT doc_id, source, bg.prev AS prev, bg.w AS w FROM bg0
), c2 AS (
  SELECT prev, w, count(*)::BIGINT AS c2 FROM bg GROUP BY prev, w
), c1 AS (
  SELECT prev, count(*)::BIGINT AS c1 FROM bg GROUP BY prev
), v AS (
  SELECT count(DISTINCT w)::BIGINT AS v
  FROM (SELECT unnest({SQL_WORDS}) AS w FROM documents)
), per_doc AS (
  SELECT bg.doc_id, bg.source,
         avg((c2.c2 + 1)::DOUBLE / (c1.c1 + v.v)) AS _prob
  FROM bg JOIN c2 USING (prev, w) JOIN c1 USING (prev) CROSS JOIN v
  GROUP BY bg.doc_id, bg.source
)
SELECT source, count(*)::BIGINT AS n_docs,
       floor(avg(_prob) * 1000000 + 0.5) / 1000000 AS media_prob,
       floor(quantile_cont(_prob, 0.5) * 1000000 + 0.5) / 1000000
         AS p50_prob,
       floor(min(_prob) * 1000000 + 0.5) / 1000000 AS min_prob
FROM per_doc GROUP BY source ORDER BY source
"""

register("doc_lm_quality", q_doc_lm_quality, SQL_DOC_LM_QUALITY)


# --------------------------------------------------------------------------
# doc_pack_fold — sample packing WITHOUT cutting documents, the
# complement of doc_pack_sequences' concat-and-chunk: rank each source's
# fitting docs by token count desc and fold the ranking onto itself
# (rank i pairs with rank N+1-i — longest with shortest), emitting the
# pair as one bin when it fits the block budget, else two bins. Every
# pairing decision is independent -> fully parallel after one ranking
# window per source; deterministic (total order by (toks desc, doc_id)).
# Output: bins and fill-rate vs the one-doc-per-bin baseline ("lift").
# Docs longer than the budget go through chunking upstream (doc_chunks)
# and are excluded here, mirroring real packing pipelines.
#
# Scale: the per-source ranking runs through operators.sorting.
# grouped_positions — range partition on (source, toks desc, doc_id),
# local rank per (partition, source), triangular broadcast prefix
# offsets — so parallelism scales with DATA (range partitions), not with
# |sources|: one dominant source at 100x spans many partitions instead
# of collapsing into one task's full sort (VERDICT r5's weak item). The
# rank produced is the exact global per-source rank, so the pairing
# semantics and the oracle are unchanged (window-equivalence
# property-tested, plan-tested free of per-source-only windows).
# --------------------------------------------------------------------------

def q_doc_pack_fold(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.sorting import grouped_positions

    docs = _docs(spark, sf_dir)
    t = (docs.selectExpr("doc_id", "source",
                         f"cast(size({WORDS}) as bigint) AS toks")
         .filter(F.col("toks") <= BLOCK_TOKENS))
    ranked = grouped_positions(
        t, ["source"], [F.desc("toks"), F.asc("doc_id")],
        pos_col="_rn", n_col="_n", materialize=True)
    pair_id = F.least(F.col("_rn"), F.col("_n") + 1 - F.col("_rn"))
    pairs = (ranked.groupBy("source", pair_id.alias("_pair"))
             .agg(F.sum("toks").alias("_ptoks"),
                  F.count(F.lit(1)).alias("_pdocs")))
    bins = F.when((F.col("_pdocs") == 2)
                  & (F.col("_ptoks") <= BLOCK_TOKENS), 1) \
            .otherwise(F.col("_pdocs"))
    return (pairs.groupBy("source")
            .agg(F.sum("_pdocs").cast("long").alias("n_docs"),
                 F.sum(bins).cast("long").alias("n_bins"),
                 F.sum("_ptoks").cast("long").alias("tokens"))
            .select("source", "n_docs", "n_bins", "tokens",
                    r6(F.col("tokens")
                       / (F.col("n_bins") * BLOCK_TOKENS)).alias("ocupacion"),
                    r4(F.col("n_docs") / F.col("n_bins")).alias("lift"))
            .orderBy("source"))


SQL_DOC_PACK_FOLD = f"""
WITH t AS (
  SELECT doc_id, source, len({SQL_WORDS})::BIGINT AS toks
  FROM documents WHERE len({SQL_WORDS}) <= {BLOCK_TOKENS}
), ranked AS (
  SELECT source, toks,
         row_number() OVER (PARTITION BY source
                            ORDER BY toks DESC, doc_id ASC) AS rn,
         count(*) OVER (PARTITION BY source) AS n
  FROM t
), pairs AS (
  SELECT source, least(rn, n + 1 - rn) AS pair_id,
         sum(toks)::BIGINT AS ptoks, count(*)::BIGINT AS pdocs
  FROM ranked GROUP BY source, least(rn, n + 1 - rn)
)
SELECT source, sum(pdocs)::BIGINT AS n_docs,
       sum(CASE WHEN pdocs = 2 AND ptoks <= {BLOCK_TOKENS}
                THEN 1 ELSE pdocs END)::BIGINT AS n_bins,
       sum(ptoks)::BIGINT AS tokens,
       floor(sum(ptoks) / (sum(CASE WHEN pdocs = 2 AND ptoks <= {BLOCK_TOKENS}
                                    THEN 1 ELSE pdocs END)
                           * {BLOCK_TOKENS})::DOUBLE * 1000000 + 0.5)
         / 1000000 AS ocupacion,
       floor(sum(pdocs) / sum(CASE WHEN pdocs = 2 AND ptoks <= {BLOCK_TOKENS}
                                   THEN 1 ELSE pdocs END)::DOUBLE
             * 10000 + 0.5) / 10000 AS lift
FROM pairs GROUP BY source ORDER BY source
"""

register("doc_pack_fold", q_doc_pack_fold, SQL_DOC_PACK_FOLD)


# --------------------------------------------------------------------------
# bpe_merge_pairs — the first iteration of BPE tokenizer training: count
# adjacent character pairs over the corpus and rank the merge
# candidates. Uses the classic scale trick that makes BPE training
# corpus-size-free after one pass: counts accumulate over the DISTINCT
# word vocabulary weighted by word frequency (one wordcount shuffle over
# the corpus; the pair explode then touches only |vocab| rows). Top
# BPE_PAIRS candidates with deterministic (freq desc, pair asc) ranking
# — the pair a real trainer would merge first, iterated upstream.
# --------------------------------------------------------------------------

BPE_PAIRS = 20


def q_bpe_merge_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _docs(spark, sf_dir)
    vocab = (docs.selectExpr(f"explode({WORDS}) AS w")
             .filter("w != ''")
             .groupBy("w")
             .agg(F.count(F.lit(1)).cast("long").alias("_freq")))
    pares = (vocab.filter("length(w) >= 2")
             .selectExpr(
                 "_freq",
                 "explode(transform(sequence(1, length(w) - 1), "
                 "i -> struct(substring(w, i, 1) AS s1, "
                 "substring(w, i + 1, 1) AS s2))) AS p")
             .select("p.s1", "p.s2", "_freq"))
    counts = (pares.groupBy("s1", "s2")
              .agg(F.sum("_freq").cast("long").alias("frecuencia")))
    top = (counts.orderBy(F.col("frecuencia").desc(),
                          F.col("s1").asc(), F.col("s2").asc())
           .limit(BPE_PAIRS))
    w = Window.orderBy(F.col("frecuencia").desc(),
                       F.col("s1").asc(), F.col("s2").asc())
    return (top.withColumn("rango", F.row_number().over(w).cast("long"))
            .select("rango", "s1", "s2", "frecuencia")
            .orderBy("rango"))


SQL_BPE_MERGE_PAIRS = f"""
WITH vocab AS (
  SELECT w, count(*)::BIGINT AS _freq
  FROM (SELECT unnest({SQL_WORDS}) AS w FROM documents)
  WHERE w <> '' GROUP BY w
), pares AS (
  SELECT _freq,
         unnest(list_transform(range(1, strlen(w)),
                i -> {{'s1': substr(w, i, 1), 's2': substr(w, i + 1, 1)}})) AS p
  FROM vocab WHERE strlen(w) >= 2
), counts AS (
  SELECT p.s1 AS s1, p.s2 AS s2, sum(_freq)::BIGINT AS frecuencia
  FROM pares GROUP BY p.s1, p.s2
)
SELECT row_number() OVER (ORDER BY frecuencia DESC, s1 ASC, s2 ASC)::BIGINT
         AS rango,
       s1, s2, frecuencia
FROM counts ORDER BY frecuencia DESC, s1 ASC, s2 ASC LIMIT {BPE_PAIRS}
"""

register("bpe_merge_pairs", q_bpe_merge_pairs, SQL_BPE_MERGE_PAIRS)


# --------------------------------------------------------------------------
# doc_dsir_weights — data selection via importance resampling (DSIR,
# Xie et al., NeurIPS 2023): score every raw document by how much more
# likely its hashed-bigram features are under a target distribution
# (here: the English subset, the usual "match the target domain" setup)
# than under the raw-corpus distribution. The classic formulation sums
# log-ratios; log/exp are not bit-portable across engines (libm), so the
# weight is kept as the equivalent PRODUCT of smoothed per-gram
# likelihood ratios, folded over the document's gram sequence in
# position order — every multiply/divide is a correctly-rounded IEEE
# binary64 op with identical association on both engines, so the result
# is bit-exact. Extreme documents can under/overflow the double range;
# IEEE over/underflow is deterministic and identical on both engines
# (gradual underflow to 0, overflow to inf), and the rollup below only
# compares/ranks weights, so the semantics degrade gracefully.
#
# Scale: feature hashing confines the model to DSIR_B buckets — one
# wordcount-class shuffle over bucket ids (map-side combined to
# ≤ partitions×DSIR_B rows), then ONE broadcast row carrying the two
# bucket-count maps (KBs). The per-doc fold is embarrassingly parallel;
# the corpus is never self-joined and never reshuffled. At 100 TB the
# plan is unchanged — only the two count maps grow their values, never
# their width. Per-source rollup uses min/median/max (order-free,
# portable), never a float mean over unbounded magnitudes.
# --------------------------------------------------------------------------

DSIR_B = 1024  # hashed feature buckets
DSIR_TARGET_LANG = "en"

from .text import _h, _sql_h  # noqa: E402  (28-bit md5 hash, both engines)

# zip_with over the word array and its shifted tail: both gram words are
# lambda INPUTS (evaluated once per element), ~3x cheaper than the
# index-transform form (sequence + element_at per gram). zip_with pads
# the shorter side with null, so the trailing (last_word, null) pair is
# sliced off; slice length greatest(n-1, 0) makes <2-word docs empty.
_DSIR_GRAM = "concat_ws(' ', x, y)"
_DSIR_BUCKETS = (
    f"slice(zip_with(_ws, slice(_ws, 2, size(_ws)), "
    f"(x, y) -> {_h(_DSIR_GRAM)} % {DSIR_B}), "
    f"1, greatest(size(_ws) - 1, 0))"
)
_SQL_DSIR_GRAM = "concat(w[i], ' ', w[i+1])"
_SQL_DSIR_BUCKETS = (
    f"CASE WHEN len(w) >= 2 THEN "
    f"list_transform(range(1, len(w)), i -> {_sql_h(_SQL_DSIR_GRAM)} % {DSIR_B}) "
    f"ELSE []::BIGINT[] END"
)

# smoothed likelihood ratio of bucket b under (target / raw), add-one
# smoothed over the DSIR_B buckets; integer products stay < 2^53 so the
# doubles entering the division are exact on both engines
_DSIR_RATIO = (
    f"cast((coalesce(try_element_at(_mt, b), 0L) + 1L) * (_nr + {DSIR_B}L) as double)"
    f" / cast((coalesce(try_element_at(_mr, b), 0L) + 1L) * (_nt + {DSIR_B}L) as double)"
)
_SQL_DSIR_RATIO = (
    f"((coalesce(map_extract(_mt, b)[1], 0) + 1) * (_nr + {DSIR_B}))::DOUBLE"
    f" / ((coalesce(map_extract(_mr, b)[1], 0) + 1) * (_nt + {DSIR_B}))::DOUBLE"
)


def doc_dsir_doc_weights(docs: DataFrame) -> DataFrame:
    """(doc_id, source, peso) — per-document DSIR importance weight
    (product of smoothed hashed-bigram likelihood ratios, target = the
    ``DSIR_TARGET_LANG`` subset). Shared by the registered rollup and
    the bit-equality property test; a curation pass selects on
    ``peso >= 1.0`` (document more target-like than raw-like)."""
    bl = docs.selectExpr("doc_id", "source", "lang",
                         f"{WORDS} AS _ws").selectExpr(
        "doc_id", "source", "lang", f"{_DSIR_BUCKETS} AS _bs")
    # explode_outer: plain explode makes InferFiltersFromGenerate push a
    # size(_bs) > 0 filter below the projection, re-evaluating the whole
    # split+hash pipeline per row (the doc_dup_ngrams lesson). The null
    # row explode_outer emits for <2-word docs is filtered on the cheap
    # exploded VALUE instead.
    counts = (bl.selectExpr("lang", "explode_outer(_bs) AS _b")
              .filter("_b IS NOT NULL")
              .groupBy("_b")
              .agg(F.count(F.lit(1)).cast("long").alias("_cr"),
                   F.sum((F.col("lang") == DSIR_TARGET_LANG).cast("long"))
                   .cast("long").alias("_ct")))
    stats = counts.agg(
        F.expr("map_from_entries(collect_list(struct(_b, _cr)))").alias("_mr"),
        F.expr("map_from_entries(collect_list(struct(_b, _ct)))").alias("_mt"),
        F.sum("_cr").cast("long").alias("_nr"),
        F.sum("_ct").cast("long").alias("_nt"))
    return (bl.crossJoin(broadcast(stats))
            .selectExpr(
                "doc_id", "source",
                f"aggregate(_bs, cast(1.0 as double), "
                f"(acc, b) -> acc * ({_DSIR_RATIO})) AS peso"))


def q_doc_dsir_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    per_doc = doc_dsir_doc_weights(_docs(spark, sf_dir, parallelize=True))
    return (per_doc.groupBy("source")
            .agg(F.count(F.lit(1)).cast("long").alias("n_docs"),
                 F.sum((F.col("peso") >= 1.0).cast("long")).cast("long")
                 .alias("seleccionados"),
                 r6(F.min("peso")).alias("min_peso"),
                 r6(F.expr("percentile(peso, 0.5)")).alias("p50_peso"),
                 r6(F.max("peso")).alias("max_peso"))
            .orderBy("source"))


SQL_DOC_DSIR_WEIGHTS = f"""
WITH ws AS (
  SELECT doc_id, source, lang, {SQL_WORDS} AS w FROM documents
), bl AS (
  SELECT doc_id, source, lang, {_SQL_DSIR_BUCKETS} AS bs FROM ws
), g AS (
  SELECT lang, unnest(bs) AS _b FROM bl
), counts AS (
  SELECT _b, count(*)::BIGINT AS _cr,
         sum(CASE WHEN lang = '{DSIR_TARGET_LANG}' THEN 1 ELSE 0 END)::BIGINT
           AS _ct
  FROM g GROUP BY _b
), stats AS (
  SELECT map(list(_b ORDER BY _b), list(_cr ORDER BY _b)) AS _mr,
         map(list(_b ORDER BY _b), list(_ct ORDER BY _b)) AS _mt,
         sum(_cr)::BIGINT AS _nr, sum(_ct)::BIGINT AS _nt
  FROM counts
), per_doc AS (
  SELECT doc_id, source,
         list_reduce(list_prepend(1.0::DOUBLE,
           list_transform(bs, b -> {_SQL_DSIR_RATIO})), (a, x) -> a * x)
           AS peso
  FROM bl CROSS JOIN stats
)
SELECT source, count(*)::BIGINT AS n_docs,
       sum(CASE WHEN peso >= 1.0 THEN 1 ELSE 0 END)::BIGINT AS seleccionados,
       floor(min(peso) * 1000000 + 0.5) / 1000000 AS min_peso,
       floor(quantile_cont(peso, 0.5) * 1000000 + 0.5) / 1000000 AS p50_peso,
       floor(max(peso) * 1000000 + 0.5) / 1000000 AS max_peso
FROM per_doc GROUP BY source ORDER BY source
"""

register("doc_dsir_weights", q_doc_dsir_weights, SQL_DOC_DSIR_WEIGHTS)


# --------------------------------------------------------------------------
# bpe_encode_curve — the APPLY side of BPE tokenization, closing the loop
# bpe_merge_pairs opens: take the ranked merge candidates and actually
# encode the corpus with the first m of them, for m along a curve, and
# report the compression each prefix buys (total weighted tokens,
# tokens/word, token-vocabulary size). This is the measurement a
# tokenizer-training pipeline gates on — "how many merges until
# tokens/word crosses X" — computed corpus-size-free: encoding folds run
# over the DISTINCT word vocabulary weighted by frequency, exactly like
# training (one wordcount shuffle; the fold then touches |vocab|·|curve|
# rows only).
#
# The merge list is the single-ranking candidate set (frequency desc,
# pair asc — identical ordering to bpe_merge_pairs); true iterative BPE
# re-counts pairs after each merge, which at scale is a short driver-side
# loop over the (tiny) pair-count frame, same pattern as
# kmeans_embeddings' Lloyd iterations. The one-shot ranked list is the
# oracle-checkable kernel, and each merge PASS itself (leftmost,
# non-overlapping, left-to-right — "aaa" + (a,a) → [aa, a]) has exact
# BPE semantics in both engines: an in-order fold appending or fusing
# against the accumulator's last token.
#
# Scale: one wordcount shuffle + one BPE_PAIRS-row broadcast; encoding
# is embarrassingly parallel over the vocab. The token-vocab distinct
# count shuffles |vocab|·tokens rows of short strings — bounded by
# corpus vocabulary, not corpus size.
# --------------------------------------------------------------------------

BPE_CURVE = (0, 5, 10, 20)

# merge pass fold: tokens ts + merge pair mg (2-element array) → merged
# token list, leftmost non-overlapping left-to-right
_BPE_ENC = (
    "aggregate(slice(_mgs, 1, fusiones), _chars, "
    "(ts, mg) -> aggregate(ts, cast(array() as array<string>), "
    "(acc, t) -> if(size(acc) > 0 AND element_at(acc, -1) = element_at(mg, 1)"
    " AND t = element_at(mg, 2), "
    "concat(slice(acc, 1, size(acc) - 1), "
    "array(concat(element_at(mg, 1), element_at(mg, 2)))), "
    "concat(acc, array(t)))))"
)


def bpe_encode_curve_frame(docs: DataFrame) -> DataFrame:
    """The full train-rank-encode pipeline over a documents frame;
    shared by the registered query and the Python-reference property
    test."""
    vocab = (docs.selectExpr(f"explode({WORDS}) AS w")
             .filter("w != ''")
             .groupBy("w")
             .agg(F.count(F.lit(1)).cast("long").alias("_freq")))
    pares = (vocab.filter("length(w) >= 2")
             .selectExpr(
                 "_freq",
                 "explode(transform(sequence(1, length(w) - 1), "
                 "i -> struct(substring(w, i, 1) AS s1, "
                 "substring(w, i + 1, 1) AS s2))) AS p")
             .select("p.s1", "p.s2", "_freq"))
    counts = (pares.groupBy("s1", "s2")
              .agg(F.sum("_freq").cast("long").alias("frecuencia")))
    top = (counts.orderBy(F.col("frecuencia").desc(),
                          F.col("s1").asc(), F.col("s2").asc())
           .limit(BPE_PAIRS))
    # ONE broadcast row carrying the rank-ordered merge list (sorting by
    # (-freq, s1, s2) structs makes collect_list order-independent)
    mg_row = top.agg(F.expr(
        "transform(array_sort(collect_list("
        "struct(-frecuencia AS nf, s1, s2))), x -> array(x.s1, x.s2))")
        .alias("_mgs"))
    enc = (vocab.crossJoin(broadcast(mg_row))
           .selectExpr(
               "_freq", "_mgs",
               "transform(sequence(1, length(w)), i -> substring(w, i, 1))"
               " AS _chars")
           .selectExpr("_freq", "_chars", "_mgs",
                       f"explode(array{BPE_CURVE}) AS fusiones")
           .selectExpr("cast(fusiones as bigint) AS fusiones", "_freq",
                       f"{_BPE_ENC} AS _tk")
           .cache())
    summary = (enc.groupBy("fusiones")
               .agg(F.sum("_freq").cast("long").alias("total_palabras"),
                    F.sum(F.expr("_freq * size(_tk)")).cast("long")
                    .alias("total_tokens")))
    vocabu = (enc.selectExpr("fusiones", "explode(_tk) AS t")
              .groupBy("fusiones")
              .agg(F.countDistinct("t").cast("long").alias("vocab_tokens")))
    return (summary.join(vocabu, "fusiones")
            .select("fusiones", "total_palabras", "total_tokens",
                    r4(F.col("total_tokens").cast("double")
                       / F.col("total_palabras")).alias("tokens_por_palabra"),
                    "vocab_tokens")
            .orderBy("fusiones"))


def q_bpe_encode_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    return bpe_encode_curve_frame(_docs(spark, sf_dir))


SQL_BPE_ENCODE_CURVE = f"""
WITH vocab AS (
  SELECT w, count(*)::BIGINT AS _freq
  FROM (SELECT unnest({SQL_WORDS}) AS w FROM documents)
  WHERE w <> '' GROUP BY w
), pares AS (
  SELECT _freq,
         unnest(list_transform(range(1, strlen(w)),
                i -> {{'s1': substr(w, i, 1), 's2': substr(w, i + 1, 1)}})) AS p
  FROM vocab WHERE strlen(w) >= 2
), counts AS (
  SELECT p.s1 AS s1, p.s2 AS s2, sum(_freq)::BIGINT AS frecuencia
  FROM pares GROUP BY p.s1, p.s2
), top AS (
  SELECT * FROM counts ORDER BY frecuencia DESC, s1 ASC, s2 ASC
  LIMIT {BPE_PAIRS}
), mg AS (
  SELECT list([s1, s2] ORDER BY frecuencia DESC, s1 ASC, s2 ASC) AS mgs
  FROM top
), encv AS (
  SELECT fusiones::BIGINT AS fusiones, _freq,
         list_reduce(
           list_prepend(list_transform(range(1, strlen(w) + 1),
                                       i -> substr(w, i, 1)),
                        list_slice(mgs, 1, fusiones)),
           (ts, mg) -> list_reduce(
             list_prepend([]::VARCHAR[], list_transform(ts, t -> [t])),
             (acc, x) -> CASE WHEN len(acc) > 0 AND acc[-1] = mg[1]
                              AND x[1] = mg[2]
                         THEN list_append(list_slice(acc, 1, len(acc) - 1),
                                          mg[1] || mg[2])
                         ELSE list_append(acc, x[1]) END)) AS tk
  FROM vocab CROSS JOIN mg
  CROSS JOIN (SELECT unnest([{', '.join(map(str, BPE_CURVE))}]) AS fusiones)
), s AS (
  SELECT fusiones, sum(_freq)::BIGINT AS total_palabras,
         sum(_freq * len(tk))::BIGINT AS total_tokens
  FROM encv GROUP BY fusiones
), v AS (
  SELECT fusiones, count(DISTINCT t)::BIGINT AS vocab_tokens
  FROM (SELECT fusiones, unnest(tk) AS t FROM encv) GROUP BY fusiones
)
SELECT s.fusiones AS fusiones, total_palabras, total_tokens,
       floor(total_tokens::DOUBLE / total_palabras * 10000 + 0.5) / 10000
         AS tokens_por_palabra,
       vocab_tokens
FROM s JOIN v ON s.fusiones = v.fusiones ORDER BY s.fusiones
"""

register("bpe_encode_curve", q_bpe_encode_curve, SQL_BPE_ENCODE_CURVE)


# --------------------------------------------------------------------------
# doc_ccnet_buckets — CCNet's head/middle/tail split (Wenzek et al.
# 2020): per source, rank documents by language-model probability and
# cut the ranking into thirds — head = most target-like (kept for
# training), tail = least (dropped or down-weighted). The cut is
# RANK-based (ntile semantics via the integer formula
# ((rank-1)·3) div n, identical to SQL NTILE(3) for every n), not a
# percentile-value cut — no float interpolation anywhere, so bucket
# MEMBERSHIP is exact and portable; only the per-bucket prob summaries
# are floats, r6-rounded like the rest of the LM family.
#
# Scale: the per-source ranking runs on grouped_positions (two-level
# range-partition rank; parallelism is NOT capped at |sources| — the
# doc_pack_fold lesson), and the LM scores reuse doc_lm_scores' one
# corpus pass + vocab-sized count tables. The oracle uses the plain
# windows (DuckDB at sf0.01), the Spark side the scale path; both
# produce the same ranks by construction (property-tested for
# grouped_positions).
# --------------------------------------------------------------------------

_CCNET_TRAMOS = ("head", "middle", "tail")


def q_doc_ccnet_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.sorting import grouped_positions

    per_doc = doc_lm_scores(_docs(spark, sf_dir))
    ranked = grouped_positions(
        per_doc, ["source"], [F.desc("_prob"), F.asc("doc_id")],
        pos_col="_rn", n_col="_n", materialize=True)
    b = F.expr("((_rn - 1) * 3) div _n")
    tramo = (F.when(b == 0, _CCNET_TRAMOS[0])
             .when(b == 1, _CCNET_TRAMOS[1])
             .otherwise(_CCNET_TRAMOS[2]))
    return (ranked.withColumn("orden", b.cast("long"))
            .withColumn("tramo", tramo)
            .groupBy("source", "orden", "tramo")
            .agg(F.count(F.lit(1)).cast("long").alias("docs"),
                 r6(F.avg("_prob")).alias("media_prob"),
                 r6(F.min("_prob")).alias("min_prob"),
                 r6(F.max("_prob")).alias("max_prob"))
            .orderBy("source", "orden"))


SQL_DOC_CCNET_BUCKETS = f"""
WITH ws AS (
  SELECT doc_id, source, {{SQL_WORDS}} AS ws FROM documents
), bg0 AS (
  SELECT doc_id, source,
         unnest(list_transform(range(1, len(ws)),
                               i -> {{{{'prev': ws[i], 'w': ws[i + 1]}}}})) AS bg
  FROM ws WHERE len(ws) >= 2
), bg AS (
  SELECT doc_id, source, bg.prev AS prev, bg.w AS w FROM bg0
), c2 AS (
  SELECT prev, w, count(*)::BIGINT AS c2 FROM bg GROUP BY prev, w
), c1 AS (
  SELECT prev, count(*)::BIGINT AS c1 FROM bg GROUP BY prev
), v AS (
  SELECT count(DISTINCT w)::BIGINT AS v
  FROM (SELECT unnest({{SQL_WORDS}}) AS w FROM documents)
), per_doc AS (
  SELECT bg.doc_id, bg.source,
         avg((c2.c2 + 1)::DOUBLE / (c1.c1 + v.v)) AS _prob
  FROM bg JOIN c2 USING (prev, w) JOIN c1 USING (prev) CROSS JOIN v
  GROUP BY bg.doc_id, bg.source
), ranked AS (
  SELECT source, _prob,
         row_number() OVER (PARTITION BY source
                            ORDER BY _prob DESC, doc_id ASC) AS _rn,
         count(*) OVER (PARTITION BY source) AS _n
  FROM per_doc
), bucketed AS (
  SELECT source, _prob, ((_rn - 1) * 3) // _n AS orden FROM ranked
)
SELECT source, orden::BIGINT AS orden,
       CASE orden WHEN 0 THEN 'head' WHEN 1 THEN 'middle'
            ELSE 'tail' END AS tramo,
       count(*)::BIGINT AS docs,
       floor(avg(_prob) * 1000000 + 0.5) / 1000000 AS media_prob,
       floor(min(_prob) * 1000000 + 0.5) / 1000000 AS min_prob,
       floor(max(_prob) * 1000000 + 0.5) / 1000000 AS max_prob
FROM bucketed GROUP BY source, orden ORDER BY source, orden
"""

SQL_DOC_CCNET_BUCKETS = SQL_DOC_CCNET_BUCKETS.format(SQL_WORDS=SQL_WORDS)

register("doc_ccnet_buckets", q_doc_ccnet_buckets, SQL_DOC_CCNET_BUCKETS)


# --------------------------------------------------------------------------
# bpe_train_steps — TRUE iterative BPE training (Sennrich et al. 2016):
# unlike bpe_merge_pairs (the first iteration's candidate ranking) and
# bpe_encode_curve (applying a one-shot ranked list), this runs the real
# greedy loop — count adjacent token pairs over the weighted vocabulary,
# merge the argmax everywhere, RE-COUNT on the merged state, repeat —
# for BPE_STEPS steps, and emits the learned merge table
# (paso, s1, s2, frecuencia). This is the algorithm a production
# tokenizer trainer runs; the loop is driver-side plan construction
# over the vocab frame (the kmeans-Lloyd idiom: per-step state is
# vocab-sized and cached, the corpus is touched exactly once by the
# initial wordcount).
#
# Determinism: the argmax is min(struct(-freq, s1, s2)) — frequency
# desc, pair asc, the bpe_merge_pairs ranking — and each merge pass is
# the same in-order fold bpe_encode_curve uses, so both engines walk
# the identical merge trajectory. A corpus with fewer distinct pairs
# than steps degrades gracefully: the scalar agg yields a NULL pair,
# the fold's null comparisons leave the state unchanged, and the NULL
# steps are filtered from the output.
#
# Scale: one wordcount shuffle, then BPE_STEPS iterations of
# vocab-sized pair-count aggregates (map-side combined) + a 1-row
# broadcast + an embarrassingly-parallel re-tokenize — corpus-size-free
# after the first pass, exactly like training at 100 TB would be.
# --------------------------------------------------------------------------

BPE_STEPS = 8

# fast path: a pair (s1, s2) can only be adjacent in words whose RAW
# string contains s1||s2 (necessary condition — the fold still decides
# exactly); everything else keeps its token list untouched
_BPE_MERGE_1 = (
    "if(_s1 IS NULL OR NOT contains(w, concat(_s1, _s2)), toks, "
    "aggregate(toks, cast(array() as array<string>), "
    "(acc, t) -> if(size(acc) > 0 AND element_at(acc, -1) = _s1 "
    "AND t = _s2, "
    "concat(slice(acc, 1, size(acc) - 1), array(concat(_s1, _s2))), "
    "concat(acc, array(t)))))"
)


def bpe_train_frame(docs: DataFrame) -> DataFrame:
    """(paso, s1, s2, frecuencia) — the learned merge sequence; shared
    by the registered query and the Python-reference property test."""
    vocab = (docs.selectExpr(f"explode({WORDS}) AS w")
             .filter("w != ''")
             .groupBy("w")
             .agg(F.count(F.lit(1)).cast("long").alias("_freq")))
    # localCheckpoint per step: without it CollapseProject inlines each
    # re-tokenize fold into the next step's expressions — an expression
    # tree exponential in BPE_STEPS (observed as a codegen heap OOM).
    # The state is vocab-sized, so materializing it per step is the
    # cheap side of the trade at every scale (incremental.py precedent).
    state = vocab.selectExpr(
        "w", "_freq",
        "transform(sequence(1, length(w)), i -> substring(w, i, 1)) AS toks"
    ).localCheckpoint()
    steps = []
    for k in range(1, BPE_STEPS + 1):
        pairs = (state.filter("size(toks) >= 2")
                 .selectExpr(
                     "_freq",
                     "explode(transform(sequence(1, size(toks) - 1), "
                     "i -> struct(element_at(toks, i) AS s1, "
                     "element_at(toks, i + 1) AS s2))) AS p"))
        counts = (pairs.groupBy("p.s1", "p.s2")
                  .agg(F.sum("_freq").cast("long").alias("_f")))
        m = (counts.agg(F.min(F.struct(
            (-F.col("_f")).alias("nf"), "s1", "s2")).alias("_m"))
            .selectExpr("_m.s1 AS _s1", "_m.s2 AS _s2",
                        "cast(-_m.nf as bigint) AS _fm")
            .cache())
        steps.append(m.selectExpr(
            f"cast({k} as bigint) AS paso", "_s1 AS s1", "_s2 AS s2",
            "_fm AS frecuencia"))
        state = (state.crossJoin(broadcast(m))
                 .selectExpr("w", "_freq", f"{_BPE_MERGE_1} AS toks")
                 .localCheckpoint())
    out = steps[0]
    for s in steps[1:]:
        out = out.unionByName(s)
    return out.filter("s1 IS NOT NULL").orderBy("paso")


def q_bpe_train_steps(spark: SparkSession, sf_dir: str) -> DataFrame:
    return bpe_train_frame(_docs(spark, sf_dir))


def _sql_bpe_step(k: int) -> str:
    prev = f"t{k - 1}"
    return f"""pc{k} AS MATERIALIZED (
  SELECT p.s1 AS s1, p.s2 AS s2, sum(_freq)::BIGINT AS f
  FROM (SELECT _freq,
               unnest(list_transform(range(1, len(toks)),
                      i -> {{'s1': toks[i], 's2': toks[i + 1]}})) AS p
        FROM {prev} WHERE len(toks) >= 2)
  GROUP BY p.s1, p.s2
), m{k} AS MATERIALIZED (
  SELECT min({{'nf': -f, 's1': s1, 's2': s2}}) AS m FROM pc{k}
), t{k} AS MATERIALIZED (
  SELECT w, _freq,
         CASE WHEN mm.m.s1 IS NULL OR NOT contains(w, mm.m.s1 || mm.m.s2)
              THEN toks
              ELSE list_reduce(list_prepend([]::VARCHAR[],
                                  list_transform(toks, t -> [t])),
           (acc, x) -> CASE WHEN len(acc) > 0 AND acc[-1] = mm.m.s1
                            AND x[1] = mm.m.s2
                       THEN list_append(list_slice(acc, 1, len(acc) - 1),
                                        mm.m.s1 || mm.m.s2)
                       ELSE list_append(acc, x[1]) END) END AS toks
  FROM {prev} CROSS JOIN m{k} mm
)"""


SQL_BPE_TRAIN_STEPS = f"""
WITH vocab AS (
  SELECT w, count(*)::BIGINT AS _freq
  FROM (SELECT unnest({SQL_WORDS}) AS w FROM documents)
  WHERE w <> '' GROUP BY w
), t0 AS MATERIALIZED (
  SELECT w, _freq,
         list_transform(range(1, strlen(w) + 1), i -> substr(w, i, 1))
           AS toks
  FROM vocab
), {', '.join(_sql_bpe_step(k) for k in range(1, BPE_STEPS + 1))}
SELECT paso, s1, s2, frecuencia FROM (
  {' UNION ALL '.join(
      f"SELECT {k}::BIGINT AS paso, m.m.s1 AS s1, m.m.s2 AS s2, "
      f"(-m.m.nf)::BIGINT AS frecuencia FROM m{k} m"
      for k in range(1, BPE_STEPS + 1))}
) WHERE s1 IS NOT NULL ORDER BY paso
"""

register("bpe_train_steps", q_bpe_train_steps, SQL_BPE_TRAIN_STEPS)


# --------------------------------------------------------------------------
# doc_bloom_decontaminate — Bloom-filter decontamination audit: the
# broadcast-sketch variant of doc_decontaminate. The exact semi-join
# above ships the full benchmark GRAM SET to every executor; at 100 TB
# that set can reach tens of GB (every 13-gram of every eval doc), while
# a Bloom filter over the same grams is a fixed M bits regardless of
# benchmark size — the standard trick for contamination checks against
# large held-out suites. This query builds the filter (K positions per
# gram from the shared 28-bit md5 base hash, affine-hashed mod M),
# probes every corpus gram, and reports bloom-vs-exact agreement per
# source: the measured false-positive cost of replacing the exact set
# with M bits. Bloom positives are a superset of exact matches by
# construction, so `grams_fp = grams_bloom - grams_exactos` holds and
# the realized FP rate is directly the over-removal a Bloom-gated
# pipeline would pay.
#
# Plan: bench bits ≤ M rows → broadcast; the corpus side is map-only
# (explode grams → K positions, broadcast-join on position) with ONE
# (source, gram)-keyed distinct; the corpus never shuffles on text. At
# 100 TB the positions frame becomes a real bitmap in a broadcast
# variable; the broadcast hash join here is the plan-shape equivalent
# (probe side stays shuffle-free).
# --------------------------------------------------------------------------

BLOOM_M = 4096     # filter bits
BLOOM_K = 3        # hash functions per gram
_BLOOM_P = 1000000007
# pairwise-independent affine multipliers/offsets (arbitrary fixed odd
# constants, same role as the MinHash permutation table in text.py)
_BLOOM_AB = ((387421, 98473), (519787, 334211), (812359, 772453))

_GRAM_H = "cast(conv(substring(md5(grama), 1, 7), 16, 10) as bigint)"
_SQL_GRAM_H = "('0x' || substr(md5(grama), 1, 7))::BIGINT"


def _bloom_pos_expr(j: int, base: str) -> str:
    a, b = _BLOOM_AB[j]
    return f"cast(({base} * {a}L + {b}L) % {_BLOOM_P} % {BLOOM_M} as int)"


def _sql_bloom_pos(j: int, base: str) -> str:
    a, b = _BLOOM_AB[j]
    return f"(({base} * {a} + {b}) % {_BLOOM_P} % {BLOOM_M})::INT"


def bloom_decontaminate_frame(docs: DataFrame) -> DataFrame:
    """The full build-probe-audit pipeline over a documents frame; shared
    by the registered query and the Python-reference property test."""
    grams = (
        docs.selectExpr("doc_id", "source", "text", f"{WORDS} AS _ws")
        .selectExpr("doc_id", "source", f"explode({_KGRAMS}) AS grama"))
    bench = (grams.filter(F.col("doc_id") % BENCH_MOD == 0)
             .select("grama").distinct())
    # the filter: the distinct set-bit positions (≤ BLOOM_M ints). Each
    # of the K membership tests below is a broadcast HASH join against
    # this frame — the relational O(1)-per-probe equivalent of testing a
    # bit in a broadcast bitmap (an array_contains over the position
    # array would be a 4096-element linear scan per gram, measured 2.5×
    # slower end-to-end at sf0.1).
    bits = (bench.selectExpr(f"{_GRAM_H} AS _bh")
            .selectExpr(
                "explode(array(" +
                ", ".join(_bloom_pos_expr(j, "_bh")
                          for j in range(BLOOM_K)) + ")) AS _pos")
            .distinct())
    # map-only probe: K int-keyed broadcast joins + the exact twin via
    # the broadcast bench set — the corpus side never shuffles text
    gramv = (grams.filter(F.col("doc_id") % BENCH_MOD != 0)
             .join(broadcast(bench.withColumn("_x", F.lit(1))),
                   "grama", "left")
             .withColumn("_bh", F.expr(_GRAM_H)))
    for j in range(BLOOM_K):
        gramv = (gramv
                 .withColumn(f"_p{j}", F.expr(_bloom_pos_expr(j, "_bh")))
                 .join(broadcast(bits.withColumnRenamed("_pos", f"_p{j}")
                                 .withColumn(f"_m{j}", F.lit(1))),
                       f"_p{j}", "left"))
    all_hit = " AND ".join(f"_m{j} = 1" for j in range(BLOOM_K))
    gramv = gramv.selectExpr(
        "doc_id", "source", "grama",
        f"CASE WHEN {all_hit} THEN 1 ELSE 0 END AS _bl",
        "coalesce(_x, 0) AS _ex")
    doc_stats = (gramv.groupBy("doc_id", "source")
                 .agg(F.max("_bl").alias("_dbl"), F.max("_ex").alias("_dex"))
                 .groupBy("source")
                 .agg(F.count(F.lit(1)).cast("long").alias("docs_total"),
                      F.sum("_dbl").cast("long").alias("docs_bloom"),
                      F.sum("_dex").cast("long").alias("docs_exactos")))
    gram_stats = (gramv.select("source", "grama", "_bl", "_ex").distinct()
                  .groupBy("source")
                  .agg(F.count(F.lit(1)).cast("long").alias("grams_probados"),
                       F.sum("_bl").cast("long").alias("grams_bloom"),
                       F.sum("_ex").cast("long").alias("grams_exactos")))
    return (
        doc_stats.join(gram_stats, "source")
        .select(
            "source", "docs_total", "docs_bloom", "docs_exactos",
            (F.col("docs_bloom") - F.col("docs_exactos")).cast("long")
            .alias("docs_fp"),
            "grams_probados", "grams_bloom", "grams_exactos",
            (F.col("grams_bloom") - F.col("grams_exactos")).cast("long")
            .alias("grams_fp"),
            F.when(F.col("grams_probados") > F.col("grams_exactos"),
                   r6((F.col("grams_bloom") - F.col("grams_exactos"))
                      .cast("double")
                      / (F.col("grams_probados") - F.col("grams_exactos"))))
            .alias("tasa_fp"))
        .orderBy("source")
    )


def q_doc_bloom_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    return bloom_decontaminate_frame(_docs(spark, sf_dir))


_SQL_BLOOM_POSES = ", ".join(_sql_bloom_pos(j, "_bh") for j in range(BLOOM_K))
_SQL_GRAM_HG = _SQL_GRAM_H.replace("(grama", "(g.grama")
_SQL_BLOOM_JOINS = "\n".join(
    f"  LEFT JOIN bits b{j} ON {_sql_bloom_pos(j, _SQL_GRAM_HG)} = b{j}._pos"
    for j in range(BLOOM_K))
_SQL_ALL_HIT = " AND ".join(
    f"b{j}._pos IS NOT NULL" for j in range(BLOOM_K))

SQL_DOC_BLOOM_DECONTAMINATE = f"""
WITH ws AS (
  SELECT doc_id, source, text, str_split_regex(trim(text), '\\s+') AS w
  FROM documents
), grams AS (
  SELECT doc_id, source, unnest({_SQL_KGRAMS}) AS grama FROM ws
), bench AS (
  SELECT DISTINCT grama FROM grams WHERE doc_id % {BENCH_MOD} = 0
), bits AS (
  SELECT DISTINCT unnest([{_SQL_BLOOM_POSES}]) AS _pos
  FROM (SELECT {_SQL_GRAM_H} AS _bh FROM bench)
), gramv AS (
  SELECT g.doc_id, g.source, g.grama,
         CASE WHEN {_SQL_ALL_HIT} THEN 1 ELSE 0 END AS _bl,
         CASE WHEN b.grama IS NULL THEN 0 ELSE 1 END AS _ex
  FROM grams g
  LEFT JOIN bench b ON g.grama = b.grama
{_SQL_BLOOM_JOINS}
  WHERE g.doc_id % {BENCH_MOD} <> 0
), doc_stats AS (
  SELECT source, count(*)::BIGINT AS docs_total,
         sum(_dbl)::BIGINT AS docs_bloom,
         sum(_dex)::BIGINT AS docs_exactos
  FROM (SELECT doc_id, source, max(_bl) AS _dbl, max(_ex) AS _dex
        FROM gramv GROUP BY doc_id, source)
  GROUP BY source
), gram_stats AS (
  SELECT source, count(*)::BIGINT AS grams_probados,
         sum(_bl)::BIGINT AS grams_bloom,
         sum(_ex)::BIGINT AS grams_exactos
  FROM (SELECT DISTINCT source, grama, _bl, _ex FROM gramv)
  GROUP BY source
)
SELECT d.source, d.docs_total, d.docs_bloom, d.docs_exactos,
       (d.docs_bloom - d.docs_exactos)::BIGINT AS docs_fp,
       g.grams_probados, g.grams_bloom, g.grams_exactos,
       (g.grams_bloom - g.grams_exactos)::BIGINT AS grams_fp,
       CASE WHEN g.grams_probados > g.grams_exactos THEN
         floor((g.grams_bloom - g.grams_exactos)::DOUBLE
               / (g.grams_probados - g.grams_exactos) * 1000000 + 0.5)
         / 1000000
       ELSE NULL END AS tasa_fp
FROM doc_stats d JOIN gram_stats g USING (source)
ORDER BY d.source
"""

register("doc_bloom_decontaminate", q_doc_bloom_decontaminate,
         SQL_DOC_BLOOM_DECONTAMINATE)


# --------------------------------------------------------------------------
# bpe_fertility — per-language tokenizer fertility audit: encode every
# language's word vocabulary with the SAME globally-trained ranked merge
# list (the bpe_encode_curve kernel at the full BPE_PAIRS prefix) and
# report tokens/word and chars/token per language. This is the
# multilingual gate a tokenizer-training pipeline runs before freezing a
# vocab — a tokenizer trained on an en-dominated corpus over-segments
# low-resource languages, and fertility (tokens per word) is the
# standard measure of that tax (e.g. "zh fertility is 2.1× en").
#
# Scale: ONE wordcount shuffle keyed (lang, word); the global training
# counts are a second aggregate over the |langs|·|vocab| distinct rows
# (corpus-size-free), the merge list is one broadcast row, and the
# encode fold is embarrassingly parallel over the per-lang vocab.
# --------------------------------------------------------------------------

# encode fold applying the FULL merge list (bpe_encode_curve's _BPE_ENC
# with the curve slice replaced by the whole ranked list)
_BPE_ENC_ALL = _BPE_ENC.replace("slice(_mgs, 1, fusiones)", "_mgs")


def bpe_fertility_frame(docs: DataFrame) -> DataFrame:
    """Train-globally-encode-per-language; shared by the registered query
    and the Python-reference property test."""
    lang_vocab = (
        docs.selectExpr("lang", f"explode({WORDS}) AS w")
        .filter("w != ''")
        .groupBy("lang", "w")
        .agg(F.count(F.lit(1)).cast("long").alias("_freq")))
    # global training counts: re-aggregate the per-lang vocab (tiny)
    vocab = (lang_vocab.groupBy("w")
             .agg(F.sum("_freq").cast("long").alias("_freq")))
    pares = (vocab.filter("length(w) >= 2")
             .selectExpr(
                 "_freq",
                 "explode(transform(sequence(1, length(w) - 1), "
                 "i -> struct(substring(w, i, 1) AS s1, "
                 "substring(w, i + 1, 1) AS s2))) AS p")
             .select("p.s1", "p.s2", "_freq"))
    counts = (pares.groupBy("s1", "s2")
              .agg(F.sum("_freq").cast("long").alias("frecuencia")))
    top = (counts.orderBy(F.col("frecuencia").desc(),
                          F.col("s1").asc(), F.col("s2").asc())
           .limit(BPE_PAIRS))
    mg_row = top.agg(F.expr(
        "transform(array_sort(collect_list("
        "struct(-frecuencia AS nf, s1, s2))), x -> array(x.s1, x.s2))")
        .alias("_mgs"))
    enc = (lang_vocab.crossJoin(broadcast(mg_row))
           .selectExpr(
               "lang", "w", "_freq", "_mgs",
               "transform(sequence(1, length(w)), i -> substring(w, i, 1))"
               " AS _chars")
           .selectExpr("lang", "w", "_freq",
                       f"{_BPE_ENC_ALL} AS _tk"))
    return (
        enc.groupBy("lang")
        .agg(F.count(F.lit(1)).cast("long").alias("vocab_palabras"),
             F.sum("_freq").cast("long").alias("total_palabras"),
             F.sum(F.expr("_freq * size(_tk)")).cast("long")
             .alias("total_tokens"),
             F.sum(F.expr("_freq * length(w)")).cast("long")
             .alias("total_chars"))
        .select("lang", "vocab_palabras", "total_palabras", "total_tokens",
                "total_chars",
                r4(F.col("total_tokens").cast("double")
                   / F.col("total_palabras")).alias("tokens_por_palabra"),
                r4(F.col("total_chars").cast("double")
                   / F.col("total_tokens")).alias("chars_por_token"))
        .orderBy("lang")
    )


def q_bpe_fertility(spark: SparkSession, sf_dir: str) -> DataFrame:
    return bpe_fertility_frame(_docs(spark, sf_dir))


SQL_BPE_FERTILITY = f"""
WITH lang_vocab AS (
  SELECT lang, w, count(*)::BIGINT AS _freq
  FROM (SELECT lang, unnest({SQL_WORDS}) AS w FROM documents)
  WHERE w <> '' GROUP BY lang, w
), vocab AS (
  SELECT w, sum(_freq)::BIGINT AS _freq FROM lang_vocab GROUP BY w
), pares AS (
  SELECT _freq,
         unnest(list_transform(range(1, strlen(w)),
                i -> {{'s1': substr(w, i, 1), 's2': substr(w, i + 1, 1)}})) AS p
  FROM vocab WHERE strlen(w) >= 2
), counts AS (
  SELECT p.s1 AS s1, p.s2 AS s2, sum(_freq)::BIGINT AS frecuencia
  FROM pares GROUP BY p.s1, p.s2
), top AS (
  SELECT * FROM counts ORDER BY frecuencia DESC, s1 ASC, s2 ASC
  LIMIT {BPE_PAIRS}
), mg AS (
  SELECT list([s1, s2] ORDER BY frecuencia DESC, s1 ASC, s2 ASC) AS mgs
  FROM top
), encv AS (
  SELECT lang, w, _freq,
         list_reduce(
           list_prepend(list_transform(range(1, strlen(w) + 1),
                                       i -> substr(w, i, 1)),
                        mgs),
           (ts, mg) -> list_reduce(
             list_prepend([]::VARCHAR[], list_transform(ts, t -> [t])),
             (acc, x) -> CASE WHEN len(acc) > 0 AND acc[-1] = mg[1]
                              AND x[1] = mg[2]
                         THEN list_append(list_slice(acc, 1, len(acc) - 1),
                                          mg[1] || mg[2])
                         ELSE list_append(acc, x[1]) END)) AS tk
  FROM lang_vocab CROSS JOIN mg
)
SELECT lang,
       count(*)::BIGINT AS vocab_palabras,
       sum(_freq)::BIGINT AS total_palabras,
       sum(_freq * len(tk))::BIGINT AS total_tokens,
       sum(_freq * length(w))::BIGINT AS total_chars,
       floor(sum(_freq * len(tk))::DOUBLE / sum(_freq) * 10000 + 0.5)
         / 10000 AS tokens_por_palabra,
       floor(sum(_freq * length(w))::DOUBLE / sum(_freq * len(tk))
             * 10000 + 0.5) / 10000 AS chars_por_token
FROM encv
GROUP BY lang ORDER BY lang
"""

register("bpe_fertility", q_bpe_fertility, SQL_BPE_FERTILITY)


# --------------------------------------------------------------------------
# doc_length_buckets — padding-waste audit for length-bucketed batching:
# a training loader that pads every sequence in a batch of B to the
# batch max pays (B·max - sum) wasted tokens per batch; sorting by
# length before batching (the standard "bucketing" trick) collapses
# that waste. This query batches each source's docs both ways —
# arrival order (doc_id) and length-sorted — and reports the padding
# each policy pays plus the bucketing saving, the number a loader team
# uses to decide whether length-bucketing is worth the shuffle.
#
# Scale: token counts are a per-row fold; both rankings ride
# grouped_positions (range partition + local rank + broadcast offsets
# — parallelism is NOT capped at |sources|), and the per-batch rollup
# shuffles only (source, batch) keys. No text ever shuffles.
# --------------------------------------------------------------------------

BATCH_DOCS = 16


def doc_length_buckets_frame(docs: DataFrame) -> DataFrame:
    """Both batching policies over a documents frame; shared by the
    registered query and the Python-reference property test.

    Not lazy: the per-doc token counts are checkpointed eagerly, so
    building the frame runs one Spark job (see below).
    """
    from ..operators.sorting import grouped_positions

    # t feeds BOTH batching rankings (each fanning out inside
    # grouped_positions) plus the base aggregate — without materialization
    # the tokenize+size pass re-executes up to ~5x (measured 3.10 s;
    # with this one localCheckpoint of the narrow per-doc frame: 1.98 s,
    # 0.64x — r10 A/B min-of-3). The checkpointed frame is (doc_id,
    # source, toks): per-doc grain, never the text.
    t = (docs.selectExpr("doc_id", "source",
                         f"cast(size({WORDS}) as bigint) AS toks")
         .localCheckpoint())

    def waste(ranked, tag: str) -> DataFrame:
        batch = F.floor((F.col("_rn") - 1) / BATCH_DOCS)
        per_batch = (ranked.groupBy("source", batch.alias("_b"))
                     .agg(F.count(F.lit(1)).alias("_bd"),
                          F.max("toks").alias("_bmax"),
                          F.sum("toks").alias("_btok")))
        return (per_batch.groupBy("source")
                .agg(F.sum(F.col("_bd") * F.col("_bmax") - F.col("_btok"))
                     .cast("long").alias(tag)))

    llegada = waste(
        grouped_positions(t, ["source"], [F.asc("doc_id")], pos_col="_rn"),
        "relleno_llegada")
    ordenado = waste(
        grouped_positions(t, ["source"],
                          [F.asc("toks"), F.asc("doc_id")], pos_col="_rn"),
        "relleno_ordenado")
    base = (t.groupBy("source")
            .agg(F.count(F.lit(1)).cast("long").alias("n_docs"),
                 F.sum("toks").cast("long").alias("tokens")))
    return (
        base.join(llegada, "source").join(ordenado, "source")
        .select("source", "n_docs", "tokens",
                "relleno_llegada", "relleno_ordenado",
                F.when(F.col("relleno_llegada") > 0,
                       r4((F.col("relleno_llegada")
                           - F.col("relleno_ordenado")).cast("double")
                          / F.col("relleno_llegada")))
                .alias("ahorro"))
        .orderBy("source")
    )


def q_doc_length_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    return doc_length_buckets_frame(_docs(spark, sf_dir))


SQL_DOC_LENGTH_BUCKETS = f"""
WITH t AS (
  SELECT doc_id, source, len({SQL_WORDS})::BIGINT AS toks
  FROM documents
), llegada AS (
  SELECT source, sum(_bd * _bmax - _btok)::BIGINT AS relleno_llegada
  FROM (
    SELECT source, count(*) AS _bd, max(toks) AS _bmax, sum(toks) AS _btok
    FROM (SELECT source, toks,
                 (row_number() OVER (PARTITION BY source ORDER BY doc_id)
                  - 1) // {BATCH_DOCS} AS _b
          FROM t)
    GROUP BY source, _b)
  GROUP BY source
), ordenado AS (
  SELECT source, sum(_bd * _bmax - _btok)::BIGINT AS relleno_ordenado
  FROM (
    SELECT source, count(*) AS _bd, max(toks) AS _bmax, sum(toks) AS _btok
    FROM (SELECT source, toks,
                 (row_number() OVER (PARTITION BY source
                                     ORDER BY toks, doc_id)
                  - 1) // {BATCH_DOCS} AS _b
          FROM t)
    GROUP BY source, _b)
  GROUP BY source
), base AS (
  SELECT source, count(*)::BIGINT AS n_docs, sum(toks)::BIGINT AS tokens
  FROM t GROUP BY source
)
SELECT b.source, b.n_docs, b.tokens,
       l.relleno_llegada, o.relleno_ordenado,
       CASE WHEN l.relleno_llegada > 0 THEN
         floor((l.relleno_llegada - o.relleno_ordenado)::DOUBLE
               / l.relleno_llegada * 10000 + 0.5) / 10000
       ELSE NULL END AS ahorro
FROM base b JOIN llegada l USING (source) JOIN ordenado o USING (source)
ORDER BY b.source
"""

register("doc_length_buckets", q_doc_length_buckets, SQL_DOC_LENGTH_BUCKETS)


# --------------------------------------------------------------------------
# corpus_snapshot_diff — dataset-versioning audit between two corpus
# snapshots: per source, how many docs were added, removed, modified
# (same id, different content hash), or unchanged, and the net
# character delta. This is the review gate a pipeline runs before
# promoting a new crawl/curation snapshot to training — the text-side
# twin of emb_drift_audit. Snapshot B is derived deterministically from
# A (every 13th doc removed, every 7th surviving doc revised, every
# 11th re-ingested under a new id), the established synthesis pattern.
#
# Scale: both sides reduce to (doc_id, source, content hash, length)
# BEFORE the full-outer join — the join shuffles slim keyed rows, never
# text — and the rollup is per-source. At 100 TB both snapshots are
# id-bucketed on disk, making the diff join co-partitioned and
# shuffle-free.
# --------------------------------------------------------------------------

def q_corpus_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _docs(spark, sf_dir)
    a = docs.selectExpr("doc_id", "source", "md5(text) AS _h",
                        "length(text) AS _len")
    b_kept = (docs.filter("doc_id % 13 != 0")
              .selectExpr("doc_id", "source",
                          "CASE WHEN doc_id % 7 = 0 THEN text || ' rev' "
                          "ELSE text END AS text"))
    b_new = (docs.filter("doc_id % 11 = 0")
             .selectExpr("doc_id + 5000000 AS doc_id", "source",
                         "text || ' nuevo' AS text"))
    b = (b_kept.unionByName(b_new)
         .selectExpr("doc_id", "source", "md5(text) AS _h",
                     "length(text) AS _len"))
    joined = (a.selectExpr("doc_id", "source AS _sa", "_h AS _ha",
                           "_len AS _la")
              .join(b.selectExpr("doc_id", "source AS _sb", "_h AS _hb",
                                 "_len AS _lb"),
                    "doc_id", "full_outer"))
    status = (F.when(F.col("_ha").isNull(), F.lit("agregado"))
              .when(F.col("_hb").isNull(), F.lit("eliminado"))
              .when(F.col("_ha") != F.col("_hb"), F.lit("modificado"))
              .otherwise(F.lit("sin_cambio")))
    return (
        joined.select(F.coalesce("_sa", "_sb").alias("source"),
                      status.alias("_st"),
                      (F.coalesce("_lb", F.lit(0))
                       - F.coalesce("_la", F.lit(0))).alias("_d"))
        .groupBy("source")
        .agg(F.sum(F.when(F.col("_st") == "agregado", 1).otherwise(0))
             .cast("long").alias("agregados"),
             F.sum(F.when(F.col("_st") == "eliminado", 1).otherwise(0))
             .cast("long").alias("eliminados"),
             F.sum(F.when(F.col("_st") == "modificado", 1).otherwise(0))
             .cast("long").alias("modificados"),
             F.sum(F.when(F.col("_st") == "sin_cambio", 1).otherwise(0))
             .cast("long").alias("sin_cambio"),
             F.sum("_d").cast("long").alias("delta_chars"))
        .orderBy("source")
    )


SQL_CORPUS_SNAPSHOT_DIFF = """
WITH a AS (
  SELECT doc_id, source, md5(text) AS _h, length(text) AS _len
  FROM documents
), b AS (
  SELECT doc_id, source, md5(text) AS _h, length(text) AS _len FROM (
    SELECT doc_id, source,
           CASE WHEN doc_id % 7 = 0 THEN text || ' rev' ELSE text END AS text
    FROM documents WHERE doc_id % 13 <> 0
    UNION ALL
    SELECT doc_id + 5000000, source, text || ' nuevo'
    FROM documents WHERE doc_id % 11 = 0)
), joined AS (
  SELECT coalesce(a.source, b.source) AS source,
         CASE WHEN a._h IS NULL THEN 'agregado'
              WHEN b._h IS NULL THEN 'eliminado'
              WHEN a._h <> b._h THEN 'modificado'
              ELSE 'sin_cambio' END AS _st,
         coalesce(b._len, 0) - coalesce(a._len, 0) AS _d
  FROM a FULL OUTER JOIN b ON a.doc_id = b.doc_id
)
SELECT source,
       sum(CASE WHEN _st = 'agregado' THEN 1 ELSE 0 END)::BIGINT
         AS agregados,
       sum(CASE WHEN _st = 'eliminado' THEN 1 ELSE 0 END)::BIGINT
         AS eliminados,
       sum(CASE WHEN _st = 'modificado' THEN 1 ELSE 0 END)::BIGINT
         AS modificados,
       sum(CASE WHEN _st = 'sin_cambio' THEN 1 ELSE 0 END)::BIGINT
         AS sin_cambio,
       sum(_d)::BIGINT AS delta_chars
FROM joined GROUP BY source ORDER BY source
"""

register("corpus_snapshot_diff", q_corpus_snapshot_diff,
         SQL_CORPUS_SNAPSHOT_DIFF)


# --------------------------------------------------------------------------
# doc_mixture_sample — mixture MATERIALIZATION: source_mix computes the
# sqrt-temperature sampling weights; this op actually draws the sample.
# Each source gets a target character budget proportional to its
# sqrt-dampened share of a global budget (MIX_BUDGET of total chars),
# converted to a per-source KEEP RATE, and docs are kept by
# deterministic hash-threshold sampling (md5(doc_id) mod 1e6 below the
# rate) — the reproducible, coordination-free sampler a distributed
# pipeline needs (no RNG state, no per-partition seeds; the sample is
# a pure function of the corpus). Reports target vs realized rates per
# source — the drift a finite corpus shows against its design weights.
#
# Scale: two tiny per-source aggregates broadcast back to the corpus
# (the source_mix shape), then a map-only filter + per-source rollup.
# The corpus never shuffles.
# --------------------------------------------------------------------------

MIX_BUDGET = 0.5  # sample half the corpus' characters

_DOC_KEY = "cast(conv(substring(md5(cast(doc_id as string)), 1, 7), 16, 10) as bigint) % 1000000"
_SQL_DOC_KEY = "('0x' || substr(md5(doc_id::VARCHAR), 1, 7))::BIGINT % 1000000"


def q_doc_mixture_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _docs(spark, sf_dir)
    per_source = (docs.groupBy("source")
                  .agg(F.sum("n_chars").cast("long").alias("_chars"),
                       F.count(F.lit(1)).cast("long").alias("_docs")))
    totals = per_source.agg(
        F.sum("_chars").alias("_tchars"),
        F.sum(F.sqrt(F.col("_chars"))).alias("_tsqrt"))
    rates = (per_source.crossJoin(broadcast(totals))
             .select("source", "_chars", "_docs",
                     F.least(F.lit(1.0),
                             F.sqrt(F.col("_chars")) / F.col("_tsqrt")
                             * F.lit(MIX_BUDGET) * F.col("_tchars")
                             / F.col("_chars")).alias("_rate")))
    sampled = (docs.join(broadcast(rates), "source")
               .withColumn("_key", F.expr(_DOC_KEY))
               .withColumn("_keep",
                           (F.col("_key")
                            < F.floor(F.col("_rate") * 1000000))
                           .cast("int")))
    return (
        sampled.groupBy("source")
        .agg(F.count(F.lit(1)).cast("long").alias("docs_total"),
             F.sum("_keep").cast("long").alias("docs_muestra"),
             F.sum("n_chars").cast("long").alias("chars_total"),
             F.sum(F.col("_keep") * F.col("n_chars")).cast("long")
             .alias("chars_muestra"),
             r6(F.max("_rate")).alias("tasa_objetivo"),
             r6(F.sum(F.col("_keep") * F.col("n_chars"))
                / F.sum("n_chars")).alias("tasa_realizada"))
        .orderBy("source")
    )


SQL_DOC_MIXTURE_SAMPLE = f"""
WITH per_source AS (
  SELECT source, sum(n_chars)::BIGINT AS _chars, count(*)::BIGINT AS _docs
  FROM documents GROUP BY source
), totals AS (
  SELECT sum(_chars) AS _tchars, sum(sqrt(_chars)) AS _tsqrt
  FROM per_source
), rates AS (
  SELECT source, _chars, _docs,
         least(1.0, sqrt(_chars) / _tsqrt * {MIX_BUDGET} * _tchars / _chars)
           AS _rate
  FROM per_source CROSS JOIN totals
), sampled AS (
  SELECT d.source, d.n_chars, r._rate,
         CASE WHEN {_SQL_DOC_KEY} < floor(r._rate * 1000000)
              THEN 1 ELSE 0 END AS _keep
  FROM documents d JOIN rates r USING (source)
)
SELECT source,
       count(*)::BIGINT AS docs_total,
       sum(_keep)::BIGINT AS docs_muestra,
       sum(n_chars)::BIGINT AS chars_total,
       sum(_keep * n_chars)::BIGINT AS chars_muestra,
       floor(max(_rate) * 1000000 + 0.5) / 1000000 AS tasa_objetivo,
       floor(sum(_keep * n_chars)::DOUBLE / sum(n_chars) * 1000000 + 0.5)
         / 1000000 AS tasa_realizada
FROM sampled GROUP BY source ORDER BY source
"""

register("doc_mixture_sample", q_doc_mixture_sample, SQL_DOC_MIXTURE_SAMPLE)


# --------------------------------------------------------------------------
# doc_c4_filters — the C4 cleaning-rule battery (Raffel et al. 2020,
# "Colossal Clean Crawled Corpus", §2.2) re-expressed over this corpus:
# keep a LINE only if it ends in terminal punctuation and has at least
# C4_MIN_LINE_WORDS words; drop a whole DOCUMENT if fewer than
# C4_MIN_LINES lines survive, or if it matches a blocklist ("lorem
# ipsum" placeholder text, curly braces = leaked code). The synthetic
# corpus is a flat word stream with no line structure or punctuation, so
# both are injected deterministically first (the established PII-scrub
# pattern): lines are C4_LINE_W-word chunks, line i of doc d "ends in
# punctuation" iff (d + i) % 3 != 0, and the blocklist hits are the
# doc_id % C4_LOREM_MOD / % C4_BRACE_MOD residue classes.
#
# Every rule is INTEGER arithmetic over (doc_id, word count) — the line
# word-counts are least(W, n - i*W) closed-form, so no line text is ever
# materialized; the whole battery is one map-side fold per document
# followed by a per-source rollup. At 100 TB: zero shuffles before the
# |sources|-row aggregate.
# --------------------------------------------------------------------------

C4_LINE_W = 12        # words per injected pseudo-line
C4_MIN_LINE_WORDS = 5  # C4: drop lines with fewer than 5 words
C4_MIN_LINES = 3       # C4: drop pages with fewer than 3 sentences
C4_LOREM_MOD = 41      # injected "lorem ipsum" residue class
C4_BRACE_MOD = 43      # injected curly-brace (code) residue class

_C4_KEPT = (
    f"size(filter(sequence(0, _nl - 1), i -> "
    f"(doc_id + i) % 3 != 0 AND "
    f"least({C4_LINE_W}, _nw - i * {C4_LINE_W}) >= {C4_MIN_LINE_WORDS}))"
)
_SQL_C4_KEPT = (
    f"len(list_filter(range(0, _nl), i -> "
    f"(doc_id + i) % 3 <> 0 AND "
    f"least({C4_LINE_W}, _nw - i * {C4_LINE_W}) >= {C4_MIN_LINE_WORDS}))"
)


def q_doc_c4_filters(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _docs(spark, sf_dir)
    per_doc = (
        docs.selectExpr("doc_id", "source", f"size({WORDS}) AS _nw")
        .selectExpr("doc_id", "source", "_nw",
                    f"(_nw + {C4_LINE_W - 1}) div {C4_LINE_W} AS _nl")
        .selectExpr(
            "doc_id", "source", "_nw", "_nl", f"{_C4_KEPT} AS _kl",
            f"CASE WHEN doc_id % {C4_LOREM_MOD} = 0 "
            f"OR doc_id % {C4_BRACE_MOD} = 0 THEN 1 ELSE 0 END AS _bl"))
    return (
        per_doc.groupBy("source")
        .agg(F.count(F.lit(1)).cast("long").alias("docs_total"),
             F.sum(F.when((F.col("_kl") >= C4_MIN_LINES)
                          & (F.col("_bl") == 0), 1).otherwise(0))
             .cast("long").alias("docs_conservados"),
             F.sum(F.when(F.col("_kl") < C4_MIN_LINES, 1).otherwise(0))
             .cast("long").alias("docs_pocas_lineas"),
             F.sum("_bl").cast("long").alias("docs_bloqueados"),
             F.sum("_nl").cast("long").alias("lineas_total"),
             F.sum("_kl").cast("long").alias("lineas_conservadas"),
             r6(F.sum("_kl") / F.sum("_nl")).alias("tasa_lineas"))
        .orderBy("source")
    )


SQL_DOC_C4_FILTERS = f"""
WITH per_doc AS (
  SELECT doc_id, source, _nw, _nl, {_SQL_C4_KEPT} AS _kl,
         CASE WHEN doc_id % {C4_LOREM_MOD} = 0
              OR doc_id % {C4_BRACE_MOD} = 0 THEN 1 ELSE 0 END AS _bl
  FROM (
    SELECT doc_id, source, _nw, (_nw + {C4_LINE_W - 1}) // {C4_LINE_W} AS _nl
    FROM (SELECT doc_id, source, len({SQL_WORDS}) AS _nw FROM documents))
)
SELECT source,
       count(*)::BIGINT AS docs_total,
       sum(CASE WHEN _kl >= {C4_MIN_LINES} AND _bl = 0 THEN 1 ELSE 0 END)
         ::BIGINT AS docs_conservados,
       sum(CASE WHEN _kl < {C4_MIN_LINES} THEN 1 ELSE 0 END)::BIGINT
         AS docs_pocas_lineas,
       sum(_bl)::BIGINT AS docs_bloqueados,
       sum(_nl)::BIGINT AS lineas_total,
       sum(_kl)::BIGINT AS lineas_conservadas,
       floor(sum(_kl)::DOUBLE / sum(_nl) * 1000000 + 0.5) / 1000000
         AS tasa_lineas
FROM per_doc GROUP BY source ORDER BY source
"""

register("doc_c4_filters", q_doc_c4_filters, SQL_DOC_C4_FILTERS)


# --------------------------------------------------------------------------
# doc_readability — Flesch reading-ease scoring with the standard
# vowel-group syllable heuristic (a maximal [aeiouy]+ run = one
# syllable, floor 1 per word — the rule every readability library uses
# when no dictionary is available). Sentences are the same
# C4_LINE_W-word pseudo-units the C4 battery injects. The score is
# computed on per-SOURCE aggregate ratios (total syllables / total
# words, total words / total sentences) rather than averaging per-doc
# scores: every sum is an INTEGER sum — exact, association-free — and
# the only floating-point happens in one final division per source, so
# the result is bit-identical across partitionings and engines.
#
# Scale: per-row integer folds (no shuffle), one |sources|-row rollup.
# --------------------------------------------------------------------------

_SYL_WORD = "greatest(1, size(filter(split(w, '[^aeiouy]+'), s -> s != '')))"
_SQL_SYL_WORD = ("greatest(1, len(list_filter("
                 "str_split_regex(w, '[^aeiouy]+'), s -> s <> '')))")


def q_doc_readability(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _docs(spark, sf_dir)
    per_doc = (
        docs.selectExpr("doc_id", "source", f"{WORDS} AS _ws")
        .selectExpr(
            "doc_id", "source", "size(_ws) AS _nw",
            f"aggregate(_ws, 0, (a, w) -> a + {_SYL_WORD}) AS _syl",
            f"size(filter(_ws, w -> {_SYL_WORD} = 1)) AS _mono")
        .selectExpr("doc_id", "source", "_nw", "_syl", "_mono",
                    f"greatest(1, _nw div {C4_LINE_W}) AS _sent"))
    return (
        per_doc.groupBy("source")
        .agg(F.count(F.lit(1)).cast("long").alias("docs"),
             F.sum("_nw").cast("long").alias("palabras"),
             F.sum("_syl").cast("long").alias("silabas"),
             F.sum("_sent").cast("long").alias("oraciones"),
             F.sum("_mono").cast("long").alias("monosilabas"))
        .select(
            "source", "docs", "palabras", "silabas", "oraciones",
            "monosilabas",
            r6(F.col("silabas") / F.col("palabras"))
            .alias("silabas_por_palabra"),
            r6(F.col("palabras") / F.col("oraciones"))
            .alias("palabras_por_oracion"),
            r6(F.col("monosilabas") / F.col("palabras"))
            .alias("tasa_monosilabas"),
            r6(F.lit(206.835)
               - F.lit(1.015) * (F.col("palabras") / F.col("oraciones"))
               - F.lit(84.6) * (F.col("silabas") / F.col("palabras")))
            .alias("flesch"))
        .orderBy("source")
    )


SQL_DOC_READABILITY = f"""
WITH per_doc AS (
  SELECT doc_id, source, _nw, _syl, _mono,
         greatest(1, _nw // {C4_LINE_W}) AS _sent
  FROM (
    SELECT doc_id, source, len(_ws) AS _nw,
           list_sum(list_transform(_ws, w -> {_SQL_SYL_WORD}))::BIGINT
             AS _syl,
           len(list_filter(_ws, w -> {_SQL_SYL_WORD} = 1)) AS _mono
    FROM (SELECT doc_id, source, {SQL_WORDS} AS _ws FROM documents))
), agg AS (
  SELECT source, count(*)::BIGINT AS docs, sum(_nw)::BIGINT AS palabras,
         sum(_syl)::BIGINT AS silabas, sum(_sent)::BIGINT AS oraciones,
         sum(_mono)::BIGINT AS monosilabas
  FROM per_doc GROUP BY source
)
SELECT source, docs, palabras, silabas, oraciones, monosilabas,
       floor(silabas::DOUBLE / palabras * 1000000 + 0.5) / 1000000
         AS silabas_por_palabra,
       floor(palabras::DOUBLE / oraciones * 1000000 + 0.5) / 1000000
         AS palabras_por_oracion,
       floor(monosilabas::DOUBLE / palabras * 1000000 + 0.5) / 1000000
         AS tasa_monosilabas,
       floor((206.835 - 1.015 * (palabras::DOUBLE / oraciones)
              - 84.6 * (silabas::DOUBLE / palabras)) * 1000000 + 0.5)
         / 1000000 AS flesch
FROM agg ORDER BY source
"""

register("doc_readability", q_doc_readability, SQL_DOC_READABILITY)


# --------------------------------------------------------------------------
# doc_hash_classifier — fastText-style model-based quality filtering
# (the classifier gate GPT-3/LLaMA-class pipelines run after the rule
# batteries): a linear model over hashed word-BIGRAM features. Real
# deployments load trained weights; here the weight table is the
# canonical deterministic stand-in — feature hash h (md5-derived, the
# engine's portable hash) maps to integer weight (h % 2001) - 1000 in
# [-1000, 1000], i.e. a fixed pseudo-random but fully reproducible
# model. A document's raw score is the INTEGER sum of its bigram
# weights (exact, association-free); the normalized score divides by
# 1000·n_bigrams only at the edge. Keep rule: raw score > 0.
#
# Scale: per-row fold over the gram list (no explode, no shuffle —
# the weight "lookup" is arithmetic, so there is no weight-table join
# at all), then the |sources|-row rollup. A real trained model swaps
# the arithmetic for a broadcast map lookup; the plan is unchanged.
# --------------------------------------------------------------------------

_GRAM_W = ("cast(conv(substring(md5(concat(element_at(_ws, i), ' ', "
           "element_at(_ws, i + 1))), 1, 7), 16, 10) as bigint) "
           "% 2001 - 1000")
_SQL_GRAM_W = ("('0x' || substr(md5(_ws[i] || ' ' || _ws[i + 1]), 1, 7))"
               "::BIGINT % 2001 - 1000")


def with_clf_score(docs: DataFrame) -> DataFrame:
    """Append the classifier columns (``_gi``, ``_si``, ``_score``) to
    ``docs`` WITHOUT dropping any existing column. Pure per-row folds —
    stateless, so the same expression gates batch frames and streaming
    micro-batches (``streaming.corpus.stream_curation_gate``) with
    bit-identical verdicts."""
    return (
        docs.withColumn("_ws", F.expr(WORDS))
        .withColumn("_gi", F.expr("greatest(0, size(_ws) - 1)"))
        .withColumn("_si", F.expr(
            f"CASE WHEN size(_ws) >= 2 THEN "
            f"aggregate(sequence(1, size(_ws) - 1), cast(0 as bigint), "
            f"(a, i) -> a + ({_GRAM_W})) ELSE cast(0 as bigint) END"))
        .withColumn("_score", F.expr(
            "CASE WHEN _gi = 0 THEN cast(0.0 as double) "
            "ELSE _si / (1000.0 * _gi) END"))
        .drop("_ws"))


def doc_clf_scores(docs: DataFrame) -> DataFrame:
    """Per-document hashed-bigram classifier score — the frame-level seam
    the pipeline's ``--min-clf-score`` stage shares with
    ``doc_hash_classifier`` (same split, same weights, same edge rule
    for <2-word docs)."""
    return with_clf_score(docs).select("doc_id", "source", "_gi", "_si",
                                       "_score")


def q_doc_hash_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    per_doc = doc_clf_scores(_docs(spark, sf_dir))
    return (
        per_doc.groupBy("source")
        .agg(F.count(F.lit(1)).cast("long").alias("docs_total"),
             F.sum(F.when(F.col("_si") > 0, 1).otherwise(0)).cast("long")
             .alias("docs_conservados"),
             F.sum("_si").cast("long").alias("_ssum"),
             F.sum("_gi").cast("long").alias("_gsum"),
             r6(F.max("_score")).alias("puntaje_max"),
             r6(F.min("_score")).alias("puntaje_min"))
        .select("source", "docs_total", "docs_conservados",
                r6(F.when(F.col("_gsum") == 0, F.lit(0.0))
                   .otherwise(F.col("_ssum") / (F.lit(1000.0)
                                                * F.col("_gsum"))))
                .alias("puntaje_medio"),
                "puntaje_max", "puntaje_min")
        .orderBy("source")
    )


SQL_DOC_HASH_CLASSIFIER = f"""
WITH per_doc AS (
  SELECT doc_id, source, _gi, _si,
         CASE WHEN _gi = 0 THEN 0.0
              ELSE _si / (1000.0 * _gi) END AS _score
  FROM (
    SELECT doc_id, source, greatest(0, len(_ws) - 1) AS _gi,
           coalesce(list_sum(list_transform(range(1, len(_ws)),
                                            i -> {_SQL_GRAM_W})), 0)::BIGINT
             AS _si
    FROM (SELECT doc_id, source, {SQL_WORDS} AS _ws FROM documents))
), agg AS (
  SELECT source, count(*)::BIGINT AS docs_total,
         sum(CASE WHEN _si > 0 THEN 1 ELSE 0 END)::BIGINT
           AS docs_conservados,
         sum(_si)::BIGINT AS _ssum, sum(_gi)::BIGINT AS _gsum,
         floor(max(_score) * 1000000 + 0.5) / 1000000 AS puntaje_max,
         floor(min(_score) * 1000000 + 0.5) / 1000000 AS puntaje_min
  FROM per_doc GROUP BY source
)
SELECT source, docs_total, docs_conservados,
       floor(CASE WHEN _gsum = 0 THEN 0.0
                  ELSE _ssum / (1000.0 * _gsum) END * 1000000 + 0.5)
         / 1000000 AS puntaje_medio,
       puntaje_max, puntaje_min
FROM agg ORDER BY source
"""

register("doc_hash_classifier", q_doc_hash_classifier,
         SQL_DOC_HASH_CLASSIFIER)


# --------------------------------------------------------------------------
# corpus_compaction_audit — the small-file compaction planner every
# petabyte lake runs between ingestion and training reads: group the
# table's files into sequential target-size output bins and report, per
# source, how many files collapse into how many bins and how full the
# bins land. Input "files" are synthesized deterministically from the
# corpus (file = (source, doc_id % COMPACT_FILES_MOD), bytes = UTF-8
# octets — the manifest shape sinks/shards.py writes for real).
# Bin assignment is the sequential greedy rule: a file opens a new bin
# when the running byte total crosses a COMPACT_TARGET boundary —
# bin = (cum_before_file) div TARGET, exact integer arithmetic.
#
# Scale: the audit runs over the FILE MANIFEST (rows = files, not
# docs) — millions of rows at 100 TB, not billions. The per-source
# running sum uses grouped_positions' two-level cumsum (range partition
# + triangular broadcast offsets), so one source owning most files
# still fans across partitions; integer cum → bit-exact.
# --------------------------------------------------------------------------

COMPACT_FILES_MOD = 8
COMPACT_TARGET = 4096  # compaction target bytes per output bin


def q_corpus_compaction_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.sorting import grouped_positions
    docs = _docs(spark, sf_dir)
    files = (docs.selectExpr("source",
                             f"doc_id % {COMPACT_FILES_MOD} AS file_id",
                             "octet_length(text) AS _b")
             .groupBy("source", "file_id")
             .agg(F.sum("_b").cast("long").alias("bytes")))
    cum = grouped_positions(files, ["source"],
                            [F.col("file_id").asc()], pos_col="_pos",
                            cum_of=F.col("bytes"), cum_col="_cum",
                            materialize=True)
    binned = cum.selectExpr(
        "source", "file_id", "bytes",
        f"(_cum - bytes) div {COMPACT_TARGET} AS _bin")
    per_bin = (binned.groupBy("source", "_bin")
               .agg(F.count(F.lit(1)).cast("long").alias("_bf"),
                    F.sum("bytes").cast("long").alias("_bb")))
    return (
        per_bin.groupBy("source")
        .agg(F.sum("_bf").cast("long").alias("archivos"),
             F.count(F.lit(1)).cast("long").alias("bins"),
             F.sum("_bb").cast("long").alias("bytes_total"),
             F.max("_bb").cast("long").alias("bytes_bin_max"),
             F.max("_bf").cast("long").alias("archivos_bin_max"))
        .select("source", "archivos", "bins", "bytes_total",
                "bytes_bin_max", "archivos_bin_max",
                r6(F.col("archivos") / F.col("bins"))
                .alias("factor_compactacion"),
                r6(F.col("bytes_total")
                   / (F.col("bins") * F.lit(float(COMPACT_TARGET))))
                .alias("llenado_medio"))
        .orderBy("source")
    )


SQL_CORPUS_COMPACTION_AUDIT = f"""
WITH files AS (
  SELECT source, doc_id % {COMPACT_FILES_MOD} AS file_id,
         sum(strlen(text))::BIGINT AS bytes
  FROM documents GROUP BY source, doc_id % {COMPACT_FILES_MOD}
), cum AS (
  SELECT source, file_id, bytes,
         sum(bytes) OVER (PARTITION BY source ORDER BY file_id
                          ROWS UNBOUNDED PRECEDING) AS _cum
  FROM files
), binned AS (
  SELECT source, file_id, bytes, (_cum - bytes) // {COMPACT_TARGET} AS _bin
  FROM cum
), per_bin AS (
  SELECT source, _bin, count(*)::BIGINT AS _bf, sum(bytes)::BIGINT AS _bb
  FROM binned GROUP BY source, _bin
), agg AS (
  SELECT source, sum(_bf)::BIGINT AS archivos, count(*)::BIGINT AS bins,
         sum(_bb)::BIGINT AS bytes_total, max(_bb)::BIGINT AS bytes_bin_max,
         max(_bf)::BIGINT AS archivos_bin_max
  FROM per_bin GROUP BY source
)
SELECT source, archivos, bins, bytes_total, bytes_bin_max,
       archivos_bin_max,
       floor(archivos::DOUBLE / bins * 1000000 + 0.5) / 1000000
         AS factor_compactacion,
       floor(bytes_total::DOUBLE / (bins * {COMPACT_TARGET}.0)
             * 1000000 + 0.5) / 1000000 AS llenado_medio
FROM agg ORDER BY source
"""

register("corpus_compaction_audit", q_corpus_compaction_audit,
         SQL_CORPUS_COMPACTION_AUDIT)


# --------------------------------------------------------------------------
# doc_bm25_topk — BM25 retrieval over the corpus (k1 = 1.2, b = 0.75),
# the ranking behind dedup-by-retrieval and eval-set mining: score every
# document against a fixed query-term set and return the global top
# BM25_TOP. Query terms are the hash-selected fifth of the vocabulary
# (deterministic stand-in for a user query). The IDF uses the RATIONAL
# form (N - df + 0.5)/(df + 0.5) — the argument of the standard
# log-idf, kept unlogged because log/exp are not bit-portable across
# engines (the doc_dsir_weights precedent); the tf saturation term is
# textbook. Each (doc, term) contribution is quantized to 1e-6 BEFORE
# summation, so the per-doc score is an exact INTEGER sum —
# association-free across partitionings and engines.
#
# Scale: one wordcount-class shuffle for tf (map-side combine), df and
# corpus stats are term-/1-row-sized broadcasts, and the query-term
# probe is a broadcast semi-join — the classic BM25 shape. The global
# top-k runs on per-doc SCORES (|matched docs| rows), a TakeOrdered,
# never a single-partition sort of the corpus.
# --------------------------------------------------------------------------

BM25_K1 = 1.2
BM25_B = 0.75
BM25_TOP = 20
BM25_QMOD = 5  # hash-selected 1/5 of the vocabulary is "the query"

# identical arithmetic text on both engines: double-precision ops are
# deterministic given the same evaluation order.
_BM25_CONTRIB = (
    "floor(((2.0 * {N} - 2.0 * df + 1.0) / (2.0 * df + 1.0)) * "
    "((tf * {k1p1}) / (tf + {k1} * ({omb} + {b} * "
    "({dlcast} * {N} / {sumdl})))) * 1000000 + 0.5)"
)


def q_doc_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _docs(spark, sf_dir)
    words = (docs.selectExpr("doc_id", "source", f"explode({WORDS}) AS w"))
    tf = (words.groupBy("doc_id", "source", "w")
          .agg(F.count(F.lit(1)).cast("long").alias("tf")))
    # doc lengths derived FROM the tf table (docs are never re-scanned,
    # and dl is doc-keyed for a co-partitioned join — never broadcast:
    # it is corpus-sized).
    dl = tf.groupBy("doc_id").agg(F.sum("tf").cast("long").alias("dl"))
    stats = dl.agg(F.count(F.lit(1)).cast("long").alias("_N"),
                   F.sum("dl").cast("long").alias("_sumdl"))
    df_t = tf.groupBy("w").agg(F.count(F.lit(1)).cast("long").alias("df"))
    qterms = df_t.filter(F.expr(
        f"cast(conv(substring(md5(w), 1, 7), 16, 10) as bigint) "
        f"% {BM25_QMOD} = 0"))
    contrib = (
        tf.join(broadcast(qterms), "w")
        .join(dl, "doc_id")
        .crossJoin(broadcast(stats))
        .selectExpr(
            "doc_id", "source",
            _BM25_CONTRIB.format(
                N="_N", k1p1=BM25_K1 + 1, k1=BM25_K1, omb=1 - BM25_B,
                b=BM25_B, dlcast="cast(dl as double)", sumdl="_sumdl")
            + " AS _ci"))
    scored = (contrib.groupBy("doc_id", "source")
              .agg(F.sum("_ci").cast("long").alias("_c"),
                   F.count(F.lit(1)).cast("long").alias("terminos")))
    return (
        scored.orderBy(F.col("_c").desc(), F.col("doc_id").asc())
        .limit(BM25_TOP)
        .select("doc_id", "source", "terminos",
                r6(F.col("_c") / 1000000.0).alias("puntaje"))
    )


SQL_DOC_BM25_TOPK = f"""
WITH words AS (
  SELECT doc_id, source, unnest({SQL_WORDS}) AS w FROM documents
), tf AS (
  SELECT doc_id, source, w, count(*)::BIGINT AS tf
  FROM words GROUP BY doc_id, source, w
), dl AS (
  SELECT doc_id, len({SQL_WORDS}) AS dl FROM documents
), stats AS (
  SELECT count(*)::BIGINT AS _N, sum(dl)::BIGINT AS _sumdl FROM dl
), df_t AS (
  SELECT w, count(*)::BIGINT AS df FROM tf GROUP BY w
), qterms AS (
  SELECT w, df FROM df_t
  WHERE ('0x' || substr(md5(w), 1, 7))::BIGINT % {BM25_QMOD} = 0
), contrib AS (
  SELECT t.doc_id, t.source,
         {_BM25_CONTRIB.format(N="_N", k1p1=BM25_K1 + 1, k1=BM25_K1,
                               omb=1 - BM25_B, b=BM25_B,
                               dlcast="dl::DOUBLE", sumdl="_sumdl")} AS _ci
  FROM tf t JOIN qterms q USING (w) JOIN dl USING (doc_id)
  CROSS JOIN stats
), scored AS (
  SELECT doc_id, source, sum(_ci)::BIGINT AS _c,
         count(*)::BIGINT AS terminos
  FROM contrib GROUP BY doc_id, source
)
SELECT doc_id, source, terminos,
       floor(_c / 1000000.0 * 1000000 + 0.5) / 1000000 AS puntaje
FROM scored ORDER BY _c DESC, doc_id LIMIT {BM25_TOP}
"""

register("doc_bm25_topk", q_doc_bm25_topk, SQL_DOC_BM25_TOPK)


# --------------------------------------------------------------------------
# training_mix_epochs — the data-recipe table (the LLaMA/Gopher "epochs
# per source" planning view): given the sqrt-dampened mixture weights
# (source_mix's formula) and a total token budget of MIX_EPOCHS_MULT x
# the corpus, how many tokens does each source contribute and how many
# PASSES over its data does that imply? epochs > 1 is the repetition
# warning the budget planner reads before committing a mixture —
# up-weighted small sources repeat; the audit quantifies by how much.
#
# Scale: one wordcount-class aggregate to |sources| rows, a 1-row
# broadcast of the totals, and closed-form arithmetic — corpus-size-
# free after the single scan. sqrt only (bit-portable); the token
# target is floor-quantized so every downstream figure is exact
# integer arithmetic.
# --------------------------------------------------------------------------

MIX_EPOCHS_MULT = 2.0  # token budget = this x total corpus tokens


def q_training_mix_epochs(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _docs(spark, sf_dir)
    per_source = (docs.selectExpr("source", f"size({WORDS}) AS _t")
                  .groupBy("source")
                  .agg(F.count(F.lit(1)).cast("long").alias("n_docs"),
                       F.sum("_t").cast("long").alias("tokens")))
    totals = per_source.agg(
        F.sum("tokens").alias("_ttok"),
        F.sum(F.sqrt(F.col("tokens"))).alias("_ssqrt"))
    return (
        per_source.crossJoin(broadcast(totals))
        .selectExpr(
            "source", "n_docs", "tokens",
            "floor(sqrt(tokens) / _ssqrt * 1000000 + 0.5) / 1000000 "
            "AS peso",
            f"cast(floor({MIX_EPOCHS_MULT} * _ttok * "
            f"(sqrt(tokens) / _ssqrt) + 0.5) as bigint) AS tokens_objetivo")
        .selectExpr(
            "source", "n_docs", "tokens", "peso", "tokens_objetivo",
            "floor(cast(tokens_objetivo as double) / tokens "
            "* 1000000 + 0.5) / 1000000 AS epocas",
            "tokens_objetivo > tokens AS repetido")
        .orderBy("source")
    )


SQL_TRAINING_MIX_EPOCHS = f"""
WITH per_source AS (
  SELECT source, count(*)::BIGINT AS n_docs,
         sum(len({SQL_WORDS}))::BIGINT AS tokens
  FROM documents GROUP BY source
), totals AS (
  SELECT sum(tokens) AS _ttok, sum(sqrt(tokens)) AS _ssqrt FROM per_source
), planned AS (
  SELECT source, n_docs, tokens,
         floor(sqrt(tokens) / _ssqrt * 1000000 + 0.5) / 1000000 AS peso,
         floor({MIX_EPOCHS_MULT} * _ttok * (sqrt(tokens) / _ssqrt) + 0.5)
           ::BIGINT AS tokens_objetivo
  FROM per_source CROSS JOIN totals
)
SELECT source, n_docs, tokens, peso, tokens_objetivo,
       floor(tokens_objetivo::DOUBLE / tokens * 1000000 + 0.5) / 1000000
         AS epocas,
       tokens_objetivo > tokens AS repetido
FROM planned ORDER BY source
"""

register("training_mix_epochs", q_training_mix_epochs,
         SQL_TRAINING_MIX_EPOCHS)


# --------------------------------------------------------------------------
# doc_langmix_detect — within-document code-switching: lang-id each
# C4_LINE_W-word pseudo-chunk with the doc_lang_id stopword vote and
# flag documents whose chunks disagree (en chunks AND es chunks). Whole-
# doc lang-id (doc_lang_id) averages the votes away — a half-English
# half-Spanish page looks confidently bilingual only at chunk
# granularity. Mixed docs are the ones a monolingual filter silently
# truncates and a tokenizer fertility estimate mis-prices.
#
# Scale: per-row folds over the staged word array (chunk slices are
# positional — no explode, no shuffle), then a |langs|-row rollup.
# --------------------------------------------------------------------------

_EN_SW = "'the','and','of','is','to','in'"
_ES_SW = "'el','la','de','los','un','en'"

_CHUNK_EN = (f"size(filter(slice(_ws, i * {C4_LINE_W} + 1, "
             f"least({C4_LINE_W}, _nw - i * {C4_LINE_W})), "
             f"w -> w in ({_EN_SW})))")
_CHUNK_ES = (f"size(filter(slice(_ws, i * {C4_LINE_W} + 1, "
             f"least({C4_LINE_W}, _nw - i * {C4_LINE_W})), "
             f"w -> w in ({_ES_SW})))")
_SQL_CHUNK_EN = (f"len(list_filter(list_slice(_ws, i * {C4_LINE_W} + 1, "
                 f"least((i + 1) * {C4_LINE_W}, _nw)), "
                 f"w -> w IN ({_EN_SW})))")
_SQL_CHUNK_ES = (f"len(list_filter(list_slice(_ws, i * {C4_LINE_W} + 1, "
                 f"least((i + 1) * {C4_LINE_W}, _nw)), "
                 f"w -> w IN ({_ES_SW})))")


def q_doc_langmix_detect(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _docs(spark, sf_dir)
    per_doc = (
        docs.selectExpr("doc_id", "lang", f"{WORDS} AS _ws")
        .selectExpr("doc_id", "lang", "_ws", "size(_ws) AS _nw")
        .selectExpr("doc_id", "lang", "_ws", "_nw",
                    f"(_nw + {C4_LINE_W - 1}) div {C4_LINE_W} AS _nl")
        .selectExpr(
            "doc_id", "lang", "_nl",
            f"size(filter(sequence(0, _nl - 1), "
            f"i -> {_CHUNK_EN} > {_CHUNK_ES})) AS _cen",
            f"size(filter(sequence(0, _nl - 1), "
            f"i -> {_CHUNK_ES} > {_CHUNK_EN})) AS _ces"))
    return (
        per_doc.groupBy("lang")
        .agg(F.count(F.lit(1)).cast("long").alias("docs"),
             F.sum(F.when((F.col("_cen") > 0) & (F.col("_ces") > 0), 1)
                   .otherwise(0)).cast("long").alias("docs_mezclados"),
             F.sum("_cen").cast("long").alias("trozos_en"),
             F.sum("_ces").cast("long").alias("trozos_es"),
             F.sum(F.col("_nl") - F.col("_cen") - F.col("_ces"))
             .cast("long").alias("trozos_unk"))
        .select("lang", "docs", "docs_mezclados", "trozos_en", "trozos_es",
                "trozos_unk",
                r6(F.col("docs_mezclados") / F.col("docs"))
                .alias("tasa_mezcla"))
        .orderBy("lang")
    )


SQL_DOC_LANGMIX_DETECT = f"""
WITH per_doc AS (
  SELECT doc_id, lang, _nl,
         len(list_filter(range(0, _nl),
                         i -> {_SQL_CHUNK_EN} > {_SQL_CHUNK_ES})) AS _cen,
         len(list_filter(range(0, _nl),
                         i -> {_SQL_CHUNK_ES} > {_SQL_CHUNK_EN})) AS _ces
  FROM (
    SELECT doc_id, lang, _ws, _nw,
           (_nw + {C4_LINE_W - 1}) // {C4_LINE_W} AS _nl
    FROM (SELECT doc_id, lang, {SQL_WORDS} AS _ws,
                 len({SQL_WORDS}) AS _nw
          FROM documents))
), agg AS (
  SELECT lang, count(*)::BIGINT AS docs,
         sum(CASE WHEN _cen > 0 AND _ces > 0 THEN 1 ELSE 0 END)::BIGINT
           AS docs_mezclados,
         sum(_cen)::BIGINT AS trozos_en, sum(_ces)::BIGINT AS trozos_es,
         sum(_nl - _cen - _ces)::BIGINT AS trozos_unk
  FROM per_doc GROUP BY lang
)
SELECT lang, docs, docs_mezclados, trozos_en, trozos_es, trozos_unk,
       floor(docs_mezclados::DOUBLE / docs * 1000000 + 0.5) / 1000000
         AS tasa_mezcla
FROM agg ORDER BY lang
"""

register("doc_langmix_detect", q_doc_langmix_detect, SQL_DOC_LANGMIX_DETECT)


# --------------------------------------------------------------------------
# vocab_growth_curve — Heaps-law vocabulary growth in INGESTION order:
# docs are ranked by doc_id into quartiles and each distinct word is
# attributed to the quartile where it first appears (quartile is
# monotone in rank, so min(quartile) == quartile of the min-rank doc).
# A healthy crawl keeps discovering vocabulary (sub-linear but nonzero
# growth per quartile); a collapsing tail — late quartiles adding ~no
# new words — is the saturation signal that stops further crawling of a
# source. The complement at shingle granularity is doc_ngram_novelty.
#
# Scale: the doc ranking runs over a SLIM (doc_id) projection through
# global_positions (range partition + local rank + triangular broadcast
# offsets — no SinglePartition funnel over the corpus); the three
# quartile-BOUNDARY doc_ids come back as a 1-row broadcast, so the text
# itself is bucketed map-side and never rides a shuffle (an earlier
# form range-shuffled the word arrays — docs/METRICS.md read
# shuffle/scan 3.7 until the boundary-broadcast rewrite). Only the
# first-occurrence attribution pays a word-level shuffle (min(quartile)
# per word, map-side partial); the running vocab total is a window over
# the 4-row rollup — bounded by construction. Empty middle quartiles
# (N < 4) inherit the previous boundary so the bucket arithmetic stays
# exact: cuartil = 1 + sum_q [doc_id > effective_boundary_q], which
# equals the rank formula because quartile is monotone in rank.
# --------------------------------------------------------------------------

VOCAB_QUARTILES = 4


def q_vocab_growth_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.sorting import global_positions

    docs = _docs(spark, sf_dir)
    ranked = global_positions(
        docs.select("doc_id"), [F.col("doc_id").asc()], pos_col="_pos")
    n_docs = ranked.agg(F.count(F.lit(1)).cast("long").alias("_n"))
    slim_q = (ranked.crossJoin(broadcast(n_docs))
              .selectExpr("doc_id",
                          f"least({VOCAB_QUARTILES - 1}, "
                          f"cast((_pos - 1) * {VOCAB_QUARTILES} div _n "
                          f"as int)) + 1 AS _q"))
    bounds = slim_q.agg(
        *[F.max(F.when(F.col("_q") == q, F.col("doc_id"))).alias(f"_b{q}")
          for q in range(1, VOCAB_QUARTILES)])
    # effective boundary for quartile q: its own last doc_id, or (when
    # the quartile is empty at N < VOCAB_QUARTILES) the previous one's.
    eff = {q: "coalesce(" + ", ".join(f"_b{j}" for j in range(q, 0, -1))
           + ")" for q in range(1, VOCAB_QUARTILES)}
    cuartil_expr = "1 + " + " + ".join(
        f"(CASE WHEN doc_id > {eff[q]} THEN 1 ELSE 0 END)"
        for q in range(1, VOCAB_QUARTILES))
    quart = (docs.selectExpr("doc_id", f"{WORDS} AS _ws")
             .crossJoin(broadcast(bounds))
             .selectExpr("_ws", f"{cuartil_expr} AS cuartil"))
    # doc and token counts fold map-side from size(_ws) — only the
    # first-occurrence attribution pays the word-level shuffle.
    docs_q = (quart.groupBy("cuartil")
              .agg(F.count(F.lit(1)).cast("long").alias("docs"),
                   F.sum(F.size("_ws")).cast("long").alias("palabras")))
    first_q = (quart.select("cuartil", F.explode("_ws").alias("w"))
               .groupBy("w")
               .agg(F.min("cuartil").alias("_fq"))
               .groupBy("_fq")
               .agg(F.count(F.lit(1)).cast("long").alias("vocab_nuevo"))
               .withColumnRenamed("_fq", "cuartil"))
    # 4-row frame: the running total window is bounded by construction.
    wq = (Window.orderBy("cuartil")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    return (docs_q
            .join(first_q, "cuartil", "left")
            .select("cuartil", "docs", "palabras",
                    F.coalesce("vocab_nuevo", F.lit(0)).cast("long")
                    .alias("vocab_nuevo"))
            .withColumn("vocab_acum",
                        F.sum("vocab_nuevo").over(wq).cast("long"))
            .select("cuartil", "docs", "palabras", "vocab_nuevo",
                    "vocab_acum",
                    r6(F.col("vocab_nuevo") / F.col("palabras"))
                    .alias("tasa_nuevas"))
            .orderBy("cuartil"))


SQL_VOCAB_GROWTH_CURVE = f"""
WITH ranked AS (
  SELECT {SQL_WORDS} AS _ws,
         row_number() OVER (ORDER BY doc_id) AS _pos,
         count(*) OVER () AS _n
  FROM documents
), quart AS (
  SELECT _ws,
         least({VOCAB_QUARTILES - 1},
               ((_pos - 1) * {VOCAB_QUARTILES}) // _n)::INT + 1 AS cuartil
  FROM ranked
), first_q AS (
  SELECT cuartil, count(*)::BIGINT AS vocab_nuevo FROM (
    SELECT w, min(cuartil) AS cuartil
    FROM (SELECT cuartil, unnest(_ws) AS w FROM quart) GROUP BY w)
  GROUP BY cuartil
), docs_q AS (
  SELECT cuartil, count(*)::BIGINT AS docs,
         sum(len(_ws))::BIGINT AS palabras
  FROM quart GROUP BY cuartil
), joined AS (
  SELECT d.cuartil, d.docs, d.palabras,
         coalesce(f.vocab_nuevo, 0)::BIGINT AS vocab_nuevo
  FROM docs_q d
  LEFT JOIN first_q f USING (cuartil)
)
SELECT cuartil, docs, palabras, vocab_nuevo,
       sum(vocab_nuevo) OVER (ORDER BY cuartil
                              ROWS UNBOUNDED PRECEDING)::BIGINT
         AS vocab_acum,
       floor(vocab_nuevo::DOUBLE / palabras * 1000000 + 0.5) / 1000000
         AS tasa_nuevas
FROM joined ORDER BY cuartil
"""

register("vocab_growth_curve", q_vocab_growth_curve, SQL_VOCAB_GROWTH_CURVE)


# --------------------------------------------------------------------------
# doc_clf_calibration — classifier evaluation: precision / recall / F1
# of the hashed-bigram quality classifier against the composite quality
# rule (calidad >= CURATION_MIN_QUALITY, the doc_curation gate), swept
# over a threshold grid. The missing step between training a cheap
# filter and trusting it to gate a corpus: pick the operating point from
# a measured curve, not a default. Prediction at threshold tau is the
# EXACT integer comparison _si > tau_mili * _gi (equivalent to
# normalized score > tau_mili/1000 for gi > 0, and the classifier's own
# strict keep-rule at tau = 0) — no float compare sits on a decision
# boundary, so both engines agree bit-for-bit.
#
# Scale: ONE scan of the corpus computes both the classifier fold and
# the quality signals per row (no join — both are per-row expressions);
# the grid fan-out is a 9-way explode into a 9-key aggregate with
# map-side combine, so the exchange carries |partitions| x 9 rows.
# Ratios derive from exact integer counts (r6 at the edge).
# --------------------------------------------------------------------------

CLF_TAU_GRID_MILI = (-80, -60, -40, -20, 0, 20, 40, 60, 80)


def q_doc_clf_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .text import _QUALITY_COLS, _quality_score, CURATION_MIN_QUALITY

    docs = load_table(spark, sf_dir, "documents")
    scored = with_clf_score(docs).selectExpr(
        "doc_id", "_gi", "_si", *_QUALITY_COLS)
    per_doc = scored.select(
        "_gi", "_si",
        (r4(_quality_score()) >= CURATION_MIN_QUALITY).alias("_pos"))
    grid = ", ".join(f"{t}L" for t in CLF_TAU_GRID_MILI)
    fan = per_doc.select(
        F.expr(f"explode(array({grid}))").alias("tau_mili"),
        "_gi", "_si", "_pos")
    pred = F.col("_si") > F.col("tau_mili") * F.col("_gi")
    agg = (fan.groupBy("tau_mili")
           .agg(F.sum(F.when(pred & F.col("_pos"), 1).otherwise(0))
                .cast("long").alias("tp"),
                F.sum(F.when(pred & ~F.col("_pos"), 1).otherwise(0))
                .cast("long").alias("fp"),
                F.sum(F.when(~pred & F.col("_pos"), 1).otherwise(0))
                .cast("long").alias("fn"),
                F.sum(F.when(~pred & ~F.col("_pos"), 1).otherwise(0))
                .cast("long").alias("tn")))
    return (agg.selectExpr(
        "tau_mili", "tp", "fp", "fn", "tn",
        "floor(CASE WHEN tp + fp = 0 THEN cast(0 as double) "
        "ELSE tp / cast(tp + fp as double) END * 1000000 + 0.5) "
        "/ 1000000 AS precision",
        "floor(CASE WHEN tp + fn = 0 THEN cast(0 as double) "
        "ELSE tp / cast(tp + fn as double) END * 1000000 + 0.5) "
        "/ 1000000 AS recall",
        "floor(CASE WHEN 2 * tp + fp + fn = 0 THEN cast(0 as double) "
        "ELSE 2 * tp / cast(2 * tp + fp + fn as double) END "
        "* 1000000 + 0.5) / 1000000 AS f1")
        .orderBy("tau_mili"))


# (the F1 identity 2PR/(P+R) = 2tp/(2tp+fp+fn) over exact integers keeps
# the rounded value independent of intermediate float rounding)

from .text import _STOPWORDS as _CLF_STOPWORDS  # noqa: E402
from .text import CURATION_MIN_QUALITY as _CLF_MIN_Q  # noqa: E402

SQL_DOC_CLF_CALIBRATION = f"""
WITH per_doc AS (
  SELECT greatest(0, len(_ws) - 1) AS _gi,
         coalesce(list_sum(list_transform(range(1, len(_ws)),
                                          i -> {_SQL_GRAM_W})), 0)::BIGINT
           AS _si,
         floor((least(strlen(text)::DOUBLE / 400, 1.0) * 0.4
                + (len(list_distinct(_ws))::DOUBLE / len(_ws)::DOUBLE) * 0.4
                + (1 - abs(len(list_filter(_ws,
                           w -> w IN ({_CLF_STOPWORDS})))::DOUBLE
                           / len(_ws)::DOUBLE - 0.2)) * 0.2)
               * 10000 + 0.5) / 10000 >= {_CLF_MIN_Q} AS _pos
  FROM (SELECT text, {SQL_WORDS} AS _ws FROM documents)
), fan AS (
  SELECT t.tau_mili, _gi, _si, _pos,
         (_si > t.tau_mili * _gi) AS _pred
  FROM per_doc CROSS JOIN (SELECT unnest([{', '.join(str(t) for t in CLF_TAU_GRID_MILI)}]) AS tau_mili) t
), agg AS (
  SELECT tau_mili,
         sum(CASE WHEN _pred AND _pos THEN 1 ELSE 0 END)::BIGINT AS tp,
         sum(CASE WHEN _pred AND NOT _pos THEN 1 ELSE 0 END)::BIGINT AS fp,
         sum(CASE WHEN NOT _pred AND _pos THEN 1 ELSE 0 END)::BIGINT AS fn,
         sum(CASE WHEN NOT _pred AND NOT _pos THEN 1 ELSE 0 END)::BIGINT
           AS tn
  FROM fan GROUP BY tau_mili
)
SELECT tau_mili::BIGINT AS tau_mili, tp, fp, fn, tn,
       floor(CASE WHEN tp + fp = 0 THEN 0.0
                  ELSE tp / (tp + fp)::DOUBLE END * 1000000 + 0.5)
         / 1000000 AS precision,
       floor(CASE WHEN tp + fn = 0 THEN 0.0
                  ELSE tp / (tp + fn)::DOUBLE END * 1000000 + 0.5)
         / 1000000 AS recall,
       floor(CASE WHEN 2 * tp + fp + fn = 0 THEN 0.0
                  ELSE 2 * tp / (2 * tp + fp + fn)::DOUBLE END
             * 1000000 + 0.5) / 1000000 AS f1
FROM agg ORDER BY tau_mili
"""

register("doc_clf_calibration", q_doc_clf_calibration,
         SQL_DOC_CLF_CALIBRATION)
