"""Multimodal pipeline query: binary payload + Pandas-UDF feature
extraction, aggregated per source. The decode is a deterministic stub
(see ``operators/multimodal.py``), so the oracle mirrors its arithmetic
from the byte length — proving the mapInPandas plumbing end-to-end.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.multimodal import (
    attach_payload,
    extract_features,
    resize_images,
    sample_frames,
)
from ..sources import load_table
from . import register


def q_multimodal_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    feats = extract_features(attach_payload(docs))
    joined = feats.join(docs.select("doc_id", "source"), "doc_id")
    return (
        joined.groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("n_bytes").cast("long").alias("total_bytes"),
            F.sum("ancho").cast("long").alias("suma_ancho"),
            F.sum("alto").cast("long").alias("suma_alto"),
            F.max("n_frames").cast("long").alias("max_frames"),
        )
        .orderBy("source")
    )


SQL_MULTIMODAL_FEATURES = """
WITH feats AS (
  SELECT doc_id, source,
         octet_length(encode(text)) AS n_bytes,
         octet_length(encode(text)) % 640 AS ancho,
         (octet_length(encode(text)) * 7) % 480 AS alto,
         octet_length(encode(text)) % 30 + 1 AS n_frames
  FROM documents
)
SELECT source, count(*)::BIGINT AS n_docs,
       sum(n_bytes)::BIGINT AS total_bytes,
       sum(ancho)::BIGINT AS suma_ancho,
       sum(alto)::BIGINT AS suma_alto,
       max(n_frames)::BIGINT AS max_frames
FROM feats GROUP BY source ORDER BY source
"""

register("multimodal_features", q_multimodal_features, SQL_MULTIMODAL_FEATURES)


def q_multimodal_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Aspect-preserving 224-fit resize per document (image stand-in):
    the Arrow stage decodes dims and computes the integer-fit target."""
    docs = load_table(spark, sf_dir, "documents")
    return (
        resize_images(attach_payload(docs), target=224)
        .orderBy("doc_id")
    )


SQL_MULTIMODAL_RESIZE = """
WITH dims AS (
  SELECT doc_id,
         greatest(octet_length(encode(text)) % 640, 1) AS w,
         greatest((octet_length(encode(text)) * 7) % 480, 1) AS h,
         octet_length(encode(text)) % 640 AS ancho,
         (octet_length(encode(text)) * 7) % 480 AS alto
  FROM documents
)
SELECT doc_id, ancho::BIGINT AS ancho, alto::BIGINT AS alto,
       ((w * 224) // greatest(w, h))::BIGINT AS res_ancho,
       ((h * 224) // greatest(w, h))::BIGINT AS res_alto
FROM dims ORDER BY doc_id
"""

register("multimodal_resize", q_multimodal_resize, SQL_MULTIMODAL_RESIZE)


def q_multimodal_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frame sampling over the video stand-in: one output row per sampled
    frame (fan-out mapInPandas), every ceil(n_frames/8)-th frame."""
    docs = load_table(spark, sf_dir, "documents")
    return (
        sample_frames(attach_payload(docs), max_frames=8)
        .orderBy("doc_id", "frame_idx")
    )


SQL_MULTIMODAL_FRAMES = """
WITH base AS (
  SELECT doc_id, octet_length(encode(text)) AS n_bytes,
         octet_length(encode(text)) % 30 + 1 AS n_frames
  FROM documents
), params AS (
  SELECT *, (n_frames + 7) // 8 AS stride, n_bytes // n_frames AS flen
  FROM base
), frames AS (
  SELECT doc_id, unnest(range(0, n_frames, stride)) AS frame_idx,
         n_bytes, n_frames, flen
  FROM params
)
SELECT doc_id, frame_idx::BIGINT AS frame_idx,
       (CASE WHEN frame_idx = n_frames - 1 THEN n_bytes - frame_idx * flen
             ELSE flen END)::BIGINT AS frame_bytes
FROM frames ORDER BY doc_id, frame_idx
"""

register("multimodal_frames", q_multimodal_frames, SQL_MULTIMODAL_FRAMES)


# --------------------------------------------------------------------------
# multimodal_phash_pairs — perceptual-hash (dHash) image dedup
# (VERDICT-r6 #6). The Arrow stage computes a 63-bit difference hash over
# the stub-decoded grid (operators/multimodal.py::phash_stub — a real
# deployment swaps the grid for PIL average-pooling, everything after is
# unchanged); candidate pairs come from Hamming-banded bucketing — the
# same never-all-pairs LSH shape as doc_simhash_pairs: a pair is a
# candidate iff one of its PH_BANDS 16-bit hash slices matches exactly,
# so the self-join shuffles on short band keys, hot bands are guarded,
# and the exact Hamming check runs per candidate row only.
#
# Scale: the hash stage is embarrassingly parallel (one Arrow batch pass
# per partition); the band key space grows with the corpus (2^16 values
# per band x content) so no funnel; in-bucket joins are bounded by the
# MAX_BAND_DOCS guard. 100 TB images ride the identical plan — only the
# decode inside the stub changes.
# --------------------------------------------------------------------------

from ..operators.multimodal import PHASH_BITS, dhash_images  # noqa: E402
from ..operators.rounding import r6  # noqa: E402
from ..operators.lsh import MAX_BAND_DOCS, band_guard, band_pairs  # noqa: E402

PH_BANDS = 4
PH_BAND_BITS = 16  # band 3 carries the top 15 of the 63 bits
# <= 3 differing bits across 4 bands => at least one band is clean
# (pigeonhole), so banding recall is GUARANTEED 1.0 at this threshold —
# the audit below measures the decay beyond it (same rationale as
# SIMHASH_MAX_HAMMING).
PH_MAX_HAMMING = 3
PH_AUDIT_MAX_ID = 500   # fixed audit slice (the EMB_DECON_MAX_ID lesson:
PH_AUDIT_MAX_H = 16     # never let an O(|A|^2) audit grow with the corpus)

_PH_CELLS = 72  # PHASH_ROWS x PHASH_COLS

# DuckDB twin of phash_stub: byte values come from hex(encode(text))
# two-hex-digit slices (verified byte-identical to Spark's UTF-8 bytes),
# cell k = sum of the k-th of 72 equal byte slices mod 256, bit b
# compares row-major-adjacent cells (1-indexed lists: +1 / +2).
SQL_PHASH_CTE = f"""ph0 AS (
  SELECT doc_id, hex(encode(text)) AS hx,
         octet_length(encode(text))::BIGINT AS n
  FROM documents
), phcells AS (
  SELECT doc_id,
         list_transform(range(0, {_PH_CELLS}), k ->
           coalesce(list_sum(list_transform(
             range((n * k) // {_PH_CELLS}, (n * (k + 1)) // {_PH_CELLS}),
             i -> ('0x' || substr(hx, (2 * i)::INT + 1, 2))::BIGINT)), 0)
           % 256) AS cells
  FROM ph0
), ph AS (
  SELECT doc_id,
         list_sum(list_transform(range(0, {PHASH_BITS}), b ->
           CASE WHEN cells[((b // 7) * 8 + (b % 7) + 2)::INT]
                     > cells[((b // 7) * 8 + (b % 7) + 1)::INT]
                THEN (1::BIGINT << b) ELSE 0 END))::BIGINT AS phash
  FROM phcells
)"""


def _phashes(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return dhash_images(attach_payload(docs))


def _phash_bands(ph: DataFrame) -> DataFrame:
    return band_guard(ph.selectExpr(
        "doc_id", "phash",
        f"explode(transform(sequence(0, {PH_BANDS - 1}), b -> "
        f"concat(b, ':', (shiftright(phash, b * {PH_BAND_BITS}) "
        f"& {2 ** PH_BAND_BITS - 1})))) AS banda"))


def q_multimodal_phash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    # cache: the banded frame feeds both sides of the self-join — without
    # it the Arrow hash stage runs twice over the corpus
    bands = _phash_bands(_phashes(spark, sf_dir)).cache()
    return (
        band_pairs(bands)
        .withColumn("hamming", F.expr("bit_count(s1 ^ s2)").cast("long"))
        .filter(F.col("hamming") <= PH_MAX_HAMMING)
        .dropDuplicates(["d1", "d2"])
        .select("d1", "d2", "hamming")
        .orderBy("d1", "d2")
    )


SQL_MULTIMODAL_PHASH_PAIRS = f"""
WITH {SQL_PHASH_CTE}, pb0 AS (
  SELECT doc_id, phash,
         concat(b, ':', (phash >> (b * {PH_BAND_BITS}))
                        & {2 ** PH_BAND_BITS - 1}) AS banda
  FROM ph CROSS JOIN (SELECT unnest(range(0, {PH_BANDS})) AS b)
), pbands AS (
  SELECT doc_id, phash, banda FROM (
    SELECT *, count(*) OVER (PARTITION BY banda) AS _n FROM pb0)
  WHERE _n <= {MAX_BAND_DOCS}
)
SELECT DISTINCT l.doc_id AS d1, r.doc_id AS d2,
       bit_count(xor(l.phash, r.phash))::BIGINT AS hamming
FROM pbands l JOIN pbands r ON l.banda = r.banda AND l.doc_id < r.doc_id
WHERE bit_count(xor(l.phash, r.phash)) <= {PH_MAX_HAMMING}
ORDER BY d1, d2
"""

register("multimodal_phash_pairs", q_multimodal_phash_pairs,
         SQL_MULTIMODAL_PHASH_PAIRS)


# --------------------------------------------------------------------------
# multimodal_phash_recall — banding recall audit against EXACT Hamming
# ground truth. Over a FIXED audit slice (doc_id < PH_AUDIT_MAX_ID), the
# exact side enumerates every pair within PH_AUDIT_MAX_H bits via a
# broadcast cross of the (bounded) slice — the canonical ground truth,
# O(|A|^2) with |A| pinned, never corpus-growing; the banded side reuses
# the production bucketing restricted to the slice. Output: per Hamming
# distance, exact pairs vs banded-caught pairs and the recall curve —
# the quantity that justifies (or indicts) the PH_BANDS/PH_BAND_BITS
# choice, symmetric with simhash_recall_audit/ann_recall_audit.
# --------------------------------------------------------------------------


def q_multimodal_phash_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    audit = (_phashes(spark, sf_dir)
             .filter(F.col("doc_id") < PH_AUDIT_MAX_ID).cache())
    a = audit.select(F.col("doc_id").alias("d1"), F.col("phash").alias("p1"))
    b = audit.select(F.col("doc_id").alias("d2"), F.col("phash").alias("p2"))
    exact = (a.join(F.broadcast(b), F.col("d1") < F.col("d2"))
             .withColumn("hamming", F.expr("bit_count(p1 ^ p2)").cast("long"))
             .filter(F.col("hamming") <= PH_AUDIT_MAX_H)
             .select("d1", "d2", "hamming"))
    cand = (band_pairs(_phash_bands(audit).select("doc_id", "banda"))
            .select("d1", "d2")
            .dropDuplicates(["d1", "d2"])
            .withColumn("_caught", F.lit(1)))
    return (exact.join(cand, ["d1", "d2"], "left")
            .groupBy("hamming")
            .agg(F.count(F.lit(1)).cast("long").alias("pares_exactas"),
                 F.sum(F.coalesce(F.col("_caught"), F.lit(0))).cast("long")
                 .alias("pares_capturadas"))
            .withColumn("recall",
                        r6(F.col("pares_capturadas")
                           / F.col("pares_exactas")))
            .orderBy("hamming"))


SQL_MULTIMODAL_PHASH_RECALL = f"""
WITH {SQL_PHASH_CTE}, audit AS (
  SELECT doc_id, phash FROM ph WHERE doc_id < {PH_AUDIT_MAX_ID}
), exact AS (
  SELECT a.doc_id AS d1, b.doc_id AS d2,
         bit_count(xor(a.phash, b.phash))::BIGINT AS hamming
  FROM audit a JOIN audit b ON a.doc_id < b.doc_id
  WHERE bit_count(xor(a.phash, b.phash)) <= {PH_AUDIT_MAX_H}
), ab0 AS (
  SELECT doc_id, concat(b, ':', (phash >> (b * {PH_BAND_BITS}))
                               & {2 ** PH_BAND_BITS - 1}) AS banda
  FROM audit CROSS JOIN (SELECT unnest(range(0, {PH_BANDS})) AS b)
), abands AS (
  SELECT doc_id, banda FROM (
    SELECT *, count(*) OVER (PARTITION BY banda) AS _n FROM ab0)
  WHERE _n <= {MAX_BAND_DOCS}
), cand AS (
  SELECT DISTINCT l.doc_id AS d1, r.doc_id AS d2
  FROM abands l JOIN abands r ON l.banda = r.banda AND l.doc_id < r.doc_id
)
SELECT hamming, count(*)::BIGINT AS pares_exactas,
       sum(CASE WHEN cand.d1 IS NOT NULL THEN 1 ELSE 0 END)::BIGINT
         AS pares_capturadas,
       floor(sum(CASE WHEN cand.d1 IS NOT NULL THEN 1 ELSE 0 END)::DOUBLE
             / count(*)::DOUBLE * 1000000 + 0.5) / 1000000 AS recall
FROM exact LEFT JOIN cand USING (d1, d2)
GROUP BY hamming ORDER BY hamming
"""

register("multimodal_phash_recall", q_multimodal_phash_recall,
         SQL_MULTIMODAL_PHASH_RECALL)


# --------------------------------------------------------------------------
# multimodal_phash_clusters — connected components over the perceptual-
# hash pair graph: the image-side twin of doc_dup_clusters, completing
# the multimodal dedup family to pairs -> clusters granularity. Each
# image (payload) is labeled with the smallest doc_id reachable through
# banded Hamming<=threshold pairs; cluster size is what a keep-one-
# per-cluster stage consumes. The propagation loop is the shared
# operators/graph.py core (pointer jumping, O(log diameter) rounds);
# the oracle is an independent formulation — transitive closure via a
# recursive CTE.
# --------------------------------------------------------------------------


def q_multimodal_phash_clusters(spark: SparkSession,
                                sf_dir: str) -> DataFrame:
    from ..operators.graph import min_label_components

    pairs = q_multimodal_phash_pairs(spark, sf_dir).select("d1", "d2")
    labels = min_label_components(spark, pairs)
    cluster_size = (labels.groupBy("etiqueta")
                    .agg(F.count(F.lit(1)).cast("long").alias("tam_cluster")))
    return (labels.join(cluster_size, "etiqueta")
            .select(F.col("doc_id").cast("long").alias("doc_id"),
                    F.col("etiqueta").cast("long").alias("cluster_id"),
                    "tam_cluster")
            .orderBy("cluster_id", "doc_id"))


# Recursive-CTE twin of the image cluster labeling, shared by
# multimodal_phash_clusters and multimodal_phash_keep_best:
# `labeled` = (doc_id, cluster_id) for every doc in the phash pair graph.
SQL_PHASH_CLUSTERS_CTE = f"""WITH RECURSIVE {SQL_PHASH_CTE}, pb0 AS (
  SELECT doc_id, phash,
         concat(b, ':', (phash >> (b * {PH_BAND_BITS}))
                        & {2 ** PH_BAND_BITS - 1}) AS banda
  FROM ph CROSS JOIN (SELECT unnest(range(0, {PH_BANDS})) AS b)
), pbands AS (
  SELECT doc_id, phash, banda FROM (
    SELECT *, count(*) OVER (PARTITION BY banda) AS _n FROM pb0)
  WHERE _n <= {MAX_BAND_DOCS}
), pairs AS (
  SELECT DISTINCT l.doc_id AS d1, r.doc_id AS d2
  FROM pbands l JOIN pbands r ON l.banda = r.banda AND l.doc_id < r.doc_id
  WHERE bit_count(xor(l.phash, r.phash)) <= {PH_MAX_HAMMING}
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

SQL_MULTIMODAL_PHASH_CLUSTERS = f"""
{SQL_PHASH_CLUSTERS_CTE}
SELECT doc_id::BIGINT AS doc_id, cluster_id::BIGINT AS cluster_id,
       (count(*) OVER (PARTITION BY cluster_id))::BIGINT AS tam_cluster
FROM labeled
ORDER BY cluster_id, doc_id
"""

register("multimodal_phash_clusters", q_multimodal_phash_clusters,
         SQL_MULTIMODAL_PHASH_CLUSTERS)


# --------------------------------------------------------------------------
# multimodal_phash_keep_best — canonical-representative selection for
# image clusters, the verdict stage after multimodal_phash_clusters
# (symmetric with doc_dedup_keep_best): every payload gets keep/drop;
# singletons keep; within a cluster the LARGEST payload wins
# (octet_length — the bytes/resolution proxy a real image pipeline
# ranks by), doc_id as the deterministic tiebreak. The verdict window
# partitions by cluster_id — corpus-cardinality (mostly singletons),
# never a funnel.
# --------------------------------------------------------------------------


def q_multimodal_phash_keep_best(spark: SparkSession,
                                 sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    from ..operators.graph import min_label_components

    pairs = q_multimodal_phash_pairs(spark, sf_dir).select("d1", "d2")
    labels = min_label_components(spark, pairs).withColumnRenamed(
        "etiqueta", "cluster_id")
    docs = (load_table(spark, sf_dir, "documents")
            .selectExpr("doc_id",
                        "octet_length(encode(text, 'UTF-8')) AS n_bytes"))
    labeled = (docs.join(labels, "doc_id", "left")
               .withColumn("cluster_id",
                           F.coalesce("cluster_id", F.col("doc_id"))))
    w = (Window.partitionBy("cluster_id")
         .orderBy(F.col("n_bytes").desc(), F.col("doc_id").asc()))
    return (
        labeled.withColumn("mantener", F.row_number().over(w) == 1)
        .select(F.col("doc_id").cast("long").alias("doc_id"),
                F.col("cluster_id").cast("long").alias("cluster_id"),
                F.col("n_bytes").cast("long").alias("n_bytes"),
                "mantener")
        .orderBy("doc_id")
    )


SQL_MULTIMODAL_PHASH_KEEP_BEST = f"""
{SQL_PHASH_CLUSTERS_CTE},
todos AS (
  SELECT d.doc_id, coalesce(l.cluster_id, d.doc_id) AS cluster_id,
         octet_length(encode(d.text)) AS n_bytes
  FROM documents d LEFT JOIN labeled l ON d.doc_id = l.doc_id
)
SELECT doc_id::BIGINT AS doc_id, cluster_id::BIGINT AS cluster_id,
       n_bytes::BIGINT AS n_bytes,
       (row_number() OVER (PARTITION BY cluster_id
                           ORDER BY n_bytes DESC, doc_id ASC) = 1)
         AS mantener
FROM todos
ORDER BY doc_id
"""

register("multimodal_phash_keep_best", q_multimodal_phash_keep_best,
         SQL_MULTIMODAL_PHASH_KEEP_BEST)


# --------------------------------------------------------------------------
# multimodal_decontaminate — CROSS-MODAL eval-set decontamination
# (VERDICT-r7 item #5): the text and image dedup stacks meet. A training
# document is contaminated if it shares a DECON_K-word n-gram with the
# eval set (the doc_decontaminate text channel) OR its perceptual hash is
# within PH_MAX_HAMMING of an eval image's (the phash channel) — the
# union gate a multimodal training pipeline needs, since an eval image
# can leak with a rewritten caption and eval text with a re-encoded
# image. The eval set is the deterministic stand-in (doc_id % BENCH_MOD
# == 0) BOUNDED to doc_id < MM_DECON_MAX_ID — real eval sets are
# fixed-size, so the slice must never grow with the corpus (the
# EMB_DECON_MAX_ID / PH_AUDIT_MAX_ID discipline).
#
# Scale: both eval sides are broadcast — the n-gram set as in
# doc_decontaminate, the <= ~52 eval phashes as a broadcast nested-loop
# SEMI join (xor+popcount per comparison, O(|corpus| x |eval|) cheap JVM
# ops, NO shuffle of the corpus at all; at PH_MAX_HAMMING <= 3 this is
# exactly the banding result, since 4x16-bit banding recall is
# pigeonhole-guaranteed there, so the oracle's exact form IS the plan's
# semantics). The only shuffles are the gram distinct and the final
# per-source rollup.
# --------------------------------------------------------------------------

MM_DECON_MAX_ID = 5000  # fixed eval slice: ~52 eval docs from sf0.1 up


def q_multimodal_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .corpus import BENCH_MOD, _KGRAMS
    from .text import WORDS

    docs = load_table(spark, sf_dir, "documents")
    is_eval = ((F.col("doc_id") % BENCH_MOD == 0)
               & (F.col("doc_id") < MM_DECON_MAX_ID))
    grams = (docs.selectExpr("doc_id", "text", f"{WORDS} AS _ws")
             .selectExpr("doc_id", f"explode({_KGRAMS}) AS grama"))
    bench = grams.filter(is_eval).select("grama").distinct()
    tcont = (grams.filter(~is_eval).join(F.broadcast(bench), "grama")
             .select("doc_id").distinct())
    ph = _phashes(spark, sf_dir)
    evph = ph.filter(is_eval).select(F.col("phash").alias("ephash"))
    icont = (ph.filter(~is_eval)
             .join(F.broadcast(evph),
                   F.expr(f"bit_count(phash ^ ephash) <= {PH_MAX_HAMMING}"),
                   "left_semi")
             .select("doc_id"))
    corpus = docs.filter(~is_eval).select("doc_id", "source")
    flags = (corpus
             .join(tcont.withColumn("_t", F.lit(1)), "doc_id", "left")
             .join(icont.withColumn("_i", F.lit(1)), "doc_id", "left")
             .select("source",
                     F.coalesce("_t", F.lit(0)).alias("_t"),
                     F.coalesce("_i", F.lit(0)).alias("_i")))
    return (flags.groupBy("source")
            .agg(F.count(F.lit(1)).cast("long").alias("docs_total"),
                 F.sum("_t").cast("long").alias("cont_texto"),
                 F.sum("_i").cast("long").alias("cont_imagen"),
                 F.sum(F.greatest("_t", "_i")).cast("long")
                 .alias("cont_total"),
                 (F.count(F.lit(1)) - F.sum(F.greatest("_t", "_i")))
                 .cast("long").alias("docs_conservados"))
            .orderBy("source"))


def _mm_decon_sql() -> str:
    from .corpus import _SQL_KGRAMS, BENCH_MOD

    ev = f"(doc_id % {BENCH_MOD} = 0 AND doc_id < {MM_DECON_MAX_ID})"
    return f"""
WITH {SQL_PHASH_CTE}, ws AS (
  SELECT doc_id, text, str_split_regex(trim(text), '\\s+') AS w
  FROM documents
), grams AS (
  SELECT doc_id, unnest({_SQL_KGRAMS}) AS grama FROM ws
), bench AS (
  SELECT DISTINCT grama FROM grams WHERE {ev}
), tcont AS (
  SELECT DISTINCT g.doc_id FROM grams g JOIN bench b ON g.grama = b.grama
  WHERE NOT {ev.replace("doc_id", "g.doc_id")}
), evph AS (
  SELECT phash FROM ph WHERE {ev}
), icont AS (
  SELECT DISTINCT c.doc_id FROM ph c, evph e
  WHERE NOT {ev.replace("doc_id", "c.doc_id")}
    AND bit_count(xor(c.phash, e.phash)) <= {PH_MAX_HAMMING}
)
SELECT d.source, count(*)::BIGINT AS docs_total,
       sum(CASE WHEN t.doc_id IS NULL THEN 0 ELSE 1 END)::BIGINT
         AS cont_texto,
       sum(CASE WHEN i.doc_id IS NULL THEN 0 ELSE 1 END)::BIGINT
         AS cont_imagen,
       sum(CASE WHEN t.doc_id IS NULL AND i.doc_id IS NULL
                THEN 0 ELSE 1 END)::BIGINT AS cont_total,
       sum(CASE WHEN t.doc_id IS NULL AND i.doc_id IS NULL
                THEN 1 ELSE 0 END)::BIGINT AS docs_conservados
FROM documents d LEFT JOIN tcont t ON d.doc_id = t.doc_id
                 LEFT JOIN icont i ON d.doc_id = i.doc_id
WHERE NOT {ev.replace("doc_id", "d.doc_id")}
GROUP BY d.source ORDER BY d.source
"""


register("multimodal_decontaminate", q_multimodal_decontaminate,
         _mm_decon_sql())


# --------------------------------------------------------------------------
# multimodal_phash_weights — SOFT image dedup: sampling weight
# 1/|cluster| per payload (singletons 1.0), the image-side twin of
# doc_dedup_weights — completing the text<->image dedup symmetry
# (pairs / recall / clusters / keep_best / weights on both stacks). A
# multimodal training sampler sees each piece of visual CONTENT with
# equal total probability while every copy stays available with its
# caption/metadata. Reports, per source, the effective corpus the
# weights induce over payload BYTES (the image-side budget unit).
#
# Determinism: the doc_dedup_weights discipline — weights materialized
# as exact integers floor(1e6/|cluster|), summed as BIGINTs, one
# division at the edge (float 1/3-type sums are partition-order
# dependent). Scale: CC over the banded pair graph dominates (the
# shared operators/graph.py core); the weighting itself is one
# labels⟕corpus join + a |sources|-row rollup.
# --------------------------------------------------------------------------


def q_multimodal_phash_weights(spark: SparkSession,
                               sf_dir: str) -> DataFrame:
    clusters = (q_multimodal_phash_clusters(spark, sf_dir)
                .select("doc_id", "tam_cluster"))
    docs = (load_table(spark, sf_dir, "documents")
            .selectExpr("doc_id", "source",
                        "cast(octet_length(encode(text, 'UTF-8')) "
                        "as bigint) AS _bytes"))
    weighted = (docs.join(clusters, "doc_id", "left")
                .withColumn("_tam", F.coalesce("tam_cluster", F.lit(1)))
                .withColumn("_w6", F.expr("1000000 div _tam")))
    return (weighted.groupBy("source")
            .agg(F.count(F.lit(1)).cast("long").alias("n_docs"),
                 F.sum("_bytes").cast("long").alias("bytes_total"),
                 F.sum("_w6").cast("long").alias("_sw6"),
                 F.sum(F.col("_bytes") * F.col("_w6")).cast("long")
                 .alias("_sbw6"))
            .select("source", "n_docs", "bytes_total",
                    r6(F.col("_sw6") / F.lit(1000000.0))
                    .alias("docs_efectivos"),
                    F.expr("_sbw6 div 1000000").cast("long")
                    .alias("bytes_efectivos"),
                    r6(F.col("_sbw6")
                       / (F.lit(1000000.0) * F.col("bytes_total")))
                    .alias("frac_efectiva"))
            .orderBy("source"))


SQL_MULTIMODAL_PHASH_WEIGHTS = f"""
{SQL_PHASH_CLUSTERS_CTE},
tam AS (
  SELECT doc_id, count(*) OVER (PARTITION BY cluster_id) AS tam_cluster
  FROM labeled
), weighted AS (
  SELECT d.source, octet_length(encode(d.text))::BIGINT AS _bytes,
         1000000 // coalesce(t.tam_cluster, 1) AS _w6
  FROM documents d LEFT JOIN tam t ON d.doc_id = t.doc_id
)
SELECT source, count(*)::BIGINT AS n_docs,
       sum(_bytes)::BIGINT AS bytes_total,
       floor(sum(_w6)::DOUBLE / 1000000.0 * 1000000 + 0.5) / 1000000
         AS docs_efectivos,
       (sum(_bytes * _w6) // 1000000)::BIGINT AS bytes_efectivos,
       floor(sum(_bytes * _w6)::DOUBLE / (1000000.0 * sum(_bytes))
             * 1000000 + 0.5) / 1000000 AS frac_efectiva
FROM weighted GROUP BY source ORDER BY source
"""

register("multimodal_phash_weights", q_multimodal_phash_weights,
         SQL_MULTIMODAL_PHASH_WEIGHTS)


# --------------------------------------------------------------------------
# multimodal_frame_dedup — frame-level dedup across the video corpus:
# every sampled frame is content-fingerprinted IN the sampling Arrow
# pass (operators/multimodal.py::sample_frames_hashed — one payload
# scan, the binary column never travels again), duplicated frames are
# the non-first occurrences of a fingerprint corpus-wide (first = lowest
# (doc_id, frame_idx)), and the verdict rolls up per video: sampled
# frames, duplicated frames, duplicated fraction. The video member of
# the dedup family: intros/outros/stock footage shared across uploads
# are exactly repeated frame runs.
#
# Scale: fan-out Arrow stage (embarrassingly parallel), then ONE shuffle
# keyed by the 28-bit fingerprint (corpus-cardinality key space, the
# first-occurrence window never funnels), then the doc_id-keyed rollup.
# The fingerprint is md5-of-hex so the DuckDB oracle reproduces every
# frame hash bit-for-bit from substr(hex(encode(text))) — a fully
# value-checked mapInPandas fan-out (the phash-family parity trick).
# 28-bit fingerprints collide at ~n^2/2^29, mirrored identically on both
# engines; a deployment widens to 63 bits like PHASH_BITS.
# --------------------------------------------------------------------------

def q_multimodal_frame_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    from ..operators.multimodal import sample_frames_hashed

    docs = load_table(spark, sf_dir, "documents")
    frames = sample_frames_hashed(attach_payload(docs), max_frames=8)
    w = Window.partitionBy("frame_hash").orderBy("doc_id", "frame_idx")
    ranked = frames.withColumn("_rn", F.row_number().over(w))
    return (ranked.groupBy("doc_id")
            .agg(F.count(F.lit(1)).cast("long").alias("n_frames"),
                 F.sum(F.expr("CASE WHEN _rn > 1 THEN 1 ELSE 0 END"))
                 .cast("long").alias("n_dup"))
            .withColumn("frac_dup", F.expr(
                "floor(n_dup / cast(n_frames AS double) * 1000000 + 0.5) "
                "/ 1000000"))
            .orderBy("doc_id"))


SQL_MULTIMODAL_FRAME_DEDUP = """
WITH base AS (
  SELECT doc_id, hex(encode(text)) AS hx,
         octet_length(encode(text)) AS n_bytes,
         octet_length(encode(text)) % 30 + 1 AS n_frames
  FROM documents
), params AS (
  SELECT *, (n_frames + 7) // 8 AS stride, n_bytes // n_frames AS flen
  FROM base
), frames AS (
  SELECT doc_id, unnest(range(0, n_frames, stride)) AS frame_idx,
         hx, n_bytes, n_frames, flen
  FROM params
), hashed AS (
  SELECT doc_id, frame_idx,
         ('0x' || substr(md5(substr(hx, frame_idx * flen * 2 + 1,
            2 * (CASE WHEN frame_idx = n_frames - 1
                      THEN n_bytes - frame_idx * flen
                      ELSE flen END))), 1, 7))::BIGINT AS frame_hash
  FROM frames
), ranked AS (
  SELECT doc_id,
         row_number() OVER (PARTITION BY frame_hash
                            ORDER BY doc_id, frame_idx) AS _rn
  FROM hashed
)
SELECT doc_id, count(*)::BIGINT AS n_frames,
       sum(CASE WHEN _rn > 1 THEN 1 ELSE 0 END)::BIGINT AS n_dup,
       floor(sum(CASE WHEN _rn > 1 THEN 1 ELSE 0 END)
             / count(*)::DOUBLE * 1000000 + 0.5) / 1000000 AS frac_dup
FROM ranked GROUP BY doc_id ORDER BY doc_id
"""

register("multimodal_frame_dedup", q_multimodal_frame_dedup,
         SQL_MULTIMODAL_FRAME_DEDUP)
