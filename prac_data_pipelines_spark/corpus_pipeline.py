"""End-to-end corpus curation pipeline: the LLM-data counterpart of the
CxC ``pipeline.py`` — raw documents in, training-ready artifacts out.

Stages (all lazy until the export materializes them):

1. quality + language + repetition signals per document
2. exact dedup, then MinHash/LSH near-dup removal (keep lowest doc_id)
3. benchmark n-gram decontamination
4. per-source token budgets (the doc_curation contract)
5. exports: curated corpus parquet, per-source stats, packed-block
   summary, and an IVF ANN index over the embeddings table

Every stage is the already-oracle-checked query machinery — the pipeline
composes, it does not re-implement. Scale shape: per-row signal stages
fuse into the scan; the only shuffles are the LSH band join, the dedup
aggregations, and the final per-source rollup.
"""

from __future__ import annotations

import argparse
import gc
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.functions import broadcast

from .session import get_spark
from .sources import load_table


def ingest_text_dir(spark: SparkSession, text_dir: str, out_dir: str,
                    wholetext: bool = True) -> str:
    """Raw scrape → documents table: read a directory of text files
    (``load_text``; one doc per file by default, per line otherwise) and
    publish a ``documents.parquet`` with the engine's documents schema —
    doc_id (deterministic content hash, so re-ingestion is idempotent),
    text, lang placeholder ('und' until the lang-id stage), source (the
    file name), n_chars. Returns the directory usable as ``sf_dir`` for
    ``curate`` (with the index build skipped, which needs embeddings)."""
    from .sources.registry import load_text

    raw = load_text(spark, text_dir, wholetext=wholetext)
    docs = (raw.filter(F.length(F.trim("texto")) > 0)
            .select(
                F.pmod(F.xxhash64("archivo", "texto"),
                       F.lit(2 ** 62)).cast("long").alias("doc_id"),
                F.col("texto").alias("text"),
                F.lit("und").alias("lang"),
                F.element_at(F.split("archivo", "/"), -1).alias("source"),
                F.length("texto").cast("long").alias("n_chars"),
            ))
    os.makedirs(out_dir, exist_ok=True)
    docs.write.mode("overwrite").parquet(f"{out_dir}/documents.parquet")
    return out_dir


def curate(spark: SparkSession, sf_dir: str,
           min_quality: float | None = None,
           min_lm_prob: float | None = None,
           min_dsir: float | None = None,
           min_clf_score: float | None = None,
           max_dup_frac: float | None = None,
           token_budget: float | None = None) -> dict[str, DataFrame]:
    """Build the named-view dictionary of the curation flow.

    ``min_lm_prob`` switches on the LM filter (CCNet-shape): documents
    whose mean smoothed bigram probability under the corpus-trained LM
    falls below the threshold drop with motivo ``lm_improbable``. Off by
    default — it is a tuning knob, not a fixed contract.

    ``min_dsir`` switches on DSIR domain selection (Xie et al. 2023):
    documents whose importance weight under the target-language model
    (product of smoothed hashed-bigram likelihood ratios,
    ``queries.corpus.doc_dsir_doc_weights``) falls below the threshold
    drop with motivo ``dsir_fuera_dominio`` — ``1.0`` keeps exactly the
    docs more target-like than raw-like. Off by default.

    ``min_clf_score`` switches on the model-based quality gate
    (fastText-classifier shape, ``queries.corpus.doc_clf_scores``):
    documents whose normalized hashed-bigram classifier score falls
    below the threshold drop with motivo ``clasificador_bajo``. Off by
    default.

    ``max_dup_frac`` switches on the exact-substring dedup gate (the
    Lee et al. 2022 signal, ``queries.text.doc_substring_coverage``):
    documents where MORE than this fraction of tokens is covered by
    corpus-repeated SUBSTR_K-token windows drop with motivo
    ``duplicado_sustancial``. Off by default.

    ``token_budget`` (fraction, e.g. 0.4) switches on the final
    budget cut: per source, the surviving docs are ranked by quality
    and only the best kept until that fraction of the source's
    surviving tokens is spent (motivo ``presupuesto``) — the
    ``doc_token_budget`` operator applied as a pipeline stage, on the
    per-group two-level cumsum (no per-source window)."""
    from .queries.corpus import (
        BENCH_MOD,
        _KGRAMS,
        q_doc_repetition,
    )
    from .operators.lsh import (
        BANDS_EXPR,
        JACCARD_EST,
        WORDS,
        band_guard,
        band_pairs,
        minhash_signatures,
    )
    from .queries.text import (
        CURATION_JACCARD,
        CURATION_MIN_QUALITY,
        q_doc_lang_id,
        q_doc_quality,
    )

    if min_quality is None:
        min_quality = CURATION_MIN_QUALITY
    docs = load_table(spark, sf_dir, "documents")

    views: dict[str, DataFrame] = {}
    quality = q_doc_quality(spark, sf_dir).select("doc_id", "calidad")
    lang = (q_doc_lang_id(spark, sf_dir)
            .select("doc_id", F.col("lang_pred").alias("idioma")))

    # near-dup losers via the oracle-checked LSH machinery: keep lowest id.
    # No cache: both join sides read one reused exchange of the banded
    # frame, so each export query hashes the text once, and nothing
    # outlives the curation.
    bands = band_guard(
        minhash_signatures(docs).selectExpr("doc_id", "sigs", BANDS_EXPR))
    near_losers = (band_pairs(bands)
                   .selectExpr("d1", "d2", f"{JACCARD_EST} AS je")
                   .filter(F.col("je") >= CURATION_JACCARD)
                   .select(F.col("d2").alias("doc_id")).distinct())

    # benchmark contamination (broadcast n-gram semi-join)
    grams = (docs.selectExpr("doc_id", "text", f"{WORDS} AS _ws")
             .selectExpr("doc_id", f"explode({_KGRAMS}) AS grama"))
    bench = (grams.filter(F.col("doc_id") % BENCH_MOD == 0)
             .select("grama").distinct())
    contaminated = (grams.filter(F.col("doc_id") % BENCH_MOD != 0)
                    .join(broadcast(bench), "grama")
                    .select("doc_id").distinct())

    dropped = (near_losers.withColumn("motivo", F.lit("near_dup"))
               .unionByName(contaminated.withColumn("motivo",
                                                    F.lit("contaminado")))
               .unionByName(
                   quality.filter(F.col("calidad") < min_quality)
                   .select("doc_id")
                   .withColumn("motivo", F.lit("baja_calidad"))))
    if min_lm_prob is not None:
        from .queries.corpus import doc_lm_scores

        lm_losers = (doc_lm_scores(docs)
                     .filter(F.col("_prob") < min_lm_prob)
                     .select("doc_id")
                     .withColumn("motivo", F.lit("lm_improbable")))
        dropped = dropped.unionByName(lm_losers)
    if min_dsir is not None:
        from .queries.corpus import doc_dsir_doc_weights

        dsir_losers = (doc_dsir_doc_weights(docs)
                       .filter(F.col("peso") < min_dsir)
                       .select("doc_id")
                       .withColumn("motivo", F.lit("dsir_fuera_dominio")))
        dropped = dropped.unionByName(dsir_losers)
    if min_clf_score is not None:
        from .queries.corpus import doc_clf_scores

        clf_losers = (doc_clf_scores(docs)
                      .filter(F.col("_score") < min_clf_score)
                      .select("doc_id")
                      .withColumn("motivo", F.lit("clasificador_bajo")))
        dropped = dropped.unionByName(clf_losers)
    if max_dup_frac is not None:
        from .queries.text import doc_substring_coverage

        # strict > so max_dup_frac=1.0 keeps even fully-duplicated docs
        # and 0.0 drops every doc containing any repeated window
        dup_losers = (doc_substring_coverage(docs)
                      .filter(F.col("_cov")
                              > F.col("_n") * F.lit(max_dup_frac))
                      .select("doc_id")
                      .withColumn("motivo", F.lit("duplicado_sustancial")))
        dropped = dropped.unionByName(dup_losers)
    views["descartados"] = dropped

    kept = (docs.join(quality, "doc_id").join(lang, "doc_id")
            .join(dropped.select("doc_id").distinct(), "doc_id", "left_anti"))
    if token_budget is not None:
        from .operators.sorting import grouped_positions

        base = kept.selectExpr("doc_id", "source", "calidad",
                               f"cast(size({WORDS}) as bigint) AS toks")
        ranked = grouped_positions(
            base, ["source"], [F.desc("calidad"), F.asc("doc_id")],
            pos_col="_rn", cum_of=F.col("toks"), cum_col="_cum",
            total_col="_tot")
        over = (ranked
                .filter(F.col("_cum") > F.col("_tot") * F.lit(token_budget))
                .select("doc_id"))
        dropped = dropped.unionByName(
            over.withColumn("motivo", F.lit("presupuesto")))
        views["descartados"] = dropped
        kept = kept.join(over, "doc_id", "left_anti")
    views["curado"] = kept
    views["stats_fuente"] = (
        kept.selectExpr("source", "idioma", "calidad",
                        f"cast(size({WORDS}) as bigint) AS toks")
        .groupBy("source")
        .agg(F.count(F.lit(1)).cast("long").alias("docs"),
             F.sum("toks").cast("long").alias("tokens"),
             F.avg("calidad").alias("calidad_media"),
             F.countDistinct("idioma").cast("long").alias("idiomas")))
    views["repeticion_fuente"] = q_doc_repetition(spark, sf_dir)
    return views


def export(spark: SparkSession, views: dict[str, DataFrame], out_dir: str,
           sf_dir: str, build_index: bool = True) -> None:
    from .operators.expectations import check_all, gate

    # quality gate BEFORE anything is published: a curated corpus with
    # null ids, duplicate ids, or out-of-range scores must never land.
    # check_all fuses all four rules into one aggregation job.
    curado = views["curado"]
    gate(check_all(
        curado,
        rules={
            "doc_id_not_null": F.col("doc_id").isNotNull(),
            "calidad_en_rango": (F.col("calidad") >= 0)
            & (F.col("calidad") <= 1),
            "idioma_presente": F.col("idioma").isNotNull(),
        },
        unique=["doc_id"],
    ))
    os.makedirs(out_dir, exist_ok=True)
    views["curado"].write.mode("overwrite").parquet(f"{out_dir}/curado")
    for name in ("descartados", "stats_fuente", "repeticion_fuente"):
        views[name].write.mode("overwrite").parquet(f"{out_dir}/{name}")
    if build_index:
        from .operators.ann_index import build_ivf_index
        emb = load_table(spark, sf_dir, "embeddings")
        build_ivf_index(emb, f"{out_dir}/ann_index")
    # py4j proxies hold reference cycles (JavaObject <-> JavaMember), so
    # the Datasets this curation executed stay reachable until CPython's
    # cyclic GC next runs, and with them their broadcast relations in the
    # JVM. Collecting here lets Spark's ContextCleaner free them when the
    # one-shot curation ends, not at some later, unrelated allocation.
    gc.collect()


def main() -> int:
    ap = argparse.ArgumentParser(description="Run the corpus curation pipeline")
    ap.add_argument("--sf-dir", default="/root/testdata/sf0.001")
    ap.add_argument("--out", default="corpus_output")
    ap.add_argument("--min-quality", type=float, default=None)
    ap.add_argument("--min-dsir", type=float, default=None,
                   help="drop docs with DSIR importance weight below this "
                        "(1.0 = keep docs more target-like than raw-like)")
    ap.add_argument("--min-lm-prob", type=float, default=None,
                    help="drop docs whose mean bigram-LM probability under "
                         "the corpus-trained LM is below this threshold")
    ap.add_argument("--min-clf-score", type=float, default=None,
                    help="drop docs whose hashed-bigram classifier score "
                         "is below this threshold (0.0 = the keep rule "
                         "doc_hash_classifier reports)")
    ap.add_argument("--max-dup-frac", type=float, default=None,
                    help="drop documents whose fraction of tokens covered "
                         "by corpus-repeated windows exceeds this "
                         "(exact-substring dedup gate)")
    ap.add_argument("--strip-dup-spans", action="store_true",
                    help="before curation, rewrite each document's text "
                         "with every maximal duplicated span of >= "
                         "DUP_SPAN_MIN tokens removed, keeping the "
                         "corpus-wide first occurrence (Lee et al. 2022 "
                         "span-dedup semantics)")
    ap.add_argument("--token-budget", type=float, default=None,
                    metavar="FRAC",
                    help="after all filters, keep only each source's "
                         "highest-quality docs until FRAC of its surviving "
                         "tokens are spent (motivo: presupuesto)")
    ap.add_argument("--skip-index", action="store_true")
    ap.add_argument("--ingest-text", metavar="DIR", default=None,
                    help="ingest a raw text directory as the corpus "
                         "(one doc per file) instead of --sf-dir")
    ap.add_argument("--shards", type=int, metavar="N", default=None,
                    help="final stage: write the curated corpus as N "
                         "deterministic, balanced training shards plus a "
                         "rows/bytes/checksum manifest under <out>/shards")
    ap.add_argument("--dedup-state", metavar="DIR", default=None,
                    help="incremental mode: near-dup the documents against "
                         "this persisted state (bootstrapped on first run), "
                         "keep only novel docs for curation, and fold their "
                         "signatures into the state")
    args = ap.parse_args()
    spark = get_spark("corpus_pipeline")
    sf_dir = args.sf_dir
    build_index = not args.skip_index
    if args.ingest_text:
        sf_dir = ingest_text_dir(spark, args.ingest_text,
                                 f"{args.out}/ingested")
        build_index = False  # a raw text corpus has no embeddings table
    if args.dedup_state:
        from .incremental import incremental_dedup

        docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
        verdicts = incremental_dedup(
            spark, docs.select("doc_id", "text"), args.dedup_state)
        verdicts.write.mode("overwrite").parquet(
            f"{args.out}/incremental_verdicts")
        kept_dir = f"{args.out}/kept"
        os.makedirs(kept_dir, exist_ok=True)
        (docs.join(verdicts.filter("mantener").select("doc_id"),
                   "doc_id", "left_semi")
         .write.mode("overwrite").parquet(f"{kept_dir}/documents.parquet"))
        n_in, n_kept = docs.count(), spark.read.parquet(
            f"{kept_dir}/documents.parquet").count()
        print(f"incremental dedup: {n_in} docs in, {n_kept} novel kept")
        sf_dir = kept_dir
        build_index = False
    if args.strip_dup_spans:
        from .operators.lsh import WORDS
        from .queries.text import strip_dup_spans

        docs = load_table(spark, sf_dir, "documents")
        rewritten = strip_dup_spans(docs)
        despan_dir = f"{args.out}/despanned"
        os.makedirs(despan_dir, exist_ok=True)
        rewritten.write.mode("overwrite").parquet(
            f"{despan_dir}/documents.parquet")
        toks = f"sum(size({WORDS}))"
        before = docs.selectExpr(toks).first()[0]
        after = (spark.read.parquet(f"{despan_dir}/documents.parquet")
                 .selectExpr(toks).first()[0])
        print(f"strip-dup-spans: tokens {before} -> {after} "
              f"({before - after} removed)")
        sf_dir = despan_dir
        build_index = False  # the rewritten dir carries documents only
    views = curate(spark, sf_dir, args.min_quality,
                   min_lm_prob=args.min_lm_prob,
                   min_dsir=args.min_dsir,
                   min_clf_score=args.min_clf_score,
                   max_dup_frac=args.max_dup_frac,
                   token_budget=args.token_budget)
    export(spark, views, args.out, sf_dir, build_index=build_index)
    n = spark.read.parquet(f"{args.out}/curado").count()
    print(f"curated corpus: {n} docs -> {args.out}")
    if args.shards:
        from .sinks.shards import write_training_shards

        curado = spark.read.parquet(f"{args.out}/curado")
        manifest = write_training_shards(curado, f"{args.out}/shards",
                                         args.shards)
        rows = manifest.collect()
        print(f"training shards: {len(rows)} shards, "
              f"{sum(r['docs'] for r in rows)} docs -> {args.out}/shards")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
