"""End-to-end corpus curation: artifacts exist, counts reconcile, and the
kept set is disjoint from every drop reason."""

from __future__ import annotations

import os
import subprocess
import sys

from pyspark.sql import functions as F


def test_corpus_pipeline_end_to_end(spark, sf_dir, tmp_path):
    from prac_data_pipelines_spark.corpus_pipeline import curate, export
    from prac_data_pipelines_spark.sources import load_table

    out = str(tmp_path / "corpus")
    views = curate(spark, sf_dir)
    export(spark, views, out, sf_dir, build_index=True)

    docs = load_table(spark, sf_dir, "documents")
    curado = spark.read.parquet(f"{out}/curado")
    dropped = spark.read.parquet(f"{out}/descartados")

    n_docs = docs.count()
    n_kept = curado.count()
    n_dropped_ids = dropped.select("doc_id").distinct().count()
    assert 0 < n_kept < n_docs
    assert n_kept + n_dropped_ids == n_docs

    # kept ∩ dropped = empty
    assert curado.join(dropped, "doc_id", "inner").count() == 0
    # drop reasons are the expected closed set
    motivos = {r.motivo for r in dropped.select("motivo").distinct().collect()}
    assert motivos <= {"near_dup", "contaminado", "baja_calidad"}
    # enrichment columns present on the curated output
    assert {"calidad", "idioma"} <= set(curado.columns)

    # per-source stats reconcile against the curated frame
    stats = spark.read.parquet(f"{out}/stats_fuente")
    total = stats.agg(F.sum("docs").alias("d")).collect()[0].d
    assert total == n_kept

    # the ANN index is probeable
    from prac_data_pipelines_spark.operators.ann_index import probe_ivf_index
    emb = load_table(spark, sf_dir, "embeddings")
    q = (emb.filter(F.col("vec_id") < 3)
         .selectExpr("vec_id AS qid",
                     "transform(embedding, v -> cast(v as double)) AS qe"))
    top = probe_ivf_index(spark, f"{out}/ann_index", q, nprobe=2, top_k=3)
    assert top.count() > 0


def test_curation_leaves_nothing_persisted(spark, tmp_path):
    """curate + export is a one-shot job: once the export returns, the
    session holds no persisted RDD it made (a cached signature frame used
    to outlive every run)."""
    from pathlib import Path

    from prac_data_pipelines_spark.corpus_pipeline import curate, export

    corpus = str(Path(__file__).resolve().parents[1]
                 / "perfbench" / "data" / "corpus_sf0.01")
    jsc = spark.sparkContext._jsc
    before = set(jsc.getPersistentRDDs().keys())
    export(spark, curate(spark, corpus), str(tmp_path / "out"), corpus)
    assert set(jsc.getPersistentRDDs().keys()) - before == set()


def test_corpus_product_imports_no_query_registry():
    """Importing the corpus product loads no ``queries`` module: the
    MinHash-LSH definitions it shares with the registry live in
    ``operators/lsh.py``."""
    code = ("import sys, prac_data_pipelines_spark.corpus_pipeline, "
            "prac_data_pipelines_spark.incremental; "
            "print(sorted(m for m in sys.modules "
            "if m.startswith('prac_data_pipelines_spark.queries')))")
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    out = subprocess.run([sys.executable, "-c", code], cwd=root,
                         capture_output=True, text=True, check=True)
    assert out.stdout.strip() == "[]"


def test_ingest_text_dir_to_curated(spark, tmp_path):
    """Raw text files → documents schema → full curation run. One doc
    per file, deterministic content-hash ids (re-ingestion idempotent),
    file-name provenance as source."""
    from prac_data_pipelines_spark.corpus_pipeline import (
        curate,
        ingest_text_dir,
    )

    raw = tmp_path / "scrape"
    raw.mkdir()
    texts = {
        "a.txt": "the quick brown fox jumps over the lazy dog " * 12,
        "b.txt": "la rapida zorra marron salta sobre el perro " * 12,
        "c.txt": "short",
        "empty.txt": "   ",
    }
    for name, body in texts.items():
        (raw / name).write_text(body)

    out = str(tmp_path / "ingested")
    sf_dir = ingest_text_dir(spark, str(raw), out)
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    assert docs.count() == 3  # blank file dropped
    assert set(docs.columns) == {"doc_id", "text", "lang", "source", "n_chars"}
    assert {r["source"] for r in docs.collect()} == {"a.txt", "b.txt", "c.txt"}

    # idempotent: same content, same ids
    ids1 = sorted(r["doc_id"] for r in docs.collect())
    ingest_text_dir(spark, str(raw), out)
    ids2 = sorted(r["doc_id"] for r in
                  spark.read.parquet(f"{sf_dir}/documents.parquet").collect())
    assert ids1 == ids2

    views = curate(spark, sf_dir)
    curated = views["curado"]
    assert curated.count() >= 1
    assert {r["source"] for r in curated.collect()} <= set(texts)


def test_cli_shards_stage(spark, sf_dir, tmp_path, monkeypatch):
    """--shards N: the curated corpus lands as N verified training shards
    with a manifest that verify_shards confirms."""
    import sys

    from prac_data_pipelines_spark import corpus_pipeline
    from prac_data_pipelines_spark.sinks.shards import verify_shards

    out = str(tmp_path / "out")
    monkeypatch.setattr(sys, "argv", [
        "corpus_pipeline", "--sf-dir", sf_dir, "--out", out,
        "--skip-index", "--shards", "4"])
    assert corpus_pipeline.main() == 0
    report = verify_shards(spark, f"{out}/shards").collect()
    assert len(report) == 4 and all(r["ok"] for r in report)
    curated = spark.read.parquet(f"{out}/curado").count()
    written = spark.read.parquet(f"{out}/shards/data").count()
    assert written == curated > 0


def test_doc_pack_fold_invariants(spark, sf_dir):
    """Fold packing: bins hold 1-2 docs (n_bins <= n_docs <= 2*n_bins),
    occupancy never exceeds 1, and pairing can only help (lift >= 1)."""
    from prac_data_pipelines_spark.queries.corpus import q_doc_pack_fold

    for r in q_doc_pack_fold(spark, sf_dir).collect():
        assert r["n_bins"] <= r["n_docs"] <= 2 * r["n_bins"]
        assert 0 < r["ocupacion"] <= 1.0
        assert 1.0 <= r["lift"] <= 2.0


def test_cli_lm_filter_stage(spark, sf_dir, tmp_path, monkeypatch):
    """--min-lm-prob: an absurdly high threshold drops everything with
    motivo lm_improbable; the default run (no flag) drops nothing for
    that reason."""
    import sys

    from prac_data_pipelines_spark import corpus_pipeline

    out = str(tmp_path / "out_lm")
    monkeypatch.setattr(sys, "argv", [
        "corpus_pipeline", "--sf-dir", sf_dir, "--out", out,
        "--skip-index", "--min-lm-prob", "1.1"])
    assert corpus_pipeline.main() == 0
    dropped = spark.read.parquet(f"{out}/descartados")
    lm_dropped = dropped.filter("motivo = 'lm_improbable'").count()
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").count()
    assert lm_dropped > 0.9 * docs  # only <2-word docs can escape
    assert spark.read.parquet(f"{out}/curado").count() < docs * 0.1


def test_cli_clf_filter_stage(spark, sf_dir, tmp_path, monkeypatch):
    """--min-clf-score: scores live in [-1, 1], so a threshold of 2.0
    drops every document with motivo clasificador_bajo, and a
    threshold at the keep rule (0.0) drops exactly the docs
    doc_hash_classifier does NOT count as conservados."""
    import sys

    from prac_data_pipelines_spark import corpus_pipeline
    from prac_data_pipelines_spark.queries.corpus import (
        q_doc_hash_classifier,
    )

    out = str(tmp_path / "out_clf")
    monkeypatch.setattr(sys, "argv", [
        "corpus_pipeline", "--sf-dir", sf_dir, "--out", out,
        "--skip-index", "--min-clf-score", "2.0"])
    assert corpus_pipeline.main() == 0
    dropped = spark.read.parquet(f"{out}/descartados")
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").count()
    assert dropped.filter("motivo = 'clasificador_bajo'").count() == docs

    # threshold just above 0 == the complement of the query's keep rule
    # (keep: raw score > 0 <=> normalized score > 0)
    out2 = str(tmp_path / "out_clf0")
    monkeypatch.setattr(sys, "argv", [
        "corpus_pipeline", "--sf-dir", sf_dir, "--out", out2,
        "--skip-index", "--min-clf-score", "1e-9"])
    assert corpus_pipeline.main() == 0
    dropped2 = spark.read.parquet(f"{out2}/descartados")
    rep = q_doc_hash_classifier(spark, sf_dir).collect()
    want_dropped = sum(r["docs_total"] - r["docs_conservados"] for r in rep)
    assert (dropped2.filter("motivo = 'clasificador_bajo'").count()
            == want_dropped)


def test_cli_token_budget_stage(spark, sf_dir, tmp_path, monkeypatch):
    """--token-budget FRAC: after all filters, each source keeps only its
    highest-quality docs until FRAC of its surviving tokens are spent;
    the overflow lands in descartados with motivo presupuesto and the
    per-source kept tokens respect the budget."""
    import sys

    from prac_data_pipelines_spark import corpus_pipeline
    from prac_data_pipelines_spark.queries.text import WORDS

    out = str(tmp_path / "budget")
    monkeypatch.setattr(sys, "argv", [
        "corpus_pipeline", "--sf-dir", sf_dir, "--out", out,
        "--token-budget", "0.5", "--skip-index"])
    assert corpus_pipeline.main() == 0

    curado = spark.read.parquet(f"{out}/curado")
    dropped = spark.read.parquet(f"{out}/descartados")
    motivos = {r.motivo for r in dropped.select("motivo").distinct().collect()}
    assert "presupuesto" in motivos

    # survivors (pre-budget) = curado + presupuesto drops; per source the
    # kept tokens must be within the 50% budget of the survivor tokens
    # (up to the last doc that crossed the line, which is excluded)
    pres = dropped.filter("motivo = 'presupuesto'").select("doc_id")
    toks = lambda df: df.selectExpr(  # noqa: E731
        "source", f"cast(size({WORDS}) as bigint) AS toks")
    kept_t = {r["source"]: r["t"] for r in toks(curado)
              .groupBy("source").agg(F.sum("toks").alias("t")).collect()}
    # survivors (pre-budget) = curado ∪ (docs ∩ presupuesto)
    from prac_data_pipelines_spark.sources import load_table

    docs = load_table(spark, sf_dir, "documents")
    pres_docs = docs.join(pres, "doc_id", "left_semi")
    surv_t = {r["source"]: r["t"] for r in
              toks(curado.select("source", "text")
                   .unionByName(pres_docs.select("source", "text")))
              .groupBy("source").agg(F.sum("toks").alias("t")).collect()}
    for s, total in surv_t.items():
        assert kept_t.get(s, 0) <= 0.5 * total + 1e-9, s


def test_cli_dsir_filter_stage(spark, sf_dir, tmp_path, monkeypatch):
    """--min-dsir 1.0: exactly the documents whose DSIR importance
    weight is < 1.0 (less target-language-like than raw-like) land in
    descartados with motivo dsir_fuera_dominio."""
    import sys

    from pyspark.sql import functions as F

    from prac_data_pipelines_spark import corpus_pipeline
    from prac_data_pipelines_spark.queries.corpus import doc_dsir_doc_weights
    from prac_data_pipelines_spark.sources import load_table

    out = str(tmp_path / "out_dsir")
    monkeypatch.setattr(sys, "argv", [
        "corpus_pipeline", "--sf-dir", sf_dir, "--out", out,
        "--skip-index", "--min-dsir", "1.0"])
    assert corpus_pipeline.main() == 0
    dropped = spark.read.parquet(f"{out}/descartados")
    got = {r.doc_id for r in
           dropped.filter("motivo = 'dsir_fuera_dominio'").collect()}
    want = {r.doc_id for r in
            doc_dsir_doc_weights(load_table(spark, sf_dir, "documents"))
            .filter(F.col("peso") < 1.0).collect()}
    assert got == want and got  # non-trivial on the synthetic corpus
    # and none of them survived into the curated output
    curados = {r.doc_id for r in
               spark.read.parquet(f"{out}/curado").collect()}
    assert not (got & curados)


def test_cli_strip_dup_spans_stage(spark, sf_dir, tmp_path, monkeypatch, capsys):
    """--strip-dup-spans: the corpus is rewritten BEFORE curation — the
    despanned parquet keeps every doc, total tokens strictly decrease,
    the rewrite matches the strip_dup_spans operator doc-for-doc, no
    removal span survives its own rewrite, and the CLI prints the
    before/after token counts."""
    import re
    import sys

    from prac_data_pipelines_spark import corpus_pipeline
    from prac_data_pipelines_spark.queries.text import (
        WORDS,
        strip_dup_spans,
        strip_spans,
    )
    from prac_data_pipelines_spark.sources import load_table

    out = str(tmp_path / "out_strip")
    monkeypatch.setattr(sys, "argv", [
        "corpus_pipeline", "--sf-dir", sf_dir, "--out", out,
        "--skip-index", "--strip-dup-spans"])
    assert corpus_pipeline.main() == 0

    docs = load_table(spark, sf_dir, "documents")
    despan = spark.read.parquet(f"{out}/despanned/documents.parquet")
    assert despan.count() == docs.count()
    toks = f"cast(sum(size({WORDS})) as bigint) AS t"
    before = docs.selectExpr(toks).first()["t"]
    after = despan.selectExpr(toks).first()["t"]
    assert after < before

    # the stage wrote exactly what the operator computes
    want = {r["doc_id"]: r["text"] for r in strip_dup_spans(docs).collect()}
    got = {r["doc_id"]: r["text"] for r in despan.collect()}
    assert got == want

    # no removed span survives: every token position on the removal list
    # is gone from its doc (span text may legitimately survive elsewhere —
    # that is the kept first occurrence)
    removal = strip_spans(docs).collect()
    assert removal  # non-trivial on the synthetic corpus
    words_before = {r["doc_id"]: re.split(r"\s+", r["text"].strip(" "))
                    for r in docs.collect()}
    for r in removal:
        w = words_before[r["doc_id"]]
        lo, n = r["desde_palabra"], r["n_palabras"]
        txt = got[r["doc_id"]]
        n_kept = len(txt.split(" ")) if txt else 0  # '' = fully stripped
        # the doc shrank by at least this span
        assert n_kept <= len(w) - n
    printed = capsys.readouterr().out
    assert re.search(r"strip-dup-spans: tokens \d+ -> \d+", printed)

    # downstream curation ran on the REWRITTEN corpus
    curado = spark.read.parquet(f"{out}/curado")
    assert 0 < curado.count() <= docs.count()


def test_cli_dup_frac_filter_stage(spark, sf_dir, tmp_path, monkeypatch):
    """--max-dup-frac: 1.0 keeps everything (strict >, coverage cannot
    exceed 1), and a mid threshold drops exactly the docs whose
    doc_substring_coverage fraction exceeds it."""
    import sys

    from prac_data_pipelines_spark import corpus_pipeline
    from prac_data_pipelines_spark.queries.text import (
        doc_substring_coverage,
    )
    from prac_data_pipelines_spark.sources import load_table

    out = str(tmp_path / "out_dup1")
    monkeypatch.setattr(sys, "argv", [
        "corpus_pipeline", "--sf-dir", sf_dir, "--out", out,
        "--skip-index", "--max-dup-frac", "1.0"])
    assert corpus_pipeline.main() == 0
    dropped = spark.read.parquet(f"{out}/descartados")
    assert dropped.filter("motivo = 'duplicado_sustancial'").count() == 0

    out2 = str(tmp_path / "out_dup05")
    monkeypatch.setattr(sys, "argv", [
        "corpus_pipeline", "--sf-dir", sf_dir, "--out", out2,
        "--skip-index", "--max-dup-frac", "0.05"])
    assert corpus_pipeline.main() == 0
    dropped2 = spark.read.parquet(f"{out2}/descartados")
    got = dropped2.filter("motivo = 'duplicado_sustancial'").count()
    cov = doc_substring_coverage(
        load_table(spark, sf_dir, "documents")).collect()
    want = sum(1 for r in cov if r["_cov"] > r["_n"] * 0.05)
    assert got == want and want > 0
