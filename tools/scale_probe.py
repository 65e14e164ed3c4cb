"""Scale probe: replicate the fact tables k× (shifted keys, registered as
temp views) and run the headline relational queries at the inflated scale.

Verifies the claims the engine makes about 100 TB behavior on the largest
data this container can hold: near-linear wall-time scaling, stable plans,
no OOM/spill collapse. Usage: python tools/scale_probe.py [k] [sf_dir]
"""

from __future__ import annotations

import sys
import time

sys.path.insert(0, ".")

from pyspark.sql import functions as F  # noqa: E402

from prac_data_pipelines_spark.session import get_spark  # noqa: E402
from prac_data_pipelines_spark.sources import load_table  # noqa: E402


def replicate(df, key_cols: list[str], k: int, span: int):
    parts = []
    for i in range(k):
        part = df
        for c in key_cols:
            part = part.withColumn(c, F.col(c) + F.lit(i * span))
        parts.append(part)
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def probe_llm(spark, sf_dir: str, k: int) -> None:
    """Scale-probe the LLM-pipeline surface: replicate documents/embeddings
    k x (shifted ids, text left identical — the dedup worst case: every
    original becomes a k-member identity cluster) and run the REAL
    registered queries against the replicated directory. Also reports the
    LSH band-bucket size distribution, the quantity the hot-band guard
    (operators/lsh.py MAX_BAND_DOCS) bounds."""
    import shutil
    import tempfile

    from prac_data_pipelines_spark.queries import all_queries
    from prac_data_pipelines_spark.operators.lsh import (
        BANDS_EXPR,
        MAX_BAND_DOCS,
        minhash_signatures,
    )

    scratch = tempfile.mkdtemp(prefix="scale_probe_llm_")
    span = 100_000_000
    replicate(load_table(spark, sf_dir, "documents"), ["doc_id"], k, span) \
        .write.mode("overwrite").parquet(f"{scratch}/documents.parquet")
    replicate(load_table(spark, sf_dir, "embeddings"), ["vec_id"], k, span) \
        .write.mode("overwrite").parquet(f"{scratch}/embeddings.parquet")
    docs = spark.read.parquet(f"{scratch}/documents.parquet")
    print(f"replicated documents: {docs.count():,} rows (k={k})")

    # band-bucket size distribution (pre-guard): the in-bucket join cost is
    # sum(n_b^2), so the max bucket is the scale risk the guard caps
    bands = minhash_signatures(docs).selectExpr("doc_id", BANDS_EXPR)
    dist = (bands.groupBy("banda").count()
            .selectExpr("max(count) AS max_b",
                        "percentile_approx(count, 0.99) AS p99_b",
                        "avg(count) AS mean_b", "count(1) AS n_bands")
            .collect()[0])
    print(f"band buckets: n={dist['n_bands']:,} max={dist['max_b']} "
          f"p99={dist['p99_b']} mean={dist['mean_b']:.2f} "
          f"(guard caps at {MAX_BAND_DOCS})")

    queries = all_queries()
    for name in ("doc_minhash_pairs", "doc_ngram_jaccard", "doc_simhash",
                 "doc_simhash_pairs", "emb_near_dup",
                 "doc_dup_clusters", "doc_dedup_keep_best", "doc_curation",
                 "knn_lsh", "knn_ivf", "embedding_norms",
                 "doc_decontaminate", "doc_repetition", "doc_pack_sequences",
                 "tfidf_top_terms", "vocab_top_terms", "source_mix",
                 "doc_quality_quantiles", "doc_pii_scrub",
                 "emb_semantic_dedup", "doc_passage_dedup",
                 # round-6 additions
                 "doc_dup_ngrams", "source_cross_dup", "emb_quantize",
                 "doc_dsir_weights", "doc_substring_dedup",
                 "ann_recall_audit", "doc_winnowing",
                 "doc_minhash_est_error", "doc_gopher_quality",
                 "bpe_encode_curve", "ivf_recall_audit",
                 "emb_anisotropy_audit", "doc_ccnet_buckets",
                 "bpe_train_steps",
                 "emb_pq_audit",
                 "doc_bloom_decontaminate", "bpe_fertility",
                 "doc_length_buckets", "emb_dedup_curve",
                 "corpus_snapshot_diff", "doc_signal_corr",
                 "doc_mixture_sample",
                 # round-6 session-5 additions (events_watermark_audit
                 # and events_heavy_hitters live in the events battery —
                 # this scratch dir has no events table)
                 "doc_c4_filters", "doc_readability",
                 "doc_hash_classifier", "emb_decontaminate",
                 "corpus_compaction_audit", "doc_bm25_topk",
                 "doc_ngram_novelty", "ann_hard_negatives",
                 "training_mix_epochs", "doc_langmix_detect",
                 "vocab_growth_curve", "simhash_recall_audit",
                 # round-7 additions
                 "doc_dup_spans", "multimodal_phash_pairs",
                 "multimodal_phash_recall", "multimodal_phash_clusters",
                 "multimodal_phash_keep_best", "doc_minhash_containment",
                 "doc_dedup_weights", "doc_normalized_dedup",
                 # round-8 additions
                 "doc_strip_dup_spans", "multimodal_decontaminate",
                 "multimodal_phash_weights",
                 # round-8 session-2 additions
                 "emb_dim_stats", "emb_label_outliers", "lsh_bucket_skew",
                 "multimodal_frame_dedup", "knn_mutual_pairs",
                 "corpus_dedup_funnel", "doc_clf_calibration",
                 "doc_eval_contamination"):
        # same per-run cache hygiene as bench.py (r10): without it, the
        # ~80-query battery accumulates every query's cached frames in
        # one executor heap — at 128x the pile-up killed the session
        # partway through — and any cross-query cache hit would
        # under-report the later query's cost
        spark.catalog.clearCache()
        t0 = time.time()
        queries[name](spark, scratch).write.format("noop").mode("overwrite").save()
        print(f"{name} at {k}x: {time.time()-t0:.2f}s")
    shutil.rmtree(scratch, ignore_errors=True)


def probe_events_rolling(spark, sf_dir: str, k: int) -> None:
    """Replicate events k x with TIME-SHIFTED copies (the realistic growth
    axis: more history, same handful of types) and time the single-key
    rolling window against the sharded deployment shape. The single-key
    plan's parallelism is |types| regardless of k; the sharded plan's is
    |types| x |weeks| and should hold near-flat per-row cost."""
    import shutil
    import tempfile

    from prac_data_pipelines_spark.queries.events import (
        q_events_rolling,
        q_events_rolling_sharded,
    )

    ev = load_table(spark, sf_dir, "events")
    span_days = 370  # beyond any source span so replicas never overlap
    parts = []
    for i in range(k):
        parts.append(ev.withColumn("event_id", F.col("event_id") + i * 100_000_000)
                       .withColumn("ts", F.timestamp_seconds(
                           F.col("ts").cast("long") + i * span_days * 86400)))
    big = parts[0]
    for p in parts[1:]:
        big = big.unionByName(p)
    scratch = tempfile.mkdtemp(prefix="scale_probe_events_")
    big.write.mode("overwrite").parquet(f"{scratch}/events.parquet")
    n = spark.read.parquet(f"{scratch}/events.parquet").count()
    print(f"replicated events: {n:,} rows (k={k}, time-shifted)")
    from prac_data_pipelines_spark.queries import all_queries

    qs = all_queries()
    battery = ["events_sessionize", "events_retention",
               "events_hourly", "events_hopping", "events_ohlc",
               "events_transitions", "events_conversion_pairs",
               "events_conversion_window", "events_asof_attribution",
               "events_gapfill", "events_uniques_sketch",
               "events_heavy_hitters", "events_watermark_audit",
               "events_bot_detection", "events_cohort_value",
               "events_quantile_sketch", "events_quantile_daily",
               "events_interarrival"]
    t0 = time.time()
    q_events_rolling(spark, scratch).write.format("noop").mode("overwrite").save()
    print(f"events_rolling(single-key) at {k}x: {time.time()-t0:.2f}s")
    t0 = time.time()
    q_events_rolling_sharded(spark, scratch).write.format("noop").mode("overwrite").save()
    print(f"events_rolling_sharded at {k}x: {time.time()-t0:.2f}s")
    for name in battery:
        t0 = time.time()
        qs[name](spark, scratch).write.format("noop").mode("overwrite").save()
        print(f"{name} at {k}x: {time.time()-t0:.2f}s")
    shutil.rmtree(scratch, ignore_errors=True)


def probe_fuzzy_blocking(spark, sf_dir: str, ks: tuple[int, ...] = (1, 8, 32)
                         ) -> None:
    """Show the adaptive blocking growing its key with N: at each
    replication factor report the derived suffix length, block count,
    worst block, and the rows the per-block cap drops (the observable
    recall loss). Block count must GROW with N (unlike the old fixed-k
    blocking, where blocks grow linearly and pairs quadratically)."""
    from prac_data_pipelines_spark.queries.extras import (
        _BLOCK_CAP,
        _keyed_names,
    )

    cust = load_table(spark, sf_dir, "customer")
    for k in ks:
        big = replicate(cust, ["c_custkey"], k, 100_000_000)
        sizes = _keyed_names(big).groupBy("bloque").agg(
            F.count(F.lit(1)).alias("n"),
            F.max(F.length("bloque")).alias("klen"))
        row = sizes.agg(
            F.count(F.lit(1)).alias("blocks"), F.max("n").alias("max_b"),
            F.max("klen").alias("suffix_k"), F.sum("n").alias("rows"),
            F.sum(F.greatest(F.col("n") - _BLOCK_CAP, F.lit(0)))
            .alias("dropped")).collect()[0]
        print(f"fuzzy blocking at {k}x: rows={row['rows']:,} "
              f"suffix_k={row['suffix_k']} blocks={row['blocks']:,} "
              f"max_block={row['max_b']} dropped={row['dropped']:,} "
              f"({row['dropped']/row['rows']:.2%})")


def probe_tpch(spark, sf_dir: str, k: int) -> None:
    """Run the full decision-support sweep (all 22 classic shapes) with
    the FACT tables replicated k× and the dimensions left alone — the
    realistic growth axis (facts grow with business volume; dims with the
    world). Order keys shift per replica so orders ⋈ lineitem joins stay
    1-N; dimension foreign keys repeat, which only densifies the join —
    exactly what fact growth does in production."""
    import shutil
    import tempfile

    from prac_data_pipelines_spark.queries import all_queries
    from prac_data_pipelines_spark.sources import TABLES

    span = 100_000_000
    scratch = tempfile.mkdtemp(prefix="scale_probe_tpch_")
    for t in TABLES:
        df = load_table(spark, sf_dir, t)
        if t == "lineitem":
            df = replicate(df, ["l_orderkey"], k, span)
        elif t == "orders":
            df = replicate(df, ["o_orderkey"], k, span)
        df.write.mode("overwrite").parquet(f"{scratch}/{t}.parquet")
    n = spark.read.parquet(f"{scratch}/lineitem.parquet").count()
    print(f"replicated lineitem: {n:,} rows (k={k}, dims unreplicated)")

    queries = all_queries()
    sweep = ("pricing_summary", "min_cost_supplier", "shipping_priority",
             "priority_late_lines", "local_supplier_volume",
             "revenue_change", "volume_shipping", "market_share",
             "product_profit", "returned_items", "important_stock",
             "line_priority_mix", "customer_order_distribution",
             "promo_revenue_share", "top_supplier", "parts_never_ordered",
             "small_qty_revenue", "large_quantity_orders",
             "discounted_bulk_revenue", "dominant_part_suppliers",
             "waiting_suppliers", "rich_inactive_customers",
             "part_supplier_counts")
    total = 0.0
    for name in sweep:
        t0 = time.time()
        queries[name](spark, scratch).write.format("noop").mode(
            "overwrite").save()
        dt = time.time() - t0
        total += dt
        print(f"{name} at {k}x: {dt:.2f}s")
    print(f"decision-support sweep total at {k}x: {total:.1f}s "
          f"({len(sweep)} queries)")
    shutil.rmtree(scratch, ignore_errors=True)


def probe_skew(spark, sf_dir: str, k: int = 8) -> None:
    """Measure the three answers to a pathological hot key on a big-big
    join: (a) plain sort-merge with AQE skew-join splitting ON (the
    engine default), (b) AQE skew splitting OFF (what a naive engine
    does — the hot key is ONE task), (c) explicit salting
    (operators/skew.py — the fallback for stages AQE cannot touch, e.g.
    stateful streaming joins). Skew is synthesized by pointing 40% of a
    replicated lineitem at a single hot order key; the join side is the
    orders table (too big to broadcast by policy here, hinted merge so
    the strategy under test is the shuffle join itself)."""
    import shutil
    import tempfile

    from prac_data_pipelines_spark.operators.skew import salted_join

    span = 100_000_000
    li = replicate(load_table(spark, sf_dir, "lineitem"), ["l_orderkey"],
                   k, span)
    hot = F.when(F.rand(7) < 0.4, F.lit(1)).otherwise(F.col("l_orderkey"))
    scratch = tempfile.mkdtemp(prefix="scale_probe_skew_")
    (li.withColumn("l_orderkey", hot)
       .write.mode("overwrite").parquet(f"{scratch}/lineitem"))
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderpriority")
    skewed = spark.read.parquet(f"{scratch}/lineitem").select(
        "l_orderkey", "l_extendedprice")
    n = skewed.count()
    print(f"skew probe: {n:,} lineitem rows, 40% on ONE key (k={k})")

    def run(tag, frame):
        t0 = time.time()
        (frame.groupBy("o_orderpriority")
         .agg(F.sum("l_extendedprice"))
         .write.format("noop").mode("overwrite").save())
        print(f"  {tag}: {time.time() - t0:.2f}s")

    for aqe_skew, tag in (("true", "sort-merge + AQE skew split"),
                          ("false", "sort-merge, skew split OFF")):
        spark.conf.set("spark.sql.adaptive.skewJoin.enabled", aqe_skew)
        run(tag, skewed.hint("merge").join(
            orders, skewed.l_orderkey == orders.o_orderkey))
    spark.conf.set("spark.sql.adaptive.skewJoin.enabled", "true")
    run("salted_join (8 salts)",
        salted_join(skewed, orders.withColumnRenamed("o_orderkey",
                                                     "l_orderkey"),
                    "l_orderkey", n_salts=8))
    shutil.rmtree(scratch, ignore_errors=True)


def probe_range_join(spark, sf_dir: str, k: int = 8) -> None:
    """Measure the bucketed range join against the naive key-join + range
    filter on a pathological hot key: replicate events k x and point 40%
    of rows at ONE user. The naive form pairs every (click, purchase) of
    the hot user before filtering (quadratic in their history inside one
    task); the bucketed form's shuffle key carries the time bucket, so
    the hot user's candidate pairs are bounded per (bucket) and spread
    across tasks."""
    import shutil
    import tempfile

    from prac_data_pipelines_spark.operators.rangejoin import (
        bucketed_range_join,
        naive_range_join,
    )
    from prac_data_pipelines_spark.operators.timeops import epoch_sec
    from prac_data_pipelines_spark.queries.events import CONVERSION_WINDOW_SEC

    ev = replicate(load_table(spark, sf_dir, "events"),
                   ["event_id", "user_id"], k, 100_000_000)
    hot = F.when(F.rand(7) < 0.4, F.lit(1)).otherwise(F.col("user_id"))
    scratch = tempfile.mkdtemp(prefix="scale_probe_rj_")
    (ev.withColumn("user_id", hot)
       .write.mode("overwrite").parquet(f"{scratch}/events"))
    evr = spark.read.parquet(f"{scratch}/events")
    n = evr.count()
    print(f"range-join probe: {n:,} events, 40% on ONE user (k={k})")
    clicks = (evr.filter(F.col("event_type") == "click")
              .select(F.col("event_id").alias("click_id"), "user_id",
                      epoch_sec("ts").alias("_cs")))
    compras = (evr.filter(F.col("event_type") == "purchase")
               .select(F.col("event_id").alias("compra_id"), "user_id",
                       epoch_sec("ts").alias("_ps")))
    for tag, fn in (("naive key-join + filter", naive_range_join),
                    ("bucketed (user, time-bucket)", bucketed_range_join)):
        t0 = time.time()
        cnt = fn(clicks, compras, "user_id", "_cs", "_ps",
                 0, CONVERSION_WINDOW_SEC).count()
        print(f"  {tag}: {time.time() - t0:.2f}s ({cnt:,} pairs)")
    shutil.rmtree(scratch, ignore_errors=True)


def probe_incremental_dedup(spark, sf_dir: str, k: int = 8) -> None:
    """Measure the per-increment cost of the persisted dedup state against
    the status-quo alternative (re-running the batch pair query over the
    grown corpus). State = documents replicated k x (identical text — the
    dedup worst case); batch = 250 clones of state docs (must be dropped)
    + 250 word-reversed docs (3-shingles all differ -> must be kept)."""
    import shutil
    import tempfile

    from prac_data_pipelines_spark.incremental import (
        incremental_dedup,
        init_dedup_state,
    )
    from prac_data_pipelines_spark.queries.text import q_doc_minhash_pairs

    scratch = tempfile.mkdtemp(prefix="scale_probe_inc_")
    docs = replicate(
        load_table(spark, sf_dir, "documents").select("doc_id", "text"),
        ["doc_id"], k, 100_000_000)
    docs.write.mode("overwrite").parquet(f"{scratch}/state_docs")
    state = spark.read.parquet(f"{scratch}/state_docs")
    n = state.count()
    t0 = time.time()
    init_dedup_state(state, f"{scratch}/state")
    print(f"incremental-dedup probe: state {n:,} docs (k={k}), "
          f"one-time init {time.time() - t0:.2f}s")
    clones = (state.orderBy("doc_id").limit(250)
              .select((F.col("doc_id") + 900_000_000).alias("doc_id"), "text"))
    fresh = (state.orderBy("doc_id").limit(250)
             .select((F.col("doc_id") + 950_000_000).alias("doc_id"),
                     F.expr("concat_ws(' ', reverse(split(trim(text), "
                            "'\\\\s+')))").alias("text")))
    batch = clones.unionByName(fresh)
    batch.write.mode("overwrite").parquet(f"{scratch}/batch_docs")
    batch = spark.read.parquet(f"{scratch}/batch_docs")
    t0 = time.time()
    verdicts = incremental_dedup(spark, batch, f"{scratch}/state").collect()
    dropped = sum(1 for r in verdicts if not r["mantener"])
    print(f"  incremental_dedup(500-doc batch): {time.time() - t0:.2f}s "
          f"({dropped} dropped of {len(verdicts)})")
    # status quo: the batch pair query over the whole grown corpus
    (state.unionByName(spark.read.parquet(f"{scratch}/batch_docs"))
     .withColumn("source", F.lit("s")).withColumn("n_chars", F.length("text"))
     .write.mode("overwrite").parquet(f"{scratch}/full/documents.parquet"))
    t0 = time.time()
    n_pairs = q_doc_minhash_pairs(spark, f"{scratch}/full").count()
    print(f"  full re-dedup (pair query over {n + 500:,} docs): "
          f"{time.time() - t0:.2f}s ({n_pairs:,} pairs)")
    # chunked path (oversized-increment route): same batch forced through
    # 4 id-ordered chunks against a fresh identical state — verdicts must
    # match the one-shot call; cost is the per-call fixed overhead x4
    from prac_data_pipelines_spark.incremental import incremental_dedup_chunked

    init_dedup_state(state, f"{scratch}/state2")
    t0 = time.time()
    v2 = incremental_dedup_chunked(spark, batch, f"{scratch}/state2",
                                   chunk_docs=125).collect()
    same = ({(r["doc_id"], r["mantener"], r["dup_de"]) for r in v2}
            == {(r["doc_id"], r["mantener"], r["dup_de"]) for r in verdicts})
    print(f"  chunked x4 (125 docs/chunk): {time.time() - t0:.2f}s "
          f"(verdicts identical to one-shot: {same})")
    shutil.rmtree(scratch, ignore_errors=True)


def probe_shards(spark, sf_dir: str, k: int = 8) -> None:
    """Training-shard writer at k× docs: wall time must scale ~linearly
    (per-row hash + one partitioned write, no global sort) and the
    hash-balanced shards must stay within the multinomial band."""
    import shutil
    import statistics
    import tempfile

    from prac_data_pipelines_spark.sinks.shards import write_training_shards

    scratch = tempfile.mkdtemp(prefix="shards_probe_")
    base = load_table(spark, sf_dir, "documents")
    for kk in (1, k):
        docs = replicate(base, ["doc_id"], kk, 10_000_000)
        if kk > 1:
            # make replica texts distinct — identical content hashes to
            # identical shards by design (content-keyed), which would
            # measure clone collapse, not scale
            docs = docs.withColumn(
                "text", F.concat("text", F.lit(" rep"),
                                 (F.col("doc_id") / 10_000_000)
                                 .cast("long").cast("string")))
        docs.write.mode("overwrite").parquet(f"{scratch}/docs_{kk}")
        frame = spark.read.parquet(f"{scratch}/docs_{kk}")
        n = frame.count()
        t0 = time.time()
        manifest = write_training_shards(frame, f"{scratch}/out_{kk}", 32)
        wall = time.time() - t0
        counts = [r["docs"] for r in manifest.collect()]
        mean = statistics.mean(counts)
        print(f"shards {kk}x: {n:,} docs -> 32 shards in {wall:.2f}s | "
              f"balance max/mean {max(counts) / mean:.3f}, "
              f"min/mean {min(counts) / mean:.3f}")
    shutil.rmtree(scratch, ignore_errors=True)


def probe_pack_fold(spark, sf_dir: str, k: int = 32) -> None:
    """doc_pack_fold's ranking at k× docs with a DOMINANT source (85% of
    rows on one key): the per-source window bounds parallelism at
    |sources| — the hot source is one task's full sort at any scale —
    while grouped_positions (range partition + local rank + broadcast
    offsets) scales with range partitions. Both paths produce the exact
    same rollup (asserted); wall times printed per path."""
    import shutil
    import tempfile

    from pyspark.sql import Window

    from prac_data_pipelines_spark.operators.sorting import grouped_positions
    from prac_data_pipelines_spark.queries.corpus import BLOCK_TOKENS
    from prac_data_pipelines_spark.queries.text import WORDS

    scratch = tempfile.mkdtemp(prefix="packfold_probe_")
    base = (load_table(spark, sf_dir, "documents")
            .selectExpr("doc_id", "source",
                        f"cast(size({WORDS}) as bigint) AS toks")
            .filter(F.col("toks") <= BLOCK_TOKENS))

    def rollup(ranked):
        pair_id = F.least(F.col("_rn"), F.col("_n") + 1 - F.col("_rn"))
        pairs = (ranked.groupBy("source", pair_id.alias("_pair"))
                 .agg(F.sum("toks").alias("_ptoks"),
                      F.count(F.lit(1)).alias("_pdocs")))
        bins = F.when((F.col("_pdocs") == 2)
                      & (F.col("_ptoks") <= BLOCK_TOKENS), 1) \
                .otherwise(F.col("_pdocs"))
        return (pairs.groupBy("source")
                .agg(F.sum("_pdocs").alias("n_docs"),
                     F.sum(bins).alias("n_bins"),
                     F.sum("_ptoks").alias("tokens")))

    for kk in (1, k):
        t = replicate(base, ["doc_id"], kk, 10_000_000)
        t = t.withColumn("source",
                         F.when(F.pmod("doc_id", F.lit(100)) < 85,
                                F.lit("dominant"))
                         .otherwise(F.col("source")))
        t.write.mode("overwrite").parquet(f"{scratch}/t_{kk}")
        frame = spark.read.parquet(f"{scratch}/t_{kk}")
        n = frame.count()
        results = {}
        for tag in ("window", "grouped"):
            if tag == "window":
                w = Window.partitionBy("source").orderBy(
                    F.desc("toks"), F.asc("doc_id"))
                ranked = (frame
                          .withColumn("_rn", F.row_number().over(w))
                          .withColumn("_n", F.count(F.lit(1)).over(
                              Window.partitionBy("source"))))
            else:
                ranked = grouped_positions(
                    frame, ["source"], [F.desc("toks"), F.asc("doc_id")],
                    pos_col="_rn", n_col="_n")
            t0 = time.time()
            out = rollup(ranked)
            out.write.format("noop").mode("overwrite").save()
            wall = time.time() - t0
            results[tag] = sorted(map(tuple, out.collect()))
            print(f"pack_fold {kk}x ({n:,} docs, 85% one source) "
                  f"{tag}: {wall:.2f}s")
        assert results["window"] == results["grouped"], "rollup mismatch"
    shutil.rmtree(scratch, ignore_errors=True)


def main() -> None:
    args = [a for a in sys.argv[1:] if not a.startswith("--")]
    k = int(args[0]) if args else 8
    sf_dir = args[1] if len(args) > 1 else "/root/testdata/sf0.1"
    only_llm = "--llm" in sys.argv
    only_events = "--events" in sys.argv
    spark = get_spark("scale-probe")
    spark.sparkContext.setLogLevel("ERROR")
    if only_llm:
        probe_llm(spark, sf_dir, k)
        return
    if only_events:
        probe_events_rolling(spark, sf_dir, k)
        return
    if "--fuzzy" in sys.argv:
        probe_fuzzy_blocking(spark, sf_dir)
        return
    if "--skew" in sys.argv:
        probe_skew(spark, sf_dir, k)
        return
    if "--rangejoin" in sys.argv:
        probe_range_join(spark, sf_dir, k)
        return
    if "--incdedup" in sys.argv:
        probe_incremental_dedup(spark, sf_dir, k)
        return
    if "--tpch" in sys.argv:
        probe_tpch(spark, sf_dir, k)
        return
    if "--shards" in sys.argv:
        probe_shards(spark, sf_dir, k)
        return
    if "--packfold" in sys.argv:
        probe_pack_fold(spark, sf_dir, k)
        return

    span = 100_000_000
    # Materialize the replicated tables to parquet first so the timings
    # measure query cost over a clean columnar scan, not the k-way union.
    import shutil
    import tempfile
    scratch = tempfile.mkdtemp(prefix="scale_probe_")
    replicate(load_table(spark, sf_dir, "lineitem"), ["l_orderkey"], k, span) \
        .write.mode("overwrite").parquet(f"{scratch}/lineitem")
    replicate(load_table(spark, sf_dir, "orders"), ["o_orderkey"], k, span) \
        .write.mode("overwrite").parquet(f"{scratch}/orders")
    li = spark.read.parquet(f"{scratch}/lineitem")
    orders = spark.read.parquet(f"{scratch}/orders")
    n_li = li.count()
    print(f"replicated lineitem: {n_li:,} rows (k={k})")
    import atexit
    atexit.register(lambda: shutil.rmtree(scratch, ignore_errors=True))

    t0 = time.time()
    (li.filter(F.col("l_shipdate") <= F.lit("1998-09-02").cast("date"))
       .groupBy("l_returnflag", "l_linestatus")
       .agg(F.sum("l_quantity"), F.sum("l_extendedprice"), F.count(F.lit(1)))
       .write.format("noop").mode("overwrite").save())
    print(f"pricing_summary-shape at {k}x: {time.time()-t0:.2f}s")

    t0 = time.time()
    applied = li.groupBy("l_orderkey").agg(
        F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("ap"))
    (orders.join(applied, orders.o_orderkey == applied.l_orderkey, "left")
     .select("o_orderkey", (F.col("o_totalprice") - F.coalesce("ap", F.lit(0.0))).alias("saldo"))
     .write.format("noop").mode("overwrite").save())
    print(f"order_balance-shape at {k}x: {time.time()-t0:.2f}s")

    t0 = time.time()
    from pyspark.sql import Window
    w = (Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
         .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    (orders.withColumn("run", F.sum("o_totalprice").over(w))
     .write.format("noop").mode("overwrite").save())
    print(f"running_balance-shape at {k}x: {time.time()-t0:.2f}s")

    probe_events_rolling(spark, sf_dir, k)
    probe_llm(spark, sf_dir, k)


if __name__ == "__main__":
    main()
