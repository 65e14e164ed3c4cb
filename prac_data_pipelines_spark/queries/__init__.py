"""Query registry: every implemented operator exposed as a named query.

Each entry pairs a PySpark callable ``(spark, sf_dir) -> DataFrame`` with an
equivalent DuckDB SQL oracle (``None`` for genuinely non-SQL-expressible ops,
which the driver checks rows-only). Column names/aliases are identical on both
sides; computed doubles are rounded at the same sites so value hashes match.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]

_QUERIES: dict[str, QueryFn] = {}
_ORACLES: dict[str, str] = {}


def register(name: str, fn: QueryFn, oracle: str | None) -> None:
    _QUERIES[name] = fn
    if oracle is not None:
        _ORACLES[name] = oracle


# The driver's correctness gate checks queries in dict order and stops after a
# fixed budget (50 rows emitted in round 1).  Surface the families that have
# not yet received a driver-green row first so every operator accumulates a
# driver verdict across rounds; the remainder keeps registration order.
_PRIORITY: tuple[str, ...] = (
    # Round-12 rotation.  Head-50 layout, enforced by tests/test_freshness.py
    # + tools/freshness.py (`--suggest` prints the same order):
    #   1. the 46 r8-era must-runs (verdict >3 rounds old at r12), staged
    #      directly below the boundary by the r11 rotation,
    #   2. fill to exactly 50 with the 4 stalest r9-era names, in their
    #      staged order.
    # Below the boundary the cohorts keep their relative order, stalest
    # first, so each rotation stays one mechanical head-swap.
    # REGISTRY-CAPACITY CEILING (VERDICT-r8 item #3): at 196 registered
    # queries the 50-row driver budget gives a 4-round refresh cycle —
    # exactly the SLO's MAX_AGE_ROUNDS=3 allowance (4 x 50 = 200 >= N).
    # Hard cap: the registry must stay <= 200.  The steady-state new-op
    # budget is ~0: a new query may only be registered by retiring or
    # merging an existing one, and the 4 spare slots are RESERVE, not
    # budget.  New ops always sit below the must-run block.
    #
    # r8-era must-run (46):
    "doc_simhash_pairs", "doc_chunks", "knn_lsh", "emb_semantic_dedup",
    "events_hourly", "events_sessionize", "events_json", "events_funnel",
    "events_segment_value", "events_anomaly", "events_retention",
    "events_gapfill", "events_asof_attribution", "events_conversion_pairs",
    "events_conversion_window", "events_hopping", "events_ohlc",
    "sql_lateral_topk", "grouping_sets_summary", "shipping_priority",
    "local_supplier_volume", "returned_items", "promo_revenue_share",
    "discounted_bulk_revenue", "revenue_change", "product_profit",
    "line_priority_mix", "small_qty_revenue", "dominant_part_suppliers",
    "vocab_top_terms", "source_mix", "doc_passage_dedup", "doc_train_split",
    "doc_strip_dup_spans", "multimodal_decontaminate", "events_quantile_daily",
    "multimodal_phash_weights", "part_supplier_counts", "emb_dim_stats",
    "emb_label_outliers", "lsh_bucket_skew", "events_interarrival",
    "multimodal_frame_dedup", "knn_mutual_pairs", "doc_clf_calibration",
    "doc_eval_contamination",
    # r9-era fill to 50 (see header):
    "master_denorm", "order_balance", "order_last_ship", "open_order_lines",
    # --- 50-row budget boundary ---
    # r9-era cohort minus the 4 promoted above = r13's must-run block,
    # staged directly below the boundary (verdict-age order):
    "flag_full_outer", "customer_first_order", "aging_buckets", "aging_pivot",
    "customer_metrics", "running_balance", "zscore_outliers", "dual_sort",
    "top_customers", "doc_lang_confusion", "emb_near_dup",
    "emb_label_centroids", "events_dau_wau", "multimodal_features",
    "multimodal_resize", "multimodal_frames", "sql_text", "distinct_values",
    "quantiles", "window_suite", "rollup_summary", "set_ops",
    "asof_latest_order", "distribution_windows", "cube_summary",
    "priority_late_lines", "customer_order_distribution",
    "large_quantity_orders", "volume_shipping", "market_share",
    "waiting_suppliers", "important_stock", "top_supplier",
    "doc_decontaminate", "doc_pii_scrub", "doc_pack_sequences",
    "tfidf_top_terms", "doc_repetition", "doc_stratified_sample",
    "shard_manifest", "doc_lm_quality", "bpe_merge_pairs", "pareto_abc",
    "cxc_master_summary", "cxc_saldo_factura", "cxc_antiguedad",
    # r10-verdict cohort (the former r10 head: 46 r6-era + 4 r7-era
    # fill, all driver-verified in r10):
    "cxc_antiguedad_cliente", "cxc_concentracion", "doc_dup_ngrams",
    "source_cross_dup", "doc_token_budget", "doc_substring_dedup",
    "doc_winnowing", "doc_minhash_est_error", "doc_gopher_quality",
    "doc_signal_corr", "doc_ngram_novelty", "simhash_recall_audit",
    "emb_quantize", "ann_recall_audit", "ivf_recall_audit",
    "emb_anisotropy_audit", "emb_pq_audit", "emb_drift_audit",
    "emb_dedup_curve", "emb_decontaminate", "ann_hard_negatives",
    "events_heavy_hitters", "events_uniques_sketch", "events_watermark_audit",
    "events_bot_detection", "events_cohort_value", "shard_verify",
    "doc_pack_fold", "doc_dsir_weights", "bpe_encode_curve",
    "doc_ccnet_buckets", "bpe_train_steps", "doc_bloom_decontaminate",
    "bpe_fertility", "doc_length_buckets", "corpus_snapshot_diff",
    "doc_mixture_sample", "doc_c4_filters", "doc_readability",
    "doc_hash_classifier", "corpus_compaction_audit", "doc_bm25_topk",
    "training_mix_epochs", "doc_langmix_detect", "vocab_growth_curve",
    "sketch_profile", "pricing_summary", "band_groups", "scalar_suite",
    "cancelled_filter",
    # r11-verdict cohort (the former r11 head: 46 r7-era + 4
    # r10-rewritten fill, all driver-verified in r11):
    "union_views", "column_profile", "distinct_counts", "cxc_cartera",
    "cxc_resumen_concepto", "cxc_cancelados", "cxc_ajustes",
    "cxc_auditoria_nulos", "cxc_kpis", "cxc_limite_credito",
    "cxc_morosidad_cliente", "cxc_saldo_cliente", "cxc_movimientos_abiertos",
    "doc_exact_dedup", "doc_normalized_dedup", "doc_token_stats",
    "doc_bpe_tokens", "doc_quality", "doc_quality_quantiles", "doc_lang_id",
    "doc_fingerprint", "doc_minhash_pairs", "doc_ngram_jaccard", "doc_simhash",
    "doc_curation", "doc_minhash_containment", "doc_dup_clusters",
    "doc_dedup_keep_best", "doc_dedup_weights", "doc_sample", "doc_dup_spans",
    "knn_brute", "embedding_norms", "events_rolling", "events_transitions",
    "events_quantile_sketch", "multimodal_phash_pairs",
    "multimodal_phash_recall", "multimodal_phash_clusters",
    "multimodal_phash_keep_best", "order_vs_customer_avg", "fuzzy_name_blocks",
    "fuzzy_block_stats", "parts_never_ordered", "rich_inactive_customers",
    "min_cost_supplier", "events_rolling_sharded", "corpus_dedup_funnel",
    "knn_ivf", "kmeans_embeddings",
)


def _ordered(mapping: dict[str, object]) -> list[str]:
    head = [n for n in _PRIORITY if n in mapping]
    return head + [n for n in mapping if n not in _PRIORITY]


def all_queries() -> dict[str, QueryFn]:
    _load()
    return {n: _QUERIES[n] for n in _ordered(_QUERIES)}


def all_oracles() -> dict[str, str]:
    _load()
    return {n: _ORACLES[n] for n in _ordered(_ORACLES)}


_LOADED = False


def _load() -> None:
    global _LOADED
    if _LOADED:
        return
    from . import (  # noqa: F401  (self-registering)
        core, cxc, text, vector, events, media, sqltext, extras, tpch,
        corpus,
    )
    _LOADED = True
