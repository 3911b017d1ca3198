"""Query registry: every engine operator exposed as a named query.

Each entry pairs a PySpark implementation ``(spark, sf_dir) -> DataFrame``
with (where SQL-expressible) a DuckDB oracle SQL string over the same
parquet tables — the driver's differential-correctness contract
(``/root/repo/__spark_entry__.py``). Column names/types are aligned on
both sides because the driver hashes values after sorting columns by
name.

Modules self-register on import via :func:`register`.
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]


@dataclass(frozen=True)
class QueryDef:
    fn: QueryFn
    oracle: str | None  # DuckDB SQL, or None → driver does rows-only check


REGISTRY: dict[str, QueryDef] = {}


def register(name: str, oracle: str | None = None) -> Callable[[QueryFn], QueryFn]:
    def deco(fn: QueryFn) -> QueryFn:
        if name in REGISTRY:
            raise ValueError(f"duplicate query name {name!r}")
        REGISTRY[name] = QueryDef(fn, oracle)
        return fn

    return deco


# The correctness driver verifies only the first ~50 registry entries per
# round, so registry ORDER decides which queries get a hard driver
# verdict. Ordering is verdict-age-driven: queries needing a verdict
# (red fixes, oracle changes, new registrations, never-checked) lead,
# then greens by ascending last-verified round, so stale verdicts
# rotate back through the checked prefix over time.
#
# _LAST_VERIFIED maps query → the latest round whose CORRECTNESS file
# recorded a full rows+schema+hash pass. Regenerate with
# ``python tools/registry_rotation.py`` at the start of each round.
_LAST_VERIFIED: dict[str, int] = {
    "dedup_embedding_cosine": 11,
    "corpus_curation": 11,
    "dedup_incremental": 11,
    "dedup_embedding_lsh": 11,
    "corpus_decontaminate": 11,
    "corpus_pack_bins": 11,
    "corpus_curriculum_order": 11,
    "search_bm25": 11,
    "search_bm25_incremental": 11,
    "search_hybrid_rrf": 11,
    "dedup_substring_exact": 11,
    "stream_tumbling_backfill": 11,
    "stream_stateful_dedup": 11,
    "stream_watermark_dedup": 11,
    "stream_interval_join": 11,
    "sketch_kll_quantiles": 11,
    "events_anomaly_bands": 11,
    "scd1_merge": 11,
    "q12_latency_priority": 11,
    "join_semi": 12,
    "join_anti": 12,
    "join_full_outer": 12,
    "join_range": 12,
    "set_intersect": 12,
    "set_except": 12,
    "explode_tokens": 12,
    "agg_grouping_sets": 12,
    "agg_percentile": 12,
    "pivot_orderstatus": 12,
    "window_range_frame": 12,
    "window_distribution": 12,
    "agg_stats": 12,
    "graph_triangles": 12,
    "join_null_safe": 12,
    "agg_mode_median": 12,
    "stats_equidepth_bins": 12,
    "stats_regression": 12,
    "dedup_url_normalized": 12,
    "dedup_host_profile": 12,
    "corpus_host_gate": 12,
    "dedup_fingerprint": 12,
    "dedup_incremental_minhash": 12,
    "corpus_pack_bins_tokenized": 12,
    "corpus_tokenize_ids": 12,
    "corpus_chunk_docs": 12,
    "search_bm25_after_delete": 12,
    "corpus_mix_realize": 12,
    "stats_chi2_contingency": 12,
    "layout_zorder_locality": 12,
    "layout_zorder_pruned_scan": 12,
    "events_resample_ohlc": 12,
    "profile_key_skew": 12,
    "events_pattern_match": 12,
    "multimodal_features": 12,
    "ingest_csv_documents": 13,
    "ingest_jsonl_documents": 13,
    "set_except_all": 13,
    "set_intersect_all": 13,
    "json_extract": 13,
    "json_agg_by_key": 13,
    "map_props_agg": 13,
    "unpivot_measures": 13,
    "profile_columns": 13,
    "array_hof_pipeline": 13,
    "join_interval_bucketed": 13,
    "stats_equidepth_bins_approx": 13,
    "text_quality": 13,
    "text_tfidf_top": 13,
    "join_skew_salted": 13,
    "corpus_split": 13,
    "text_pii_scan": 13,
    "text_unigram_logprob": 13,
    "corpus_sample_stratified": 13,
    "corpus_sample_priority": 13,
    "window_tumbling": 13,
    "window_session": 13,
    "events_funnel": 13,
    "events_cohort_retention": 13,
    "events_ewma": 13,
    "quality_validation": 13,
    "events_sessionize": 13,
    "rollup_incremental": 13,
    "rollup_hll_distinct": 13,
    "scd2_merge": 13,
    "multimodal_metadata_agg": 13,
    "dedup_incremental_rc": 13,
    "stream_scd2_upserts": 13,
    "multimodal_audio_features": 13,
    "multimodal_video_frames": 13,
    "q3_shipping_priority": 14,
    "q18_large_volume_customer": 14,
    "q5_local_supplier_volume": 14,
    "graph_pagerank_trade": 14,
    "agg_listagg_ordered": 14,
    "audit_constraints": 14,
    "profile_drift": 14,
    "recursive_reachability": 14,
    "join_bloom_prefiltered": 14,
    "join_bloom_packed": 14,
    "text_rolling_hash": 14,
    "agg_distinct_twophase": 14,
    "text_repetition": 14,
    "text_ngram_topk": 14,
    "corpus_domain_mix": 14,
    "outlier_robust_z": 14,
    "text_boilerplate_ngrams": 14,
    "corpus_sample_weighted": 14,
    "text_bigram_logprob": 14,
    "corpus_vocab_stats": 14,
    "search_bm25_passages": 14,
    "search_bm25_passages_incremental": 14,
    "window_sliding": 14,
    "events_transitions": 14,
    "events_gapfill_locf": 14,
    "events_attribution": 14,
    "cdc_apply_changelog": 14,
    "window_sliding_distinct": 14,
    "multimodal_frame_sample": 14,
    "q4_order_priority": 14,
    "q6_forecast_revenue": 14,
    "q7_volume_shipping": 14,
    "q8_market_share": 14,
    "q10_returned_items": 14,
    "q13_customer_distribution": 14,
    "q14_promo_revenue": 14,
    "q15_top_supplier": 14,
    "q17_small_quantity_revenue": 14,
    "q19_discounted_revenue": 14,
    "q21_waiting_supplier": 14,
    "q22_global_sales": 14,
    "stream_index_ingest": 14,
    "star_revenue": 15,
    "dim_surrogate": 15,
    "dim_first_per_group": 15,
    "assign_keys_left": 15,
    "generated_date_dim": 15,
    "generated_time_dim": 15,
    "date_keys": 15,
    "time_keys": 15,
    "normalize_clean": 15,
    "numeric_coercion": 15,
    "union_by_name": 15,
    "filter_window": 15,
    "project_defensive": 15,
    "ingest_orc_documents": 15,
    "dim_late_arriving": 15,
    "q1_pricing_summary": 15,
    "agg_rollup": 15,
    "agg_cube": 15,
    "agg_count_distinct": 15,
    "agg_approx_distinct": 15,
    "topk_orders": 15,
    "window_rank": 15,
    "window_lag_lead": 15,
    "window_moving_sum": 15,
    "join_asof": 15,
    "agg_percentile_approx": 15,
    "join_asof_forward": 15,
    "join_asof_nearest": 15,
    "join_lateral_topn": 15,
    "json_variant_shred": 15,
    "sketch_theta_setops": 15,
    "sketch_bitmap_distinct": 15,
    "stats_weighted_quantiles": 15,
    "stats_weighted_quantiles_approx": 15,
    "text_length_histogram": 15,
    "corpus_pack_sequences": 15,
    "text_char_entropy": 15,
    "embedding_gramian": 15,
    "corpus_mix_temperature": 15,
    "search_rerank_crossenc": 15,
    "events_user_sequences": 15,
    "multimodal_image_neardup": 15,
    "ampm_parse_time": 16,
    "bool_flag": 16,
    "filter_window_yesterday": 16,
    "join_inner_agg": 16,
    "fuzzy_name_match": 16,
    "linkage_fellegi_sunter": 16,
    "linkage_fs_collapsed": 16,
    "market_basket_pairs": 16,
    "market_basket_pairs_relative": 16,
    "dedup_exact": 16,
    "dedup_ngram_jaccard": 16,
    "dedup_minhash_lsh": 16,
    "dedup_simhash": 16,
    "similarity_cosine_topk": 16,
    "similarity_ann_lsh": 16,
    "text_token_stats": 16,
    "text_lang_id": 16,
    "similarity_ann_ivf": 16,
    "dedup_clusters": 16,
    "dedup_clusters_logstar": 16,
    "corpus_split_leakage_safe": 16,
    "corpus_e2e_curation": 16,
    "dedup_keep_best": 16,
    "embedding_kmeans_update": 16,
    "corpus_perplexity_gate": 16,
    "similarity_ann_recall": 16,
    "embedding_kmeans_iterate": 16,
    "dedup_semantic": 16,
    "similarity_pq_encode": 16,
    "similarity_ivfpq_topk": 16,
    "similarity_ivfpq_incremental": 16,
    "sketch_countmin_freq": 16,
    "dedup_containment": 16,
    "dedup_sorted_neighborhood": 16,
    "dedup_snm_adaptive": 16,
    "pipeline_311_fact": 16,
    "pipeline_parking_fact": 16,
    "pipeline_integrated_fact": 16,
    "scd2_point_in_time": 16,
    "multimodal_image_clusters": 16,
    "q2_min_cost_supplier": 16,
    "q9_product_profit": 16,
    "q11_important_stock": 16,
    "q16_supplier_part_counts": 16,
    "q20_promotion_candidates": 16,
    "stream_dedup_ingest": 16,
    "stream_ivfpq_ingest": 16,
    "dedup_clusters_incremental": 16,
    "stream_cluster_ingest": 16,
    "similarity_after_delete": 16,
}

# Queries that MUST carry a round-17 verdict regardless of history:
# every query whose implementation changed THIS round (optimization
# round 2/2 — kernels restructured for job-count/shuffle cost, results
# identical by construction and re-proven by the differential gate).
_RECHECK_R17: tuple[str, ...] = (
    # r17: dedup_ingest_batch persists the `fresh` survivor relation
    # across its two idempotent writes (the index-probe pipeline ran
    # twice per micro-batch), and spread_batch's width rule became
    # fill-then-grow AND actually engages inside foreachBatch (the r16
    # inputFiles()-based byte probe read empty there — silent no-op).
    "stream_dedup_ingest",
    # r17: index_ingest_batch spreads size-adaptively (was fixed
    # defaultParallelism) and hash-clusters the postings write (was
    # repartitionByRange, whose sampling job re-ran the tokenize+join
    # subtree every batch).
    "stream_index_ingest",
    # r17: ann_ingest_batch reads the stream-immutable quantizers once
    # per drain instead of per batch; shares spread_batch's new rule.
    "stream_ivfpq_ingest",
    # r17: duplicate_clusters_collapsed fills its grp+mem caches with
    # ONE eager pass (mem's join read-through-fills grp) — every query
    # flowing through the collapse+expand envelope re-verifies.
    "dedup_clusters",
    "dedup_clusters_logstar",
    "dedup_keep_best",
    "corpus_e2e_curation",
    "corpus_split_leakage_safe",
    "dedup_clusters_incremental",
    "stream_cluster_ingest",
    "multimodal_image_clusters",
    # r17: build_star's raw-cache pre-fill and F3 emptiness probes
    # fused into one raw-level job (dim emptiness ≡ source emptiness
    # for the filter-free dim builders) — the three pipeline facts
    # re-verify.
    "pipeline_311_fact",
    "pipeline_parking_fact",
    "pipeline_integrated_fact",
    # The fingerprint index has one format — the refcounted log
    # partitioned by b — so the staged index behind this query changed.
    "dedup_incremental_rc",
)

def _ordered() -> dict[str, QueryDef]:
    _load_all()
    recheck = {n: i for i, n in enumerate(_RECHECK_R17)}
    reg_pos = {n: i for i, n in enumerate(REGISTRY)}

    def sort_key(name: str) -> tuple[int, int, int]:
        # group 0: must-verify this round (recheck list, or no green
        # verdict on record); then greens by ascending last-verified
        # round; registry insertion order breaks ties stably.
        if name in recheck:
            return (0, recheck[name], 0)
        last = _LAST_VERIFIED.get(name)
        if last is None:
            return (0, len(recheck), reg_pos[name])
        return (last, 0, reg_pos[name])

    names = sorted(REGISTRY, key=sort_key)
    return {n: REGISTRY[n] for n in names}


def queries() -> dict[str, QueryFn]:
    return {name: qd.fn for name, qd in _ordered().items()}


def oracle_sql() -> dict[str, str]:
    return {name: qd.oracle for name, qd in _ordered().items() if qd.oracle is not None}


_LOADED = False


def _load_all() -> None:
    """Import all query modules (self-registering)."""
    global _LOADED
    if _LOADED:
        return
    from nyc_opendata_etl_spark.queries import (  # noqa: F401
        parity,
        relational,
        llm_ops,
        event_windows,
        pipeline,
        multimodal_q,
        tpch,
        maintenance,
    )

    _LOADED = True
