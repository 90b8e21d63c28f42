"""Query registry: every operator registers a (spark, sf_dir) -> DataFrame
builder plus (when SQL-expressible) its DuckDB oracle twin.

The driver contract (``__spark_entry__.py``) exposes these via
``queries()`` / ``oracle_sql()``. Registration happens at import time of
the operator modules; ``load_all()`` imports them all.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]

QUERIES: dict[str, QueryFn] = {}
ORACLES: dict[str, str] = {}


def query(name: str, oracle: str | None = None) -> Callable[[QueryFn], QueryFn]:
    """Register a query builder; ``oracle`` is the DuckDB-SQL twin.

    Omit ``oracle`` only for genuinely non-SQL-expressible ops (LSH,
    sampling, streaming state) — the driver then records a weaker
    rows-only check (SURVEY.md §2.0).
    """

    def deco(fn: QueryFn) -> QueryFn:
        QUERIES[name] = fn
        if oracle is not None:
            ORACLES[name] = " ".join(oracle.split())
        return fn

    return deco


# Driver-facing ordering. The harness evaluates queries() in dict order
# and gives correctness rows only to the first names its budget allows
# (round 1 stopped at the first 50 of 103 and left the whole
# rebalance/LLM/streaming surface unverified). So the first 50 names are a
# curated cover: every SURVEY.md §2 component has at least one
# representative here, each with a DuckDB oracle twin. COVERAGE.md maps
# each component to its representative. Everything else stays registered
# after them: still run by tests and bench, still callable, just not
# competing for the driver's correctness budget.
DRIVER_ORDER: list[str] = [
    "rebalance_pipeline",
    "ch_dialect_concat_split",
    "ch_dialect_funcs_wave2",
    "ch_dialect_funcs_wave3",
    "ch_dialect_datetime",
    "string_funcs",
    "json_funcs",
    "map_funcs",
    "array_lambda_funcs",
    "null_semantics",
    "conditional_aggregates",
    "sort_multi_key",
    "dict_get_lookup",
    "explode_words",
    "posexplode_words",
    "pivot_sql_clause",
    "unpivot_metrics",
    "multi_grain_rollup",
    "window_funnel_levels",
    "sequence_match_funnel3",
    "cohort_retention",
    "weighted_median",
    "median_exact",
    "mutation_delete_update",
    "ttl_expiry",
    "media_feature_extract",
    "media_frame_sample",
    "media_resize",
    "mixture_sample",
    "weighted_sample_es",
    "knn_join",
    "knn_join_label",
    "embedding_norms",
    "ivf_index_stats",
    "sum_map_props",
    "dedup_by_key",
    "token_count",
    "sample_k_per_group",
    "binary_payload_metadata",
    "stream_ohlc_equiv",
    "stream_quality_gate",
    "statestore_introspection",
    "sink_observed_metrics",
    "tumbling_window_agg",
    "uniq_sliding_window",
    "delta_sum_running",
    "funnel_conversion",
    "local_supplier_volume",
    "small_qty_order_revenue",
    "late_shipment_priority",
]


# Tier 2: if the driver's correctness budget exceeds the 50-name cover,
# these receive rows next. The order is drift risk, not the round a query
# landed in: the newest translation-wave demos first, then the rows
# rotated out of the cover after 2+ green driver rounds, most recent
# rotation first, then older surface, then the round-2 flagship operators
# and the per-function suite variants.
DRIVER_ORDER_TIER2: list[str] = [
    "ch_dialect_funcs_wave4",
    "ch_dialect_funcs_wave5",
    "stream_python_datasource",
    "ch_dialect_rollup",
    "ch_dialect_array_join",
    "ch_dialect_weekday",
    "ch_ddl_roundtrip",
    "url_funcs",
    "ip_funcs",
    "encode_funcs",
    "format_funcs",
    "timezone_funcs",
    "string_search_funcs",
    "math_funcs",
    "matryoshka_topk_recall",
    "stream_ema_state",
    "stream_dedup_events",
    "top_supplier_revenue",
    "volume_shipping_nations",
    "customer_order_distribution",
    "idle_customer_balances",
    "returned_item_report",
    "large_volume_customers",
    "promo_revenue_ratio",
    "uniq_state_merge",
    "theta_set_ops",
    "asof_join_forward",
    "recursive_cte_chain",
    "source_orc_roundtrip",
    "source_json_roundtrip",
    "source_text_roundtrip",
    "source_binaryfile_scan",
    "sink_partitioned_parquet",
    "sink_python_datasource",
    "ch_dialect_dict_get",
    "ch_dialect_converters",
    "ch_dialect_strings",
    "datetime_funcs",
    "semi_structured_suite",
    "ivf_index_admit",
    "ivf_index_compact",
    "multimodal_roundtrip",
    "corpus_pipeline_e2e",
    "topk_state_merge",
    "agg_state_merge",
    "bitmap_state_merge",
    "time_gap_fill",
    "stream_sliding_equiv",
    "stream_session_equiv",
    "ch_dialect_quantile_rank_rules",
    "ch_dialect_weighted_aggs",
    "ch_dialect_totals_expr",
    "bm25_topk",
    "bm25_batch_topk",
    "bm25_inverted_topk",
    "bm25_index_admit",
    "retrieval_snippets",
    "hybrid_rrf_topk",
    "corpus_curate_e2e",
    "stratified_sample",
    "upsert_latest_wins",
    "stream_static_enrich",
    "stream_stream_left_join",
    "stream_session_timeout_state",
    "array_funcs",
    "collapsing_sign_merge",
    "data_quality_checks",
    "quantile_state_merge",
    "heavy_hitters_weighted",
    "exponential_moving_avg",
    "source_python_datasource",
    "ch_dialect_quantile",
    "ch_dialect_topk",
    "ch_dialect_quantile_weighted",
    "ch_dialect_argmax",
    "ch_dialect_array_join_zip",
    "ch_dialect_with_fill_multi",
    "ch_dialect_limit_by_offset",
    "ch_dialect_limit_ties",
    "corpus_pipeline_e2e_keep_longest",
    "bpe_train_merges",
    "train_val_test_split",
    "dedup_clusters_cc",
    "pack_token_shards",
    "scalar_funcs_suite",
    "bitwise_funcs",
    "zorder_clustering",
    "window_range_interval",
    "stream_watermark_counts",
    "stream_index_admit",
    "except_all_rows",
    "cte_query",
    "gopher_rules_filter",
    "mixture_sample_weights",
    "pack_quality_curriculum",
    "dedup_repeated_substring",
    "dedup_semantic_prune",
    "corpus_ingest_incremental",
    "asof_join_nearest",
    "corpus_stage_gate",
    "corpus_stage_dedup",
    "corpus_stage_split",
    "ch_dialect_with_fill",
    "ch_dialect_fill_interpolate",
    "ch_dialect_with_fill_desc",
    "ch_dialect_final",
    "ch_dialect_final_summing",
    "ch_dialect_any_join",
    "ch_dialect_asof_join",
    "ch_dialect_totals",
    "sliding_window_agg",
    "session_window_agg",
    "approx_count_distinct",
    "grouped_map_udaf",
    "national_market_share",
    "stream_tumbling_equiv",
    "stream_mv_maintain",
    "stream_custom_state",
    "time_gap_fill_interpolate",
    "table_swap_lifecycle",
    "rebalance_shard_stats",
    "decontaminate_minhash",
    "ann_ivf_topk_refined",
    "shipping_priority_topk",
    "projection_expr",
    "join_right_outer",
    "join_null_safe",
    "grouping_sets",
    "correlated_scalar_subquery",
    "ch_dialect_limit_by",
    "ch_dialect_brackets",
    "bucketed_join_noshuffle",
    "embedding_pq",
    "interval_length_sum",
    "sequence_count_pattern",
    "disjunctive_predicate_revenue",
    "global_shuffle_shards",
    "retention_conditions",
    "line_dedup_ratio",
    "forecast_revenue_change",
    "join_lateral_topn",
    "sql_udf_inlined",
    "python_udtf_bigrams",
    "group_by_all",
    "identifier_parameterized",
    "multi_array_zip_flatten",
    "length_bucket_packing",
    "dedup_keep_best",
    "diversity_sample_cells",
    "lm_perplexity_score",
    "ohlc_bars",
    "mad_outlier_scores",
    "corpus_datasheet",
    "user_churn_weekly",
    "dedup_exact_text",
    "dedup_minhash_lsh",
    "dedup_embedding_cosine_ivf",
    "cosine_topk_exact",
    "ann_ivf_topk",
    "text_quality",
    "filter_predicates",
    "top_k",
    "rebalance_invariants",
    "source_schema_evolution",
    "agg_multikey",
    "dedup_incremental_batch",
    "ann_pq_topk",
    "knn_join_ivf",
    "quality_classifier_score",
    "stream_stream_join",
    "stream_upsert_sink",
    "asof_join_tolerance",
    "sample_fraction",
    "having_filter",
    "simhash_signatures",
    "ivf_kmeans_cells",
    "cosine_pairs_ivf",
    "tf_idf",
    "union_all_shards",
    "top_k_per_group",
    "join_theta_range",
    "join_semi",
    "join_broadcast_dims",
    "collect_agg",
    "window_ranking",
    "cast_coercion",
    "asof_join",
    "join_inner",
    "join_left_outer",
    "insert_select_roundtrip",
    "cosine_pairs_threshold",
    "approx_quantiles",
    "ngram_jaccard_pairs",
    "tokenize_normalize",
    "window_analytic",
    "rebalance_range_invariants",
    "source_csv_roundtrip",
    "dedup_embedding_cosine",
    "char_entropy",
    "edit_distance_topk",
    "variant_json_extract",
    "geo_distance",
    "ngram_repetition_quality",
    "scd2_intervals",
    "embedding_quantize_int8",
    "compaction_roundtrip",
    "heavy_hitters",
    "salted_hot_key_agg",
    "label_centroids",
    "chunk_documents",
    "redact_pii",
    "contamination_ngram_overlap",
    "concurrent_sessions",
    "bpe_merge_step",
    "window_distribution",
    "array_running_funcs",
]


def ordered_queries() -> dict[str, QueryFn]:
    """All registered queries, DRIVER_ORDER cover first, then tier 2."""
    load_all()
    out = {n: QUERIES[n] for n in DRIVER_ORDER + DRIVER_ORDER_TIER2 if n in QUERIES}
    out.update({n: f for n, f in QUERIES.items() if n not in out})
    return out


def ordered_oracles() -> dict[str, str]:
    load_all()
    out = {n: ORACLES[n] for n in DRIVER_ORDER + DRIVER_ORDER_TIER2 if n in ORACLES}
    out.update({n: s for n, s in ORACLES.items() if n not in out})
    return out


_loaded = False


def load_all() -> None:
    global _loaded
    if _loaded:
        return
    # import for registration side effects
    from .operators import (  # noqa: F401
        aggregates,
        joins,
        relational,
        setops,
        subqueries,
        udfs,
        windows,
    )
    from .functions import ch_parity, scalar_funcs, text, vectors  # noqa: F401
    from .plans import ch_dialect, rebalance_queries  # noqa: F401
    from .sources import connectors, python_source  # noqa: F401
    from .streaming import batch_windows, stream_ops  # noqa: F401
    from .operators import llm_corpus, llm_dedup, llm_similarity, llm_text, multimodal  # noqa: F401
    from .operators import analytics_ext, analytics_tpch, layout_quality  # noqa: F401
    _loaded = True
