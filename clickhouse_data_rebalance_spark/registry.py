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


# --------------------------------------------------------------------------
# Driver-facing ordering. The harness evaluates queries() in dict order
# and budget-caps how many receive correctness rows (round 1 stopped at
# the first 50 of 103, leaving the whole rebalance/LLM/streaming surface
# unverified). These 50 names are a curated cover: every SURVEY.md §2
# component has at least one representative here, each with a DuckDB
# oracle twin. Everything else stays registered after them — still run
# by tests/bench, still available to callers — just not competing for
# the driver's correctness budget. Merged representatives (documented in
# COVERAGE.md): projection_expr carries CASE/COALESCE (C25), agg_multikey
# carries COUNT(DISTINCT) (C11), window_analytic carries an explicit
# frame (C17), top_k carries a mixed-direction multi-key sort (C18),
# scalar_funcs_suite = C26-C28, semi_structured_suite = C29-C31; C9's
# cross join runs inside cosine_topk_exact (broadcast crossJoin).
# --------------------------------------------------------------------------
DRIVER_ORDER: list[str] = [
    # reference surface: rebalance / catalog lifecycle / data movement
    # (r6 rotation, per the "budget on newest surface" rule: the eight
    # round-5 operators + cosine_pairs_ivf enter; nine 2+-green-round
    # veterans leave for tier 2 — every departing component keeps a
    # cover representative, see COVERAGE.md for the merge mapping:
    # insert_select_roundtrip -> rebalance_pipeline (its INSERT-SELECT
    # phase), join_inner -> join_broadcast_dims (inner equi-join),
    # join_left_outer -> join_right_outer + asof_join_tolerance's ASOF
    # LEFT fill, asof_join -> asof_join_tolerance (superset semantics),
    # cosine_pairs_threshold -> cosine_pairs_ivf (same op, corpus-scale
    # blocking), tokenize_normalize -> tf_idf's tokenize stage,
    # approx_quantiles -> approx_count_distinct keeps the approx family,
    # ngram_jaccard_pairs / dedup_exact's siblings keep the dedup family,
    # window_analytic -> C16 analytic fns ride time_gap_fill_interpolate
    # + asof_join_tolerance (first/last ignorenulls fills) and C17
    # frames ride window_range_interval)
    # (r7 rotation, per the "budget on newest surface" rule: eight
    # round-6 operators enter — ann_ivf_topk_refined, ann_pq_topk,
    # knn_join_ivf, decontaminate_minhash, shipping_priority_topk,
    # quality_classifier_score, source_python_datasource,
    # ch_dialect_limit_by — and eight 2+-green-round veterans leave for
    # tier 2. Merge mapping (COVERAGE.md): ann_ivf_topk ->
    # ann_ivf_topk_refined (same probe path over the refined index
    # generation, identical oracle), cosine_topk_exact -> ann_pq_topk
    # (its exact-cosine re-rank stage + the same broadcast crossJoin
    # carries C9/C42-exact; identical oracle), dedup_minhash_lsh ->
    # decontaminate_minhash (same banded-MinHash-LSH machinery, the
    # cross-corpus form), dedup_exact_text -> dedup_incremental_batch
    # (C40 exact dedup, driver-green r6), dedup_embedding_cosine_ivf ->
    # knn_join_ivf (same IVF-cell-blocked pair machinery; threshold vs
    # k-NN forms), text_quality -> quality_classifier_score (C46
    # quality-scoring family), top_k -> shipping_priority_topk
    # (TakeOrderedAndProject top-10 with a mixed-direction multi-key
    # sort, C18/C19), filter_predicates -> shipping_priority_topk's
    # scan-pushed filters + ch_dialect_limit_by's translated WHERE (C3))
    # (r8 rotation, per the same rule: nine enter — the eight VERDICT r7
    # #1 promotions (dedup_repeated_substring, corpus_ingest_incremental,
    # dedup_semantic_prune, asof_join_nearest, national_market_share,
    # ch_dialect_brackets, matryoshka_topk_recall,
    # corpus_pipeline_e2e_keep_longest) plus bm25_topk (VERDICT r7 #5,
    # new this round — rides tf_idf's 3-round-green token/df machinery).
    # Nine 2+-green veterans leave for tier 2. Merge mapping
    # (COVERAGE.md): simhash_signatures -> decontaminate_minhash keeps
    # the C41 banded-LSH row (+ dedup_repeated_substring widens C41),
    # ivf_kmeans_cells -> ann_ivf_topk_refined (probes the index REBUILT
    # from those k-means centroids), cosine_pairs_ivf -> knn_join_ivf +
    # dedup_semantic_prune (same IVF-cell-blocked pair machinery, C43),
    # tf_idf -> bm25_topk (same tokenize/tf/df stats, retrieval form,
    # C44/C45), union_all_shards -> rebalance_pipeline's shard fan-in
    # union (C21), top_k_per_group -> ch_dialect_limit_by (same
    # ROW_NUMBER-per-key plan, C20), join_theta_range -> join_null_safe
    # keeps the C8 row (+ asof_join_tolerance's range predicate),
    # join_semi -> corpus_ingest_incremental's plan-asserted LeftSemi
    # screens (C7), join_broadcast_dims -> national_market_share's
    # plan-asserted broadcast snowflake dims (C4/C6))
    # (r9 rotation, per the same rule: twelve enter — the eleven VERDICT
    # r8 #2 promotions (hybrid_rrf_topk, bm25_inverted_topk,
    # bm25_index_admit, bm25_batch_topk, retrieval_snippets,
    # ivf_index_admit, ivf_index_compact, stream_index_admit,
    # gopher_rules_filter, mixture_sample_weights,
    # pack_quality_curriculum) plus corpus_pipeline_e2e (VERDICT r8 #1:
    # the never-externally-checked min-id twin of the r8 red row joins
    # its hardened sibling in the cover). Twelve 2+-green veterans leave
    # for tier 2. Merge mapping (COVERAGE.md): rebalance_invariants ->
    # rebalance_pipeline (same hash re-scatter + content-preserved
    # verify, A13/B1/B2/C35/B6), source_schema_evolution ->
    # source_python_datasource (C1), agg_multikey -> grouping_sets
    # (C10 multi-key grouped agg) + approx_count_distinct (C11 exact
    # count-distinct computed alongside the HLL bound),
    # dedup_incremental_batch -> corpus_ingest_incremental (the
    # exact-dup-vs-corpus arm, partition-pruned) + corpus_pipeline_e2e
    # (the fingerprint dedup window) for C40, ann_pq_topk ->
    # ann_ivf_topk_refined + matryoshka_topk_recall (C42; the PQ
    # machinery stays registered as embedding_pq), knn_join_ivf ->
    # dedup_semantic_prune (same IVF-cell-blocked pair join, C43),
    # quality_classifier_score -> gopher_rules_filter (C46),
    # stream_stream_join / stream_upsert_sink -> stream_mv_maintain
    # (C53; the upsert sink IS the MV-maintain mechanism),
    # asof_join_tolerance -> asof_join_nearest (same union+window-fill
    # composition, both-direction fill + tie rule), sample_fraction ->
    # mixture_sample_weights (C33 sampling family, same md5-derived
    # fixed randomness), having_filter -> dedup_repeated_substring's
    # post-aggregation duplicate-span filter + stream_watermark_counts's
    # emitted-window HAVING (C14))
    # (r10 rotation, per the same rule: sixteen enter — the three
    # corpus_stage_* bisection queries (VERDICT r9 #1: cumulative-prefix
    # twins of the two-round-red corpus_pipeline_e2e family, so a red
    # row finally NAMES the diverging stage), the twelve VERDICT r9 #2
    # promotions (the whole r9 dialect wave: quantile, topk, with_fill,
    # fill_interpolate, final, final_summing, asof_join, any_join,
    # with_fill_desc, limit_by_offset, limit_ties — plus
    # bpe_train_merges), and ch_dialect_totals (never-green; its
    # GROUPING SETS lowering keeps C13 covered when grouping_sets
    # leaves). Sixteen 2+-green veterans leave for tier 2. Merge mapping
    # (COVERAGE.md §r10): table_swap_lifecycle + rebalance_shard_stats
    # -> rebalance_pipeline (its stage/swap/GC phases, on plans.catalog =
    # A5-A12/C36, its verify phase = C37), ch_dialect_limit_by ->
    # ch_dialect_limit_by_offset (same ROW_NUMBER plan + offset,
    # C15/C20), ch_dialect_brackets -> the 12-strong dialect block,
    # decontaminate_minhash -> dedup_repeated_substring keeps C41
    # (banded-LSH variants stay registered), ann_ivf_topk_refined ->
    # matryoshka_topk_recall + ivf_index_admit/compact (C42/C9 probe
    # the same index machinery), stream_tumbling_equiv ->
    # stream_watermark_counts' tumbling windows (C48),
    # stream_mv_maintain + stream_custom_state -> stream_index_admit
    # (the foreachBatch-maintained stateful sink IS MV maintenance,
    # B5/C53), projection_expr -> corpus_stage_split's CASE + every
    # cover projection (C2/C25), time_gap_fill_interpolate ->
    # ch_dialect_with_fill + ch_dialect_fill_interpolate (the same
    # gap-fill lowering, dialect-driven — C16 also rides
    # asof_join_nearest's fills), join_right_outer ->
    # ch_dialect_any_join + ch_dialect_asof_join LEFT arms (C5),
    # join_null_safe -> asof_join_nearest's range predicates keep C8
    # (the <=> variant stays registered), shipping_priority_topk ->
    # ch_dialect_limit_ties' TakeOrdered threshold cut (C18/C19) +
    # national_market_share's pushed filters (C3), grouping_sets ->
    # ch_dialect_totals (C13; rollup/cube variants stay registered),
    # correlated_scalar_subquery -> ch_dialect_limit_ties' scalar
    # subquery threshold (C23; the correlated/IN/EXISTS variants stay
    # registered + locally oracled))
    # (r11 rotation: fifteen enter, all never-externally-verified
    # (VERDICT r10 #3/#4: burn the never-green ledger; the five r8–r10
    # red rows STAY — their green flip is the proof the dtype diagnosis
    # was right): corpus_curate_e2e (the curation flagship, VERDICT r10
    # #3), the three r2-era flagships with zero external rows
    # (dedup_clusters_cc, pack_token_shards, upsert_latest_wins), the
    # r10/r11 dialect surface (ch_dialect_totals_expr,
    # ch_dialect_array_join_zip, ch_dialect_with_fill_multi,
    # ch_dialect_quantile_weighted, ch_dialect_argmax), and six members
    # of the r11 driver-safe dtype sweep whose green rows externally
    # prove the HUGEINT/LIST fix class (train_val_test_split,
    # array_funcs, bitwise_funcs, collapsing_sign_merge,
    # zorder_clustering, data_quality_checks). Fifteen 2+-green veterans
    # leave for tier 2. Merge mapping (COVERAGE.md §r11):
    # bm25_topk + bm25_batch_topk + bm25_inverted_topk + bm25_index_admit
    # + retrieval_snippets + hybrid_rrf_topk -> C44/C45 carry their six
    # r9+r10 green rows; the tokenize/token-count machinery also rides
    # corpus_curate_e2e's stages + train_val_test_split (in cover),
    # ivf_index_admit/_compact -> matryoshka_topk_recall (probes the
    # same pinned-generation IVF index machinery, C42),
    # gopher_rules_filter -> corpus_stage_gate + corpus_curate_e2e's
    # rules gate (C46), mixture_sample_weights -> corpus_curate_e2e
    # composes the exact same budget/weights plan (C33),
    # pack_quality_curriculum -> pack_token_shards (the packing family's
    # two-level-prefix-sum scale flagship), dedup_repeated_substring ->
    # corpus_stage_gate (the same integer repetition gate; its C14
    # post-agg filter -> collapsing_sign_merge's HAVING, in cover),
    # dedup_semantic_prune -> dedup_clusters_cc (the pairwise-cosine
    # edge family, transitive-closure form; IVF cell-blocking stays
    # plan-asserted in test_plan_quality), corpus_ingest_incremental ->
    # data_quality_checks' broadcast anti-join keeps C7 external (the
    # LeftSemi screens stay plan-asserted + r10-green),
    # asof_join_nearest -> ch_dialect_asof_join / ch_dialect_any_join
    # (the as-of family, dialect-driven; C8 range predicates carry its
    # r10 green row))
    # (r12 rotation: sixteen enter — the two r11-new dialect surfaces
    # with zero external rows (VERDICT r11 #1: ch_dialect_weighted_aggs,
    # ch_dialect_dict_get), the brand-new exact rank-rule translation
    # (ch_dialect_quantile_rank_rules, VERDICT r11 #5, in-cover from
    # birth), the six r5-era streaming-equivalence queries that never
    # had an external row (VERDICT r11 #3: stream_sliding_equiv,
    # stream_session_equiv, stream_static_enrich,
    # stream_stream_left_join, stream_ema_state,
    # stream_session_timeout_state — C-IV's least externally-proven
    # cluster), stratified_sample (its only external row ever is an r1
    # no_oracle artifact; one green row retires the registry's last
    # red-looking record), the mergeable-sketch trio
    # (quantile_state_merge, uniq_state_merge, heavy_hitters_weighted —
    # the bounded-memory 100 TB paths MIGRATION.md routes the exact
    # quantile/topK translations to), exponential_moving_avg,
    # time_gap_fill (the WITH FILL family's native date-spine analog),
    # and asof_join_forward (never-green native as-of machinery — the
    # forward-direction union+carry-window form).
    # Sixteen 2+-green veterans leave for tier 2. Merge mapping
    # (COVERAGE.md §r12): ch_dialect_with_fill + fill_interpolate +
    # with_fill_desc -> ch_dialect_with_fill_multi (same FillingTransform
    # lowering: grouped restart is a superset of the single-key walk,
    # INTERPOLATE carry and the DESC negated-key walk run per group) +
    # time_gap_fill (in cover: the C16 date-spine gap fill the refusal
    # points at), ch_dialect_final -> upsert_latest_wins (the
    # max-version-per-key collapse IS the Replacing FINAL lowering),
    # ch_dialect_final_summing -> collapsing_sign_merge (the same
    # engine-collapse family: group-sum + drop rule),
    # ch_dialect_any_join -> upsert_latest_wins (ANY lowers to the same
    # greatest-struct dedup-by-key) with C5's outer arm riding
    # ch_dialect_asof_join's LEFT form (in cover), ch_dialect_totals ->
    # ch_dialect_totals_expr (same GROUPING SETS all-row lowering,
    # expression keys a strict superset), sliding_window_agg ->
    # stream_sliding_equiv and session_window_agg -> stream_session_equiv
    # (each equivalence query states the SAME oracle as its batch twin —
    # the streaming state must finalize to the batch answer, so the
    # batch window semantics are checked through them),
    # approx_count_distinct -> uniq_state_merge (C12's HLL machinery in
    # its mergeable-state form; the single-shot query stays registered),
    # grouped_map_udaf -> stream_ema_state + stream_session_timeout_state
    # (applyInPandasWithState, the stateful rung of the same grouped-map
    # Pandas ladder) + multimodal_roundtrip's mapInPandas (C34),
    # corpus_stage_gate/dedup/split -> corpus_pipeline_e2e +
    # corpus_pipeline_e2e_keep_longest + corpus_curate_e2e (the
    # cumulative supersets the stages bisect; the stage grain stays
    # registered for red-row debugging), national_market_share ->
    # ch_dialect_dict_get (4x plan-pinned BroadcastHashJoin over the
    # dictionary dims, C4/C6) + data_quality_checks' broadcast anti-join
    # with C3's pushed filters riding every cover scan,
    # ch_dialect_asof_join -> asof_join_forward (in cover: the native
    # as-of union+carry machinery the dialect rewrite lowers INTO) +
    # window_range_interval's range predicates (C8), with C5's outer
    # arm moving to stream_stream_left_join (in cover: a real LEFT
    # OUTER join with an unmatched-row null arm))
    # (r13 rotation: twenty-two enter — the retrieval/index-maintenance
    # six on the COVERAGE.md cadence now due (VERDICT r12 #1: bm25_topk,
    # bm25_batch_topk, bm25_inverted_topk, bm25_index_admit,
    # retrieval_snippets, hybrid_rrf_topk — last green r9/r10; the
    # persisted-index machinery most exposed to environment drift;
    # ivf_index_admit/_compact stay at the tier-2 head for r14, slots
    # went to the never-green ledger), fifteen NEVER-green queries
    # (VERDICT r12 #2/#7 — ledger 125 -> 110): the source/sink connector
    # family (source_orc_roundtrip, source_json_roundtrip,
    # source_text_roundtrip, source_binaryfile_scan,
    # sink_partitioned_parquet, sink_python_datasource,
    # stream_python_datasource — C1 had exactly ONE external row),
    # three per-function scalar suites (string_funcs, math_funcs,
    # datetime_funcs — C26/C27/C28's dedicated suites),
    # the remaining state-merge trio (topk_state_merge, agg_state_merge,
    # bitmap_state_merge — completes the mergeable-sketch family whose
    # first three members went green r12), theta_set_ops (sketch set
    # algebra — carries the set-op family row) and recursive_cte_chain
    # (WITH RECURSIVE — C24's strictly-richer form), plus the
    # brand-new ch_dialect_converters (VERDICT r12 #3, in-cover from
    # birth like rank_rules).
    # Twenty-two 2+-green veterans leave. Merge mapping (COVERAGE.md
    # §r13): source_python_datasource -> sink_python_datasource +
    # stream_python_datasource (same Python DataSource machinery, C1),
    # ch_dialect_quantile -> ch_dialect_quantile_rank_rules (ExactHigh
    # coincides with quantileExact by translate-equality; same
    # let-bound sort + percentile lowering) + quantile_state_merge,
    # ch_dialect_quantile_weighted -> ch_dialect_quantile_rank_rules
    # (shared multi-slot crossing fold) + the CDR_WQ_SCALE gate,
    # ch_dialect_topk -> ch_dialect_weighted_aggs (topKWeighted's exact
    # frequency machinery) + topk_state_merge (in cover),
    # ch_dialect_argmax -> upsert_latest_wins (max-version
    # greatest-struct pick IS argMax(struct, version)),
    # ch_dialect_array_join_zip -> array_funcs (zip_with/inline
    # machinery) + semi_structured_suite's array lambdas,
    # ch_dialect_with_fill_multi -> time_gap_fill (same FillingTransform
    # gap-fill family, in cover), ch_dialect_limit_by_offset ->
    # corpus_pipeline_e2e's per-key ROW_NUMBER window (C15/C20
    # WindowGroupLimit plan), ch_dialect_limit_ties -> bm25_topk /
    # hybrid_rrf_topk TakeOrdered cuts (C18/C19) + ch_dialect_dict_get's
    # correlated scalar subqueries (C23), corpus_pipeline_e2e_keep_longest
    # -> corpus_pipeline_e2e (min-id twin, same stages),
    # bpe_train_merges -> the new CDR_BPE_SCALE empirical gate +
    # corpus_curate_e2e's tokenize stages (bpe_merge_step stays
    # registered), train_val_test_split -> corpus_curate_e2e's md5
    # split + stratified_sample (in cover), dedup_clusters_cc ->
    # corpus_pipeline_e2e's dedup window (C40) + tests/test_cc_scale.py,
    # pack_token_shards -> corpus_curate_e2e's per-(source, split)
    # token budgets (packing flagship stays registered + scale-gated),
    # scalar_funcs_suite -> string_funcs + math_funcs + datetime_funcs
    # (the per-family suites are strict supersets of C26-C28),
    # bitwise_funcs -> math_funcs, zorder_clustering ->
    # data_quality_checks (the layout-validation sibling, same module)
    # + rebalance_pipeline's layout machinery, window_range_interval ->
    # asof_join_forward (C8 range/inequality carry) +
    # time_gap_fill/exponential_moving_avg frames (C16/C17),
    # stream_watermark_counts -> stream_dedup_events (C51 watermark
    # late-filter, in cover) + stream_sliding_equiv (C48: tumbling is
    # degenerate sliding) + stream_session_equiv, stream_index_admit ->
    # stream_ema_state + stream_session_timeout_state (the stateful
    # state-maintenance C53/B5 arms) + bm25_index_admit (in cover: the
    # batch index-admit machinery re-proven externally),
    # except_all_rows -> theta_set_ops (the set-op family in its
    # cardinality-algebra form; the relational EXCEPT ALL query stays
    # registered + locally oracled, 11 green rounds banked),
    # cte_query -> recursive_cte_chain (C24's WITH RECURSIVE superset))
    "rebalance_pipeline",
    # (r16: stream_python_datasource rotates out 3x-green r13-r15; C1
    # maps to binary_payload_metadata + sink_observed_metrics, see the
    # r16 rotation comment below)
    # ClickHouse dialect layer (r12 keepers + the r13 converter wave)
    # (r14 rotation: twenty enter — the IVF admit/compact pair on the
    # VERDICT r12 #1 / r13 #2 re-proving cadence (last green r9/r10;
    # persisted-index machinery most exposed to environment drift),
    # plus EIGHTEEN never-green queries (VERDICT r13 #3 — ledger
    # 111 -> ≤95): the r2-era per-function suites (url_funcs, ip_funcs,
    # encode_funcs, format_funcs, timezone_funcs, string_search_funcs —
    # all pre-screened by the new numeric-kind lint,
    # tests/test_driver_compat.py), the early dialect demos
    # (ch_dialect_rollup, ch_dialect_datetime, ch_dialect_array_join,
    # ch_dialect_weekday, ch_ddl_roundtrip), and seven TPC-H analogs
    # (top_supplier_revenue, volume_shipping_nations,
    # customer_order_distribution, idle_customer_balances,
    # returned_item_report, large_volume_customers, promo_revenue_ratio).
    # Twenty 2+-green veterans leave. Merge mapping (COVERAGE.md §r14):
    # ch_dialect_totals_expr -> ch_dialect_rollup (the same GROUPING
    # SETS all-row lowering, C13; expression-key form banked r11-r13),
    # ch_dialect_quantile_rank_rules -> math_funcs (C28 suite in cover)
    # + quantile_state_merge's banked r12/r13 greens + CDR_WQ_SCALE,
    # ch_dialect_weighted_aggs -> topk_state_merge (in cover: the same
    # exact-frequency topK machinery in mergeable-state form),
    # bm25 six -> cadence satisfied with 3-4 greens each in r13; the
    # tokenize/tf/df machinery rides corpus_pipeline_e2e's stages (in
    # cover) and the persisted-index admit/compact pattern is re-proven
    # through ivf_index_admit/ivf_index_compact (in cover),
    # corpus_curate_e2e -> corpus_pipeline_e2e (same stage machinery,
    # min-id dedup twin; curate stays registered + locally oracled),
    # stratified_sample -> its banked r12/r13 greens; the md5-derived
    # fixed-randomness split machinery also rides corpus_pipeline_e2e,
    # upsert_latest_wins -> corpus_pipeline_e2e's dedup window (the
    # same greatest-struct keep-one-per-key collapse, C40/FINAL),
    # stream_static_enrich / stream_stream_left_join /
    # stream_session_timeout_state -> stream_ema_state (the stateful
    # C53/B5 arm, in cover) + stream_session_equiv (session semantics)
    # + stream_sliding_equiv, with C5's outer arm moving to
    # customer_order_distribution's LEFT OUTER (in cover) and
    # asof_join_forward's LEFT carry (in cover),
    # array_funcs -> semi_structured_suite's array lambdas (in cover)
    # + ch_dialect_array_join (in cover: the ARRAY JOIN flatten),
    # collapsing_sign_merge -> large_volume_customers' HAVING (C14, in
    # cover) + corpus_pipeline_e2e's dedup-collapse machinery,
    # data_quality_checks -> idle_customer_balances' anti-join screen
    # (C7, in cover) with C3's pushed filters riding every cover scan,
    # quantile_state_merge -> uniq_state_merge (in cover: the same
    # partial-state merge pattern, HLL form),
    # heavy_hitters_weighted -> topk_state_merge (in cover: the same
    # weighted frequency machinery in mergeable-state form))
    # (r15 rotation, per the same rule: twenty-one enter — the two
    # r14-new translation-wave demos (ch_dialect_concat_split,
    # ch_dialect_funcs_wave2 — each the end-to-end external proof of an
    # entire r14 dialect wave) plus NINETEEN never-green queries
    # (VERDICT r14 #1 — ledger 94 -> 73): the oldest per-family suites
    # (json_funcs, map_funcs, array_lambda_funcs, null_semantics,
    # conditional_aggregates, sort_multi_key), the LLM-pipeline /
    # text-analysis members (dedup_by_key, token_count,
    # sample_k_per_group, binary_payload_metadata), the batch window
    # analytics (tumbling_window_agg, uniq_sliding_window,
    # delta_sum_running, funnel_conversion), three TPC-H analogs
    # (local_supplier_volume, small_qty_order_revenue,
    # late_shipment_priority), and two never-green streaming
    # equivalences (stream_ohlc_equiv, stream_quality_gate — VERDICT
    # r14 #5). Twenty-one 2+-green veterans leave for tier 2.
    # Merge mapping (COVERAGE.md §r15):
    # source_orc/json/text_roundtrip + source_binaryfile_scan +
    # sink_partitioned_parquet + sink_python_datasource ->
    # stream_python_datasource (C1: the same Python DataSource
    # family's stream+sink arms, in cover; all six leavers 2x-green
    # r13+r14),
    # ch_dialect_dict_get -> idle_customer_balances (C23 correlated
    # scalar subqueries, in cover), with its pinned BroadcastHashJoin
    # (C6) riding volume_shipping_nations' broadcast nation dims +
    # local_supplier_volume (entrant: the same broadcast snowflake
    # shape) + matryoshka_topk_recall's broadcast crossJoin (C9),
    # ch_dialect_converters -> ch_dialect_funcs_wave2 (entrant: the
    # same fallible-converter family — base64/IPv4 Or-forms, C32),
    # ch_dialect_strings -> string_funcs + string_search_funcs (C26
    # suites, in cover),
    # datetime_funcs -> timezone_funcs + ch_dialect_datetime (C27, in
    # cover),
    # semi_structured_suite -> json_funcs + map_funcs +
    # array_lambda_funcs (entrants: the dedicated C29/C30/C31
    # per-family suites the combined row merged),
    # ivf_index_admit / ivf_index_compact -> matryoshka_topk_recall
    # (C42 ANN, in cover); the pair's re-proving cadence is satisfied —
    # both re-proved r14 alongside the CDR_IVF_SCALE gate re-run,
    # multimodal_roundtrip -> binary_payload_metadata (entrant: the
    # same Arrow-batched mapInPandas binary plumbing, C34/multimodal),
    # corpus_pipeline_e2e -> dedup_by_key (C40 exact dedup, entrant) +
    # sample_k_per_group (C15/C20/C33 per-group window cut + sampling,
    # entrant) + conditional_aggregates / null_semantics (C25 CASE
    # forms, entrants); the tokenize/tf/df machinery stays tier-2 +
    # locally oracled, with CDR_BM25_SCALE / CDR_CORPUS_SCALE
    # re-verified this round (VERDICT r14 #2),
    # topk_state_merge / agg_state_merge / bitmap_state_merge ->
    # uniq_state_merge + theta_set_ops (the same partial-state merge
    # pattern, in cover; all three leavers 2x-green r13+r14),
    # time_gap_fill -> delta_sum_running (entrant: C16/C17 running
    # frames) + asof_join_forward (carry-forward fill semantics, in
    # cover),
    # stream_sliding_equiv -> uniq_sliding_window (entrant: the C49
    # sliding-window batch form) + tumbling_window_agg (C48 entrant) +
    # stream_ohlc_equiv (entrant: the stream-equals-batch equivalence
    # family continues on a third aggregate shape),
    # stream_session_equiv -> funnel_conversion (entrant: sessionized
    # event-sequence analytics), with C50's session-gap machinery
    # banked 3x-green r12-r14 + stream_session_timeout_state's r13
    # green)
    "ch_dialect_concat_split",
    "ch_dialect_funcs_wave2",
    # (r16 rotation, per the same rule: twenty-six enter — the r15-new
    # translation-wave demo ch_dialect_funcs_wave3 leads (VERDICT r15
    # #2: the end-to-end external proof of all three r15 waves, seated
    # by the r14-demo precedent), then TWENTY-FIVE never-green queries
    # (VERDICT r15 #1 — ledger 74 -> 48), drawn from the oldest
    # clusters: the dialect/dict row (dict_get_lookup), the lateral-
    # view/pivot family (explode_words, posexplode_words,
    # pivot_sql_clause, unpivot_metrics, multi_grain_rollup), the
    # event-sequence analytics (window_funnel_levels,
    # sequence_match_funnel3, cohort_retention), the exact-quantile
    # aggregates (weighted_median, median_exact), the CH-workflow
    # mutation/TTL analogs (mutation_delete_update, ttl_expiry), the
    # r2-era media/sample family (media_feature_extract,
    # media_frame_sample, media_resize, mixture_sample,
    # weighted_sample_es), the embedding/ANN members (knn_join,
    # knn_join_label, embedding_norms, ivf_index_stats), the map-agg
    # row (sum_map_props), and the streaming-observability pair
    # (statestore_introspection, sink_observed_metrics).
    # Twenty-six 2+-green veterans leave for tier 2 (every one green
    # r14+r15 or longer). VERDICT r15 #2's must-keeps stay seated:
    # string_funcs, json_funcs, and ch_dialect_datetime.
    # Merge mapping (COVERAGE.md §r16):
    # url/ip/encode/format/string_search_funcs -> string_funcs (C26
    # suite, in cover; each leaver banked 2 greens r14+r15),
    # timezone_funcs -> ch_dialect_datetime (C27 row, in cover),
    # math_funcs -> ch_dialect_funcs_wave3 (entrant: the digest/radix/
    # numeric-promotion lowerings) + weighted_median / median_exact
    # (entrants: exact numeric aggregates) + banked r14+r15 greens,
    # ch_dialect_rollup -> multi_grain_rollup (entrant: the same
    # GROUPING SETS machinery over multiple grains, C13),
    # ch_dialect_array_join -> array_lambda_funcs (C29 suite, in
    # cover) + explode_words / posexplode_words (entrants: the same
    # LATERAL VIEW explode flatten the ARRAY JOIN lowering emits),
    # ch_dialect_weekday / ch_ddl_roundtrip -> ch_dialect_datetime +
    # ch_dialect_funcs_wave3 (the dialect translator's external rows,
    # in cover) + banked 2 greens each,
    # stream_python_datasource -> binary_payload_metadata (C1 binary
    # scan plumbing, in cover) + sink_observed_metrics (entrant: the
    # observed-metrics sink arm) + banked 3 greens r13-r15,
    # matryoshka_topk_recall -> knn_join + knn_join_label +
    # embedding_norms + ivf_index_stats (entrants: the C42/C43
    # embedding family, 8 banked greens r8-r15),
    # stream_ema_state -> stream_ohlc_equiv + stream_quality_gate
    # (C53/B5 stream-equals-batch arms, in cover) +
    # statestore_introspection (entrant: the stateful-store arm),
    # stream_dedup_events -> stream_quality_gate (watermark machinery,
    # in cover; C51/C52's dedup form banked 13 greens r2-r15),
    # top_supplier_revenue / volume_shipping_nations /
    # customer_order_distribution / idle_customer_balances /
    # returned_item_report / large_volume_customers /
    # promo_revenue_ratio -> local_supplier_volume +
    # small_qty_order_revenue + late_shipment_priority (the r15 analog
    # entrants, in cover: the same join/agg/HAVING/anti-join shapes;
    # C5's LEFT OUTER arm rides cohort_retention's retention join,
    # entrant),
    # uniq_state_merge -> uniq_sliding_window (in cover: the same HLL
    # approx-distinct machinery over event-time windows, C12) + banked
    # 4 greens r12-r15,
    # theta_set_ops -> banked 3 greens r13-r15 (C22's
    # intersect/except-all row; locally oracled every round),
    # asof_join_forward -> banked 4 greens r12-r15 (C8 range carry;
    # the C5 LEFT arm moves to cohort_retention, entrant),
    # recursive_cte_chain -> banked 3 greens r13-r15 (C24; locally
    # oracled every round))
    "ch_dialect_funcs_wave3",
    "ch_dialect_datetime",
    # scalar/semi-structured function families (r15 entrants, 1 green
    # each — stay for their second round; string_funcs + json_funcs
    # are VERDICT r15 #2 must-keeps)
    "string_funcs",
    "json_funcs",
    "map_funcs",
    "array_lambda_funcs",
    "null_semantics",
    "conditional_aggregates",
    "sort_multi_key",
    # r16 ledger burn: dialect dict row + lateral-view/pivot family
    "dict_get_lookup",
    "explode_words",
    "posexplode_words",
    "pivot_sql_clause",
    "unpivot_metrics",
    "multi_grain_rollup",
    # r16 ledger burn: event-sequence analytics + exact quantiles
    "window_funnel_levels",
    "sequence_match_funnel3",
    "cohort_retention",
    "weighted_median",
    "median_exact",
    # r16 ledger burn: CH-workflow mutation/TTL analogs
    "mutation_delete_update",
    "ttl_expiry",
    # r16 ledger burn: the r2-era media/sample family
    "media_feature_extract",
    "media_frame_sample",
    "media_resize",
    "mixture_sample",
    "weighted_sample_es",
    # r16 ledger burn: embedding/ANN members (C42/C43 representatives
    # after matryoshka_topk_recall rotates out 8x-green)
    "knn_join",
    "knn_join_label",
    "embedding_norms",
    "ivf_index_stats",
    # r16 ledger burn: map-valued aggregation (sumMap analog)
    "sum_map_props",
    # LLM data-pipeline members (r15 entrants, second round)
    "dedup_by_key",
    "token_count",
    "sample_k_per_group",
    "binary_payload_metadata",
    # structured streaming (r15 entrants, second round) + the r16
    # streaming-observability pair (ledger burn)
    "stream_ohlc_equiv",
    "stream_quality_gate",
    "statestore_introspection",
    "sink_observed_metrics",
    # batch window analytics (r15 entrants, second round)
    "tumbling_window_agg",
    "uniq_sliding_window",
    "delta_sum_running",
    "funnel_conversion",
    # TPC-H-analog representatives (r15 entrants, second round)
    "local_supplier_volume",
    "small_qty_order_revenue",
    "late_shipment_priority",
]


# Tier 2: if the driver's correctness budget exceeds the 50-name cover,
# these should receive rows next — ordered by drift risk, not by the
# round they landed in: streaming equivalence checks lead (the family
# most sensitive to fixture/timestamp drift — it silently broke in r1
# and r3), then the rows rotated out of the cover after 2+ green driver
# rounds, then the round-2 flagship operators, then the long tail of
# per-function suite variants.
DRIVER_ORDER_TIER2: list[str] = [
    # r16 translation-wave demo — the end-to-end external proof of the
    # wave-4 comparison/float-classification/vector-distance/map-lambda
    # lowerings (VERDICT r15 #4); leads the r17 rotation by the same
    # precedent as the r14/r15 wave demos
    "ch_dialect_funcs_wave4",
    "ch_dialect_funcs_wave5",
    # rotated out of the 50-row cover in r16 (2+ green driver rounds
    # each; merge mapping in the DRIVER_ORDER §r16 comment +
    # COVERAGE.md §r16) — next in line for driver rows
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
    # next in line for driver rows: the r14 rotation's outgoing
    # veterans (every one 2+-green; merge mapping in the DRIVER_ORDER
    # §r14 comment + COVERAGE.md), then the veterans the r13/r12/r11
    # rotations moved out, then the r10 rotation's veterans
    # (streaming-first by drift risk), then never-externally-verified
    # members of the COVERAGE.md ledger (VERDICT r8 #5 — bias rotations
    # toward queries with zero green driver rows).
    # r15-new oracled demo (wave 3: the digest/radix same-name
    # collisions — MD5/SHA* bytes-vs-hex-string, hex/bin byte-width
    # padding, xxHash64's seed-42 row-hash refusal — plus CH's
    # value-mapping transform, arrayDifference/arrayIntersect,
    # fromUnixTimestamp, emptyArray*, toStartOfInterval): the r15
    # cover was committed before it landed; seat it in-cover r16
    # rotated out of the 50-row cover in r15 (2+ green driver rounds
    # each; merge mapping in the DRIVER_ORDER §r15 comment +
    # COVERAGE.md §r15)
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
    # mid-r13 swap-out for ch_dialect_strings (merge mapping in the
    # DRIVER_ORDER comment): green r11+r12, C16 keeps in-cover
    # representatives
    "exponential_moving_avg",
    # rotated out of the 50-row cover in r13 (2+ green driver rounds
    # each; merge mapping in the DRIVER_ORDER comment + COVERAGE.md)
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
    # rotated out of the 50-row cover in r12 (2+ green driver rounds
    # each; merge mapping in the DRIVER_ORDER comment + COVERAGE.md)
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
    # TPC-H-shaped multi-join suite (r6 surface + r7 completions:
    # Q7/Q8/Q13/Q15/Q17/Q19 analogs — every TPC-H shape expressible
    # over the fixture's tables; Q2/Q9/Q11/Q16/Q20 need partsupp and
    # Q12/Q21 need shipmode/commitdate columns the fixture lacks)
    "disjunctive_predicate_revenue",
    # sketch-state family completions (new r6 surface)
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
    # drift-prone streaming/event-time equivalences
    # rotated out of the 50-row cover in r7 (2+ green driver rounds each;
    # merge mapping in the DRIVER_ORDER comment + COVERAGE.md)
    "dedup_exact_text",
    "dedup_minhash_lsh",
    "dedup_embedding_cosine_ivf",
    "cosine_topk_exact",
    # new r7 surface (never in the cover — listed here next to its
    # exact-topk sibling, NOT a rotated-out veteran)
    "ann_ivf_topk",
    "text_quality",
    "filter_predicates",
    "top_k",
    # rotated out of the 50-row cover in r9 (2+ green driver rounds each;
    # merge mapping in the DRIVER_ORDER comment + COVERAGE.md)
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
    # rotated out of the 50-row cover in r8 (2+ green driver rounds each;
    # merge mapping in the DRIVER_ORDER comment + COVERAGE.md)
    "simhash_signatures",
    "ivf_kmeans_cells",
    "cosine_pairs_ivf",
    "tf_idf",
    "union_all_shards",
    "top_k_per_group",
    "join_theta_range",
    "join_semi",
    "join_broadcast_dims",
    # rotated out of the 50-row cover in r6 (2+ green driver rounds each)
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
    # rotated out of the 50-row cover in r5 (2+ green driver rounds each)
    "rebalance_range_invariants",
    "source_csv_roundtrip",
    # round-2 flagship operators
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
