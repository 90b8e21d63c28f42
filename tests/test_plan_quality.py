"""Plan-quality checks (the 100 TB posture, SURVEY.md §7.3 item 5):
assert the physical plans have the shape we designed for — pushed
filters, pruned scans, broadcast dims, no cartesian products on the
scale paths. These catch regressions that correctness tests can't.
"""

from __future__ import annotations

import re

from pyspark.sql import functions as F

from clickhouse_data_rebalance_spark import registry

from .conftest import SF_SMALL

registry.load_all()


def _plan(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(  # noqa: SLF001
        df._jdf.queryExecution(), "formatted"
    )


def plan_of(spark, name: str) -> str:
    df = registry.QUERIES[name](spark, SF_SMALL)
    return df._jdf.queryExecution().explainString(
        df._sc._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    )


def test_filter_pushdown_reaches_scan(spark):
    plan = plan_of(spark, "pricing_summary")
    assert "PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate" in plan


def test_column_pruning(spark):
    plan = plan_of(spark, "top_k")
    # scan must read only the two projected columns
    assert "o_orderkey" in plan and "o_totalprice" in plan
    assert "o_orderdate" not in plan.split("ReadSchema")[1].split("\n")[0]


def test_broadcast_join_on_dims(spark):
    plan = plan_of(spark, "join_broadcast_dims")
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_topk_uses_take_ordered(spark):
    plan = plan_of(spark, "top_k")
    assert "TakeOrderedAndProject" in plan


def test_semi_anti_join_types(spark):
    assert "LeftSemi" in plan_of(spark, "join_semi")
    assert "LeftAnti" in plan_of(spark, "join_anti")


def test_no_cartesian_in_scale_paths(spark):
    # every headline/scale query must avoid cartesian products
    for name in [
        "pricing_summary",
        "join_inner",
        "agg_multikey",
        "dedup_minhash_lsh",
        "cosine_pairs_threshold",
        "tf_idf",
        "knn_join",
        "knn_join_label",
        "dedup_embedding_cosine",
        "sequence_match_funnel3",
        "upsert_latest_wins",
        "window_funnel_levels",
        "decontaminate_minhash",
        # r11 cover promotions: the CC edge build must stay label-blocked
        # (equi-join on label, never all-pairs); the packing prefix sum
        # must stay two-level (no single-task global window feeding a
        # cartesian re-join)
        "dedup_clusters_cc",
        "pack_token_shards",
    ]:
        plan = plan_of(spark, name)
        assert "CartesianProduct" not in plan, name


def test_pack_token_shards_no_global_window(spark):
    """The packing prefix sum must be TWO-LEVEL (per-partition sums +
    broadcast offsets), never an unpartitioned ROWS UNBOUNDED window —
    the textbook single-task bottleneck the docstring prohibits. An
    unpartitioned ordered window plans an Exchange SinglePartition
    (verified: that exact token appears for Window.orderBy with no
    partitionBy), so its absence proves no data funnels through one
    task anywhere in this plan. The check is deliberately BLANKET: the
    current plan routes even the |partitions|-row offsets frame without
    a SinglePartition exchange, and if a future change introduces one,
    fail loudly and decide then whether that funnel is the tiny frame
    (relax to a targeted walk) or the corpus (a real regression)."""
    plan = plan_of(spark, "pack_token_shards")
    assert "SinglePartition" not in plan, "corpus funnels through one task"


def test_decontaminate_broadcasts_benchmark_buckets(spark):
    """Cross-corpus decontamination must probe the benchmark band-bucket
    set via broadcast — the corpus side never self-joins or shuffles for
    the candidate step — and must never go cartesian."""
    plan = plan_of(spark, "decontaminate_minhash")
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_exact_topk_broadcasts_query_vector(spark):
    # the cross join against the single query vector must be a broadcast
    # nested loop (fine: 1-row side), never a shuffled cartesian
    plan = plan_of(spark, "cosine_topk_exact")
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan


def test_whole_stage_codegen_on_flagship(spark):
    # AQE finalizes the physical plan only on execution — run the query,
    # then assert the final adaptive plan ran inside whole-stage codegen
    df = registry.QUERIES["pricing_summary"](spark, SF_SMALL)
    df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "isFinalPlan=true" in plan
    assert "WholeStageCodegen" in plan or "*(" in plan


def test_join_inner_pushes_status_filter(spark):
    plan = plan_of(spark, "join_inner")
    assert "PushedFilters" in plan
    assert "EqualTo(o_orderstatus,F)" in plan


def test_tfidf_broadcasts_vocabulary_side(spark):
    # document-frequency is vocabulary-sized — must broadcast, never shuffle
    # the exploded word stream twice
    assert "BroadcastHashJoin" in plan_of(spark, "tf_idf")


def test_flagship_partial_aggregation(spark):
    # map-side combine: HashAggregate appears as partial+final pair
    plan = plan_of(spark, "pricing_summary")
    assert plan.count("HashAggregate") >= 2


def test_flagship_scan_prunes_columns(spark):
    plan = plan_of(spark, "pricing_summary")
    read = plan.split("ReadSchema")[1].split("\n")[0]
    # 7 needed columns of lineitem's 11+ — the key drops must be pruned
    assert "l_orderkey" not in read and "l_partkey" not in read


def test_tpch_completions_plan_shape(spark):
    """r7 TPC-H completions: the snowflake (Q8) must broadcast its
    constant-size dims and never go cartesian; the disjunctive query
    (Q19) must still push a decomposed single-side predicate into the
    part scan; the outer-join distribution (Q13) must keep the outer
    side (no inner-join degeneration from the ON-clause filter)."""
    p8 = plan_of(spark, "national_market_share")
    assert "CartesianProduct" not in p8
    assert "BroadcastHashJoin" in p8
    p19 = plan_of(spark, "disjunctive_predicate_revenue")
    assert "CartesianProduct" not in p19
    # Catalyst extracts the single-side residue of the OR-of-ANDs (a
    # per-brand Or chain) and pushes it into the part scan's
    # PushedFilters — the whole point of the Q19 shape
    pushed = [
        ln for ln in p19.splitlines() if "PushedFilters" in ln and "p_brand" in ln
    ]
    assert pushed, "no p_brand predicate pushed to the part scan"
    assert any("Or(" in ln for ln in pushed)
    p13 = plan_of(spark, "customer_order_distribution")
    assert "LeftOuter" in p13
    for name in (
        "volume_shipping_nations",
        "top_supplier_revenue",
        "small_qty_order_revenue",
    ):
        assert "CartesianProduct" not in plan_of(spark, name), name


def test_aqe_splits_skewed_join(spark):
    """AQE must split a pathologically skewed join partition at runtime —
    the mechanism the engine relies on for hot keys at 100 TB (thresholds
    lowered to reproduce the condition at test scale)."""
    confs = {
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "64KB",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "16KB",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "2",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
    }
    saved = {k: spark.conf.get(k, None) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        left = spark.range(200_000).select(
            F.when(F.col("id") % 100 < 99, 1).otherwise(F.col("id")).alias("k"),
            F.col("id").alias("v"),
        )
        right = spark.range(1_000).select(F.col("id").alias("k"), (F.col("id") * 10).alias("w"))
        j = left.join(right, "k")
        j.collect()
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert "skew=true" in plan
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_bucketed_join_needs_no_shuffle(spark, tmp_path_factory):
    """Two tables bucketed on the join key must join with ZERO exchanges —
    the persisted-co-location payoff of rebalancing onto a shared layout."""
    from clickhouse_data_rebalance_spark.sources.connectors import write_bucketed

    base = str(tmp_path_factory.mktemp("buck"))
    o = spark.read.parquet(f"{SF_SMALL}/orders.parquet").select("o_orderkey", "o_totalprice")
    l = spark.read.parquet(f"{SF_SMALL}/lineitem.parquet").select("l_orderkey", "l_quantity")
    for t in ["b_orders", "b_lineitem"]:
        spark.sql(f"DROP TABLE IF EXISTS {t}")
    write_bucketed(o, "b_orders", 8, ["o_orderkey"], f"{base}/o")
    write_bucketed(l, "b_lineitem", 8, ["l_orderkey"], f"{base}/l")
    saved = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        # fixtures are broadcast-sized; disable broadcast to see the plan
        # the same tables would get at 100 TB
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        j = spark.table("b_orders").join(
            spark.table("b_lineitem"),
            F.col("o_orderkey") == F.col("l_orderkey"),
        )
        plan = j._jdf.queryExecution().explainString(
            j._sc._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
        )
        assert "SortMergeJoin" in plan
        assert "Exchange" not in plan  # bucket layout replaces the shuffle
        assert j.count() > 0
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", saved)
        for t in ["b_orders", "b_lineitem"]:
            spark.sql(f"DROP TABLE IF EXISTS {t}")


def test_dynamic_partition_pruning(spark, tmp_path_factory):
    """A partitioned fact joined to a filtered broadcast dim must get a
    DynamicPruning subquery on the partition column — at 100 TB this is
    the difference between scanning 7 years and 3."""
    base = str(tmp_path_factory.mktemp("dpp"))
    o = spark.read.parquet(f"{SF_SMALL}/orders.parquet")
    o.withColumn("yr", F.year("o_orderdate")).write.mode("overwrite").partitionBy(
        "yr"
    ).parquet(f"{base}/fact")
    fact = spark.read.parquet(f"{base}/fact")
    dim = spark.createDataFrame(
        [(y, "x" if y < 1996 else "y") for y in range(1992, 1999)], "yr INT, tag STRING"
    )
    j = fact.join(F.broadcast(dim).filter(F.col("tag") == "x"), "yr")
    plan = j._jdf.queryExecution().explainString(
        j._sc._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    )
    assert "dynamicpruning" in plan.lower()


def test_ivf_probe_prunes_index_partitions(spark):
    """The IVF probe must be a partition-pruned read of the persisted
    cell-partitioned index: the cell IN (...) filter shows up as a
    PartitionFilters entry on the parquet scan, so only the probed cell
    directories are touched — the property that makes IVF scan
    n_probe/n_cells of the corpus at 100 TB."""
    from clickhouse_data_rebalance_spark.operators import llm_similarity as sim

    index_path = sim._ivf_index_for(spark, SF_SMALL)
    idx = spark.read.parquet(index_path)
    probed = idx.filter(F.col("cell").isin([0, 1, 2]))
    plan = _plan(probed)
    assert "PartitionFilters" in plan
    seg = plan[plan.index("PartitionFilters"):].splitlines()[0]
    assert "cell" in seg, f"cell filter not in partition filters: {seg}"


def test_ivfpq_adc_scan_reads_codes_not_vectors(spark):
    """The IVF-PQ ADC stage must read ONLY (vec_id, pq_codes) from the
    probed cell directories — never the embedding column. That column
    pruning is the 16x scan-IO reduction PQ exists for; PartitionFilters
    on cell is the same pruning bar as the plain IVF probe."""
    from clickhouse_data_rebalance_spark.operators import llm_similarity as sim

    path = sim._ivf_index_for(spark, SF_SMALL, generation="pq")
    idx = spark.read.parquet(path)
    adc_stage = (
        idx.filter(F.col("cell").isin([0, 1, 2]) & (F.col("vec_id") != 0))
        .select("vec_id", "pq_codes")
    )
    plan = _plan(adc_stage)
    assert "PartitionFilters" in plan
    read_schema = plan.split("ReadSchema:")[1].splitlines()[0]
    assert "pq_codes" in read_schema
    assert "embedding" not in read_schema, (
        f"ADC scan reads the float vectors: {read_schema}"
    )


def test_ivfpq_rerank_pushes_id_fetch_and_stays_jvm_side(spark):
    """The registered ann_pq_topk plan (the exact re-rank stage) must
    push the shortlist vec_id IN fetch into the parquet scan, keep the
    cell partition filter, and contain no Python evaluation — the
    pandas-UDF encoder runs only at index build time."""
    plan = plan_of(spark, "ann_pq_topk")
    assert "PartitionFilters" in plan
    pushed = plan.split("PushedFilters:")[1].splitlines()[0]
    assert "In(vec_id" in pushed, f"shortlist fetch not pushed down: {pushed}"
    assert "EvalPython" not in plan, "probe path must not run Python"


def test_repetition_filter_is_shuffle_free(spark):
    """ngram_repetition_quality claims a zero-shuffle corpus map: the
    only Exchange allowed is the presentation-only final sort's range
    exchange — no hash-partition exchange anywhere."""
    plan = plan_of(spark, "ngram_repetition_quality")
    assert "hashpartitioning" not in plan.lower()


def test_quantization_is_shuffle_free(spark):
    plan = plan_of(spark, "embedding_quantize_int8")
    assert "hashpartitioning" not in plan.lower()


def test_pq_encode_is_shuffle_free(spark):
    """PQ encoding is a row-local map (codebook is driver metadata) —
    no hash exchange may appear; the final sort is presentation-only."""
    plan = plan_of(spark, "embedding_pq")
    assert "hashpartitioning" not in plan.lower()


def test_scd2_reuses_one_user_partitioning(spark):
    """All SCD2 windows and the aggregate key on user_id: exactly one
    hash-partition exchange on user_id should appear (AQE may reuse it;
    additional hash exchanges would mean the partitioning is NOT being
    reused across the window/agg steps)."""
    plan = plan_of(spark, "scd2_intervals")
    n_hash = plan.lower().count("hashpartitioning(")
    assert n_hash == 1, f"expected 1 hash exchange, saw {n_hash}"


def test_data_quality_fk_probe_is_broadcast(spark):
    plan = plan_of(spark, "data_quality_checks")
    assert "BroadcastHashJoin" in plan and "LeftAnti" in plan


def test_chunking_is_shuffle_free(spark):
    # chunk_documents is a per-document flatMap; only the final
    # presentation sort may exchange
    plan = plan_of(spark, "chunk_documents")
    body = plan.split("Sort")[0]
    assert "Exchange" not in body
    assert "Generate" in plan  # explode of window starts


def test_contamination_probe_broadcasts_eval_grams(spark):
    # the benchmark-side gram set must broadcast; corpus grams must not
    # shuffle for the probe join
    plan = plan_of(spark, "contamination_ngram_overlap")
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_split_assignment_is_row_local(spark):
    # only the (lang, split) rollup shuffles — exactly one exchange
    # pair (partial/final agg) plus the presentation sort
    plan = plan_of(spark, "train_val_test_split")
    n_exchanges = plan.count("Exchange")
    assert n_exchanges <= 4, plan  # hashagg exchange + sort exchange (+AQE reuse lines)


def test_dict_get_lookup_has_no_join_operator(spark):
    # dictionary enrichment must be a pure expression — no join, not
    # even a broadcast one
    plan = plan_of(spark, "dict_get_lookup")
    assert "Join" not in plan, plan


def test_multi_grain_rollup_single_scan(spark):
    # hour+day+month grains from ONE events scan via Expand
    plan = plan_of(spark, "multi_grain_rollup")
    assert "Expand" in plan
    import re

    assert len(re.findall(r"\(\d+\) Scan parquet", plan)) == 1


def test_concurrent_sessions_window_is_day_partitioned(spark):
    # the prefix sum must run per-day, never in one global partition
    plan = plan_of(spark, "concurrent_sessions")
    assert "SinglePartition" not in plan
    assert "hashpartitioning(day" in plan


def test_corpus_pipeline_single_wide_shuffle(spark):
    # quality gate + split are maps; only the dedup window and the final
    # rollup/sort may exchange — and never into a single partition
    plan = plan_of(spark, "corpus_pipeline_e2e")
    assert "SinglePartition" not in plan
    assert "CartesianProduct" not in plan
    assert plan.count("Exchange hashpartitioning") <= 2, plan


def test_ivf_dedup_reads_cell_partitioned_index(spark):
    """dedup_embedding_cosine_ivf must read the persisted IVF index with
    `cell` served as a PARTITION column (directory layout), not a data
    column — the property that lets an incremental dedup partition-prune
    and keeps the pairwise join equi-partitioned on the stored key."""
    plan = plan_of(spark, "dedup_embedding_cosine_ivf")
    scan_lines = [
        ln for ln in plan.splitlines() if "Location" in ln and "ivf_index" in ln
    ]
    assert scan_lines, "plan does not scan the persisted IVF index"
    # cell is partition metadata: present in the scan Output, absent from
    # the parquet data schema actually read; the pairwise-join scans carry
    # a partition filter (the survivors-side scan legitimately has none)
    saw_partition_filter = False
    for chunk in plan.split("Scan parquet")[1:]:
        if "ivf_index" not in chunk.split("ReadSchema:")[0]:
            continue
        head = chunk.split("ReadSchema:")
        if len(head) > 1:
            assert "cell" not in head[1].split("\n")[0]
        if "PartitionFilters: [isnotnull(cell" in chunk:
            saw_partition_filter = True
    assert saw_partition_filter


def test_ivf_dedup_no_cartesian(spark):
    plan = plan_of(spark, "dedup_embedding_cosine_ivf")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_incremental_dedup_prunes_to_touched_cells(spark):
    """dedup_incremental_batch's corpus-side scan must carry the
    `cell IN (touched)` predicate as a PartitionFilters entry — the
    property that makes the daily-batch dedup read batch-touched cell
    directories instead of the whole index, and never cartesian."""
    plan = plan_of(spark, "dedup_incremental_batch")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    saw_cell_in = False
    for chunk in plan.split("Scan parquet")[1:]:
        if "ivf_index" not in chunk.split("ReadSchema:")[0]:
            continue
        pf_lines = [ln for ln in chunk.splitlines() if "PartitionFilters" in ln]
        if any("cell IN" in ln or ("cell" in ln and " IN " in ln) for ln in pf_lines):
            saw_cell_in = True
    assert saw_cell_in, "corpus scan lacks the cell IN (...) partition filter"


def _assert_cell_blocked_index_scan(plan: str) -> None:
    """Shared shape check for the IVF-cell-blocked pairwise queries:
    both join sides scan the persisted index with `cell` as partition
    metadata (PartitionFilters on the join key, cell absent from the
    parquet data schema), and the pair generation is an equi-join —
    never a cartesian/nested-loop."""
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    ivf_chunks = [
        c for c in plan.split("Scan parquet")[1:]
        if "ivf_index" in c.split("ReadSchema:")[0]
    ]
    assert ivf_chunks, "plan does not scan the persisted IVF index"
    saw_partition_filter = False
    for chunk in ivf_chunks:
        head = chunk.split("ReadSchema:")
        if len(head) > 1:
            assert "cell" not in head[1].split("\n")[0]
        if "PartitionFilters: [isnotnull(cell" in chunk:
            saw_partition_filter = True
    assert saw_partition_filter


def test_knn_join_ivf_cell_blocked(spark):
    _assert_cell_blocked_index_scan(plan_of(spark, "knn_join_ivf"))


def test_knn_join_default_is_cell_blocked(spark):
    """The unqualified `knn_join` must compile to the IVF-cell-blocked
    plan (VERDICT r6 #4): a user reaching for the default name gets the
    scale path, not the label-blocked fixture demo."""
    _assert_cell_blocked_index_scan(plan_of(spark, "knn_join"))


def test_cosine_pairs_ivf_cell_blocked(spark):
    _assert_cell_blocked_index_scan(plan_of(spark, "cosine_pairs_ivf"))


def test_semantic_prune_cell_blocked(spark):
    _assert_cell_blocked_index_scan(plan_of(spark, "dedup_semantic_prune"))


def test_diversity_sample_prunes_embedding_column(spark):
    """diversity_sample_cells must NOT read the embedding column from
    the index — the sample rank needs only (vec_id, cell), and at 100 TB
    the embedding column is ~99% of the bytes."""
    plan = plan_of(spark, "diversity_sample_cells")
    for chunk in plan.split("Scan parquet")[1:]:
        if "ivf_index" not in chunk.split("ReadSchema:")[0]:
            continue
        read = chunk.split("ReadSchema:")[1].split("\n")[0]
        assert "embedding" not in read, read


def test_ann_refined_probe_prunes_cells(spark):
    """ann_ivf_topk_refined must read the REFINED index generation with
    a `cell IN (probed)` partition filter — the refinement is only real
    once the probe path consumes its layout."""
    plan = plan_of(spark, "ann_ivf_topk_refined")
    saw_cell_in = False
    for chunk in plan.split("Scan parquet")[1:]:
        if "ivf_index" not in chunk.split("ReadSchema:")[0]:
            continue
        pf_lines = [ln for ln in chunk.splitlines() if "PartitionFilters" in ln]
        if any("cell" in ln and " IN " in ln for ln in pf_lines):
            saw_cell_in = True
    assert saw_cell_in, "refined probe lacks the cell IN (...) partition filter"


def test_media_decode_scan_prunes_columns(spark):
    """media_feature_extract builds its binary container from doc_id +
    text only; the documents scan must prune to exactly those columns
    (a decode pipeline that drags every column through Arrow serialization
    pays for it at corpus scale)."""
    plan = plan_of(spark, "media_feature_extract")
    for chunk in plan.split("Scan parquet")[1:]:
        if "documents" not in chunk.split("ReadSchema:")[0]:
            continue
        schema_line = chunk.split("ReadSchema:")[1].splitlines()[0]
        assert "text" in schema_line and "doc_id" in schema_line
        for col in ("lang", "source", "label"):
            assert col not in schema_line, (
                f"unpruned column {col} in media decode scan: {schema_line}"
            )


# --------------------------------------------------------------------------
# TPC-H-shaped multi-join suite (operators/analytics_tpch.py): pin the
# physical shape the docstrings promise at 100 TB.
# --------------------------------------------------------------------------

_TPCH_SUITE = [
    "shipping_priority_topk",
    "local_supplier_volume",
    "returned_item_report",
    "large_volume_customers",
    "promo_revenue_ratio",
]


def test_tpch_suite_no_cartesian(spark):
    for name in _TPCH_SUITE:
        assert "CartesianProduct" not in plan_of(spark, name), name


def test_shipping_priority_pushes_filters_and_heaps_topk(spark):
    plan = plan_of(spark, "shipping_priority_topk")
    assert "EqualTo(c_mktsegment,BUILDING)" in plan
    assert "GreaterThan(l_shipdate" in plan
    assert "LessThan(o_orderdate" in plan
    assert "TakeOrderedAndProject" in plan


def test_local_supplier_volume_broadcasts_fixed_dims(spark):
    """nation (25 rows) and region (5) are constant-size at any SF —
    the plan must broadcast them, and the same-nation residual must ride
    a hash join (no BroadcastNestedLoopJoin from a theta condition)."""
    plan = plan_of(spark, "local_supplier_volume")
    assert "BroadcastHashJoin" in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "EqualTo(r_name,ASIA)" in plan


def test_large_volume_customers_semi_join_stays_distributed(spark):
    """The HAVING subquery must become a LeftSemi join on l_orderkey —
    never a collected ID list — and the lineitem aggregation must
    partial-aggregate map-side before its one shuffle."""
    plan = plan_of(spark, "large_volume_customers")
    assert "LeftSemi" in plan
    assert "partial_sum" in plan.lower() or "HashAggregate" in plan


def test_promo_revenue_pushes_month_filter(spark):
    plan = plan_of(spark, "promo_revenue_ratio")
    assert "GreaterThanOrEqual(l_shipdate" in plan
    assert "LessThan(l_shipdate" in plan


def test_idle_customer_balances_anti_join_and_scalar_broadcast(spark):
    """Q22 shape: the global threshold must reach the filter via a
    broadcast (1-row side), the no-recent-orders condition must be a
    LeftAnti hash join on the pre-filtered orders scan — never a
    correlated per-row subquery or cartesian."""
    plan = plan_of(spark, "idle_customer_balances")
    assert "LeftAnti" in plan
    assert "CartesianProduct" not in plan
    assert "GreaterThanOrEqual(o_orderdate" in plan


def test_runtime_bloom_filter_join_pruning(spark):
    """100 TB posture: Spark's runtime bloom-filter injection (a bloom
    built from the filtered dim's join keys pre-filters the fact scan
    before the shuffle) must be ON in our session and actually inject
    for a selective-dim shuffle join. Production defaults gate it on a
    10 GB application-side scan, so at fixture scale the thresholds are
    scaled down to demonstrate the same plan a 100 TB run gets for free."""
    assert (
        spark.conf.get("spark.sql.optimizer.runtime.bloomFilter.enabled")
        == "true"
    )
    from pyspark.sql import functions as F

    saved = {
        k: spark.conf.get(k, None)
        for k in (
            "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold",
            "spark.sql.autoBroadcastJoinThreshold",
        )
    }
    try:
        spark.conf.set(
            "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold",
            "0",
        )
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        l = spark.read.parquet(f"{SF_SMALL}/lineitem.parquet")
        o = spark.read.parquet(f"{SF_SMALL}/orders.parquet")
        sel = o.filter(F.col("o_orderpriority") == "1-URGENT")
        j = (
            l.join(sel, l.l_orderkey == sel.o_orderkey)
            .groupBy("l_returnflag")
            .count()
        )
        plan = _plan(j)
        assert "might_contain" in plan, "bloom runtime filter not injected"
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_line_dedup_single_fp_shuffle(spark):
    """line_dedup_ratio must tag dup spans via ONE fingerprint
    partitioning (window over fp), never a count-join that re-shuffles
    the span table: 3 exchanges total (fp window, doc rollup, output
    sort) and no join operator."""
    import re

    plan = plan_of(spark, "line_dedup_ratio")
    n_ex = len(
        [l for l in plan.splitlines() if re.match(r"\(\d+\) Exchange", l.strip())]
    )
    assert n_ex <= 3, f"{n_ex} exchanges"
    assert "Join" not in plan


def test_sql_udf_inlines_into_codegen(spark):
    """The SQL UDF must disappear into the plan: the filter it wraps
    still reaches the parquet scan as a pushed predicate, and no
    Python-eval operator appears."""
    plan = plan_of(spark, "sql_udf_inlined")
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "PushedFilters" in plan
    assert "IsNotNull(o_totalprice)" in plan


def test_mutation_rewrites_only_affected_partitions(spark):
    """mutation_delete_update claims partition-scoped copy-on-write: the
    dynamic-overwrite mutation write must leave the untouched status
    partitions' files byte-identical (same names and mtimes) and rewrite
    only the mutated partition. Measured within one layout+mutate cycle
    (the registered query re-lays its base table per invocation for
    idempotence, so the check replicates its two steps inline)."""
    import os

    from pyspark.sql import functions as F

    from clickhouse_data_rebalance_spark.tables import table

    path = "/tmp/cdr_spark/sources/orders_mutable_probe"
    import shutil

    shutil.rmtree(path, ignore_errors=True)
    o = table(spark, SF_SMALL, "orders").select(
        "o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice"
    )
    o.write.mode("overwrite").partitionBy("o_orderstatus").parquet(path)

    def snapshot(part):
        d = os.path.join(path, f"o_orderstatus={part}")
        return {
            f: os.path.getmtime(os.path.join(d, f))
            for f in os.listdir(d)
            if f.endswith(".parquet")
        }

    before = {p: snapshot(p) for p in ("F", "P")}
    before_o = snapshot("O")
    mutated = (
        spark.read.parquet(path)
        .filter(F.col("o_orderstatus") == "O")
        .filter(~((F.col("o_custkey") % 100) == 7))
    )
    prev = spark.conf.get("spark.sql.sources.partitionOverwriteMode", "STATIC")
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    try:
        mutated.write.mode("overwrite").partitionBy("o_orderstatus").parquet(
            path
        )
    finally:
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", prev)
    for p in ("F", "P"):
        assert snapshot(p) == before[p], f"untouched partition {p} rewritten"
    assert snapshot("O") != before_o, "mutated partition should be rewritten"
    shutil.rmtree(path, ignore_errors=True)


def test_asof_nearest_single_user_exchange(spark):
    """The nearest-direction asof join reuses ONE user_id hash exchange
    for the click collapse, both window fills, and the pick — a second
    hash exchange would mean the union/window composition re-shuffled."""
    plan = plan_of(spark, "asof_join_nearest")
    n_hash = plan.lower().count("hashpartitioning(user_id")
    assert n_hash <= 2, f"expected collapse+union exchanges only, saw {n_hash}"
    assert "cartesianproduct" not in plan.lower()
    assert plan.lower().count("window") >= 2  # back fill + forward fill


def test_ohlc_single_pass_aggregate(spark):
    """OHLC bars: the struct-ordered min_by/max_by make the whole bar
    ONE hash aggregate — exactly one (event_type, bar_hour) exchange
    with map-side partials; a second hash exchange would mean the
    two-level oracle spelling leaked into the Spark plan."""
    plan = plan_of(spark, "ohlc_bars")
    low = plan.lower()
    n_hash = low.count("hashpartitioning(event_type")
    assert n_hash == 1, f"expected 1 agg exchange, saw {n_hash}"
    assert "partial" in low


def test_repeated_substring_spans_stay_jvm_side(spark):
    """The span generator (split/transform/slice/md5) must compile to
    JVM expressions — no BatchEvalPython / ArrowEvalPython in the plan —
    and both span-hash aggregates must show map-side partials."""
    plan = plan_of(spark, "dedup_repeated_substring")
    low = plan.lower()
    assert "pythonudf" not in low and "batchevalpython" not in low
    assert "arrowevalpython" not in low
    assert "partial" in low


def test_lm_perplexity_broadcasts_vocabulary(spark):
    """Pass 2 of the unigram-LM scorer must broadcast the
    vocabulary-sized frequency table onto the exploded token stream
    (zipfian vocab ≪ corpus), with exactly one w-keyed hash exchange
    (pass 1's vocabulary aggregate — N is a row-local sum, not a second
    vocab aggregate) and no Python in the plan."""
    plan = plan_of(spark, "lm_perplexity_score")
    low = plan.lower()
    assert "broadcasthashjoin" in low
    n_w = low.count("hashpartitioning(w#")
    assert n_w == 1, f"expected 1 vocab exchange, saw {n_w}"
    assert "batchevalpython" not in low and "arrowevalpython" not in low


def test_ingest_incremental_probes_stay_single_pass(spark):
    """r17 shape: the batch is featurized ONCE (dup5 + fp + span array
    out of a single tokenize) and the admission screens are LEFT joins
    against DISTINCT corpus key sets (exists-semantics: each key unique,
    so batch multiplicity is preserved — the per-doc max() rollup then
    collapses the span explode). Guard the properties that keep it
    correct and single-pass: both distinct key-set aggregates present,
    LeftOuter probes (never inner joins of non-distinct sets), ONE
    5-gram gate subtree (the old shape re-derived the batch union three
    times — 37 parquet scans vs 15), and no Python/cartesian."""
    plan = plan_of(spark, "corpus_ingest_incremental")
    low = plan.lower()
    assert low.count("leftouter") >= 2, "expected fp + span left probes"
    # the screens probe DISTINCT key sets: fp/h grouped aggregates exist
    assert low.count("hashaggregate") >= 4, "expected distinct key-set aggs"
    # single batch featurization: 5 documents scans — the 3-branch batch
    # union once, plus one corpus pass each for the fp and span key sets
    # (the old shape re-derived the batch union three times: 11 scans)
    n_scans = len(re.findall(r"\(\d+\) scan parquet", low))
    assert n_scans <= 5, n_scans
    assert "batchevalpython" not in low and "arrowevalpython" not in low
    assert "cartesianproduct" not in low


def test_ivf_stats_prunes_embedding_column(spark):
    """The index-stats pass must read only the cell key — the embedding
    column (99% of index bytes) stays out of the scan's ReadSchema."""
    plan = plan_of(spark, "ivf_index_stats")
    reads = [ln for ln in plan.splitlines() if "ReadSchema" in ln]
    assert reads and all("embedding" not in ln for ln in reads)
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan


def test_bm25_zero_grouped_exchanges(spark):
    """BM25's scoring pass must be a rowwise projection over the slim
    persisted frame + TakeOrderedAndProject: no explode, no grouped
    exchange, no Python — the whole point vs tf_idf's two corpus-wide
    aggregation shuffles (SCALE.md row)."""
    plan = plan_of(spark, "bm25_topk")
    low = plan.lower()
    assert "takeorderedandproject" in low
    assert "generate" not in low, "tf must not explode the token stream"
    # the final stage reads the cached slim frame; no hash-partitioned
    # exchange may appear (the one global stats agg ran in the builder,
    # driver-side, before this plan)
    assert "exchange hashpartitioning" not in low
    assert "batchevalpython" not in low and "arrowevalpython" not in low


def test_hybrid_rrf_is_k_row_only(spark):
    """RRF fusion must never rescan a corpus table: past the two
    retrievers (whose sub-plans legitimately scan), the fusion layer is
    K-row joins only — rank via broadcast nested-loop count-of-better,
    never an unpartitioned window (single-task pattern)."""
    plan = plan_of(spark, "hybrid_rrf_topk")
    low = plan.lower()
    assert "window" not in low, "rank must not use a window"
    assert "broadcastnestedloopjoin" in low


def test_ivf_admit_touches_only_batch_cells(spark, tmp_path):
    """The admission write must be physically incremental: appending
    the batch may create files ONLY under its assigned cell partitions —
    every untouched cell directory keeps byte-identical file listings
    (VERDICT r7 #6 'only touched cell partitions are written')."""
    import os
    import shutil

    from clickhouse_data_rebalance_spark.operators.llm_similarity import (
        _ivf_index_for,
        admit_batch_into_index,
        admit_id_offset,
    )

    sf = SF_SMALL
    seed = _ivf_index_for(spark, sf)
    work = str(tmp_path / "admit_idx")
    shutil.copytree(seed, work)

    def listing(root):
        out = {}
        for d in os.listdir(root):
            if d.startswith("cell="):
                out[d] = sorted(os.listdir(os.path.join(root, d)))
        return out

    before = listing(work)
    admit_batch_into_index(spark, sf, work)
    after = listing(work)

    adm = spark.read.parquet(work)
    touched = {
        f"cell={r['cell']}"
        for r in adm.filter(F.col("vec_id") >= admit_id_offset(spark, sf))
        .select("cell")
        .distinct()
        .collect()
    }
    assert touched, "fixture batch must touch at least one cell"
    assert set(before) <= set(after), "a cell directory disappeared"
    for cell, files in before.items():
        if cell in touched:
            assert set(files) < set(after[cell]), f"{cell}: no new file"
        else:
            assert files == after[cell], f"untouched {cell} was rewritten"


def test_ivf_admit_preserves_untouched_cell_contents(spark):
    """Probe-identity invariant: rows of the admitted index restricted
    to cells the batch did NOT touch are exactly the seed index's rows
    there — so any probe whose cell set avoids the batch returns
    byte-identical results against either generation."""
    from clickhouse_data_rebalance_spark.operators.llm_similarity import (
        _admitted_index_for,
        _ivf_index_for,
        admit_id_offset,
    )

    sf = SF_SMALL
    seed = spark.read.parquet(_ivf_index_for(spark, sf))
    adm = spark.read.parquet(_admitted_index_for(spark, sf))
    touched = [
        r["cell"]
        for r in adm.filter(F.col("vec_id") >= admit_id_offset(spark, sf))
        .select("cell")
        .distinct()
        .collect()
    ]
    cols = ["vec_id", "cell", "label"]
    a = {tuple(r) for r in adm.filter(~F.col("cell").isin(touched)).select(*cols).collect()}
    s = {tuple(r) for r in seed.filter(~F.col("cell").isin(touched)).select(*cols).collect()}
    assert a == s and len(a) > 0


def test_ivf_compact_touches_only_fragmented_cells(spark, tmp_path):
    """Dynamic-partition-overwrite compaction must rewrite ONLY the
    fragmented (batch-touched) cells — one file each afterwards, with
    row contents identical — while every untouched cell directory keeps
    a byte-identical file listing."""
    import os
    import shutil

    from clickhouse_data_rebalance_spark.operators.llm_similarity import (
        _admitted_index_for,
        admit_id_offset,
        compact_ivf_cells,
    )

    sf = SF_SMALL
    work = str(tmp_path / "compact_idx")
    shutil.copytree(_admitted_index_for(spark, sf), work)

    def listing(root):
        return {
            d: sorted(os.listdir(os.path.join(root, d)))
            for d in os.listdir(root)
            if d.startswith("cell=")
        }

    touched = [
        int(r["cell"])
        for r in spark.read.parquet(work)
        .filter(F.col("vec_id") >= admit_id_offset(spark, sf))
        .select("cell")
        .distinct()
        .collect()
    ]
    rows_before = {
        tuple(r)
        for r in spark.read.parquet(work).select("vec_id", "cell", "label").collect()
    }
    before = listing(work)
    compact_ivf_cells(spark, work, touched)
    after = listing(work)

    for cell, files in before.items():
        cid = int(cell.split("=")[1])
        if cid in touched:
            data = [f for f in after[cell] if f.endswith(".parquet")]
            assert len(data) == 1, f"{cell}: {len(data)} files after compact"
        else:
            assert files == after[cell], f"untouched {cell} was rewritten"
    rows_after = {
        tuple(r)
        for r in spark.read.parquet(work).select("vec_id", "cell", "label").collect()
    }
    assert rows_before == rows_after


def test_bm25_batch_uses_takeordered_not_window(spark):
    """Batch BM25's per-query top-k must compile to TakeOrderedAndProject
    trees over the shared persisted frame — a window partitioned by
    query_id would serialize the scored corpus through |batch| tasks."""
    import re

    plan = plan_of(spark, "bm25_batch_topk")
    low = plan.lower()
    assert low.count("takeorderedandproject") >= 3
    # operator match, not substring — 'window' is also a QUERY TERM here
    assert not re.search(r"\(\d+\) Window", plan)
    assert "generate" not in low and "batchevalpython" not in low


def test_bm25_inverted_probe_prunes_buckets(spark):
    """The inverted-index probe must be partition-pruned to the query
    terms' buckets with the word predicate pushed to the postings scan —
    and must never touch the documents table (the whole point of the
    build/probe split)."""
    plan = plan_of(spark, "bm25_inverted_topk")
    assert "PartitionFilters" in plan and "bucket" in plan
    pushed = [ln for ln in plan.splitlines() if "PushedFilters" in ln and "word" in ln]
    assert pushed, "word predicate not pushed into the postings scan"
    assert "documents.parquet" not in plan
    assert "TakeOrderedAndProject" in plan


def test_bm25_admit_touches_only_batch_buckets(spark, tmp_path):
    """Inverted-index admission must be physically incremental on BOTH
    tables: postings append only under the batch's term buckets,
    termstats rewrites only those buckets (dynamic overwrite), and the
    1-row meta rolls forward by exactly the batch's (N, Σdl) deltas."""
    import os
    import shutil

    from clickhouse_data_rebalance_spark.operators.llm_text import (
        BM25_ADMIT_MOD,
        BM25_ADMIT_REM,
        _bm25_doc_offset,
        _bm25_index_for,
        bm25_admit_batch,
    )
    from clickhouse_data_rebalance_spark.functions.text import tokens

    sf = SF_SMALL
    work = str(tmp_path / "bm25_admit")
    shutil.copytree(_bm25_index_for(spark, sf), work)

    def listing(sub):
        root = os.path.join(work, sub)
        return {
            d: sorted(os.listdir(os.path.join(root, d)))
            for d in os.listdir(root)
            if d.startswith("bucket=")
        }

    before_p, before_t = listing("postings"), listing("termstats")
    meta_before = spark.read.parquet(os.path.join(work, "meta")).collect()[0]
    bm25_admit_batch(spark, sf, work)
    after_p, after_t = listing("postings"), listing("termstats")

    offset = _bm25_doc_offset(spark, sf)
    touched = {
        f"bucket={r['bucket']}"
        for r in spark.read.parquet(os.path.join(work, "postings"))
        .filter(F.col("doc_id") >= offset)
        .select("bucket")
        .distinct()
        .collect()
    }
    assert touched
    for b, files in before_p.items():
        if b in touched:
            assert set(files) < set(after_p[b]), f"postings {b}: no new file"
        else:
            assert files == after_p[b], f"untouched postings {b} rewritten"
    for b, files in before_t.items():
        if b not in touched:
            assert files == after_t[b], f"untouched termstats {b} rewritten"

    d = spark.read.parquet(f"{sf}/documents.parquet")
    batch = d.filter(F.col("doc_id") % BM25_ADMIT_MOD == BM25_ADMIT_REM)
    nb = batch.count()
    sdlb = batch.select(F.sum(F.size(tokens("text")).cast("bigint")).alias("s")).collect()[0]["s"]
    meta_after = spark.read.parquet(os.path.join(work, "meta")).collect()[0]
    assert meta_after["n"] == meta_before["n"] + nb
    assert meta_after["sdl"] == meta_before["sdl"] + sdlb


def test_pinned_generation_probe_survives_admit(spark, tmp_path_factory):
    """VERDICT r8 #6 — snapshot isolation for persisted indexes: a probe
    that pinned a generation BEFORE an admission keeps answering from
    its pinned file set (the rename-swap dance of
    sharding_recreation.py:306-335, applied to index layout). Clone the
    seed index, pin a frame, append a file into a cell directory
    (exactly what admit_batch_into_index's append does), and assert the
    pinned frame is unchanged while a fresh pin sees the new rows —
    and that the pinned read still partition-prunes."""
    import glob
    import os
    import shutil

    from clickhouse_data_rebalance_spark.operators.llm_similarity import (
        _ivf_index_for,
        pinned_index_frame,
    )

    seed = _ivf_index_for(spark, SF_SMALL)
    clone = str(tmp_path_factory.mktemp("pinned_gen") / "ivf")
    shutil.copytree(seed, clone)

    pinned = pinned_index_frame(spark, clone)
    before = pinned.count()
    assert before > 0

    # concurrent admission: a new data file lands inside a cell dir
    cell_dir = sorted(glob.glob(os.path.join(clone, "cell=*")))[0]
    src = glob.glob(os.path.join(cell_dir, "*.parquet"))[0]
    extra = os.path.join(cell_dir, "part-concurrent-admit.parquet")
    shutil.copy(src, extra)

    assert pinned.count() == before, "pinned probe saw concurrent admit"
    fresh = pinned_index_frame(spark, clone)
    assert fresh.count() > before, "fresh pin missed the admitted file"
    probed = pinned.filter(F.col("cell").isin([0, 1]))
    plan = _plan(probed)
    assert "PartitionFilters" in plan
    seg = plan[plan.index("PartitionFilters"):].splitlines()[0]
    assert "cell" in seg, f"pinned read lost partition pruning: {seg}"


def test_pinned_bm25_postings_survive_admission(spark, tmp_path_factory):
    """Same snapshot contract for the BM25 inverted index: a probe that
    pinned the postings before an admission append keeps its answer."""
    import glob
    import os
    import shutil

    from clickhouse_data_rebalance_spark.operators.llm_similarity import (
        pinned_index_frame,
    )
    from clickhouse_data_rebalance_spark.operators.llm_text import (
        _bm25_index_for,
    )

    base = _bm25_index_for(spark, SF_SMALL)
    clone = str(tmp_path_factory.mktemp("pinned_bm25") / "idx")
    shutil.copytree(base, clone)
    postings_dir = os.path.join(clone, "postings")

    pinned = pinned_index_frame(spark, postings_dir)
    before = pinned.count()
    assert before > 0

    bucket_dir = sorted(glob.glob(os.path.join(postings_dir, "bucket=*")))[0]
    src = glob.glob(os.path.join(bucket_dir, "*.parquet"))[0]
    shutil.copy(src, os.path.join(bucket_dir, "part-concurrent-admit.parquet"))

    assert pinned.count() == before, "pinned postings saw concurrent admit"
    assert pinned_index_frame(spark, postings_dir).count() > before


def test_asof_dialect_rewrite_has_no_nested_loop(spark):
    """The ASOF JOIN translation must keep the union + carry-window
    shape: one hash exchange on the equality key, NO nested-loop domain
    join (the lateral-top-1 spelling decorrelated into a
    BroadcastNestedLoopJoin over distinct(left keys) x right — measured,
    rejected, and pinned here) and no Python in the row path."""
    plan = plan_of(spark, "ch_dialect_asof_join")
    low = plan.lower()
    assert "broadcastnestedloopjoin" not in low
    assert "cartesianproduct" not in low
    assert "window" in low, "the carry-forward window must survive"
    assert "batchevalpython" not in low and "arrowevalpython" not in low


def test_any_join_dialect_dedups_before_join(spark):
    """ANY JOIN translation: the right side collapses to one row per
    join key BEFORE the join — the rank/WindowGroupLimit must sit in
    the join's build-side SUBTREE (printed below the join node in the
    plan tree), never as a post-join dedup of the multiplied pairs."""
    plan = plan_of(spark, "ch_dialect_any_join")
    tree = plan.lower().split("\n\n")[0]  # operator tree, not details
    assert "windowgrouplimit" in tree
    assert "broadcastnestedloopjoin" not in tree
    assert "cartesianproduct" not in tree
    join_at = min(
        i for i in (tree.find("hashjoin"), tree.find("sortmergejoin"))
        if i >= 0
    )
    assert tree.find("windowgrouplimit") > join_at, (
        "dedup must be under the join (children print below parents)"
    )


def test_final_dialect_is_single_collapse_window(spark):
    """Replacing FINAL: EXACTLY one rank-window collapse (counted on
    the formatted tree's Window exec nodes; WindowGroupLimit is its
    rank-pushdown companion) feeding the user's aggregation; the
    Summing arm must instead be pure hash aggregation with NO window."""
    low_r = plan_of(spark, "ch_dialect_final").lower()
    assert "windowgrouplimit" in low_r
    assert len(re.findall(r"\(\d+\)\s+window\b", low_r)) == 1
    low_s = plan_of(spark, "ch_dialect_final_summing").lower()
    assert "window" not in low_s, "group-sum collapse needs no rank"
    assert "hashaggregate" in low_s


def test_limit_by_offset_keeps_group_limit_pushdown(spark):
    """LIMIT offset, n BY lowers to a rank RANGE — the BETWEEN upper
    bound must still drive Spark's WindowGroupLimit pushdown so
    per-group state stays capped at offset+n."""
    plan = plan_of(spark, "ch_dialect_limit_by_offset")
    assert "windowgrouplimit" in plan.lower()


def test_pinned_index_frame_caches_per_generation(spark, tmp_path):
    """VERDICT r9 #4: the explicit-file-list read rebuilds a FileIndex
    per call (the bm25_index_admit 1.7x regression) — an unchanged
    generation must return the ALREADY-resolved frame; a new file (next
    generation's admission) must re-pin, and the old frame must keep
    answering from its snapshot file set."""
    import os

    from clickhouse_data_rebalance_spark.operators.llm_similarity import (
        pinned_index_frame,
    )

    root = str(tmp_path / "idx")
    spark.range(3).selectExpr("id", "id % 2 AS cell").write.partitionBy(
        "cell"
    ).parquet(root)
    a = pinned_index_frame(spark, root)
    b = pinned_index_frame(spark, root)
    assert a is b, "unchanged file set must hit the pin cache"
    n_before = a.count()
    # a concurrent admission appends a file into an existing cell dir
    spark.range(100, 102).selectExpr("id", "0 AS cell").write.partitionBy(
        "cell"
    ).mode("append").parquet(root)
    c = pinned_index_frame(spark, root)
    assert c is not a, "a changed file set must re-pin"
    assert a.count() == n_before, "the old pin must keep its snapshot"
    assert c.count() == n_before + 2
    assert os.path.isdir(root)


def test_corpus_stage_bisection_plan_shapes(spark):
    """r10 stage-bisection queries must keep the pipeline's shuffle
    budget: the gate stage is row-local (zero wide exchanges before the
    output sort), dedup/split add ONLY the fingerprint window's hash
    exchange — the same single corpus-wide shuffle the e2e pipeline
    pays — and no stage introduces a cartesian."""
    p = plan_of(spark, "corpus_stage_gate")
    assert "CartesianProduct" not in p
    assert p.count("hashpartitioning(") == 0, p
    for name in ("corpus_stage_dedup", "corpus_stage_split"):
        p = plan_of(spark, name)
        assert "CartesianProduct" not in p
        assert p.count("hashpartitioning(") == 1, (name, p)


def test_with_fill_grouped_plan_partitions_by_group(spark):
    """The grouped fill's gap window must partition by the leading keys
    (per-series state, parallel across groups) — never an unpartitioned
    global window — and stay cartesian-free."""
    from clickhouse_data_rebalance_spark.plans.ch_dialect import (
        _apply_with_fill,
    )

    spark.createDataFrame(
        [("a", 1, 10), ("a", 4, 40), ("b", 7, 70)],
        "g string, k int, val int",
    ).createOrReplaceTempView("gfplan_t")
    df = _apply_with_fill(
        spark, "SELECT g, k, val FROM gfplan_t ORDER BY g, k WITH FILL"
    )
    p = _plan(df)
    assert "CartesianProduct" not in p
    assert "hashpartitioning(g" in p, p


def test_with_fill_runs_the_query_under_the_fill_once(spark):
    """WITH FILL lowers to ONE pass over the query under the fill: one
    scan of orders, no Union of fill branches, no min/max bounds
    re-derivation, and no range-partition sampling — the ungrouped
    window's single partition already satisfies the final ORDER BY.
    INTERPOLATE rides the same window (no second carry window)."""

    def executed(name):
        df = registry.QUERIES[name](spark, SF_SMALL)
        return df._jdf.queryExecution().executedPlan().toString()

    p = executed("ch_dialect_with_fill")
    assert p.count("FileScan parquet") == 1 and "orders.parquet" in p, p
    assert "Union" not in p, p
    assert "rangepartitioning" not in p, p
    assert executed("ch_dialect_fill_interpolate").count("Window [") == 1


def test_with_fill_is_one_window_one_generate_one_translate(spark, monkeypatch):
    """The WITH FILL lowering is one SQL text over the query under the
    fill: its executed plan holds exactly one Window (lead and lag share
    it) and one Generate (one explode of the concatenated fills), and a
    ch_sql call translates the query under the fill once."""
    from clickhouse_data_rebalance_spark.plans import ch_dialect

    translate, calls = ch_dialect.translate, []

    def counting(sql):
        calls.append(sql)
        return translate(sql)

    monkeypatch.setattr(ch_dialect, "translate", counting)
    df = registry.QUERIES["ch_dialect_with_fill"](spark, SF_SMALL)
    assert len(calls) == 1, calls
    p = df._jdf.queryExecution().executedPlan().toString()
    assert p.count("Window [") == 1, p
    assert p.count("Generate ") == 1, p


def test_curate_flagship_reuses_dedup_exchange(spark):
    """corpus_curate_e2e's mixture-plan side and rank side both hang off
    the curated (gate+dedup+verdict) subtree — Spark's ReuseExchange
    must dedup the fingerprint-window exchange so the corpus is derived
    once per action, and the plan must stay cartesian-free."""
    df = registry.QUERIES["corpus_curate_e2e"](spark, SF_SMALL)
    df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "ReusedExchange" in plan, plan
    assert "CartesianProduct" not in plan


def test_dict_get_lowers_to_broadcast_joins(spark):
    """Every dictGet in the DDL-resolved demo must decorrelate into a
    BroadcastHashJoin against the dim-sized source — never a
    BroadcastNestedLoopJoin (the decorrelation failure mode) and never
    a per-row subquery surviving to execution."""
    plan = plan_of(spark, "ch_dialect_dict_get")
    assert plan.count("BroadcastHashJoin") >= 4, plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_weighted_quantile_single_pair_collect(spark):
    """The weighted-quantile cover query's plural and median columns
    share ONE collect of (v, w) structs — Catalyst dedups the identical
    aggregate function, so the corpus pays a single ObjectHashAggregate
    buffer regardless of how many levels are requested."""
    plan = plan_of(spark, "ch_dialect_quantile_weighted")
    finals = [
        l
        for l in plan.splitlines()
        if "Functions" in l and "partial_" not in l and "collect_list" in l
    ]
    assert finals, plan
    assert finals[0].count("collect_list") == 1, finals[0]


def test_rank_rules_single_collect(spark):
    """The rank-rules cover query's six collect-based columns (Low
    median, High median, Low@0.3, both Exclusive levels, the plural
    pair — and as of r16 the Inclusive arm too, whose singular lowering
    now rides the same sorted-list interpolation instead of a separate
    Percentile hashmap buffer) share ONE collect_list(l_quantity) — the
    spellings' CAST(x AS DOUBLE) folds away on the double fixture
    column, so Catalyst canonicalizes every sorted-array source to the
    same aggregate. One grouped exchange + the presentation sort —
    nothing else wide, and no percentile buffer left in the plan."""
    plan = plan_of(spark, "ch_dialect_quantile_rank_rules")
    finals = [
        l
        for l in plan.splitlines()
        if "Functions" in l and "partial_" not in l and "collect_list" in l
    ]
    assert finals, plan
    assert finals[0].count("collect_list") == 1, finals[0]
    assert finals[0].count("percentile") == 0, finals[0]
    assert plan.count("Exchange (") == 2, plan


def test_converters_demo_stays_narrow(spark):
    """The r13 converter translation is pure row-local expression work:
    the demo's ONLY exchange is its own groupBy (plus the presentation
    sort) — no Python UDFs, no extra shuffle, no join; try_cast and the
    NULL-guard CASE run inside whole-stage codegen on the scan side."""
    plan = plan_of(spark, "ch_dialect_converters")
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert plan.count("Exchange (") == 2, plan  # groupBy + final sort
    # the converters landed as projection expressions feeding a plain
    # hash aggregate — no Generate/Window/Join in the whole plan
    assert "HashAggregate" in plan
    for wide in ("Join", "Window", "Generate"):
        assert wide not in plan, plan


def test_strings_demo_stays_narrow(spark):
    """The r13 second/third dialect waves are pure row-local expression
    work: ch_dialect_strings' only exchanges are its own groupBy and
    the presentation sort — the byte-true substring (BINARY round-trip),
    ASCII translate() fold, Sunday week arithmetic, bit ops, and the
    exists/contains lambdas all run inside whole-stage codegen on the
    scan side; no Python eval, no join/window/generate."""
    plan = plan_of(spark, "ch_dialect_strings")
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    # 3 exchanges: the mixed COUNT(DISTINCT upper(..)) + plain aggs
    # force Spark's two-phase distinct plan (partial on (wk, pre, ut),
    # re-group on (wk, pre)) plus the presentation sort — inherent to
    # any mixed distinct aggregate, NOT translation overhead
    assert plan.count("Exchange (") == 3, plan
    assert "HashAggregate" in plan
    for wide in ("Join", "Window", "Generate"):
        assert wide not in plan, plan


def test_concat_split_demo_stays_narrow(spark):
    """The r14 concatWithSeparator guard + \\Q\\E-quoted split are pure
    row-local expression work: the demo's only exchanges are its own
    groupBy and the presentation sort; the scan reads exactly the two
    referenced customer columns, and Catalyst CSEs the guard's doubled
    argument (visible as _common_expr in the projection) — the
    double-evaluation caveat costs no extra pass here."""
    plan = plan_of(spark, "ch_dialect_concat_split")
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert plan.count("Exchange (") == 2, plan  # groupBy + final sort
    assert "HashAggregate" in plan
    for wide in ("Join", "Window", "Generate"):
        assert wide not in plan, plan
    assert "ReadSchema: struct<c_nationkey:int,c_mktsegment:string>" in plan


def test_funcs_wave2_demo_stays_narrow(spark):
    """The r14 wave-2 lowerings (parseDateTime inversion, base64
    validity guards, IPv4 arithmetic, range CASE guard, validated
    translate) are all row-local expression work: the demo's only
    exchanges are its own groupBy and the presentation sort; no Python
    eval, no join/window; the scan reads exactly the three referenced
    orders columns."""
    plan = plan_of(spark, "ch_dialect_funcs_wave2")
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert plan.count("Exchange (") == 2, plan
    # min(STRING) has no mutable hash buffer, so Spark plans a
    # SortAggregate here — still one partial+final pair, no extra pass
    assert "HashAggregate" in plan or "SortAggregate" in plan
    for wide in ("Join", "Window"):
        assert wide not in plan, plan
    read = [ln for ln in plan.splitlines() if "ReadSchema" in ln]
    assert len(read) == 1 and all(
        c in read[0] for c in ("o_orderkey", "o_orderdate", "o_orderpriority")
    ) and "o_totalprice" not in read[0], read


def test_funcs_wave3_demo_stays_narrow(spark):
    """The r15 wave-3 lowerings (digest unhex compositions, hex/bin
    byte-width padding, the value-mapping transform CASE, the
    arrayDifference index lambda, the toStartOfInterval epoch bucket,
    emptyArray constant folding) are all row-local expression work:
    the demo's only exchanges are its own groupBy and the
    presentation sort; no Python eval, no join/window; the scan reads
    exactly the three referenced orders columns; the typed empty
    array constant-folds to a literal."""
    plan = plan_of(spark, "ch_dialect_funcs_wave3")
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert plan.count("Exchange (") == 2, plan
    assert "HashAggregate" in plan or "SortAggregate" in plan
    for wide in ("Join", "Window"):
        assert wide not in plan, plan
    read = [ln for ln in plan.splitlines() if "ReadSchema" in ln]
    assert len(read) == 1 and all(
        c in read[0] for c in ("o_orderkey", "o_orderdate", "o_orderpriority")
    ) and "o_totalprice" not in read[0], read
    # emptyArrayInt64() folded to a literal, never a runtime call
    assert "emptyArray" not in plan


def test_age_month_rule_stays_rowlocal(spark):
    """age('month'/'quarter'/'year') lowers to integer date arithmetic
    in the projection — no months_between, no UDF, no added exchange
    over the bare scan + aggregation."""
    from clickhouse_data_rebalance_spark.plans.ch_dialect import translate
    from clickhouse_data_rebalance_spark.tables import load_tables

    load_tables(spark, SF_SMALL)["orders"].createOrReplaceTempView("orders")
    df = spark.sql(
        translate(
            "SELECT o_orderstatus, sum(age('month', o_orderdate, "
            "toDate('1998-01-01'))) AS m FROM orders GROUP BY o_orderstatus"
        )
    )
    plan = df._jdf.queryExecution().explainString(
        df._sc._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "formatted"
        )
    )
    assert "months_between" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert plan.count("Exchange (") == 1, plan  # the groupBy only


def test_funcs_wave4_demo_stays_narrow(spark):
    """The r16 wave-4 lowerings (comparison operators, bround,
    shiftleft, NaN-equality classification, the aggregate/zip_with
    vector folds, map_filter forms) are all row-local expression work:
    one grouped exchange + the presentation sort, no Python eval, no
    join/window; the scan reads exactly the five referenced lineitem
    columns."""
    plan = plan_of(spark, "ch_dialect_funcs_wave4")
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert plan.count("Exchange (") == 2, plan
    assert "HashAggregate" in plan or "SortAggregate" in plan
    for wide in ("Join", "Window"):
        assert wide not in plan, plan
    read = [ln for ln in plan.splitlines() if "ReadSchema" in ln]
    assert len(read) == 1 and all(
        c in read[0]
        for c in (
            "l_quantity", "l_linenumber", "l_tax", "l_returnflag",
            "l_linestatus",
        )
    ) and "l_extendedprice" not in read[0], read


def test_funcs_wave5_demo_stays_narrow(spark):
    """The r16 wave-5 lowerings (zero-divisor CASEs, guarded max2/min2,
    date projections, map_zip_with merge, normalized-vector transform,
    Lp folds, checked casts, assert_true) stay row-local: one grouped
    exchange + the presentation sort, no Python eval, no join/window;
    the scan reads exactly the six referenced lineitem columns."""
    plan = plan_of(spark, "ch_dialect_funcs_wave5")
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert plan.count("Exchange (") == 2, plan
    assert "HashAggregate" in plan or "SortAggregate" in plan
    for wide in ("Join", "Window"):
        assert wide not in plan, plan
    read = [ln for ln in plan.splitlines() if "ReadSchema" in ln]
    assert len(read) == 1 and all(
        c in read[0]
        for c in (
            "l_orderkey", "l_quantity", "l_linenumber", "l_tax",
            "l_returnflag", "l_linestatus", "l_shipdate",
        )
    ) and "l_extendedprice" not in read[0], read


def test_corpus_barrier_single_tokenize(spark):
    """r16's seeded shuffle() barriers (guide §4.4-class) rely on
    Shuffle's nondeterministic flag to stop CollapseProject /
    PushDownPredicates re-inlining the tokenize+ngram tree into
    downstream gate filters — an undocumented Catalyst behavior a Spark
    upgrade could change (e.g. by constant-folding seeded shuffles),
    silently restoring the ~4x per-row re-evaluation with no
    output-level signal (ADVICE r16). Pin the plan shape: the gated
    _sized_docs subtree evaluates split(text) exactly ONCE, and
    gopher_verdicts' two tokenize columns each evaluate their split
    exactly once even under a .filter(keep)."""
    from clickhouse_data_rebalance_spark.operators.llm_corpus import (
        _gate_pred,
        _sized_docs,
    )
    from clickhouse_data_rebalance_spark.operators.llm_text import gopher_verdicts
    from clickhouse_data_rebalance_spark.tables import table

    gated = _sized_docs(spark, SF_SMALL).filter(_gate_pred())
    plan = _plan(gated)
    # formatted plans list each operator twice (tree + detail); the
    # detail section names split(text once in the >=5-token Filter and
    # once as the toks alias in the barrier Project — the gate filter
    # above must NOT add re-inlined copies (the pre-r16 disease put the
    # whole tree in the pushed Filter, ~4 more)
    details = plan.split("\n\n", 1)[1] if "\n\n" in plan else plan
    assert details.count("split(text") == 2, plan

    gv = gopher_verdicts(table(spark, SF_SMALL, "documents")).filter("keep")
    plan = _plan(gv)
    details = plan.split("\n\n", 1)[1] if "\n\n" in plan else plan
    # one split for _cdr_gv_w (raw text), one for _cdr_gv_lw (lowered)
    assert details.count("split(") == 2, plan


def test_corpus_upstream_filter_pushes_through_barrier_project(spark):
    """VERDICT r16 watch item 1: the nondeterministic barriers block
    predicate pushdown THROUGH the barrier project — so prunable
    filters must be applied UPSTREAM (below the barrier), where they
    still reach the parquet scan. Pin that contract: a lang filter
    applied before gopher_verdicts lands in the scan's PushedFilters.
    (A filter applied AFTER the verdicts on a passthrough column will
    NOT push — that is the documented trade of the barrier; compose
    filters upstream.)"""
    from clickhouse_data_rebalance_spark.operators.llm_text import gopher_verdicts
    from clickhouse_data_rebalance_spark.tables import table

    d = table(spark, SF_SMALL, "documents").filter(F.col("lang") == "lang2")
    plan = _plan(gopher_verdicts(d).filter("keep"))
    pushed = [ln for ln in plan.splitlines() if "PushedFilters" in ln]
    assert pushed and any(
        "lang" in ln and "EqualTo" in ln for ln in pushed
    ), plan
