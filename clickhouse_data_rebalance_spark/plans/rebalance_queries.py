"""Driver-facing query entries for the rebalance / catalog lifecycle
(SURVEY.md C35–C39 — the productized Tier A/B reference surface).

Verification style is **invariants** (SURVEY.md §2.0 "inv"): a rebalance
must preserve row count, per-column exact sums, and key cardinality; the
oracle computes those invariants over the *original* table, so a
hash-match proves the movement was content-preserving. Shard-balance
checks are rows-only (xxhash64 has no DuckDB twin).
"""

from __future__ import annotations

import os
import shutil
import tempfile

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..registry import query
from ..tables import table
from ..operators._util import dec_sum, sql_dec_sum
from . import catalog as cat
from .rebalance import compact_parquet, rebalance, rebalance_by_range, skew_report

_TMP = "/tmp/cdr_spark"
N_SHARDS = 8


def _fresh_run_dir(kind: str) -> str:
    """Unique per-invocation scratch dir under _TMP/<kind>.

    Fixed paths made re-runs race their own earlier state (BENCH_r01
    carried an insertInto stack trace from exactly that): a recreated
    external table could adopt the previous run's files, and rmtree could
    yank files from under a straggling reader. Callers must DROP the
    previous run's tables BEFORE this call — the old root is cleared
    here, after which a fresh unique subdir is handed out."""
    root = os.path.join(_TMP, kind)
    shutil.rmtree(root, ignore_errors=True)
    os.makedirs(root, exist_ok=True)
    return tempfile.mkdtemp(prefix="run_", dir=root)

_INVARIANT_ORACLE = f"""
    SELECT COUNT(*) AS n_rows,
           COUNT(DISTINCT l_orderkey) AS n_orders,
           {sql_dec_sum('l_quantity')} AS sum_qty,
           {sql_dec_sum('l_extendedprice')} AS sum_price,
           MIN(l_orderkey) AS min_key, MAX(l_orderkey) AS max_key
    FROM lineitem
"""


def _invariants(df: DataFrame) -> DataFrame:
    return df.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.countDistinct("l_orderkey").alias("n_orders"),
        dec_sum("l_quantity").alias("sum_qty"),
        dec_sum("l_extendedprice").alias("sum_price"),
        F.min("l_orderkey").alias("min_key"),
        F.max("l_orderkey").alias("max_key"),
    )


@query("rebalance_invariants", _INVARIANT_ORACLE)
def rebalance_invariants(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hash re-shard lineitem (the reference's phase-7 INSERT-SELECT,
    sharding_recreation.py:159-160) → write → read back → invariants."""
    l = table(spark, sf_dir, "lineitem")
    dst = os.path.join(_TMP, "rebalanced_lineitem")
    rebalance(l, N_SHARDS, ["l_orderkey"], dst_path=dst)
    return _invariants(spark.read.parquet(dst))


@query("rebalance_range_invariants", _INVARIANT_ORACLE)
def rebalance_range_invariants(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C38: range re-shard (sorted layout) preserves content too."""
    l = table(spark, sf_dir, "lineitem")
    dst = os.path.join(_TMP, "range_lineitem")
    rebalance_by_range(l, N_SHARDS, ["l_shipdate"], dst_path=dst)
    return _invariants(spark.read.parquet(dst))


@query(
    "rebalance_shard_stats",
    f"""
    SELECT COUNT(*) AS total_rows,
           {N_SHARDS} AS n_shards_used,
           true AS balance_ok
    FROM lineitem
    """,
)
def rebalance_shard_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C37: skew report over the prospective shard assignment, reshaped to
    SQL-checkable invariants — murmur3 has no DuckDB twin, but "every
    shard used, counts sum to the table, skew within bound" is checkable:
    a uniform key over thousands of rows lands in all {N_SHARDS} shards
    with skew_ratio well under 1.5. The full per-shard report stays
    available via plans.rebalance.skew_report."""
    l = table(spark, sf_dir, "lineitem")
    rep = skew_report(l, N_SHARDS, ["l_orderkey"])
    return rep.select(
        F.col("total_rows"),
        F.col("n_shards_used").cast("int").alias("n_shards_used"),
        (F.col("skew_ratio") <= 1.5).alias("balance_ok"),
    )


_INSERT_SELECT_ORACLE = f"""
    SELECT COUNT(*) AS n_rows, {sql_dec_sum('o_totalprice')} AS total
    FROM orders WHERE o_orderstatus = 'F'
"""


@query("insert_select_roundtrip", _INSERT_SELECT_ORACLE)
def insert_select_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C39: INSERT INTO … SELECT between catalog tables, then verify the
    landed content — the literal reference query shape
    (sharding_recreation.py:160)."""
    table(spark, sf_dir, "orders")
    spark.sql("DROP TABLE IF EXISTS cdr_ins_orders")
    loc = os.path.join(_fresh_run_dir("ins_sel"), "cdr_ins_orders")
    os.makedirs(loc, exist_ok=True)  # a missing LOCATION is stat'ed, with
    # a FileNotFoundException WARN, on every resolution before the INSERT
    spark.sql(
        f"""CREATE TABLE cdr_ins_orders
            (o_orderkey BIGINT, o_totalprice DOUBLE, o_orderstatus STRING)
            USING parquet LOCATION '{loc}'"""
    )
    spark.sql(
        """INSERT OVERWRITE TABLE cdr_ins_orders
           SELECT o_orderkey, o_totalprice, o_orderstatus
           FROM orders WHERE o_orderstatus = 'F'"""
    )
    return spark.table("cdr_ins_orders").agg(
        F.count(F.lit(1)).alias("n_rows"), dec_sum("o_totalprice").alias("total")
    )


_PIPELINE_ORACLE = f"""
    SELECT COUNT(*) AS n_rows,
           {sql_dec_sum('o_totalprice')} AS sum_price,
           COUNT(DISTINCT o_custkey) AS n_custs
    FROM orders
"""


@query("rebalance_pipeline", _PIPELINE_ORACLE)
def rebalance_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's full 8-phase flow (sharding_recreation.py:306-335)
    as one call: hash re-scatter into a versioned stage table → verify its
    row count → ``catalog.swap`` it into place → GC the old table.
    Invariants of the landed table must match the source exactly."""
    from .pipeline import resize_and_rebalance

    table(spark, sf_dir, "orders")
    for t in ["cdr_pipe_orders", "cdr_pipe_orders__old"]:
        spark.sql(f"DROP TABLE IF EXISTS {t}")
    loc = _fresh_run_dir("pipeline_demo")
    spark.table("orders").write.option(
        "path", os.path.join(loc, "cdr_pipe_orders_seed")
    ).saveAsTable("cdr_pipe_orders")

    report = resize_and_rebalance(
        spark, "cdr_pipe_orders", N_SHARDS, ["o_orderkey"], location=loc
    )
    assert report.content_preserved and report.old_table is None
    return spark.table("cdr_pipe_orders").agg(
        F.count(F.lit(1)).alias("n_rows"),
        dec_sum("o_totalprice").alias("sum_price"),
        F.countDistinct("o_custkey").alias("n_custs"),
    )


_COMPACTION_ORACLE = f"""
    SELECT COUNT(*) AS n_rows,
           {sql_dec_sum('o_totalprice')} AS sum_price,
           COUNT(DISTINCT o_custkey) AS n_custs,
           true AS file_count_ok
    FROM orders
"""


@query("compaction_roundtrip", _COMPACTION_ORACLE)
def compaction_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Small-file compaction end-to-end: fragment orders into 64 tiny
    files (the nightly-ingest pathology), compact to 4 with a shuffle-free
    coalesce, and verify content invariants plus the landed file count."""
    o = table(spark, sf_dir, "orders")
    base = _fresh_run_dir("compaction")
    frag, out = os.path.join(base, "frag"), os.path.join(base, "compacted")
    o.repartition(64).write.parquet(frag)
    compact_parquet(spark, frag, out, target_files=4)
    n_files = len([f for f in os.listdir(out) if f.endswith(".parquet")])
    back = spark.read.parquet(out)
    return back.agg(
        F.count(F.lit(1)).alias("n_rows"),
        dec_sum("o_totalprice").alias("sum_price"),
        F.countDistinct("o_custkey").alias("n_custs"),
    ).select("*", F.lit(n_files == 4).alias("file_count_ok"))


_BUCKETED_JOIN_ORACLE = f"""
    SELECT o_orderpriority,
           COUNT(*) AS n_items,
           {sql_dec_sum('l_quantity')} AS sum_qty,
           true AS join_no_exchange
    FROM orders JOIN lineitem ON l_orderkey = o_orderkey
    GROUP BY o_orderpriority ORDER BY o_orderpriority
"""


def _bucketed_fact_pair(spark: SparkSession, sf_dir: str) -> tuple[str, str]:
    """Build-once bucketed copies of orders/lineitem, co-bucketed on the
    join key — the persisted-co-location layout a re-shard targets. The
    cache key fingerprints the source files (mtime_ns + size, the same
    drift guard as the IVF index) so a regenerated fixture rebuilds
    instead of probing stale buckets; stale table variants are dropped."""
    import hashlib

    from ..sources.connectors import write_bucketed

    fps = []
    for t in ("orders", "lineitem"):
        st = os.stat(os.path.join(sf_dir, f"{t}.parquet"))
        fps.append(f"{st.st_mtime_ns}:{st.st_size}")
    key = hashlib.md5(f"{sf_dir}|{'|'.join(fps)}".encode()).hexdigest()[:10]
    names = (f"cdr_bkt_orders_{key}", f"cdr_bkt_lineitem_{key}")
    if all(spark.catalog.tableExists(n) for n in names):
        return names
    for t in spark.catalog.listTables():
        if t.name.startswith("cdr_bkt_"):
            spark.sql(f"DROP TABLE IF EXISTS {t.name}")
    base = os.path.join(_TMP, "bucketed", key)
    shutil.rmtree(os.path.join(_TMP, "bucketed"), ignore_errors=True)
    o = table(spark, sf_dir, "orders").select("o_orderkey", "o_orderpriority")
    l = table(spark, sf_dir, "lineitem").select("l_orderkey", "l_quantity")
    write_bucketed(o, names[0], N_SHARDS, ["o_orderkey"], os.path.join(base, "o"))
    write_bucketed(l, names[1], N_SHARDS, ["l_orderkey"], os.path.join(base, "l"))
    return names


@query("bucketed_join_noshuffle", _BUCKETED_JOIN_ORACLE)
def bucketed_join_noshuffle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The persisted-co-location payoff of re-sharding (C-II at 100 TB):
    orders and lineitem bucketed on the join key join with ZERO
    exchanges — the bucket layout replaces the shuffle, and it keeps
    paying on every subsequent join/aggregation on that key, which is
    the whole point of re-sharding a 100 TB fact table once.

    The plan property is part of the verified output: `join_no_exchange`
    is computed from the bare join's physical plan with broadcast
    disabled (so the fixture-sized tables see the same sort-merge plan
    the full-scale tables would) and must come back true, alongside the
    content invariants of the joined result."""
    bo, bl = _bucketed_fact_pair(spark, sf_dir)
    o, l = spark.table(bo), spark.table(bl)
    saved = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        j = o.join(l, F.col("o_orderkey") == F.col("l_orderkey"))
        plan = j._jdf.queryExecution().explainString(  # noqa: SLF001
            j._sc._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
                "formatted"
            )
        )
        no_exchange = "Exchange" not in plan and "SortMergeJoin" in plan
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", saved)
    return (
        o.join(l, F.col("o_orderkey") == F.col("l_orderkey"))
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("n_items"), dec_sum("l_quantity").alias("sum_qty"))
        .select("*", F.lit(no_exchange).alias("join_no_exchange"))
        .orderBy("o_orderpriority")
    )


@query("table_swap_lifecycle", "SELECT * FROM nation ORDER BY n_nationkey")
def table_swap_lifecycle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C36: snapshot → swap → GC, the reference's phase 3-5+8 rename dance
    (sharding_recreation.py:306-335) with deterministic tokens.

    Final read of the logical name must equal the original content —
    SQL-oracle-checkable end state.
    """
    table(spark, sf_dir, "nation")
    # idempotent re-run: clear catalog FIRST, then files (fresh dir)
    for t in ["cdr_nation", cat.versioned_name("cdr_nation", "r2"), cat.old_name("cdr_nation")]:
        spark.sql(f"DROP TABLE IF EXISTS {t}")
    base_loc = _fresh_run_dir("swap_demo")

    # create the "old-cluster" table
    spark.table("nation").write.option(
        "path", os.path.join(base_loc, "cdr_nation")
    ).saveAsTable("cdr_nation")
    # snapshot under a deterministic token (reference used random.randint!)
    vname = cat.snapshot(spark, "cdr_nation", "r2", location=base_loc)
    assert cat.table_exists(spark, vname)
    # online swap: old aside, new into place
    cat.swap(spark, "cdr_nation", "r2", keep_old=True)
    # GC the __old table (reference phase 8)
    cat.drop_versions(spark, "cdr_nation")
    return spark.table("cdr_nation").orderBy("n_nationkey")
