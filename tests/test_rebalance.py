"""Unit + property tests for the rebalance/catalog surface (SURVEY.md §5.2
items 3, 5, 6): content preservation, shard balance, swap lifecycle,
edge cases (empty input, all-null keys, skewed keys).
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from clickhouse_data_rebalance_spark.plans import catalog as cat
from clickhouse_data_rebalance_spark.plans.rebalance import (
    rebalance,
    rebalance_by_range,
    shard_id,
    skew_report,
)

from .conftest import SF_SMALL


@pytest.fixture(scope="module")
def lineitem(spark):
    return spark.read.parquet(f"{SF_SMALL}/lineitem.parquet")


def test_rebalance_preserves_content(spark, lineitem, tmp_path):
    dst = str(tmp_path / "rl")
    rebalance(lineitem, 4, ["l_orderkey"], dst_path=dst)
    back = spark.read.parquet(dst)
    assert back.count() == lineitem.count()
    a = lineitem.agg(F.sum(F.col("l_quantity").cast("decimal(30,4)"))).collect()[0][0]
    b = back.agg(F.sum(F.col("l_quantity").cast("decimal(30,4)"))).collect()[0][0]
    assert a == b
    assert back.schema == lineitem.schema  # B6 schema-preserving copy


def test_rebalance_file_count_matches_shards(spark, lineitem, tmp_path):
    dst = str(tmp_path / "rl8")
    rebalance(lineitem, 8, ["l_orderkey"], dst_path=dst)
    files = [f for f in __import__("os").listdir(dst) if f.endswith(".parquet")]
    assert len(files) == 8


def test_rebalance_colocates_keys(spark, lineitem):
    # every row of the same key lands in the same shard
    out = lineitem.select("l_orderkey", shard_id(4, "l_orderkey").alias("s"))
    per_key = out.groupBy("l_orderkey").agg(F.countDistinct("s").alias("n"))
    assert per_key.filter(F.col("n") > 1).count() == 0


def test_shard_id_deterministic(spark, lineitem):
    a = lineitem.select(shard_id(8, "l_orderkey").alias("s")).collect()
    b = lineitem.select(shard_id(8, "l_orderkey").alias("s")).collect()
    assert a == b


def test_skew_report_totals(spark, lineitem):
    rep = skew_report(lineitem, 8, ["l_orderkey"]).collect()[0]
    assert rep["total_rows"] == lineitem.count()
    assert rep["n_shards_used"] <= 8
    assert rep["skew_ratio"] >= 1.0


def test_rebalance_empty_input(spark, lineitem, tmp_path):
    empty = lineitem.filter(F.lit(False))
    dst = str(tmp_path / "empty")
    rebalance(empty, 4, ["l_orderkey"], dst_path=dst)
    assert spark.read.parquet(dst).count() == 0


def test_rebalance_null_keys(spark, tmp_path):
    df = spark.createDataFrame(
        [(None, 1.0), (None, 2.0), (3, 3.0)], "k INT, v DOUBLE"
    )
    dst = str(tmp_path / "nulls")
    rebalance(df, 4, ["k"], dst_path=dst)
    back = spark.read.parquet(dst)
    assert back.count() == 3  # null keys hash to a shard, not dropped


def test_rebalance_salt_spreads_hot_key(spark):
    hot = spark.range(10000).select(F.lit(1).alias("k"), F.col("id"))
    plain = hot.select(shard_id(8, "k").alias("s")).distinct().count()
    # spread entropy must come from non-key content (here: id)
    salted = hot.select(shard_id(8, "k", salt=8, salt_cols=["id"]).alias("s")).distinct().count()
    assert plain == 1  # one hot key → one shard without salt
    assert salted > 1  # salt spreads it


def test_salted_assignment_is_content_deterministic(spark):
    # same rows, different input layout → identical salted shard ids
    df1 = spark.range(1000).select(F.lit(1).alias("k"), F.col("id"))
    df2 = df1.repartition(7)  # different physical layout
    a = df1.select("id", shard_id(8, "k", salt=8, salt_cols=["id"]).alias("s"))
    b = df2.select("id", shard_id(8, "k", salt=8, salt_cols=["id"]).alias("s"))
    assert a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0


def test_shard_id_matches_repartition_placement(spark, lineitem):
    # shard_id (murmur3 pmod n) must equal the partition repartition()
    # actually places the row in — report/placement/routing agreement
    out = lineitem.repartition(8, F.col("l_orderkey")).select(
        shard_id(8, "l_orderkey").alias("s"),
        F.spark_partition_id().alias("p"),
    )
    assert out.filter(F.col("s") != F.col("p")).count() == 0


def test_range_rebalance_sorts_boundaries(spark, lineitem, tmp_path):
    dst = str(tmp_path / "range")
    rebalance_by_range(lineitem, 4, ["l_shipdate"], dst_path=dst)
    back = spark.read.parquet(dst)
    assert back.count() == lineitem.count()


def test_versioned_name_rejects_bad_token():
    with pytest.raises(ValueError):
        cat.versioned_name("t", "bad token!")
    assert cat.versioned_name("t", "r2") == "t__vr2"


def test_swap_lifecycle(spark, tmp_path):
    src = spark.range(10).withColumnRenamed("id", "x")
    base = str(tmp_path / "cat")
    for t in ["tswap", "tswap__vr9", "tswap__old"]:
        spark.sql(f"DROP TABLE IF EXISTS {t}")
    src.write.option("path", f"{base}/tswap").saveAsTable("tswap")
    v = cat.snapshot(spark, "tswap", "r9", location=base)
    assert v == "tswap__vr9" and cat.table_exists(spark, v)
    # snapshot is idempotent
    assert cat.snapshot(spark, "tswap", "r9", location=base) == v
    cat.swap(spark, "tswap", "r9")
    assert cat.table_exists(spark, "tswap")
    assert cat.table_exists(spark, "tswap__old")
    assert spark.table("tswap").count() == 10
    assert cat.drop_versions(spark, "tswap") == 1
    assert not cat.table_exists(spark, "tswap__old")
    # swap of a missing version raises
    with pytest.raises(ValueError):
        cat.swap(spark, "tswap", "nope")
    spark.sql("DROP TABLE IF EXISTS tswap")


def test_swap_crash_recovery(spark, tmp_path):
    """Kill the swap between its two renames (the documented non-atomic
    window in catalog.swap) and verify recover_swap repairs the catalog:
    roll-forward when the versioned table survived, roll-back when only
    __old did, no-op when already consistent."""
    base = str(tmp_path / "crash")
    for t in ["tcrash", "tcrash__vr1", "tcrash__old"]:
        spark.sql(f"DROP TABLE IF EXISTS {t}")
    spark.range(10).withColumnRenamed("id", "x").write.option(
        "path", f"{base}/tcrash"
    ).saveAsTable("tcrash")
    # new version holds different data so roll-forward is observable
    spark.range(25).withColumnRenamed("id", "x").write.option(
        "path", f"{base}/tcrash__vr1"
    ).saveAsTable("tcrash__vr1")

    # simulate the crash: first rename done, second never ran
    spark.sql("ALTER TABLE tcrash RENAME TO tcrash__old")
    assert not cat.table_exists(spark, "tcrash")

    # mid-swap state: reads of the logical name fail (the documented window)
    with pytest.raises(Exception):
        spark.table("tcrash").count()

    assert cat.recover_swap(spark, "tcrash", "r1") == "forward"
    assert spark.table("tcrash").count() == 25  # new data took over
    assert spark.table("tcrash__old").count() == 10  # old data retained
    # idempotent once consistent
    assert cat.recover_swap(spark, "tcrash", "r1") == "consistent"
    # phase-8 GC completes recovery exactly like the non-crashed path
    assert cat.drop_versions(spark, "tcrash") == 1

    # rollback path: versioned table lost, only __old survives
    spark.sql("ALTER TABLE tcrash RENAME TO tcrash__old")
    assert cat.recover_swap(spark, "tcrash", "r1") == "rollback"
    assert spark.table("tcrash").count() == 25
    # nothing left at all -> unrecoverable raises
    spark.sql("DROP TABLE tcrash")
    with pytest.raises(ValueError):
        cat.recover_swap(spark, "tcrash", "r1")


def test_property_rebalance_preserves_random_tables(spark, tmp_path):
    # lightweight property check: several seeds, content hash preserved
    for seed in [1, 7, 42]:
        df = (
            spark.range(500)
            .select(
                (F.xxhash64("id", F.lit(seed)) % 100).alias("k"),
                F.col("id").cast("double").alias("v"),
            )
        )
        dst = str(tmp_path / f"prop{seed}")
        rebalance(df, 5, ["k"], dst_path=dst)
        back = spark.read.parquet(dst)
        pre = df.agg(F.sum("k"), F.sum("v"), F.count(F.lit(1))).collect()
        post = back.agg(F.sum("k"), F.sum("v"), F.count(F.lit(1))).collect()
        assert pre == post


def test_pipeline_end_to_end(spark, tmp_path):
    from clickhouse_data_rebalance_spark.plans.pipeline import resize_and_rebalance

    for t in ["pipe_t", "pipe_t__old"]:
        spark.sql(f"DROP TABLE IF EXISTS {t}")
    src = spark.range(1000).select(F.col("id").alias("k"), (F.col("id") * 2).alias("v"))
    src.write.option("path", str(tmp_path / "seed")).saveAsTable("pipe_t")
    rep = resize_and_rebalance(spark, "pipe_t", 4, ["k"], location=str(tmp_path))
    assert rep.content_preserved and rep.rows_after == 1000
    assert rep.old_table is None  # GC'd after the invariant held
    assert spark.table("pipe_t").agg(F.sum("v")).collect()[0][0] == 999 * 1000
    spark.sql("DROP TABLE IF EXISTS pipe_t")


def test_pipeline_keep_old(spark, tmp_path):
    from clickhouse_data_rebalance_spark.plans import catalog as cat
    from clickhouse_data_rebalance_spark.plans.pipeline import resize_and_rebalance

    for t in ["pipe_k", "pipe_k__old"]:
        spark.sql(f"DROP TABLE IF EXISTS {t}")
    spark.range(50).write.option("path", str(tmp_path / "seed2")).saveAsTable("pipe_k")
    rep = resize_and_rebalance(spark, "pipe_k", 2, ["id"], location=str(tmp_path), keep_old=True)
    assert rep.old_table == "pipe_k__old"
    assert cat.table_exists(spark, "pipe_k__old")
    assert spark.table("pipe_k__old").count() == 50
    for t in ["pipe_k", "pipe_k__old"]:
        spark.sql(f"DROP TABLE IF EXISTS {t}")


def test_pipeline_missing_table_raises(spark):
    import pytest as _pytest
    from clickhouse_data_rebalance_spark.plans.pipeline import resize_and_rebalance

    with _pytest.raises(ValueError):
        resize_and_rebalance(spark, "no_such_tbl", 4, ["x"], location="/tmp/x")


def test_catalog_introspection_list_and_ddl(spark, tmp_path):
    """A1/A2, the reference's phase-1 introspection: a saved table is
    listed, and its extracted DDL, run under a new name at a fresh
    location, recreates the same schema."""
    for t in ["tintro", "tintro_copy"]:
        spark.sql(f"DROP TABLE IF EXISTS {t}")
    src = spark.range(5).select(
        F.col("id").alias("k"), F.col("id").cast("string").alias("s"),
        (F.col("id") * 0.5).alias("v"),
    )
    src.write.option("path", str(tmp_path / "tintro")).saveAsTable("tintro")
    assert "tintro" in cat.list_tables(spark)

    ddl = cat.show_create(spark, "tintro")
    assert ddl.startswith("CREATE TABLE") and "tintro" in ddl
    head, _, _ = ddl.partition("LOCATION")
    copy_ddl = (
        head.replace("tintro", "tintro_copy", 1)
        + f"LOCATION '{tmp_path / 'tintro_copy'}'"
    )
    spark.sql(copy_ddl)
    assert spark.table("tintro_copy").schema == spark.table("tintro").schema
    assert spark.table("tintro_copy").count() == 0
    for t in ["tintro", "tintro_copy"]:
        spark.sql(f"DROP TABLE IF EXISTS {t}")
