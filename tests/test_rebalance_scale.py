"""Empirical validation of the reference's CORE path — the
stage / verify / swap / GC pipeline (`resize_and_rebalance`:
sharding_recreation.py:159-160's INSERT-SELECT re-expressed as one hash
shuffle into a versioned stage table, row-count-checked, then swapped in
by `catalog.swap`) — at 10M rows, three orders of magnitude past the
fixture's sf0.01 scan.

What the fixture-scale tests cannot show and this one does:
  * CONTENT preservation beyond row counts: an order-independent
    xxhash64-sum fingerprint over every column, before vs after
    (the pipeline's own report only proves the count invariant).
  * PLACEMENT: every output file is PURE — all its rows share one
    pmod(murmur3(key), n) shard id, and the file count equals the
    number of distinct shards — i.e. the written layout is exactly the
    layout `shard_id()` tells readers to expect (the reference's
    versioned-dist-router contract).
  * BALANCE at realistic key cardinality: 100k distinct keys over 24
    shards must land near-uniform (murmur3, not a skewed toy).
  * Wall time for SCALE.md.

Data is expression-generated (spark.range + hashes — no RNG, no
driver-side rows). Gated behind ``CDR_REBALANCE_SCALE=1`` (~1 min).
Numbers recorded in SCALE.md §rebalance-at-10M.
"""

from __future__ import annotations

import os
import time

import pytest
from pyspark.sql import functions as F

N_ROWS = 10_000_000
N_KEYS = 100_000
N_SHARDS = 24
TABLE = "rebal_scale_t"


def _fingerprint(df):
    # order-independent content fingerprint: sum of per-row xxhash64
    # over every column, accumulated in DECIMAL(38,0) — a BIGINT sum of
    # 10M 64-bit hashes overflows and Spark's ANSI mode (default on)
    # throws rather than wraps; 10M x 2^63 needs only 26 digits. Plus
    # the count so an empty frame can't alias.
    row = df.agg(
        F.sum(F.xxhash64(*df.columns).cast("decimal(38,0)")).alias("h"),
        F.count(F.lit(1)).alias("n"),
    ).collect()[0]
    return (row["h"], row["n"])


@pytest.mark.skipif(
    os.environ.get("CDR_REBALANCE_SCALE") != "1",
    reason="~1 min: 10M-row re-shard pipeline validation; "
    "set CDR_REBALANCE_SCALE=1",
)
def test_rebalance_pipeline_at_10m(spark, tmp_path):
    from clickhouse_data_rebalance_spark.plans.pipeline import (
        resize_and_rebalance,
    )
    from clickhouse_data_rebalance_spark.plans.rebalance import shard_id

    for t in (TABLE, f"{TABLE}__old"):
        spark.sql(f"DROP TABLE IF EXISTS {t}")

    src = spark.range(N_ROWS).select(
        F.col("id").alias("k"),
        (F.col("id") % N_KEYS).alias("grp"),
        F.xxhash64(F.col("id"), F.lit("payload")).alias("payload"),
        (F.col("id") % 10_007).cast("bigint").alias("val"),
    )
    src.write.option("path", str(tmp_path / "seed")).saveAsTable(TABLE)
    before = _fingerprint(spark.table(TABLE))

    t0 = time.time()
    rep = resize_and_rebalance(
        spark, TABLE, N_SHARDS, ["grp"], location=str(tmp_path)
    )
    wall = time.time() - t0

    assert rep.content_preserved and rep.rows_after == N_ROWS
    assert rep.old_table is None  # invariant held -> old GC'd
    after_df = spark.table(TABLE)
    assert _fingerprint(after_df) == before

    # placement: each written file holds exactly one shard's rows, and
    # the shard is the one murmur3 routing predicts for its keys
    per_file = (
        after_df.select(
            F.input_file_name().alias("f"),
            shard_id(N_SHARDS, "grp").alias("shard"),
        )
        .groupBy("f")
        .agg(
            F.countDistinct("shard").alias("n_shards_in_file"),
            F.count(F.lit(1)).alias("n_rows"),
        )
    )
    impure = per_file.filter(F.col("n_shards_in_file") != 1).count()
    n_files = per_file.count()
    assert impure == 0, "a file mixes shards — reader routing is broken"
    assert n_files == N_SHARDS, (n_files, N_SHARDS)

    # balance: 100k murmur3-hashed keys over 24 shards is near-uniform
    stats = per_file.agg(
        F.max("n_rows").alias("mx"), F.avg("n_rows").alias("avg")
    ).collect()[0]
    skew = stats["mx"] / stats["avg"]
    assert skew < 1.10, f"shard skew {skew:.3f} at {N_KEYS} keys"

    print(
        f"REBALANCE@{N_ROWS}: {N_SHARDS} shards in {wall:.1f}s, "
        f"content fingerprint preserved, {n_files} pure files, "
        f"skew {skew:.4f}"
    )
    assert wall < 180, f"pipeline took {wall:.0f}s at 10M rows"
    spark.sql(f"DROP TABLE IF EXISTS {TABLE}")
