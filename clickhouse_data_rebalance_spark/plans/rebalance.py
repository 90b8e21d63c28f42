"""Bulk re-shard data movement — the reference's one real query
(`INSERT INTO dist SELECT * FROM dist_v`, sharding_recreation.py:145-161)
as a first-class Spark API (SURVEY.md C35–C39).

ClickHouse semantics being reproduced: a Distributed-table INSERT reads
the union of all old shard-local data (fan-in) and scatters every row to
``hash(sharding_key) % n_shards`` over the *new* shard set (fan-out).
In Spark that is exactly one shuffle:

    df.repartition(n_shards, xxhash64(*keys)).write.parquet(dst)

Scale design:
- one wide shuffle, no driver-side data path (no collect anywhere);
- `xxhash64` is computed JVM-side inside codegen;
- AQE splits skewed shuffle partitions automatically; for pathological
  keys use ``salt`` which spreads each hot key over ``salt`` sub-shards;
- output file count == n_shards, so downstream scans get even splits;
- `repartitionByRange` variant gives sorted layout for range pruning.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F


def _salt_subkey(salt: int, salt_cols: list[str]) -> F.Column:
    """Content-derived sub-key in [0, salt): deterministic given the named
    columns' values — NOT monotonically_increasing_id(), whose value is
    partition-position dependent and would make salted placement differ
    across runs and input layouts."""
    return F.pmod(F.xxhash64(*[F.col(c) for c in salt_cols]), F.lit(salt))


def _shard_cols(
    n_shards: int, keys: list[str], salt: int, salt_cols: list[str] | None
) -> list[F.Column]:
    cols = [F.col(k) for k in keys]
    if salt > 1:
        cols.append(_salt_subkey(salt, salt_cols or keys))
    return cols


def shard_id(
    n_shards: int, *keys: str, salt: int = 0, salt_cols: list[str] | None = None
) -> F.Column:
    """Deterministic shard assignment: pmod(murmur3(keys), n) — the Spark
    analog of ClickHouse's `hash(sharding_key) % cluster_size`.

    Uses ``F.hash`` (Murmur3, seed 42) — the SAME function and seed
    Spark's HashPartitioning applies — so this value IS the partition
    ``df.repartition(n_shards, *keys)`` places the row in: report,
    placement, and reader-side routing all agree. (xxhash64 here would
    describe a layout ``rebalance`` never writes.)

    With ``salt > 1`` a content-derived sub-key (xxhash64 of
    ``salt_cols``, default the keys) joins the hash; pass high-entropy
    non-key columns as ``salt_cols`` to actually spread a hot key —
    salting by the keys alone cannot. Callers routing lookups against a
    salted layout must pass the same salt/salt_cols.
    """
    return F.pmod(
        F.hash(*_shard_cols(n_shards, list(keys), salt, salt_cols)), F.lit(n_shards)
    ).cast("int")


def rebalance(
    df: DataFrame,
    n_shards: int,
    keys: list[str],
    dst_path: str | None = None,
    salt: int = 0,
    salt_cols: list[str] | None = None,
) -> DataFrame:
    """Re-scatter ``df`` across ``n_shards`` by hash of ``keys`` (C35).

    Returns the repartitioned frame; writes parquet when ``dst_path``
    given (one file per shard → even downstream splits).
    """
    # partition directly on the key columns: Spark's HashPartitioning IS
    # pmod(murmur3(keys), n) — exactly shard_id(). (Re-hashing a
    # precomputed shard id would compound two hashes — shard values
    # collide and some of the n output partitions come out empty.)
    # Salted: default the spread entropy to ALL columns (full row
    # content) — deterministic, and unlike keys-only it spreads hot keys.
    if salt > 1 and salt_cols is None:
        salt_cols = list(df.columns)
    out = df.repartition(n_shards, *_shard_cols(n_shards, keys, salt, salt_cols))
    if dst_path:
        out.write.mode("overwrite").parquet(dst_path)
    return out


def rebalance_by_range(
    df: DataFrame, n_shards: int, keys: list[str], dst_path: str | None = None
) -> DataFrame:
    """C38: range re-shard — sorted layout for range-pruned scans."""
    out = df.repartitionByRange(n_shards, *[F.col(k) for k in keys])
    if dst_path:
        out.write.mode("overwrite").parquet(dst_path)
    return out


def skew_report(df: DataFrame, n_shards: int, keys: list[str]) -> DataFrame:
    """C37: rows per prospective shard + balance stats, computed purely
    distributed (aggregate of an aggregate, no collect). shard_id is
    murmur3-based, so these counts describe the layout ``rebalance``
    actually writes."""
    per_shard = df.groupBy(shard_id(n_shards, *keys).alias("shard")).agg(
        F.count(F.lit(1)).alias("n_rows")
    )
    return per_shard.agg(
        F.count(F.lit(1)).alias("n_shards_used"),
        F.min("n_rows").alias("min_rows"),
        F.max("n_rows").alias("max_rows"),
        (F.max("n_rows") / F.avg("n_rows")).alias("skew_ratio"),
        F.sum("n_rows").alias("total_rows"),
    )


def compact_parquet(
    spark: SparkSession, src_path: str, dst_path: str, target_files: int
) -> DataFrame:
    """Small-file compaction — the maintenance twin of rebalance: merge a
    directory fragmented by many tiny writes into ``target_files`` files.
    Uses ``coalesce`` (a NARROW dependency: partitions concatenate with
    NO shuffle) because compaction only merges — when a new key layout is
    wanted too, that's ``rebalance()``'s shuffle. At 100 TB this is the
    difference between a free rewrite and a full-cluster exchange."""
    df = spark.read.parquet(src_path)
    out = df.coalesce(target_files)
    out.write.mode("overwrite").parquet(dst_path)
    return out

