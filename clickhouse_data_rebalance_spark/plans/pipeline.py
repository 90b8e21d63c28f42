"""The reference's end-to-end rebalance pipeline as one API.

`sharding_recreation.py:269-342` runs 8 phases: introspect DDL → rewrite
versioned DDL → create versioned locals → rename old aside → rename new
into place → create versioned dist router → INSERT-SELECT through the
router (the rebalance) → drop old. Net effect (SURVEY.md §3.1): the old
data ends up re-scattered by hash across the enlarged shard set while
readers keep the logical table name throughout.

Spark collapses the phases that exist only because ClickHouse separates
local/distributed tables and per-node DDL (ON CLUSTER fan-out, recreate-
originals-on-new-shards): the catalog is cluster-global and a table's
partitioning IS its shard layout. What remains semantically is:

    recover → stage → verify → swap → GC

The re-scattered copy is written to a versioned stage table while
readers keep seeing the old data under the logical name; it goes live
through `catalog.swap` (the reference's rename old aside → rename new
into place → drop old, sharding_recreation.py:306-335) only after its
row count matched the fan-in. Every catalog mutation goes through
`plans.catalog`.
"""

from __future__ import annotations

import re
from dataclasses import dataclass

from pyspark.sql import Observation, SparkSession, functions as F

from . import catalog as cat
from .rebalance import rebalance

# version token of the staged copy, ``{table}__v{_STAGE}``
_STAGE = "stage"


def _strip_scheme(path: str) -> str:
    """``file:/tmp/x`` / ``hdfs://nn/x`` → path part, for overlap checks."""
    return re.sub(r"^[a-z][a-z0-9+.-]*:(//[^/]*)?", "", path)


def _overlaps(a: str, b: str) -> bool:
    """Whether one directory equals or contains the other, compared by
    path component: ``…/t2`` is not inside ``…/t``."""
    pa, pb = ([c for c in _strip_scheme(p).split("/") if c] for p in (a, b))
    n = min(len(pa), len(pb))
    return pa[:n] == pb[:n]


def _delete_path(spark: SparkSession, path: str) -> None:
    """Recursively delete ``path`` through the Hadoop FileSystem API —
    works for any scheme the cluster can write (local, HDFS, s3a, …),
    unlike shutil."""
    hpath = spark._jvm.org.apache.hadoop.fs.Path(path)
    hpath.getFileSystem(spark._jsc.hadoopConfiguration()).delete(hpath, True)


def _location(spark: SparkSession, table_name: str) -> str:
    """The table's data location, picked from ``DESCRIBE FORMATTED``'s
    rows in Python: the command's result is local, so collecting it runs
    no Spark job (a DataFrame filter over it would run two)."""
    rows = spark.sql(f"DESCRIBE FORMATTED {table_name}").collect()
    return next(r["data_type"] for r in rows if r["col_name"] == "Location")


@dataclass
class RebalanceReport:
    """What the pipeline did — returned, not logged, so callers can gate."""

    table: str
    n_shards: int
    keys: list[str]
    rows_before: int
    rows_after: int
    old_table: str | None  # name of the kept __old table, None if dropped

    @property
    def content_preserved(self) -> bool:
        return self.rows_before == self.rows_after


def resize_and_rebalance(
    spark: SparkSession,
    table_name: str,
    n_shards: int,
    keys: list[str],
    location: str,
    keep_old: bool = False,
) -> RebalanceReport:
    """Re-scatter a catalog table across ``n_shards`` by ``keys`` while
    keeping its logical name readable — the whole reference pipeline.

    Phase map (reference → here):
      1-2  DDL introspection/rewrite → the schema rides the stage's CTAS
      3+7  versioned locals, INSERT  → stage: one CTAS of rebalance() into
           INTO ... SELECT *           ``{t}__v{_STAGE}`` at ``{location}/{t}``
      6    versioned dist router     → not needed: the scan of ``{t}`` IS
                                       the fan-in read
      4-5  rename old aside, new in  → ``catalog.swap``, only once the
                                       staged row count equals the fan-in's
      8    DROP old                  → inside ``swap`` unless keep_old

    Readers see the old data until the swap. The logical name does not
    resolve only between swap's two metadata-only renames (the reference
    has the same window). The next call's ``recover_swap`` repairs a
    driver that died there, and drops the stage or ``__old`` a dead
    driver left behind; a ``__old`` kept by ``keep_old`` lives until then.
    """
    # ValueError when neither the table nor a swap's side tables exist;
    # then drop what a dead driver left: an unverified stage, or the
    # __old of a verified swap that was not yet GC'd
    cat.recover_swap(spark, table_name, _STAGE)
    cat.drop_versions(spark, table_name, [_STAGE])
    cat.drop_versions(spark, table_name)
    target_loc = f"{location.rstrip('/')}/{table_name}"
    src_loc = _location(spark, table_name)
    if _overlaps(src_loc, target_loc):
        raise ValueError(
            f"target location {target_loc} overlaps {src_loc}, the current "
            f"data location of {table_name} — pass a `location` outside it "
            "(the pipeline clears the target before the fan-in reads)"
        )
    # a table created over a path adopts the files already there (e.g. a
    # crashed run's partial output) — clear it first
    _delete_path(spark, target_loc)
    # stage: fan-in scan, one hash shuffle, fan-out write (the reference's
    # INSERT-SELECT, sharding_recreation.py:159-160); rows_before rides the
    # fan-in as an Observation rather than a second pass over the table
    obs = Observation("rebalance_fanin")
    fan_in = spark.table(table_name).observe(obs, F.count(F.lit(1)).alias("n_rows"))
    stage = cat.versioned_name(table_name, _STAGE)
    rebalance(fan_in, n_shards, keys).write.option("path", target_loc).saveAsTable(stage)
    rows_before = int(obs.get["n_rows"])
    # verify what landed before any reader can see it
    rows_after = spark.table(stage).count()
    if rows_after != rows_before:
        cat.drop_versions(spark, table_name, [_STAGE])
        raise RuntimeError(
            f"{stage} landed {rows_after} rows but the fan-in read "
            f"{rows_before}; {table_name} is unchanged"
        )
    cat.swap(spark, table_name, _STAGE, keep_old=keep_old)
    old_kept = cat.old_name(table_name) if keep_old else None
    return RebalanceReport(
        table_name, n_shards, keys, rows_before, rows_after, old_kept
    )
