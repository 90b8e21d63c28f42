"""`resize_and_rebalance` under faults: the location guard, the row gate
that must hold before readers see the new table, and a driver that dies
at each phase boundary and is rerun with the same arguments.
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F
from pyspark.sql.readwriter import DataFrameWriter

from clickhouse_data_rebalance_spark.plans import catalog as cat
from clickhouse_data_rebalance_spark.plans import pipeline
from clickhouse_data_rebalance_spark.plans.pipeline import resize_and_rebalance

N_ROWS = 1000
N_SHARDS = 4
# (count, sum(v), count(DISTINCT g)) of the seed below
TRUTH = (N_ROWS, 2 * sum(range(N_ROWS)), 37)


class _DriverDeath(BaseException):
    """Stands in for a killed driver: no ``except Exception`` path runs."""


def _seed(spark, name, path):
    for t in spark.catalog.listTables():
        if t.name == name or t.name.startswith(f"{name}__"):
            spark.sql(f"DROP TABLE {t.name}")
    spark.range(N_ROWS).select(
        F.col("id").alias("k"), (F.col("id") * 2).alias("v"), (F.col("id") % 37).alias("g")
    ).write.option("path", str(path)).saveAsTable(name)


def _content(spark, name):
    row = spark.table(name).agg(F.count(F.lit(1)), F.sum("v"), F.countDistinct("g"))
    return tuple(row.collect()[0])


def _side_tables(spark, name):
    return [t.name for t in spark.catalog.listTables() if t.name.startswith(f"{name}__")]


@pytest.mark.parametrize(
    "seed_at, location, refused",
    [
        ("{tmp}/pipe_n/seed", "{tmp}", True),
        ("{tmp}/src", "{tmp}/src", True),
        # the target {tmp}/pipe_n shares a prefix with {tmp}/pipe_n2, not a directory
        ("{tmp}/pipe_n2", "{tmp}", False),
    ],
    ids=["source_inside_target", "target_inside_source", "sibling_shared_prefix"],
)
def test_location_guard(spark, tmp_path, seed_at, location, refused):
    _seed(spark, "pipe_n", seed_at.format(tmp=tmp_path))
    args = (spark, "pipe_n", N_SHARDS, ["k"], location.format(tmp=tmp_path))
    if refused:
        with pytest.raises(ValueError, match="overlaps"):
            resize_and_rebalance(*args)
    else:
        assert resize_and_rebalance(*args).content_preserved
    assert _content(spark, "pipe_n") == TRUTH
    assert _side_tables(spark, "pipe_n") == []
    spark.sql("DROP TABLE pipe_n")


def test_row_gate_refuses_before_swap(spark, tmp_path, monkeypatch):
    _seed(spark, "pipe_g", tmp_path / "seed")
    real = pipeline.rebalance
    monkeypatch.setattr(
        pipeline, "rebalance", lambda df, n, keys: real(df.filter(F.col("k") % 10 != 0), n, keys)
    )
    with pytest.raises(RuntimeError, match="900 rows"):
        resize_and_rebalance(spark, "pipe_g", N_SHARDS, ["k"], str(tmp_path))
    assert _content(spark, "pipe_g") == TRUTH
    assert _side_tables(spark, "pipe_g") == []
    monkeypatch.undo()
    rep = resize_and_rebalance(spark, "pipe_g", N_SHARDS, ["k"], str(tmp_path))
    assert rep.rows_before == rep.rows_after == N_ROWS
    assert _content(spark, "pipe_g") == TRUTH
    spark.sql("DROP TABLE pipe_g")


CRASH_POINTS = ["staged_write", "before_swap", "between_renames", "before_gc"]


@pytest.mark.parametrize("point", CRASH_POINTS)
def test_crash_at_phase_boundary_recovers_on_rerun(spark, tmp_path, monkeypatch, point):
    name = f"pipe_c_{point}"
    stage = cat.versioned_name(name, pipeline._STAGE)
    target = tmp_path / name
    _seed(spark, name, tmp_path / "seed")

    def die_on(sql_prefix):
        real_sql = spark.sql

        def sql(query, *a, **kw):
            if query.startswith(sql_prefix):
                raise _DriverDeath(query)
            return real_sql(query, *a, **kw)

        monkeypatch.setattr(spark, "sql", sql)

    if point == "staged_write":
        # part of the output lands, then the driver dies before the
        # table is created in the catalog
        def save(writer, *a, **kw):
            spark.table(name).limit(100).write.parquet(str(target))
            raise _DriverDeath("staged write")

        monkeypatch.setattr(DataFrameWriter, "saveAsTable", save)
    elif point == "before_swap":
        def swap(*a, **kw):
            raise _DriverDeath("before swap")

        monkeypatch.setattr(cat, "swap", swap)
    elif point == "between_renames":
        die_on(f"ALTER TABLE {stage} RENAME")
    else:
        die_on(f"DROP TABLE {cat.old_name(name)}")

    with pytest.raises(_DriverDeath):
        resize_and_rebalance(spark, name, N_SHARDS, ["k"], str(tmp_path))
    monkeypatch.undo()

    if point in ("staged_write", "before_swap"):
        assert _content(spark, name) == TRUTH  # readers never left the old table
        rep = resize_and_rebalance(spark, name, N_SHARDS, ["k"], str(tmp_path))
        assert rep.rows_before == rep.rows_after == N_ROWS and rep.old_table is None
    else:
        # the crashed run's verified table is already live at the target:
        # the rerun completes its swap and GC, then refuses to clear the
        # directory it would read from
        with pytest.raises(ValueError, match="overlaps"):
            resize_and_rebalance(spark, name, N_SHARDS, ["k"], str(tmp_path))

    assert _content(spark, name) == TRUTH
    files = [f for f in os.listdir(target) if f.startswith("part-") and f.endswith(".parquet")]
    assert len(files) == N_SHARDS
    assert _side_tables(spark, name) == []
    spark.sql(f"DROP TABLE {name}")


def test_location_lookup_runs_no_spark_job(spark, tmp_path):
    """The source location comes from DESCRIBE FORMATTED's local rows:
    the lookup launches no Spark job and names the seeded directory."""
    from .conftest import new_job_ids

    _seed(spark, "pipe_loc", tmp_path / "seed")
    found = []
    assert new_job_ids(spark, lambda: found.append(pipeline._location(spark, "pipe_loc"))) == []
    assert found[0].rstrip("/").endswith(str(tmp_path / "seed"))
    spark.sql("DROP TABLE pipe_loc")
