"""The two closed-loop workloads: ``resize`` and ``curate``.

Each workload generates its inputs from the seed, sets itself up on a
Spark session, and then runs ops in seeded passes: warm-up passes first
(the first op of which is reported as the cold op), then the timed
window. Every op's output is checked; an op that raises or returns a
wrong result is a failed op.

The package, and pyspark with it, is imported inside the methods, so that
the import counts toward the run's set-up time.
"""

from __future__ import annotations

import hashlib
import os
import time
from dataclasses import dataclass, field

import duckdb
import pyarrow.parquet as pq

import fixtures
import host
import tracing

now = time.perf_counter


@dataclass
class Op:
    op_id: str
    kind: str
    latency_s: float
    ok: bool
    error: str = ""
    layers: dict[str, float] = field(default_factory=dict)
    cycle_s: float = float("nan")  # op start to the next op's start
    cpu_s: float = float("nan")  # process-tree CPU over the cycle
    steal_frac: float = float("nan")  # host steal share over the cycle


class Resize:
    """Online resize of a catalog copy of sf0.1 ``lineitem`` by
    ``l_orderkey``, each followed by one read of the logical name."""

    name = "resize"
    sf = 0.1
    tables = ("lineitem",)
    table = "bench_lineitem"
    shard_counts = (8, 12, 16)
    # latency falls steeply for three cycles after the cold op
    warmup_passes = 3
    min_passes = 3

    def __init__(self, fx_dir: str, work: str):
        self.spark = self.tracer = None
        self.fx_dir = fx_dir
        # two location roots used in turn: each resize clears its target
        # directory first, so disk holds at most two generations
        self.roots = [os.path.join(work, "resize", r) for r in ("a", "b")]
        self.k = 0
        src = os.path.join(fx_dir, "lineitem.parquet")
        self.truth = duckdb.sql(
            "SELECT count(*), sum(l_quantity), count(DISTINCT l_orderkey) "
            f"FROM '{src}'"
        ).fetchone()

    def setup(self) -> dict[str, float]:
        t0 = now()
        src = self.spark.read.parquet(os.path.join(self.fx_dir, "lineitem.parquet"))
        src.write.saveAsTable(self.table)
        return {"resize.seed_s": now() - t0}

    def first_pass(self, rng) -> list[int]:
        self.cycle = [int(n) for n in rng.permutation(self.shard_counts)]
        return list(self.cycle)

    def schedule(self, rng) -> list[int]:
        return list(self.cycle)

    def run(self, n_shards: int) -> Op:
        from pyspark.sql import functions as F

        from clickhouse_data_rebalance_spark.plans.pipeline import resize_and_rebalance

        spark, tr = self.spark, self.tracer
        op_id, self.k = f"op{self.k}", self.k + 1
        root = self.roots[self.k % 2]
        layers: dict[str, float] = {}
        t0 = now()
        with tr.group(op_id, "resize"):
            rep = resize_and_rebalance(spark, self.table, n_shards, ["l_orderkey"], root)
        lat = now() - t0
        live = os.path.join(root, self.table)
        files = [f for f in os.listdir(live) if f.startswith("part-") and f.endswith(".parquet")]
        live_bytes = sum(os.path.getsize(os.path.join(live, f)) for f in files)
        all_bytes = sum(_dir_bytes(r) for r in self.roots)
        layers["resize.space_amp"] = all_bytes / live_bytes
        layers["pipeline.resize_s"] = lat
        errors = []
        if not rep.content_preserved or rep.rows_after != self.truth[0]:
            errors.append(f"rows {rep.rows_before}->{rep.rows_after}, want {self.truth[0]}")
        if rep.old_table is not None:
            errors.append(f"old table {rep.old_table} kept")
        if len(files) != n_shards:
            errors.append(f"{len(files)} data files for {n_shards} shards")
        if tr.enabled:
            rows = _parquet_rows(live, files)
            layers["rebalance.files_per_shard"] = len(files) / n_shards
            layers["rebalance.skew_ratio"] = max(rows) * len(rows) / sum(rows)
            layers["pipeline.live_bytes"] = live_bytes
        t1 = now()
        with tr.group(op_id, "read"):
            df = spark.table(self.table).agg(
                F.count(F.lit(1)), F.sum("l_quantity"), F.countDistinct("l_orderkey")
            )
            got = tuple(df.collect()[0])
        layers["resize.read_s"] = now() - t1
        if tr.enabled:
            layers.update(_catalyst(df))
        if got != self.truth:
            errors.append(f"reader saw {got}, want {self.truth}")
        return Op(op_id, "resize", lat, not errors, "; ".join(errors), layers)


# the LLM-curation query with the heaviest driver-side build, and the
# dialect query with the heaviest build (it calls ch_dialect.translate)
CURATE_QUERIES = (
    "stream_dedup_events",
    "ch_dialect_with_fill",
)


class _Collected:
    """Rows already collected, shaped like the frame the oracle compare reads."""

    def __init__(self, columns, rows):
        self.columns, self._rows = columns, rows

    def collect(self):
        return self._rows


class Curate:
    """Driver-build-bound LLM-curation and ClickHouse-dialect queries at
    sf0.001. The first warm-up pass checks each query against its DuckDB oracle
    and records a hash of its rows; every later op must match that hash."""

    name = "curate"
    sf = 0.001
    tables = fixtures.TABLES
    queries = CURATE_QUERIES
    warmup_passes = 3
    min_passes = 5  # five samples of each query in the timed window

    def __init__(self, fx_dir: str, work: str):
        self.spark = self.tracer = None
        self.fx_dir = fx_dir
        self.k = 0
        self.hashes: dict[str, str] = {}

    def setup(self) -> dict[str, float]:
        from clickhouse_data_rebalance_spark import registry, tables

        t0 = now()
        registry.load_all()
        t1 = now()
        tables.load_tables(self.spark, self.fx_dir)
        return {"registry.load_all_s": t1 - t0, "tables.load_tables_s": now() - t1}

    def first_pass(self, rng) -> list[str]:
        return list(self.queries)

    def schedule(self, rng) -> list[str]:
        return [str(q) for q in rng.permutation(self.queries)]

    def run(self, q: str) -> Op:
        from clickhouse_data_rebalance_spark import registry

        tr = self.tracer
        op_id, self.k = f"op{self.k}", self.k + 1
        layers: dict[str, float] = {}
        t0 = now()
        with tr.group(op_id, "build"):
            df = registry.QUERIES[q](self.spark, self.fx_dir)
        build = now() - t0
        if tr.enabled:
            t1 = now()
            with tr.group(op_id, "noop"):
                df.write.format("noop").mode("overwrite").save()
            layers["noop_s"] = now() - t1
        t2 = now()
        with tr.group(op_id, "collect"):
            rows = df.collect()
        collect = now() - t2
        layers.update({"operators.build_s": build, "collect.wall_s": collect,
                       "collect.rows": len(rows)})
        if tr.enabled:
            layers.update(_catalyst(df))
        got = _rows_hash(df.columns, rows)
        want = self.hashes.get(q)
        if want is None:
            error = self._check_oracle(q, df.columns, rows)
            if not error:
                self.hashes[q] = got
        else:
            error = "" if got == want else f"row hash {got[:12]} != verified {want[:12]}"
        return Op(op_id, q, build + collect, not error, error, layers)

    def _check_oracle(self, q: str, columns, rows) -> str:
        from clickhouse_data_rebalance_spark import registry
        from tests.oracle_harness import compare, duck_connection

        con = duck_connection(self.fx_dir)
        try:
            compare(_Collected(columns, rows), con, registry.ORACLES[q])
        except AssertionError as e:
            return f"oracle mismatch: {str(e)[:300]}"
        finally:
            con.close()
        return ""


WORKLOADS = {w.name: w for w in (Resize, Curate)}


def _rows_hash(columns, rows) -> str:
    """Order-insensitive hash of a result, columns taken in name order,
    values normalized the way the oracle compare normalizes them."""
    from tests.oracle_harness import _norm, _sort_key

    idx = sorted(range(len(columns)), key=lambda i: columns[i])
    norm = sorted((tuple(_norm(r[i]) for i in idx) for r in rows), key=_sort_key)
    h = hashlib.sha256(repr(sorted(columns)).encode())
    h.update(repr(norm).encode())
    return h.hexdigest()


def _catalyst(df) -> dict[str, float]:
    return {f"catalyst.{k}_s": v for k, v in tracing.catalyst_phases(df).items()}


def _parquet_rows(live: str, files: list[str]) -> list[int]:
    return [pq.ParquetFile(os.path.join(live, f)).metadata.num_rows for f in files]


def _dir_bytes(path: str) -> int:
    return host.dir_bytes(path) if os.path.isdir(path) else 0
