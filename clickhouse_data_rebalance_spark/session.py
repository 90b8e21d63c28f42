"""SparkSession factory for local testing and bench runs.

The driver supplies its own session to ``__spark_entry__``; this factory is
for tests / bench only. Settings chosen for a single-JVM local[N] box but
scale-safe: AQE on (runtime re-plan, skew-join splitting, partition
coalescing), shuffle partitions ~= cores (not the 200 default), UTC session
timezone so timestamps compare cleanly against the tz-naive parquet
fixtures and the DuckDB oracle, Arrow enabled for the Pandas-UDF paths.
"""

from __future__ import annotations

import atexit
import logging
import os
import shutil
import tempfile
import weakref

from pyspark.sql import SparkSession

# SparkContexts (by applicationId) that already received the package zip;
# module-level so repeated tune_session calls stay one-zip-per-context.
# (sc.environment is meant for executor env vars — don't repurpose it.)
_shipped_app_ids: set[str] = set()
# sessions whose tune_session outcome has been logged (one line each)
_tuned_sessions: weakref.WeakSet = weakref.WeakSet()

log = logging.getLogger(__name__)


def get_spark(app_name: str = "clickhouse_data_rebalance_spark") -> SparkSession:
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(cpus))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.codegen.cache.maxEntries", "5000")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "48g"))
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.driver.extraJavaOptions", "-Djava.net.preferIPv4Stack=true")
    )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def ship_package(spark: SparkSession) -> None:
    """Ship this package's source to executors via ``addPyFile`` (the
    programmatic ``--py-files``).

    Module-level functions handed to applyInPandas / mapInPandas /
    applyInPandasWithState are cloudpickled BY REFERENCE: the worker
    re-imports ``clickhouse_data_rebalance_spark``, which only works if
    the repo happens to be on the worker's import path (driver cwd in
    local mode; not at all on a real cluster unless someone remembered
    ``--py-files``). Shipping the zip once per SparkContext makes the
    engine self-contained wherever the driver got the package from.
    """
    sc = spark.sparkContext
    if sc.applicationId in _shipped_app_ids:
        return
    pkg_dir = os.path.dirname(os.path.abspath(__file__))
    staging = tempfile.mkdtemp(prefix="cdr_pyfiles_")
    # Spark copies the zip into its own file server on addPyFile, but the
    # staging dir itself is ours to clean up (it used to leak one dir per
    # SparkContext for the life of /tmp).
    atexit.register(shutil.rmtree, staging, ignore_errors=True)
    zip_path = shutil.make_archive(
        os.path.join(staging, "clickhouse_data_rebalance_spark"),
        "zip",
        root_dir=os.path.dirname(pkg_dir),
        base_dir=os.path.basename(pkg_dir),
    )
    sc.addPyFile(zip_path)
    _shipped_app_ids.add(sc.applicationId)


def tune_session(spark: SparkSession) -> SparkSession:
    """Apply runtime-settable conf to an externally-supplied session.

    The driver hands us a session we didn't build; pin the confs that
    affect result correctness (timezone) and plan quality (AQE) that are
    runtime-mutable. Static confs (driver memory, master) are left alone.
    Every step is best effort; the first call on a session logs one line
    naming what was applied and what was skipped, and why.
    """
    applied, skipped, failed = [], [], []
    try:
        # r16: an externally-built session usually arrives with the 200
        # default — on the driver's small local[N] that is 200 near-empty
        # reduce tasks per exchange AND the width every explicit
        # repartition(shuffle_partitions(spark), ...) call inherits
        # (measured 6-10 s per pairwise cover query in the driver
        # simulation purely from the oversized width). Size it to the
        # session's actual parallelism — the same scale-adaptive rule
        # get_spark applies. Only the UNTOUCHED stock default (200) is
        # adjusted, and only downward to the core count — a width someone
        # deliberately configured (any non-200 value, or 200 on a
        # >=200-core cluster) is respected. r17 (ADVICE r16): gated on a
        # local[N] master — on a real cluster with dynamic allocation,
        # defaultParallelism can be tiny before executors register (e.g.
        # 2), and clobbering an externally-built session's width from 200
        # to ~2 for its lifetime is far worse than leaving the stock
        # default; local mode is the only place defaultParallelism is a
        # trustworthy proxy for the session's true width at tune time.
        sc = spark.sparkContext
        cores = max(sc.defaultParallelism, 1)
        width = spark.conf.get("spark.sql.shuffle.partitions")
        if not sc.master.startswith("local"):
            skipped.append(f"shuffle width ({sc.master} is not a local master)")
        elif width != "200" or cores >= 200:
            skipped.append(f"shuffle width (kept {width}, not the stock default)")
        else:
            spark.conf.set("spark.sql.shuffle.partitions", str(cores))
            applied.append(f"spark.sql.shuffle.partitions={cores}")
    except Exception as e:  # Connect session without sparkContext
        failed.append(f"shuffle width ({type(e).__name__}: {e})")
    for k, v in [
        ("spark.sql.session.timeZone", "UTC"),
        ("spark.sql.adaptive.enabled", "true"),
        ("spark.sql.adaptive.coalescePartitions.enabled", "true"),
        ("spark.sql.adaptive.skewJoin.enabled", "true"),
        # Harmless when events.ts is already timestamp[us] (current
        # fixtures); if a regeneration reverts to TIMESTAMP(NANOS), this
        # lets the read succeed as a long, which tables.normalize_events_ts
        # then converts to a µs TimestampType based on the loaded dtype.
        ("spark.sql.legacy.parquet.nanosAsLong", "true"),
    ]:
        try:
            spark.conf.set(k, v)
            applied.append(f"{k}={v}")
        except Exception as e:  # non-mutable in this session build
            failed.append(f"{k} ({type(e).__name__}: {e})")
    try:
        ship_package(spark)
        applied.append("package zip shipped")
    except Exception as e:  # e.g. Connect sessions without a SparkContext
        failed.append(f"package zip ({type(e).__name__}: {e})")
    if spark not in _tuned_sessions:
        _tuned_sessions.add(spark)
        # a swallowed exception is worth a WARNING; a skip by rule is not
        (log.warning if failed else log.info)(
            "tune_session applied: %s; skipped: %s",
            ", ".join(applied) or "nothing",
            "; ".join(skipped + failed) or "nothing",
        )
    return spark


def shuffle_partitions(spark: SparkSession) -> int:
    """The session's shuffle width as an explicit integer, for
    repartition() calls that must NOT be AQE-coalesced: a bare
    repartition(col) is marked coalescable and AQE folds a small probe
    side back to ~1 partition, serializing whatever fans out from it
    (measured 4x on the pairwise-cosine paths). An explicit count is
    respected by AQE and still tracks cluster size via conf instead of
    hardcoding local[32]'s shape."""
    try:
        return int(spark.conf.get("spark.sql.shuffle.partitions"))
    except (TypeError, ValueError):
        return spark.sparkContext.defaultParallelism
