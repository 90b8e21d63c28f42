"""Custom connector via Spark 4's Python DataSource API (SURVEY.md §2
C1 extension: the "write your own source" surface).

The reference reads ClickHouse system tables over SSH
(sharding_recreation.py:275-298) — an external system Spark would reach
through a connector. This module demonstrates the Spark-4-native way to
build one in pure Python: a ``DataSource`` with partition planning (each
``InputPartition`` is an independent, deterministic slice — the
executor-parallel shape any external-system reader needs) and
``pushFilters`` support, so selective reads skip work INSIDE the source
instead of materializing everything and filtering after.

The generator is arithmetic on the row index (no RNG, no wall clock), so
a DuckDB ``range()`` twin states the exact expected content — the
connector is held to the same value-hash bar as every other operator.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..registry import query
from ..operators._util import dec_sum, sql_dec_sum
from ..session import tune_session

try:  # Spark >= 4.0
    from pyspark.sql.datasource import (
        DataSource,
        DataSourceReader,
        EqualTo,
        InputPartition,
    )

    _HAS_PY_DATASOURCE = True
except ImportError:  # pragma: no cover - older Spark
    _HAS_PY_DATASOURCE = False

N_ROWS = 50_000
N_PARTS = 8
KINDS = ["click", "view", "purchase", "error"]


def _row(i: int) -> tuple:
    """Deterministic row for index i — the single source of truth both
    the reader partitions and the DuckDB oracle derive from."""
    return (
        i,
        i % 30 + 1,
        KINDS[i % 4],
        float((i * 7919) % 100_000) / 100.0,
    )


if _HAS_PY_DATASOURCE:

    class _SlicePartition(InputPartition):
        def __init__(self, start: int, end: int):
            self.start = start
            self.end = end

    class SyntheticEventsReader(DataSourceReader):
        def __init__(self, options):
            self.n_rows = int(options.get("n_rows", N_ROWS))
            self.n_parts = int(options.get("n_parts", N_PARTS))
            self.day_eq: int | None = None

        def pushFilters(self, filters):
            """Accept ONE in-domain EqualTo('day', v): matching rows are
            generated directly (index stepping). Everything else —
            non-day filters, out-of-domain values (day is 1..30; a
            modulo would silently alias 31 -> 1), and any SECOND day
            equality (two different values must intersect to empty, not
            last-write-wins) — is reported back as unsupported so Spark
            keeps a post-filter for it."""
            unsupported = []
            for f in filters:
                if (
                    isinstance(f, EqualTo)
                    and f.attribute == ("day",)
                    and isinstance(f.value, int)
                    and 1 <= f.value <= 30
                    and self.day_eq is None
                ):
                    self.day_eq = f.value
                else:
                    unsupported.append(f)
            return unsupported

        def partitions(self):
            step = -(-self.n_rows // self.n_parts)
            return [
                _SlicePartition(lo, min(lo + step, self.n_rows))
                for lo in range(0, self.n_rows, step)
            ]

        def read(self, partition):
            lo, hi = partition.start, partition.end
            if self.day_eq is None:
                for i in range(lo, hi):
                    yield _row(i)
            else:
                # day = i % 30 + 1 — generate only matching indices
                first = lo + (self.day_eq - 1 - lo) % 30
                for i in range(first, hi, 30):
                    yield _row(i)

    class SyntheticEventsDataSource(DataSource):
        """`spark.read.format("synthetic_events")` — a pure-Python
        connector with partition planning + filter pushdown."""

        @classmethod
        def name(cls):
            return "synthetic_events"

        def schema(self):
            return "event_id bigint, day int, kind string, amount double"

        def reader(self, schema):
            return SyntheticEventsReader(self.options)


_registered_sessions: set[str] = set()


def register_synthetic_source(spark: SparkSession) -> None:
    if not _HAS_PY_DATASOURCE:  # pragma: no cover
        raise NotImplementedError(
            "Python DataSource API requires Spark >= 4.0"
        )
    # the reader classes are cloudpickled by reference — the planning
    # worker re-imports this package, so it must be shipped (a plain
    # driver session has no reason to have it on the worker path)
    tune_session(spark)
    key = spark.sparkContext.applicationId
    if key not in _registered_sessions:
        spark.dataSource.register(SyntheticEventsDataSource)
        # a reader implementing pushFilters() requires opting in
        spark.conf.set("spark.sql.python.filterPushdown.enabled", "true")
        _registered_sessions.add(key)


_PY_SOURCE_ORACLE = f"""
WITH gen AS (
  SELECT i AS event_id,
         CAST(i % 30 + 1 AS INT) AS day,
         (['click', 'view', 'purchase', 'error'])[(i % 4) + 1] AS kind,
         CAST((i * 7919) % 100000 AS DOUBLE) / 100.0 AS amount
  FROM range({N_ROWS}) t(i)
)
SELECT kind,
       CAST(COUNT(*) AS BIGINT) AS n_rows,
       {sql_dec_sum('amount')} AS total_amount,
       CAST(COUNT(DISTINCT day) AS BIGINT) AS n_days
FROM gen
GROUP BY kind
ORDER BY kind
"""


@query("source_python_datasource", _PY_SOURCE_ORACLE)
def source_python_datasource(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Read through the registered Python DataSource and aggregate —
    the connector's 8 partitions scan in parallel on executors, and the
    DuckDB twin regenerates the identical content from the same
    index arithmetic, so the source is value-hash-verified end to end.

    Scale posture: a production external-system connector keeps exactly
    this shape — partition planning drives executor parallelism (one
    connection/slice per InputPartition), pushFilters turns selective
    predicates into source-side work-skipping, and the returned iterator
    streams rows without materializing a partition in memory."""
    register_synthetic_source(spark)
    src = spark.read.format("synthetic_events").load()
    return (
        src.groupBy("kind")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_rows"),
            dec_sum("amount").alias("total_amount"),
            F.countDistinct("day").cast("bigint").alias("n_days"),
        )
        .orderBy("kind")
    )


# ---------------------------------------------------------------------------
# Streaming flavor: the same generator as a micro-batch SOURCE
# (SimpleDataSourceStreamReader) — offsets are row indices, each batch
# reads one chunk, and the checkpointed offset gives exactly-once replay.
# ---------------------------------------------------------------------------

N_STREAM = 20_000
STREAM_CHUNK = 4_000  # 5 micro-batches


def _make_stream_source():
    """Build the streaming source classes FUNCTION-LOCALLY: Spark plans a
    Python streaming source in a separate driver-side Python worker that
    does NOT see addPyFile zips (measured: module-level classes fail
    there with ModuleNotFoundError even after ship_package). Local
    classes are cloudpickled BY VALUE, so the planner needs no import —
    the same trick a user's notebook-defined source relies on."""
    from pyspark.sql.datasource import (
        DataSource as _DS,
        SimpleDataSourceStreamReader as _SR,
    )

    n_stream, chunk, kinds = N_STREAM, STREAM_CHUNK, tuple(KINDS)

    def row(i: int) -> tuple:
        return (i, i % 30 + 1, kinds[i % 4], float((i * 7919) % 100_000) / 100.0)

    class SyntheticEventsStreamReader(_SR):
        """Offset = next row index. read() returns one chunk and the
        next offset; the engine checkpoints offsets, so a restarted
        query resumes at the committed index — the exactly-once
        contract an external queue connector implements the same way."""

        def initialOffset(self):
            return {"i": 0}

        def read(self, start):
            i = int(start["i"])
            hi = min(i + chunk, n_stream)
            return iter([row(j) for j in range(i, hi)]), {"i": hi}

        def readBetweenOffsets(self, start, end):
            return iter([row(j) for j in range(int(start["i"]), int(end["i"]))])

    class SyntheticEventsStreamSource(_DS):
        @classmethod
        def name(cls):
            return "synthetic_events_stream"

        def schema(self):
            return "event_id bigint, day int, kind string, amount double"

        def simpleStreamReader(self, schema):
            return SyntheticEventsStreamReader()

    return SyntheticEventsStreamSource


def _drain_stream_to_memory(spark: SparkSession, name: str, n_rows: int):
    """Run the synthetic stream until all rows are ingested, then stop.

    availableNow snapshots only the FIRST chunk for a Simple stream
    reader (measured), so a finite drain uses a processingTime trigger
    and polls the sink count — harness plumbing; a production stream
    just keeps running."""
    import time as _time

    from ..streaming.stream_ops import _ckpt_dir

    df = spark.readStream.format("synthetic_events_stream").load()
    # _ckpt_dir (not a raw mkdtemp): PID-tagged, atexit-backstopped, and
    # reaped across dead processes — an exception or the 120 s deadline
    # mid-drain no longer leaks the dir (ADVICE r6)
    ckpt = _ckpt_dir("cdr_ckpt_pystream_")
    q = None
    try:
        q = (
            df.writeStream.format("memory")
            .queryName(name)
            .option("checkpointLocation", ckpt)
            .trigger(processingTime="0 seconds")
            .start()
        )
        deadline = _time.time() + 120
        while _time.time() < deadline:
            if spark.table(name).count() >= n_rows:
                break
            _time.sleep(0.2)
    finally:
        # stop BEFORE removing the checkpoint: an exception mid-poll
        # would otherwise leave the stream micro-batching against a
        # deleted checkpointLocation for the rest of the session
        import shutil as _shutil

        if q is not None:
            try:
                q.stop()
                q.awaitTermination(30)
            except Exception:  # noqa: BLE001 - best-effort teardown
                pass
        _shutil.rmtree(ckpt, ignore_errors=True)
    return spark.table(name)


_PY_STREAM_ORACLE = f"""
WITH gen AS (
  SELECT i AS event_id,
         CAST(i % 30 + 1 AS INT) AS day,
         (['click', 'view', 'purchase', 'error'])[(i % 4) + 1] AS kind,
         CAST((i * 7919) % 100000 AS DOUBLE) / 100.0 AS amount
  FROM range({N_STREAM}) t(i)
)
SELECT kind,
       CAST(COUNT(*) AS BIGINT) AS n_rows,
       {sql_dec_sum('amount')} AS total_amount
FROM gen
GROUP BY kind
ORDER BY kind
"""


@query("stream_python_datasource", _PY_STREAM_ORACLE)
def stream_python_datasource(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The custom connector as a STREAM: five micro-batches of the same
    deterministic generator flow through offset-checkpointed reads into
    a memory sink; the aggregate must equal the batch twin exactly —
    which also proves no chunk was dropped or double-read across the
    batch boundaries (exactly-once at the source-offset level).

    Scale posture: SimpleDataSourceStreamReader reads on the driver —
    right for control-plane-sized streams (the docs' own guidance); a
    high-throughput source implements DataSourceStreamReader with
    per-partition offsets instead. Offset bookkeeping is identical."""
    if not _HAS_PY_DATASOURCE:  # pragma: no cover
        raise NotImplementedError(
            "Python DataSource API requires Spark >= 4.0"
        )
    tune_session(spark)
    key = ("stream", spark.sparkContext.applicationId)
    if key not in _registered_sessions:
        spark.dataSource.register(_make_stream_source())
        _registered_sessions.add(key)
    out = _drain_stream_to_memory(
        spark, "stream_pysrc_out", N_STREAM
    )
    return (
        out.groupBy("kind")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_rows"),
            dec_sum("amount").alias("total_amount"),
        )
        .orderBy("kind")
    )


# ---------------------------------------------------------------------------
# Write side: a custom SINK through DataSourceWriter — per-task files,
# driver-side commit manifest (the two-phase protocol that makes partial
# task failures invisible to readers).
# ---------------------------------------------------------------------------


def _make_jsonl_sink():
    """Function-local for the same cloudpickle-by-value reason as
    :func:`_make_stream_source` — the write planner/committer run in
    Python workers that do not see addPyFile zips."""
    import json as _json
    import os as _os
    import uuid as _uuid

    from pyspark.sql.datasource import (
        DataSource as _DS,
        DataSourceWriter as _W,
        WriterCommitMessage as _Msg,
    )

    class _FileMsg(_Msg):
        def __init__(self, path: str, n: int):
            self.path = path
            self.n = n

    class JsonlWriter(_W):
        def __init__(self, options):
            self.path = options["path"]

        def write(self, rows):
            _os.makedirs(self.path, exist_ok=True)
            fname = _os.path.join(
                self.path, f"part-{_uuid.uuid4().hex}.jsonl"
            )
            n = 0
            with open(fname, "w") as f:
                for row in rows:
                    f.write(_json.dumps(row.asDict()) + "\n")
                    n += 1
            return _FileMsg(fname, n)

        def commit(self, messages):
            manifest = {
                "files": sorted(
                    [m.path, m.n] for m in messages if m is not None
                ),
            }
            with open(_os.path.join(self.path, "_MANIFEST.json"), "w") as f:
                _json.dump(manifest, f)

        def abort(self, messages):
            for m in messages:
                if m is not None and _os.path.exists(m.path):
                    _os.remove(m.path)

    class JsonlSinkSource(_DS):
        @classmethod
        def name(cls):
            return "jsonlines_sink"

        def writer(self, schema, overwrite):
            return JsonlWriter(self.options)

    return JsonlSinkSource


@query("sink_python_datasource", "SELECT * FROM nation ORDER BY n_nationkey")
def sink_python_datasource(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Round-trip through the custom Python SINK: nation is written via
    DataSourceWriter (one jsonl file per task + commit messages), the
    driver-side commit() publishes a manifest of exactly the committed
    files, and the read-back goes through the manifest — so a file from
    a failed/aborted task could never leak into the result. The oracle
    is simply the source table: any dropped, duplicated, or
    manifest-bypassing row breaks the value hash.

    Scale posture: this IS the two-phase commit shape object-store
    sinks use (task files + driver manifest = Iceberg/Delta's snapshot
    commit in miniature); write() streams the iterator, state per task
    is one open file handle."""
    import json

    from ..streaming.stream_ops import _ckpt_dir
    from ..tables import table as _table

    tune_session(spark)
    key = ("sink", spark.sparkContext.applicationId)
    if key not in _registered_sessions:
        spark.dataSource.register(_make_jsonl_sink())
        _registered_sessions.add(key)
    n = _table(spark, sf_dir, "nation")
    out_dir = _ckpt_dir("cdr_ckpt_jsonl_sink_")
    n.write.format("jsonlines_sink").option("path", out_dir).mode(
        "append"
    ).save()
    with open(f"{out_dir}/_MANIFEST.json") as f:
        manifest = json.load(f)
    files = [p for p, _ in manifest["files"]]
    assert sum(cnt for _, cnt in manifest["files"]) == n.count()
    return (
        spark.read.schema("n_nationkey int, n_name string, n_regionkey int")
        .json(files)
        .orderBy("n_nationkey")
    )
