"""Structured Streaming execution (SURVEY.md C51–C53): the same event
aggregations run as real streams — file-source replay of the events
parquet, watermarks for late data, streaming dedup, and the
MV-maintenance sink that closes the reference's B5 gap (the reference
punts MV refresh to a human, sharding_recreation.py:258-266, 337).

`stream_tumbling_equiv` is registered as a driver query: it runs the
stream synchronously (availableNow + complete output) and must
hash-match the *batch* SQL oracle — a strong batch≡stream check.
"""

from __future__ import annotations

import atexit
import glob
import os
import shutil
import tempfile
import time
from contextlib import contextmanager

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..registry import query
from ..session import shuffle_partitions
from ..tables import normalize_events_ts, raw_schema, table
from ..operators._util import dec_sum, sql_dec_sum


def _replay(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Replay fixture ``name`` as a file-source stream, one file per
    trigger, with the schema its file stores (``tables.raw_schema``: the
    batch loader's cached read of the same file, so building the source
    runs no Spark job)."""
    # the fixture is a single parquet FILE — stream from the directory with
    # a glob filter (the file source requires a directory basePath)
    return (
        spark.readStream.schema(raw_schema(spark, sf_dir, name))
        .option("maxFilesPerTrigger", 1)
        .option("pathGlobFilter", f"{name}.parquet")
        .parquet(sf_dir)
    )


def events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Replay the events table as a file-source stream.

    The stream schema is the batch loader's schema of the SAME file,
    cached per (session, sf_dir) and refreshed when the file changes, so
    whatever ts encoding the fixture carries (nanos-as-long or
    timestamp[us]) the stream sees the same raw dtype as batch, and the
    shared ``normalize_events_ts`` guard applies the same conversion.
    Hardcoding a DDL here silently mis-read regenerated fixtures (ts
    BIGINT read µs ints, div 1000 → 1970-era windows).

    ts is then cast to TIMESTAMP (LTZ): withWatermark rejects
    TIMESTAMP_NTZ event time. With the session timezone pinned to UTC the
    cast is value-preserving; outputs cast event-time columns back to NTZ
    (``_ntz``) so stream results stay dtype-identical with batch."""
    raw = _replay(spark, sf_dir, "events")
    return normalize_events_ts(raw).withColumn("ts", F.col("ts").cast("timestamp"))


def _ntz(col: str, alias: str) -> "F.Column":
    """Cast an event-time output back to TIMESTAMP_NTZ (identity under the
    UTC session tz) so stream results match the batch/oracle dtype."""
    return F.col(col).cast("timestamp_ntz").alias(alias)


@contextmanager
def _scoped_confs(spark: SparkSession, confs: dict[str, str]):
    """Set session confs for the body; restore each afterwards — unset
    again if it was unset — even when the body raises."""
    prev = {k: spark.conf.get(k, None) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        yield
    finally:
        for k, v in prev.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def _state_width(spark: SparkSession) -> dict[str, str]:
    """The stream-start value of ``spark.sql.shuffle.partitions``:
    ``min(8, session.shuffle_partitions(spark))``.

    Stateful operators pin their state-partition count from the shuffle
    setting at first checkpoint, and every micro-batch then opens and
    commits one state store per partition — pure overhead when the state
    is small (measured 3x on the fixture replays: 32 partitions -> 3.2 s,
    8 -> 1.1 s for the same dedup). These finite replays hold a few
    thousand keys, so 8 is the cap; a production job with GBs of state
    sizes this up the same way it sizes shuffle partitions. The width is
    also capped at the session's shuffle width, so a batch's state stores
    run in one task wave (on local[4], 8 stores took two waves and twice
    the addBatch time of 4).

    Safe: the width decides how state is partitioned, never what a
    stream emits, and a stream restarted from its checkpoint keeps the
    width recorded there. Scoped to the start, so batch plans are
    untouched.
    """
    return {"spark.sql.shuffle.partitions": str(min(8, shuffle_partitions(spark)))}


def _stream_state_partitions(spark: SparkSession):
    """Scope ``_state_width`` around a stream started outside
    ``_run_replay`` (a caller's own resumable stream)."""
    return _scoped_confs(spark, _state_width(spark))


# Analyzed-plan nodes that emit a row only for a new input row, so a
# micro-batch without input can only evict their state: stateless
# Project/Filter/StreamingRelation, EventTimeWatermark (moves the
# watermark), the dedups (emit a key's first row) and an inner Join
# (emits a match when its second side arrives). An append-mode Aggregate
# (emits closed windows), an outer Join (emits unmatched rows) and
# FlatMapGroups*WithState (fires timeouts) can emit without input.
_EVICT_ONLY_NODES = frozenset({
    "Project",
    "Filter",
    "StreamingRelation",
    "EventTimeWatermark",
    "Deduplicate",
    "DeduplicateWithinWatermark",
    "Join Inner",
})


def _plan_nodes(df: DataFrame) -> set[str]:
    """``nodeName()`` of every node in ``df``'s analyzed logical plan, a
    Join tagged with its join type (``"Join Inner"``)."""
    names: set[str] = set()
    todo = [df._jdf.queryExecution().analyzed()]  # noqa: SLF001
    while todo:
        node = todo.pop()
        name = node.nodeName()
        names.add(f"{name} {node.joinType()}" if name == "Join" else name)
        kids = node.children()
        todo.extend(kids.apply(i) for i in range(kids.size()))
    return names


_CKPT_BASE = "/dev/shm" if os.path.isdir("/dev/shm") else tempfile.gettempdir()


@atexit.register
def _remove_own_ckpts() -> None:
    """Remove every checkpoint dir this process created (the PID tag in
    the name says whose it is)."""
    own = f"cdr_ckpt_*__pid{os.getpid()}_*"
    for d in glob.glob(os.path.join(_CKPT_BASE, own)):
        shutil.rmtree(d, ignore_errors=True)


def _ckpt_dir(prefix: str) -> str:
    """Checkpoint staging dir for the synchronous replay harness, on
    tmpfs (/dev/shm) when there is one, since a micro-batch writes dozens
    of small state-store and log files. Nothing resumes from these dirs:
    a replay's sink is a memory table or files its caller reads straight
    away. A production stream checkpoints to durable shared storage
    (HDFS/S3) under Spark's default checkpoint manager.

    What a checkpoint costs here is a spawned process per file, not its
    bytes: pip pyspark ships no native-hadoop library, so Hadoop's local
    filesystem runs ``chmod`` for every file and directory it creates,
    and Spark's default FileContext-based checkpoint manager also runs
    ``readlink`` on every status check and rename (33–67 ms and 20 new
    pids per atomic file write on local[4] and /dev/shm; 8–13 ms and 4
    pids through ``_LOCAL_CKPT_MANAGER``, which ``_run_replay`` sets).

    Lifecycle: ``_run_replay`` removes the dir when its query ends or
    raises. Each dir embeds its creator's PID; ONE atexit hook per
    process, ``_remove_own_ckpts``, removes this process's remaining dirs
    (those a lazily read result lives in), and a sibling is reaped only
    when its owner is DEAD — age alone must never delete a checkpoint a
    live process still reads.
    """
    for stale in glob.glob(os.path.join(_CKPT_BASE, "cdr_ckpt_*__pid*_*")):
        try:
            pid = int(stale.rsplit("__pid", 1)[1].split("_", 1)[0])
            os.kill(pid, 0)  # raises if the owner is gone
        except (ValueError, IndexError):
            continue
        except ProcessLookupError:
            shutil.rmtree(stale, ignore_errors=True)
        except PermissionError:
            pass  # owner alive under another uid
    return tempfile.mkdtemp(prefix=f"{prefix}_pid{os.getpid()}_", dir=_CKPT_BASE)


# Spark's FileSystem-based checkpoint manager: an atomic write is a
# create plus a rename, which is atomic on the local filesystems
# ``_ckpt_dir`` uses. Spark's default, the FileContext-based manager,
# serves filesystems whose FileSystem rename is not atomic.
_LOCAL_CKPT_MANAGER = (
    "org.apache.spark.sql.execution.streaming.checkpointing."
    "FileSystemBasedCheckpointFileManager"
)


def _run_replay(
    df: DataFrame,
    name: str,
    output_mode: str = "append",
    *,
    batch_fn=None,
    until=None,
    keep_checkpoint: bool = False,
) -> str:
    """Run the streaming frame ``df`` to the end of its input on a fresh
    ``_ckpt_dir`` checkpoint and return the checkpoint path. Every stream
    the package starts goes through here.

    The sink is the memory table ``name``, or ``batch_fn`` through
    ``foreachBatch``. The trigger is ``availableNow``, awaited to
    termination. A source that ``availableNow`` cannot drain passes
    ``until``: the stream then runs on a ``processingTime`` trigger until
    ``until()`` holds (polled every 0.2 s, at most 120 s) and is stopped.

    The start runs under one conf scope:

    - State width (``_state_width``), so a batch's state stores run in
      one task wave.
    - No eviction-only no-data batch. After the last data batch of a
      watermarked stateful stream, Spark runs one input-less batch to
      advance the watermark. When every analyzed-plan node is in
      ``_EVICT_ONLY_NODES``, that batch only evicts state from a
      checkpoint deleted straight afterwards, so the start sets
      ``spark.sql.streaming.noDataMicroBatches.enabled=false``. Any other
      node (append-mode Aggregate, outer Join, FlatMapGroups*WithState,
      anything unknown) keeps Spark's default: its no-data batch can
      emit rows.
    - ``_LOCAL_CKPT_MANAGER``: 2 spawned processes per checkpoint file
      instead of 10 (see ``_ckpt_dir``). A caller's own stream keeps
      Spark's default.

    The confs are restored, the stream stopped and the checkpoint removed
    even when the stream raises. ``keep_checkpoint`` leaves the
    checkpoint for a caller that reads it afterwards (the exit hook
    removes it).
    """
    spark = df.sparkSession
    confs = {
        **_state_width(spark),
        "spark.sql.streaming.checkpointFileManagerClass": _LOCAL_CKPT_MANAGER,
    }
    if _plan_nodes(df) <= _EVICT_ONLY_NODES:
        confs["spark.sql.streaming.noDataMicroBatches.enabled"] = "false"
    ckpt = _ckpt_dir(f"cdr_ckpt_{name}_")
    writer = df.writeStream.outputMode(output_mode).option("checkpointLocation", ckpt)
    if batch_fn is None:
        writer = writer.format("memory").queryName(name)
    else:
        writer = writer.foreachBatch(batch_fn)
    q = None
    try:
        with _scoped_confs(spark, confs):
            if until is None:
                q = writer.trigger(availableNow=True).start()
                q.awaitTermination()
            else:
                q = writer.trigger(processingTime="0 seconds").start()
                deadline = time.monotonic() + 120
                while not until():
                    # awaitTermination raises the stream's own error
                    if q.awaitTermination(0.2) or time.monotonic() > deadline:
                        raise RuntimeError(f"replay {name} stopped before its input ran out")
    finally:
        # stop before the checkpoint goes: a stream left running would
        # micro-batch against a deleted checkpoint for the whole session
        if q is not None and q.isActive:
            q.stop()
        if not keep_checkpoint:
            shutil.rmtree(ckpt, ignore_errors=True)
    return ckpt


def run_to_memory(agg: DataFrame, name: str, output_mode: str) -> DataFrame:
    """Replay ``agg`` into the memory table ``name`` (``_run_replay``) and
    return that table."""
    _run_replay(agg, name, output_mode)
    return agg.sparkSession.table(name)


@query(
    "stream_tumbling_equiv",
    f"""
    SELECT time_bucket(INTERVAL '1 hour', ts) AS win_start,
           event_type,
           COUNT(*) AS n_events,
           {sql_dec_sum('value')} AS total_value
    FROM events
    GROUP BY 1, 2
    ORDER BY win_start, event_type
    """,
)
def stream_tumbling_equiv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C48/C53 as a real stream: tumbling agg over the replayed events,
    complete-mode memory sink; result must equal the batch oracle."""
    table(spark, sf_dir, "events")  # ensures session confs + package shipping
    agg = (
        events_stream(spark, sf_dir)
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n_events"), dec_sum("value").alias("total_value"))
    )
    out = run_to_memory(agg, "stream_tumbling_out", "complete")
    return out.select(
        _ntz("w.start", "win_start"), "event_type", "n_events", "total_value"
    ).orderBy("win_start", "event_type")


@query(
    "stream_watermark_counts",
    """
    SELECT time_bucket(INTERVAL '1 hour', ts) AS win_start,
           COUNT(*) AS n_events
    FROM events
    GROUP BY 1
    HAVING time_bucket(INTERVAL '1 hour', ts) + INTERVAL 1 HOUR
           <= (SELECT MAX(ts) - INTERVAL 10 MINUTE FROM events)
    ORDER BY win_start
    """,
)
def stream_watermark_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C51 as a driver query: watermarked tumbling counts, append mode.

    The emitted set IS deterministic for a single-file replay: all events
    arrive in one micro-batch, the final watermark lands at max(ts) - 10
    min, and append mode finalizes exactly the windows whose end is at or
    below it — which the batch SQL twin states directly. (A multi-batch
    replay with mid-stream watermark advances would not be SQL-stateable;
    this one is, so it gets the full oracle.)"""
    table(spark, sf_dir, "events")
    return watermarked_counts(spark, sf_dir).orderBy("win_start")


@query(
    "stream_dedup_events",
    """
    SELECT user_id, event_type, CAST(1 AS BIGINT) AS n_rows
    FROM (SELECT DISTINCT user_id, event_type FROM events)
    ORDER BY user_id, event_type
    """,
)
def stream_dedup_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C52 as a driver query: dropDuplicatesWithinWatermark over the
    replay. WHICH physical row survives per key is arrival-order
    dependent, but the aggregate contract is not: exactly one row per
    distinct (user_id, event_type) — stated by the SQL twin."""
    table(spark, sf_dir, "events")
    return (
        streaming_dedup(spark, sf_dir)
        .groupBy("user_id", "event_type")
        .agg(F.count(F.lit(1)).alias("n_rows"))
        .orderBy("user_id", "event_type")
    )


@query(
    "stream_mv_maintain",
    f"""
    SELECT time_bucket(INTERVAL '1 day', ts) AS day,
           event_type,
           COUNT(*) AS n_events
    FROM events GROUP BY 1, 2 ORDER BY day, event_type
    """,
)
def stream_mv_maintain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C53/B5 as a driver query: the streaming-maintained MV must equal
    the batch day-rollup — the strongest MV-parity check. The view lives
    in a fresh ``_ckpt_dir`` dir per call: the returned frame reads it
    lazily, so it stays until ``_remove_own_ckpts`` runs at exit."""
    table(spark, sf_dir, "events")
    out = mv_maintain(spark, sf_dir, os.path.join(_ckpt_dir("cdr_ckpt_mv_out_"), "mv"))
    return out.orderBy("day", "event_type")


def watermarked_counts(spark: SparkSession, sf_dir: str, delay: str = "10 minutes") -> DataFrame:
    """C51: watermark + tumbling agg in append mode — only windows below
    the final watermark are emitted; late rows beyond `delay` are dropped
    by the engine."""
    agg = (
        events_stream(spark, sf_dir)
        .withWatermark("ts", delay)
        .groupBy(F.window("ts", "1 hour").alias("w"))
        .agg(F.count(F.lit(1)).alias("n_events"))
    )
    return run_to_memory(agg, "stream_watermark_out", "append").select(
        _ntz("w.start", "win_start"), "n_events"
    )


def streaming_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C52: stateful dedup within the watermark horizon."""
    dedup = (
        events_stream(spark, sf_dir)
        .withWatermark("ts", "1 hour")
        .dropDuplicatesWithinWatermark(["user_id", "event_type"])
        .select("event_id", "user_id", "event_type")
    )
    return run_to_memory(dedup, "stream_dedup_out", "append")


def mv_maintain(spark: SparkSession, sf_dir: str, dst_path: str) -> DataFrame:
    """C53/B5: incremental MV maintenance — the streaming agg continuously
    folded into a queryable parquet table via foreachBatch (the Spark
    answer to ClickHouse materialized views, which the reference skips)."""
    agg = (
        events_stream(spark, sf_dir)
        .withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", "1 day").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(_ntz("w.start", "day"), "event_type", "n_events")
    )

    def _fold(batch_df: DataFrame, epoch_id: int) -> None:
        batch_df.write.mode("overwrite").parquet(dst_path)

    _run_replay(agg, "mv", "complete", batch_fn=_fold)
    return spark.read.parquet(dst_path)


@query(
    "stream_stream_join",
    """
    SELECT c.user_id, COUNT(*) AS n_pairs
    FROM (SELECT user_id, ts FROM events WHERE event_type = 'click') c
    JOIN (SELECT user_id, ts FROM events WHERE event_type = 'purchase') p
      ON c.user_id = p.user_id
     AND p.ts > c.ts AND p.ts <= c.ts + INTERVAL 1 HOUR
    GROUP BY c.user_id ORDER BY c.user_id
    """,
)
def stream_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream inner join (clicks × purchases within 1 h), the
    hardest Structured Streaming join shape: BOTH sides carry watermarks
    and the join has an event-time range constraint, which is what lets
    the engine bound its buffered state — without it, each side's state
    grows forever. Single-batch replay emits every matched pair, so the
    batch join SQL is the exact oracle; the joined pairs are then
    batch-aggregated per user."""
    table(spark, sf_dir, "events")
    c = (
        events_stream(spark, sf_dir)
        .filter(F.col("event_type") == "click")
        .select("user_id", F.col("ts").alias("c_ts"))
        .withWatermark("c_ts", "1 hour")
    )
    p = (
        events_stream(spark, sf_dir)
        .filter(F.col("event_type") == "purchase")
        .select(F.col("user_id").alias("p_user"), F.col("ts").alias("p_ts"))
        .withWatermark("p_ts", "1 hour")
    )
    joined = c.join(
        p,
        (F.col("user_id") == F.col("p_user"))
        & (F.col("p_ts") > F.col("c_ts"))
        & (F.col("p_ts") <= F.col("c_ts") + F.expr("INTERVAL 1 HOUR")),
    ).select("user_id", "c_ts", "p_ts")
    out = run_to_memory(joined, "stream_stream_join_out", "append")
    return (
        out.groupBy("user_id").agg(F.count(F.lit(1)).alias("n_pairs")).orderBy("user_id")
    )


def _stateful_user_counter(key, pdf_iter, state):
    """Custom stateful operator: running per-user event count + value sum
    carried in GroupState across micro-batches. The sum accumulates in
    exact integer 1e-4 units (the same quantization CAST(double AS
    DECIMAL(30,4)) performs), so the carried state is order-independent
    and the final float equals the decimal-sum SQL twin."""
    import numpy as np
    import pandas as pd

    n, num = state.get if state.exists else (0, 0)
    for pdf in pdf_iter:
        n += len(pdf)
        num += int(np.rint(pdf["value"].to_numpy() * 10000.0).astype(np.int64).sum())
    state.update((n, num))
    yield pd.DataFrame(
        {
            "user_id": [key[0]],
            "n_events": [n],
            "total_value": [float(num) / 10000.0],
        }
    )


@query(
    "stream_custom_state",
    f"""
    SELECT user_id, COUNT(*) AS n_events,
           {sql_dec_sum('value')} AS total_value
    FROM events GROUP BY user_id ORDER BY user_id
    """,
)
def stream_custom_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """applyInPandasWithState (SURVEY.md C-IV / custom stateful ops): a
    hand-rolled stateful aggregator — the escape hatch for operators
    Structured Streaming lacks natively. Emits one row per (user, batch)
    update; the LAST update per user equals the batch groupBy answer,
    which the SQL twin states directly (exact-integer state makes the
    float reproducible)."""
    table(spark, sf_dir, "events")  # session confs
    updates = (
        events_stream(spark, sf_dir)
        .groupBy("user_id")
        .applyInPandasWithState(
            _stateful_user_counter,
            outputStructType="user_id bigint, n_events bigint, total_value double",
            stateStructType="n bigint, num bigint",
            outputMode="update",
            timeoutConf="NoTimeout",
        )
    )
    out = run_to_memory(updates, "stream_custom_state_out", "update")
    # keep each user's final state: the max n_events row
    from pyspark.sql import Window as W

    w = W.partitionBy("user_id").orderBy(F.col("n_events").desc())
    return (
        out.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("user_id", "n_events", "total_value")
        .orderBy("user_id")
    )


_UPSERT_ORACLE = """
    SELECT user_id, event_type, ts AS latest_ts, value AS latest_value FROM (
      SELECT user_id, event_type, ts, value,
             ROW_NUMBER() OVER (PARTITION BY user_id, event_type
                                ORDER BY ts DESC, event_id DESC) AS rn
      FROM events) t
    WHERE rn = 1 ORDER BY user_id, event_type
"""


def _collapse_latest(df: DataFrame) -> DataFrame:
    """Latest row per (user_id, event_type), version order (ts, event_id) —
    the same collapse rule as operators.analytics_ext.upsert_latest_wins."""
    from pyspark.sql import Window as W

    w = W.partitionBy("user_id", "event_type").orderBy(
        F.col("ts").desc(), F.col("event_id").desc()
    )
    return (
        df.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .drop("rn")
    )


@query("stream_upsert_sink", _UPSERT_ORACLE)
def stream_upsert_sink(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming latest-wins upsert via foreachBatch — the exactly-once
    keyed-sink pattern: each micro-batch is collapsed to its newest row
    per key, merged with the current target state, re-collapsed, and
    written as a NEW target version (the sink never rewrites files it is
    reading; the pointer flips after the write lands). The merge is
    idempotent — replaying a batch reproduces the same target — which is
    what makes checkpoint-recovery exactly-once in effect.

    Final state must equal the BATCH ReplacingMergeTree collapse
    (`upsert_latest_wins`'s oracle, verbatim): a stream≡batch
    equivalence on a stateful sink, not just on an aggregation.

    Scale: target size is bounded by key cardinality, not event volume;
    each merge touches |batch keys| + |target| rows. A lakehouse table
    with MERGE INTO would replace the overwrite; the collapse rule and
    the equivalence contract are unchanged."""
    table(spark, sf_dir, "events")  # ensures session confs + package shipping
    # per-invocation state root; versioned subdirs (v{batch}) so a merge
    # never overwrites the files it is reading — the same new-version-
    # then-swap discipline as plans/catalog.py, and no managed-table
    # location that a dead session could leave behind to be adopted
    root = _ckpt_dir("cdr_ckpt_upsert_state_")
    state: dict[str, str] = {}

    def merge_batch(batch: DataFrame, batch_id: int) -> None:
        s = batch.sparkSession
        incoming = _collapse_latest(batch)
        if "path" in state:
            merged = _collapse_latest(
                s.read.parquet(state["path"]).unionByName(incoming)
            )
        else:
            merged = incoming
        new_path = os.path.join(root, f"v{batch_id}")
        merged.write.mode("overwrite").parquet(new_path)
        state["path"] = new_path

    _run_replay(events_stream(spark, sf_dir), "upsert", batch_fn=merge_batch)
    return (
        spark.read.parquet(state["path"])
        .select(
            "user_id",
            "event_type",
            _ntz("ts", "latest_ts"),
            F.col("value").alias("latest_value"),
        )
        .orderBy("user_id", "event_type")
    )


_SESSION_ORACLE = f"""
    WITH marked AS (
      SELECT user_id, ts, value,
             CASE WHEN lag(ts) OVER w IS NULL
                    OR ts - lag(ts) OVER w > INTERVAL '30 minutes'
                  THEN 1 ELSE 0 END AS new_session
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts)
    ), numbered AS (
      SELECT user_id, ts, value,
             SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts
                                    ROWS UNBOUNDED PRECEDING) AS session_id
      FROM marked
    )
    SELECT user_id,
           MIN(ts) AS session_start,
           MAX(ts) + INTERVAL '30 minutes' AS session_end,
           COUNT(*) AS n_events,
           {sql_dec_sum('value')} AS total_value
    FROM numbered
    GROUP BY user_id, session_id
    ORDER BY user_id, session_start
"""


@query("stream_session_equiv", _SESSION_ORACLE)
def stream_session_equiv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C50 as a real stream: session_window aggregation over the
    replayed events with complete-mode output — streaming session state
    (merging adjacent sessions as events arrive) must finalize to
    exactly the batch gaps-and-islands answer. Complements
    `stream_tumbling_equiv`: tumbling state is per fixed bucket, session
    state merges variable-width windows, the harder stateful path.

    Scale: streaming session state is per (user, open session); a
    watermark bounds it in a continuous deployment (complete mode +
    availableNow here because the replay is finite)."""
    table(spark, sf_dir, "events")  # ensures session confs + package shipping
    agg = (
        events_stream(spark, sf_dir)
        .groupBy(F.session_window("ts", "30 minutes").alias("w"), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"), dec_sum("value").alias("total_value"))
    )
    out = run_to_memory(agg, "stream_session_out", "complete")
    return out.select(
        "user_id",
        _ntz("w.start", "session_start"),
        _ntz("w.end", "session_end"),
        "n_events",
        "total_value",
    ).orderBy("user_id", "session_start")


@query(
    "stream_sliding_equiv",
    f"""
    WITH starts AS (
      SELECT unnest(generate_series(
               TIMESTAMP '2023-12-31 23:15:00',
               TIMESTAMP '2024-01-31 00:00:00',
               INTERVAL '15 minutes')) AS win_start
    )
    SELECT s.win_start,
           COUNT(*) AS n_events,
           {sql_dec_sum('e.value')} AS total_value
    FROM events e JOIN starts s
      ON e.ts >= s.win_start AND e.ts < s.win_start + INTERVAL '1 hour'
    GROUP BY s.win_start
    ORDER BY s.win_start
    """,
)
def stream_sliding_equiv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C49 as a real stream: 1-hour windows sliding every 15 min over
    the replayed events, complete-mode memory sink — each event lands in
    4 overlapping window states; the final table must equal the batch
    range-join oracle (the same one sliding_window_agg states).

    Scale: sliding state is 4× tumbling state but still bounded by
    (windows in watermark horizon) × groups, independent of stream
    length."""
    table(spark, sf_dir, "events")  # ensures session confs + package shipping
    agg = (
        events_stream(spark, sf_dir)
        .groupBy(F.window("ts", "1 hour", "15 minutes").alias("w"))
        .agg(F.count(F.lit(1)).alias("n_events"), dec_sum("value").alias("total_value"))
    )
    out = run_to_memory(agg, "stream_sliding_out", "complete")
    return out.select(
        _ntz("w.start", "win_start"), "n_events", "total_value"
    ).orderBy("win_start")


@query(
    "stream_static_enrich",
    f"""
    SELECT c_mktsegment,
           COUNT(*) AS n_events,
           {sql_dec_sum('value')} AS total_value
    FROM events e JOIN customer c ON e.user_id = c.c_custkey
    GROUP BY c_mktsegment ORDER BY c_mktsegment
    """,
)
def stream_static_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static join: the replayed event stream enriched against the
    static customer dimension (the lookup-table pattern — ClickHouse
    would use a dictionary or a JOIN to a small table), then aggregated
    per segment in complete mode.

    Scale: the static side broadcasts once per micro-batch planning
    cycle — no stream-side state for the join at all (unlike
    stream-stream joins, which buffer both sides); aggregate state is
    |segments| rows."""
    cust = table(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    agg = (
        events_stream(spark, sf_dir)
        .join(F.broadcast(cust), F.col("user_id") == F.col("c_custkey"))
        .groupBy("c_mktsegment")
        .agg(F.count(F.lit(1)).alias("n_events"), dec_sum("value").alias("total_value"))
    )
    out = run_to_memory(agg, "stream_static_out", "complete")
    return out.orderBy("c_mktsegment")


def _stateful_ema(key, pdf_iter, state):
    """Order-DEPENDENT custom stateful operator: per-user exponential
    moving average (alpha = 0.25) carried across micro-batches as
    (n, ema). Each batch's rows are sorted by (ts, event_id) before the
    fold, so with in-order batch arrival (true for this replay: the
    whole fixture is one file-source batch) the recurrence replays the
    exact batch fold — same IEEE ops in the same order, bit-identical
    to `exponential_moving_avg` and its DuckDB twin. The recurrence is
    inherently sequential per key (each step reads the previous
    accumulator), so the per-key loop is irreducible; it is bounded by
    the user's rows per batch inside an Arrow-batched grouped UDF."""
    import pandas as pd

    n, ema = state.get if state.exists else (0, 0.0)
    rows = pd.concat(list(pdf_iter))
    if len(rows):
        rows = rows.sort_values(["ts", "event_id"])
        for v in rows["value"].astype(float).tolist():
            ema = v if n == 0 else 0.25 * v + 0.75 * ema
            n += 1
        state.update((n, ema))
    yield pd.DataFrame({"user_id": [key[0]], "n_events": [n], "ema": [ema]})


@query(
    "stream_ema_state",
    """
    WITH s AS (
      SELECT user_id, list(value ORDER BY ts, event_id) AS vals
      FROM events GROUP BY user_id
    )
    SELECT user_id,
           CAST(len(vals) AS BIGINT) AS n_events,
           CAST(floor(list_reduce(vals, (acc, v) -> 0.25 * v + 0.75 * acc)
                      * 1073741824.0) AS BIGINT) AS ema_fp30
    FROM s ORDER BY user_id
    """,
)
def stream_ema_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming EMA via applyInPandasWithState — the O(1)-state online
    form `exponential_moving_avg` promises: state per user is two
    scalars (count + accumulator), not the event list the batch fold
    carries. Demonstrates an ORDER-DEPENDENT custom stateful operator
    (the counter in `stream_custom_state` is order-independent; an EMA
    is not), with the in-order-arrival requirement stated: out-of-order
    events need the source ordered per key (e.g. Kafka per-key
    partitions) or a watermark-delayed sort upstream. The final update
    per user must equal the batch/DuckDB fold exactly."""
    table(spark, sf_dir, "events")  # session confs
    updates = (
        events_stream(spark, sf_dir)
        .select("user_id", "ts", "event_id", "value")
        .groupBy("user_id")
        .applyInPandasWithState(
            _stateful_ema,
            outputStructType="user_id bigint, n_events bigint, ema double",
            stateStructType="n bigint, ema double",
            outputMode="update",
            timeoutConf="NoTimeout",
        )
    )
    out = run_to_memory(updates, "stream_ema_out", "update")
    from pyspark.sql import Window as W

    w = W.partitionBy("user_id").orderBy(F.col("n_events").desc())
    return (
        out.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "user_id",
            "n_events",
            F.floor(F.col("ema") * 1073741824.0).cast("bigint").alias("ema_fp30"),
        )
        .orderBy("user_id")
    )


@query(
    "stream_stream_left_join",
    """
    WITH c AS (
      SELECT user_id, ts FROM events
      WHERE event_type = 'click' AND ts <= TIMESTAMP '2024-01-28 00:00:00'
    ),
    p AS (SELECT user_id, ts FROM events WHERE event_type = 'purchase')
    SELECT c.user_id,
           CAST(COUNT(p.ts) AS BIGINT) AS n_matched,
           CAST(SUM(CASE WHEN p.ts IS NULL THEN 1 ELSE 0 END) AS BIGINT)
             AS n_unmatched_clicks
    FROM c LEFT JOIN p
      ON c.user_id = p.user_id
     AND p.ts > c.ts AND p.ts <= c.ts + INTERVAL 1 HOUR
    GROUP BY c.user_id ORDER BY c.user_id
    """,
)
def stream_stream_left_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream LEFT OUTER join — the state-EXPIRY shape: an
    unmatched click can only emit its null-padded row once the combined
    watermark proves no future purchase can still match (watermark >
    click_ts + join window), i.e. correctness depends on state eviction
    timing, not just matching. Clicks are pre-filtered (both engines) to
    at least 2 h (join window + watermark delay) before the fixture's
    max event time, the horizon the stream is GUARANTEED to have
    finalized by its last batch — rows after it would sit in state
    awaiting a watermark that never comes, which is exactly the
    documented always-running-job semantics, not a bug to paper over.

    Scale: both sides' buffered state is bounded by the 1 h range
    constraint + 1 h watermark delay per side; without the range bound
    the state grows without limit (the inner-join twin's docstring
    states the same — the outer form additionally ties EMISSION to
    eviction)."""
    table(spark, sf_dir, "events")
    c = (
        events_stream(spark, sf_dir)
        .filter(F.col("event_type") == "click")
        .select("user_id", F.col("ts").alias("c_ts"))
        # watermark BEFORE the horizon cut: the click watermark must keep
        # tracking the full stream's event time, or it stalls 1 h behind
        # the cutoff and the last ~2 h of unmatched clicks never flush
        .withWatermark("c_ts", "1 hour")
        .filter(F.col("c_ts") <= F.lit("2024-01-28 00:00:00").cast("timestamp"))
    )
    p = (
        events_stream(spark, sf_dir)
        .filter(F.col("event_type") == "purchase")
        .select(F.col("user_id").alias("p_user"), F.col("ts").alias("p_ts"))
        .withWatermark("p_ts", "1 hour")
    )
    joined = c.join(
        p,
        (F.col("user_id") == F.col("p_user"))
        & (F.col("p_ts") > F.col("c_ts"))
        & (F.col("p_ts") <= F.col("c_ts") + F.expr("INTERVAL 1 HOUR")),
        "left_outer",
    ).select("user_id", "c_ts", "p_ts")
    out = run_to_memory(joined, "stream_stream_left_join_out", "append")
    return (
        out.groupBy("user_id")
        .agg(
            F.count("p_ts").cast("bigint").alias("n_matched"),
            F.sum(F.when(F.col("p_ts").isNull(), 1).otherwise(0))
            .cast("bigint")
            .alias("n_unmatched_clicks"),
        )
        .orderBy("user_id")
    )


_SESS_GAP_US = 30 * 60 * 1_000_000  # 30-minute inactivity gap
_SESS_WM_US = 10 * 60 * 1_000_000  # watermark delay


def _stateful_sessionizer(key, pdf_iter, state):
    """Custom sessionizer over GroupState with EVENT-TIME TIMEOUT: closed
    sessions emit as soon as the in-batch gap closes them; each user's
    final open session is held in state with a timeout at end + gap and
    emits when the watermark passes it — the state-EVICTION emission
    path `stream_custom_state`/`stream_ema_state` (NoTimeout) never
    exercise. New session when ts - prev_ts > gap (strict, matching the
    oracle's island rule). All timestamps travel as epoch micros."""
    import pandas as pd

    if state.hasTimedOut:
        s, e, n = state.get
        state.remove()
        yield pd.DataFrame(
            {"user_id": [key[0]], "start_us": [s], "end_us": [e], "n_events": [n]}
        )
        return
    parts = [pdf for pdf in pdf_iter]
    ts = (
        pd.concat(parts)["ts_us"].sort_values().to_numpy()
        if parts
        else []
    )
    sessions = []
    if state.exists:
        cur = list(state.get)  # carried open session (s, e, n)
    else:
        cur = None
    for t in ts:
        t = int(t)
        if cur is None:
            cur = [t, t, 1]
        elif t - cur[1] > _SESS_GAP_US:
            sessions.append(cur)
            cur = [t, t, 1]
        else:
            cur[1] = t
            cur[2] += 1
    state.update(tuple(cur))
    state.setTimeoutTimestamp(cur[1] // 1000 + _SESS_GAP_US // 1000)
    if sessions:
        yield pd.DataFrame(
            {
                "user_id": [key[0]] * len(sessions),
                "start_us": [s[0] for s in sessions],
                "end_us": [s[1] for s in sessions],
                "n_events": [s[2] for s in sessions],
            }
        )


@query(
    "stream_session_timeout_state",
    """
    WITH marked AS (
      SELECT user_id, epoch_us(ts) AS ts_us,
             CASE WHEN epoch_us(ts) - LAG(epoch_us(ts)) OVER w > 1800000000
                  THEN 1 ELSE 0 END AS new_sess
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts)
    ),
    numbered AS (
      SELECT user_id, ts_us,
             SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts_us
                                 ROWS UNBOUNDED PRECEDING) AS sess_id
      FROM marked
    ),
    sessions AS (
      SELECT user_id, sess_id,
             MIN(ts_us) AS start_us, MAX(ts_us) AS end_us,
             CAST(COUNT(*) AS BIGINT) AS n_events,
             MAX(sess_id) OVER (PARTITION BY user_id) AS last_sess,
             (SELECT MAX(epoch_us(ts)) FROM events) AS max_us
      FROM numbered GROUP BY user_id, sess_id
    )
    SELECT user_id, start_us, end_us, n_events
    FROM sessions
    WHERE sess_id < last_sess
       OR end_us + 1800000000 < max_us - 600000000
    ORDER BY user_id, start_us
    """,
)
def stream_session_timeout_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sessionization as a CUSTOM stateful streaming operator
    (applyInPandasWithState + EventTimeTimeout): 30-min-gap sessions per
    user; closed sessions emit in-batch, and the final open session
    emits via the event-time TIMEOUT when the watermark (delay 10 min)
    passes its end + gap — probed and confirmed: availableNow runs the
    finalize batch and fires timeouts below the final watermark.

    The oracle states the same sessions via gaps-and-islands, keeping a
    user's LAST session only when the final watermark (max_ts - 10 min)
    passes its timeout (end + 30 min) — open sessions that the stream
    correctly still holds are excluded on both engines, so the compare
    verifies both the session math AND the eviction timing.

    Scale: state per user = one open session (3 ints); emission is
    bounded by eviction, so state never accumulates closed sessions;
    session_window (C50) is the declarative fast path — this is the
    custom-operator escape hatch for semantics session_window can't
    express (e.g. per-key dynamic gaps)."""
    table(spark, sf_dir, "events")  # session confs
    updates = (
        events_stream(spark, sf_dir)
        .withWatermark("ts", "10 minutes")
        .select("user_id", "ts", F.unix_micros("ts").alias("ts_us"))
        .groupBy("user_id")
        .applyInPandasWithState(
            _stateful_sessionizer,
            outputStructType=(
                "user_id bigint, start_us bigint, end_us bigint, n_events bigint"
            ),
            stateStructType="s bigint, e bigint, n bigint",
            outputMode="append",
            timeoutConf="EventTimeTimeout",
        )
    )
    out = run_to_memory(updates, "stream_sess_timeout_out", "append")
    return out.orderBy("user_id", "start_us")


@query(
    "statestore_introspection",
    """
    SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_events
    FROM events GROUP BY event_type ORDER BY event_type
    """,
)
def statestore_introspection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Read a streaming aggregation's STATE STORE back as a DataFrame
    (Spark 4 `statestore` source): run the per-type count as a stream,
    then load the checkpoint's state files and project (key, value) —
    the state must equal the batch GROUP BY exactly, which is the
    invariant an on-call engineer checks when a streaming job's output
    looks wrong ("is the state corrupt, or the sink?").

    The checkpoint is intentionally NOT deleted inline — the returned
    DataFrame reads it lazily; the atexit hook from _ckpt_dir reclaims
    it at process exit.

    Scale: the state source reads state files directly (one partition
    per state partition), no replay of the input stream — inspection
    cost is O(state), not O(history)."""
    table(spark, sf_dir, "events")
    agg = events_stream(spark, sf_dir).groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n")
    )
    ckpt = _run_replay(agg, "cdr_ssread_out", "complete", keep_checkpoint=True)
    st = spark.read.format("statestore").load(ckpt)
    value_field = st.schema["value"].dataType.names[0]
    return (
        st.select(
            F.col("key.event_type").alias("event_type"),
            F.col(f"value.{value_field}").cast("bigint").alias("n_events"),
        )
        .orderBy("event_type")
    )


@query(
    "stream_ohlc_equiv",
    f"""
    WITH per_ts AS (
      SELECT event_type, time_bucket(INTERVAL '1 hour', ts) AS win_start, ts,
             arg_min(value, event_id) AS open_rep,
             arg_max(value, event_id) AS close_rep,
             MIN(value) AS lo, MAX(value) AS hi,
             COUNT(*) AS n, {sql_dec_sum('value')} AS vol
      FROM events
      GROUP BY 1, 2, 3)
    SELECT event_type, win_start,
           arg_min(open_rep, ts) AS open,
           MAX(hi) AS high,
           MIN(lo) AS low,
           arg_max(close_rep, ts) AS close,
           CAST(SUM(n) AS BIGINT) AS n_events,
           {sql_dec_sum('vol')} AS volume
    FROM per_ts
    GROUP BY event_type, win_start
    ORDER BY event_type, win_start
    """,
)
def stream_ohlc_equiv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The batch `ohlc_bars` operator as a real stream: hourly
    candlesticks maintained by a streaming aggregate, complete-mode
    memory sink, equal to the batch oracle. The struct-ordered
    min_by/max_by are declarative aggregates, so Structured Streaming
    maintains open/close incrementally in the state store — each bar's
    state is ONE (value, (ts, event_id)) pair per endpoint, updated per
    micro-batch, never a buffered window of events.

    Scale posture: state size = live bars x event types (calendar-
    bounded, not volume-bounded); in production the tumbling window
    plus a watermark ages bars out of state as event time passes them
    (see stream_watermark_counts for the emission contract)."""
    table(spark, sf_dir, "events")  # ensures session confs + package shipping
    key = F.struct(F.col("ts"), F.col("event_id"))
    agg = (
        events_stream(spark, sf_dir)
        .groupBy("event_type", F.window("ts", "1 hour").alias("w"))
        .agg(
            F.min_by("value", key).alias("open"),
            F.max("value").alias("high"),
            F.min("value").alias("low"),
            F.max_by("value", key).alias("close"),
            F.count(F.lit(1)).cast("bigint").alias("n_events"),
            dec_sum("value").alias("volume"),
        )
    )
    out = run_to_memory(agg, "stream_ohlc_out", "complete")
    return out.select(
        "event_type",
        _ntz("w.start", "win_start"),
        "open",
        "high",
        "low",
        "close",
        "n_events",
        "volume",
    ).orderBy("event_type", "win_start")


def _ivf_admit_stream_oracle() -> str:
    from ..operators.llm_similarity import _ivf_admit_oracle

    return _ivf_admit_oracle()


@query("stream_index_admit", _ivf_admit_stream_oracle())
def stream_index_admit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming IVF index admission: the arriving embedding stream's
    admit subset (vec_id % ADMIT_MOD == ADMIT_REM, re-keyed) is appended
    into the cell layout per MICRO-BATCH via foreachBatch
    — the always-on form of the `ivf_index_admit` daily job. The
    quantizer stays frozen (broadcast seed matrix closed over by the
    batch function); each micro-batch write touches only its own cells.

    Must hash-match `ivf_index_admit`'s ORACLE verbatim: a stream≡batch
    equivalence on a stateful INDEX sink — final physical layout counts
    equal the batch-derived base+batch arithmetic no matter how the
    stream was micro-batched. Each micro-batch appends into a delta
    layout beside the seed index; the accounting reads seed ∪ delta.

    Scale: per-batch cost is batch-sized (assign matmul + append);
    index size never enters. Checkpointing makes replays idempotent-ish
    at the accounting level only if batches are exactly-once — a
    production sink would stage per-batch files and commit via manifest
    (same discipline as stream_upsert_sink's version flip)."""
    from ..operators.llm_similarity import (
        _admit_cell_accounting,
        _ivf_index_for,
        admit_batch_into_index,
        admit_id_offset,
        pinned_index_frame,
    )

    seed = pinned_index_frame(spark, _ivf_index_for(spark, sf_dir))
    offset = admit_id_offset(spark, sf_dir)
    delta = os.path.join(_ckpt_dir("cdr_ckpt_admit_delta_"), "idx")

    def admit(batch: DataFrame, batch_id: int) -> None:
        admit_batch_into_index(spark, sf_dir, delta, batch)

    _run_replay(_replay(spark, sf_dir, "embeddings"), "admit", batch_fn=admit)

    # shared accounting (llm_similarity._admit_cell_accounting): the
    # stream and batch paths report through ONE copy of the arithmetic,
    # so the common oracle can never drift against a silent fork
    return _admit_cell_accounting(seed.unionByName(spark.read.parquet(delta)), offset)


def _gopher_stream_oracle() -> str:
    from ..operators.llm_text import _GOPHER_ORACLE

    return _GOPHER_ORACLE


@query("stream_quality_gate", _gopher_stream_oracle())
def stream_quality_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The Gopher quality gate as a STREAM: the documents file replays
    through the file source and each micro-batch's per-rule verdicts
    append to a result sink — the always-on admission screen in front
    of a streaming ingest (the rowwise gate needs no state, watermark,
    or shuffle, so it runs at stream map speed).

    Must hash-match `gopher_rules_filter`'s batch oracle VERBATIM —
    a third stream≡batch equivalence family (aggregations, index sink,
    and now a pure row gate) over a third fixture table."""
    from ..operators.llm_text import gopher_rules_filter

    stream = _replay(spark, sf_dir, "documents")
    sink = os.path.join(_ckpt_dir("cdr_ckpt_gate_out_"), "verdicts")

    # reuse the BATCH operator's expression tree per micro-batch
    # (llm_text.gopher_verdicts — ONE copy of the rules): the
    # equivalence is then definitional for the projection, and the test
    # is really about the stream plumbing (schema replay, sink append)
    def gate(batch: DataFrame, batch_id: int) -> None:
        from ..operators.llm_text import gopher_verdicts

        gopher_verdicts(batch).write.mode("append").parquet(sink)

    _run_replay(stream, "gate", batch_fn=gate)
    return spark.read.parquet(sink).orderBy("doc_id")
