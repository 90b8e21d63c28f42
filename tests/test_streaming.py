"""Streaming tests (SURVEY.md C51–C53): batch≡stream equivalence,
watermark late-data handling, stateful dedup, MV-maintenance sink.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from clickhouse_data_rebalance_spark import registry
from clickhouse_data_rebalance_spark.streaming.stream_ops import (
    mv_maintain,
    streaming_dedup,
    watermarked_counts,
)
from clickhouse_data_rebalance_spark.tables import normalize_events_ts

from .conftest import SF_SMALL

registry.load_all()


def test_stream_tumbling_equals_batch(spark):
    stream = registry.QUERIES["stream_tumbling_equiv"](spark, SF_SMALL).collect()
    batch = registry.QUERIES["tumbling_window_agg"](spark, SF_SMALL).collect()
    assert sorted(map(tuple, stream)) == sorted(map(tuple, batch))


def test_watermark_emits_closed_windows(spark):
    out = watermarked_counts(spark, SF_SMALL)
    rows = out.collect()
    # append mode emits only windows the watermark closed; the final window
    # (and possibly a tail within the 10-min delay) is withheld
    batch_windows = (
        registry.QUERIES["tumbling_window_agg"](spark, SF_SMALL)
        .select("win_start")
        .distinct()
        .count()
    )
    assert 0 < len(rows) < batch_windows + 1
    emitted = {r["win_start"] for r in rows}
    assert len(emitted) == len(rows)  # each window once


def test_streaming_dedup_no_duplicate_pairs(spark):
    out = streaming_dedup(spark, SF_SMALL)
    dup = (
        out.groupBy("user_id", "event_type")
        .count()
        .filter(F.col("count") > 1)
        .count()
    )
    assert dup == 0
    assert out.count() > 0


def test_mv_maintain_matches_batch(spark, tmp_path):
    mv = mv_maintain(spark, SF_SMALL, str(tmp_path / "mv")).collect()
    events = normalize_events_ts(spark.read.parquet(f"{SF_SMALL}/events.parquet"))
    batch = (
        events.groupBy(F.window("ts", "1 day").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(F.col("w.start").alias("day"), "event_type", "n_events")
        .collect()
    )
    assert sorted(map(tuple, mv)) == sorted(map(tuple, batch))


def test_custom_state_final_equals_batch(spark):
    """applyInPandasWithState: the last emitted state per user must equal
    the batch groupBy over the same replayed input."""
    out = registry.QUERIES["stream_custom_state"](spark, SF_SMALL).collect()
    batch = {
        r["user_id"]: (r["n"], r["t"])
        for r in spark.table("events")
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("value").alias("t"))
        .collect()
    }
    assert len(out) == len(batch)
    for r in out:
        n, t = batch[r["user_id"]]
        assert r["n_events"] == n
        assert abs(r["total_value"] - t) < 1e-6 * max(1.0, abs(t))


def test_checkpoint_resume_is_exactly_once(spark, tmp_path):
    """Restart semantics: a stream stopped after processing file 1 and
    restarted FROM THE SAME CHECKPOINT after file 2 arrives must process
    only file 2 — the sink ends with every input row exactly once, no
    re-emission of file 1. This is the durability contract the
    fresh-checkpoint replay queries deliberately don't exercise."""
    src = tmp_path / "src"
    sink = tmp_path / "sink"
    ckpt = tmp_path / "ckpt"
    src.mkdir()

    events = normalize_events_ts(
        spark.read.parquet(f"{SF_SMALL}/events.parquet")
    ).select("event_id", "user_id", "value")
    first = events.limit(100).toPandas()
    first.to_parquet(str(src / "f1.parquet"))

    schema = spark.read.parquet(str(src / "f1.parquet")).schema

    def run_once() -> None:
        q = (
            spark.readStream.schema(schema)
            .parquet(str(src))
            .writeStream.format("parquet")
            .option("path", str(sink))
            .option("checkpointLocation", str(ckpt))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    run_once()
    assert spark.read.parquet(str(sink)).count() == 100

    # second file lands; SAME checkpoint — only the delta is processed
    second = events.limit(150).toPandas().iloc[100:]
    second.to_parquet(str(src / "f2.parquet"))
    run_once()

    out = spark.read.parquet(str(sink))
    assert out.count() == 150, "restart must process exactly the new file"
    # every event exactly once (no re-emission of f1 under the restart)
    assert out.select("event_id").distinct().count() == 150


def test_watermark_drops_late_rows_across_batches(spark, tmp_path):
    """Multi-batch watermark semantics, not just the single-file replay:
    run 1 carries on-time rows through 12:00, so the watermark advances
    to 11:50 and append mode finalizes exactly the 10:00 window (n=3).
    Run 2 (same checkpoint) carries one row at 10:05 — 105 minutes late,
    beyond the 10-minute delay, into that already-finalized window. The
    late row must be silently DROPPED: nothing new is emitted and the
    10:00 count is never corrected."""
    import pandas as pd

    src = tmp_path / "wm_src"
    sink = tmp_path / "wm_sink"
    src.mkdir()

    def write_batch(name, rows):
        pdf = pd.DataFrame(
            {"ts": pd.to_datetime(rows), "user_id": range(len(rows))}
        )
        # µs precision: pandas defaults to ns, which Spark's vectorized
        # parquet reader rejects (TIMESTAMP(NANOS)) without the legacy conf
        pdf["ts"] = pdf["ts"].astype("datetime64[us]")
        pdf.to_parquet(str(src / name))

    # on-time: three rows in the 10:00 window, two in 11:00, one at 12:00
    write_batch("b1.parquet", [
        "2024-01-01 10:01", "2024-01-01 10:02", "2024-01-01 10:03",
        "2024-01-01 11:01", "2024-01-01 11:02",
        "2024-01-01 12:00",
    ])
    schema = spark.read.parquet(str(src / "b1.parquet")).schema
    from clickhouse_data_rebalance_spark.streaming.stream_ops import (
        _ckpt_dir,
        _stream_state_partitions,
    )

    ckpt = _ckpt_dir("cdr_ckpt_wm_late_")

    def run():
        # parquet sink: append-mode, checkpoint-recoverable (memory sinks
        # are not) — each run appends only newly-finalized windows
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(str(src))
            .withColumn("ts", F.col("ts").cast("timestamp"))
            .withWatermark("ts", "10 minutes")
            .groupBy(F.window("ts", "1 hour").alias("w"))
            .agg(F.count(F.lit(1)).alias("n"))
            .select(F.col("w.start").alias("win_start"), "n")
        )
        with _stream_state_partitions(spark):
            q = (
                stream.writeStream.outputMode("append")
                .format("parquet")
                .option("path", str(sink))
                .option("checkpointLocation", ckpt)
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination()
        return {
            r["win_start"].strftime("%H"): r["n"]
            for r in spark.read.parquet(str(sink)).collect()
        }

    first = run()
    # watermark 11:50 -> exactly the 10:00 window finalized, on-time count
    assert first == {"10": 3}, f"unexpected finalized windows: {first}"

    # a row 105 min late into the closed 10:00 window; same checkpoint
    write_batch("b2.parquet", ["2024-01-01 10:05"])
    second = run()
    # dropped: no re-emission, no correction, nothing new finalized
    assert second == {"10": 3}, f"late row leaked: {second}"


def test_ckpt_reaper_is_ownership_aware(spark):
    """The checkpoint reaper must remove dirs whose creator PID is dead
    and must NEVER touch a live owner's dir (review finding: age-based
    reaping could delete checkpoints a >1 h session still reads)."""
    import os

    from clickhouse_data_rebalance_spark.streaming.stream_ops import _ckpt_dir

    base = "/dev/shm" if os.path.isdir("/dev/shm") else None
    import tempfile

    dead = tempfile.mkdtemp(prefix="cdr_ckpt_probe__pid999999_", dir=base)
    live = tempfile.mkdtemp(
        prefix=f"cdr_ckpt_probe__pid{os.getpid()}_", dir=base
    )
    unowned = tempfile.mkdtemp(prefix="cdr_ckpt_probe_noownertag_", dir=base)
    try:
        mine = _ckpt_dir("cdr_ckpt_probe_")  # triggers the reaper
        assert not os.path.exists(dead), "dead-owner dir must be reaped"
        assert os.path.exists(live), "live-owner dir must survive"
        assert os.path.exists(unowned), "untagged dirs are never touched"
        assert os.path.exists(mine)
    finally:
        import shutil

        for d in (live, unowned):
            shutil.rmtree(d, ignore_errors=True)


def _replay_batches(spark, queries):
    """Run each registered query once and return, per memory-sink name,
    the (batchId, sink rows) of every micro-batch its replay ran, read
    from a StreamingQueryListener."""
    import time

    from pyspark.sql.streaming import StreamingQueryListener

    class BatchLog(StreamingQueryListener):
        def __init__(self):
            self.names, self.batches, self.done = {}, {}, set()

        def onQueryStarted(self, event):
            self.names[str(event.runId)] = event.name

        def onQueryProgress(self, event):
            p = event.progress
            name = self.names.get(str(p.runId))
            self.batches.setdefault(name, []).append((p.batchId, p.sink.numOutputRows))

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            self.done.add(self.names.get(str(event.runId)))

    log = BatchLog()
    spark.streams.addListener(log)
    try:
        for q in queries:
            registry.QUERIES[q](spark, SF_SMALL).collect()
        # listener events arrive asynchronously; a query's terminated event
        # follows all of its progress events
        deadline = time.monotonic() + 30
        while len(log.done) < len(queries) and time.monotonic() < deadline:
            time.sleep(0.05)
    finally:
        spark.streams.removeListener(log)
    return log.batches


def test_finite_replays_run_only_batches_that_can_emit(spark):
    """An eviction-only replay (dedup, inner stream-stream join) runs its
    one data batch and no trailing no-data batch; a replay whose no-data
    batch emits rows (append-mode window agg, outer join, state timeouts)
    still runs it, and it still emits."""
    batches = _replay_batches(
        spark,
        [
            "stream_dedup_events",
            "stream_stream_join",
            "stream_watermark_counts",
            "stream_stream_left_join",
            "stream_session_timeout_state",
        ],
    )
    for sink in ("stream_dedup_out", "stream_stream_join_out"):
        assert [b for b, _ in batches[sink]] == [0], (sink, batches[sink])
    for sink in (
        "stream_watermark_out",
        "stream_stream_left_join_out",
        "stream_sess_timeout_out",
    ):
        rows = dict(batches[sink])
        assert rows.get(1, 0) > 0, (sink, batches[sink])


def test_replay_restores_session_confs(spark):
    """The no-data-batch and state-width confs read the same after a
    replay as before it, also when the stream raises; the failed replay's
    checkpoint is removed."""
    import glob
    import os
    import tempfile

    import pytest

    from clickhouse_data_rebalance_spark.streaming.stream_ops import (
        events_stream,
        run_to_memory,
    )

    keys = (
        "spark.sql.streaming.noDataMicroBatches.enabled",
        "spark.sql.shuffle.partitions",
    )
    before = {k: spark.conf.get(k, None) for k in keys}
    streaming_dedup(spark, SF_SMALL)
    assert {k: spark.conf.get(k, None) for k in keys} == before

    bad = events_stream(spark, SF_SMALL).select(
        F.when(F.col("user_id") >= 0, F.raise_error(F.lit("boom")))
        .otherwise(F.col("user_id"))
        .alias("x")
    )
    with pytest.raises(Exception, match="boom"):
        run_to_memory(bad, "stream_raise_out", "append")
    assert {k: spark.conf.get(k, None) for k in keys} == before
    base = "/dev/shm" if os.path.isdir("/dev/shm") else tempfile.gettempdir()
    own = f"cdr_ckpt_stream_raise_out__pid{os.getpid()}_*"
    assert not glob.glob(os.path.join(base, own))


def test_state_width_is_capped_at_shuffle_width(spark):
    from clickhouse_data_rebalance_spark.streaming.stream_ops import (
        _stream_state_partitions,
    )

    key = "spark.sql.shuffle.partitions"
    prev = spark.conf.get(key)
    try:
        for shuffle, width in (("2", "2"), ("16", "8")):
            spark.conf.set(key, shuffle)
            with _stream_state_partitions(spark):
                assert spark.conf.get(key) == width
            assert spark.conf.get(key) == shuffle
    finally:
        spark.conf.set(key, prev)


def test_ckpt_dirs_share_one_exit_hook():
    """Checkpoint dirs are cleaned at exit by one per-process hook, not
    one callback per dir; the hook removes only this process's dirs."""
    import atexit
    import os
    import shutil
    import tempfile

    from clickhouse_data_rebalance_spark.streaming import stream_ops

    before = atexit._ncallbacks()
    mine = [stream_ops._ckpt_dir("cdr_ckpt_hook_") for _ in range(20)]
    theirs = tempfile.mkdtemp(
        prefix=f"cdr_ckpt_hook__pid{os.getppid()}_", dir=os.path.dirname(mine[0])
    )
    try:
        assert atexit._ncallbacks() - before <= 1
        stream_ops._remove_own_ckpts()
        assert not any(os.path.exists(d) for d in mine)
        assert os.path.exists(theirs), "another live process's dir"
    finally:
        shutil.rmtree(theirs, ignore_errors=True)
        for d in mine:
            shutil.rmtree(d, ignore_errors=True)


def test_replay_sources_build_without_a_spark_job(spark, tmp_path):
    """Stream sources take the fixture's raw schema from the batch
    loader's cache: building one runs no Spark job, the schema equals a
    fresh read of the file, and a fixture rewritten under the same path
    refreshes it."""
    import os
    import shutil

    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql.types import LongType, TimestampType

    from clickhouse_data_rebalance_spark.streaming.stream_ops import (
        _replay,
        events_stream,
    )
    from clickhouse_data_rebalance_spark.tables import (
        TABLE_NAMES,
        load_tables,
        raw_schema,
    )

    from .conftest import new_job_ids

    load_tables(spark, SF_SMALL)
    assert new_job_ids(spark, lambda: events_stream(spark, SF_SMALL)) == []
    for name in ("embeddings", "documents"):
        assert new_job_ids(spark, lambda: _replay(spark, SF_SMALL, name)) == []
    for name in TABLE_NAMES:
        fresh = spark.read.parquet(os.path.join(SF_SMALL, f"{name}.parquet")).schema
        assert raw_schema(spark, SF_SMALL, name) == fresh, name

    # the same fixtures under another path; then events.parquet is
    # rewritten in place with nanosecond timestamps, which the session
    # reads as longs (the other fixture vintage)
    for name in TABLE_NAMES:
        shutil.copy(os.path.join(SF_SMALL, f"{name}.parquet"), tmp_path)
    sf = str(tmp_path)
    events = os.path.join(sf, "events.parquet")
    before = raw_schema(spark, sf, "events")["ts"].dataType
    t = pq.read_table(events)
    i = t.schema.get_field_index("ts")
    pq.write_table(t.set_column(i, "ts", t["ts"].cast(pa.timestamp("ns"))), events)
    try:
        after = raw_schema(spark, sf, "events")
        assert after == spark.read.parquet(events).schema
        assert before != LongType() and after["ts"].dataType == LongType()
        # normalize_events_ts still turns the long back into a timestamp
        assert events_stream(spark, sf).schema["ts"].dataType == TimestampType()
    finally:
        load_tables(spark, SF_SMALL)  # point the views back


def test_query_temp_dirs_need_no_exit_callback_per_call(spark):
    """Queries that stage files for a lazily read result take their dirs
    from ``_ckpt_dir``: a repeated call adds no exit callback and leaves
    no dir behind outside the PID-tagged ones the single exit hook
    removes."""
    import atexit
    import os
    import tempfile

    def leftovers():
        tmp = tempfile.gettempdir()
        return {n for n in os.listdir(tmp) if n.startswith("cdr_") and "__pid" not in n}

    for name in (
        "stream_index_admit", "stream_quality_gate", "sink_python_datasource",
        "stream_upsert_sink",
    ):
        registry.QUERIES[name](spark, SF_SMALL).collect()
        hooks, dirs = atexit._ncallbacks(), leftovers()
        registry.QUERIES[name](spark, SF_SMALL).collect()
        assert atexit._ncallbacks() == hooks, f"{name} registered an exit callback"
        assert leftovers() == dirs, f"{name} left {leftovers() - dirs}"
