"""The one replay helper (``stream_ops._run_replay``): every stream the
package starts goes through it, checkpoints through the FileSystem-based
manager inside the stream only, and leaves no checkpoint behind."""

from __future__ import annotations

import ast
import os

import pytest
from pyspark.sql import functions as F
from pyspark.sql.streaming.readwriter import DataStreamWriter

from clickhouse_data_rebalance_spark import registry
from clickhouse_data_rebalance_spark.streaming import stream_ops

from .conftest import SF_SMALL

registry.load_all()

KEY = "spark.sql.streaming.checkpointFileManagerClass"
PKG = os.path.dirname(os.path.abspath(stream_ops.__file__ + "/.."))
STREAM_QUERIES = sorted(q for q in registry.QUERIES if q.startswith("stream_"))


@pytest.fixture
def started(monkeypatch):
    """Every (StreamingQuery, checkpointLocation) started while the test
    runs."""
    runs: list[list] = []
    start, option = DataStreamWriter.start, DataStreamWriter.option

    def spy_option(self, key, value):
        if key == "checkpointLocation":
            runs.append([None, value])
        return option(self, key, value)

    def spy_start(self, *a, **kw):
        runs[-1][0] = start(self, *a, **kw)
        return runs[-1][0]

    monkeypatch.setattr(DataStreamWriter, "option", spy_option)
    monkeypatch.setattr(DataStreamWriter, "start", spy_start)
    return runs


def _stream_conf(q) -> str | None:
    """``KEY`` in the session the stream planned its last micro-batch in."""
    session = q._jsq.streamingQuery().lastExecution().sparkSession()  # noqa: SLF001
    return session.conf().get(KEY, None)


def test_replays_checkpoint_through_the_filesystem_manager(spark, started):
    """A memory-sink replay, a foreachBatch replay and the python-source
    drain each run with the FileSystem-based manager inside the stream;
    the caller's session does not keep it."""
    assert spark.conf.get(KEY, None) is None
    stream_ops.streaming_dedup(spark, SF_SMALL)
    seen = []
    stream_ops._run_replay(
        stream_ops.events_stream(spark, SF_SMALL),
        "probe_fb",
        batch_fn=lambda batch, _: seen.append(batch.sparkSession.conf.get(KEY, None)),
    )
    registry.QUERIES["stream_python_datasource"](spark, SF_SMALL)

    assert seen and set(seen) == {stream_ops._LOCAL_CKPT_MANAGER}
    assert len(started) == 3
    for q, _ in started:
        assert _stream_conf(q) == stream_ops._LOCAL_CKPT_MANAGER
    assert spark.conf.get(KEY, None) is None


def test_replay_unsets_the_manager_when_the_stream_raises(spark):
    def boom(batch, _):
        raise ValueError("boom")

    bad = stream_ops.events_stream(spark, SF_SMALL).select(
        F.when(F.col("user_id") >= 0, F.raise_error(F.lit("boom"))).alias("x")
    )
    with pytest.raises(Exception, match="boom"):
        stream_ops.run_to_memory(bad, "probe_raise_out", "append")
    assert spark.conf.get(KEY, None) is None
    with pytest.raises(Exception, match="boom"):
        stream_ops._run_replay(
            stream_ops.events_stream(spark, SF_SMALL), "probe_raise_fb", batch_fn=boom
        )
    assert spark.conf.get(KEY, None) is None


def test_a_callers_own_stream_keeps_sparks_default_manager(spark, started, tmp_path):
    q = (
        stream_ops.events_stream(spark, SF_SMALL)
        .writeStream.format("noop")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    assert _stream_conf(q) is None


def test_replay_queries_leave_no_checkpoint(spark, started):
    """After each replay query returns, none of its checkpoints remain;
    statestore_introspection keeps the one its frame reads."""
    for name in STREAM_QUERIES + ["statestore_introspection"]:
        del started[:]
        df = registry.QUERIES[name](spark, SF_SMALL)
        assert started, f"{name} started no stream"
        left = [c for _, c in started if os.path.exists(c)]
        if name == "statestore_introspection":
            assert left == [started[0][1]]
            assert df.count() > 0
        else:
            assert not left, f"{name} left {left}"


def _raise(*_a, **_kw):
    raise ValueError("boom")


def _mv_into_a_file(spark, tmp_path):
    """mv_maintain whose batch function writes under a regular file."""
    blocker = tmp_path / "file"
    blocker.write_text("")
    return stream_ops.mv_maintain(spark, SF_SMALL, str(blocker / "mv"))


@pytest.mark.parametrize(
    "name, module, attr",
    [
        ("mv_maintain", None, None),
        ("stream_upsert_sink", "streaming.stream_ops", "_collapse_latest"),
        ("stream_index_admit", "operators.llm_similarity", "admit_batch_into_index"),
        ("stream_quality_gate", "operators.llm_text", "gopher_verdicts"),
    ],
)
def test_a_raising_replay_leaves_no_checkpoint(
    spark, started, monkeypatch, tmp_path, name, module, attr
):
    """A foreachBatch replay whose batch function raises still removes
    its checkpoint."""
    if module is None:
        run = _mv_into_a_file
    else:
        monkeypatch.setattr(f"clickhouse_data_rebalance_spark.{module}.{attr}", _raise)
        run = lambda spark, _: registry.QUERIES[name](spark, SF_SMALL)  # noqa: E731
    with pytest.raises(Exception):
        run(spark, tmp_path)
    assert started
    assert not [c for _, c in started if os.path.exists(c)]


def _write_stream_owners(tree: ast.AST) -> list[str | None]:
    """Innermost enclosing function of each ``.writeStream`` in ``tree``."""
    out = []

    def visit(node, fn):
        if isinstance(node, ast.Attribute) and node.attr == "writeStream":
            out.append(fn)
        for child in ast.iter_child_nodes(node):
            is_fn = isinstance(child, (ast.FunctionDef, ast.AsyncFunctionDef, ast.Lambda))
            visit(child, getattr(child, "name", "<lambda>") if is_fn else fn)

    visit(tree, None)
    return out


def test_write_stream_appears_only_in_the_replay_helper():
    """``.writeStream`` occurs in the package only inside ``_run_replay``."""
    found = set()
    for d, _, files in os.walk(PKG):
        for f in files:
            if f.endswith(".py"):
                path = os.path.join(d, f)
                with open(path) as fh:
                    tree = ast.parse(fh.read(), path)
                found |= {(os.path.relpath(path, PKG), fn) for fn in _write_stream_owners(tree)}
    assert found == {(os.path.join("streaming", "stream_ops.py"), "_run_replay")}
