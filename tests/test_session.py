"""tune_session reports what it did: one log line per session naming
the confs it applied and the steps it skipped, with the reason."""

from __future__ import annotations

import logging

from clickhouse_data_rebalance_spark import session as session_mod
from clickhouse_data_rebalance_spark.session import tune_session


def _records(caplog):
    return [r for r in caplog.records if r.name == session_mod.__name__]


def test_tune_session_logs_one_line_per_session(spark, caplog):
    session_mod._tuned_sessions.discard(spark)  # noqa: SLF001
    with caplog.at_level(logging.INFO, logger=session_mod.__name__):
        tune_session(spark)
        tune_session(spark)
    (rec,) = _records(caplog)
    msg = rec.getMessage()
    assert rec.levelno == logging.INFO
    assert "spark.sql.session.timeZone=UTC" in msg
    # the test session sets its own width, which tune_session respects
    width = spark.conf.get("spark.sql.shuffle.partitions")
    assert f"shuffle width (kept {width}, not the stock default)" in msg


class _Conf:
    def __init__(self):
        self.values = {"spark.sql.shuffle.partitions": "200"}

    def get(self, k):
        return self.values[k]

    def set(self, k, v):
        if k == "spark.sql.legacy.parquet.nanosAsLong":
            raise RuntimeError("cannot modify a static config")
        self.values[k] = v


class _Context:
    master, defaultParallelism = "yarn", 2


class _ClusterSession:
    """A session on a cluster master whose package ship fails: the
    shuffle width stays at 200 and both skips are named."""

    def __init__(self):
        self.conf, self.sparkContext = _Conf(), _Context()


def test_tune_session_names_skips_and_swallowed_errors(caplog):
    s = _ClusterSession()
    with caplog.at_level(logging.INFO, logger=session_mod.__name__):
        tune_session(s)
    (rec,) = _records(caplog)
    msg = rec.getMessage()
    assert s.conf.values["spark.sql.shuffle.partitions"] == "200"
    assert s.conf.values["spark.sql.session.timeZone"] == "UTC"
    assert rec.levelno == logging.WARNING  # exceptions were swallowed
    assert "shuffle width (yarn is not a local master)" in msg
    assert "spark.sql.legacy.parquet.nanosAsLong (RuntimeError" in msg
    assert "package zip (AttributeError" in msg
