#!/usr/bin/env python
"""Per-layer profile of registered queries: one JSON line per query.

    python tools/layer_profile.py [query ...]     (default: bench.HEADLINE)

Runs each query three times, interleaved over the whole list like
``bench.py``, on ``bench.py``'s session shape (``$SPARK_GRAFT_SF_DIR``,
default sf0.1, on ``local[$SPARK_GRAFT_CPUS]``). Every pass builds the
frame, collects it, then writes it to the noop sink, each step under its
own job group (``perfbench/tracing.py``). After the session stops, the
Spark event log attributes jobs, tasks and executor metrics to each
query and step. A record holds:

- ``build_s``: fastest frame construction (Python, py4j, eager jobs);
  ``build_jobs``: Spark jobs the build started, per pass;
- ``catalyst_phases``: fastest analysis / optimization / planning s;
- ``job_totals``: the collect step's jobs, tasks, executor run/CPU/GC s,
  shuffle and spill bytes and job wall union, per pass;
- ``noop_s``: fastest noop-sink run, i.e. compute without the result
  transfer; ``collect_s``: fastest collect minus ``noop_s``, floored at 0
  (on a tiny result the noop write's own commit costs more than the
  transfer);
- ``exchanges`` and ``python_nodes`` in the final physical plan;
- ``stream``, for a query whose build runs a Structured Streaming
  query: ``batches``, the micro-batches per pass, and ``phase_ms``, the
  listener's ``durationMs`` per phase summed over them, per pass. A
  stream's jobs run in its own job group, so the build step also
  carries a job tag, which the query-started event records.

The event log lives in a temporary directory removed at exit; the tool
writes no file under the repository.
"""

from __future__ import annotations

import json
import os
import re
import shlex
import sys
import tempfile
import time
from collections import defaultdict

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from perfbench import tracing  # noqa: E402

PASSES = 3
STEPS = ("build", "collect", "noop")
# physical nodes that hand rows to Python workers: *EvalPython*,
# Arrow{Aggregate,Window}Python, *InPandas*, *InArrow, *InBatch
PYTHON_NODE = re.compile(r"\w*(?:Python|InPandas|InArrow|InBatch)")


def _plan_counts(df) -> tuple[int, int]:
    """Exchanges and Python-worker nodes of the plan ``df.collect()`` ran
    (the final adaptive plan, not AQE's initial one)."""
    plan = df._jdf.queryExecution().executedPlan()  # noqa: SLF001
    if plan.nodeName() == "AdaptiveSparkPlan":
        plan = plan.executedPlan()
    lines = plan.toString().splitlines()
    # a tree line is "<tree marks>[*(<codegen stage>) ]<NodeName> ..."
    nodes = [re.sub(r"^[\s:+\-|*]*(\(\d+\)\s*)?", "", line) for line in lines]
    exchanges = sum(bool(re.match(r"\w*Exchange\b", n)) for n in nodes)
    return exchanges, sum(bool(PYTHON_NODE.match(n)) for n in nodes)


def _profile(spark, sf_dir: str, names: list[str]) -> dict[str, dict]:
    """Per query: the fastest wall of each step, the fastest time of each
    Catalyst phase, and the plan counts of the last pass."""
    from clickhouse_data_rebalance_spark import registry
    from clickhouse_data_rebalance_spark.tables import load_tables

    for df in load_tables(spark, sf_dir).values():
        df.count()
    tracer = tracing.Tracer(spark, enabled=True)
    sc = spark.sparkContext
    out = {q: {"wall": dict.fromkeys(STEPS, float("inf")), "phases": {}} for q in names}
    for _ in range(PASSES):
        for q in names:
            rec = out[q]
            for step in STEPS:
                t0 = time.perf_counter()
                with tracer.group(q, step):
                    if step == "build":
                        sc.addJobTag(q)
                        try:
                            df = registry.QUERIES[q](spark, sf_dir)
                        finally:
                            sc.removeJobTag(q)
                    elif step == "collect":
                        df.collect()
                    else:
                        df.write.format("noop").mode("overwrite").save()
                rec["wall"][step] = min(rec["wall"][step], time.perf_counter() - t0)
                # read before the noop write: it re-measures the frame's
                # analysis phase, whose span then runs to the write's end
                if step == "collect":
                    for k, v in tracing.catalyst_phases(df).items():
                        rec["phases"][k] = min(rec["phases"].get(k, v), v)
                    rec["plan"] = _plan_counts(df)
    return out


def _stream_phases(log_dir: str) -> dict[str, list[dict]]:
    """Per job tag: the ``durationMs`` of every micro-batch of the
    streams started under it, from the event log's streaming events."""
    (path,) = [p for p in (os.path.join(log_dir, f) for f in os.listdir(log_dir)) if os.path.isfile(p)]
    tag_of, out = {}, defaultdict(list)
    with open(path) as f:
        for line in f:
            if "StreamingQueryListener$Query" not in line:
                continue
            ev = json.loads(line)
            if ev["Event"].endswith("$QueryStartedEvent") and ev.get("jobTags"):
                tag_of[ev["runId"]] = ev["jobTags"][0]
            elif ev["Event"].endswith("$QueryProgressEvent"):
                p = ev["progress"]
                if p["runId"] in tag_of:
                    out[tag_of[p["runId"]]].append(p["durationMs"])
    return out


def main() -> None:
    import bench

    names = sys.argv[1:] or bench.HEADLINE
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    with tempfile.TemporaryDirectory(prefix="cdr-profile-") as work:
        events = os.path.join(work, "events")
        os.makedirs(events)
        conf = {
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + events,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        }
        args = [a for k, v in conf.items() for a in ("--conf", f"{k}={v}")]
        os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(map(shlex.quote, args + ["pyspark-shell"]))

        from clickhouse_data_rebalance_spark import registry
        from clickhouse_data_rebalance_spark.session import get_spark

        registry.load_all()
        spark = get_spark("cdr-profile")
        cpus = spark.sparkContext.defaultParallelism
        try:
            profiled = _profile(spark, sf_dir, names)
        finally:
            spark.stop()
        log = tracing.EventLog(events)
        streams = _stream_phases(events)

    for q in names:
        rec = profiled[q]
        wall = rec["wall"]
        build_jobs = log.select(lambda j: j["group"] == f"{q}:build")
        collect = tracing.job_totals(log.select(lambda j: j["group"] == f"{q}:collect"), cpus)
        per_pass = {k: v if k == "parallelism" else v / PASSES for k, v in collect.items()}
        exchanges, python_nodes = rec["plan"]
        extra = {}
        if streams.get(q):
            phase_ms = defaultdict(float)
            for batch in streams[q]:
                for k, v in batch.items():
                    phase_ms[k] += v / PASSES
            extra["stream"] = {
                "batches": len(streams[q]) / PASSES,
                "phase_ms": {k: round(v, 1) for k, v in phase_ms.items()},
            }
        print(json.dumps({
            "query": q,
            "build_s": round(wall["build"], 4),
            "build_jobs": len(build_jobs) / PASSES,
            "catalyst_phases": {k: round(v, 4) for k, v in rec["phases"].items()},
            "job_totals": {k: round(v, 4) for k, v in per_pass.items()},
            "noop_s": round(wall["noop"], 4),
            "collect_s": round(max(0.0, wall["collect"] - wall["noop"]), 4),
            "exchanges": exchanges,
            "python_nodes": python_nodes,
            **extra,
        }), flush=True)


if __name__ == "__main__":
    main()
