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
- ``exchanges`` and ``python_nodes`` in the final physical plan.

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
    out = {q: {"wall": dict.fromkeys(STEPS, float("inf")), "phases": {}} for q in names}
    for _ in range(PASSES):
        for q in names:
            rec = out[q]
            for step in STEPS:
                t0 = time.perf_counter()
                with tracer.group(q, step):
                    if step == "build":
                        df = registry.QUERIES[q](spark, sf_dir)
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

    for q in names:
        rec = profiled[q]
        wall = rec["wall"]
        build_jobs = log.select(lambda j: j["group"] == f"{q}:build")
        collect = tracing.job_totals(log.select(lambda j: j["group"] == f"{q}:collect"), cpus)
        per_pass = {k: v if k == "parallelism" else v / PASSES for k, v in collect.items()}
        exchanges, python_nodes = rec["plan"]
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
        }), flush=True)


if __name__ == "__main__":
    main()
