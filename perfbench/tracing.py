"""Outside-in tracing: job groups, module-attribute wrappers, the Catalyst
phase tracker, and a parser for Spark's JSON event log.

Nothing here edits the program. Spans come from three places:

- ``Tracer.group`` tags every Spark job an op starts with a job group
  ``<op>:<phase>``; the event log then attributes each job, stage and task
  to that op and phase.
- ``Tracer.wrap`` replaces public functions of a module by timing
  wrappers, so calls that resolve the name through the module at call
  time (``cat.table_exists``, ``translate`` inside ``ch_sql``) are
  counted.
- ``catalyst_phases`` reads ``queryExecution().tracker()`` of a frame
  after it ran.
"""

from __future__ import annotations

import contextlib
import functools
import glob
import json
import os
import time
from collections import defaultdict


class Tracer:
    def __init__(self, spark, enabled: bool):
        self.spark = spark
        self.enabled = enabled
        self.op = None  # id of the op whose calls are being counted
        self.calls: dict[str, dict] = defaultdict(lambda: defaultdict(float))
        self._restore: list[tuple[object, str, object]] = []
        self._depth = 0

    @contextlib.contextmanager
    def group(self, op: str, phase: str):
        if not self.enabled:
            yield
            return
        self.op = op
        self.spark.sparkContext.setJobGroup(f"{op}:{phase}", f"{op}:{phase}")
        try:
            yield
        finally:
            self.spark.sparkContext.setJobGroup("idle", "idle")

    def wrap(self, module, layer: str, names: list[str]) -> None:
        """Count calls and wall time of ``module.<name>`` under ``layer``.
        Only the outermost wrapped call is timed, so a wrapped function
        calling another is not counted twice."""
        for name in names:
            fn = getattr(module, name)

            @functools.wraps(fn)
            def timed(*a, __fn=fn, **kw):
                if self._depth:
                    return __fn(*a, **kw)
                self._depth += 1
                t0 = time.perf_counter()
                try:
                    return __fn(*a, **kw)
                finally:
                    self._depth -= 1
                    stats = self.calls[self.op]
                    stats[f"{layer}.calls"] += 1
                    stats[f"{layer}.s"] += time.perf_counter() - t0

            self._restore.append((module, name, fn))
            setattr(module, name, timed)

    def unwrap(self) -> None:
        for module, name, fn in reversed(self._restore):
            setattr(module, name, fn)
        self._restore.clear()


def public_functions(module) -> list[str]:
    return [
        n for n, v in vars(module).items()
        if callable(v) and not n.startswith("_")
        and getattr(v, "__module__", None) == module.__name__
    ]


def catalyst_phases(df) -> dict[str, float]:
    """Seconds spent in analysis / optimization / planning for ``df``."""
    jvm = df.sparkSession._jvm
    phases = jvm.scala.jdk.javaapi.CollectionConverters.asJava(
        df._jdf.queryExecution().tracker().phases()
    )
    return {k: phases[k].durationMs() / 1000.0 for k in phases}


def _union_s(intervals: list[tuple[int, int]]) -> float:
    """Length in seconds of the union of [start, end] millisecond spans."""
    total, cur_s, cur_e = 0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total / 1000.0


class EventLog:
    """Jobs and task metrics from one application's event log, keyed by
    job group."""

    def __init__(self, log_dir: str):
        files = [p for p in glob.glob(os.path.join(log_dir, "*")) if os.path.isfile(p)]
        if len(files) != 1:
            raise RuntimeError(f"expected one event log in {log_dir}, found {files}")
        self.jobs: dict[int, dict] = {}
        self.executions: dict[int, str] = {}
        stage_job: dict[int, int] = {}
        with open(files[0]) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev["Event"]
                if kind == "SparkListenerJobStart":
                    props = ev.get("Properties") or {}
                    job = {
                        "group": props.get("spark.jobGroup.id", ""),
                        "execution": int(props.get("spark.sql.execution.id", -1)),
                        "start": ev["Submission Time"],
                        "end": ev["Submission Time"],
                        "tasks": 0,
                        "metrics": defaultdict(float),
                    }
                    self.jobs[ev["Job ID"]] = job
                    for sid in ev["Stage IDs"]:
                        stage_job[sid] = ev["Job ID"]
                elif kind == "SparkListenerJobEnd":
                    self.jobs[ev["Job ID"]]["end"] = ev["Completion Time"]
                elif kind == "SparkListenerTaskEnd":
                    job = self.jobs.get(stage_job.get(ev["Stage ID"]))
                    if job is not None and ev.get("Task Metrics"):
                        job["tasks"] += 1
                        _add_task(job["metrics"], ev["Task Metrics"])
                elif kind.endswith("SparkListenerSQLExecutionStart"):
                    self.executions[ev["executionId"]] = ev.get("physicalPlanDescription", "")

    def select(self, pred) -> list[dict]:
        return [j for j in self.jobs.values() if pred(j)]

    def is_write(self, job: dict) -> bool:
        return "InsertIntoHadoopFsRelationCommand" in self.executions.get(job["execution"], "")


def _add_task(acc: dict, tm: dict) -> None:
    acc["run_s"] += tm.get("Executor Run Time", 0) / 1000.0
    acc["cpu_s"] += tm.get("Executor CPU Time", 0) / 1e9
    acc["gc_s"] += tm.get("JVM GC Time", 0) / 1000.0
    acc["input_bytes"] += tm.get("Input Metrics", {}).get("Bytes Read", 0)
    acc["output_bytes"] += tm.get("Output Metrics", {}).get("Bytes Written", 0)
    acc["shuffle_write_bytes"] += tm.get("Shuffle Write Metrics", {}).get("Shuffle Bytes Written", 0)
    sr = tm.get("Shuffle Read Metrics", {})
    acc["shuffle_read_bytes"] += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
    acc["spill_bytes"] += tm.get("Memory Bytes Spilled", 0) + tm.get("Disk Bytes Spilled", 0)


def job_totals(jobs: list[dict], cores: int) -> dict[str, float]:
    """Executor metrics summed over ``jobs`` plus their wall-clock union."""
    out: dict[str, float] = defaultdict(float)
    for j in jobs:
        out["jobs"] += 1
        out["tasks"] += j["tasks"]
        for k, v in j["metrics"].items():
            out[k] += v
    out["job_s"] = _union_s([(j["start"], j["end"]) for j in jobs])
    out["parallelism"] = out["run_s"] / (out["job_s"] * cores) if out["job_s"] else 0.0
    return out
