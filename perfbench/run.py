"""Benchmark entry point: one workload, one fresh Spark session, one run.

    python3 perfbench/run.py --workload resize --seed 1 --seconds 15 --trace 0

Prints a run record (one JSON line) and then, as the last line of stdout,
``{"correct", "attempted", "failed", "metrics"}``. With ``--trace 0`` the
metrics are the end-to-end ones; with ``--trace 1`` the run adds a traced
window after the untraced one and reports the per-layer metrics instead.
See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shlex
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
DEADLINE_S = 170  # the whole run, set-up and teardown included

now = time.perf_counter
START = now()


def _pin_environment(work: str, cpus: int, trace: bool) -> str:
    """Fix the session shape and keep every file the run writes under
    ``work``. Returns the event-log directory ('' when not tracing)."""
    import host

    mem_mb = min(2048, host.mem_total_mb() // 4)
    local, tmp, events = (os.path.join(work, d) for d in ("local", "tmp", "events"))
    for d in (local, tmp, events):
        os.makedirs(d)
    conf = {
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
    }
    if trace:
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + events,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    args = [a for k, v in conf.items() for a in ("--conf", f"{k}={v}")]
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(cpus),
        "SPARK_DRIVER_MEM": f"{mem_mb}m",
        "SPARK_LOCAL_DIRS": local,
        "TMPDIR": tmp,
        "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={tmp}",
        "PYSPARK_SUBMIT_ARGS": " ".join(map(shlex.quote, args + ["pyspark-shell"])),
    })
    return events if trace else ""


def _run_pass(wl, args, pid, ops) -> None:
    """Run one pass of ops, appending them to ``ops`` with their cycle
    time, process-tree CPU and host steal share."""
    import host

    t, cpu, jif = now(), host.tree_cpu_s([pid]), host.cpu_jiffies()
    for arg in args:
        op = _run_op(wl, arg)
        t1, cpu1, jif1 = now(), host.tree_cpu_s([pid]), host.cpu_jiffies()
        op.cycle_s, op.cpu_s = t1 - t, cpu1 - cpu
        op.steal_frac = host.steal_frac(jif, jif1)
        t, cpu, jif = t1, cpu1, jif1
        ops.append(op)


def _warm_up(wl, rng, deadline: float) -> list:
    """``wl.warmup_passes`` passes whose ops are checked but not timed."""
    pid, ops = os.getpid(), []
    _run_pass(wl, wl.first_pass(rng), pid, ops)
    for _ in range(wl.warmup_passes - 1):
        if now() > deadline:
            break
        _run_pass(wl, wl.schedule(rng), pid, ops)
    return ops


class Window:
    """Whole seeded passes until ``seconds`` have passed and at least
    ``wl.min_passes`` passes have run, with host readings around them.

    Latency, cycle time and CPU are aggregated as per-request-type
    medians, so a burst of host steal that slows one pass moves none of
    them much."""

    def __init__(self, wl, rng, seconds: float, deadline: float):
        import host

        pid = os.getpid()
        jif0, t0 = host.cpu_jiffies(), now()
        self.ops, self.passes = [], 0
        while (now() - t0 < seconds or self.passes < wl.min_passes) and now() < deadline:
            _run_pass(wl, wl.schedule(rng), pid, self.ops)
            self.passes += 1
        self.elapsed_s = now() - t0
        self.steal_frac = host.steal_frac(jif0, host.cpu_jiffies())
        self.loadavg = host.loadavg()

    @property
    def ok(self):
        return [o for o in self.ops if o.ok]

    def _type_medians(self, attr: str) -> list[float]:
        by_kind: dict[str, list[float]] = {}
        for o in self.ok:
            by_kind.setdefault(o.kind, []).append(getattr(o, attr))
        return [statistics.median(v) for v in by_kind.values()]

    def ops_per_s(self) -> float:
        """Ops per second of a pass in which every request type takes its
        median cycle time (op, checks and, on resize, the reader)."""
        return 1 / statistics.fmean(self._type_medians("cycle_s"))

    def op_p50_s(self) -> float:
        """Geometric mean of the per-request-type median latencies."""
        meds = self._type_medians("latency_s")
        return math.exp(statistics.fmean(math.log(m) for m in meds))

    def cpu_s_per_op(self) -> float:
        """Mean over request types of the median CPU seconds per op."""
        return statistics.fmean(self._type_medians("cpu_s"))

    def window_ops_per_s(self) -> float:
        return len(self.ok) / self.elapsed_s

    def layer(self, key: str) -> list[float]:
        return [o.layers[key] for o in self.ok if key in o.layers]


def _run_op(wl, arg):
    from workloads import Op

    try:
        return wl.run(arg)
    except Exception as e:  # an op that raises is a failed op, not a crash
        return Op(f"op{wl.k - 1}", str(arg), float("nan"), False, f"{type(e).__name__}: {e}"[:400])


def _stop_spark(spark) -> None:
    """Stop the session, end the JVM and wait until it and every process
    it started are gone."""
    import host
    from pyspark import SparkContext

    me = os.getpid()
    started = [p for p in host.descendants(me) if p != me]
    spark.stop()
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    end = time.monotonic() + 15
    while any(host.alive(p) for p in started) and time.monotonic() < end:
        time.sleep(0.1)
    for p in started:
        if host.alive(p):
            os.kill(p, signal.SIGKILL)


def _median(xs):
    return statistics.median(xs) if xs else 0.0


def _mean(xs):
    return statistics.fmean(xs) if xs else 0.0


def _per_layer(win, untraced, tracer, events_dir, cpus, setup_layers) -> dict[str, float]:
    import tracing

    ev = tracing.EventLog(events_dir)
    ops = win.ok
    n = max(len(ops), 1)
    ids = {o.op_id for o in ops}

    def jobs(phase=None, pred=lambda j: True):
        return ev.select(lambda j: j["group"].split(":")[0] in ids
                         and (phase is None or j["group"].endswith(":" + phase))
                         and pred(j))

    out = {k: setup_layers.get(k, 0.0) for k in
           ("session.get_spark_s", "tables.load_tables_s", "resize.seed_s")}
    build = tracing.job_totals(jobs("build"), cpus)
    out["operators.build_s"] = _mean(win.layer("operators.build_s"))
    out["operators.build_jobs"] = build["jobs"] / n
    out["operators.build_job_s"] = build["job_s"] / n
    for layer, prefix in (("ch_dialect", "ch_dialect.translate_"), ("catalog", "catalog.")):
        calls = [tracer.calls[o.op_id] for o in ops]
        out[prefix + "calls"] = sum(c[f"{layer}.calls"] for c in calls) / n
        out[prefix + "s"] = sum(c[f"{layer}.s"] for c in calls) / n
    for phase in ("analysis", "optimization", "planning"):
        out[f"catalyst.{phase}_s"] = _mean(win.layer(f"catalyst.{phase}_s"))
    # the noop-sink write re-runs the frame only to split out collect time
    ex = tracing.job_totals(jobs(pred=lambda j: not j["group"].endswith(":noop")), cpus)
    for key in ("jobs", "tasks", "job_s", "gc_s", "input_bytes", "shuffle_write_bytes",
                "shuffle_read_bytes", "spill_bytes", "output_bytes"):
        out[f"exec.{key}"] = ex[key] / n
    out["exec.task_run_s"] = ex["run_s"] / n
    out["exec.task_cpu_s"] = ex["cpu_s"] / n
    out["exec.parallelism"] = ex["parallelism"]
    collects = [o.layers["collect.wall_s"] - o.layers["noop_s"] for o in ops if "noop_s" in o.layers]
    out["collect.s"] = _mean(collects)
    out["collect.rows"] = _mean(win.layer("collect.rows"))
    write_s, verify_s, driver_s, amp = [], [], [], []
    for o in ops:
        if "pipeline.resize_s" not in o.layers:
            continue
        mine = [j for j in jobs("resize") if j["group"].startswith(o.op_id + ":")]
        write = tracing.job_totals([j for j in mine if ev.is_write(j)], cpus)
        verify = tracing.job_totals([j for j in mine if not ev.is_write(j)], cpus)
        write_s.append(write["job_s"])
        verify_s.append(verify["job_s"])
        driver_s.append(o.layers["pipeline.resize_s"] - write["job_s"] - verify["job_s"])
        amp.append(write["output_bytes"] / o.layers["pipeline.live_bytes"])
    out["pipeline.resize_s"] = _mean(win.layer("pipeline.resize_s"))
    out["pipeline.write_job_s"] = _mean(write_s)
    out["pipeline.verify_job_s"] = _mean(verify_s)
    out["pipeline.driver_s"] = _mean(driver_s)
    out["pipeline.write_amp"] = _mean(amp)
    out["rebalance.files_per_shard"] = _mean(win.layer("rebalance.files_per_shard"))
    out["rebalance.skew_ratio"] = _mean(win.layer("rebalance.skew_ratio"))
    out["resize.read_s"] = _mean(win.layer("resize.read_s"))
    out["resize.read_p50_s"] = _median(untraced.layer("resize.read_s"))
    out["resize.space_amp"] = _median(untraced.layer("resize.space_amp"))
    out["host.steal_frac"] = win.steal_frac
    out["host.loadavg"] = win.loadavg
    out["trace.ops_per_s"] = win.ops_per_s()
    out["trace.untraced_ops_per_s"] = untraced.ops_per_s()
    out["trace.overhead_frac"] = 1 - win.ops_per_s() / untraced.ops_per_s()
    return out


def _units(name: str) -> str:
    if name.endswith("ops_per_s"):
        return "1/s"
    if name.endswith(("_s", ".s", "_s_per_op")):
        return "s"
    if name.endswith("_bytes"):
        return "bytes"
    if name.endswith(("calls", "jobs", "tasks", "rows")):
        return "count"
    if name == "host.loadavg":
        return "procs"
    return "ratio"


def run(args, work: str) -> int:
    import numpy as np

    import fixtures
    import workloads

    cpus = len(os.sched_getaffinity(0))
    deadline = now() + DEADLINE_S - 20  # leave time to stop Spark
    events_dir = _pin_environment(work, cpus, bool(args.trace))
    os.chdir(work)  # anything Spark drops in its working directory lands here
    rng = np.random.default_rng(args.seed)
    cls = workloads.WORKLOADS[args.workload]
    wl = cls(fixtures.write(os.path.join(work, "fixtures"), cls.sf, args.seed, cls.tables), work)

    t0 = now()
    from clickhouse_data_rebalance_spark.session import get_spark

    import tracing

    spark = get_spark("perfbench")
    setup_layers = {"session.get_spark_s": now() - t0}
    try:
        wl.spark, wl.tracer = spark, tracing.Tracer(spark, enabled=False)
        setup_layers.update(wl.setup())
        setup_s = now() - t0

        t_warm = now()
        warm = _warm_up(wl, rng, deadline - 3 * args.seconds)
        warmup_s = now() - t_warm
        untraced = Window(wl, rng, args.seconds, deadline)
        traced = None
        if args.trace:
            from clickhouse_data_rebalance_spark.plans import catalog, ch_dialect

            tracer = wl.tracer
            tracer.enabled = True
            tracer.wrap(ch_dialect, "ch_dialect", ["translate"])
            tracer.wrap(catalog, "catalog", tracing.public_functions(catalog))
            traced = Window(wl, rng, args.seconds, deadline)
            tracer.unwrap()
        session = {
            "master": spark.sparkContext.master,
            "shuffle_partitions": spark.conf.get("spark.sql.shuffle.partitions"),
            "driver_memory": spark.conf.get("spark.driver.memory"),
        }
    finally:
        t_stop = now()
        _stop_spark(spark)
        teardown_s = now() - t_stop

    all_ops = warm + untraced.ops + (traced.ops if traced else [])
    failed = [o for o in all_ops if not o.ok]
    record = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "nproc": cpus, **session,
        "warmup_ops_discarded": len(warm), "warmup_s": warmup_s,
        "host.steal_frac": untraced.steal_frac, "host.loadavg": untraced.loadavg,
        "setup_s": setup_s, **setup_layers,
        "first_op_s": warm[0].latency_s,
        "window_s": untraced.elapsed_s, "window_ops": len(untraced.ops),
        "window_passes": untraced.passes,
        "window_ops_per_s": untraced.window_ops_per_s(),
        "failed_frac": len(failed) / len(all_ops),
        "op_max_s": max((o.latency_s for o in untraced.ok), default=0.0),
        "per_type_p50_s": {
            k: statistics.median(o.latency_s for o in untraced.ok if o.kind == k)
            for k in sorted({o.kind for o in untraced.ok})
        },
        "resize.read_p50_s": _median(untraced.layer("resize.read_s")),
        "resize.space_amp": _median(untraced.layer("resize.space_amp")),
        "ops": [[o.kind, round(o.latency_s, 4), round(o.cycle_s, 4), round(o.cpu_s, 2),
                 round(o.steal_frac, 3)]
                for o in warm + untraced.ops],
        "teardown_s": teardown_s, "run_wall_s": now() - START,
        "errors": [f"{o.op_id} {o.kind}: {o.error}" for o in failed][:10],
    }
    if untraced.ok:
        metrics = {
            "setup_s": setup_s,
            "ops_per_s": untraced.ops_per_s(),
            "op_p50_s": untraced.op_p50_s(),
            "cpu_s_per_op": untraced.cpu_s_per_op(),
        }
    else:
        metrics = {}
    if args.trace:
        metrics = {}
        if traced.ok and untraced.ok:
            metrics = _per_layer(traced, untraced, wl.tracer, events_dir, cpus, setup_layers)
            metrics["first_op_s"] = warm[0].latency_s
    record["metrics"] = metrics
    _write_record(record)
    print(json.dumps(record, default=str))
    print(json.dumps({
        "correct": not failed and bool(metrics),
        "attempted": len(all_ops),
        "failed": len(failed),
        "metrics": {k: {"value": v, "unit": _units(k)} for k, v in metrics.items()},
    }))
    return 0


def _write_record(record: dict) -> None:
    out = os.path.join(HERE, "records")
    os.makedirs(out, exist_ok=True)
    stamp = time.strftime("%Y%m%dT%H%M%S", time.gmtime())
    name = f"{stamp}-{record['workload']}-seed{record['seed']}-trace{record['trace']}.json"
    with open(os.path.join(out, name), "w") as f:
        json.dump(record, f, indent=1, default=str)


def _on_alarm(signum, frame):
    raise TimeoutError(f"run exceeded {DEADLINE_S} s")


def main(argv=None) -> int:
    sys.path[:0] = [HERE, ROOT]
    import workloads

    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True, choices=sorted(workloads.WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)
    for need in ("clickhouse_data_rebalance_spark/__init__.py", "tests/oracle_harness.py"):
        if not os.path.isfile(os.path.join(ROOT, need)):
            print(f"perfbench: {need} is missing under {ROOT}", file=sys.stderr)
            return 2
    work = os.path.join(HERE, "work", f"run-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    signal.signal(signal.SIGALRM, _on_alarm)
    signal.alarm(DEADLINE_S)
    try:
        return run(args, work)
    finally:
        signal.alarm(0)
        os.chdir(HERE)
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
