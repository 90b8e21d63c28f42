"""Smoke test of ``tools/layer_profile.py``: one record per query, the
build and collect layers kept apart, and nothing written into the repository."""

from __future__ import annotations

import json
import os
import subprocess
import sys

from .conftest import SF_SMALL

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
QUERIES = ["rebalance_pipeline", "ch_dialect_with_fill"]


def _tree(root: str) -> dict[str, int]:
    out = {}
    for d, dirs, files in os.walk(root):
        dirs[:] = [x for x in dirs if x != ".git"]
        for f in files:
            p = os.path.join(d, f)
            out[p] = os.stat(p).st_mtime_ns
    return out


def _run_tool(tmp_path, queries: list[str]) -> dict[str, dict]:
    """Run the tool on ``queries``; check it wrote nothing into the
    repository and left no temp dir; return its records by query."""
    env = {
        **os.environ,
        "SPARK_GRAFT_SF_DIR": SF_SMALL,
        "SPARK_GRAFT_CPUS": "4",
        "SPARK_DRIVER_MEM": "1g",
        "TMPDIR": str(tmp_path),
        "PYTHONDONTWRITEBYTECODE": "1",
    }
    before = _tree(ROOT)
    run = subprocess.run(
        [sys.executable, os.path.join(ROOT, "tools", "layer_profile.py"), *queries],
        cwd=ROOT, env=env, capture_output=True, text=True, timeout=600,
    )
    assert run.returncode == 0, run.stderr[-3000:]
    assert _tree(ROOT) == before
    assert not [p for p in os.listdir(tmp_path) if p.startswith("cdr-profile-")]

    recs = [json.loads(line) for line in run.stdout.splitlines() if line.startswith("{")]
    assert [r["query"] for r in recs] == queries
    return {r["query"]: r for r in recs}


def test_profile_tool_one_record_per_query(tmp_path):
    by = _run_tool(tmp_path, QUERIES)
    assert by["rebalance_pipeline"]["build_jobs"] >= 1
    assert by["ch_dialect_with_fill"]["build_jobs"] == 0
    for r in by.values():
        assert {"analysis", "optimization", "planning"} <= set(r["catalyst_phases"])
        # a frame is analyzed while it is built; a larger figure means a
        # later action re-measured the phase and stretched its span
        assert r["catalyst_phases"]["analysis"] <= r["build_s"]
        assert r["collect_s"] >= 0
        assert r["job_totals"]["jobs"] >= 1
        assert "stream" not in r


def test_profile_tool_reports_a_streams_batches_and_phases(tmp_path):
    """A query whose build runs a stream reports its micro-batches and
    the listener's per-phase durations."""
    rec = _run_tool(tmp_path, ["stream_dedup_events"])["stream_dedup_events"]
    stream = rec["stream"]
    assert stream["batches"] == 1  # one data batch, no eviction-only batch
    phases = stream["phase_ms"]
    assert {"addBatch", "walCommit", "commitOffsets", "queryPlanning"} <= set(phases)
    assert 0 < phases["addBatch"] <= phases["triggerExecution"]


def test_no_tool_shadows_the_standard_library():
    """``python tools/X.py`` puts ``tools/`` first on ``sys.path``, so a
    tool named like a standard-library module replaces that module for
    every import in the process, pyspark's included."""
    stems = {f[:-3] for f in os.listdir(os.path.join(ROOT, "tools")) if f.endswith(".py")}
    assert not stems & sys.stdlib_module_names
