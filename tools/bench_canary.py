#!/usr/bin/env python
"""Bench-regression canary (VERDICT r4 task 6).

Runs bench.py fresh and compares per-query times against the newest
committed tools/bench_local_r*.json. Fails (exit 1) if any query is
>1.5x its reference time after hardware normalization, so a plan
regression is caught BEFORE commit instead of by diffing driver JSONs a
round later.

Hardware normalization: boxes differ ~1.5x between rounds with identical
plans (see tools/bench_ab_r05.json @ ff71c85). When both JSONs carry
``cal_spin_sec`` (bench.py publishes it), times are scaled by the spin
ratio first; without it the raw ratio is used and a warning printed.

Caveat: the calibration is sampled once at bench start, but box speed
also drifts WITHIN a run — so treat a flag as a lead, not a verdict:
re-time the flagged query solo (min of 4) before concluding a plan
regressed. Two r5 flags dissolved exactly this way.

Usage: python tools/bench_canary.py [--against FILE] [--threshold 1.5]
       python tools/bench_canary.py --compare NEW.json  (no fresh run)
"""

from __future__ import annotations

import argparse
import glob
import json
import os
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def newest_reference() -> str:
    # newest file that IS a bench record (side artifacts such as
    # tools/bench_local_r09_anchor_runs.json @ ff71c85 sort after the
    # record and carry no "queries" map — skip them)
    cands = sorted(glob.glob(os.path.join(REPO, "tools", "bench_local_r*.json")))
    for p in reversed(cands):
        try:
            if isinstance(json.load(open(p)).get("queries"), dict):
                return p
        except (OSError, json.JSONDecodeError):
            continue
    sys.exit("no tools/bench_local_r*.json bench record to compare against")


def run_fresh() -> dict:
    out = subprocess.run(
        [sys.executable, os.path.join(REPO, "bench.py")],
        capture_output=True, text=True, check=False,
    )
    lines = [l for l in out.stdout.splitlines() if l.startswith("{")]
    if out.returncode != 0 or not lines:
        sys.exit(f"bench.py failed rc={out.returncode}:\n{out.stderr[-2000:]}")
    return json.loads(lines[-1])


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--against", default=None)
    ap.add_argument("--threshold", type=float, default=1.5)
    ap.add_argument("--compare", default=None,
                    help="compare this bench JSON instead of running fresh")
    args = ap.parse_args()

    ref_path = args.against or newest_reference()
    ref = json.load(open(ref_path))
    new = json.load(open(args.compare)) if args.compare else run_fresh()

    scale = 1.0
    if ref.get("cal_spin_sec") and new.get("cal_spin_sec"):
        scale = ref["cal_spin_sec"] / new["cal_spin_sec"]
        print(f"hardware normalization: x{scale:.3f} "
              f"(ref spin {ref['cal_spin_sec']}s, new spin {new['cal_spin_sec']}s)")
    else:
        print("WARNING: no cal_spin_sec in one of the JSONs — raw comparison "
              "(cross-box runs may false-alarm)")

    # A flag requires BOTH the raw and the cal-normalized ratio above
    # the threshold (r15, tools/ab_r15.md @ ff71c85): the single-core
    # spin and the 32-thread workload DECOUPLE — r14's box was 2x slower by
    # spin with flat raw times (raw-only would false-alarm), r15's box
    # turbos the spin while the workload holds (normalized-only
    # false-alarmed 8 queries whose raw times were all FASTER). A real
    # plan regression on a comparable box inflates both. Flags remain
    # leads, not verdicts: solo re-time (min of 4) before concluding.
    regressions = []
    for name, t_ref in ref["queries"].items():
        t_new = new["queries"].get(name)
        if t_new is None or not t_ref:
            continue
        norm = (t_new * scale) / t_ref
        raw = t_new / t_ref
        hit = norm > args.threshold and raw > args.threshold
        flag = " <-- REGRESSION" if hit else ""
        print(f"{name:32s} ref={t_ref:6.3f} new={t_new:6.3f} "
              f"raw_x{raw:.2f} norm_x{norm:.2f}{flag}")
        if hit:
            regressions.append((name, round(raw, 2), round(norm, 2)))

    tot = sum(new["queries"].values())
    print(f"total: ref={ref['value']}s new={round(tot, 3)}s")
    if regressions:
        print(f"FAIL: {len(regressions)} quer{'y' if len(regressions) == 1 else 'ies'} "
              f">{args.threshold}x raw AND normalized: {regressions}")
        sys.exit(1)
    print("OK: no per-query regression above threshold (raw AND normalized)")


if __name__ == "__main__":
    main()
