#!/usr/bin/env bash
# Round-end checklist: everything that must be green before the driver's
# verify/judge pass. Run from the repo root:
#
#   bash tools/round_checklist.sh
#
# 1. full pytest suite (unit + property + plan-quality + oracle diff),
#    the same tier-1 command ROADMAP.md gives: all cores, a scratch
#    spark.local.dir, a hard timeout and no pytest cache
# 2. driver simulation from a plain session, cwd OUTSIDE the repo
#    (exercises tune_session self-shipping; see .claude/skills/verify)
# 3. bench + regression canary vs the last committed local bench
#    (hardware-normalized via cal_spin_sec)
# 4. perfbench smoke: one untraced run of each workload BENCHMARK.json
#    declares (resize, curate); fails unless the run reports correct and
#    no failed op
set -euo pipefail
cd "$(dirname "$0")/.."

echo "== 1/4 pytest =="
SPARK_GRAFT_CPUS="$(env -u OMP_NUM_THREADS nproc)" SPARK_LOCAL_DIRS=/tmp/spark-local \
    timeout -k 10 2670 python -m pytest tests/ -q \
    --continue-on-collection-errors -p no:cacheprovider

echo "== 2/4 driver simulation =="
drive="$PWD/tools/drive_entry.py"
(cd /tmp && timeout 900 python "$drive" | tail -2)

echo "== 3/4 bench canary =="
python tools/bench_canary.py

echo "== 4/4 perfbench smoke =="
for w in resize curate; do
    log="/tmp/perfbench-smoke-$w.log"
    python3 perfbench/run.py --workload "$w" --seed 1 --seconds 10 --trace 0 2>"$log" |
        tail -1 | python3 -c 'import json, sys
r = json.load(sys.stdin)
ok = r["correct"] is True and r["failed"] == 0
print(sys.argv[1], "correct:", r["correct"], "failed:", r["failed"])
sys.exit(0 if ok else 1)' "$w" ||
        { echo "perfbench $w smoke failed; its stderr is in $log" >&2; exit 1; }
done

echo "ROUND CHECKLIST: ALL GREEN"
