"""Driver simulation: fresh plain session, entry() twice, every queries()
entry vs its DuckDB oracle at sf0.01 (full value compare). Run from /tmp.
"""

import os
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from pyspark.sql import SparkSession  # noqa: E402

spark = (
    SparkSession.builder.master("local[8]")
    .appName("drive-entry-sim")
    .getOrCreate()
)

import __spark_entry__ as e  # noqa: E402

rows = e.entry(spark).collect()
assert len(rows) == 6, f"entry() expected 6 rows, got {len(rows)}"
rows2 = e.entry(spark).collect()
assert len(rows2) == 6, "entry() re-entrancy failed"
print(f"entry(): {len(rows)} rows, re-entrant OK", flush=True)

sys.path.insert(0, os.path.join(ROOT, "tests"))
from oracle_harness import compare, duck_connection  # noqa: E402

SF = "/root/testdata/sf0.01"
duck = duck_connection(SF)
qs = e.queries()
oracles = e.oracle_sql()
t0 = time.time()
fails = []
for i, (name, fn) in enumerate(qs.items()):
    try:
        df = fn(spark, SF)
        if name in oracles:
            compare(df, duck, oracles[name], name=name)
        else:
            n = df.count()
            assert n >= 0 and len(df.columns) > 0
    except Exception as ex:  # noqa: BLE001
        fails.append((name, str(ex)[:300]))
        print(f"FAIL {name}: {str(ex)[:300]}", flush=True)
    if (i + 1) % 25 == 0:
        print(f"  ... {i+1}/{len(qs)} in {time.time()-t0:.0f}s", flush=True)

print(f"checked {len(qs)} queries ({len(oracles)} oracled) in {time.time()-t0:.0f}s")
if fails:
    print(f"FAILURES: {len(fails)}: {[n for n, _ in fails]}")
    sys.exit(1)
print("DRIVER SIMULATION: ALL GREEN")
