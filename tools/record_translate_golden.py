#!/usr/bin/env python
"""Record the translate() golden file that tests/test_translate_golden.py
replays.

The inputs are every SQL string that ``ch_dialect.translate`` receives
while these run in one process:

- the tier-1 tests in tests/test_properties.py and
  tests/test_ch_namespace_walk.py;
- every registered ``ch_dialect_*`` query, built at sf0.001;
- the hand-written edge cases below for the eight raw-argument call
  families of the call walk (heads inside string literals, 40 and 200
  siblings, nesting at cap - 1, cap and cap + 1, unbalanced parentheses,
  wrong arity).

For each input it records ``sha256`` of the output or the exact refusal
message (``error``). Record on the commit whose behaviour is to be
pinned, then commit the JSON:

    python tools/record_translate_golden.py \\
        [--out tests/data/translate_golden.json] [--sf-dir DIR]
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from clickhouse_data_rebalance_spark.plans import ch_dialect  # noqa: E402

# family -> (cap, wrap(inner, level) for one nesting level, one valid
# call, an unbalanced call, a wrong-arity call, a call whose head sits
# inside a string literal next to a real call)
FAMILIES = {
    "translate": (
        32,
        lambda e, k: f"translate({e}, 'ab', 'cd')",
        "translate(s, 'ab', 'cd')",
        "translate(s, 'ab', 'cd'",
        "translate(s, 'ab')",
        "'translate(s, ''ab''' AS q, translateUTF8(s, 'ab', 'cd')",
    ),
    "split": (
        32,
        lambda e, k: f"splitByChar(',', {e})",
        "splitByChar(',', s)",
        "splitByString(', ', s",
        "splitByChar(',', s, 2)",
        "'splitByChar(' AS q, splitByString('::', s)",
    ),
    "multiIf": (
        32,
        lambda e, k: f"multiIf(c > {k}, {e}, 0)",
        "multiIf(c > 0, 1, c < 0, -1, 0)",
        "multiIf(c > 0, 1, 0",
        "multiIf(c > 0, 1)",
        "'multiIf(c, 1' AS q, multiIf(c > 0, 'a', 'b')",
    ),
    "least_greatest": (
        8,
        lambda e, k: f"{'least' if k % 2 else 'greatest'}(a{k}, {e})",
        "greatest(a, b, least(c, d))",
        "least(a, b",
        "least(a)",
        "'greatest(a' AS q, least(a, 'b)')",
    ),
    "concatWithSeparator": (
        16,
        lambda e, k: f"concatWithSeparator('-', s{k}, {e})",
        "concatWithSeparator('-', a, b)",
        "concatWithSeparatorAssumeInjective('-', a, b",
        "concatWithSeparator('-')",
        "'concatWithSeparator(' AS q, concatWithSeparator(',', a, 'x)')",
    ),
    "substring": (
        32,
        lambda e, k: f"substring({e}, 2)",
        "substringUTF8(s, 2, 3)",
        "mid(s, 2",
        "substr(s)",
        "'substring(s, 0)' AS q, substr(s, -4, 4)",
    ),
    "case": (
        32,
        lambda e, k: f"{'lower' if k % 2 else 'upperUTF8'}({e})",
        "lowerUTF8(s)",
        "upper(s",
        "lower(s, t)",
        "'lower(' AS q, upper('a)b')",
    ),
    "membership": (
        32,
        lambda e, k: f"has(arr{k}, {e})",
        "indexOf(arr, x)",
        "has(arr, x",
        "has(arr)",
        "'has(arr' AS q, indexOf(arr, 'x)')",
    ),
}


def nested(family: str, depth: int) -> str:
    """``depth`` calls of ``family``, each inside the previous one."""
    wrap = FAMILIES[family][1]
    e = "s"
    for k in range(depth):
        e = wrap(e, k)
    return f"SELECT {e} FROM t"


def edge_cases() -> list[tuple[str, str]]:
    """(id, sql) pairs."""
    cases = []
    for fam, (cap, _, call, unbalanced, arity, in_literal) in FAMILIES.items():
        cases.append((f"{fam}/literal_head", f"SELECT {in_literal} FROM t"))
        for n in (40, 200):
            body = ", ".join(f"{call} AS c{i}" for i in range(n))
            cases.append((f"{fam}/siblings_{n}", f"SELECT {body} FROM t"))
        for d in (cap - 1, cap, cap + 1):
            cases.append((f"{fam}/depth_{d}", nested(fam, d)))
        cases.append((f"{fam}/unbalanced", f"SELECT {unbalanced} FROM t"))
        cases.append((f"{fam}/arity", f"SELECT {arity} FROM t"))
    return cases


def result(sql: str) -> dict:
    try:
        out = ch_dialect.translate(sql)
    except ch_dialect.UnsupportedClickHouseSQL as e:
        return {"error": str(e)}
    except Exception as e:  # noqa: BLE001 — the record keeps any crash
        return {"crash": type(e).__name__}
    return {"sha256": hashlib.sha256(out.encode()).hexdigest()}


def capture(sf_dir: str) -> dict[str, str]:
    """Run the two test files and build every ch_dialect_* query with
    translate() wrapped; return {sql: first test or query that fed it}."""
    import pytest

    seen: dict[str, str] = {}
    real = ch_dialect.translate
    query = ""

    def recording(ch_sql: str) -> str:
        test = os.environ.get("PYTEST_CURRENT_TEST", "").rsplit(" ", 1)[0]
        seen.setdefault(ch_sql, test or query)
        return real(ch_sql)

    ch_dialect.translate = recording
    try:
        rc = pytest.main(
            [
                os.path.join(ROOT, "tests", "test_properties.py"),
                os.path.join(ROOT, "tests", "test_ch_namespace_walk.py"),
                "-q",
                "-p",
                "no:cacheprovider",
            ]
        )
        if rc != 0:
            raise SystemExit(f"the tests failed (exit {rc}); nothing recorded")
        from clickhouse_data_rebalance_spark import registry
        from clickhouse_data_rebalance_spark.session import get_spark

        spark = get_spark("record-translate-golden")
        for name, fn in registry.ordered_queries().items():
            if name.startswith("ch_dialect_"):
                query = f"registry::{name}"
                fn(spark, sf_dir)
    finally:
        ch_dialect.translate = real
    return seen


def main() -> None:
    from tests.conftest import SF_SMALL

    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument(
        "--out", default=os.path.join(ROOT, "tests", "data", "translate_golden.json")
    )
    ap.add_argument("--sf-dir", default=SF_SMALL)
    args = ap.parse_args()

    cases = [
        {"id": f"edge/{cid}", "source": "edge", "sql": sql}
        for cid, sql in edge_cases()
    ]
    captured = capture(args.sf_dir)
    for k, (sql, src) in enumerate(captured.items()):
        cases.append({"id": f"captured/{k}", "source": src, "sql": sql})
    for c in cases:
        c.update(result(c["sql"]))
    os.makedirs(os.path.dirname(args.out), exist_ok=True)
    with open(args.out, "w") as f:
        json.dump({"cases": cases}, f, indent=0, ensure_ascii=False)
        f.write("\n")
    print(f"{len(cases)} cases ({len(captured)} captured) -> {args.out}")


if __name__ == "__main__":
    main()
