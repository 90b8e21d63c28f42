"""translate() golden differential and the call-site walker's nesting caps.

tests/data/translate_golden.json holds every SQL string the property
tests, the namespace walk and the registry's ch_dialect_* queries feed
translate(), plus edge cases for the eight call-site rewrite families,
each with sha256(output) or the exact refusal message. It was recorded
by tools/record_translate_golden.py on the commit before the families
moved onto one call-site walker; every case must still give the same
result, except the ones listed in _CAPPED.
"""

from __future__ import annotations

import hashlib
import json
import os

import pytest

from clickhouse_data_rebalance_spark.plans import ch_dialect
from clickhouse_data_rebalance_spark.plans.ch_dialect import (
    UnsupportedClickHouseSQL,
    translate,
)

GOLDEN = os.path.join(os.path.dirname(__file__), "data", "translate_golden.json")

_TRANSLATE_TOO_DEEP = (
    "translate calls nested more than 32 levels deep — "
    "precompute inner mappings as subquery/CTE columns"
)
_MULTIIF_TOO_DEEP = (
    "multiIf calls nested more than 32 levels deep — "
    "precompute inner branches as subquery/CTE columns"
)

# translate and multiIf had no nesting cap when the golden file was
# recorded; they now refuse past 32 levels like the other string families
_CAPPED = {
    "edge/translate/depth_33": _TRANSLATE_TOO_DEEP,
    "edge/multiIf/depth_33": _MULTIIF_TOO_DEEP,
}


def _result(sql: str, entry: str) -> dict:
    try:
        out = getattr(ch_dialect, entry)(sql)
    except UnsupportedClickHouseSQL as e:
        return {"error": str(e)}
    except Exception as e:  # noqa: BLE001 — compared against the record
        return {"crash": type(e).__name__}
    return {"sha256": hashlib.sha256(out.encode()).hexdigest()}


def test_translate_matches_golden():
    with open(GOLDEN) as f:
        cases = json.load(f)["cases"]
    assert len(cases) > 1000
    mismatches = []
    for case in cases:
        if case["id"] in _CAPPED:
            want = {"error": _CAPPED[case["id"]]}
        else:
            want = {k: case[k] for k in ("sha256", "error", "crash") if k in case}
        got = _result(case["sql"], case["entry"])
        if got != want:
            mismatches.append((case["id"], case["source"], want, got))
    assert not mismatches, f"{len(mismatches)} golden mismatches: {mismatches[:5]}"


# family pass, cap, one nesting level (inner text, level) -> text, and
# the refusal past the cap; least/greatest alternates because same-name
# chains flatten
_FAMILIES = [
    (
        "_rewrite_translate_family",
        32,
        lambda e, k: f"translate({e}, 'ab', 'cd')",
        _TRANSLATE_TOO_DEEP,
    ),
    (
        "_rewrite_split_family",
        32,
        lambda e, k: f"splitByChar(',', {e})",
        "splitBy* calls nested more than 32 levels deep",
    ),
    (
        "_rewrite_multiif",
        32,
        lambda e, k: f"multiIf(c > {k}, {e}, 0)",
        _MULTIIF_TOO_DEEP,
    ),
    (
        "_rewrite_least_greatest",
        8,
        lambda e, k: f"{'least' if k % 2 else 'greatest'}(a{k}, {e})",
        "least/greatest ALTERNATING more than 8 levels deep",
    ),
    (
        "_rewrite_concat_with_separator",
        16,
        lambda e, k: f"concatWithSeparator('-', s{k}, {e})",
        "concatWithSeparator nested more than 16 levels deep",
    ),
    (
        "_rewrite_substring_family",
        32,
        lambda e, k: f"substring({e}, 2)",
        "substring calls nested more than 32 levels deep",
    ),
    (
        "_rewrite_case_family",
        32,
        lambda e, k: f"{'lower' if k % 2 else 'upperUTF8'}({e})",
        "case-folding calls nested more than 32 levels deep",
    ),
    (
        "_rewrite_membership",
        32,
        lambda e, k: f"has(arr{k}, {e})",
        "has/indexOf calls nested more than 32 levels deep",
    ),
]


def _nested(wrap, depth: int) -> str:
    e = "s"
    for k in range(depth):
        e = wrap(e, k)
    return f"SELECT {e} FROM t"


@pytest.mark.parametrize(
    "family,cap,wrap,too_deep", _FAMILIES, ids=[f[0] for f in _FAMILIES]
)
def test_nesting_cap_refuses_instead_of_crashing(family, cap, wrap, too_deep):
    # at the cap the family pass rewrites (through the family pass alone:
    # the concatWithSeparator guard's 2^16 expansion would take the rest
    # of translate() tens of seconds); one level past it translate()
    # refuses with the family's message, and so does a 2000-deep chain —
    # never a RecursionError
    out = getattr(ch_dialect, family)(_nested(wrap, cap))
    assert out.startswith("SELECT ") and out.endswith(" FROM t")
    for depth in (cap + 1, 2000):
        with pytest.raises(UnsupportedClickHouseSQL) as exc:
            translate(_nested(wrap, depth))
        assert too_deep in str(exc.value)
