"""translate() golden differential and the call walk's nesting caps.

tests/data/translate_golden.json holds every SQL string the property
tests, the namespace walk and the registry's ch_dialect_* queries feed
translate(), plus edge cases for the eight raw-argument call families,
each with sha256(output) or the exact refusal message. It was recorded
by tools/record_translate_golden.py before the families shared one
call-site walker. Every case replays through translate() — the
concatWithSeparator depth 15/16 cases too, which were recorded through
their family's pass alone — and must still give the same result, except
the ones listed below:

- _CAPPED: translate and multiIf gained the 32-level cap;
- _NOW_TRANSLATES and _REPLACE_ONE_FIXED: cases that moved when the
  function table became one name-keyed call table applied in one walk;
- _BUDGET_AS_WRITTEN and _HINTS: cases that moved when every function
  call, the raw-argument families included, became an entry of that
  walk, so the one-paren argument budget reads the arguments as written;
- _NO_TEXTUAL: a refusal quotes the statement text it refused, where the
  record quotes the refusing regex (same hint);
- _ESCAPED_QUOTE: a refusal that went when one lexer began to read a
  backslash-escaped quote as part of its literal.
"""

from __future__ import annotations

import ast
import hashlib
import json
import os
import re

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

# Refusals in the record that now translate: the call table walks
# arguments before their call, so a same-name nesting the old
# single-pass regex left half-rewritten translates level by level.
# id -> sha256 of the translation now.
_NOW_TRANSLATES = {
    # toUInt32(toUInt32(y)) and its siblings
    "captured/63": "fa5911cb8c467b161120575d64725d900b8a3b3602b7dc806d48fe773b7688fd",
    "captured/88": "5f5f6af01980d76fd345388b22f928749adbefd69e21dc88e74f8cd93dc934f6",
    "captured/112": "d7435ddb07629b9bc9a4c668ee90030c4af7cfe1c01950a67dc22f832ef5a0f4",
    "captured/125": "a58dfafd5a6e0d2a9693782d359e6d4a8d0769f7d6f4753d57890d5fe48be34a",
    # uniqExact(uniqExact(...))
    "captured/102": "fe3eb9c5358dc3699bd70c48614d0adf5a2b460693c21673a13b7f316ab5e703",
    "captured/160": "70e7314dae5358cf3d1394fbdc46d009e7ebd6a57fd4a0cd460f7e294a9d9096",
    "captured/163": "10e59831afac7c3c3ecc4837321cdec28cb6e40a90fec52ac8c6b6e4c5decbb9",
    "captured/167": "d0071bebc8081a7008ac43b21c4abef678319f6be5798bf00cd958bce0fbc490",
    # toString(toString(...))
    "captured/114": "b920d1cd3761900b7590a3f04df8199e8fc18f5f3714d4ba44407c7313aeb13a",
    "captured/139": "fc734d4b7a7ade93c31a753c40d8415f1c36f1dd5101fb38cada26770eed5792",
    "captured/156": "41b508babbed82c6713b953339e051f84f08895b9139d242f84e6f3b24563c2d",
    # toStartOfDay(toStartOfDay(...))
    "captured/136": "2c6aa9423224a907d8884e04a63bb0fe5e0c45a0611a2f68df89fcf2c2d012f2",
    "captured/153": "a057d2a87bd1185cfe96e980f1cba88af0c7dbb4e251644b77ece159b32827ed",
    # MD5(MD5(s)), hex(hex(x))
    "captured/722": "79c74fdfda0966b5c6f16db36a06ec12c4a496d785d7e5892d3b8ea32e86126b",
    "captured/723": "87e6fb1d8d4c4772718321aa5f7085f0e39e080f8f0677fa61dbc45f3970f847",
}
# The replaceOne multibyte fix: a later entry of the old table rewrote
# the emitted length( to octet_length(, mixing a byte count into
# character positions (replaceOne('café!', 'é', 'x') gave 'cafx');
# emitted text is now never rescanned. id -> sha256 now.
_REPLACE_ONE_FIXED = {
    "captured/858": "043d023a97374f4b1181a9ad480cfb14e484f6d9bfaeb77bd05f7e1a6c71db14",
    "captured/859": "48cd614fff6b261af147724d2e58bdc10082c27e58c51dbf1115f06ba648bd98",
    "captured/1062": "162b7cc5613d2224faf09e653783285d27410885b1905519270b484b35a6fd0f",
    "captured/1462": "19022fcdfebcd07a8015b1bbb4408863eb5ffbfe37ae1dd35b7fe557b41b5f2b",
}


# Refusals in the record that now translate because the argument budget
# of the entry around them reads the argument as written: the record's
# pass order expanded a least/greatest guard or a has() lambda first and
# measured the budget on that expansion. The guard is now applied inside
# the argument (tests/test_properties.py runs each against hand-computed
# values; intDiv over has()'s boolean fails Spark's analysis loudly, as
# intDiv(equals(a, b), 7) already did). id -> sha256 now.
_BUDGET_AS_WRITTEN = {
    # toUInt32(has(tags, ts|x)), intDiv(has(tags, x), 7)
    "captured/116": "5572f4cd80e9eb2ffc582359035b5660688909d76fa257b442f771bc875fb321",
    "captured/117": "5eb17323923f9b80c8540e00c82432bf02d772cb3fe57e4caa19d49fd2e63b4b",
    "captured/141": "324375d6351143170fa170501d80aa2c5d39e1111305e05e129d4764ac24be25",
    # sumIf(least(a, b), c > 0), quantileExact(0.5)(least(a, b)),
    # range(least(a, b))
    "captured/469": "0ecb4a89b452b583907e1061985075f6896fe3b43e4f60a3bba0302e64b3deff",
    "captured/470": "d5d97e0b86dcfb8e5d423290dc5270fe529cb76163b667047251c3d0a282b240",
    "captured/664": "28655376ce1d0402ea0bf032de1f166ed64e0d67b7beed6b66336e1c713ef5af",
}
# The escaped-quote refusal (the literal scanner split 'it\'s' at the
# escaped quote) is gone: the lexer reads \' inside the literal, an
# escape both engines decode to a quote. id -> sha256 now.
_ESCAPED_QUOTE = {
    "captured/679": "1e1440ac100302bfb1a582bc385a94f5a812c024b7cb0068742eef627bb9f036",
}
# Refusal texts that changed in every recorded case carrying them: the
# residual hint no longer says a guarded least/greatest argument defeats
# the budget (it no longer does), and the Or-converter hint lost its
# release tag. recorded text -> text now.
_HINTS = {
    " (a NULL-guarded least/greatest argument expands past the rewriter's "
    "nesting budget — flattening alone will not help there)": "",
    "translate since r13 (": "translate (",
}
# "'<refused text>' has no textual Spark equivalent — <hint>": the record
# quotes the refusing regex's source; the text quoted now is the input at
# the span the refusal matched
_NO_TEXTUAL = re.compile(r"(.+?) has no textual Spark equivalent — (.*)", re.S)


def _result(sql: str) -> dict:
    try:
        out = translate(sql)
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
        elif case["id"] in _NOW_TRANSLATES:
            assert "error" in case, case["id"]
            want = {"sha256": _NOW_TRANSLATES[case["id"]]}
        elif case["id"] in _REPLACE_ONE_FIXED:
            assert "sha256" in case, case["id"]
            want = {"sha256": _REPLACE_ONE_FIXED[case["id"]]}
        elif case["id"] in _BUDGET_AS_WRITTEN | _ESCAPED_QUOTE:
            assert "error" in case, case["id"]
            want = {"sha256": (_BUDGET_AS_WRITTEN | _ESCAPED_QUOTE)[case["id"]]}
        else:
            want = {k: case[k] for k in ("sha256", "error", "crash") if k in case}
            for recorded, now in _HINTS.items():
                if "error" in want:
                    want["error"] = want["error"].replace(recorded, now)
        got = _result(case["sql"])
        was = _NO_TEXTUAL.fullmatch(want.get("error", ""))
        is_ = _NO_TEXTUAL.fullmatch(got.get("error", ""))
        if was and is_ and was[2] == is_[2]:
            quoted = ast.literal_eval(is_[1])
            if quoted and quoted in case["sql"]:
                continue
        if got != want:
            mismatches.append((case["id"], case["source"], want, got))
    assert not mismatches, f"{len(mismatches)} golden mismatches: {mismatches[:5]}"


# family label (the test id), cap, one nesting level (inner text, level)
# -> text, and the refusal past the cap; least/greatest alternates
# because same-name chains flatten
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
        "splitBy* calls nested more than 32 levels deep — "
        "precompute inner splits as subquery/CTE columns",
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
        "least/greatest ALTERNATING more than 8 levels deep — the "
        "NULL-propagation guard doubles per mixed level (same-name "
        "chains flatten and never hit this); precompute inner "
        "min/max steps as subquery/CTE columns and compose those",
    ),
    (
        "_rewrite_concat_with_separator",
        16,
        lambda e, k: f"concatWithSeparator('-', s{k}, {e})",
        "concatWithSeparator nested more than 16 levels deep — "
        "precompute inner concatenations as subquery/CTE columns",
    ),
    (
        "_rewrite_substring_family",
        32,
        lambda e, k: f"substring({e}, 2)",
        "substring calls nested more than 32 levels deep — "
        "precompute inner slices as subquery/CTE columns",
    ),
    (
        "_rewrite_case_family",
        32,
        lambda e, k: f"{'lower' if k % 2 else 'upperUTF8'}({e})",
        "case-folding calls nested more than 32 levels deep — "
        "precompute inner folds as subquery/CTE columns",
    ),
    (
        "_rewrite_membership",
        32,
        lambda e, k: f"has(arr{k}, {e})",
        "has/indexOf calls nested more than 32 levels deep — "
        "precompute inner lookups as subquery/CTE columns",
    ),
    (
        "_rewrite_table_calls",
        32,
        lambda e, k: f"{'arrayReverse' if k % 2 else 'arraySort'}({e})",
        "function calls nested more than 32 levels deep — "
        "precompute inner expressions as subquery/CTE columns",
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
    # at the cap translate() rewrites every level (the concatWithSeparator
    # guard's 2^16 expansion included: nothing rescans emitted text); one
    # level past it translate() refuses with the family's exact message,
    # and so does a 2000-deep chain — never a RecursionError
    out = translate(_nested(wrap, cap))
    assert out.startswith("SELECT ") and out.endswith(" FROM t")
    for depth in (cap + 1, 2000):
        with pytest.raises(UnsupportedClickHouseSQL) as exc:
            translate(_nested(wrap, depth))
        assert str(exc.value) == too_deep


def test_same_name_chain_flattens_in_one_scan(monkeypatch):
    # a 2000-deep least(least(...), k) chain flattens with every
    # character scanned a bounded number of times; re-splitting the rest
    # of the chain at each level was quadratic (1000 deep: 1.4 s)
    chain = "x"
    for k in range(2000):
        chain = f"least({chain}, k{k})"
    scanned = []

    def spy(scan):
        def counted(s):
            scanned.append(len(s))
            return scan(s)

        return counted

    for name in ("_split_top_level_args", "_bracket_scan"):
        if hasattr(ch_dialect, name):
            monkeypatch.setattr(ch_dialect, name, spy(getattr(ch_dialect, name)))
    leaves = ch_dialect._lg_leaves("least", chain)
    assert leaves == ["x", *(f"k{k}" for k in range(2000))]
    assert 0 < sum(scanned) <= 2 * len(chain)


def test_bracket_rewrite_lexes_once(monkeypatch):
    # the bracket rewrite reads every bracket off one lexing; re-masking
    # the statement for each '[' made it quadratic in the index count
    sql = "SELECT " + ", ".join(f"arr[{k}]" for k in range(1, 2001)) + " FROM t"
    lexed = []
    lex = ch_dialect._bracket_scan
    monkeypatch.setattr(
        ch_dialect, "_bracket_scan", lambda s: lexed.append(s) or lex(s)
    )
    out = ch_dialect._rewrite_brackets(sql)
    assert lexed == [sql]
    want = (f"try_element_at(arr, nullif({k}, 0))" for k in range(1, 2001))
    assert out == "SELECT " + ", ".join(want) + " FROM t"


def test_translate_lexes_unchanged_text_once():
    # every pass of translate() reads a lexing; a pass that leaves the
    # text as it was must not make the next one lex it again
    ch_dialect._bracket_scan.cache_clear()
    assert translate("SELECT a, b FROM t WHERE c = 'x' ORDER BY a") == (
        "SELECT a, b FROM t WHERE c = 'x' ORDER BY a"
    )
    assert ch_dialect._bracket_scan.cache_info().misses == 1


def test_one_lexer_reads_quotes_and_brackets():
    """_bracket_scan is the one reader of quote and bracket syntax: the
    literal regex and the paren scanner beside it are gone, and no other
    function keeps a depth counter or compares a character to a quote
    (_extract_group_index reads regex syntax, not SQL)."""
    assert not hasattr(ch_dialect, "_LITERAL")
    assert not hasattr(ch_dialect, "_scan_to_close")
    with open(ch_dialect.__file__) as f:
        tree = ast.parse(f.read())
    readers = set()
    for fn in ast.walk(tree):
        if not isinstance(fn, ast.FunctionDef) or fn.name in (
            "_bracket_scan",
            "_extract_group_index",
        ):
            continue
        for n in ast.walk(fn):
            if isinstance(n, ast.AugAssign) and getattr(n.target, "id", "") == "depth":
                readers.add(fn.name)
            if isinstance(n, ast.Compare) and any(
                isinstance(x, ast.Constant) and x.value == "'"
                for x in (n.left, *n.comparators)
            ):
                readers.add(fn.name)
    assert not readers, f"scanners beside the lexer: {sorted(readers)}"


@pytest.mark.parametrize(
    "sql,quoted",
    [
        ("SELECT cityHash64 (s) FROM t", "cityHash64 ("),
        ("SELECT quantileTDigest(0.5)(x) FROM t", "quantileTDigest("),
        ("SELECT generateUUIDv7() FROM t", "generateUUIDv7("),
        ("SELECT 'format(' AS q, FORMAT(s) FROM t", "FORMAT("),
        ("SELECT x FROM t SAMPLE 0.1", "SAMPLE 0"),
    ],
)
def test_refusal_quotes_the_refused_text(sql, quoted):
    with pytest.raises(UnsupportedClickHouseSQL) as exc:
        translate(sql)
    assert str(exc.value).startswith(f"{quoted!r} has no textual Spark equivalent — ")


def test_no_call_table_name_is_refused_by_name():
    assert not [k for k in ch_dialect._CALLS if ch_dialect._refusal(f"{k}(x)")]


def _regex_head(node: ast.expr) -> str:
    """The literal text a regex argument starts with (f-strings up to
    their first placeholder, concatenations by their left operand)."""
    while isinstance(node, ast.BinOp):
        node = node.left
    if isinstance(node, ast.Constant) and isinstance(node.value, str):
        return node.value
    if isinstance(node, ast.JoinedStr):
        head = ""
        for part in node.values:
            if not isinstance(part, ast.Constant):
                break
            head += part.value
        return head
    return ""


def _calls_to(tree: ast.AST, name: str) -> list[ast.Call]:
    return [
        n
        for n in ast.walk(tree)
        if isinstance(n, ast.Call) and getattr(n.func, "id", None) == name
    ]


def test_the_call_table_is_the_only_call_rewriter():
    """No regex in ch_dialect.py heads on a call-table name — a second
    per-name rewrite growing back beside the table — except the refusal
    lists, which refuse such names on purpose; function names are refused
    through the one name table, so _REFUSALS keeps at most 12 clause and
    argument shapes and none of them is a bare call head; translate()
    loops over no (pattern, replacement) list but the clause list, makes
    one call walk and otherwise runs only the clause passes; the walk has
    one caller; and _sub_outside_literals runs only in the clause loop
    and in the dictGet rewrite."""
    with open(ch_dialect.__file__) as f:
        tree = ast.parse(f.read())
    refusal_lists = {"_REFUSALS", "_REFUSED_CALLS", "_RESIDUALS"}
    refusal_lines = set()
    for node in tree.body:
        if isinstance(node, (ast.Assign, ast.AnnAssign)):
            targets = node.targets if isinstance(node, ast.Assign) else [node.target]
            if {getattr(t, "id", None) for t in targets} & refusal_lists:
                refusal_lines |= set(range(node.lineno, node.end_lineno + 1))
    head = re.compile(r"\\b\(?(?:\?:)?((?:\w+\|)*\w+)\)?\\s\*\\\(")
    named = {}
    for node in ast.walk(tree):
        if (
            isinstance(node, ast.Call)
            and isinstance(node.func, ast.Attribute)
            and getattr(node.func.value, "id", None) == "re"
            and node.args
            and node.lineno not in refusal_lines
        ):
            m = head.match(_regex_head(node.args[0]))
            for name in m.group(1).split("|") if m else ():
                if name.lower() in ch_dialect._CALLS:
                    named[name] = node.lineno
    assert not named, f"per-name call regexes beside the call table: {named}"
    assert len(ch_dialect._REFUSALS) <= 12
    heads = [p.pattern for p, _ in ch_dialect._REFUSALS if p.pattern.endswith(r"\s*\(")]
    assert not heads, f"call-name refusals beside _REFUSED_CALLS: {heads}"

    translate_def = next(
        n for n in tree.body if isinstance(n, ast.FunctionDef) and n.name == "translate"
    )
    pair_lists = {
        n.iter.id
        for n in ast.walk(translate_def)
        if isinstance(n, ast.For)
        and isinstance(n.iter, ast.Name)
        and all(
            isinstance(e, tuple) and len(e) == 2 and isinstance(e[0], re.Pattern)
            for e in getattr(ch_dialect, n.iter.id, [None])
        )
    }
    assert pair_lists == {"_CLAUSES"}
    assert len(ch_dialect._CLAUSES) <= 10
    clause_loop = next(
        n
        for n in ast.walk(translate_def)
        if isinstance(n, ast.For) and getattr(n.iter, "id", None) == "_CLAUSES"
    )
    inside = {id(n) for n in ast.walk(clause_loop)}
    defs = {n.name: n for n in tree.body if isinstance(n, ast.FunctionDef)}
    dict_get = {id(n) for n in ast.walk(defs["_apply_dict_get"])}
    subs = _calls_to(tree, "_sub_outside_literals")
    assert subs and all(id(n) in inside | dict_get for n in subs)
    assert any(id(n) in inside for n in subs)

    passes = {
        n.func.id
        for n in ast.walk(translate_def)
        if isinstance(n, ast.Call)
        and getattr(n.func, "id", "").startswith("_rewrite_")
    }
    assert passes == {
        "_rewrite_limit_by",
        "_rewrite_limit_ties",
        "_rewrite_brackets",
        "_rewrite_totals",
        "_rewrite_array_join_zip",
        "_rewrite_table_calls",
    }
    assert len(_calls_to(translate_def, "_rewrite_table_calls")) == 1
    walks = _calls_to(tree, "_rewrite_calls")
    table_calls = {id(n) for n in ast.walk(defs["_rewrite_table_calls"])}
    assert len(walks) == 1 and id(walks[0]) in table_calls


def test_survivor_rules_read_the_walk_record():
    """After the call walk, translate() reads only the calls the walk
    reports as kept: it makes no _CALL_HEAD scan and no _mask_literals
    call over its own output, and no survivor rule looks at the text
    before a head (a slice of the text, or a match's start offset) — the
    walk already knows which calls it emitted."""
    with open(ch_dialect.__file__) as f:
        tree = ast.parse(f.read())
    translate_def = next(
        n for n in tree.body if isinstance(n, ast.FunctionDef) and n.name == "translate"
    )
    (walk,) = _calls_to(translate_def, "_rewrite_table_calls")
    after = [
        n
        for n in ast.walk(translate_def)
        if getattr(n, "lineno", 0) > walk.end_lineno
    ]
    rescans = [
        n.lineno
        for n in after
        if isinstance(n, ast.Name) and n.id in ("_CALL_HEAD", "_mask_literals")
    ]
    assert not rescans, f"translate() rescans its output at lines {rescans}"
    peeks = [
        n.lineno
        for n in after
        if isinstance(n, ast.Slice)
        or isinstance(n, ast.Attribute)
        and n.attr in ("start", "span")
    ]
    assert not peeks, f"survivor rules read text around a head at lines {peeks}"


@pytest.mark.parametrize(
    "call,spark",
    [
        ("toString()", None),
        ("toYear()", None),
        ("sumCount()", None),
        ("toStartOfWeek()", None),
        ("hex()", None),
        ("today()", "current_date()"),
        ("now( )", "current_timestamp()"),
        ("count()", "count(*)"),
        ("rand()", "CAST(floor(rand() * 4294967296) AS BIGINT)"),
    ],
)
def test_empty_argument_list_refuses_unless_argless(call, spark):
    # an empty argument list is no arguments: a call that takes some
    # refuses instead of emitting a half-bound template like CAST( AS
    # STRING); the argument-less forms still translate
    if spark is None:
        with pytest.raises(UnsupportedClickHouseSQL, match="without arguments"):
            translate(f"SELECT {call} FROM t")
    else:
        assert translate(f"SELECT {call} FROM t") == f"SELECT {spark} FROM t"
