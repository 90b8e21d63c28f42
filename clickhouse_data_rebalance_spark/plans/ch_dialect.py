r"""ClickHouse-SQL dialect shim: translate the common ClickHouse SQL
surface to Spark SQL so existing queries (the kind users of the
reference tool run against their cluster, e.g.
`sharding_recreation.py:145-161`'s INSERT-SELECT shape) execute
verbatim on this engine.

Scope is the high-frequency dialect delta, translated textually:

==================  =========================================
ClickHouse          Spark SQL
==================  =========================================
toUInt*/toInt*      CAST(x AS BIGINT)
toFloat32/64        CAST(x AS DOUBLE)
toInt*OrNull        try_cast(x AS <width-true type>)  (NULL input
toFloat*OrNull      propagates on both engines already)
toInt*OrZero /      NULL-guarded coalesce(try_cast(x AS T), 0 | default)
  OrDefault, Float*  — the guard keeps CH's NULL-in -> NULL-out rule;
                    toUInt*Or* refuses (no unsigned domain in Spark)
toString            CAST(x AS STRING)
toDate/toDateTime   to_date(x) / to_timestamp(x)
toStartOfDay/...    date_trunc('day'|'month'|'quarter'|'year'|'minute', x)
toStartOfWeek       date_sub(CAST(x AS DATE), dayofweek(x) - 1) — CH's
                    default mode 0 is SUNDAY-first (literal odd
                    modes -> Monday date_trunc('week'); non-literal
                    modes + timezone form refuse)
toYYYYMM            date_format(x, 'yyyyMM') as int
countIf             count_if (native)
sumIf/avgIf/...     agg(x) FILTER (WHERE c)
uniq                approx_count_distinct
uniqExact           COUNT(DISTINCT x)
uniqUpTo(N)(x)      LEAST(COUNT(DISTINCT x), N + 1)
any/anyLast         any_value
dateDiff/date_diff  timestampdiff over unit-TRUNCATED operands (CH
                    counts boundary crossings, not complete units)
age                 timestampdiff for fixed units; month/quarter/year
                    as CH's exact tuple-borrow integer arithmetic
extract(s, 're')    regexp_extract(s, 're', has_group ? 1 : 0) — the
                    ANSI EXTRACT(f FROM x) form passes through
argMax/argMin       max_by / min_by (same tie nondeterminism)
groupArray          collect_list (both unordered in distributed runs)
groupUniqArray      collect_set
multiIf(c,v,...,e)  CASE WHEN c THEN v ... ELSE e END (balanced-paren
                    arg split; even arity refuses — CH requires else)
arr[i]              try_element_at(arr, i) — CH indexing is 1-BASED and
                    Spark's bracket is 0-based, the silent-off-by-one
                    trap; try_ so out-of-range yields NULL (DuckDB's
                    list semantics) instead of an ANSI crash (CH's
                    type default is unknowable textually); identifier
                    bases only (computed bases refuse)
[a, b, c]           array(a, b, c); after IN -> the (a, b, c) list
                    Spark's IN grammar requires
arrayJoin           explode
notEmpty/empty      length(x) > 0 / length(x) = 0
modulo              mod
plus/minus/multiply (a + b) / (a - b) / (a * b)
divide              double division with CH's IEEE zero-divisor
                    semantics (inf/nan via a CASE; Spark's bare `/`
                    raises under ANSI)
assumeNotNull       (x)  (type-level assertion; value unchanged)
arrayEnumerate      transform(a, (x, i) -> i + 1)  (single-eval; bare
                    sequence(1, size(a)) steps DOWN to [1,0] for empty
                    arrays — the silent trap)
leftPad/rightPad    lpad / rpad
numbers(n)          (SELECT id AS number FROM range(n))
toYear/Quarter/...  year / quarter / month / weekofyear (toISOWeek)
now()               current_timestamp()
match(h, p)         (h RLIKE p)
position(h, n)      BYTE offset via octet_length of the char prefix
                    before locate's match (CH position counts
                    BYTES; the bare locate swap was silently char-based
                    on multi-byte text); positionUTF8 -> locate(n, h)
has(a, x)           exists(a, e -> e <=> x) — CH's NULL-is-a-value rule
indexOf(a, x)       array_position over a <=> boolean transform (same)
substringIndex      substring_index (delimiter-based, byte/char
                    agnostic); reverseUTF8 -> reverse; bare reverse
                    REFUSES (CH reverses STRING BYTES — no Spark twin)
splitByChar/String  split(s, concat('\\Q', sep, '\\E')) — CH splits
                    LITERALLY, Spark's split is regex (the
                    bare swap made '.' split every char); one-byte
                    literal contract enforced, splitByString('') refuses
left/right(s, N)    BYTE slices through BINARY for literal nonneg N
                    (CH slices bytes; Spark's same names slice chars);
                    expression/negative lengths refuse; leftUTF8/
                    rightUTF8 -> char substring spellings
leftPad/rightPad    byte-true lpad/rpad over BINARY with the space pad
                    made explicit (binary default pad is 0x00);
                    leftPadUTF8/rightPadUTF8 -> char lpad/rpad
countSubstrings     non-overlapping count via replace()'s byte delta
replaceAll          replace; replaceRegexpAll -> regexp_replace for
                    LITERAL replacements without \ or $ (backreference
                    dialects differ: CH \1 vs Java $1 — those refuse)
formatDateTime      date_format with %-tokens mapped to Java pattern
                    letters (literal runs quoted); %M REFUSES — minute
                    in older CH, month name in newer
GLOBAL JOIN/IN      modifier stripped (planner owns distribution)
ARRAY JOIN e AS x   LATERAL VIEW explode(e) AS x  (LEFT -> OUTER;
                    multi-array `e1 AS a, e2 AS b` zips positionally:
                    ONE LATERAL VIEW inline(zip_with(...)))
PREWHERE            WHERE (Spark pushes predicates anyway)
GROUP BY c WITH TOTALS   GROUP BY GROUPING SETS ((c), ())
                    (bare columns AND expression keys)
LIMIT o, n          LIMIT n OFFSET o (MySQL-style offset form)
groupBit*/stddev*.. bit_and/bit_or/bit_xor, stddev_pop/... snake_case
trimLeft/Right/Both ltrim / rtrim / trim
toDecimalN(x, S)    CAST(x AS DECIMAL(9|18|38, S))
arrayConcat/Min/Max concat / array_min / array_max
arrayUniq           size(array_distinct(x))
arrayCompact        NULL-safe consecutive-dedup index lambda
substring/substr/   CAST(substring(CAST(s AS BINARY), o[, l]) AS STRING)
  mid               — CH slices BYTES (the length() class; any nesting
                    up to 32 levels; literal offset 0 refuses)
substringUTF8       substring (Spark's is the character slicer)
bitAnd/Or/Xor/Not   & | ^ ~ (width-independent two's complement;
                    bitShift*/bitRotate*/bitCount/bitTest* REFUSE —
                    width-dependent: Spark masks shift counts, and
                    bit_count sign-extends narrow negatives)
multiSearchAny      exists(needles, n -> contains(h, n))
lower/upper         translate(s, 'A..Z', 'a..z') — CH's bare forms fold
                    ASCII ONLY (the length()/substring class);
                    lowerUTF8/upperUTF8 -> Spark's Unicode lower/upper
hasAll/hasAny       forall/exists with <=> lambdas — CH treats NULL as
                    a VALUE (hasAny([NULL],[NULL]) = 1), arrays_overlap
                    would return NULL there
countEqual          size(filter(a, x -> x <=> v))
arrayElement(a, i)  try_element_at — same lowering + documented
                    out-of-range NULL deviation as the a[i] bracket
                    rewrite; arrayFirst/arrayLast REFUSE (CH returns
                    the element type's DEFAULT on no match)
SETTINGS tail       stripped (session confs own execution advice)
FORMAT <fmt> tail   stripped (sinks are explicit in Spark)
==================  =========================================

Context-dependent constructs translate through :func:`ch_sql` when the
missing context is supplied, and refuse from bare :func:`translate`:
`FROM t FINAL` and the `dictGet` family need the CH DDL via ``ddls=``
(engine-aware collapse / dictionary-lookup lowering), `ASOF JOIN` and
`ANY JOIN` resolve schemas from the registered views, and the simple
`ORDER BY ... WITH FILL` forms lower schema-aware (CH fills non-sort
columns with TYPE DEFAULTS the SQL text alone does not carry).

`LIMIT n BY cols` (ClickHouse's signature clause) translates to a
ROW_NUMBER window in the flat single-SELECT shape (see
`_rewrite_limit_by`); `quantile(s)[Exact[Weighted]]`, `median[Exact
[Weighted]]`, `topK(N)`, `topKWeighted(N)` and `avgWeighted` translate
as exact deterministic refinements of CH's sketches (see
`_aggregate_call`). Constructs with no faithful textual
equivalent raise :class:`UnsupportedClickHouseSQL` with a pointer to
the native operator in this package (nested `LIMIT n BY` ->
top_k_per_group, `SAMPLE` -> sample_fraction, sketch-only quantile
combinators (TDigest/BFloat16/Timing...) -> approx_quantiles /
median_exact, hierarchy dictGets -> broadcast dim joins).

Function calls go through one name-keyed table (`_CALLS`) applied in
one walk over the call sites, arguments first. Its templates bind only
arguments at most one paren level deep; deeper calls inside such a
function should be pre-flattened (the translator raises rather than
mistranslating when it cannot bind them): the walk reports every call
it keeps as written, and translate() refuses the ClickHouse-only names
among them. Refused function names are the rows of one name table
(`_REFUSED_CALLS`), checked once per call head; a name `_CALLS`
translates is never refused by name.
"""

from __future__ import annotations

import os
import re
import string
from dataclasses import dataclass
from decimal import Decimal
from functools import lru_cache, partial
from typing import Callable, NamedTuple

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql import types as T

from ..registry import query
from ..tables import point_views


class UnsupportedClickHouseSQL(ValueError):
    """A ClickHouse construct this shim does not translate, with the
    native operator to use instead."""


# clause and argument shapes we refuse (instead of silently
# mistranslating), with the package-native replacement the error message
# points at; translate() searches the whole statement for each
_REFUSALS: list[tuple[re.Pattern[str], str]] = [
    # bare translate() is pure-textual and cannot know the non-sort
    # columns' types (CH fills them with TYPE DEFAULTS); ch_sql() DOES
    # translate the simple ascending single-key form schema-aware — see
    # _apply_with_fill, which strips the clause before reaching here
    (
        re.compile(r"\bWITH\s+FILL\b", re.I),
        "run via ch_sql (schema-aware simple-form fill) or time_gap_fill",
    ),
    (re.compile(r"\bSAMPLE\s+[\d.]", re.I), "use sample_fraction (C33)"),
    (re.compile(r"\bON\s+CLUSTER\b", re.I), "cluster DDL is Spark-global (A4)"),
    # FROM t FINAL forces the engine's merge-collapse at read time; the
    # correct translation needs the table's engine family, ORDER BY key
    # and version column, which the SQL text does not carry — ch_sql()
    # DOES translate Replacing/Summing FINAL when the CH DDL is passed
    # via ddls= (see _apply_final, which rewrites before reaching here)
    (
        re.compile(r"\bFROM\s+[\w.]+\s+FINAL\b", re.I),
        "run via ch_sql(..., ddls=[CREATE ...]) (engine-aware collapse) "
        "or use upsert_latest_wins",
    ),
    # ANY JOIN keeps at most one right-side match per left row — the
    # faithful translation needs the right table's column list for the
    # deterministic dedup, which the SQL text does not carry — ch_sql()
    # DOES translate the single-clause equi-ON LEFT/INNER form
    # schema-aware (see _apply_any_join)
    (
        re.compile(r"\bANY\s+(?:LEFT\s+|RIGHT\s+|FULL\s+|INNER\s+|OUTER\s+|CROSS\s+)*JOIN\b", re.I),
        "run via ch_sql (right side deduped by the join keys) or dedupe "
        "explicitly (dedup_by_key / upsert_latest_wins), then plain JOIN",
    ),
    # ClickHouse ASOF JOIN: the deterministic tie order needs the right
    # table's column list, which the SQL text does not carry — ch_sql()
    # DOES translate the single-clause ON form schema-aware (see
    # _apply_asof_join, which rewrites before reaching here)
    (
        re.compile(r"\bASOF\s+(?:LEFT\s+|RIGHT\s+|FULL\s+|INNER\s+|OUTER\s+|CROSS\s+)*JOIN\b", re.I),
        "run via ch_sql (lateral-top-1 rewrite) or use asof_join / "
        "asof_join_tolerance / asof_join_forward",
    ),
    (
        # CH hex/bin of a FLOAT emit the raw little-endian IEEE-754
        # bytes; Spark casts to BIGINT and hexes the integer — a
        # silent value divergence. Typed float COLUMNS are invisible
        # to a textual translator (documented caveat, MIGRATION.md),
        # but a float LITERAL argument (digits with '.' or an
        # exponent) is detectable and refuses here instead of
        # translating to the wrong value.
        re.compile(
            r"\b(?:hex|bin)\s*\(\s*[+-]?"
            r"(?:\d+\.|\.\d|\d+(?:\.\d*)?[eE][+-]?\d)",
            re.I,
        ),
        "hex/bin of a FLOAT literal: ClickHouse emits the raw "
        "little-endian IEEE-754 bytes while Spark casts to BIGINT "
        "first — hex the intended bytes explicitly "
        "(e.g. hex(CAST(x AS BIGINT)) for the integer value)",
    ),
    (
        # CH's keyed sorts are STABLE and sort BY the key function's
        # value; Spark's array_sort comparator and a struct-key
        # spelling both break stable ties — and the old bare name swap
        # emitted args-reversed array_sort(f, arr). One paren level is
        # tolerated before '->' so a parenthesized lambda parameter —
        # arraySort((x) -> -x, a) — still hits this refusal instead of
        # slipping through to the swap as an opaque analysis error
        re.compile(r"\barray(Reverse)?Sort\s*\((?:[^()]|\([^()]*\))*->", re.I),
        "keyed arraySort/arrayReverseSort (CH sorts BY KEY with a "
        "STABLE tie order Spark's comparator cannot reproduce) — "
        "sort rows by a derived key column, or sort bare values with "
        "arraySort(arr)",
    ),
    # client-side file sink clause — Spark sinks are explicit
    (
        re.compile(r"\bINTO\s+OUTFILE\b", re.I),
        "sinks are explicit — df.write / sink_partitioned_parquet (C1)",
    ),
    # recursive CTEs have no Spark SQL spelling (iterative DataFrame op)
    (
        re.compile(r"\bWITH\s+RECURSIVE\b", re.I),
        "use recursive_cte_chain (iterative DataFrame closure)",
    ),
    # CH's scalar WITH (`WITH 5 AS c SELECT c`) — Spark's WITH binds
    # only subqueries; the lookaheads admit the CTE form `WITH x AS (`
    # and the clause keywords TOTALS/FILL/ROLLUP/CUBE/TIES/RECURSIVE,
    # which are either translatable or have their own (earlier) rules
    (
        re.compile(
            r"\bWITH\s+(?!\w+\s+AS\s*\()(?!TOTALS\b)(?!FILL\b)"
            r"(?!ROLLUP\b)(?!CUBE\b)(?!TIES\b)(?!RECURSIVE\b)",
            re.I,
        ),
        "scalar WITH has no Spark spelling — inline the constant or "
        "use a CTE subquery (WITH c AS (SELECT 5 AS v))",
    ),
    # intExp2 lowers to shiftleft(1L, x) below, exact for 0 <= x <= 62;
    # x = 63 flips sign (UInt64 2^63 has no signed home) and Spark's
    # shift is mod-64 where CH errors. A LITERAL argument outside the
    # domain is textually detectable — refuse it here (the hex/bin
    # float-literal precedent); column arguments are the caller's
    # responsibility, documented in MIGRATION.md
    (
        re.compile(
            r"\bintExp2\s*\(\s*(?:-|0*(?:6[3-9]|[7-9]\d|[1-9]\d{2,})\s*\))",
            re.I,
        ),
        "intExp2 with a literal argument outside [0, 62] — 2^63 "
        "exceeds BIGINT's signed max and Spark's shiftleft wraps the "
        "shift count mod 64 where ClickHouse errors; compute at DOUBLE "
        "with pow(2, x)",
    ),
    # (multi-array ARRAY JOIN — the positional zip form — is TRANSLATED
    # by _rewrite_array_join_zip: one zip_with struct + one
    # inline, never two cross-producting LATERAL VIEWs; unparseable
    # operand lists raise inside that rewrite with the same pointer)
]

# function names we refuse, as (name pattern, hint) rows: translate()
# fullmatches the name of every call head that is not a _CALLS key
# against them, so a name the call table translates is never refused
_REFUSED_CALLS: list[tuple[str, str]] = [
    # the quantile SKETCH combinators (BFloat16/TDigest/Timing/
    # Deterministic/Interpolated/GK/DD): each changes the sketch, so a
    # textual map would silently change the numbers. The EXACT-semantics
    # family IS translated (see _aggregate_call): plain
    # quantile(s)/median -> percentile (CH's reservoir is
    # EXACT-interpolating for groups <= 8192 and nondeterministic above
    # — the deterministic exact value is the faithful refinement),
    # quantile(s)Exact/medianExact -> CH's own nearest-rank formula
    # (floor(p*n), 0-based, clamped) spelled over
    # array_sort(collect_list), quantile(s)ExactWeighted /
    # medianExactWeighted -> the cumulative-weight crossing, and the
    # four exact RANK-RULE variants quantile(s)ExactLow/
    # ExactHigh/ExactInclusive/ExactExclusive (+ medianExactLow/High)
    # over the same sorted-array machinery (_exact_rank_rule_expr).
    # Those names are _CALLS keys; any other completion refuses.
    (
        r"quantile\w*",
        "quantile sketch combinators (TDigest/BFloat16/Timing/"
        "Deterministic/...) change the sketch — use quantile/"
        "quantileExact[Weighted|Low|High|Inclusive|Exclusive] "
        "(translated) or approx_quantiles / median_exact / "
        "quantile_state_merge",
    ),
    (
        r"median\w*",
        "median sketch combinators change the sketch — use median/"
        "medianExact/medianExactWeighted/medianExactLow/medianExactHigh "
        "(translated) or approx_quantiles / median_exact",
    ),
    # topKWeighted(N)(x, w) translates (exact weight-sum
    # frequencies — see _topk_weighted_expr); any OTHER topK suffix
    # still falls to the residual check and refuses.
    # locate()'s argument order FLIPPED in ClickHouse 24.1 — older
    # servers take (haystack, needle), newer default to MySQL's
    # (needle, haystack) behind function_locate_has_mysql_compatible_
    # argument_order — and Spark's locate(substr, str) parses either
    # spelling without complaint, silently searching swapped operands
    # for half of migrating users. position(haystack, needle) is
    # version-stable and translates.
    (
        r"locate",
        "locate's argument order is ClickHouse-version-dependent "
        "(flipped to MySQL order in 24.1) and Spark would accept either "
        "silently — write position(haystack, needle) instead "
        "(translated)",
    ),
    # the rest of the parametric-aggregate zoo: each points at the
    # native operator that computes the same thing deterministically
    (
        r"(sum|min|max)Map",
        "use map_funcs / explode + groupBy (C30) — Spark aggregates maps "
        "via entries, not a Map-combinator",
    ),
    (
        r"histogram",
        "use histogram_agg (CH's adaptive-bin sketch has no Spark twin)",
    ),
    (r"windowFunnel", "use window_funnel_levels"),
    (
        r"sequence(Match|Count)",
        "use sequence_count_pattern / sequence_match_funnel3",
    ),
    (r"retention", "use retention_conditions"),
    (
        r"runningAccumulate|runningDifference|neighbor",
        "use window functions (lag / lead / running sums, C15-C17) — "
        "block-local semantics don't survive distribution anyway",
    ),
    (
        # the rest of the hash-family refusal: xxHash64/32 is the
        # WORST of the class — the name RESOLVES in Spark
        # (case-insensitive xxhash64) but Spark's xxhash64 is seed-42
        # over the Catalyst row encoding while CH's is seed-0 over the
        # raw bytes, so it previously PASSED THROUGH and returned
        # silently different values; intHash/metroHash/murmurHash*/
        # javaHash* have no Spark implementation (were opaque
        # unresolved errors)
        r"(city|sip|farm|xx|int|metro)Hash\d+|halfMD5"
        r"|murmurHash[23]_\d+|javaHash(UTF16LE)?|farmFingerprint64"
        r"|hiveHash|wyHash64|xxh3|kostikConsistentHash",
        "hash FAMILIES differ between engines (Spark's same-named "
        "xxhash64 is seed-42 over the Catalyst row encoding — values "
        "silently disagree) — recompute both sides with Spark "
        "xxhash64 / md5 / sha2, or use the engine's md5-based "
        "fingerprint operators",
    ),
    (
        # Spark's trunc/truncate is DATE truncation (trunc(expr, fmt));
        # CH's is numeric — trunc(x, 2) resolved in Spark and returned
        # silent NULLs (the fmt '2' parses as an invalid unit with ANSI
        # off). Numeric truncation toward zero spells as
        # sign(x) * floor(abs(x) * pow(10, n)) / pow(10, n).
        r"trunc(ate)?",
        "ClickHouse trunc/truncate is NUMERIC truncation but Spark's "
        "same-named trunc is DATE truncation (silent NULL with ANSI "
        "off) — spell it as sign(x) * floor(abs(x) * pow(10, n)) / "
        "pow(10, n) (toward zero), or CAST(x AS BIGINT) for scale 0",
    ),
    (
        r"array(Reverse)?Fill",
        "arrayFill/arrayReverseFill's carry-forward scan — use the "
        "window-fill operators (time_gap_fill / last_value "
        "IGNORE NULLS) on exploded rows",
    ),
    (
        # CH lagInFrame/leadInFrame respect the window FRAME; Spark's
        # lag/lead ignore frames entirely — and under CH's DEFAULT
        # frame (RANGE UNBOUNDED PRECEDING..CURRENT ROW) leadInFrame
        # always returns the default value, so a bare rename would be
        # silently wrong in both directions
        r"(lag|lead)InFrame",
        "Spark's lag/lead ignore window frames (CH's InFrame variants "
        "respect them; leadInFrame under CH's default frame always "
        "yields the default) — use lag/lead with an explicit ROWS "
        "BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING intent, "
        "spelled without the frame",
    ),
    (
        r"formatReadable\w+",
        "presentation-layer formatting — format client-side",
    ),
    (
        r"uniqTheta",
        "use theta_set_ops / approx_count_distinct",
    ),
    # arrayReduce's agg name is a runtime string; arraySum/Avg/CumSum
    # preserve CH integer-sum typing a lambda rewrite would silently
    # widen (arrayCompact carries no typing hazard and TRANSLATES —
    # consecutive dedup via an index-lambda filter, entry below)
    (
        r"arrayReduce|array(Sum|Avg|CumSum\w*)"
        r"|(sum|avg|min|max|count|uniq\w*|groupArray)Array",
        "use an aggregate()/filter() lambda (C29 array_lambda_funcs)",
    ),
    # bit shifts/rotates: Java (and therefore Spark) masks the shift
    # count modulo the value's bit width — 1 << 65 = 2, MEASURED — so a
    # count at or beyond the width silently wraps instead of shifting
    # out; no textual rewrite can know the value's width to guard it
    (
        r"bit(Shift|Rotate)(Left|Right)",
        "Spark masks shift counts modulo the value's bit width "
        "(1 << 65 = 2, measured) — bound the count yourself and use "
        "the << / >> operators",
    ),
    # bitCount: Spark's bit_count counts the SIGN-EXTENDED 64-bit
    # pattern for narrow negative inputs (bit_count(CAST(-1 AS
    # TINYINT)) = 64, measured), so popcounts of negative narrow ints
    # are width-dependent between engines; non-negative domains agree
    (
        r"bitCount",
        "negative narrow-int popcounts are width-dependent between "
        "engines (Spark's bit_count sign-extends to 64 bits, measured) "
        "— use bit_count directly when the value domain is non-negative",
    ),
    (
        r"bitTest\w*",
        "use shifts and masks (& >> <<) with the bit index bounded to "
        "the value's width",
    ),
    # bare reverse(): ClickHouse reverses BYTES of a String (reverseUTF8
    # is its code-point form) while Spark's reverse reverses code points
    # even over BINARY input (MEASURED: reverse(CAST('aпb' AS BINARY))
    # round-trips to 'bпa', not the byte-reversed invalid-UTF-8 run CH
    # produces) — no Spark spelling is byte-true, and the same name also
    # reverses ARRAYS in both engines, so the intent is ambiguous
    # textually. reverseUTF8 -> reverse translates (exact); arrayReverse
    # -> reverse translates (exact).
    (
        r"reverse",
        "ClickHouse reverse reverses STRING BYTES (Spark's reverses "
        "code points, measured even over BINARY) — use reverseUTF8 "
        "(translated) for code-point reversal or arrayReverse "
        "(translated) for arrays",
    ),
    # URL extractors: ClickHouse's URL parser accepts scheme-less and
    # otherwise-lenient URLs ('ex.com/a' has a domain there) while
    # Spark's parse_url returns NULL for them (MEASURED:
    # parse_url('ex.com/a/b', 'HOST') is NULL) — a textual map would
    # silently NULL every scheme-less row, common in logs; the pointer
    # names the exact parse_url part for well-formed absolute URLs
    (
        r"domain|domainWithoutWWW|topLevelDomain|protocol|path"
        r"|pathFull|queryString|fragment|netloc"
        r"|extractURLParameter(Names|s)?|cutQueryString\w*"
        r"|cutFragment|cutWWW|decodeURLComponent|encodeURLComponent"
        r"|port|(cutTo)?[fF]irstSignificantSubdomain\w*"
        r"|URL(Path)?Hierarchy|cutURLParameter",
        "ClickHouse's URL parser accepts scheme-less/lenient URLs where "
        "Spark's parse_url returns NULL (measured) — for well-formed "
        "absolute URLs use parse_url(url, 'HOST'|'PROTOCOL'|'PATH'|"
        "'QUERY'|'REF'[, key]) directly",
    ),
    (
        r"toFixedString",
        "Spark has no fixed-width string type — use rpad/CAST(x AS "
        "STRING) (byte-true padding via the leftPad/rightPad lowering)",
    ),
    (
        r"tupleElement",
        "positional tuple access has no Spark spelling — use named "
        "struct fields (named_struct / col.field)",
    ),
    # ---- pointered refusals for names that would otherwise reach
    # Spark as OPAQUE unresolved-function errors ----
    (
        r"parseDateTimeBestEffort\w*",
        "Spark has no lenient datetime parser — try_cast(x AS "
        "TIMESTAMP) accepts ISO-ish forms, or parseDateTime(x, "
        "'<format>') translates for explicit formats",
    ),
    (
        r"toTimeZone",
        "Spark TIMESTAMP rendering follows spark.sql.session.timeZone "
        "(one per session), not a per-expression zone — use "
        "from_utc_timestamp/to_utc_timestamp knowing they SHIFT the "
        "instant rather than re-label it",
    ),
    (
        r"arrayZip",
        "CH arrayZip makes arrays of TUPLES (positional access, not "
        "translated) — use arrays_zip (STRUCT elements) or the "
        "multi-array ARRAY JOIN zip lowering",
    ),
    (
        r"dateName",
        "per-part output forms are engine-defined — monthName "
        "translates; otherwise use date_format(x, '<pattern>') "
        "directly",
    ),
    (
        r"initcap(UTF8)?",
        "word-boundary rules diverge: ClickHouse starts a word at any "
        "non-alphanumeric boundary ('foo-bar' -> 'Foo-Bar') while "
        "Spark's initcap splits on whitespace only ('Foo-bar', "
        "measured) — a silent same-name collision; use Spark initcap "
        "if whitespace-word semantics are acceptable",
    ),
    (
        r"normalizeUTF8\w+|toValidUTF8",
        "Spark has no UTF-8 normalization/repair builtins — normalize "
        "upstream or in an Arrow-batched pandas UDF",
    ),
    (
        r"(base58|base32)(Encode|Decode)",
        "Spark has no base58/base32 codec (base64Encode/Decode "
        "translate)",
    ),
    (
        r"anyHeavy",
        "engine-defined heavy-hitter selection — use the native "
        "heavy_hitters / topk_state_merge operators",
    ),
    (
        r"greatCircle(Distance|Angle)|geoDistance|pointInPolygon"
        r"|geohash(Encode|Decode|esInBox)|h3\w+|s2\w+|geoToH3"
        r"|stringToH3|polygon\w+|wkt\w*|readWKT\w+",
        "use the native geo_distance operator (haversine spelled in "
        "SQL); polygon tests need a geospatial library",
    ),
    (
        r"IPv6\w+",
        "IPv6 textual forms have no Spark builtins (the IPv4 family "
        "translates to exact integer arithmetic)",
    ),
    (
        r"editDistance|levenshteinDistance",
        "ClickHouse's bare editDistance counts BYTES — "
        "editDistanceUTF8/levenshteinDistanceUTF8 translate to Spark's "
        "code-point levenshtein (identical on ASCII)",
    ),
    # regex/class-based splitters: pattern dialects (RE2 vs Java) and
    # engine-defined whitespace/alpha classes make a textual map
    # silently divergent — Spark's split already takes a Java pattern
    (
        r"splitByRegexp|splitByWhitespace|splitByNonAlpha"
        r"|alphaTokens",
        "pattern/class dialects diverge between engines (RE2 vs Java; "
        "engine-defined whitespace/alpha sets) — use Spark split(s, "
        "'<java pattern>') directly",
    ),
    # arrayFirst/arrayLast (+Index variants): when nothing matches, CH
    # returns the element type's DEFAULT (0 / '' / ...), which the SQL
    # text cannot know — a filter(...)[1] lowering would yield NULL
    # there, silently different rows
    (
        r"array(First|Last)(Index)?",
        "ClickHouse returns the element type's DEFAULT when no element "
        "matches — unknowable textually; use "
        "element_at(filter(arr, f), 1|-1) / array_position accepting "
        "NULL, or coalesce(...) with your default",
    ),
    # external dictionaries are broadcast dimension joins in this
    # engine; ch_sql DOES translate dictGet/dictGetOrDefault/dictHas
    # (+ String/[U]Int*/Float* typed forms) when the CREATE DICTIONARY
    # is passed via ddls= (see _apply_dict_get, which rewrites before
    # reaching here) — anything left over refuses with this pointer
    (
        r"dict(Get|Has)\w*",
        "run via ch_sql(..., ddls=['CREATE DICTIONARY ...']) (lowers to "
        "a broadcast dimension lookup) or join the dim table directly "
        "(C6 join_broadcast_dims)",
    ),
    # ---- width, nondeterminism and sketch-state refusals ----
    # intExp10 returns UInt64 in CH — 10^19 exceeds BIGINT's signed
    # max, so no width-true Spark integer target exists (the
    # toUInt*Or* precedent); CAST(pow(10, x) AS BIGINT) is exact only
    # for 0 <= x <= 15 and the caller must choose that trade
    (
        r"intExp10",
        "intExp10 returns UInt64 (up to 10^19 — past BIGINT's signed "
        "max) — spell CAST(pow(10, x) AS BIGINT) where 0 <= x <= 15 "
        "is known, or compute at DOUBLE with pow(10, x)",
    ),
    # mapApply's lambda returns a CH TUPLE (k2, v2) — Spark's
    # map-lambda surface is transform_keys/transform_values (one side
    # at a time) and a textual rewrite cannot split the tuple body;
    # the map sorts have no Spark equivalent at all (maps are unordered)
    (
        r"map(Apply|Sort|ReverseSort|PartialSort)",
        "mapApply/mapSort* — Spark maps are unordered and its lambda "
        "surface is one-sided: spell key/value rewrites with "
        "transform_keys / transform_values, and sorts on map_entries "
        "as an array",
    ),
    # ---- refusals for names surfaced by the namespace walk
    # test: each would otherwise reach Spark as an OPAQUE
    # unresolved-function error, or worse, resolve to different
    # semantics) ----
    (
        r"gcd|lcm",
        "no Spark builtin — compute in an Arrow-batched pandas UDF or "
        "spell Euclid's reduction explicitly",
    ),
    (
        r"reinterpretAs\w+",
        "byte reinterpretation is width/endianness-defined — use "
        "explicit CAST/unhex/encode spellings for the bytes you mean",
    ),
    (
        r"toTime",
        "ClickHouse toTime rebases to 1970-01-02 — extract the clock "
        "parts (hour/minute/second) or date_format(x, 'HH:mm:ss')",
    ),
    (
        r"to(Year)?Week",
        "toWeek's mode parameter selects among 10 week-numbering "
        "conventions — toISOWeek translates (ISO); spell others with "
        "date_format/extract",
    ),
    (
        r"(to|from)(Modified)?JulianDay\w*",
        "no Spark Julian-day builtin — datediff against DATE'1858-11-17' "
        "spells the modified form",
    ),
    (
        r"toRelative\w+Num",
        "epoch-origin and timezone conventions are engine-defined — "
        "spell with datediff/unix_timestamp against an explicit origin",
    ),
    (
        r"extractTextFromHTML",
        "no Spark HTML parser — use an Arrow-batched pandas UDF",
    ),
    (
        r"firstLine",
        "CH splits on \\n, \\r and \\r\\n — substring_index(x, '\\n', 1) "
        "covers LF-only text; spell the CRLF form explicitly",
    ),
    (
        r"ngrams|tokens",
        "use the corpus tokenizer operators (operators/llm_text.py: "
        "token_count / ngram machinery) or split + transform lambdas",
    ),
    (
        r"hasToken\w*",
        "token-boundary search — spell as rlike with explicit "
        "non-alphanumeric boundary classes around the literal token",
    ),
    (
        r"hasSubstr",
        "consecutive-subsequence test has no Spark builtin — use an "
        "aggregate() scan or the exists/filter lambdas",
    ),
    (
        r"arrayResize",
        "the pad element's default is TYPE-dependent (unknowable "
        "textually) — spell slice(...) + concat(..., array_repeat(pad, "
        "n)) with an explicit pad",
    ),
    (
        r"array(PartialSort|(Reverse)?Split)",
        "partial sorts and lambda splits have no Spark array builtin — "
        "sort/split rows instead (explode + window), or a pandas UDF",
    ),
    (
        r"arrayEnumerate(Dense|Uniq)\w*",
        "per-value occurrence numbering — explode and use ROW_NUMBER "
        "over (value) windows, or dense_rank for the Dense form",
    ),
    (
        r"arrayAUC",
        "use the native analytics operators over exploded rows (window "
        "rank + aggregation spells AUC exactly)",
    ),
    (
        r"array(Rotate|Shift)(Left|Right)",
        "spell with slice + concat (rotate: concat(slice(a, n+1, N), "
        "slice(a, 1, n)); shifts need an explicit pad element)",
    ),
    (
        r"mapPopulateSeries",
        "series densification — use sequence() + transform into "
        "map_from_arrays, or the time_gap_fill operator for rows",
    ),
    (
        r"map(Update|Concat)",
        "Spark's map_concat duplicate-key behavior follows the session "
        "conf spark.sql.mapKeyDedupPolicy (EXCEPTION by default, "
        "LAST_WIN to mimic mapUpdate) — set it explicitly and use "
        "map_concat directly",
    ),
    (
        r"JSON(Has|Length|Type)",
        "use get_json_object(x, '$.path') IS NOT NULL (json-null rows "
        "differ: CH counts a null VALUE as present), "
        "json_object_keys/json_array_length (both translated from "
        "JSONExtractKeys/JSONArrayLength), or schema_of_json",
    ),
    (
        r"JSON_(VALUE|QUERY|EXISTS)",
        "CH's SQL/JSON forms return ''/wrapped-array/1 where Spark's "
        "nearest (get_json_object) returns NULL/bare/boolean — use "
        "get_json_object(x, path) and spell the empty/wrap handling",
    ),
    (
        r"(simpleJSON|visitParam)\w+",
        "simpleJSON*/visitParam* scan for the FIRST key occurrence at "
        "ANY nesting depth (sloppy-scan semantics) — the JSONExtract* "
        "lowerings parse properly; use those",
    ),
    (
        r"round(ToExp2|Duration|Age)",
        "legacy fixed-bucket helpers — spell the documented bucket "
        "edges as an explicit CASE (or width_bucket for uniform grids)",
    ),
    (
        r"erfc?|[lt]gamma",
        "no Spark builtin — use an Arrow-batched pandas UDF "
        "(scipy.special) or a polynomial approximation in SQL",
    ),
    (
        r"unbin",
        "no Spark binary-string decoder — conv(x, 2, 10) yields the "
        "integer; unhex the hex form for bytes",
    ),
    (
        r"bitmaskTo(List|Array)",
        "spell with filter(sequence(0, 62), b -> (x >> b) & 1 = 1) and "
        "shiftleft for the powers",
    ),
    (
        r"toIPv[46]\w*|isIPv6String|IPv4ToIPv6|cutIPv6"
        r"|MACNumToString|MACStringTo\w+",
        "typed IPv4/IPv6/MAC domains have no Spark twin — "
        "IPv4NumToString/IPv4StringToNum/isIPv4String translate; keep "
        "addresses as STRING/BIGINT otherwise",
    ),
    (
        r"toUUID\w*|UUID(StringToNum|NumToString)"
        r"|generateUUIDv\d|serverUUID",
        "Spark has uuid() for generation only — keep UUIDs as STRING "
        "(toString/CAST both ways is the identity there)",
    ),
    (
        r"bit(HammingDistance|Slice)",
        "width-dependent bit views (the bitCount sign-extension class) "
        "— bound the domain and spell with ^ and bit_count, or "
        "substr on hex(x) for slices",
    ),
    (
        r"hostName|visibleWidth|blockSize|ignore|sleep(EachRow)?"
        r"|uptime|rowNumberIn\w+|bar|getSetting|byteSize|indexHint"
        r"|countDigits|parseTimeDelta|untuple"
        r"|(finalize|initialize)Aggregation",
        "server/block introspection has no Spark analog — these "
        "describe ClickHouse execution state, not data; drop them or "
        "read the Spark UI/metrics instead",
    ),
    (
        r"deltaSum(Timestamp)?|exponentialMovingAverage"
        r"|groupArray(InsertAt|Sample|Moving(Avg|Sum))",
        "ORDER-dependent aggregates — Spark aggregation is unordered; "
        "use window functions over an explicit ORDER BY (the "
        "delta_sum_running / stream_ema_state operators)",
    ),
    (
        r"groupBitmap\w*|bitmap\w+",
        "roaring-bitmap states are engine-internal — use the sketch "
        "state operators (uniq_state_merge / theta_set_ops) or exact "
        "count(DISTINCT ...)",
    ),
    (
        r"rankCorr",
        "Spearman = Pearson over ranks: corr(rank() OVER (ORDER BY x), "
        "rank() OVER (ORDER BY y)) spells it exactly",
    ),
    (
        r"(kurt|skew)Samp",
        "Spark's builtins are the POPULATION moments (kurtPop/skewPop "
        "translate) — spell the sample corrections explicitly",
    ),
    (
        r"sumWithOverflow",
        "deliberate wraparound vs ANSI overflow errors — CAST to "
        "BIGINT and accept the error, or mask into the wrap width",
    ),
    (
        r"(uniq\w*|topK\w*|quantile\w*|avg|sum|count|min|max|any"
        r"|groupArray)(State|Merge)",
        "-State/-Merge combinators are engine-internal sketch states — "
        "use the mergeable sketch operators (uniq_state_merge, "
        "topk_state_merge, agg_state_merge)",
    ),
    (
        r"replaceRegexpOne",
        "Java's regexp_replace replaces ALL matches — no "
        "first-match-only Spark spelling (replaceRegexpAll translates; "
        "replaceOne translates for plain substrings)",
    ),
    (
        r"toTypeName",
        "type NAMES differ between engines ('Int64' vs 'bigint') — "
        "Spark typeof(x) reports the Spark name; comparisons against "
        "ClickHouse type strings would silently never match",
    ),
    (
        r"format",
        "ClickHouse format uses {}-placeholders; Spark format_string "
        "is printf-style — rewrite the template (format_string('%s', "
        "...)) or use concat",
    ),
    # ---- more namespace-walk refusals ----
    (
        r"damerauLevenshteinDistance|jaro(Winkler)?Similarity"
        r"|stringJaccardIndex\w*|byteHammingDistance",
        "string-similarity variants beyond levenshtein have no Spark "
        "builtin — editDistanceUTF8/levenshteinDistanceUTF8 translate; "
        "others need an Arrow-batched pandas UDF",
    ),
    (
        r"(student|welch)TTest|mannWhitneyUTest|meanZTest"
        r"|largestTriangleThreeBuckets|cramersV\w*|theilsU"
        r"|contingency|categoricalInformationValue",
        "statistical-test aggregates have no Spark builtin — compute "
        "the moments with stddev/avg/count and form the statistic, or "
        "use an Arrow-batched pandas UDAF",
    ),
    (
        r"arrayShingles",
        "use the shingle machinery in the dedup operators "
        "(operators/llm_dedup.py) or transform over sequence indexes",
    ),
    (
        r"(from|to)UnixTimestamp64Nano",
        "Spark timestamps top out at MICROSECONDS — a nano form would "
        "silently truncate; keep nanos as BIGINT and divide explicitly",
    ),
    (
        r"toStartOfISOYear",
        "ISO-year start needs the ISO week-date calendar — derive from "
        "extract(YEAROFWEEK ...) (toISOYear translates) and make_date",
    ),
    (
        r"UTCTimestamp|nowInBlock|serverTimeZone|timezoneOf",
        "per-expression/server timezone state has no Spark spelling "
        "(the toTimeZone class) — now() translates; "
        "spark.sql.session.timeZone owns rendering",
    ),
    (
        r"snowflakeToDateTime\w*|dateTime(64)?ToSnowflake\w*",
        "snowflake-ID epoch packing — spell the shift/mask arithmetic "
        "explicitly on BIGINT",
    ),
]
# the rows as one alternation; the row of a match is its group r<index>
_REFUSED_CALL = re.compile(
    "|".join(f"(?P<r{i}>{p})" for i, (p, _) in enumerate(_REFUSED_CALLS)), re.I
).fullmatch


def _refusal(masked: str) -> tuple["re.Match[str]", str] | None:
    """The first refused construct of a literal-masked statement as
    (match, hint): the _REFUSALS shapes in order, then the call heads in
    text order whose name is no _CALLS key and matches a _REFUSED_CALLS
    row; None when nothing is refused."""
    for pat, hint in _REFUSALS:
        if m := pat.search(masked):
            return m, hint
    for m in _CALL_HEAD.finditer(masked):
        name = m.group(1)
        if name.lower() not in _CALLS and (r := _REFUSED_CALL(name)):
            return m, _REFUSED_CALLS[int(r.lastgroup[1:])][1]
    return None


# an argument: non-paren/comma text, allowing single-quoted literals
# (whose internal commas/parens are opaque) and one level of nested
# parenthesized calls (whose internal commas are fine) — so
# `toUInt32(count(*))`, `uniqExact(lower(x))`, `splitByChar(',', s)`
# match; deeper nesting falls through to the residual check, which raises
_ATOM = r"(?:'[^']*'|[^'(),])"
_ARG = rf"({_ATOM}*(?:\([^()]*\){_ATOM}*)*)"


# escape sequences BOTH literal parsers decode to the same byte:
# ClickHouse's C-style set intersected with Spark's unescapeSQLString
# (unknown escapes drop the backslash in both engines, so those agree
# too and need no entry)
_AGREED_ESCAPES = {
    "t": "\t", "n": "\n", "r": "\r", "b": "\b", "0": "\0",
    "\\": "\\", "'": "'", '"': '"',
}
# WHITELIST guard: refuse any escape NOT in _AGREED_ESCAPES. A
# blacklist would assume "unknown escapes drop the backslash in both
# engines", which is FALSE outside
# the agreed set: Spark's unescapeSQLString decodes \Z to U+001A (MySQL
# ctrl-Z) and KEEPS the backslash for \% and \_ where CH yields
# 'Z'/'%'/'_'; CH decodes \e to ESC(0x1B) and \N to nothing where Spark
# yields 'e'/'N'; \xHH/octal/\a\v\f are bytes in CH, literal text in
# Spark; \u is 4-hex unicode in Spark only; \0+digit is OCTAL in Spark,
# NUL + text in CH. Only the measured-identical set passes. The scan
# is a PAIRWISE left-to-right walk, not a regex search — a search
# would misfire on the 'd' inside '\\d' (escaped backslash + literal
# d, which BOTH engines decode to the two characters \d).


def _escape_divergence(content: str) -> str | None:
    """Return the offending escape when the literal's escapes decode
    differently between the two engines, else None."""
    i, n = 0, len(content)
    while i < n:
        if content[i] != "\\":
            i += 1
            continue
        if i + 1 >= n:
            # lone trailing backslash: the lexer never ends a literal
            # on one, but a caller may pass content read another way
            return "\\<end>"
        nxt = content[i + 1]
        if nxt not in _AGREED_ESCAPES:
            return "\\" + nxt
        if nxt == "0" and i + 2 < n and content[i + 2].isdigit():
            return "\\0 followed by a digit (octal in Spark, NUL+text in CH)"
        i += 2
    return None


def _decode_sep_literal(content: str, name: str) -> str:
    """Decode a separator literal's escapes the way BOTH engines will
    (the one-byte guard must measure the decoded value, not the raw
    SQL text — '\\t' is a genuine one-byte separator). Refuses
    escapes whose decoding diverges between the parsers, because the
    raw text is re-emitted into Spark SQL verbatim."""
    if _escape_divergence(content) is not None:
        raise UnsupportedClickHouseSQL(
            f"{name} literal uses an escape ClickHouse and Spark "
            "decode differently (\\xHH/octal/\\a/\\v/\\f/\\e are bytes "
            "in CH, literal text in Spark; \\Z/\\%/\\_/\\N diverge the "
            "other way; \\u is Spark-only) — spell the byte directly "
            "or via an agreed escape (\\t \\n \\r \\b \\0 \\\\ \\' "
            "\\\")"
        )
    out: list[str] = []
    i = 0
    while i < len(content):
        c = content[i]
        if c == "\\" and i + 1 < len(content):
            nxt = content[i + 1]
            out.append(_AGREED_ESCAPES.get(nxt, nxt))
            i += 2
        else:
            out.append(c)
            i += 1
    return "".join(out)


def _check_split_sep_literal(sep: str, *, by_string: bool, name: str) -> None:
    """Literal-argument guards for the split family: the CH contracts
    the text makes checkable. splitByChar's separator is exactly one
    byte — measured on the DECODED value ('\\t' is one byte; a
    raw-text measurement would refuse tab/backslash separators);
    splitByString('') refuses (Spark's empty pattern keeps a trailing
    empty element CH's per-character split does not — measured)."""
    lit = re.fullmatch(r"'([^']*)'", sep)
    if lit is None:
        return
    content = _decode_sep_literal(lit.group(1), name)
    if not by_string and len(content.encode("utf-8")) != 1:
        raise UnsupportedClickHouseSQL(
            f"{name} separator must be exactly one byte (the "
            "ClickHouse contract) — use splitByString for longer "
            "separators"
        )
    if by_string and content == "":
        raise UnsupportedClickHouseSQL(
            "splitByString('') per-character split: Spark's empty "
            "pattern keeps a trailing empty element ClickHouse does "
            "not — split to characters with a substring/sequence "
            "spelling instead"
        )


# ---- the call table ----
# translate()'s function-call stage is ONE walk over the call sites
# (_rewrite_table_calls) that looks each ClickHouse name up in _CALLS,
# keyed by the lower-cased name. A value is one of:
#   - a string that does not close, like "bround(" or "pow(2, ": it
#     replaces the head `name(` and keeps the argument list as written —
#     any arity, any nesting depth;
#   - a template over the arguments, like "({0} != {1})", or a tuple of
#     templates told apart by their arity; "current_date()" (no field)
#     matches the empty call `today()` only;
#   - an emitter: a function of the argument list returning the Spark
#     text, or None to keep the call as written (wrong arity or argument
#     shape);
#   - a _Family: an emitter that reads its arguments as written, before
#     any call inside them is rewritten, and rewrites the ones it keeps
#     through `recurse` — least/greatest flattens same-name nesting,
#     translate checks its literal from/to and hex/bin look at their
#     rewritten argument that way. Each family has its own nesting cap
#     and refusal texts. The parametric family (quantile, median, topK,
#     avgWeighted, uniqUpTo) also reads ClickHouse's `f(params)(args)`
#     shape: its emitter gets the parameter list too, or None for a
#     plain `f(args)` call.
# Templates, emitters and the parametric family bind only calls whose
# every argument fits the one-paren-level _ARG budget as written; a call
# that fails the budget or its arity keeps its text, and calls inside
# its arguments are still rewritten. The walk reports every call head
# it keeps as written, with its argument pieces, and translate() refuses
# the ClickHouse-only names among them (_RESIDUALS). An empty argument
# list is no arguments; a template or emitter call that no form accepts
# without arguments refuses (head renames keep it as written). Arguments
# are rewritten before their call, lose their leading whitespace and
# keep their trailing whitespace (a _Family gets them stripped);
# emitters strip both where they say so. Emitted text is never scanned
# again — not by another entry and not by translate()'s checks — so an
# entry may spell any name, ClickHouse-only or not.


@dataclass(frozen=True, eq=False)
class _Family:
    """A raw-argument call-table entry: ``emit(name, args, recurse)``
    gets the name as spelled and the stripped argument texts (plus
    ``params`` and the weighted fusion plan when ``parametric``; _TABLE,
    the plain entries' group, gets the raw pieces). Calls
    of one family nested more than ``cap`` deep refuse with ``too_deep``;
    an unclosed call refuses with ``unbalanced`` formatted with the name,
    or keeps its text when that is None."""

    emit: Callable
    cap: int
    too_deep: str
    unbalanced: str | None = "unbalanced parentheses in {}()"
    parametric: bool = False


_TOO_DEEP = (
    "function calls nested more than 32 levels deep — "
    "precompute inner expressions as subquery/CTE columns"
)


def _without_arguments(name: str) -> UnsupportedClickHouseSQL:
    return UnsupportedClickHouseSQL(
        f"{name}() without arguments — ClickHouse rejects the call; "
        "pass the argument(s) the function takes"
    )


def _translate_call(name: str, args: list[str], recurse) -> str:
    """translate/translateUTF8 guard (a silent same-name collision):
    ClickHouse's translate requires CONSTANT same-length ASCII from/to
    strings (one-to-one mapping; anything else is a CH ERROR), and
    translateUTF8 requires constant same-code-point-length strings.
    Spark's translate is code-point based AND deletes characters when
    `to` is shorter — so an unvalidated pass-through would silently run
    delete semantics CH rejects, and a multi-byte `from` in bare
    translate would silently do what only translateUTF8 does in CH.
    Validated calls pass through (bare) or rename (translateUTF8 ->
    translate): for equal-length literals the two engines' mappings
    coincide exactly."""
    name = "translateUTF8" if len(name) > 9 else "translate"
    if len(args) != 3:
        raise UnsupportedClickHouseSQL(
            f"{name} takes (s, from, to) — got {len(args)} argument(s)"
        )
    lits = [re.fullmatch(r"'([^']*)'", a) for a in args[1:]]
    if not all(lits):
        raise UnsupportedClickHouseSQL(
            f"{name} from/to must be string LITERALS (the ClickHouse "
            "constant-argument contract; Spark's translate would "
            "accept columns with different semantics)"
        )
    frm = _decode_sep_literal(lits[0].group(1), name)
    to = _decode_sep_literal(lits[1].group(1), name)
    if len(frm) != len(to):
        raise UnsupportedClickHouseSQL(
            f"{name} from/to must be the SAME length (CH contract; "
            "Spark's translate DELETES characters when to is "
            "shorter — a silent divergence)"
        )
    if len(set(frm)) != len(frm):
        # a duplicated from-char is not a verified-identical case —
        # Spark's translate applies first-wins ('aa'->'xy' maps
        # a->x) and ClickHouse's duplicate resolution is unverified
        # here, so refuse rather than risk the silent collision
        raise UnsupportedClickHouseSQL(
            f"{name} 'from' contains duplicate characters — the "
            "mapping must be one-to-one (Spark resolves "
            "duplicates first-wins; CH behavior unverified) — "
            "drop the duplicate from/to pairs"
        )
    if name == "translate" and not (frm.isascii() and to.isascii()):
        raise UnsupportedClickHouseSQL(
            "bare translate is ASCII-only in ClickHouse — use "
            "translateUTF8 for multi-byte mappings"
        )
    return f"translate({recurse(args[0])}, {args[1]}, {args[2]})"


def _split_call(name: str, args: list[str], recurse) -> str:
    """splitByChar/splitByString lowering: ClickHouse splits on the
    LITERAL separator while Spark's split takes a Java REGEX, so the
    separator is \\Q...\\E-quoted at runtime via concat (Catalyst
    constant-folds it for literal separators). The max_substrings 3-arg
    form refuses: its truncation-vs-remainder semantics changed across
    ClickHouse versions, so no single lowering is faithful."""
    if len(args) != 2:
        raise UnsupportedClickHouseSQL(
            f"{name} with {len(args)} argument(s) — the "
            "max_substrings form has version-divergent truncation "
            "semantics in ClickHouse; take the 2-arg split and "
            "slice(...) the result"
        )
    sep, s = recurse(args[0]), recurse(args[1])
    by_string = name.lower() == "splitbystring"
    _check_split_sep_literal(sep, by_string=by_string, name=name)
    return f"split({s}, concat('\\\\Q', {sep}, '\\\\E'))"


def _count_substrings(args: list[str]) -> str | None:
    """countSubstrings: non-overlapping occurrence count as the
    byte-length delta of replace() over the needle's byte length —
    replace removes exactly CH's left-to-right non-overlapping matches.
    A LITERAL empty needle refuses (CH's empty-needle behavior is
    unverifiable here and the arithmetic would divide by zero); a
    runtime-empty needle yields NULL via the nullif divisor."""
    if len(args) != 2:
        return None
    h, n = (a.strip() for a in args)
    if n == "''":
        raise UnsupportedClickHouseSQL(
            "countSubstrings with an empty needle — count characters "
            "with length()/lengthUTF8() instead"
        )
    return (
        f"CAST((octet_length({h}) - octet_length(replace({h}, {n}, ''))) "
        f"div nullif(octet_length({n}), 0) AS BIGINT)"
    )


# argument-duplicating guards below carry the least/greatest row-local
# double-evaluation caveat

_B64_VALID = (
    "RLIKE '^(?:[A-Za-z0-9+/]{4})*"
    "(?:[A-Za-z0-9+/]{2}==|[A-Za-z0-9+/]{3}=)?$'"
)


def _base64_decode(lenient: bool):
    """base64Decode / tryBase64Decode: Spark's unbase64 silently decodes
    GARBAGE for invalid input (measured: unbase64('!!notb64!!') yields
    mojibake bytes) where ClickHouse THROWS (base64Decode) or returns ''
    (tryBase64Decode) — so validity is checked with the strict RFC 4648
    grammar first and the CH failure behavior spelled per form."""
    fail = "''" if lenient else "raise_error('base64Decode: invalid base64 input')"

    def emit(args: list[str]) -> str | None:
        if len(args) != 1:
            return None
        x = args[0].strip()
        return (
            f"(CASE WHEN ({x}) IS NULL THEN NULL "
            f"WHEN ({x}) {_B64_VALID} THEN CAST(unbase64(({x})) AS STRING) "
            f"ELSE {fail} END)"
        )

    return emit


_IPV4_OCTET = "(25[0-5]|2[0-4][0-9]|[01]?[0-9][0-9]?)"


def _ipv4_string_to_num(suffix: str):
    """IPv4StringToNum[OrNull|OrZero]: exact dotted-quad integer
    arithmetic; validity = four 0-255 decimal octets (the regex also
    range-checks, so no octet can overflow the multiply). CH throws on
    invalid input for the bare form (raise_error here), NULL/0 for the
    Or-forms."""

    def emit(args: list[str]) -> str | None:
        if len(args) != 1:
            return None
        s = args[0].strip()
        valid = f"({s}) RLIKE '^{_IPV4_OCTET}(\\\\.{_IPV4_OCTET}){{3}}$'"
        part = "CAST(element_at(split(({s}), '\\\\.'), {k}) AS BIGINT)"
        num = " + ".join(
            f"{part.format(s=s, k=k)} * {mul}" if mul > 1 else part.format(s=s, k=k)
            for k, mul in ((1, 16777216), (2, 65536), (3, 256), (4, 1))
        )
        if suffix == "ornull":
            return f"(CASE WHEN {valid} THEN {num} END)"
        fail = "0" if suffix == "orzero" else (
            "raise_error('IPv4StringToNum: invalid IPv4 string')"
        )
        return (
            f"(CASE WHEN ({s}) IS NULL THEN NULL "
            f"WHEN {valid} THEN {num} ELSE {fail} END)"
        )

    return emit


_DATE_ADD_UNITS = frozenset(
    {"second", "minute", "hour", "day", "week", "month", "quarter", "year"}
)
_LITERAL_ARG = re.compile(r"'([^']*)'\s*")
_UINT_ARG = re.compile(r"(\d+)\s*")


def _date_add_quoted(kind: str):
    """CH's quoted-unit date_add('day', n, x) — Spark's native 3-arg
    parser alias takes bare units only, so the quoted spelling died at
    parse. Validates the unit and lowers to timestampadd (sub negates n;
    month-end clamping agrees in both engines). Spark's own 2-arg
    date_add and bare-unit forms are kept as written."""

    def emit(args: list[str]) -> str | None:
        lit = len(args) == 3 and _LITERAL_ARG.fullmatch(args[0])
        if not lit:
            return None
        unit = lit.group(1).strip().lower()
        n, x = args[1].strip(), args[2].strip()
        if unit not in _DATE_ADD_UNITS:
            raise UnsupportedClickHouseSQL(
                f"date_{kind} unit {unit!r} — supported quoted units: "
                "second/minute/hour/day/week/month/quarter/year"
            )
        amt = n if kind == "add" else f"-({n})"
        return f"timestampadd({unit.upper()}, {amt}, {x})"

    return emit


_TSOI_SECS = {"second": 1, "minute": 60, "hour": 3600, "day": 86400}
_TSOI_ARG = re.compile(r"INTERVAL\s+(\d+)\s+(second|minute|hour|day)s?\s*", re.I)


def _to_start_of_interval(args: list[str]) -> str | None:
    """toStartOfInterval(x, INTERVAL n unit) for the FIXED-length
    sub-day units: epoch bucketing on CH's 1970-01-01 origin (same
    timezone precondition as the toStartOfFiveMinutes family —
    MIGRATION.md). week/month/quarter/year fall through to the
    toStartOf residual refusal (origin and calendar-walk conventions
    diverge)."""
    iv = len(args) == 2 and _TSOI_ARG.fullmatch(args[-1])
    if not iv:
        return None
    x = args[0].strip()
    n = int(iv.group(1))
    if n <= 0:
        raise UnsupportedClickHouseSQL(
            "toStartOfInterval needs a positive interval length"
        )
    k = n * _TSOI_SECS[iv.group(2).lower()]
    return (
        f"timestamp_seconds(CAST(floor(unix_timestamp({x}) / {k}) * {k}"
        f" AS BIGINT))"
    )


_ARRAY_LITERAL_ARG = re.compile(r"(?:array\(([^()]*)\)|\[([^\[\]]*)\])\s*", re.I)


def _transform_map(args: list[str]) -> str | None:
    """CH's 3/4-arg transform(x, [from...], [to...][, default]) — the
    value-mapping form, a DIFFERENT function from Spark's same-named
    (array, lambda) transform — lowers to the CASE chain it denotes
    when from/to are array LITERALS (bracket or array() spelling).
    The 3-arg form keeps x unmatched (CH contract); x is spliced per
    branch — row-local multiple evaluation, the least/greatest caveat
    class. Non-literal from/to arrays keep the call, which translate()
    refuses by its arity."""
    if len(args) not in (3, 4):
        return None
    shapes = [_ARRAY_LITERAL_ARG.fullmatch(_mask_literals(a)) for a in args[1:3]]
    if not all(shapes):
        return None
    bodies = [a[slice(*m.span(m.lastindex))] for a, m in zip(args[1:3], shapes)]
    frm, to = ([p.strip() for p in _split_top_level_args(b) if p.strip()] for b in bodies)
    if len(frm) != len(to) or not frm:
        raise UnsupportedClickHouseSQL(
            "transform(x, from, to[, default]) needs same-length "
            "non-empty from/to arrays (the ClickHouse contract)"
        )
    x = args[0].strip()
    arms = " ".join(f"WHEN ({x}) = {f} THEN {t}" for f, t in zip(frm, to))
    tail = args[3].strip() if len(args) == 4 and args[3] else f"({x})"
    return f"(CASE {arms} ELSE {tail} END)"


def _range(args: list[str]) -> str | None:
    """range(end) / range(start, end[, step]) -> guarded sequence():
    CH's interval is half-open [start, end) and EMPTY when end <= start,
    while Spark's sequence(a, b) is inclusive and happily walks
    DOWNWARD (sequence(0, -1) = [0, -1], measured) — the CASE guard
    spells CH's emptiness; sequence(s, e-1, step) hits exactly the
    values < e for a positive integer step. Literal step only (a
    runtime step <= 0 is a CH error the text can't check). Deviation:
    CH errors on a negative bare end (UInt domain) where this yields []
    — documented in MIGRATION.md."""
    if len(args) > 3:
        return None
    args = [a.strip() for a in args if a.strip()]
    if not args:
        raise UnsupportedClickHouseSQL("range() needs 1-3 arguments")
    if len(args) == 1:
        e = args[0]
        return (
            f"(CASE WHEN ({e}) <= 0 THEN array() "
            f"ELSE sequence(0, ({e}) - 1) END)"
        )
    if len(args) == 2:
        s, e = args
        return (
            f"(CASE WHEN ({e}) <= ({s}) THEN array() "
            f"ELSE sequence(({s}), ({e}) - 1) END)"
        )
    s, e, st = args
    if not re.fullmatch(r"\d+", st) or int(st) == 0:
        raise UnsupportedClickHouseSQL(
            "range step must be a positive integer LITERAL (CH errors "
            "on step <= 0; a runtime step is untestable textually)"
        )
    return (
        f"(CASE WHEN ({e}) <= ({s}) THEN array() "
        f"ELSE sequence(({s}), ({e}) - 1, {st}) END)"
    )


# accurateCast's contract is the RANGE-CHECKED cast — under ANSI (the
# session default) Spark CAST errors on overflow exactly like
# accurateCast, and try_cast is the OrNull twin. Only types whose Spark
# target enforces the SAME domain translate; UInt*/Decimal refuse (a
# BIGINT cast would admit negatives CH rejects — the toUIntOrNull
# width-surface precedent applies to the unchecked toUInt* forms only).
_ACCURATE_CAST_TYPES = {
    "int8": "TINYINT",
    "int16": "SMALLINT",
    "int32": "INT",
    "int64": "BIGINT",
    "float32": "FLOAT",
    "float64": "DOUBLE",
    "string": "STRING",
    "date": "DATE",
    "date32": "DATE",
    "datetime": "TIMESTAMP",
    "bool": "BOOLEAN",
}


def _accurate_cast(fn: str):
    def emit(args: list[str]) -> str | None:
        lit = len(args) == 2 and _LITERAL_ARG.fullmatch(args[-1])
        if not lit:
            return None
        ch_type = lit.group(1).strip()
        target = _ACCURATE_CAST_TYPES.get(ch_type.lower())
        if target is None:
            raise UnsupportedClickHouseSQL(
                f"accurateCast to {ch_type!r} — only types with a same-domain "
                "Spark target translate (Int8/16/32/64, Float32/64, String, "
                "Date, DateTime, Bool); UInt widths would admit negatives "
                "ClickHouse rejects"
            )
        return f"{fn}(({args[0].strip()}) AS {target})"

    return emit


# CH toIntervalX(n) -> Spark's interval constructors: day-and-finer
# units build a DayTimeInterval (make_dt_interval), month-and-coarser a
# YearMonthInterval (make_interval) — the same split CH's own interval
# arithmetic honors (calendar vs fixed-width units, the dateDiff class)
_TO_INTERVAL_FORMS = {
    "second": "make_dt_interval(0, 0, 0, {0})",
    "minute": "make_dt_interval(0, 0, {0})",
    "hour": "make_dt_interval(0, {0})",
    "day": "make_dt_interval({0})",
    "week": "make_dt_interval(({0}) * 7)",
    "month": "make_interval(0, {0})",
    "quarter": "make_interval(0, ({0}) * 3)",
    "year": "make_interval({0})",
}


def _replace_one(args: list[str]) -> str | None:
    """First-occurrence replace: instr/substr CASE — encoding-agnostic
    as an operation (the RESULT of replacing the first occurrence is the
    same whether positions are counted in bytes or chars, as long as
    instr, substr and length all count characters); the haystack
    evaluates four times, row-local. A LITERAL empty needle refuses:
    Spark's instr(s, '') is 1 (the lowering would insert at the start)
    while CH's empty-pattern behavior is engine-defined — the
    countSubstrings empty-needle precedent."""
    if len(args) >= 3 and re.fullmatch(r"''\s*", args[1]):
        raise UnsupportedClickHouseSQL(
            "replaceOne with an empty needle — engine-defined; concat the "
            "prefix explicitly if insertion is intended"
        )
    if len(args) != 3:
        return None
    s, needle, repl = args
    at = f"instr(({s}), ({needle}))"
    return (
        f"(CASE WHEN {at} > 0 THEN concat(substr(({s}), 1, {at} - 1), "
        f"({repl}), substr(({s}), {at} + length(({needle})))) "
        f"ELSE ({s}) END)"
    )


def _padded_digits_call(name: str, args: list[str], recurse) -> str | None:
    """hex/bin padded to whole bytes (the hex/bin entries say why),
    decided on the rewritten argument. hex over BINARY — an unhex(..)
    call, which is also what every digest entry emits — is already the
    CH value (Spark hex of bytes is even-length uppercase), so it stays
    a plain call. Any other argument nested past the one-paren _ARG
    budget refuses here: keeping the call as written would make the walk
    rewrite its argument a second time, twice per nested hex level."""
    if not args:
        raise _without_arguments(name)
    if len(args) != 1:
        return None
    x = recurse(args[0])
    if re.match(r"unhex\s*\(", x, re.I):
        return f"{name}({x})"
    if not _within_budget(args):
        raise UnsupportedClickHouseSQL(
            f"could not rewrite '{name}(' (nested arguments?) — "
            f"{_RESIDUAL_HINTS['digits']}"
        )
    fn = name.lower()
    width = 2 if fn == "hex" else 8
    return (
        f"lpad({fn}({x}), CAST(ceil(char_length({fn}({x})) / {width})"
        f" * {width} AS INT), '0')"
    )


def _to_start_of_week(args: list[str]) -> str | None:
    """toStartOfWeek(x[, mode]): ClickHouse's week START depends only on
    the mode's parity (toWeek modes 0-9: even -> Sunday-first, odd ->
    Monday-first; the even/odd numbering split affects only week
    NUMBERS, not the start day). The default (mode 0) is SUNDAY — which
    is why toStartOfWeek must NOT lower to date_trunc('week') like
    toMonday does (Spark weeks start Monday; a bare swap would move
    every Sunday row into the previous week, the silent-collision
    class). Sunday form: most recent Sunday <= x via dayofweek (Sunday=1
    in Spark), returning DATE as CH does. The argument splices twice
    (row-local double evaluation — the least/greatest caveat class).
    Non-literal modes and the 3-arg timezone form are kept as written
    and refuse at the toStartOf\\w+ residual."""
    if not args:
        return None
    x = args[0]
    if len(args) == 2 and re.fullmatch(r"[13579]\s*", args[1]):
        return f"CAST(date_trunc('week', {x}) AS DATE)"
    if len(args) == 1 or len(args) == 2 and re.fullmatch(r"[02468]\s*", args[1]):
        return f"date_sub(CAST({x} AS DATE), dayofweek({x}) - 1)"
    return None


def _arity(template: str) -> int:
    fields = string.Formatter().parse(template)
    return len({f for _, f, _, _ in fields if f is not None})


def _shaped(shape: "re.Pattern[str]", template: str):
    """A template whose LAST argument must fullmatch ``shape`` — a
    literal the lowering reads — and is spliced as the shape's group 1."""

    def emit(args: list[str]) -> str | None:
        lit = len(args) == _arity(template) and shape.fullmatch(args[-1])
        if not lit:
            return None
        return template.format(*args[:-1], lit.group(1))

    return emit


def _stripped(template: str):
    """A template over arguments stripped at both ends."""

    def emit(args: list[str]) -> str | None:
        if len(args) != _arity(template):
            return None
        return template.format(*(a.strip() for a in args))

    return emit


# ---- to{Int,Float}*Or{Null,Zero,Default} converter suffixes.
# ClickHouse semantics: parse the STRING argument strictly; on parse
# failure OR out-of-range return NULL (OrNull), the type default 0
# (OrZero / 1-arg OrDefault), or the given expression (2-arg
# OrDefault). NULL input propagates NULL (they are ordinary functions),
# so OrZero/OrDefault wrap in an explicit NULL guard — coalesce alone
# would turn a NULL input into the default, which CH never does.
# Width-true Spark target types (Int8 -> TINYINT ... Float64 -> DOUBLE)
# preserve the out-of-range -> default boundary: try_cast('300' AS
# TINYINT) is NULL exactly where CH's range check fails the parse;
# fractional strings are MEASURED-rejected by Spark's integer try_cast
# too ('3.5' -> NULL, same as CH — note DuckDB's TRY_CAST rounds it to
# 4, so oracles must not feed fractional strings to integer targets).
# DOCUMENTED deviations (MIGRATION.md): try_cast trims surrounding
# whitespace that CH's strict parser rejects (' 42' succeeds here,
# default in CH), and the guard evaluates the argument twice (row-local;
# nondeterministic arguments carry the least/greatest caveat).
# toUInt*Or* REFUSES — Spark has no unsigned domain, so
# toUInt8OrNull('200') = 200 in CH has no width-true target (TINYINT
# would return NULL); toDate*/toDecimal*/toDateTime* Or-forms refuse on
# date-parsing / scale divergence (the residual check owns the pointer).
def _try_cast_expr(arg: str, spark_t: str) -> str:
    """Width-true fallible parse. INTEGER targets guard the try_cast
    behind an exception-free DOUBLE pre-parse (MEASURED: Spark's
    string->integer try_cast fails through a thrown-and-caught
    NumberFormatException at ~10 us/row — 3.1x slower on all-garbage
    columns, which is exactly the dirty-data domain these converters
    exist for — while the string->double parse fails without throwing).
    Value-identical by grammar containment: every string Spark's
    integer parse accepts (trimAll whitespace, sign, digits) is also
    accepted by its double parse, so a double-parse NULL implies an
    integer-parse NULL — verified over a 22-case battery (whitespace
    forms, '3.5', '1e3', 'NaN', 'Infinity', hex, overflow, bare signs)
    in test_ch_dialect_or_converters. Only numeric-looking non-integers
    ('3.5', '1e3') still pay the exception path. Float targets parse
    exception-free already and stay bare."""
    if spark_t in ("FLOAT", "DOUBLE"):
        return f"try_cast({arg} AS {spark_t})"
    return (
        f"(CASE WHEN try_cast({arg} AS DOUBLE) IS NOT NULL "
        f"THEN try_cast({arg} AS {spark_t}) END)"
    )


def _or_converters(ch_t: str, spark_t: str) -> dict:
    tc = _try_cast_expr("{0}", spark_t)
    guarded = "(CASE WHEN ({0}) IS NULL THEN NULL ELSE coalesce(%s, %s) END)"
    return {
        f"to{ch_t}ornull": tc,
        f"to{ch_t}orzero": guarded % (tc, "0"),
        f"to{ch_t}ordefault": (guarded % (tc, "0"), guarded % (tc, "({1})")),
    }


def _null_guarded(fn: str, args: list[str]) -> str:
    """``fn(args...)``, NULL when ANY argument is NULL (ClickHouse's
    ordinary-function rule) — each argument is evaluated twice."""
    checks = " OR ".join(f"({a}) IS NULL" for a in args)
    call = f"{fn}({', '.join(f'({a})' for a in args)})"
    return f"(CASE WHEN {checks} THEN NULL ELSE {call} END)"


def _multiif_call(name: str, args: list[str], recurse) -> str:
    """Rewrite every `multiIf(c1, v1, c2, v2, ..., else)` to
    `(CASE WHEN c1 THEN v1 ... ELSE else END)`. CH requires the trailing
    else, so an even argument count refuses (sibling calls are
    unbounded: a wide machine-generated SELECT with 200 sibling multiIfs
    is legal)."""
    if len(args) < 3 or len(args) % 2 == 0:
        raise UnsupportedClickHouseSQL(
            "multiIf needs an odd argument count >= 3 "
            "(cond, val, ..., else) — ClickHouse requires the else arm"
        )
    args = [recurse(a) for a in args]
    arms = "".join(
        f" WHEN {args[k]} THEN {args[k + 1]}" for k in range(0, len(args) - 1, 2)
    )
    return f"(CASE{arms} ELSE {args[-1]} END)"


def _lg_leaves(name: str, arg: str) -> list[str]:
    # flatten SAME-function nesting: least(a, least(b, c)) has exactly
    # least(a, b, c)'s semantics in CH (min of all, NULL if any NULL),
    # and the pre-variadic ClickHouse idiom chains 2-arg calls — without
    # flattening, the guard's double-embedding grows 2^depth. One bracket
    # scan of ``arg`` serves every level, and an explicit work stack of
    # spans walks them: a machine-generated 1000-deep chain flattens in
    # linear time, never past Python's recursion limit.
    lex = _bracket_scan(arg)
    if not lex.balanced:
        return [arg]  # not a call: a call's brackets pair
    close, commas = lex.close, lex.commas
    out: list[str] = []
    stack = [(0, len(arg))]
    while stack:
        start, end = stack.pop()
        m = _CALL_HEAD.match(arg, start, end)
        # a same-name call whose '(' pairs with the span's last ')'
        if m and m.group(1).lower() == name and arg[end - 1] == ")" and (
            close[m.end() - 1] == end - 1
        ):
            cuts = [m.end() - 1, *commas[m.end() - 1], end - 1]
            if len(cuts) > 2:
                for a, b in reversed(list(zip(cuts, cuts[1:]))):
                    a += 1
                    while a < b and arg[a].isspace():
                        a += 1
                    while b > a and arg[b - 1].isspace():
                        b -= 1
                    stack.append((a, b))
                continue
            # a 1-arg same-name call is not valid CH — keep it intact
            # so it reaches Spark's loud arity error instead of being
            # silently legalized by the flatten
        out.append(arg[start:end])
    return out


def _least_greatest_call(name: str, args: list[str], recurse) -> str:
    """NULL-propagation guard for least/greatest: ClickHouse's
    least/greatest are ordinary functions — ANY NULL argument makes the
    result NULL — while Spark's SKIP nulls and return the extreme of
    the non-null arguments (greatest(1, NULL) = 1). Same name, silently
    different answers. Each user-written call becomes
    `(CASE WHEN (a) IS NULL OR (b) IS NULL ... THEN NULL ELSE
    least((a), (b), ...) END)` — arguments are evaluated twice, both
    row-local (CH users pass columns/arithmetic here). Caveat: double
    evaluation means a NONDETERMINISTIC nullable argument (e.g.
    `if(rand() < 0.5, NULL, x)`) can disagree between the IS NULL check
    and the ELSE call — documented in MIGRATION.md (precompute such
    arguments as a subquery/CTE column); not refused, because a name
    scan for rand/uuid-class functions would also refuse the common
    deterministic uses of those names in UNRELATED argument positions.
    SAME-function nesting flattens first (identical CH semantics, kills
    the 2^depth growth on idiomatic 2-arg chains); MIXED nesting
    refuses past 8 levels, where the doubling would make the emitted
    text megabytes. Other entries' own least/greatest spellings
    (quantile index clamps, weighted thresholds — all over provably
    non-null counts) are emitted text and stay untouched. 1-argument
    calls are not valid CH: they keep their (rewritten) argument — never
    flattened — and pass to Spark's loud arity error."""
    name = name.lower()
    if len(args) < 2:
        return f"{name}({', '.join(recurse(a) for a in args)})"
    leaves = [leaf for a in args for leaf in _lg_leaves(name, a)]
    return _null_guarded(name, [recurse(a) for a in leaves])


def _concat_with_separator_call(name: str, args: list[str], recurse) -> str:
    """NULL-propagation guard for concatWithSeparator. ClickHouse's
    ``concatWithSeparator(sep, a, b, ...)`` returns NULL when ANY
    argument (separator included) is NULL; Spark's ``concat_ws`` SKIPS
    NULL arguments and returns '' for an all-NULL tail — same shape,
    silently different rows: the least/greatest class, variadic with a
    separator. Each user-written call becomes ``(CASE WHEN (sep) IS NULL
    OR (a) IS NULL ... THEN NULL ELSE concat_ws((sep), (a), ...) END)``.
    Arguments are evaluated twice, both row-local — the documented
    least/greatest caveat (nondeterministic nullable arguments belong in
    a subquery column, MIGRATION.md). ``AssumeInjective`` is CH's
    GROUP-BY-elimination hint, semantics identical — translated the
    same. Refuses with fewer than two arguments (CH rejects that arity);
    the 16-level cap stops the doubling before the emitted text reaches
    megabytes."""
    if len(args) < 2:
        raise UnsupportedClickHouseSQL(
            "concatWithSeparator needs a separator and at least one argument"
        )
    return _null_guarded("concat_ws", [recurse(a) for a in args])


def _substring_call(name: str, args: list[str], recurse) -> str:
    """Byte-vs-char closure for the substring family (the
    length()/octet_length() silent-divergence class). ClickHouse's
    substring/substr/mid slice BYTES of a String (substringUTF8 is its
    character slicer); Spark's substring slices CHARACTERS — identical
    on ASCII, silently different rows on multi-byte UTF-8. The
    byte-true lowering routes through BINARY:
    ``CAST(substring(CAST(s AS BINARY), o[, l]) AS STRING)`` —
    MEASURED byte-exact in Spark for positive offsets, NEGATIVE offsets
    (counted from the end in bytes: substring('привет', -4, 4) = 'ет'),
    the 2-arg form, and NULL propagation; a slice landing mid-codepoint
    yields the same invalid-UTF-8 byte run CH produces (Spark's
    binary->string cast keeps bytes as-is). substringUTF8 lowers to
    Spark's own (character) substring.

    Refusals: wrong arity; a LITERAL offset 0 — Spark treats 0 as
    position 1 (measured) while MySQL-family engines return '' there,
    an engine-divergent edge no rewrite can make faithful (a runtime 0
    from an expression is undetectable textually — MIGRATION.md
    documents the >= 1 / negative-from-end operand domain)."""
    name = name.lower()
    if len(args) not in (2, 3):
        raise UnsupportedClickHouseSQL(
            f"{name}() takes (string, offset[, length]) — got "
            f"{len(args)} argument(s)"
        )
    args = [recurse(a) for a in args]
    if re.fullmatch(r"[+-]?0+", args[1]):
        raise UnsupportedClickHouseSQL(
            "substring offset 0 is an engine-divergent edge (Spark "
            "treats 0 as position 1, measured; MySQL-family engines "
            "return '') — offsets are 1-based, negatives count from "
            "the end"
        )
    if name == "substringutf8":
        return f"substring({', '.join(args)})"
    tail = f", {args[2]}" if len(args) == 3 else ""
    return f"CAST(substring(CAST({args[0]} AS BINARY), {args[1]}{tail}) AS STRING)"


_ASCII_UP = "ABCDEFGHIJKLMNOPQRSTUVWXYZ"
_ASCII_LO = "abcdefghijklmnopqrstuvwxyz"


def _case_fold_call(name: str, args: list[str], recurse) -> str:
    """ASCII-vs-Unicode closure for the case-folding family (the
    substring/length class): ClickHouse's bare lower/upper convert
    ASCII LATIN symbols ONLY (documented CH behavior — lower('ÄBC')
    keeps the Ä) while Spark's lower/upper fold full Unicode — same
    name, silently different rows on non-ASCII text. Bare spellings
    lower to the exact ASCII fold ``translate(s, 'A..Z', 'a..z')``;
    lowerUTF8/upperUTF8 (CH's Unicode folders) lower to Spark's own
    lower/upper — documented caveat: both engines apply per-codepoint
    case mapping but exotic codepoints with locale/1:N mappings
    (dotted İ, ligatures) may differ; MIGRATION.md records it. Refuses
    any arity but one."""
    name = name.lower()
    if len(args) != 1:
        raise UnsupportedClickHouseSQL(
            f"{name}() takes exactly one argument — got {len(args)}"
        )
    arg = recurse(args[0])
    if name == "lower":
        return f"translate({arg}, '{_ASCII_UP}', '{_ASCII_LO}')"
    if name == "upper":
        return f"translate({arg}, '{_ASCII_LO}', '{_ASCII_UP}')"
    return f"{name.removesuffix('utf8')}({arg})"


def _membership_call(name: str, args: list[str], recurse) -> str:
    """NULL-as-a-value semantics for has/indexOf: ClickHouse processes
    NULL AS A VALUE — has([NULL], NULL) = 1 and has([NULL, 1], 2) = 0
    where Spark's array_contains returns NULL in BOTH (NULL value; NULL
    element present but value absent); indexOf([1, NULL, 2], NULL) = 2
    where array_position(a, NULL) is NULL. The <=> lambdas spell CH's
    rule; the boolean-array array_position keeps CH's not-found 0
    (measured). Refuses any arity but two."""
    name = name.lower()
    if len(args) != 2:
        raise UnsupportedClickHouseSQL(
            f"{name}() takes (array, value) — got {len(args)} argument(s)"
        )
    arr, val = recurse(args[0]), recurse(args[1])
    if name == "has":
        return f"exists({arr}, cdr_h_ -> cdr_h_ <=> ({val}))"
    return f"array_position(transform({arr}, cdr_ix_ -> cdr_ix_ <=> ({val})), true)"


# formatDateTime: ClickHouse %-tokens -> Spark (Java DateTimeFormatter)
# pattern letters. Only LITERAL format strings translate (the token map
# needs the text); %M refuses outright — it means minute in older
# ClickHouse and full month name in newer, so any translation silently
# changes meaning for half the users.
_FDT_MAP = {
    "Y": "yyyy",
    "y": "yy",
    "m": "MM",
    "d": "dd",
    "H": "HH",
    "h": "hh",
    "i": "mm",
    "S": "ss",
    "p": "a",
    "j": "DDD",
    "F": "yyyy-MM-dd",
    "T": "HH:mm:ss",
}


def _fdt_pattern(fmt: str) -> str:
    """CH % format -> Java pattern; literal runs containing letters are
    single-quoted (Java treats bare letters as pattern tokens)."""
    out: list[str] = []
    lit: list[str] = []

    def flush() -> None:
        if lit:
            # quote EVERY literal run: letters are pattern tokens in
            # Java, and [ ] # { } are reserved (optional-section /
            # future-use) — [ ] would be silently DROPPED from output;
            # quoting safe chars too is always legal
            s = "".join(lit)
            out.append("'" + s.replace("'", "''") + "'")
            lit.clear()

    i = 0
    while i < len(fmt):
        c = fmt[i]
        if c == "%":
            if i + 1 >= len(fmt):
                raise UnsupportedClickHouseSQL("dangling % in formatDateTime")
            t = fmt[i + 1]
            if t == "%":
                lit.append("%")
                i += 2
                continue
            if t == "M":
                raise UnsupportedClickHouseSQL(
                    "formatDateTime %M is minute in older ClickHouse and "
                    "month NAME in newer — write %i (minute) or %m (month)"
                )
            if t not in _FDT_MAP:
                raise UnsupportedClickHouseSQL(
                    f"formatDateTime token %{t} has no mapped Spark pattern"
                )
            flush()
            out.append(_FDT_MAP[t])
            i += 2
        else:
            lit.append(c)
            i += 1
    flush()
    return "".join(out)


def _format_datetime(args: list[str]) -> str | None:
    fmt = len(args) == 2 and _LITERAL_ARG.fullmatch(args[1])
    if not fmt:
        return None
    pattern = _fdt_pattern(fmt.group(1))
    return f"date_format({args[0]}, '{pattern.replace(chr(39), chr(39) * 2)}')"


# parseDateTime family: CH parseDateTime uses the SAME MySQL-style %
# tokens formatDateTime uses, so the _fdt_pattern map runs in reverse
# gear feeding to_timestamp; the InJodaSyntax forms pass their pattern
# through (ClickHouse's "Joda" grammar and Spark's datetime-pattern
# grammar are the same letter family). OrNull -> try_to_timestamp,
# OrZero -> coalesce(try, epoch) — CH's 1970-01-01 00:00:00 default.
# The BARE form THROWS on a parse miss regardless of
# spark.sql.ansi.enabled (plain to_timestamp with ANSI off silently
# returns NULL where CH throws): CASE over try_to_timestamp with an
# explicit raise_error, mirroring _base64_decode. The guard evaluates
# expr twice — row-local and fine for pure expressions (the
# concatWithSeparator / least/greatest precedent, MIGRATION.md).
# Timezone 3-arg forms fall to the residual refusal.
def _parse_datetime(joda: bool, suffix: str):
    def emit(args: list[str]) -> str | None:
        fmt = len(args) == 2 and _LITERAL_ARG.fullmatch(args[1])
        if not fmt:
            return None
        expr = args[0]
        pattern = fmt.group(1) if joda else _fdt_pattern(fmt.group(1))
        pat_sql = pattern.replace("'", "''")
        if suffix == "ornull":
            return f"try_to_timestamp({expr}, '{pat_sql}')"
        if suffix == "orzero":
            return (
                f"coalesce(try_to_timestamp({expr}, '{pat_sql}'), "
                "TIMESTAMP '1970-01-01 00:00:00')"
            )
        # bare form: NULL input passes through, a non-NULL miss raises
        return (
            f"(CASE WHEN ({expr}) IS NULL THEN "
            f"CAST(NULL AS TIMESTAMP) "
            f"WHEN try_to_timestamp({expr}, '{pat_sql}') IS NULL "
            f"THEN CAST(raise_error(concat('parseDateTime: cannot "
            f"parse ', CAST(({expr}) AS STRING))) AS TIMESTAMP) "
            f"ELSE try_to_timestamp({expr}, '{pat_sql}') END)"
        )

    return emit


# ---- dateDiff / age / extract(haystack, re) ----
# CH dateDiff counts UNIT-BOUNDARY CROSSINGS (DateDiff in
# src/Functions/dateDiff.cpp, public ClickHouse source: both operands
# convert to the unit's relative ordinal and subtract, so
# dateDiff('day', 23:59:59, next-day 00:01) = 1). That is NOT Spark
# timestampdiff's complete-unit count — but on unit-TRUNCATED operands
# the two coincide, so the lowering is
#   timestampdiff(U, date_trunc('U', s), date_trunc('U', e))
# (verified per-unit against hand traces; exact — on first-of-unit
# operands even Spark's months_between-based MONTH counting is an
# exact integer). TIMEZONE PRECONDITION (review finding, documented in
# MIGRATION.md): the sub-day units count CIVIL wall-clock ordinals,
# while ClickHouse's toRelativeHour/Minute/SecondNum count PHYSICAL
# epoch ordinals — identical under UTC or any fixed-offset session
# timezone (this repo's harness default), but ACROSS a DST transition
# under a DST-observing session timezone the civil count includes the
# shifted hour (spring-forward 01:30->03:30 is 2 civil hours, 1
# physical). A physical lowering via unix_timestamp is NOT a fix:
# Spark's unix_timestamp(TIMESTAMP_NTZ) ignores the session timezone
# (measured: interprets UTC), so it is config-fragile rather than
# exact. Run with spark.sql.session.timeZone=UTC for CH parity on
# sub-day units. CH age()
# counts COMPLETE elapsed units and maps to timestampdiff for the
# FIXED-length units (second/minute/hour/day/week — exact duration
# arithmetic on both sides). age month/quarter/year translate as the
# rule spelled directly in integer date arithmetic — 12*(y2-y1) +
# (m2-m1) minus a (day, time-of-day) tuple borrow, DIV 3/12 for
# quarter/year — because Spark's
# timestampdiff(MONTH) floors months_between's (day2-day1)/31 fraction,
# which at month-end edges (age('month', Jan31 23:59, Mar01) -> CH 1 via
# its remainder-tuple rule, Spark 0) disagrees with ClickHouse's
# complete-month counting — measured, not hypothetical. 'week' refuses
# for dateDiff (ClickHouse's week ordinal follows toRelativeWeekNum's
# Sunday convention while Spark's date_trunc('WEEK') starts Monday — a
# textual map would move rows across the cut) but translates for age
# (complete 7-day periods involve no boundary convention). Sub-second
# units refuse.
#
# extract(haystack, 'pattern') — CH's regex fragment extractor — is the
# WORST collision class: Spark parses the same comma spelling as ANSI
# datetime EXTRACT (field, source), so an untranslated call either
# errors misleadingly (INVALID_EXTRACT_FIELD) or, with a column named
# like a field, silently extracts a date part. Literal patterns lower
# to regexp_extract(haystack, pattern, g) with g = 1 when the pattern
# has a capturing group (CH "extracts the first subpattern") else 0;
# (?...) constructs refuse (RE2/Java group+flag syntaxes diverge), and
# any surviving comma-form extract refuses via a depth-aware scan (the
# ANSI `EXTRACT(f FROM x)` form has no top-level comma and passes).
# Pattern flavor: CH is RE2, Spark is Java regex — a domain superset
# for the accepted subset (no (?...), no backrefs in patterns; classes,
# quantifiers, alternation, anchors agree).
_DD_UNIT = {
    "year": "YEAR", "yyyy": "YEAR", "yy": "YEAR",
    "quarter": "QUARTER", "qq": "QUARTER", "q": "QUARTER",
    "month": "MONTH", "mm": "MONTH", "m": "MONTH",
    "day": "DAY", "dd": "DAY", "d": "DAY",
    "hour": "HOUR", "hh": "HOUR", "h": "HOUR",
    "minute": "MINUTE", "mi": "MINUTE", "n": "MINUTE",
    "second": "SECOND", "ss": "SECOND", "s": "SECOND",
}
_DD_WEEK = ("week", "wk", "ww")
# countMatches counts non-overlapping matches of the WHOLE pattern
# (group index 0 always), and regexpExtract is Spark's regexp_extract
# under a CH camelCase name — both share extract()'s pattern-dialect
# guards (_extract_group_index refuses the backslash/class/(?...) arms
# where the same literal denotes different regexes in the two engines)


def _extract_group_index(pat: str) -> int:
    """1 when the pattern has a capturing group (CH extract returns the
    FIRST subpattern), else 0 — scanned class-aware. BACKSLASH-bearing
    patterns refuse outright: the two engines'
    STRING-LITERAL escape dialects diverge before the regex engine ever
    sees the text — CH unescapes \\x41 to 'A' and preserves unknown
    escapes, Spark's unescaper has no \\x and drops the backslash from
    unknown escapes — so the same literal denotes different regexes
    ('\\x41+' means A-runs in CH and 'x41' repetitions in Spark), and
    group-ness judged on the literal (\\( vs () would be wrong anyway.
    Without backslashes the literal IS the regex on both engines, so
    the scan below is exact. (?...) constructs refuse (RE2/Java
    group+flag syntaxes diverge)."""
    if "\\" in pat:
        raise UnsupportedClickHouseSQL(
            "extract() pattern contains backslash escapes — ClickHouse "
            "and Spark unescape string literals differently (\\x41 vs "
            "x41; \\( group-ness flips), so the same text denotes "
            "different regexes; use Spark regexp_extract directly with "
            "a Spark-escaped pattern"
        )
    in_class = False
    saw_capture = False
    for i, c in enumerate(pat):
        if in_class:
            if c == "[":
                # Java parses [a[b]c] as a nested-class UNION {a,b,c};
                # RE2 treats the inner '[' as a literal — backslash-free
                # text that still denotes different regexes (review
                # finding); refuse like the (?...) arm
                raise UnsupportedClickHouseSQL(
                    "extract() pattern has '[' inside a character class "
                    "— Java reads it as a nested class union, RE2 as a "
                    "literal; rewrite the class or use Spark "
                    "regexp_extract directly"
                )
            if c == "]":
                in_class = False
        elif c == "[":
            in_class = True
        elif c == "(":
            if i + 1 < len(pat) and pat[i + 1] == "?":
                raise UnsupportedClickHouseSQL(
                    "extract() pattern uses a (?...) group — RE2 and Java "
                    "group/flag syntaxes diverge there; use a plain "
                    "capturing group or Spark regexp_extract directly"
                )
            saw_capture = True
    return 1 if saw_capture else 0


def _date_diff(fname: str):
    def emit(args: list[str]) -> str | None:
        lit = len(args) == 3 and _LITERAL_ARG.fullmatch(args[0])
        if not lit:
            return None
        unit = lit.group(1).strip().lower()
        s, e = args[1].strip(), args[2].strip()
        is_age = fname == "age"
        if unit in _DD_WEEK:
            if not is_age:
                raise UnsupportedClickHouseSQL(
                    "dateDiff('week', ...) — ClickHouse counts "
                    "Sunday-based toRelativeWeekNum boundaries, Spark's "
                    "week starts Monday; count day boundaries "
                    "(dateDiff('day', ...) then divide) or truncate "
                    "explicitly with date_trunc"
                )
            u = "WEEK"
        else:
            u = _DD_UNIT.get(unit)
        if is_age and u in ("MONTH", "QUARTER", "YEAR"):
            # CH's complete-month rule is EXACT integer date arithmetic —
            # base = 12*(y2-y1) + (m2-m1), minus 1 when the
            # (day, time-of-day) tuple of the LATER operand is
            # lexicographically below the earlier one's (dateDiff.cpp's
            # age arm compares components; NO month-end clamping:
            # age('month', Jan31, Feb29) = 0 where Postgres/DuckDB
            # clamp to 1 — pinned in the edge-matrix test). Spark's
            # timestampdiff(MONTH) is no twin: it floors months_between's
            # (d2-d1)/31 FRACTION (Jan31 23:59 -> Mar01: CH 1,
            # timestampdiff 0); spelling the rule directly avoids
            # months_between entirely. Sign-symmetric:
            # for e < s the borrow flips to a carry (CH negates the
            # swapped-operand result). quarter/year are the month count
            # DIV 3 / DIV 12 (Spark DIV truncates toward zero, matching
            # the complete-unit count in both directions). The operands
            # splice several times — row-local double evaluation, the
            # least/greatest caveat class; the seconds component keeps
            # its microsecond fraction via extract(SECOND ...).
            mb = f"((year({e}) - year({s})) * 12 + (month({e}) - month({s})))"
            te = (
                f"struct(day({e}), hour({e}), minute({e}), "
                f"extract(SECOND FROM {e}))"
            )
            ts_ = (
                f"struct(day({s}), hour({s}), minute({s}), "
                f"extract(SECOND FROM {s}))"
            )
            months = (
                f"(CASE WHEN ({e}) >= ({s}) THEN {mb} - "
                f"(CASE WHEN {te} < {ts_} THEN 1 ELSE 0 END) "
                f"ELSE {mb} + "
                f"(CASE WHEN {te} > {ts_} THEN 1 ELSE 0 END) END)"
            )
            if u == "MONTH":
                return months
            return f"({months} DIV {3 if u == 'QUARTER' else 12})"
        if u is None:
            raise UnsupportedClickHouseSQL(
                f"{fname} unit {unit!r} — year/quarter/month/day/hour/"
                "minute/second translate (+ week for age); sub-second "
                "units have no boundary-exact Spark twin here"
            )
        if is_age:
            return f"timestampdiff({u}, {s}, {e})"
        return (
            f"timestampdiff({u}, date_trunc('{u}', {s}), "
            f"date_trunc('{u}', {e}))"
        )

    return emit


def _regexp_call(template: str, with_index: bool = False):
    """extract / extractAll / countMatches / regexpExtract over a LITERAL
    pattern: ``template`` spells the Spark call over the haystack
    ({0}), the pattern literal ({1}) and the group index ({2}) — CH's
    first-subpattern rule from _extract_group_index, or regexpExtract's
    own literal index when ``with_index``. Every form runs the pattern
    through _extract_group_index's dialect guards."""

    def emit(args: list[str]) -> str | None:
        if len(args) != 2 + with_index:
            return None
        lit = _LITERAL_ARG.fullmatch(args[1])
        idx = _UINT_ARG.fullmatch(args[2]) if with_index else True
        if not (lit and idx):
            return None
        pat = lit.group(1)
        group = _extract_group_index(pat)
        return template.format(
            args[0].strip(), f"'{pat}'", idx.group(1) if with_index else group
        )

    return emit


# replaceRegexpAll: the PATTERN dialects are close (RE2 vs Java), but
# the REPLACEMENT dialects are not — ClickHouse backreferences are \1
# while Java/Spark uses $1, treats \1 as a literal digit, and treats a
# bare $ as a group reference. A literal replacement (no \ or $)
# translates exactly; anything else refuses rather than silently
# rewriting the wrong occurrences.
def _replace_regexp_all(args: list[str]) -> str | None:
    lit = len(args) == 3 and _LITERAL_ARG.fullmatch(args[2])
    if not lit:
        return None
    replacement = lit.group(1)
    if "\\" in replacement or "$" in replacement:
        raise UnsupportedClickHouseSQL(
            "replaceRegexpAll replacement contains \\ or $ — CH "
            "backreferences are \\1 but Spark's are $1 (and a bare $ "
            "is a group reference); rewrite the replacement in "
            "Spark's regexp_replace dialect"
        )
    return f"regexp_replace({args[0]}, {args[1]}, '{replacement}')"


# ---- quantile / median / topK family (parametric aggregates) ----
# Accepted forms and their Spark spellings (every other member of the
# family refuses via _REFUSED_CALLS, and any surviving spelling via
# _RESIDUALS):
#
#   quantile(p)(x), quantile(x), median(x)   -> percentile(x, p)  [p=0.5]
#   quantiles(p1, ..., pk)(x)                -> percentile(x, array(p...))
#   quantileExact(p)(x), medianExact(x)      -> CH's exact nearest-rank
#   quantilesExact(p1, ..., pk)(x)           -> array(<exact per level>)
#   topK(N)(x)                               -> exact frequency top-N
#
# Semantics (checked against ClickHouse's own definitions):
#  * CH quantile() is an 8192-element reservoir sketch: for groups that
#    fit the reservoir it linear-interpolates with the SAME index
#    formula as Spark percentile / DuckDB quantile_cont (p * (n-1));
#    above that it is nondeterministic subsampling. percentile() is the
#    deterministic refinement of that contract.
#  * CH quantileExact() returns the element at 0-based index
#    floor(p * n) clamped to n-1 (QuantileExact::getImpl) — NOT
#    percentile_disc's ceil(p*n)-1 — so the rewrite spells CH's formula
#    directly over array_sort(collect_list); the index clamps to >= 1
#    (count=0 would otherwise hit Spark's INVALID_INDEX_OF_ZERO — try_
#    only forgives out-of-bounds) so an all-NULL group yields NULL.
#  * CH topK(N) returns the ~N most frequent values, frequency-
#    descending, tie order unspecified; the rewrite computes EXACT
#    frequencies with a value-ascending tie-break (deterministic
#    refinement of the approximate contract).
# The collect_list spellings carry the whole group in memory —
# exactness' honest cost at scale; heavy_hitters / approx_quantiles
# (bounded sketches) are the 100 TB paths the refusal hints name.

_NUM_LIT = re.compile(r"\d+(?:\.\d+)?(?:[eE][+-]?\d+)?").fullmatch
# quantile[s][Exact[Low|High|Inclusive|Exclusive|Weighted]],
# median[Exact[Low|High|Weighted]]: group 1 the quantile/quantiles
# stem (None for median), group 2 Exact plus its rule, group 3 the rule
_QUANTILE_FORM = re.compile(
    r"(?:(quantiles?)|median)(exact(low|high|inclusive|exclusive|weighted)?)?"
).fullmatch


def _within_budget(args: list[str]) -> bool:
    return all(_WITHIN_BUDGET(_mask_literals(a)) for a in args)


def _exact_index(p: str) -> str:
    # CH's 0-based floor(p*n) as a 1-based index, clamped to [1, n].
    # The >= 1 clamp: an all-NULL group has count(x) = 0, making the
    # unclamped index least(floor(p*0)+1, 0) = 0, and Spark's
    # try_element_at only suppresses OUT-OF-BOUNDS, not index zero — it
    # raises INVALID_INDEX_OF_ZERO. At index 1 over the empty collected
    # list, try_element_at genuinely returns NULL (CH's answer).
    return (
        f"greatest(least(CAST(floor({p} * count({{x}})) AS INT) + 1, "
        f"CAST(count({{x}}) AS INT)), 1)"
    )


def _interp_quantile_expr(x: str, p: str) -> str:
    """Singular quantile()/median()/quantileExactInclusive lowering: the
    R-7 linear interpolation at h = p*(n-1) over the sorted collected
    list — BIT-IDENTICAL to Spark's ``percentile(x, p)`` aggregate (same
    double position arithmetic, same (hi-pos)*lo_key + (pos-lo)*hi_key
    rounding order, same equal-keys and integral-position shortcuts,
    NULL for empty/all-NULL groups; verified equal over every fixture
    column x level grid at sf0.1).

    Why not percentile() itself: Percentile
    accumulates an OpenHashMap<value, count> per group — on a
    HIGH-CARDINALITY double column that is one boxed map entry per
    distinct value (measured 1.25 s vs 0.35 s for the same median at
    sf0.1), with the same unbounded-state posture as the collected
    list. The plural quantiles() lowering keeps percentile(x, array):
    its per-group state is bounded by the column's distinct count,
    which is the better trade for the low-cardinality columns plural
    scans here. The sketch path for 100 TB remains approx_quantiles /
    quantile_state_merge either way."""
    pos = f"(CAST({p} AS DOUBLE) * CAST(n - 1 AS BIGINT))"
    lo = f"CAST(FLOOR{pos} AS INT)"
    hi = f"CAST(CEIL{pos} AS INT)"
    body = (
        f"CASE WHEN n = 0 THEN CAST(NULL AS DOUBLE) "
        f"WHEN {lo} = {hi} THEN element_at(a, {lo} + 1) "
        f"WHEN element_at(a, {lo} + 1) = element_at(a, {hi} + 1) "
        f"THEN element_at(a, {lo} + 1) "
        f"ELSE (CAST({hi} AS DOUBLE) - {pos}) * element_at(a, {lo} + 1) "
        f"+ ({pos} - CAST({lo} AS DOUBLE)) * element_at(a, {hi} + 1) END"
    )
    return (
        f"element_at(transform(array(sort_array(collect_list("
        f"CAST({x} AS DOUBLE)))), a -> "
        f"element_at(transform(array(size(a)), n -> {body}), 1)), 1)"
    )


def _exact_quantile_expr(x: str, p: str, idx_fn=None) -> str:
    # idx_fn parameterizes the rank rule (see _exact_quantiles_plural_expr)
    # sort_array, not array_sort: collect_list never emits NULL elements,
    # and on NULL-free input the two produce the identical ascending
    # order (Spark's NaN-largest double ordering on both paths) — but
    # array_sort evaluates its default lambda comparator INTERPRETED per
    # comparison, while sort_array sorts with the native type ordering
    # (measured at sf0.1: the 3-exact-quantile query's final stage
    # dropped ~2x when the 200k-element per-group sorts switched).
    idx_fn = idx_fn or _exact_index
    return (
        f"try_element_at(sort_array(collect_list({x})), "
        + idx_fn(p).format(x=x)
        + ")"
    )


def _exact_quantiles_plural_expr(x: str, levels: list[str], idx_fn=None) -> str:
    # plural form: ONE sorted array let-bound via the 1-element-array
    # transform trick, indexed once per level — the sort runs once.
    # Measured caveat for the SINGULAR form: separate
    # output columns cannot share a let binding in flat SQL, but the
    # per-group re-sort is noise anyway — at sf0.1 a 3-exact-quantile
    # query times identically to a 1-exact-quantile query (~0.85 s both;
    # the collect_list/percentile aggregation buffers dominate).
    # idx_fn parameterizes the rank rule (default quantileExact's
    # floor(p*n); _exact_index_low for quantilesExactLow) so the
    # rank-rule variants reuse THIS spelling instead of a copy.
    idx_fn = idx_fn or _exact_index
    idx = ", ".join(
        f"try_element_at(a, {idx_fn(p).format(x=x)})" for p in levels
    )
    # sort_array over the NULL-free collected list — see
    # _exact_quantile_expr for the native-vs-interpreted-sort rationale
    return (
        f"element_at(transform(array(sort_array(collect_list({x}))), "
        f"a -> array({idx})), 1)"
    )


def _exact_index_low(p: str) -> str:
    # CH QuantileExactLow (QuantileExact.h, public ClickHouse source):
    # level == 0.5 EXACTLY takes the LOWER median — 0-based (n/2)-1 for
    # even n, (n-1)/2 for odd — i.e. 1-based (n+1) DIV 2 (= ceil(n/2));
    # every OTHER level uses quantileExact's own floor(p*n) rule (the
    # source comment's example: level 0.1 over 10 elements -> array[1]).
    # The float() comparison mirrors CH's Float64 `level == 0.5` test
    # on the parsed literal. Same >= 1 clamp as _exact_index (all-NULL
    # group -> index 1 over the empty list -> NULL).
    if float(p) == 0.5:
        return "greatest(CAST((count({x}) + 1) DIV 2 AS INT), 1)"
    return _exact_index(p)


def _check_level_range(levels: list[str]) -> None:
    # ClickHouse throws PARAMETER_OUT_OF_BOUND for any quantile level
    # outside [0, 1] (every quantile* function) — refuse rather than
    # silently clamp to the first/last element
    for p in levels:
        if not 0.0 <= float(p) <= 1.0:
            raise UnsupportedClickHouseSQL(
                f"quantile level {p} is outside [0, 1] — ClickHouse "
                "throws PARAMETER_OUT_OF_BOUND"
            )


def _check_exclusive_levels(levels: list[str]) -> None:
    for p in levels:
        if float(p) in (0.0, 1.0):
            raise UnsupportedClickHouseSQL(
                "quantileExactExclusive cannot interpolate levels 0 and 1 "
                "(ClickHouse throws BAD_ARGUMENTS there) — use "
                "quantileExact / min / max"
            )


def _exclusive_expr(x: str, levels: list[str], plural: bool = False) -> str:
    """CH quantileExactExclusive (QuantileExact.h getFloatImpl; Excel
    PERCENTILE.EXC / R-6 / SciPy-(0,0)): h = level * (n + 1),
    k = floor(h); k < 1 -> first element, k >= n -> last, else
    a[k] + (h - k) * (a[k+1] - a[k]) over the 1-based sorted array,
    all in Float64 (the input casts to DOUBLE — CH returns Float64
    regardless of input type). h is computed in exact DECIMAL here
    where CH multiplies in Float64 — the same one-rank boundary caveat
    as the weighted threshold, documented in MIGRATION.md. Levels 0/1
    refuse upstream (CH throws). All-NULL group -> NULL (CH Nullable
    semantics; the raw NaN arm of getFloatImpl is unreachable through
    Nullable aggregation). The plural form shares ONE sort and ONE
    size binding across all levels and returns an array even with a
    single level (CH's quantiles* contract)."""

    def one(p: str) -> str:
        k = f"CAST(floor({p} * (n + 1)) AS INT)"
        frac = f"CAST({p} * (n + 1) - floor({p} * (n + 1)) AS DOUBLE)"
        return (
            f"CASE WHEN n = 0 THEN CAST(NULL AS DOUBLE) "
            f"WHEN {k} < 1 THEN element_at(a, 1) "
            f"WHEN {k} >= n THEN element_at(a, n) "
            f"ELSE element_at(a, {k}) + {frac} * "
            f"(element_at(a, {k} + 1) - element_at(a, {k})) END"
        )

    assert plural or len(levels) == 1, levels  # see _exact_rank_rule_expr
    body = (
        one(levels[0])
        if not plural
        else f"array({', '.join(one(p) for p in levels)})"
    )
    # sort_array over the NULL-free collected list — see
    # _exact_quantile_expr for the native-vs-interpreted-sort rationale
    return (
        f"element_at(transform(array(sort_array(collect_list("
        f"CAST({x} AS DOUBLE)))), a -> "
        f"element_at(transform(array(size(a)), n -> {body}), 1)), 1)"
    )


def _exact_rank_rule_expr(
    x: str, levels: list[str], rule: str, plural: bool = False
) -> str:
    """The four exact rank-rule variants — same sorted-array machinery
    as quantileExact, different rank
    formula (all from QuantileExact.h, public ClickHouse source):

      Low       — lower median at level 0.5; floor(p*n) otherwise
                  (_exact_index_low parameterizes the shared spellings).
      High      — higher median at level 0.5, which COINCIDES with
                  quantileExact's floor(p*n)+1 at every n parity
                  (even: n/2+1 both; odd: (n+1)/2 both), and the other
                  levels share quantileExact's branch verbatim — so
                  High delegates to exactly the quantileExact spelling.
      Inclusive — Excel PERCENTILE.INC / R-7: h = p*(n-1) linear
                  interpolation = Spark percentile / DuckDB
                  quantile_cont, exact over all values (CH evaluates
                  this one exactly too — no reservoir), so the lowering
                  is the function's own definition, not a refinement.
      Exclusive — Excel PERCENTILE.EXC / R-6: see _exclusive_expr.

    A PLURAL spelling returns an array even with one level (CH returns
    Array(T) for every quantiles* form — a scalar here would be a
    silent dtype mistranslation); singular spellings return the scalar.
    Plural forms share ONE sort across levels (the
    _exact_quantiles_plural_expr let trick). Levels outside [0, 1]
    refuse (CH PARAMETER_OUT_OF_BOUND)."""
    rule = rule.lower()
    # singular callers must pre-split to one level — silently computing
    # only levels[0] would be a wrong-result hazard for future callers
    assert plural or len(levels) == 1, levels
    _check_level_range(levels)
    if rule == "inclusive":
        if not plural:
            return _interp_quantile_expr(x, levels[0])
        return f"percentile({x}, array({', '.join(levels)}))"
    if rule == "exclusive":
        _check_exclusive_levels(levels)
        return _exclusive_expr(x, levels, plural=plural)
    idx_fn = _exact_index_low if rule == "low" else _exact_index
    if not plural:
        return _exact_quantile_expr(x, levels[0], idx_fn=idx_fn)
    return _exact_quantiles_plural_expr(x, levels, idx_fn=idx_fn)


def _exact_weighted_expr(x: str, w: str, p: str) -> str:
    """CH quantileExactWeighted(p)(x, w) (QuantileExactWeighted::getImpl,
    public ClickHouse source): sort values ascending, accumulate weights,
    return the FIRST value whose cumulative weight reaches the threshold
    floor(p * total_weight). Deterministic refinement documented in
    MIGRATION.md: weights are cast to BIGINT and assumed positive (CH's
    zero-weight edge returns the first element regardless of p; the
    threshold here clamps to >= 1, skipping zero-weight prefixes), and
    NULL value/weight pairs are skipped (CH Nullable semantics).

    Spelled as one pass over array_sort(collect_list(struct(v, w))) with
    the 1-element-array let trick (the _topk_expr precedent): the sorted
    list binds to `a`, the total weight to `tot`, and a 2-field
    (sum, result) fold returns the crossing VALUE directly — the typed
    NULL for the not-found state comes from `try_element_at(a, 2^31-1).v`
    (out-of-bounds yields a NULL of the element type, so no CAST to an
    unknown type is needed). Empty group -> result stays NULL (CH's
    answer). p is a decimal literal and weights integers, so the
    threshold arithmetic is exact decimal on BOTH engines — no float
    boundary anywhere. Documented deviation from live ClickHouse
    (also in MIGRATION.md): CH computes its threshold as
    `level * sum_weight` in FLOAT64 and truncates, so at float-boundary
    combinations (e.g. p=0.29, total=100: Float64 0.29*100 =
    28.999999999999996 -> CH threshold 28 vs exact decimal 29) a live
    server can sit one rank away from this translation. The
    exact-decimal spelling is deliberate — it matches the construct's
    mathematical definition and the DuckDB oracle's arithmetic — but
    that same agreement means the harness cannot observe the deviation;
    only a live-CH differential would. The plural form (_exact_weighted_plural_expr)
    shares ONE sort + ONE total fold across all levels."""
    return _weighted_let(x, w, [_weighted_find(_weighted_threshold(p))])


def _weighted_pairs(x: str, w: str, sort: bool = True) -> str:
    # NULL value/weight pairs are skipped (collect_list drops NULL
    # elements; CH Nullable semantics). Struct sort = (v, w)
    # lexicographic — required by the quantile crossing scan; top-K's
    # weight sums are order-independent, so it passes sort=False (a
    # struct-array sort costs ~0.43 s per 200k rows at sf0.1).
    collected = (
        f"collect_list(CASE WHEN ({x}) IS NOT NULL "
        f"AND ({w}) IS NOT NULL THEN "
        f"named_struct('v', {x}, 'w', CAST({w} AS BIGINT)) END)"
    )
    # sort_array's native struct ordering (field-by-field, the same
    # (v, w) lexicographic order as array_sort's default comparator)
    # over the NULL-free collected pairs — see _exact_quantile_expr
    return f"sort_array({collected})" if sort else collected


def _weighted_threshold(p: str) -> str:
    return f"greatest(CAST(floor({p} * tot) AS BIGINT), CAST(1 AS BIGINT))"


def _weighted_find(t_expr: str) -> str:
    # saturating fold: once `r` is set it is carried unchanged; before
    # that the running weight sum accumulates until it crosses t.
    return (
        f"aggregate(a, named_struct('s', CAST(0 AS BIGINT), "
        f"'r', try_element_at(a, 2147483647).v), "
        f"(st, e) -> CASE WHEN st.r IS NOT NULL THEN st "
        f"WHEN st.s + e.w >= {t_expr} "
        f"THEN named_struct('s', st.s + e.w, 'r', e.v) "
        f"ELSE named_struct('s', st.s + e.w, 'r', st.r) END, "
        f"st -> st.r)"
    )


def _weighted_let(x: str, w: str, finds: list[str]) -> str:
    # let-bind the sorted pair list (`a`) and the total weight (`tot`)
    # once; each find in `finds` runs over the same bindings.
    body = finds[0] if len(finds) == 1 else f"array({', '.join(finds)})"
    total = "aggregate(a, CAST(0 AS BIGINT), (s, e) -> s + e.w)"
    return (
        f"element_at(transform(array({_weighted_pairs(x, w)}), a -> "
        f"element_at(transform(array({total}), tot -> {body}), 1)), 1)"
    )


def _exact_weighted_plural_expr(x: str, w: str, levels: list[str]) -> str:
    # plural form: ONE sorted pair list, ONE total fold, and ONE
    # crossing fold for ALL levels (state = running sum + one result
    # slot per level). Measured at sf0.1: the collect is the ~0.8 s
    # floor, each struct sort adds ~0.43 s and each separate crossing
    # fold ~0.25 s — sharing both makes k levels cost one level.
    null_v = "try_element_at(a, 2147483647).v"
    zero = ", ".join(f"'r{i}', {null_v}" for i in range(len(levels)))
    step = ", ".join(
        f"'r{i}', CASE WHEN st.r{i} IS NOT NULL THEN st.r{i} "
        f"WHEN st.s + e.w >= {_weighted_threshold(p)} THEN e.v END"
        for i, p in enumerate(levels)
    )
    finish = ", ".join(f"st.r{i}" for i in range(len(levels)))
    find_all = (
        f"aggregate(a, named_struct('s', CAST(0 AS BIGINT), {zero}), "
        f"(st, e) -> named_struct('s', st.s + e.w, {step}), "
        f"st -> array({finish}))"
    )
    return _weighted_let(x, w, [find_all])


def _topk_expr(x: str, n: int) -> str:
    # let-binding via a 1-element array: the collected list is computed
    # once and referenced repeatedly through the lambda variable `a`
    # sort_array: the (neg, val) structs are built non-NULL, so the
    # native struct ordering equals array_sort's default comparator
    return (
        f"element_at(transform(array(collect_list({x})), a -> "
        f"slice(transform(sort_array(transform(array_distinct(a), v -> "
        f"named_struct('neg', -size(filter(a, e -> e <=> v)), 'val', v))), "
        f"s -> s.val), 1, {n})), 1)"
    )


def _topk_weighted_expr(x: str, w: str, n: int) -> str:
    """CH topKWeighted(N)(x, w): the ~N values with the largest summed
    weights. Deterministic refinement (same contract as _topk_expr's
    refinement of the counting sketch): EXACT per-value weight sums,
    weight-descending with a value-ascending tie-break; NULL value/
    weight pairs are skipped; weights cast to BIGINT. The pair list
    stays UNSORTED (weight sums are order-independent; the output
    order comes from the (negw, val) struct sort over the distinct
    values, and a struct-array sort costs ~0.43 s per 200k rows at
    sf0.1). The collected group is scanned once per distinct value — bounded-domain dialect
    path; heavy_hitters_weighted is the bounded-memory 100 TB path."""
    pairs = _weighted_pairs(x, w, sort=False)
    return (
        f"element_at(transform(array({pairs}), a -> "
        f"slice(transform(sort_array(transform("
        f"array_distinct(transform(a, e -> e.v)), v -> "
        f"named_struct('negw', -aggregate(filter(a, e -> e.v <=> v), "
        f"CAST(0 AS BIGINT), (s, e) -> s + e.w), 'val', v))), "
        f"s -> s.val), 1, {n})), 1)"
    )


def _avg_weighted_expr(x: str, w: str) -> str:
    """CH avgWeighted(x, w): Float64 sum(x*w)/sum(w), NULL pairs
    skipped. Documented refinement: an empty group or a zero total
    weight yields NaN (CH returns NaN for the empty group and IEEE
    inf/NaN for nonzero/0 — Spark's ANSI double division THROWS on a
    zero divisor, so the zero-total arm is made explicit)."""
    guard = f"(({x}) IS NOT NULL AND ({w}) IS NOT NULL)"
    den = f"sum(CASE WHEN {guard} THEN CAST(({w}) AS DOUBLE) END)"
    num = (
        f"sum(CASE WHEN {guard} THEN "
        f"CAST(({x}) AS DOUBLE) * CAST(({w}) AS DOUBLE) END)"
    )
    return (
        f"(CASE WHEN {den} IS NULL OR {den} = 0.0D "
        f"THEN CAST('NaN' AS DOUBLE) ELSE {num} / {den} END)"
    )


def _quantile_shape(key: str, params: list[str] | None, args: list[str]):
    """(plural, exact, rule, levels) of an accepted quantile/median call
    — rule is None or low/high/inclusive/exclusive/weighted — or None to
    keep it as written. Parametric calls take numeric-literal levels;
    the plain forms take the median level (quantiles* and
    quantileExactWeighted need their levels, medianExact has no
    Inclusive/Exclusive form)."""
    form = _QUANTILE_FORM(key)
    arity = 1 + key.endswith("weighted")
    if form is None or len(args) != arity or not _within_budget(args):
        return None
    stem, rule = form[1], form[3]
    if params is None:
        if stem == "quantiles" or (stem and rule == "weighted"):
            return None
        if not stem and rule in ("inclusive", "exclusive"):
            return None
        params = ["0.5"]
    elif not (stem and params and all(map(_NUM_LIT, params))):
        return None
    return stem == "quantiles", form[2] is not None, rule, params


def _fused_weighted_levels(lex: _Lex) -> dict:
    """Cross-expression fusion plan for the ExactWeighted family, read
    through the call walk's scanner before the walk: when a statement
    carries TWO OR MORE weighted-quantile calls over the same (x, w)
    argument text as written (plural + medianExactWeighted is the
    canonical CH idiom), every occurrence is spelled from ONE canonical
    multi-level fold over the
    value-sorted union of the statement's levels, with singular/median
    occurrences extracting their slot via element_at. Spark's
    subexpression elimination evaluates byte-identical project subtrees
    once (measured: plural + element_at(identical plural) runs at the
    plural-only floor), so the per-occurrence struct sort (~0.43 s /
    200k rows at sf0.1) and crossing fold (~0.25 s) collapse to one.
    Slot results are independent CASE arms of the shared fold, so each
    requested level's value is bit-identical to its standalone form
    (same literal threshold arithmetic, same NULL init state). A key
    used by a single occurrence keeps its standalone spelling — the
    single-level path stays exercised, and cosmetically different
    argument spellings simply don't fuse (not an error).

    Returns {(x, w): (ordered Decimal values, ordered level literals)}
    for keys with >= 2 occurrences in the lexed statement."""
    slots: dict = {}
    occurrences: dict = {}
    for m in _CALL_HEAD.finditer(lex.masked):
        key = m.group(1).lower()
        if not key.endswith("exactweighted"):
            continue
        site = _call_site(lex, m.end(), parametric=True)
        if site is None:
            continue
        args = [p.strip() for p in site[2]]
        shape = _quantile_shape(key, site[1], args)
        if shape is None:
            continue
        xw = (args[0], args[1])
        per = slots.setdefault(xw, {})
        for p in shape[3]:
            per.setdefault(Decimal(p), p)
        occurrences[xw] = occurrences.get(xw, 0) + 1
    fused = {}
    for key, per in slots.items():
        if occurrences.get(key, 0) >= 2:
            ordered = sorted(per.items())
            fused[key] = ([v for v, _ in ordered], [lit for _, lit in ordered])
    return fused


def _weighted_quantile(x: str, w: str, levels: list[str], plural: bool, plan) -> str:
    if plan is None:
        if plural:
            return _exact_weighted_plural_expr(x, w, levels)
        return _exact_weighted_expr(x, w, levels[0])
    vals, lits = plan
    canon = _exact_weighted_plural_expr(x, w, lits)

    def slot(p: str) -> str:
        return f"element_at({canon}, {vals.index(Decimal(p)) + 1})"

    if not plural:
        return slot(levels[0])
    if [Decimal(p) for p in levels] == vals:
        return canon
    # caller's order/multiplicity differs from the canonical sorted
    # union — rebuild the array from shared slots (the repeated canon
    # texts CSE to one evaluation)
    return f"array({', '.join(slot(p) for p in levels)})"


def _aggregate_call(name: str, args: list[str], recurse, params, fused) -> str | None:
    """The parametric family: quantile/median in every accepted form
    (_quantile_shape), topK[Weighted](N)(x[, w]), uniqUpTo(N)(x) and
    avgWeighted(x, w). ``params`` is the parameter list of an
    ``f(params)(args)`` call, else None; ``fused`` is the statement's
    weighted-level fusion plan (_fused_weighted_levels). Arguments must
    fit the one-paren _ARG budget, as the level and count parameters
    must be numeric literals; other spellings keep their text and refuse
    at the residual check."""
    key = name.lower()
    if key in ("topk", "topkweighted", "uniqupto"):
        count = params is not None and len(params) == 1 and params[0].isdecimal()
        arity = 1 + key.endswith("weighted")
        if not (count and len(args) == arity and _within_budget(args)):
            return None
        n, x = params[0], recurse(args[0])
        if key == "uniqupto":
            # exact count-distinct saturating at N+1 — CH's documented
            # contract, spelled exactly with LEAST
            return f"LEAST(COUNT(DISTINCT {x}), {n} + 1)"
        if key == "topk":
            return _topk_expr(x, int(n))
        return _topk_weighted_expr(x, recurse(args[1]), int(n))
    if key == "avgweighted":
        if params is not None or len(args) != 2 or not _within_budget(args):
            return None
        return _avg_weighted_expr(recurse(args[0]), recurse(args[1]))
    shape = _quantile_shape(key, params, args)
    if shape is None:
        return None
    plural, exact, rule, levels = shape
    if not plural and len(levels) > 1:
        form, tail = "", "(x)"
        if rule == "weighted":
            form, tail = "ExactWeighted", "(x, w)"
        elif rule:
            form = "Exact" + name[len(name) - len(rule) :]
        raise UnsupportedClickHouseSQL(
            f"quantile{form}() takes one level — "
            f"use quantiles{form}(p1, ...){tail}"
        )
    _check_level_range(levels)
    x = recurse(args[0])
    if rule == "weighted":
        plan = fused.get((args[0], args[1]))
        return _weighted_quantile(x, recurse(args[1]), levels, plural, plan)
    if rule:
        return _exact_rank_rule_expr(x, levels, rule, plural=plural)
    if exact:
        if plural:
            return _exact_quantiles_plural_expr(x, levels)
        return _exact_quantile_expr(x, levels[0])
    if plural:
        return f"percentile({x}, array({', '.join(levels)}))"
    return _interp_quantile_expr(x, levels[0])


_CALLS: dict = {
    # comparison / LIKE function spellings: CH spells every comparison
    # as a named function returning UInt8; the operator forms already
    # pass through as Spark booleans, so the function spellings lower to
    # the SAME parenthesized operators — one consistent boolean surface
    # (UInt8 -> BOOLEAN documented in MIGRATION.md; sum(equals(..))
    # fails loudly exactly like sum(a=b) does — wrap in countIf/if as CH
    # users already must for typed aggregation). like()/ilike() need no
    # entry: Spark resolves both function spellings natively with
    # identical %/_/backslash semantics (measured).
    "notequals": "({0} != {1})",
    "equals": "({0} = {1})",
    "lessorequals": "({0} <= {1})",
    "greaterorequals": "({0} >= {1})",
    "less": "({0} < {1})",
    "greater": "({0} > {1})",
    "notlike": "({0} NOT LIKE {1})",
    "notilike": "(NOT ilike({0}, {1}))",
    # ---- rounding / exponentials ----
    # roundBankers IS Spark's bround (IEEE half-even, any arity)
    "roundbankers": "bround(",
    # exp2/exp10 compute at Float64 in CH; pow is the same
    # correctly-rounded libm double for the integer exponents these
    # are used with
    "exp2": "pow(2, ",
    "exp10": "pow(10, ",
    # intExp2 -> shiftleft(1L, x): exact on [0, 62]; 2^63 has no
    # signed-BIGINT home (UInt64 width surface, the emptyArrayUInt64
    # class) and Spark wraps the shift mod 64 where CH errors —
    # literal out-of-domain arguments refuse in _REFUSALS, column
    # arguments are documented in MIGRATION.md
    "intexp2": "shiftleft(1L, ",
    # ---- float classification ----
    # isNaN rides Spark's NaN-EQUALITY (NaN = NaN is TRUE in Spark,
    # unlike IEEE): single evaluation, NULL propagates (CH Nullable
    # rule — Spark's bare isnan(NULL) returns false, the silent
    # divergence this entry closes)
    "isnan": "(({0}) = CAST('NaN' AS DOUBLE))",
    # abs(x) < inf: finite -> true, ±inf -> false, NaN -> false
    # (Spark's NaN comparisons return false except =/>=-against-NaN),
    # NULL -> NULL — single evaluation, no CASE needed
    "isfinite": "(abs({0}) < CAST('Infinity' AS DOUBLE))",
    "isinfinite": "(abs({0}) = CAST('Infinity' AS DOUBLE))",
    # x if finite else y; NULL x -> NULL (CH Nullable propagation —
    # stated assumption, MIGRATION.md). x evaluates up to three times
    # — row-local, the least/greatest caveat class
    "ifnotfinite": (
        "(CASE WHEN ({0}) IS NULL THEN NULL"
        " WHEN abs({0}) < CAST('Infinity' AS DOUBLE) THEN ({0})"
        " ELSE ({1}) END)"
    ),
    # ---- vector norms / distances (the LLM-pipeline surface:
    # embeddings live in array columns here) ----
    # All accumulate at DOUBLE via a `* 1.0D` widening factor — CH
    # accumulates wide too (UInt64/Float64); integer inputs would
    # otherwise overflow INT multiplication under ANSI (the session
    # default) and the value surface is documented in MIGRATION.md
    # (exact for |values| < 2^53). Empty arrays give 0 like CH; a NULL
    # ELEMENT makes the whole result NULL in every member (the Linf
    # fold spells max arithmetically — 0.5*(a+|x|+|a-|x||) — because
    # greatest() SKIPS NULLs and would silently diverge from the
    # sum-based members). UNEQUAL-length distance args yield NULL
    # (zip_with pads) where CH raises — loud-to-NULL, documented.
    "l1norm": (
        "aggregate({0}, 0D, (cdr_vn_a, cdr_vn_x) ->"
        " cdr_vn_a + abs(cdr_vn_x * 1.0D))"
    ),
    "l2norm": (
        "sqrt(aggregate({0}, 0D, (cdr_vn_a, cdr_vn_x) ->"
        " cdr_vn_a + cdr_vn_x * 1.0D * cdr_vn_x))"
    ),
    "l2squarednorm": (
        "aggregate({0}, 0D, (cdr_vn_a, cdr_vn_x) ->"
        " cdr_vn_a + cdr_vn_x * 1.0D * cdr_vn_x)"
    ),
    "linfnorm": (
        "aggregate({0}, 0D, (cdr_vn_a, cdr_vn_x) -> 0.5D * (cdr_vn_a"
        " + abs(cdr_vn_x * 1.0D) + abs(cdr_vn_a - abs(cdr_vn_x * 1.0D))))"
    ),
    "l1distance": (
        "aggregate(zip_with({0}, {1}, (cdr_vd_x, cdr_vd_y) ->"
        " abs(cdr_vd_x * 1.0D - cdr_vd_y)), 0D,"
        " (cdr_vd_a, cdr_vd_v) -> cdr_vd_a + cdr_vd_v)"
    ),
    "l2squareddistance": (
        "aggregate(zip_with({0}, {1}, (cdr_vd_x, cdr_vd_y) ->"
        " (cdr_vd_x * 1.0D - cdr_vd_y) * (cdr_vd_x * 1.0D - cdr_vd_y)),"
        " 0D, (cdr_vd_a, cdr_vd_v) -> cdr_vd_a + cdr_vd_v)"
    ),
    "l2distance": (
        "sqrt(aggregate(zip_with({0}, {1}, (cdr_vd_x, cdr_vd_y) ->"
        " (cdr_vd_x * 1.0D - cdr_vd_y) * (cdr_vd_x * 1.0D - cdr_vd_y)),"
        " 0D, (cdr_vd_a, cdr_vd_v) -> cdr_vd_a + cdr_vd_v))"
    ),
    "linfdistance": (
        "aggregate(zip_with({0}, {1}, (cdr_vd_x, cdr_vd_y) ->"
        " abs(cdr_vd_x * 1.0D - cdr_vd_y)), 0D,"
        " (cdr_vd_a, cdr_vd_v) -> 0.5D * (cdr_vd_a + cdr_vd_v"
        " + abs(cdr_vd_a - cdr_vd_v)))"
    ),
    **dict.fromkeys(
        ("arraydotproduct", "dotproduct"),
        "aggregate(zip_with({0}, {1}, (cdr_vd_x, cdr_vd_y) ->"
        " cdr_vd_x * 1.0D * cdr_vd_y), 0D,"
        " (cdr_vd_a, cdr_vd_v) -> cdr_vd_a + cdr_vd_v)",
    ),
    # Lp family: literal-or-column p, DOUBLE folds (the same
    # conventions: empty -> 0^(1/p) = 0, NULL element -> NULL)
    "lpnorm": (
        "pow(aggregate({0}, 0D, (cdr_vn_a, cdr_vn_x) ->"
        " cdr_vn_a + pow(abs(cdr_vn_x * 1.0D), {1})), 1.0D / ({1}))"
    ),
    "lpdistance": (
        "pow(aggregate(zip_with({0}, {1}, (cdr_vd_x, cdr_vd_y) ->"
        " pow(abs(cdr_vd_x * 1.0D - cdr_vd_y), {2})), 0D,"
        " (cdr_vd_a, cdr_vd_v) -> cdr_vd_a + cdr_vd_v), 1.0D / ({2}))"
    ),
    # unit-scaled copies: the norm fold references the array again
    # (array EXPRESSION computes several times, row-local; columns are
    # free); a ZERO norm rides the divide() idiom — ANSI raises on any
    # zero divisor, double included — and 0 * Infinity gives the NaN
    # elements CH returns for zero vectors
    "normalizel1": (
        "transform({0}, cdr_nv_x -> CASE"
        " WHEN aggregate({0}, 0D, (cdr_nv_a, cdr_nv_y) ->"
        " cdr_nv_a + abs(cdr_nv_y * 1.0D)) = 0.0D"
        " THEN cdr_nv_x * 1.0D * CAST('Infinity' AS DOUBLE)"
        " ELSE cdr_nv_x * 1.0D / nullif(aggregate({0}, 0D,"
        " (cdr_nv_a, cdr_nv_y) -> cdr_nv_a + abs(cdr_nv_y * 1.0D)),"
        " 0.0D) END)"
    ),
    "normalizel2": (
        "transform({0}, cdr_nv_x -> CASE"
        " WHEN aggregate({0}, 0D, (cdr_nv_a, cdr_nv_y) ->"
        " cdr_nv_a + cdr_nv_y * 1.0D * cdr_nv_y) = 0.0D"
        " THEN cdr_nv_x * 1.0D * CAST('Infinity' AS DOUBLE)"
        " ELSE cdr_nv_x * 1.0D / nullif(sqrt(aggregate({0}, 0D,"
        " (cdr_nv_a, cdr_nv_y) -> cdr_nv_a + cdr_nv_y * 1.0D"
        " * cdr_nv_y)), 0.0D) END)"
    ),
    # cosineDistance = 1 - dot/(|a|*|b|): the zero-norm divisor rides
    # the divide() idiom (dot is then 0, and 0 * inf = nan — exactly
    # CH's nan) so ANSI never raises. Each array is referenced three
    # times — row-local; cost note: an expensive array EXPRESSION
    # computes three times (columns are free)
    "cosinedistance": (
        "(1.0D - CASE WHEN sqrt(aggregate({0}, 0D, (cdr_vd_a, cdr_vd_x)"
        " -> cdr_vd_a + cdr_vd_x * 1.0D * cdr_vd_x))"
        " * sqrt(aggregate({1}, 0D, (cdr_vd_a, cdr_vd_x) ->"
        " cdr_vd_a + cdr_vd_x * 1.0D * cdr_vd_x)) = 0.0D"
        " THEN aggregate(zip_with({0}, {1}, (cdr_vd_x, cdr_vd_y) ->"
        " cdr_vd_x * 1.0D * cdr_vd_y), 0D, (cdr_vd_a, cdr_vd_v) ->"
        " cdr_vd_a + cdr_vd_v) * CAST('Infinity' AS DOUBLE)"
        " ELSE aggregate(zip_with({0}, {1}, (cdr_vd_x, cdr_vd_y) ->"
        " cdr_vd_x * 1.0D * cdr_vd_y), 0D, (cdr_vd_a, cdr_vd_v) ->"
        " cdr_vd_a + cdr_vd_v)"
        " / nullif(sqrt(aggregate({0}, 0D, (cdr_vd_a, cdr_vd_x) ->"
        " cdr_vd_a + cdr_vd_x * 1.0D * cdr_vd_x))"
        " * sqrt(aggregate({1}, 0D, (cdr_vd_a, cdr_vd_x) ->"
        " cdr_vd_a + cdr_vd_x * 1.0D * cdr_vd_x)), 0.0D) END)"
    ),
    # ---- map lambda swaps ----
    # CH spells (lambda, map); Spark spells (map, lambda) — the
    # arrayCount swap precedent. mapExists/mapAll ride cardinality of
    # the same filter (mapAll references the map twice — row-local;
    # empty maps: exists -> false, all -> true, both matching CH's
    # vacuous results)
    "mapfilter": "map_filter({1}, {0})",
    "mapexists": "(cardinality(map_filter({1}, {0})) > 0)",
    "mapall": "(cardinality(map_filter({1}, {0})) = cardinality({1}))",
    # ---- arithmetic ----
    # negate is the unary-minus spelling
    "negate": "(-({0}))",
    # zero-divisor variants: CH returns 0 where bare intDiv/modulo
    # error; NULL divisor rides the ELSE to NULL (CH Nullable rule)
    "intdivorzero": "(CASE WHEN ({1}) = 0 THEN 0 ELSE ({0}) div ({1}) END)",
    "moduloorzero": "(CASE WHEN ({1}) = 0 THEN 0 ELSE mod(({0}), ({1})) END)",
    # max2/min2 return Float64 and propagate NULL; Spark's greatest/
    # least SKIP NULLs, so the guard spells CH's rule (args twice,
    # row-local — the least/greatest caveat class)
    "max2": (
        "(CASE WHEN ({0}) IS NULL OR ({1}) IS NULL THEN NULL"
        " ELSE CAST(greatest(({0}), ({1})) AS DOUBLE) END)"
    ),
    "min2": (
        "(CASE WHEN ({0}) IS NULL OR ({1}) IS NULL THEN NULL"
        " ELSE CAST(least(({0}), ({1})) AS DOUBLE) END)"
    ),
    # arithmetic function spellings: CH exposes operators as functions
    "plus": "({0} + {1})",
    "minus": "({0} - {1})",
    "multiply": "({0} * {1})",
    "intdiv": "({0} div {1})",
    "modulo": "mod(",
    # CH divide() is ALWAYS Float64 division with IEEE zero-divisor
    # semantics (1/0 = inf, 0/0 = nan) — Spark's `/` raises
    # DIVIDE_BY_ZERO under ANSI (the session default) and NULLs
    # otherwise, so a bare operator swap changes zero-divisor behavior.
    # The CASE reproduces CH: a * inf gives ±inf by a's sign and nan
    # for a = 0. The divisor appears twice (textual rewrites can't bind
    # a variable — cost note: an expensive divisor computes twice), but
    # the ELSE guards its own draw with nullif, so even a
    # NONdeterministic divisor whose draws disagree with the WHEN can
    # never raise — worst case a draw-dependent value, exactly what CH
    # itself gives for a nondeterministic divisor. (Known edge: a
    # negative-zero DIVISOR loses its sign — CH 1/-0.0 = -inf, here
    # +inf.)
    "divide": (
        "(CASE WHEN CAST({1} AS DOUBLE) = 0.0D"
        " THEN CAST({0} AS DOUBLE) * CAST('Infinity' AS DOUBLE)"
        " ELSE CAST({0} AS DOUBLE) / nullif(CAST({1} AS DOUBLE), 0.0D) END)"
    ),
    # scalar bitwise ops: two's-complement AND/OR/XOR/NOT are
    # width-independent (both engines promote to a common integer type
    # and the bit patterns agree), so the operator spellings are exact.
    # bitShift*/bitRotate*/bitCount/bitTest* refuse in _REFUSED_CALLS —
    # shift-count masking and sign-extension make those width-dependent.
    "bitand": "(({0}) & ({1}))",
    "bitor": "(({0}) | ({1}))",
    "bitxor": "(({0}) ^ ({1}))",
    "bitnot": "(~({0}))",
    # ---- type-surface identities: the VALUE is unchanged ----
    "tonullable": "({0})",
    "materialize": "({0})",
    "identity": "({0})",
    # assumeNotNull is a type-level assertion
    "assumenotnull": "({0})",
    "iszeroornull": "(({0}) IS NULL OR ({0}) = 0)",
    # ---- type conversions ----
    **{
        f"to{t}int{w}": "CAST({0} AS BIGINT)"
        for t in ("", "u")
        for w in (8, 16, 32, 64, 128, 256)
    },
    "tofloat32": "CAST({0} AS DOUBLE)",
    "tofloat64": "CAST({0} AS DOUBLE)",
    "tostring": "CAST({0} AS STRING)",
    "todatetime": "to_timestamp(",
    "todate": "to_date(",
    **_or_converters("int8", "TINYINT"),
    **_or_converters("int16", "SMALLINT"),
    **_or_converters("int32", "INT"),
    **_or_converters("int64", "BIGINT"),
    **_or_converters("float32", "FLOAT"),
    **_or_converters("float64", "DOUBLE"),
    # fixed-precision casts: toDecimal{32,64,128}(x, S) carries the CH
    # type's full precision (9/18/38 digits) at the written scale
    "todecimal32": _shaped(_UINT_ARG, "CAST({0} AS DECIMAL(9, {1}))"),
    "todecimal64": _shaped(_UINT_ARG, "CAST({0} AS DECIMAL(18, {1}))"),
    "todecimal128": _shaped(_UINT_ARG, "CAST({0} AS DECIMAL(38, {1}))"),
    # accurateCast / accurateCastOrNull with a literal type name (the
    # emitter maps CH type names and refuses domain-mismatched ones)
    "accuratecast": _accurate_cast("CAST"),
    "accuratecastornull": _accurate_cast("try_cast"),
    **{
        f"tointerval{unit}": _stripped(form)
        for unit, form in _TO_INTERVAL_FORMS.items()
    },
    # ---- date/time constructors and projections ----
    "makedate": "make_date({0}, {1}, {2})",
    "makedatetime": "make_timestamp({0}, {1}, {2}, {3}, {4}, {5})",
    "toyyyymmddhhmmss": "CAST(date_format({0}, 'yyyyMMddHHmmss') AS BIGINT)",
    "toyyyymmdd": "CAST(date_format({0}, 'yyyyMMdd') AS BIGINT)",
    "toyyyymm": "CAST(date_format({0}, 'yyyyMM') AS BIGINT)",
    "toisoyear": "extract(YEAROFWEEK FROM {0})",
    "tolastdayofmonth": "last_day(",
    "timezone": "current_timezone()",
    "currentdatabase": "current_database()",
    "currentuser": "current_user()",
    "today": "current_date()",
    "yesterday": "date_sub(current_date(), 1)",
    "now": "current_timestamp()",
    "toyear": "year({0})",
    "toquarter": "quarter({0})",
    "tomonth": "month({0})",
    # CH toISOWeek and Spark weekofyear are both ISO-8601 week numbers
    "toisoweek": "weekofyear({0})",
    "tohour": "hour({0})",
    "tominute": "minute({0})",
    "tosecond": "second({0})",
    "todayofmonth": "day({0})",
    "todayofyear": "dayofyear({0})",
    # ClickHouse numbers Monday=1..Sunday=7; Spark's dayofweek is
    # Sunday=1..Saturday=7 — shift so the two agree
    "todayofweek": "(((dayofweek({0}) + 5) % 7) + 1)",
    "tounixtimestamp": "unix_timestamp({0})",
    # CH fromUnixTimestamp(x) -> DateTime; Spark has no such name.
    # timestamp_seconds is the exact instant. The 2-arg formatting form
    # refuses (residual) — spell it as
    # formatDateTime(fromUnixTimestamp(x), fmt).
    "fromunixtimestamp": "timestamp_seconds({0})",
    # epoch precision family: Milli/Micro are exact Spark twins; the
    # Nano forms REFUSE (Spark timestamps top out at microseconds — a
    # silent sub-microsecond truncation otherwise)
    "fromunixtimestamp64milli": "timestamp_millis(",
    "fromunixtimestamp64micro": "timestamp_micros(",
    "tounixtimestamp64milli": "unix_millis(",
    "tounixtimestamp64micro": "unix_micros(",
    # ---- date rounding ----
    "tostartofhour": "date_trunc('hour', {0})",
    "tostartofday": "date_trunc('day', {0})",
    "tostartofmonth": "CAST(date_trunc('month', {0}) AS DATE)",
    "tostartofyear": "CAST(date_trunc('year', {0}) AS DATE)",
    "tostartofquarter": "CAST(date_trunc('quarter', {0}) AS DATE)",
    "tostartofminute": "date_trunc('minute', {0})",
    "tostartofweek": _to_start_of_week,
    "tomonday": "CAST(date_trunc('week', {0}) AS DATE)",
    # toStartOfFiveMinutes/TenMinutes/FifteenMinutes, timeSlot (the
    # half-hour) and literal toStartOfInterval for the FIXED-length
    # sub-day units: epoch bucketing (CH's 1970-01-01 origin). TIMEZONE
    # PRECONDITION (the dateDiff sub-day class, MIGRATION.md): CH
    # buckets on the column timezone's wall clock — identical under UTC
    # or any fixed offset aligned to the bucket width (this module's
    # default); week/month/quarter/year intervals refuse (origin and
    # calendar-walk conventions diverge — use toStartOfWeek /
    # toStartOfMonth / date_trunc).
    "timeslot": (
        "timestamp_seconds(CAST(floor(unix_timestamp({0}) / 1800)"
        " * 1800 AS BIGINT))"
    ),
    "tostartoffiveminutes": (
        "timestamp_seconds(CAST(floor(unix_timestamp({0}) / 300) * 300"
        " AS BIGINT))"
    ),
    "tostartoftenminutes": (
        "timestamp_seconds(CAST(floor(unix_timestamp({0}) / 600) * 600"
        " AS BIGINT))"
    ),
    "tostartoffifteenminutes": (
        "timestamp_seconds(CAST(floor(unix_timestamp({0}) / 900) * 900"
        " AS BIGINT))"
    ),
    "tostartofinterval": _to_start_of_interval,
    # ---- date arithmetic ----
    # CH's 3-arg date_add/dateAdd/date_sub/dateSub/timestamp_add/...
    # ((unit, n, x) with a bare or quoted unit) collides with Spark's
    # 2-arg date_add(start, days). timestampadd is the exact Spark twin
    # (month-end clamping agrees on both sides — documented in each
    # engine); the bare-unit spelling is Spark's own timestampadd alias
    # and needs no rewrite.
    **{
        f"{base}{sep}{kind}": _date_add_quoted(kind)
        for base in ("date", "timestamp")
        for sep in ("", "_")
        for kind in ("add", "sub")
    },
    # addDays/subtractHours/... -> timestampadd. Type surface: CH's
    # addDays(Date, n) returns Date where timestampadd returns TIMESTAMP
    # — the value is the same instant (MIGRATION.md, the width-surface
    # class).
    **{
        f"{op}{unit}s": _stripped(f"timestampadd({unit.upper()}, {n}, {{0}})")
        for op, n in (("add", "{1}"), ("subtract", "-({1})"))
        for unit in _DATE_ADD_UNITS
    },
    # addDate/subDate take an INTERVAL second argument in CH — the
    # operator forms are the exact Spark spelling (a non-interval
    # second argument errors loudly in both engines)
    "adddate": "(({0}) + ({1}))",
    "subdate": "(({0}) - ({1}))",
    # English month name in both engines (Spark follows the JVM locale,
    # en-US in this module's sessions — documented in MIGRATION.md)
    "monthname": "date_format({0}, 'MMMM')",
    # ---- random ----
    # randUniform/randNormal: per-row nondeterministic in both engines
    "randuniform": "(random() * (({1}) - ({0})) + ({0}))",
    "randnormal": "(randn() * ({1}) + ({0}))",
    # CH rand() is a UInt32 INTEGER in [0, 2^32) — Spark's same-named
    # rand() is a double in [0, 1), the silent-collision class (a CH
    # user's rand() % 100 would quietly become a fraction). Scale
    # Spark's to the CH domain; the optional argument exists in CH only
    # to defeat common-subexpression elimination and is ignored there,
    # so it is ignored here too. randCanonical() IS Spark's rand()
    # contract ([0, 1) double). Both are nondeterministic in BOTH
    # engines — reproducible sampling wants the md5-derived operators
    # (sample_fraction / stratified_sample), not rand. rand64 refuses
    # (a 53-bit double mantissa cannot fill 64 uniform bits).
    "rand": lambda a: (
        "CAST(floor(rand() * 4294967296) AS BIGINT)" if len(a) <= 1 else None
    ),
    "randcanonical": lambda a: "rand()" if len(a) <= 1 else None,
    # both are nondeterministic random v4 UUIDs
    "generateuuidv4": "uuid()",
    # ---- math / statistics ----
    "sgn": "sign(",
    "widthbucket": "width_bucket(",
    # Spark's kurtosis is EXCESS kurtosis (m4/m2^2 - 3, measured class);
    # CH kurtPop is the raw ratio — shift back. skewPop formulas agree.
    "kurtpop": "(kurtosis({0}) + 3)",
    "skewpop": "skewness(",
    # sumKahan: Spark's sum is the uncompensated double sum — same
    # value up to float summation error (documented accuracy surface)
    "sumkahan": "sum(",
    "sumcount": "named_struct('sum', sum({0}), 'count', count({0}))",
    # CH fits y = kx + b from (x, y); Spark's regr_* take (y, x)
    "simplelinearregression": (
        "named_struct('k', regr_slope({1}, {0}), 'b', regr_intercept({1}, {0}))"
    ),
    # moment statistics: same estimators (pop/samp split matches), the
    # names just go snake_case; corrMatrix/covarMatrix etc. fall to the
    # residual refusal
    "stddevpop": "stddev_pop(",
    "stddevsamp": "stddev_samp(",
    "varpop": "var_pop(",
    "varsamp": "var_samp(",
    "covarpop": "covar_pop(",
    "covarsamp": "covar_samp(",
    # throwIf: assert_true throws when its condition is FALSE, so wrap
    # the negation; the ifnull pins CH's 0 return on the pass path
    "throwif": (
        "ifnull(assert_true(NOT ({0})), 0)",
        "ifnull(assert_true(NOT ({0}), {1}), 0)",
    ),
    # ---- aggregate combinators ----
    "countif": "count_if(",
    "sumif": "sum({0}) FILTER (WHERE {1})",
    "avgif": "avg({0}) FILTER (WHERE {1})",
    "minif": "min({0}) FILTER (WHERE {1})",
    "maxif": "max({0}) FILTER (WHERE {1})",
    "uniqexact": "COUNT(DISTINCT {0})",
    **dict.fromkeys(
        ("uniq", "uniqcombined", "uniqhll12", "uniqcombined64"),
        "approx_count_distinct(",
    ),
    "any": "any_value(",
    "anylast": "any_value(",
    # argMax/argMin: identical (value, ordering) argument order in both
    # dialects, and identical tie semantics (an arbitrary row among the
    # ties)
    "argmax": "max_by(",
    "argmin": "min_by(",
    # groupArray/groupUniqArray: collect_list/collect_set. Both engines
    # leave element order partition-dependent — deterministic queries
    # should wrap in arraySort, exactly as they must in ClickHouse
    "groupuniqarray": "collect_set(",
    "grouparray": "collect_list(",
    # bitwise aggregates: identical semantics, snake_case names
    "groupbitand": "bit_and(",
    "groupbitor": "bit_or(",
    "groupbitxor": "bit_xor(",
    # ---- higher-order array functions ----
    # ClickHouse takes (lambda, arr); Spark takes (arr, lambda). The
    # lambda arrow syntax `x -> expr` is identical in both dialects, so
    # only the argument order swaps. Multi-array forms
    # (arrayMap((x,y) -> …, a, b)) have a third argument the 2-slot
    # template can't bind — they fall through to the residual check and
    # refuse rather than mistranslate.
    "arraymap": "transform({1}, {0})",
    "arrayfilter": "filter({1}, {0})",
    "arrayexists": "exists({1}, {0})",
    "arrayall": "forall({1}, {0})",
    # arrayCount(f, arr) -> size(filter(arr, f)); the 1-arg non-zero
    # count refuses (element type unknown textually)
    "arraycount": "size(filter({1}, {0}))",
    # CH spells (lambda, arr, init); Spark aggregate spells (arr, init,
    # lambda) — the lambda's (acc, x) parameter order agrees. Multi-
    # array folds (4+ args) fall to the residual refusal.
    "arrayfold": "aggregate({1}, {2}, {0})",
    # ---- arrays ----
    "arraydistinct": "array_distinct(",
    # bare arraySort only: the keyed form arraySort(f, arr) is a
    # DIFFERENT contract (CH sorts BY KEY, STABLE on ties) from
    # Spark's array_sort comparator — every lambda form, parenthesized
    # parameters included, refuses in _REFUSALS before any rewrite
    "arraysort": "array_sort(",
    # sort_array(arr, false) is Spark's descending sort and places
    # NULLs LAST — exactly CH's arrayReverseSort NULL placement.
    # Remaining divergence: NaN in float arrays — Spark ranks NaN above
    # +inf so descending yields [NaN, inf, ...] while CH keeps NaN just
    # before NULL at the tail; documented in MIGRATION.md
    "arrayreversesort": "sort_array({0}, false)",
    "arrayshuffle": "shuffle(",
    "arraypushback": "array_append(",
    "arraypushfront": "array_prepend(",
    # pop = guarded slice (slice length 0 yields [], so the empty
    # array passes through; the argument is evaluated twice,
    # row-local)
    "arraypopback": "slice({0}, 1, greatest(size({0}) - 1, 0))",
    "arraypopfront": "slice({0}, 2, greatest(size({0}) - 1, 0))",
    "arrayreverse": "reverse(",
    "arrayflatten": "flatten(",
    "arrayslice": "slice(",
    "arrayconcat": "concat(",
    "arraymin": "array_min(",
    "arraymax": "array_max(",
    "arrayjoin": "explode(",
    "arraystringconcat": "array_join(",
    "arrayproduct": (
        "aggregate({0}, 1.0D, (cdr_ap_a, cdr_ap_x) -> cdr_ap_a * cdr_ap_x)"
    ),
    # CH spells (length, elem); Spark spells (elem, count INT)
    "arraywithconstant": "array_repeat(({1}), CAST(({0}) AS INT))",
    # random subset without replacement: both engines return k elements
    # in arbitrary order; slice clamps k past the length
    "arrayrandomsample": "slice(shuffle({0}), 1, CAST(({1}) AS INT))",
    # arrayUniq = count of DISTINCT elements (a scalar, not the list)
    "arrayuniq": "size(array_distinct({0}))",
    # arrayCompact = CONSECUTIVE dedup (keep each run's first element,
    # element type preserved). Index lambda: keep i=0, else compare to
    # the previous element NULL-safely (<=> dedupes NULL runs exactly as
    # CH does: [1,NULL,NULL,2] -> [1,NULL,2], measured). greatest(i, 1)
    # keeps element_at's 1-based index legal when the i=0 arm already
    # decided (ANSI element_at(arr, 0) errors even unselected arms of
    # an OR in some eval orders). The array argument splices twice
    # (row-local double evaluation, the least/greatest caveat class).
    "arraycompact": (
        "filter({0}, (cdr_v_, cdr_i_) -> cdr_i_ = 0 OR "
        "NOT (cdr_v_ <=> element_at({0}, greatest(cdr_i_, 1))))"
    ),
    # arrayEnumerate(arr) = [1..len(arr)], [] for empty, NULL for NULL —
    # transform's index lambda gives all three with ONE evaluation of
    # the argument (a sequence/slice spelling evaluated it twice, which
    # diverges for nondeterministic args; and bare sequence(1, size(a))
    # steps DOWNWARD to [1, 0] for empty arrays). The lambda variables
    # are namespaced so an outer column named x/i can never be shadowed
    # into the body (which references only the index variable).
    "arrayenumerate": "transform({0}, (cdr_x_, cdr_i_) -> cdr_i_ + 1)",
    # arrayDifference: CH yields [0, a[1]-a[0], a[2]-a[1], ...];
    # spelled with transform's index lambda. The array is referenced
    # twice — row-local. CH promotes integer elements to Int64 — without
    # the promotion a TINYINT/SMALLINT subtraction wraps with ANSI off
    # (Int8 [-100, 100] -> CH 200, unpromoted Spark -56). The `* 1L`
    # factor widens every integer family to BIGINT BEFORE the
    # subtraction (reproducing CH's Int64 value), and Spark coerces
    # FLOAT op BIGINT to DOUBLE (measured: array<float> in ->
    # array<double> out) — exactly CH's Float32 -> Float64 promotion —
    # while DOUBLE/DECIMAL keep their own arithmetic. A
    # CAST(... AS BIGINT) would have truncated the float families.
    "arraydifference": (
        "transform({0}, (cdr_ad_x, cdr_ad_i) -> CASE WHEN cdr_ad_i = 0"
        " THEN 0 ELSE cdr_ad_x * 1L - element_at({0}, cdr_ad_i) * 1L END)"
    ),
    # arrayIntersect: Spark's array_intersect (distinct, first-array
    # order — a deterministic refinement of CH's documented arbitrary
    # result order); N-ary via left fold, 2/3-ary here, deeper forms
    # refuse via the residual
    "arrayintersect": (
        "array_intersect({0}, {1})",
        "array_intersect(array_intersect({0}, {1}), {2})",
    ),
    # Jaccard over DISTINCT elements in both engines; the empty/empty
    # case rides the divide() idiom (ANSI raises on ANY zero divisor,
    # double included — measured) so it yields CH's NaN
    "arrayjaccardindex": (
        "(CASE WHEN size(array_union({0}, {1})) = 0"
        " THEN CAST('NaN' AS DOUBLE)"
        " ELSE size(array_intersect({0}, {1})) * 1.0D /"
        " nullif(size(array_union({0}, {1})) * 1.0D, 0.0D) END)"
    ),
    # hasAll/hasAny/countEqual: ClickHouse processes NULL AS A VALUE in
    # these ("hasAny([NULL], [NULL]) = 1", CH docs) — Spark's
    # arrays_overlap returns NULL in exactly that case, so the
    # name-adjacent builtin would silently diverge; the <=> lambdas
    # spell CH's rule exactly (empty needle set: hasAll -> 1,
    # hasAny -> 0 — forall/exists over empty agree). Row-local
    # O(|a|*|b|), each operand evaluated once.
    "hasall": "forall({1}, cdr_he_ -> exists({0}, cdr_hv_ -> cdr_he_ <=> cdr_hv_))",
    "hasany": "exists({1}, cdr_he_ -> exists({0}, cdr_hv_ -> cdr_he_ <=> cdr_hv_))",
    "countequal": "size(filter({0}, cdr_ce_ -> cdr_ce_ <=> ({1})))",
    # arrayElement(a, i) = CH's a[i] spelled as a function — the same
    # lowering as the bracket-index rewrite (1-based, negative from the
    # end in BOTH engines) with the same documented deviation:
    # out-of-range yields NULL here where CH yields the element type's
    # DEFAULT (unknowable textually)
    "arrayelement": "try_element_at({0}, {1})",
    # emptyArrayT() -> typed empty array literals. The unsigned widths
    # map to the next-wider signed Spark type (UInt64 -> BIGINT: the
    # array is EMPTY, so no value can be out of domain; the width
    # surface is documented in MIGRATION.md).
    "emptyarrayint8": "CAST(array() AS ARRAY<TINYINT>)",
    "emptyarrayint16": "CAST(array() AS ARRAY<SMALLINT>)",
    "emptyarrayuint8": "CAST(array() AS ARRAY<SMALLINT>)",
    "emptyarrayint32": "CAST(array() AS ARRAY<INT>)",
    "emptyarrayuint16": "CAST(array() AS ARRAY<INT>)",
    "emptyarrayint64": "CAST(array() AS ARRAY<BIGINT>)",
    "emptyarrayuint32": "CAST(array() AS ARRAY<BIGINT>)",
    "emptyarrayuint64": "CAST(array() AS ARRAY<BIGINT>)",
    "emptyarrayfloat32": "CAST(array() AS ARRAY<FLOAT>)",
    "emptyarrayfloat64": "CAST(array() AS ARRAY<DOUBLE>)",
    "emptyarraystring": "CAST(array() AS ARRAY<STRING>)",
    "emptyarraydate": "CAST(array() AS ARRAY<DATE>)",
    "emptyarraydatetime": "CAST(array() AS ARRAY<TIMESTAMP>)",
    # half-open [start, end) integer range with CH's empty-when-
    # end<=start rule (Spark's sequence is inclusive and walks downward)
    "range": _range,
    # numbers(n) table function -> range(n), keeping CH's column NAME
    # (`number`; Spark's range emits `id`, so a bare swap would break
    # every downstream reference). The 2-arg offset form falls to the
    # residual refusal rather than a silent mis-bind.
    "numbers": "(SELECT id AS number FROM range({0}))",
    # ---- maps ----
    "mapkeys": "map_keys(",
    "mapvalues": "map_values(",
    "mapcontains": "map_contains_key(",
    "mapfromarrays": "map_from_arrays(",
    "mapcontainskeylike": "exists(map_keys({0}), cdr_mkl_k -> cdr_mkl_k LIKE ({1}))",
    "mapextractkeylike": (
        "map_filter({0}, (cdr_mkl_k, cdr_mkl_v) -> cdr_mkl_k LIKE ({1}))"
    ),
    # mapAdd/mapSubtract (map form): key-union zip summing values; a
    # `* 1L` factor reproduces CH's Int64 promotion (the
    # arrayDifference precedent); missing keys count as 0
    "mapadd": (
        "map_zip_with({0}, {1}, (cdr_mz_k, cdr_mz_a, cdr_mz_b) ->"
        " coalesce(cdr_mz_a, 0) * 1L + coalesce(cdr_mz_b, 0) * 1L)"
    ),
    "mapsubtract": (
        "map_zip_with({0}, {1}, (cdr_mz_k, cdr_mz_a, cdr_mz_b) ->"
        " coalesce(cdr_mz_a, 0) * 1L - coalesce(cdr_mz_b, 0) * 1L)"
    ),
    # CH's value-mapping transform(x, from, to[, default]) with LITERAL
    # arrays -> the CASE chain it denotes (Spark's same-named transform
    # is the (array, lambda) higher-order function)
    "transform": _transform_map,
    # anonymous tuples -> structs (field-name surface: Spark names the
    # fields col1/col2..., CH names them 1/2... — positional access
    # refuses at tupleElement with the named-struct pointer)
    "tuple": "struct(",
    # ---- semi-structured ----
    "tojsonstring": "to_json(",
    "jsonextractkeys": "json_object_keys(",
    "jsonarraylength": "json_array_length(",
    # literal key -> JSONPath
    "jsonextractstring": _shaped(_LITERAL_ARG, "get_json_object({0}, '$.{1}')"),
    "jsonextractint": _shaped(
        _LITERAL_ARG, "CAST(get_json_object({0}, '$.{1}') AS BIGINT)"
    ),
    # ---- strings ----
    # CH length(String) counts BYTES; Spark's length counts CHARACTERS
    # — identical on ASCII, silently different on multi-byte UTF-8 (the
    # collision class). octet_length is Spark's byte counter. (CH
    # length(Array) = element count — that lowering would need the
    # type; octet_length over an array fails Spark analysis loudly, and
    # MIGRATION.md points array users at size().)
    "length": "octet_length(",
    "lengthutf8": "length(",
    "notempty": "(length({0}) > 0)",
    "empty": "(length({0}) = 0)",
    # left/right: CH slices BYTES while Spark's SAME-NAMED functions
    # slice characters, so an untranslated call runs silently
    # char-based. NONNEGATIVE INTEGER LITERAL lengths translate
    # (byte-true through BINARY; right's greatest-guard keeps the
    # 1-based start legal for n = 0 and n > length — both measured);
    # negative literals (CH's "all but the last/first |n|" rule) and
    # expression lengths fall to the residual and refuse.
    # leftUTF8/rightUTF8 (CH's char forms) spell as substring.
    "left": _shaped(
        _UINT_ARG, "CAST(substring(CAST({0} AS BINARY), 1, {1}) AS STRING)"
    ),
    "right": _shaped(
        _UINT_ARG,
        "CAST(substring(CAST({0} AS BINARY), "
        "greatest(octet_length({0}) - {1} + 1, 1), {1}) AS STRING)",
    ),
    "leftutf8": _shaped(_UINT_ARG, "substring({0}, 1, {1})"),
    "rightutf8": _shaped(
        _UINT_ARG, "substring({0}, greatest(length({0}) - {1} + 1, 1), {1})"
    ),
    # leftPad/rightPad: CH pads and truncates in BYTES
    # (leftPadUTF8/rightPadUTF8 are the char forms) — Spark's lpad/rpad
    # over BINARY pad and truncate bytes (measured), with the pad
    # operand made explicit because binary lpad's DEFAULT pad is a 0x00
    # byte where CH's is a space.
    "leftpadutf8": "lpad(",
    "rightpadutf8": "rpad(",
    "leftpad": (
        "CAST(lpad(CAST({0} AS BINARY), {1}, CAST(' ' AS BINARY)) AS STRING)",
        "CAST(lpad(CAST({0} AS BINARY), {1}, CAST({2} AS BINARY)) AS STRING)",
    ),
    "rightpad": (
        "CAST(rpad(CAST({0} AS BINARY), {1}, CAST(' ' AS BINARY)) AS STRING)",
        "CAST(rpad(CAST({0} AS BINARY), {1}, CAST({2} AS BINARY)) AS STRING)",
    ),
    # 1-ARG forms only: ClickHouse's 2-arg trims take (string, chars)
    # while Spark's take (chars, string) — a name-only swap of the
    # 2-arg form runs fine and returns wrong data (the classic silent
    # trap); multi-arg calls fall to the residual refusal instead
    "trimleft": "ltrim({0})",
    "trimright": "rtrim({0})",
    "trimboth": "trim({0})",
    # substringIndex (MySQL-style segment slice — identical semantics
    # incl. negative counts-from-the-end): Spark's snake_case twin.
    # Delimiter-count semantics are byte/char agnostic, so no BINARY
    # round-trip is needed.
    "substringindex": "substring_index(",
    # reverseUTF8 = code-point reversal = Spark's reverse on strings
    # (bare reverse refuses in _REFUSED_CALLS — CH's is byte-level)
    "reverseutf8": "reverse(",
    # code-point edit distance: CH's UTF8 forms == Spark levenshtein
    # (the bare byte forms refuse in _REFUSED_CALLS)
    "editdistanceutf8": "levenshtein(",
    "levenshteindistanceutf8": "levenshtein(",
    # suffix/prefix equality is encoding-agnostic — the UTF8 spellings
    # ARE Spark's endswith/startswith
    "endswithutf8": "endswith(",
    "startswithutf8": "startswith(",
    "appendtrailingcharifabsent": (
        "(CASE WHEN endswith(({0}), ({1})) THEN ({0})"
        " ELSE concat(({0}), ({1})) END)"
    ),
    "replaceall": "replace(",
    "replaceone": _replace_one,
    "countsubstrings": _count_substrings,
    # CH match(haystack, pattern) is a boolean regex test = RLIKE
    "match": "({0} RLIKE {1})",
    # CH position(haystack, needle) returns the 1-based BYTE offset
    # (positionUTF8 is the code-point form) — Spark's locate counts
    # CHARACTERS and takes the arguments SWAPPED, and Spark ALSO has a
    # position(substr, str[, pos]) builtin with the REVERSE argument
    # order of ClickHouse's, so an unrewritten call would run and
    # silently return wrong numbers — `position\w*` is in _RESIDUALS so
    # 3-arg, CaseInsensitive and nested forms REFUSE instead. Byte-true
    # lowering: the char position from locate converts to a byte
    # position as octet_length of the CHARACTER prefix before the match
    # + 1 — exact for valid UTF-8, where a needle can only match at
    # code-point boundaries (UTF-8 is self-synchronizing). Not-found
    # keeps CH's 0; NULL operands propagate NULL through the CASE (NULL
    # = 0 is false, and the ELSE arms carry the NULL). The operands
    # splice multiple times (row-local, the least/greatest caveat
    # class).
    "positionutf8": "locate({1}, {0})",
    "position": (
        "(CASE WHEN locate({1}, {0}) = 0 THEN 0"
        " ELSE octet_length(substring({0}, 1, locate({1}, {0}) - 1)) + 1 END)"
    ),
    # multiSearchAny(haystack, [needles]): 1 if ANY needle is a
    # substring. exists + contains evaluates each operand ONCE; CH's
    # UInt8 0/1 becomes a boolean exactly like match -> RLIKE. Bracket
    # needle literals are already array(...) calls here (the bracket
    # pass runs before the call walk); other multiSearch variants
    # (FirstPosition/FirstIndex/CaseInsensitive/...) fall to the
    # residual and refuse.
    "multisearchany": "exists({1}, cdr_ms_ -> contains({0}, cdr_ms_))",
    # ---- encodings / digests ----
    "base64decode": _base64_decode(lenient=False),
    "trybase64decode": _base64_decode(lenient=True),
    # CH base64Encode emits ONE unwrapped line; Spark's base64 inserts
    # RFC 2045 \r\n line breaks every 76 chars (measured: 100-byte
    # input -> 138-char output) — strip them for CH parity
    "base64encode": r"replace(replace(base64({0}), '\r', ''), '\n', '')",
    # CH MD5/SHA* return the raw digest BYTES (FixedString) while
    # Spark's same-named md5/sha1 RESOLVE case-insensitively and return
    # the lowercase-HEX STRING — a silent same-name collision:
    # hex(MD5(s)) would hex the ASCII hex text instead of the 16 digest
    # bytes. unhex(..) restores the CH byte value, and compositions then
    # agree naturally (Spark hex over BINARY is the even-length
    # uppercase CH form).
    "md5": "unhex(md5({0}))",
    "sha1": "unhex(sha1({0}))",
    "sha224": "unhex(sha2({0}, 224))",
    "sha256": "unhex(sha2({0}, 256))",
    "sha384": "unhex(sha2({0}, 384))",
    "sha512": "unhex(sha2({0}, 512))",
    # CH hex/bin pad numbers to the TYPE's byte width (hex(10) = '0A',
    # bin(1) = '00000001') while Spark emits minimal digits ('A', '1') —
    # a silent same-name collision for numeric arguments. Padding the
    # Spark output to even (hex) / multiple-of-8 (bin) digits restores
    # the CH value for integer arguments and is a NO-OP for
    # string/binary arguments (their hex is already byte-aligned). The
    # argument is evaluated twice — row-local, the least/greatest caveat
    # class. CH hex of FLOAT arguments (raw IEEE bytes, little-endian)
    # stays divergent for typed COLUMNS (documented in MIGRATION.md);
    # float LITERAL arguments refuse in _REFUSALS; other arguments past
    # _ARG's budget refuse in the entry.
    **dict.fromkeys(
        ("hex", "bin"), _Family(_padded_digits_call, 32, _TOO_DEEP, unbalanced=None)
    ),
    # dotted-quad <-> UInt32 integer arithmetic (exact)
    "ipv4numtostring": (
        "concat(CAST((({0}) DIV 16777216) % 256 AS STRING), '.',"
        " CAST((({0}) DIV 65536) % 256 AS STRING), '.',"
        " CAST((({0}) DIV 256) % 256 AS STRING), '.',"
        " CAST(({0}) % 256 AS STRING))"
    ),
    **{
        f"ipv4stringtonum{suffix}": _ipv4_string_to_num(suffix)
        for suffix in ("", "ornull", "orzero")
    },
    "isipv4string": (
        f"(({{0}}) RLIKE '^{_IPV4_OCTET}(\\\\.{_IPV4_OCTET}){{{{3}}}}$')"
    ),
    # argless count() is ClickHouse-legal; Spark wants count(*)
    "count": "count(*)",
    # ---- datetime formatting / parsing / differences ----
    # formatDateTime / parseDateTime*: literal CH %-format strings only
    # (_fdt_pattern; InJodaSyntax passes its pattern through)
    "formatdatetime": _format_datetime,
    **{
        f"parsedatetime{joda}{suffix}": _parse_datetime(bool(joda), suffix)
        for joda in ("", "injodasyntax")
        for suffix in ("", "ornull", "orzero")
    },
    # dateDiff/age with a literal unit; Spark's own 2-arg datediff and
    # date_diff keep their text
    **{fname: _date_diff(fname) for fname in ("datediff", "date_diff", "age")},
    # ---- regular expressions over a literal pattern ----
    # CH's comma-form extract(haystack, pattern); the ANSI
    # `extract(field FROM x)` keeps its text
    "extract": _regexp_call("regexp_extract({0}, {1}, {2})"),
    "extractall": _regexp_call("regexp_extract_all({0}, {1}, {2})"),
    "countmatches": _regexp_call("size(regexp_extract_all({0}, {1}, 0))"),
    "regexpextract": _regexp_call("regexp_extract({0}, {1}, {2})", with_index=True),
    "replaceregexpall": _replace_regexp_all,
    # ---- the raw-argument families (_Family) ----
    **dict.fromkeys(
        ("translate", "translateutf8"),
        _Family(
            _translate_call,
            32,
            "translate calls nested more than 32 levels deep — "
            "precompute inner mappings as subquery/CTE columns",
        ),
    ),
    **dict.fromkeys(
        ("splitbychar", "splitbystring"),
        _Family(
            _split_call,
            32,
            "splitBy* calls nested more than 32 levels deep — "
            "precompute inner splits as subquery/CTE columns",
        ),
    ),
    "multiif": _Family(
        _multiif_call,
        32,
        "multiIf calls nested more than 32 levels deep — "
        "precompute inner branches as subquery/CTE columns",
        unbalanced="unbalanced multiIf parentheses",
    ),
    **dict.fromkeys(
        ("least", "greatest"),
        _Family(
            _least_greatest_call,
            8,
            "least/greatest ALTERNATING more than 8 levels deep — the "
            "NULL-propagation guard doubles per mixed level (same-name "
            "chains flatten and never hit this); precompute inner "
            "min/max steps as subquery/CTE columns and compose those",
        ),
    ),
    **dict.fromkeys(
        ("concatwithseparator", "concatwithseparatorassumeinjective"),
        _Family(
            _concat_with_separator_call,
            16,
            "concatWithSeparator nested more than 16 levels deep — "
            "precompute inner concatenations as subquery/CTE columns",
            unbalanced="unbalanced parentheses in concatWithSeparator()",
        ),
    ),
    **dict.fromkeys(
        ("substringutf8", "substring", "substr", "mid"),
        _Family(
            _substring_call,
            32,
            "substring calls nested more than 32 levels deep — "
            "precompute inner slices as subquery/CTE columns",
        ),
    ),
    **dict.fromkeys(
        ("lowerutf8", "upperutf8", "lower", "upper"),
        _Family(
            _case_fold_call,
            32,
            "case-folding calls nested more than 32 levels deep — "
            "precompute inner folds as subquery/CTE columns",
        ),
    ),
    **dict.fromkeys(
        ("has", "indexof"),
        _Family(
            _membership_call,
            32,
            "has/indexOf calls nested more than 32 levels deep — "
            "precompute inner lookups as subquery/CTE columns",
        ),
    ),
    # the parametric family: quantile/median/topK/avgWeighted/uniqUpTo
    **dict.fromkeys(
        (
            *(
                f"{stem}{rule}"
                for stem in ("quantile", "quantiles")
                for rule in ("", "exact", "exactlow", "exacthigh",
                             "exactinclusive", "exactexclusive", "exactweighted")
            ),
            *(f"median{rule}" for rule in ("", "exact", "exactlow", "exacthigh",
                                           "exactweighted")),
            "topk", "topkweighted", "avgweighted", "uniqupto",
        ),
        _Family(_aggregate_call, 32, _TOO_DEEP, unbalanced=None, parametric=True),
    ),
}

# clause syntax — not calls, so the call table cannot hold it. These run
# before the call walk, so the ARRAY JOIN operand's one-level _ARG sees
# the text as written (`ARRAY JOIN splitByChar(' ', s) AS tok` binds
# before any expansion).
_CLAUSES: list[tuple[re.Pattern[str], str]] = [
    # ARRAY JOIN as a CLAUSE (ClickHouse's signature flatten): the
    # expression form `FROM t ARRAY JOIN <expr> AS x` becomes a lateral
    # explode; LEFT ARRAY JOIN keeps empty-array rows via explode_outer
    (
        re.compile(
            rf"\bLEFT\s+ARRAY\s+JOIN\s+{_ARG}\s+AS\s+([A-Za-z_]\w*)", re.I
        ),
        r"LATERAL VIEW OUTER explode(\1) AS \2",
    ),
    (
        re.compile(rf"\bARRAY\s+JOIN\s+{_ARG}\s+AS\s+([A-Za-z_]\w*)", re.I),
        r"LATERAL VIEW explode(\1) AS \2",
    ),
    # GLOBAL JOIN/IN ships the right side to every shard — exactly what
    # Spark's planner decides itself (broadcast by stats/AQE); the
    # keyword is distribution advice with no Spark spelling, so strip it
    # (NOT/SEMI/ANTI cover `GLOBAL NOT IN` and CH's semi/anti joins; a
    # residual \bGLOBAL\b refusal backstops any spelling this
    # alternation still misses)
    (
        re.compile(
            r"\bGLOBAL\s+(?=(ANY|ALL|LEFT|RIGHT|INNER|FULL|CROSS|JOIN|NOT|SEMI|ANTI|IN\b))",
            re.I,
        ),
        "",
    ),
    # (GROUP BY ... WITH TOTALS — bare columns AND expression keys — is
    # rewritten by _rewrite_totals, which owns the paren-aware key-list
    # split; the residual \bWITH TOTALS\b check backstops what it
    # refuses)
    (re.compile(r"\bPREWHERE\b", re.I), "WHERE"),
    # CH's MySQL-style `LIMIT offset, count` — Spark wants the SQL
    # standard spelling (OFFSET clause); Spark rejects the comma form at
    # parse, so this turns an opaque error into the right query. (The
    # `LIMIT o, n BY` variant refuses before reaching here.)
    (
        re.compile(r"\bLIMIT\s+(\d+)\s*,\s*(\d+)", re.I),
        r"LIMIT \2 OFFSET \1",
    ),
    # query-level SETTINGS tail: execution advice with no Spark
    # spelling (session confs own it). STRICTLY a tail — a tight
    # key=value[, ...] grammar anchored at end-of-statement (FORMAT may
    # follow and is swallowed too), so a SETTINGS inside a subquery or
    # before a UNION arm can never swallow the rest of the outer query;
    # those forms survive and hit the pointered backstop in translate()
    (
        re.compile(
            r"\bSETTINGS\s+\w+\s*=\s*(?:'[^']*'|[\w.]+)"
            r"(?:\s*,\s*\w+\s*=\s*(?:'[^']*'|[\w.]+))*"
            r"(?:\s+FORMAT\s+\w+)?\s*;?\s*$",
            re.I,
        ),
        "",
    ),
    (re.compile(r"\bFORMAT\s+\w+\s*;?\s*$", re.I), ""),
]


# a call of a ClickHouse-only name that the walk kept as written means a
# rewrite failed to match (nested arguments past the _ARG budget, wrong
# arity, a non-literal argument an entry needs as a literal) — refuse
# rather than ship wrong SQL. Fullmatched against the names of the call
# heads the walk reports, never against emitted text. The named groups
# are names Spark resolves too (a range table function, minimal-digit
# hex/bin, hex-STRING digests), so a survivor would run with Spark's
# meaning; they refuse with their _RESIDUAL_HINTS entry.
_RESIDUALS = re.compile(
    r"(?P<range>range)|(?P<digits>hex|bin)|(?P<digest>md5|sha\d+)|"
    # \w* tails on the converter families: the signed-Int/Float
    # OrZero/OrNull/OrDefault suffixes translate, so what reaches this
    # check is the still-refused remainder — toUInt*Or* (no unsigned
    # domain in Spark), toDate*/toDecimal* Or-forms (date-parsing/scale
    # divergence), and Or-calls whose arguments nest too deep for _ARG —
    # refuse with the pointer instead of an opaque unresolved-function
    # error
    r"toU?Int\d+\w*|toFloat\d+\w*|toDate\w+|toString|toStartOf\w+|toYYYYMM(DD)?|sumIf|avgIf"
    r"|avgWeighted"
    r"|minIf|maxIf|uniqExact|arrayJoin|notEmpty|multiIf|intDiv"
    r"|splitByChar|splitByString"
    r"|arrayStringConcat|lengthUTF8|toHour|toMinute|toSecond|toDayOf\w+"
    r"|toMonday|toUnixTimestamp|arrayMap|arrayFilter|arrayExists|arrayAll"
    r"|arrayDistinct|arraySort|arrayReverse|arrayFlatten|arraySlice"
    r"|toYear|toQuarter|toMonth|toISOWeek|replaceAll|replaceRegexpAll"
    r"|formatDateTime|match|position\w*|uniqUpTo|has|indexOf"
    r"|plus|minus|multiply|divide|assumeNotNull|arrayEnumerate"
    r"|leftPad|rightPad|numbers|trimLeft|trimRight|trimBoth"
    r"|toDecimal\d+\w*|rand64|arrayConcat|arrayMin|arrayMax|arrayUniq"
    r"|groupBit(And|Or|Xor)|stddev(Pop|Samp)|var(Pop|Samp)|covar(Pop|Samp)"
    r"|multiSearch\w*|bit(And|Or|Xor|Not)|arrayCompact"
    r"|hasAll|hasAny|countEqual|arrayElement"
    # CH left/right slice BYTES and Spark's same-named functions slice
    # chars, so NON-literal-length spellings must refuse rather than run
    # silently char-based; countSubstrings' CaseInsensitive/UTF8
    # variants land here too
    r"|left|right|countSubstrings\w*|leftUTF8|rightUTF8"
    # the concatWithSeparator scanner rewrites every nesting level, so
    # a surviving spelling is a typo'd suffix
    r"|concatWithSeparator\w*"
    # isIPv4String spelled explicitly: IPv4\w+ matches whole names only
    r"|parseDateTime\w*|IPv4\w+|isIPv4String"
    r"|base64(Encode|Decode)|tryBase64Decode"
    r"|monthName|generateUUIDv4"
    r"|arrayIntersect|arrayDifference|fromUnixTimestamp"
    r"|emptyArray\w+"
    r"|arrayPop(Back|Front)|arrayCount|extractAll\w*|arrayReverseSort"
    # the 3-arg date_add/date_sub forms can't be listed — the 2-arg
    # spelling is valid Spark — but these names are CH-only
    r"|(add|subtract)(Second|Minute|Hour|Day|Week|Month|Quarter|Year)s"
    # roundBankers/exp2/exp10/intExp2 are head renames with no survivor
    # shape
    r"|equals|notEquals|lessOrEquals|greaterOrEquals|less|greater"
    r"|notI?Like|isNaN|isFinite|isInfinite|ifNotFinite"
    r"|L1Norm|L2Norm|L2SquaredNorm|LinfNorm"
    r"|L1Distance|L2Distance|L2SquaredDistance|LinfDistance"
    r"|(array)?dotProduct|cosineDistance|mapFilter|mapExists|mapAll"
    r"|negate|intDivOrZero|moduloOrZero|max2|min2|toNullable"
    r"|materialize|identity|isZeroOrNull|makeDate(Time)?"
    r"|toYYYYMMDDhhmmss|toISOYear|randUniform|randNormal|kurtPop"
    r"|sumCount|simpleLinearRegression|throwIf|arrayProduct"
    r"|arrayWithConstant|appendTrailingCharIfAbsent|replaceOne"
    r"|Lp(Norm|Distance)|normalizeL[12]|mapContainsKeyLike"
    r"|mapExtractKeyLike|mapAdd|mapSubtract|accurateCast(OrNull)?"
    r"|toInterval\w+|countMatches|regexpExtract|timeSlot"
    r"|arrayJaccardIndex|arrayFold|arrayRandomSample"
    r"|(from|to)UnixTimestamp64(Milli|Micro)|(add|sub)Date"
    r"|JSONExtract\w+|quantiles?\w*|median\w*|topK\w*",
    re.I,
).fullmatch
_RESIDUAL_HINTS = {
    None: "flatten the call, precompute nested expressions as "
    "subquery/CTE columns, or use the DataFrame API",
    "range": "flatten the call or precompute nested expressions as "
    "subquery/CTE columns",
    "digits": "CH pads numbers to the type's byte width where Spark emits "
    "minimal digits; flatten the argument into a subquery/CTE column",
    "digest": "Spark's same-named digest returns a hex STRING where "
    "ClickHouse returns the digest BYTES; flatten the argument into a "
    "subquery/CTE column",
}


# ClickHouse's signature `LIMIT n BY cols` clause: keep the first n rows
# per distinct BY-group, in the query's ORDER BY order, before any final
# LIMIT. Matched only in the flat single-SELECT shape — the ORDER BY
# expression list and the BY column list must be paren-free, so a nested
# subquery's ORDER BY/LIMIT can never be mis-bound (those shapes fall
# through to the guarded refusal below).
_LIMIT_BY = re.compile(
    r"^(?P<body>[\s\S]*?)"
    r"\bORDER\s+BY\s+(?P<ord>[^()]+?)"
    r"\s+LIMIT\s+(?:(?P<off>\d+)\s*,\s*)?(?P<n>\d+)\s+BY"
    r"\s+(?P<cols>[A-Za-z_][\w]*(?:\s*,\s*[A-Za-z_][\w]*)*)"
    r"(?:\s+LIMIT\s+(?P<m>\d+))?\s*;?\s*$",
    re.I,
)


_LIMIT_TIES = re.compile(
    r"^(?P<body>[\s\S]*?)"
    r"\bORDER\s+BY\s+(?P<col>[A-Za-z_]\w*)(?:\s+ASC)?"
    r"\s+LIMIT\s+(?P<n>\d+)\s+WITH\s+TIES\s*;?\s*$",
    re.I,
)


def _rewrite_limit_ties(sql: str) -> str:
    """Rewrite the statement-tail `ORDER BY col [ASC] LIMIT n WITH
    TIES` to a DISTRIBUTED threshold form: take the n-th smallest
    non-null key via an ordinary LIMIT (TakeOrdered — never a
    single-partition rank window over ALL rows), keep every row at or
    below it, and admit the NULL rows exactly when fewer than n
    non-null keys exist (ClickHouse sorts NULLS LAST by default, so
    nulls enter the top-n only past the non-null tail; the final ORDER
    BY carries an explicit NULLS LAST for the same reason). DESC,
    multi-key and expression-key forms refuse — CH's null placement
    under DESC is direction-independent while Spark's flips, so a
    textual map could silently move rows across the cut."""
    stripped = sql.strip()
    masked = _mask_literals(stripped)
    if not re.search(r"\bWITH\s+TIES\b", masked, re.I):
        return sql
    m = _LIMIT_TIES.match(masked)
    if not m:
        raise UnsupportedClickHouseSQL(
            "LIMIT n WITH TIES is supported as the statement tail "
            "`ORDER BY <column> [ASC] LIMIT n WITH TIES` (single "
            "ascending bare-column key) — DESC/multi-key forms: a "
            "rank() <= n window (C15 window_ranking)"
        )
    body = stripped[slice(*m.span("body"))].strip()
    col, n = m["col"], int(m["n"])
    return (
        f"WITH _cdr_ties_b AS ({body}),\n"
        f"_cdr_ties_t AS (SELECT {col} AS _cdr_o FROM _cdr_ties_b\n"
        f"  WHERE {col} IS NOT NULL ORDER BY {col} LIMIT {n})\n"
        f"SELECT * FROM _cdr_ties_b\n"
        f"WHERE ({col} IS NOT NULL\n"
        f"       AND {col} <= (SELECT max(_cdr_o) FROM _cdr_ties_t))\n"
        f"   OR ({col} IS NULL\n"
        f"       AND (SELECT count(*) FROM _cdr_ties_t) < {n})\n"
        f"ORDER BY {col} ASC NULLS LAST"
    )


class _Lex(NamedTuple):
    """One lexing of ClickHouse SQL text (see _bracket_scan); every
    index is valid in both texts and in the lexed input."""

    text: str  # the input, comments blanked, "x" spelled `x`
    masked: str  # text with literal and quoted-identifier contents blanked
    close: dict[int, int]  # opening bracket -> its closing bracket
    commas: dict[int, list[int]]  # opening bracket (-1: none) -> its commas
    literals: list[tuple[int, int]]  # string literal spans, quotes included
    balanced: bool


# a string literal ('' and backslash escapes inside it are part of it),
# a backquoted or double-quoted identifier, a -- or /* */ comment, a
# bracket or a comma; a lone quote or /* opens a token that never ends
_TOKEN = re.compile(
    r"'[^'\\]*(?:(?:\\.|'')[^'\\]*)*'"
    r"|`[^`\\]*(?:(?:\\.|``)[^`\\]*)*`"
    r'|"[^"\\]*(?:(?:\\.|"")[^"\\]*)*"'
    r"|--[^\n]*|/\*[\s\S]*?\*/"
    r"|['`\"]|/\*|[()\[\],]",
    re.S,
)


@lru_cache(maxsize=64)
def _bracket_scan(s: str) -> _Lex:
    """The one lexer of ClickHouse SQL text: one pass over ``s`` that
    tells code from data. String literals, backquoted and double-quoted
    identifiers and comments are opaque; their contents are blanked in
    ``masked`` (a comment wholly, in ``text`` too), so a search of
    ``masked`` never fires on data and its spans index the raw text.
    Parens and square brackets pair on one stack (ClickHouse array
    literals like [1,2,3] carry top-level-looking commas): ``close``
    maps each opening bracket that closes to its closing one and
    ``commas`` lists the commas directly inside each opening bracket
    (key -1: the commas outside every bracket). An unclosed or stray
    bracket only clears ``balanced``; an unterminated token raises.

    The passes of translate() hand each other text that is often
    unchanged, so recent lexings are kept: callers share the returned
    maps and must not change them."""
    text: list[str] = []
    masked: list[str] = []
    close: dict[int, int] = {}
    commas: dict[int, list[int]] = {-1: []}
    literals: list[tuple[int, int]] = []
    open_at = [-1]
    balanced, pos = True, 0
    for m in _TOKEN.finditer(s):
        tok, a = m[0], m.start()
        if tok in "([":
            open_at.append(a)
            commas[a] = []
        elif tok in ")]":
            if len(open_at) == 1:
                balanced = False
            else:
                close[open_at.pop()] = a
        elif tok == ",":
            commas[open_at[-1]].append(a)
        elif tok in ("'", "`", '"', "/*"):
            what = {"'": "string literal", "/*": "comment"}.get(tok, "quoted identifier")
            raise UnsupportedClickHouseSQL(f"unterminated {what}")
        else:
            b = m.end()
            if tok[0] in "-/":
                kept = blank = " " * (b - a)
            else:
                quote = "`" if tok[0] == '"' else tok[0]
                kept = quote + tok[1:-1] + quote
                blank = quote + " " * (b - a - 2) + quote
                if tok[0] == "'":
                    literals.append((a, b))
                elif tok[0] == '"' and re.search(r'["`\\]', tok[1:-1]):
                    raise UnsupportedClickHouseSQL(
                        f"double-quoted identifier {tok} holds a quote or "
                        "backslash — spell it with backquotes"
                    )
            text += [s[pos:a], kept]
            masked += [s[pos:a], blank]
            pos = b
    text.append(s[pos:])
    masked.append(s[pos:])
    balanced = balanced and len(open_at) == 1
    return _Lex("".join(text), "".join(masked), close, commas, literals, balanced)


def _pieces(lex: _Lex, open_at: int) -> list[str]:
    """The raw pieces between the commas directly inside the bracket
    opening at ``open_at`` (-1: the whole text); no pieces when the
    brackets hold only whitespace."""
    end = lex.close[open_at] if open_at >= 0 else len(lex.text)
    if not lex.text[open_at + 1 : end].strip():
        return []
    cuts = [open_at, *lex.commas[open_at], end]
    return [lex.text[a + 1 : b] for a, b in zip(cuts, cuts[1:])]


def _literal_split(lex: _Lex) -> list[str]:
    """The lexed text cut at its string literals: pieces of code and
    literals alternate, code first."""
    cuts = [0, *(i for span in lex.literals for i in span), len(lex.text)]
    return [lex.text[a:b] for a, b in zip(cuts, cuts[1:])]


def _split_top_level_args(s: str) -> list[str]:
    """Split an argument list on its depth-0 commas (see _bracket_scan).
    Returns the raw (unstripped) pieces, one empty piece for an empty
    list."""
    lex = _bracket_scan(s)
    if not lex.balanced:
        raise UnsupportedClickHouseSQL("unbalanced brackets")
    return _pieces(lex, -1) or [lex.text]


_CALL_HEAD = re.compile(r"\b(\w+)\s*\(")
_NEXT_PAREN = re.compile(r"\s*\(")
_WITHIN_BUDGET = re.compile(_ARG).fullmatch


def _call_site(lex: _Lex, start: int, parametric: bool = False):
    """The call whose '(' ends at ``start`` in the lexed text: ``(index
    past its ')', params, pieces)``, with the raw argument pieces and,
    for a ``parametric`` call spelled ``f(params)(args)``, the stripped
    parameter list (else None); an empty list is no arguments. None
    when the call never closes."""
    close = lex.close.get(start - 1)
    params = None
    if parametric and close is not None and (o := _NEXT_PAREN.match(lex.masked, close + 1)):
        params = [p.strip() for p in _pieces(lex, start - 1)]
        start, close = o.end(), lex.close.get(o.end() - 1)
    if close is None:
        return None
    return close + 1, params, _pieces(lex, start - 1)


def _emit_call(name: str, pieces: list[str], recurse) -> str | None:
    """Rewrite one call through its plain _CALLS value (a head rename, a
    template or an emitter — see the table's header); None keeps it as
    written."""
    spec = _CALLS[name.lower()]
    if isinstance(spec, str) and not spec.endswith(")"):
        return spec + ",".join(map(recurse, pieces)) + ")"
    if not _within_budget(pieces):
        return None
    args = [recurse(p).lstrip() for p in pieces]
    if callable(spec):
        text = spec(args)
    else:
        templates = (spec,) if isinstance(spec, str) else spec
        text = next(
            (t.format(*args) for t in templates if _arity(t) == len(args)), None
        )
    if text is None and not args:
        raise _without_arguments(name)
    return text


# the plain table entries: one depth group, raw argument pieces
_TABLE = _Family(_emit_call, 32, _TOO_DEEP, unbalanced=None)


def _rewrite_calls(lex: _Lex, fused: dict) -> tuple[str, list]:
    """The one call walk behind translate(): every call site whose name
    is a _CALLS key is rewritten through its entry, arguments first.
    Returns the rewritten text and the call heads kept as written, in
    the order the walk met them: ``(head, pieces)`` pairs, ``head`` the
    match on the literal-masked text around it and ``pieces`` the
    argument pieces (None when the name is no _CALLS key or the call
    never closes). No head an entry emits is reported.

    Calls are found on the masked text and closed through the pair map
    of one lexing per text walked, so a call spelled inside a string
    literal is data and never rewritten. The emission is
    spliced into the raw text and the search resumes past the call, so
    emitted text — which may spell the same function name — is never
    matched again. When an entry returns None the call keeps its text
    and the search goes on inside it. Each _Family (the plain entries
    share _TABLE) counts its own nesting: recursing into the arguments
    of a call nested deeper than its cap refuses with its ``too_deep``.
    ``lex`` is the lexed statement; ``fused`` is its weighted-quantile
    fusion plan, handed to the parametric family."""
    kept: list = []

    def walk(
        sql: str, depth: dict, family: _Family | None = None, lex: _Lex | None = None
    ) -> str:
        if family is not None and depth[family] > family.cap:
            raise UnsupportedClickHouseSQL(family.too_deep)
        if lex is None:
            lex = _bracket_scan(sql)
        out: list[str] = []
        pos = scan = 0
        while m := _CALL_HEAD.search(lex.masked, scan):
            scan = m.end()
            name = m.group(1)
            spec = _CALLS.get(name.lower())
            if spec is None:
                kept.append((m, None))
                continue
            fam = spec if isinstance(spec, _Family) else _TABLE
            site = _call_site(lex, scan, fam.parametric)
            if site is None:
                if fam.unbalanced is None:
                    kept.append((m, None))
                    continue
                raise UnsupportedClickHouseSQL(fam.unbalanced.format(name))
            close, params, pieces = site
            if fam is not _TABLE:
                pieces = [p.strip() for p in pieces]
            recurse = partial(
                walk, depth={**depth, fam: depth.get(fam, 0) + 1}, family=fam
            )
            extra = (params, fused) if fam.parametric else ()
            text = fam.emit(name, pieces, recurse, *extra)
            if text is None:
                kept.append((m, pieces))
            else:
                out += [sql[pos : m.start()], text]
                pos = scan = close
        out.append(sql[pos:])
        return "".join(out)

    return walk(lex.text, {}, lex=lex), kept


def _rewrite_table_calls(lex: _Lex) -> tuple[str, list]:
    """Apply the call table to every call site of the lexed statement in
    one walk (see _rewrite_calls)."""
    return _rewrite_calls(lex, _fused_weighted_levels(lex))


# a '[' with what leads it: the identifier chain before it (an indexed
# base, or a word like IN or SELECT), else the one character before it;
# never a '[', which must be matched as a bracket of its own
_BRACKET_LEAD = re.compile(r"(?:([A-Za-z_]\w*(?:\.[A-Za-z_]\w*)*)|([^\s\[]))?\s*\[")

# a bracket after one of these words starts an array LITERAL, not an
# index into an identifier named "select"/"then"/...
_NOT_INDEX_BASES = frozenset(
    """select from where and or not then else when case end by on as in
    is like between join union all distinct having limit offset order
    group array return returns values set with""".split()
)


def _rewrite_brackets(sql: str) -> str:
    """ClickHouse bracket syntax — the silent-off-by-one trap:

    - ``arr[1]`` (indexing) is 1-BASED in ClickHouse but Spark's
      ``arr[1]`` parses and is 0-BASED — passing it through would
      silently shift every element access by one. Rewritten to
      ``try_element_at(arr, 1)`` — 1-based and negative-from-end like
      ClickHouse, NULL (not an ANSI crash, not CH's unknowable type
      default) for out-of-range or zero indices; this matches DuckDB's
      list OOB semantics, which is what the oracles state. Identifier
      (.field) bases only; a bracket following ``)``/``]`` (e.g.
      ``f(x)[1]``) or ``END`` has no textually bindable base and
      REFUSES with the element_at pointer.
    - ``[a, b, c]`` (array literal) does not parse in Spark at all —
      rewritten to ``array(a, b, c)``; after ``IN`` it becomes the
      parenthesized list Spark's IN grammar requires.

    One lexing finds the brackets (data like ``'a[1]'`` is untouched);
    they are rewritten right to left, so a bracket's inner brackets are
    rewritten before it and the text left of it is still as written.
    Each rewrite is an edit of the raw text; an edit absorbs the edits
    inside it, and the edits left at the end are spliced in."""
    lex = _bracket_scan(sql)
    edits: list[tuple[int, int, str]] = []  # (start, end, text), start descending

    def spliced(at: int, end: int) -> str:
        # sql[at:end] with the edits inside it applied (and absorbed)
        parts = []
        while edits and edits[-1][0] < end:
            a, b, text = edits.pop()
            parts += [sql[at:a], text]
            at = b
        return "".join(parts) + sql[at:end]

    leads = {m.end() - 1: m for m in _BRACKET_LEAD.finditer(lex.masked)}
    for pos, m in reversed(leads.items()):
        end = lex.close.get(pos)
        if end is None or lex.masked[end] != "]":
            raise UnsupportedClickHouseSQL("unbalanced '[' in expression")
        inner = spliced(pos + 1, end)
        if m[2] in (")", "]", "'"):
            # ')'/']': computed base (f(x)[1], a[1][2]); "'": a string
            # literal base ('abc'[1]) — neither has a textually bindable
            # identifier, and falling through would emit the garbage
            # `'abc'array(1)`; refuse with the element_at pointer
            raise UnsupportedClickHouseSQL(
                "bracket indexing on a computed or literal base — rewrite "
                "as element_at(expr, i) (1-based, as in ClickHouse)"
            )
        word = (m[1] or "").lower()
        if m[1] and word not in _NOT_INDEX_BASES:
            # nullif(..., 0): try_element_at covers out-of-range but
            # still throws INVALID_INDEX_OF_ZERO on index 0 — CH
            # returns the type default there, DuckDB NULL; NULL it is
            start, text = m.start(1), f"try_element_at({m[1]}, nullif({inner}, 0))"
        elif word == "end":
            # CASE ... END[1]: indexing a computed CASE result — no
            # textually bindable base, same refusal as f(x)[1]
            raise UnsupportedClickHouseSQL(
                "bracket indexing on a CASE result — rewrite as "
                "element_at(CASE ... END, i)"
            )
        elif word == "in":
            # x IN [1,2]: Spark's IN grammar needs a parenthesized
            # list, not an array expression
            start, text = pos, f"({inner})"
        else:
            start, text = pos, f"array({inner})"
        edits.append((start, end + 1, text))
    return spliced(0, len(sql))


_TOTALS_TOKEN = re.compile(r"\bWITH\s+TOTALS\b", re.I)
_GROUP_BY_TOKEN = re.compile(r"\bGROUP\s+BY\s+", re.I)
# a clause keyword inside the group-key segment means the nearest-GROUP-BY
# binding is wrong (subquery in a key, ROLLUP/CUBE mixing, missing GROUP
# BY) — refuse rather than splice garbage
_TOTALS_SEG_GUARD = re.compile(
    r"\b(SELECT|FROM|WHERE|HAVING|ORDER|LIMIT|UNION|GROUPING|ROLLUP|CUBE"
    r"|ALL|DISTINCT)\b",
    re.I,
)


def _rewrite_totals(sql: str) -> str:
    """Rewrite every ``GROUP BY <keys> WITH TOTALS`` — bare columns OR
    expression keys — to ``GROUP BY GROUPING SETS ((<keys>), ())``, the
    standard all-NULL totals row. The key list is split on TOP-LEVEL
    commas (paren/bracket aware, quoted literals opaque), so expression
    keys like ``toYear(d)`` or ``substring(s, 1, 1)`` translate instead
    of refusing. Matches are located on
    the literal-masked copy and spliced into raw text, right-to-left so
    earlier spans stay valid."""
    masked = _mask_literals(sql)
    toks = list(_TOTALS_TOKEN.finditer(masked))
    if not toks:
        return sql
    out = sql
    for m in reversed(toks):
        gbs = list(_GROUP_BY_TOKEN.finditer(masked, 0, m.start()))
        if not gbs:
            raise UnsupportedClickHouseSQL(
                "WITH TOTALS without a preceding GROUP BY"
            )
        gb = gbs[-1]
        if _TOTALS_SEG_GUARD.search(masked[gb.end() : m.start()]):
            raise UnsupportedClickHouseSQL(
                "WITH TOTALS over a GROUP BY this rewrite cannot bind "
                "(subquery key / ROLLUP / CUBE / ALL) — use "
                "grouping_sets (C13)"
            )
        keys = [k.strip() for k in _split_top_level_args(out[gb.end() : m.start()])]
        if not keys or any(not k for k in keys):
            raise UnsupportedClickHouseSQL(
                "WITH TOTALS with an empty / malformed group-key list"
            )
        out = (
            out[: gb.start()]
            + f"GROUP BY GROUPING SETS (({', '.join(keys)}), ())"
            + out[m.end() :]
        )
    return out


_ARRAY_JOIN_START = re.compile(r"\b(LEFT\s+)?ARRAY\s+JOIN\s+", re.I)
# clause keywords that end the operand list AT BRACKET DEPTH 0 (a
# regex lookahead can't know the depth — a lazy
# form runs past a subquery's closing paren and broke every ARRAY JOIN
# inside a derived table)
_ARRAY_JOIN_STOP = re.compile(
    r"(?:WHERE|PREWHERE|GROUP|ORDER|HAVING|LIMIT|WINDOW|QUALIFY"
    r"|SETTINGS|FORMAT|UNION|LEFT|RIGHT|FULL|INNER|CROSS|JOIN|ASOF|ANY"
    r"|GLOBAL)\b",
    re.I,
)
_ARRAY_JOIN_OPERAND = re.compile(
    r"(?s)^\s*(.*\S)\s+AS\s+([A-Za-z_]\w*)\s*$", re.I
)


_ARRAY_JOIN_SCAN = re.compile(r"[()\[\];]|[^\W\d]\w*")


def _array_join_operand_end(lex: _Lex, start: int) -> int:
    """End index (exclusive) of an ARRAY JOIN operand list starting at
    ``start`` in the lexed text: the list ends at a clause keyword or a
    ';' outside its brackets (each opening bracket jumps to its close),
    or at the enclosing subquery's ')'.

    Keyword classification needs syntactic context:
    a stop keyword immediately after ``AS`` is an operand ALIAS
    (``ys AS any``), and LEFT/RIGHT followed by ``(`` are the string
    FUNCTIONS (``left(xs, 2) AS a``) — neither ends the list."""
    prev_word = ""
    while m := _ARRAY_JOIN_SCAN.search(lex.masked, start):
        tok, start = m.group(), m.end()
        if tok in "([":
            if m.start() not in lex.close:
                break
            start, prev_word = lex.close[m.start()] + 1, ""
        elif tok in ")];":
            return m.start()
        else:
            is_alias = prev_word.upper() == "AS"
            is_func = tok.upper() in ("LEFT", "RIGHT") and _NEXT_PAREN.match(lex.masked, start)
            if _ARRAY_JOIN_STOP.fullmatch(tok) and not is_alias and not is_func:
                return m.start()
            prev_word = tok
    return len(lex.masked)


def _zip_struct_expr(exprs: list[str], aliases: list[str], depth: int = 0) -> str:
    """Nested zip_with spelling for an N-ary positional zip: an
    array<struct<a1, ..., aN>> whose fields carry the ARRAY JOIN
    aliases, ready for one inline()."""
    v0 = f"__cdr_z{depth}a"
    if len(exprs) == 2:
        v1 = f"__cdr_z{depth}b"
        return (
            f"zip_with({exprs[0]}, {exprs[1]}, ({v0}, {v1}) -> "
            f"struct({v0} AS {aliases[0]}, {v1} AS {aliases[1]}))"
        )
    inner = _zip_struct_expr(exprs[1:], aliases[1:], depth + 1)
    p = f"__cdr_z{depth}p"
    fields = ", ".join(
        [f"{v0} AS {aliases[0]}"] + [f"{p}.{a} AS {a}" for a in aliases[1:]]
    )
    return f"zip_with({exprs[0]}, {inner}, ({v0}, {p}) -> struct({fields}))"


def _rewrite_array_join_zip(sql: str) -> str:
    """Translate the MULTI-array ``ARRAY JOIN e1 AS a1, e2 AS a2[, ...]``
    clause (ClickHouse's positional zip) to ONE lateral
    ``inline`` over a zip_with-built array of structs: the arrays stay
    positionally aligned (two LATERAL VIEWs would cross-product), and
    the struct fields carry the user's aliases so downstream references
    resolve unchanged. Single-array clauses are left for the plain
    LATERAL VIEW explode rewrite.

    Domain note: ClickHouse ERRORS on length-mismatched arrays; Spark's
    zip_with pads the shorter side with NULLs — every CH-valid query
    (equal lengths) translates exactly, length-broken ones return
    NULL-padded rows instead of failing. Every operand needs an ``AS``
    alias (the alias-less form shadows the source column — refused, as
    in the single-array rewrite)."""
    lex = _bracket_scan(sql)
    out = sql
    spans = []
    for m in _ARRAY_JOIN_START.finditer(lex.masked):
        spans.append((m, _array_join_operand_end(lex, m.end())))
    for m, end in reversed(spans):
        raw_list = out[m.end() : end]
        pieces = _split_top_level_args(raw_list)
        if len(pieces) < 2:
            continue  # single-array form: the explode rewrite owns it
        exprs: list[str] = []
        aliases: list[str] = []
        for p in pieces:
            om = _ARRAY_JOIN_OPERAND.match(p)
            if not om:
                raise UnsupportedClickHouseSQL(
                    f"multi-array ARRAY JOIN operand {p.strip()!r} has no "
                    "AS alias — write `ARRAY JOIN e1 AS a1, e2 AS a2`"
                )
            exprs.append(om.group(1))
            aliases.append(om.group(2))
        if len(set(a.lower() for a in aliases)) != len(aliases):
            raise UnsupportedClickHouseSQL(
                "multi-array ARRAY JOIN aliases must be distinct"
            )
        outer = "OUTER " if m.group(1) else ""
        lateral = (
            f"LATERAL VIEW {outer}"
            f"inline({_zip_struct_expr(exprs, aliases)}) __cdr_zip "
        )
        out = out[: m.start()] + lateral + out[end:]
    return out


def _rewrite_limit_by(sql: str) -> str:
    """Rewrite `... ORDER BY o LIMIT n BY c1, c2 [LIMIT m]` to a
    ROW_NUMBER window over the materialized inner select — the standard
    translation (PARTITION BY the BY-columns, ORDER BY the query's sort;
    both resolve against the select list's output columns, exactly the
    names ClickHouse binds). Refuses LIMIT BY without an ORDER BY
    (nondeterministic row choice) and nested shapes the flat pattern
    can't bind."""
    # detect and bind on the literal-masked copy ('top LIMIT 3 BY x' in
    # a string is data); masking preserves length, so group spans index
    # straight into the raw (stripped) text
    stripped = sql.strip()
    masked = _mask_literals(stripped)
    if not re.search(
        r"\bLIMIT\s+\d+(\s*,\s*\d+)?\s+BY\b", masked, re.I
    ):
        return sql
    m = _LIMIT_BY.match(masked)
    if not m:
        raise UnsupportedClickHouseSQL(
            "LIMIT n BY needs the flat `SELECT ... ORDER BY ... LIMIT n BY "
            "cols [LIMIT m]` shape with a paren-free ORDER BY (the row-choice "
            "order); nested forms: use top_k_per_group (C20)"
        )
    raw_g = lambda name: stripped[slice(*m.span(name))]
    body, ordc, n, cols = raw_g("body").strip(), raw_g("ord").strip(), m["n"], m["cols"]
    tail = f"\nLIMIT {m['m']}" if m["m"] else ""
    # `LIMIT off, n BY` skips the first off rows of each group, then
    # takes n — a rank RANGE, not just a cap
    if m["off"]:
        off = int(m["off"])
        pred = f"_cdr_rn BETWEEN {off + 1} AND {off + int(m['n'])}"
    else:
        pred = f"_cdr_rn <= {n}"
    return (
        f"WITH _cdr_limit_by AS ({body})\n"
        f"SELECT * EXCEPT (_cdr_rn) FROM (\n"
        f"  SELECT *, ROW_NUMBER() OVER (PARTITION BY {cols} ORDER BY {ordc})"
        f" AS _cdr_rn\n"
        f"  FROM _cdr_limit_by)\n"
        f"WHERE {pred}\n"
        f"ORDER BY {ordc}{tail}"
    )


def _mask_literals(sql: str) -> str:
    """``sql`` with literal, quoted-identifier and comment contents
    blanked, length preserved (see _bracket_scan)."""
    return _bracket_scan(sql).masked


_TMPL_REF = re.compile(r"\\(\d)")


def _sub_outside_literals(pat, repl, sql: str) -> str:
    """`pat.sub(repl, sql)` that can never fire INSIDE a single-quoted
    string literal: matches are found on the literal-masked copy (so
    `WHERE note = 'use argMax(a, b)'` is data, not a call to rewrite),
    and because masking preserves length, every match/group span is
    valid in the raw string — replacements are spliced into RAW text, so
    group captures keep their real literal contents (a masked group
    would blank e.g. formatDateTime's format string).

    `repl` is either a template string with `\\N` group references
    (expanded against RAW group text) or a callable receiving
    ``(match, raw_sql)`` where the match object indexes into the masked
    copy — read group content as ``raw_sql[m.start(i):m.end(i)]``.
    Matches the single-pass, no-rescan semantics of ``re.sub``."""
    masked = _mask_literals(sql)
    out: list[str] = []
    last = 0
    for m in pat.finditer(masked):
        out.append(sql[last : m.start()])
        if callable(repl):
            out.append(repl(m, sql))
        else:
            out.append(
                _TMPL_REF.sub(
                    lambda g: sql[slice(*m.span(int(g.group(1))))], repl
                )
            )
        last = m.end()
    out.append(sql[last:])
    return "".join(out)


def translate(ch_sql: str) -> str:
    """Translate a ClickHouse-dialect SQL string to Spark SQL.

    Raises :class:`UnsupportedClickHouseSQL` for constructs with no
    textual equivalent (pointing at the native operator) and for
    rewrites defeated by nested arguments — never silently mistranslates.
    """
    # GLOBAL input-literal escape guard (the class behind the
    # split/translate separator escapes): every string literal in
    # the input is re-emitted into Spark SQL verbatim, so ANY escape
    # the two literal parsers decode differently changes the value —
    # not just split separators: match(s, '\d+') reached RLIKE as the
    # regex 'd+' (Spark drops the backslash from unknown escapes, CH
    # preserves it), replaceAll('\Z', ...) replaced U+001A instead of
    # 'Z', comparison literals shifted. ('\\d+' — escaped backslash
    # then d — decodes identically in both engines and passes: the
    # pairwise walk in _escape_divergence, not a regex search, makes
    # that distinction.) Only _AGREED_ESCAPES pass.
    lex = _bracket_scan(ch_sql)
    for start, end in lex.literals:
        if (div := _escape_divergence(lex.text[start + 1 : end - 1])) is not None:
            raise UnsupportedClickHouseSQL(
                f"string literal escape {div} — ClickHouse and Spark "
                "decode differently (only \\t \\n \\r \\b \\0 \\\\ "
                "and doubled quotes are decoded identically; "
                "\\xHH/octal/\\a/\\v/\\f/\\e are bytes in CH but "
                "literal text in Spark, \\Z/\\%/\\_/\\N diverge the "
                "other way, \\u is Spark-only) — the literal is "
                "re-emitted into Spark SQL verbatim, so the value "
                "would silently change; spell the byte via an agreed "
                "escape, and spell regex classes like \\d as [0-9]"
            )
    masked_in = lex.masked
    if refused := _refusal(masked_in):
        m, hint = refused
        raise UnsupportedClickHouseSQL(
            f"{ch_sql[m.start() : m.end()]!r} has no textual Spark "
            f"equivalent — {hint}"
        )
    # tuple element access t.1 has no Spark spelling (structs are
    # accessed by field name) — refuse before it reaches the parser as
    # an opaque error. [A-Za-z_]\w* base so decimals (1.5) never match.
    if re.search(r"\b[A-Za-z_]\w*\.\d", masked_in):
        raise UnsupportedClickHouseSQL(
            "tuple element access (t.1) — use named struct fields "
            "(named_struct / col.field)"
        )
    out = _rewrite_limit_by(lex.text)
    out = _rewrite_limit_ties(out)
    out = _rewrite_brackets(out)
    out = _rewrite_totals(out)
    out = _rewrite_array_join_zip(out)
    for pat, repl in _CLAUSES:
        out = _sub_outside_literals(pat, repl, out)
    lex = _bracket_scan(out)
    masked = lex.masked
    if re.search(r"\bWITH\s+TOTALS\b", masked, re.I):
        raise UnsupportedClickHouseSQL(
            "WITH TOTALS over a non-bare-column GROUP BY — rewrite the "
            "group keys as select-list aliases or use grouping_sets (C13)"
        )
    if re.search(r"\bARRAY\s+JOIN\b", masked, re.I):
        # an alias-less ARRAY JOIN survived the rewrite; passing it
        # through would parse as `t AS ARRAY JOIN <relation>` — a silent
        # condition-less join, never the flatten the user wrote
        raise UnsupportedClickHouseSQL(
            "ARRAY JOIN without an AS alias — write `ARRAY JOIN expr AS x`"
        )
    if re.search(r"\bGLOBAL\b", masked, re.I):
        # a GLOBAL spelling survived the strip lookahead; Spark has no
        # GLOBAL keyword, so passing it through yields an opaque parse
        # error instead of this pointered refusal
        raise UnsupportedClickHouseSQL(
            "GLOBAL in an unrecognized position — Spark's planner owns "
            "distribution (broadcast by stats/AQE); drop the keyword"
        )
    if re.search(r"\bSETTINGS\b", masked, re.I):
        # a SETTINGS survived the tail strip — i.e. it sits inside a
        # subquery or before a UNION arm, where stripping-to-end would
        # swallow real query text; refuse with the pointer instead
        raise UnsupportedClickHouseSQL(
            "SETTINGS in a non-tail position (subquery / before UNION) — "
            "remove it; session confs own execution advice here"
        )
    out, kept = _rewrite_table_calls(lex)
    # the calls the walk kept as written: names Spark spells too refuse
    # by argument shape, ClickHouse-only names (_RESIDUALS) by name
    for head, pieces in kept:
        fn, arity = head.group(1).lower(), len(pieces or ())
        if fn == "extract" and arity > 1:
            # a comma-form extract PARSES in Spark as ANSI datetime
            # extraction (wrong semantics); the ANSI `EXTRACT(f FROM x)`
            # form has no top-level comma and passes
            raise UnsupportedClickHouseSQL(
                "could not rewrite a comma-form extract(haystack, pattern) "
                "(non-literal or quote-bearing pattern?) — Spark would "
                "parse it as ANSI datetime EXTRACT; use regexp_extract "
                "directly"
            )
        elif fn in ("datediff", "date_diff", "age") and (
            arity and pieces[0].lstrip().startswith("'")
        ):
            # a unit-literal dateDiff/age left over (4-arg timezone form,
            # nested arguments) would hit an opaque arg-count error
            raise UnsupportedClickHouseSQL(
                "could not rewrite dateDiff/age (4-arg timezone form or "
                "nested arguments?) — flatten the call; the 3-arg "
                "unit-literal form translates"
            )
        elif fn == "transform" and arity >= 3:
            # CH's value-mapping form with NON-LITERAL from/to arrays —
            # Spark's same-named transform is the (array, lambda)
            # higher-order function, so passing through would be an
            # opaque arity error
            raise UnsupportedClickHouseSQL(
                "transform(x, from, to[, default]) with non-literal "
                "from/to arrays — the mapping must be spelled with "
                "array LITERALS (bracket or array() syntax) so it can "
                "lower to the CASE chain it denotes; precompute "
                "dynamic mappings with a join or map literal"
            )
        if residual := _RESIDUALS(head.group(1)):
            hint = _RESIDUAL_HINTS[residual.lastgroup]
            if re.search(r"Or(Zero|Null|Default)\s*\($", head.group(0)):
                hint = (
                    "signed to{Int,Float}*Or{Null,Zero,Default} translate "
                    "(flatten deep-nested arguments into a "
                    "subquery column if this one did not match); toUInt*Or* "
                    "refuses — Spark has no unsigned domain, so CH values in "
                    "[2^(w-1), 2^w) have no width-true target (a wider "
                    "signed try_cast would silently change the "
                    "out-of-range -> default boundary) — and toDate*/"
                    "toDecimal* Or-forms refuse on date-parsing/scale "
                    "divergence; spell those as try_cast(x AS <type>) "
                    "accepting its lenient parse"
                )
            raise UnsupportedClickHouseSQL(
                f"could not rewrite {head.group(0)!r} (nested arguments?) "
                f"— {hint}"
            )
    return out


# ---- ORDER BY ... WITH FILL (schema-aware, ch_sql only) ----
# ClickHouse's FillingTransform: walking the final sorted stream, emit
# synthetic rows for the missing sort-key values, restarting the
# arithmetic sequence AT EACH existing value (1,4,8 STEP 2 fills 3 and
# 6 — not a global min..max spine, which would fill 3,5,7). FROM is
# inclusive, TO is EXCLUSIVE, STEP defaults to 1; non-sort columns are
# filled with the column type's CH DEFAULT (0 / '' / epoch), which is
# why bare translate() refuses: the SQL text does not carry the types,
# but a built DataFrame's schema does.
#
# Scope: single identifier key, integer or date typed; ascending or
# (integer keys only) DESCENDING — the downward walk runs as the
# ascending one in negated key space; integer FROM/TO/STEP literals
# (dates: STEP n = n days, no FROM/TO). Leading BARE sort keys group
# the fill: `ORDER BY g1, g2, k WITH FILL` restarts the fill at
# every leading-key change, CH's FillingTransform rule — grouped
# FROM/TO bounds refuse (per-group bound spines: time_gap_fill). Bare
# INTERPOLATE, AS-expression INTERPOLATE, multiple filled keys, and
# expression-key forms refuse with pointers. An empty input produces no fill rows (CH would emit the
# FROM..TO spine — degenerate presentation case, documented deviation).
#
# Scale: ClickHouse runs this as a single-threaded transform over the
# initiator's merged sorted stream. The lowering is one pass over the
# query under the fill: one window (per group when grouped) yields each
# row's neighbouring keys, and one explode per row emits the row and the
# fills that follow it (plus the head fill on the first row). The
# ungrouped window is the same single-stream shape and carries the whole
# output row, not just the key; in return the query under the fill runs
# once, and the final ORDER BY rides the window's single partition.
# The lowering is built as one Spark SQL text over the translated
# query, so building it analyzes the query under the fill once for its
# schema and the whole text once — no per-column DataFrame steps.
# ORDER BY [g1, g2, ...,] k [ASC|DESC] WITH FILL ... — group(1) is the
# OPTIONAL list of leading bare sort keys (no fill of their own, no
# modifiers): ClickHouse's FillingTransform restarts whenever a
# non-fill sort column changes, so leading keys make the fill run
# independently inside each group (the "per-series gap fill" shape
# time_gap_fill serves natively). One regex for both forms — a
# shifted-group-index pair of near-twin patterns is the classic trap.
_WITH_FILL_TAIL = re.compile(
    r"\bORDER\s+BY\s+((?:[A-Za-z_]\w*\s*,\s*)*)([A-Za-z_]\w*)"
    r"(?:\s+(ASC|DESC))?\s+WITH\s+FILL"
    r"(?:\s+FROM\s+(-?\d+))?(?:\s+TO\s+(-?\d+))?(?:\s+STEP\s+(-?\d+))?"
    r"(?:\s+INTERPOLATE\s*\(\s*([A-Za-z_]\w*(?:\s*,\s*[A-Za-z_]\w*)*)\s*\))?"
    r"\s*;?\s*$",
    re.I,
)

# working-column names the fill machinery introduces; user columns with
# these names would make the internal selects ambiguous
_FILL_RESERVED = {"_v", "_nxt", "_prv"}

_FILL_DEFAULTABLE = (
    T.ByteType, T.ShortType, T.IntegerType, T.LongType,
    T.FloatType, T.DoubleType, T.DecimalType,
)


def _ch_default_lit(dt) -> str:
    """The ClickHouse type-default of a filled row's non-sort column as a
    Spark SQL literal (CH fills with the type default, never NULL)."""
    t = dt.simpleString()
    if isinstance(dt, _FILL_DEFAULTABLE):
        return f"CAST(0 AS {t})"
    if isinstance(dt, T.StringType):
        return "''"
    if isinstance(dt, T.BooleanType):
        return "false"
    if isinstance(dt, T.DateType):
        return f"CAST('1970-01-01' AS {t})"
    if isinstance(dt, (T.TimestampType, T.TimestampNTZType)):
        return f"CAST('1970-01-01 00:00:00' AS {t})"
    if isinstance(dt, T.ArrayType):
        return f"CAST(array() AS {t})"
    raise UnsupportedClickHouseSQL(
        f"WITH FILL beside a {dt.simpleString()} column has no textual "
        "CH type default — use time_gap_fill"
    )


def _quote_ident(name: str) -> str:
    return "`" + name.replace("`", "``") + "`"


def _apply_with_fill(spark: SparkSession, sql: str) -> DataFrame:
    masked = _mask_literals(sql)
    if re.search(r"\bINTERPOLATE\b(?!\s*\()", masked, re.I) or re.search(
        r"\bINTERPOLATE\s*\([^)]*\bAS\b", masked, re.I
    ):
        # bare INTERPOLATE (all columns, scope unknowable textually) and
        # INTERPOLATE (col AS expr) (the expression evaluates over the
        # PREVIOUS row's values — nonlinear forms) refuse; the explicit
        # bare-column list (carry the previous value forward, CH's
        # documented no-expression default) translates below
        raise UnsupportedClickHouseSQL(
            "WITH FILL ... INTERPOLATE supports an explicit bare-column "
            "list only (carry-forward); AS-expression forms: "
            "time_gap_fill_interpolate"
        )
    if len(re.findall(r"\bWITH\s+FILL\b", masked, re.I)) > 1:
        raise UnsupportedClickHouseSQL(
            "multiple WITH FILL keys — fill ONE trailing sort key (leading "
            "bare keys group the fill), or time_gap_fill"
        )
    m = _WITH_FILL_TAIL.search(masked)
    if not m:
        raise UnsupportedClickHouseSQL(
            "WITH FILL is supported as the statement tail `ORDER BY "
            "[group_cols,] <column> [ASC|DESC] WITH FILL [FROM i] "
            "[TO i] [STEP i]` (bare identifier keys) — other forms: "
            "time_gap_fill"
        )
    # empty pieces can only be splitter artifacts (trailing separator,
    # CRLF whitespace the rstrip charset missed) — drop, never splice
    groups = [g.strip() for g in m.group(1).split(",") if g.strip()]
    col = m.group(2)
    mods = m.group(3)
    lo_s, hi_s, step_s, interp_s = m.group(4), m.group(5), m.group(6), m.group(7)
    if groups:
        if lo_s is not None or hi_s is not None:
            # ClickHouse re-applies FROM/TO at every leading-key change;
            # per-group bound fills multiply rows in ways that are easy
            # to mis-read — refuse and point at the native operator
            raise UnsupportedClickHouseSQL(
                "grouped WITH FILL with FROM/TO bounds — per-group bound "
                "spines: time_gap_fill"
            )
        if len(set(g.lower() for g in groups) | {col.lower()}) != len(groups) + 1:
            raise UnsupportedClickHouseSQL(
                "grouped WITH FILL sort keys must be distinct"
            )
    clash = [
        n
        for n in groups + [col]
        if n.lower() in _FILL_RESERVED
    ]
    if clash:
        raise UnsupportedClickHouseSQL(
            f"WITH FILL sort keys collide with the rewrite's working "
            f"columns {sorted(_FILL_RESERVED)}: {clash} — alias them"
        )
    desc = (mods or "").upper() == "DESC"
    lo = int(lo_s) if lo_s else None
    hi = int(hi_s) if hi_s else None
    step = int(step_s) if step_s else (-1 if desc else 1)
    interp = [c.strip() for c in interp_s.split(",")] if interp_s else []
    if step == 0:
        raise UnsupportedClickHouseSQL("WITH FILL STEP 0")
    if desc and step > 0:
        raise UnsupportedClickHouseSQL(
            "DESC WITH FILL walks downward — STEP must be negative"
        )
    if not desc and step < 0:
        raise UnsupportedClickHouseSQL(
            "ascending WITH FILL needs a positive STEP (use ORDER BY "
            "... DESC for a downward walk)"
        )
    # direction-mismatched bounds are an ERROR in ClickHouse, not an
    # empty fill — accepting them would silently change behavior
    if lo is not None and hi is not None:
        if desc and lo < hi:
            raise UnsupportedClickHouseSQL(
                "DESC WITH FILL FROM cannot be less than TO"
            )
        if not desc and lo > hi:
            raise UnsupportedClickHouseSQL(
                "ascending WITH FILL FROM cannot be greater than TO"
            )

    inner = translate(sql[: m.start()])
    schema = spark.sql(inner).schema
    names = schema.names
    if col not in names:
        raise UnsupportedClickHouseSQL(
            "WITH FILL key must be a select-list column"
        )
    fold = _ident_fold(spark)
    d_cols = {fold(c) for c in names}
    bad_groups = [g for g in groups if fold(g) not in d_cols]
    if bad_groups:
        raise UnsupportedClickHouseSQL(
            f"grouped WITH FILL leading keys must be select-list "
            f"columns: {bad_groups}"
        )
    dt = schema[col].dataType
    is_int = isinstance(
        dt, (T.ByteType, T.ShortType, T.IntegerType, T.LongType)
    )
    if not is_int and not isinstance(dt, T.DateType):
        raise UnsupportedClickHouseSQL(
            f"WITH FILL over a {dt.simpleString()} sort key — integer or "
            "date keys only (timestamps: time_gap_fill)"
        )
    if not is_int and (lo is not None or hi is not None):
        raise UnsupportedClickHouseSQL(
            "integer FROM/TO on a date fill key — use STEP only"
        )
    k = _quote_ident(col)
    src = f"({inner}) _d"
    if desc:
        # the descending walk is the ascending one in NEGATED key space
        # (CH's FillingTransform restart/bound rules mirror exactly):
        # FROM (inclusive high start) -> -FROM inclusive low, TO
        # (exclusive low end) -> -TO exclusive high, STEP -s -> +s.
        # The fill set, restart points, bound fills and INTERPOLATE
        # carry direction (previous row in OUTPUT order = larger key)
        # all come out right; the key is negated back at the end.
        if not is_int:
            raise UnsupportedClickHouseSQL(
                "DESC WITH FILL over a date key — use time_gap_fill"
            )
        # negate in BIGINT working space: unary minus keeps the input
        # type, so a narrow key at its type minimum (byte -128, ...)
        # would ARITHMETIC_OVERFLOW under Spark 4's default ANSI mode;
        # the key is cast back to the declared type after re-negation
        negated = ", ".join(
            f"-CAST({k} AS BIGINT) AS {k}" if n == col else _quote_ident(n)
            for n in names
        )
        src = f"(SELECT {negated} FROM {src}) _n"
        lo = -lo if lo is not None else None
        hi = -hi if hi is not None else None
        step = -step

    if clash := [n for n in names if n.lower() in _FILL_RESERVED]:
        raise UnsupportedClickHouseSQL(
            f"WITH FILL select-list columns collide with the rewrite's "
            f"working columns {sorted(_FILL_RESERVED)}: {clash} — alias them"
        )
    gset = {g.lower() for g in groups}
    bad = [
        c for c in interp if c not in names or c == col or c.lower() in gset
    ]
    if bad:
        raise UnsupportedClickHouseSQL(
            f"INTERPOLATE columns must be non-sort select-list columns: {bad}"
        )

    if is_int:
        fwd = lambda e, n: f"({e} + {n})"  # noqa: E731
        seq_step = str(step)
    else:
        fwd = lambda e, n: f"date_add({e}, {n})"  # noqa: E731
        seq_step = f"INTERVAL {step} DAY"

    # ONE pass over the query under the fill, as one SQL text: a window
    # per group (ClickHouse's FillingTransform restarts whenever a
    # non-fill sort column changes) materializes the neighbouring keys —
    # Spark rejects window expressions inside a generator — and each row
    # then explodes into itself, the head fill FROM .. k-1 (on the
    # group's first non-NULL key: NULLs sort first, so that is the row
    # whose lag is NULL) and the gap-or-tail fill k+step ..
    # coalesce(next, TO)-1. Fill keys never equal the row's key (head
    # ones are below it, gap ones above), so comparing the exploded key
    # with it tells the three kinds of rows apart. The CASE guards keep
    # illegal sequence boundaries from evaluating. In DESC mode the
    # working key is BIGINT (negated space).
    arr_t = f"array<{'bigint' if desc else dt.simpleString()}>"
    part_by = f"PARTITION BY {', '.join(map(_quote_ident, groups))} " if groups else ""
    over = f"OVER ({part_by}ORDER BY {k})"
    parts = [f"array({k})"]
    if lo is not None:
        parts.append(
            f"CASE WHEN _prv IS NULL AND {k} > {lo} "  # NULL when k is NULL
            f"THEN sequence({lo}, {fwd(k, -1)}, {seq_step}) END"
        )
    end = "_nxt" if hi is None else f"coalesce(_nxt, {hi})"
    parts.append(
        f"CASE WHEN {end} > {fwd(k, step)} "
        f"THEN sequence({fwd(k, step)}, {fwd(end, -1)}, {seq_step}) END"
    )
    fills = ", ".join(
        f"coalesce(CAST({p} AS {arr_t}), CAST(array() AS {arr_t}))" for p in parts
    )
    # group columns carry the row's value; INTERPOLATE columns carry it
    # into the gap/tail fills (the previous original row in output order)
    # and take the type default on head fills (no predecessor); every
    # other column takes the CH type default on any fill. DESC leaves
    # negated key space here.
    out_cols = []
    for f in schema.fields:
        x = _quote_ident(f.name)
        if f.name == col:
            x = f"CAST(-_v AS {dt.simpleString()})" if desc else "_v"
        elif f.name in interp:
            x = f"CASE WHEN _v < {k} THEN {_ch_default_lit(f.dataType)} ELSE {x} END"
        elif f.name.lower() not in gset:
            x = f"CASE WHEN _v <=> {k} THEN {x} ELSE {_ch_default_lit(f.dataType)} END"
        out_cols.append(f"{x} AS {_quote_ident(f.name)}")
    # NULLS LAST on the group keys: ClickHouse ORDER BY puts NULL/NaN
    # last, Spark's default asc puts NULLs first — a nullable group
    # column (left-join output) must not silently flip the presentation
    # order. The ORDER BY names resolve to the select list's output.
    order = [f"{_quote_ident(g)} ASC NULLS LAST" for g in groups]
    order.append(f"{k} DESC" if desc else k)
    return spark.sql(
        f"SELECT {', '.join(out_cols)} FROM ("
        f"SELECT *, explode(concat({fills})) AS _v FROM ("
        f"SELECT *, lead({k}) {over} AS _nxt, lag({k}) {over} AS _prv "
        f"FROM {src}) _w) _e "
        f"ORDER BY {', '.join(order)}"
    )


# ---- FROM <table> FINAL (DDL-aware, ch_sql only) ----
# ClickHouse's FINAL modifier forces the table's merge-collapse at read
# time; WHICH collapse depends on the MergeTree engine family and its
# declared sort key / version column — information the SELECT text does
# not carry, which is why bare translate() refuses. ch_sql() accepts the
# table's CH CREATE TABLE via ``ddls=`` (exactly the artifact the
# reference pipes around: it SHOW CREATEs every table and carries the
# DDL through its rewrite phases, sharding_recreation.py:49-107) and
# translates the two deterministic families:
#
# - ReplacingMergeTree(ver): one survivor per sort key = the max-version
#   row. CH breaks version TIES by insertion order, which a distributed
#   parquet scan cannot observe — the rewrite breaks them by the
#   remaining columns' values instead (a deterministic refinement, same
#   ethos as the quantile translation). No version column at all means
#   the ENTIRE collapse is insertion-ordered: refuse.
# - SummingMergeTree: one row per sort key with the value columns
#   summed; rows whose sums are all zero are dropped (CH deletes them at
#   merge). Every non-key column must be summed (explicitly listed or
#   numeric) — CH keeps "any value" for the rest, so their presence
#   refuses — and summed columns must be non-Nullable (CH's NULL-skip
#   sum vs SQL NULL propagation would silently diverge).
#
# Collapsing/VersionedCollapsing (sign-cancel state) and Aggregating
# (partial-state finalize) FINALs point at the native state-merge
# operators instead.

_MT_NUMERIC_TYPE = re.compile(
    r"^(U?Int\d+|Float(32|64)|Decimal(32|64|128|256)?\s*\()", re.I
)
_MT_COL_SKIP = re.compile(
    r"^(INDEX|CONSTRAINT|PRIMARY|PROJECTION)\b", re.I
)


def _ddl_lex(ch_ddl: str) -> _Lex:
    """The lexing of a DDL with each whitespace run outside its string
    literals collapsed to one space and the ends stripped (a literal
    keeps its spaces: it may be a default value). The collapse moves
    every offset, so the collapsed text is lexed again."""
    parts = _literal_split(_bracket_scan(ch_ddl))
    parts[::2] = [re.sub(r"\s+", " ", p) for p in parts[::2]]
    return _bracket_scan("".join(parts).strip())


def merge_tree_meta(ch_ddl: str) -> dict:
    """Parse the FINAL-relevant metadata out of a ClickHouse CREATE
    TABLE: table name, MergeTree engine family, engine parameters,
    declared (column, CH type) pairs, and the ORDER BY sort key."""
    lex = _ddl_lex(ch_ddl)
    s = lex.text
    m = re.search(
        r"\bCREATE\s+TABLE\s+(?:IF\s+NOT\s+EXISTS\s+)?([\w.]+)", s, re.I
    )
    if not m:
        raise UnsupportedClickHouseSQL("not a CREATE TABLE DDL")
    name = m.group(1)
    if "." in name:
        name = name.split(".")[-1]
    # column block: the bracket pair opening first after the name
    i = lex.masked.find("(", m.end())
    if i < 0:
        raise UnsupportedClickHouseSQL("CREATE TABLE without a column list")
    if i not in lex.close:
        raise UnsupportedClickHouseSQL("unbalanced column list")
    j = lex.close[i]
    cols: list[tuple[str, str]] = []
    for piece in _pieces(lex, i):
        piece = piece.strip()
        if not piece or _MT_COL_SKIP.match(piece):
            continue
        cm = re.match(r"([A-Za-z_]\w*)\s+(.+)$", piece)
        if not cm:
            raise UnsupportedClickHouseSQL(f"unparseable column def {piece!r}")
        cols.append((cm.group(1), cm.group(2).strip()))
    tail = s[j + 1 :]
    em = re.search(r"\bENGINE\s*=\s*(\w*?)MergeTree\s*(\(([^)]*)\))?", tail, re.I)
    if not em:
        raise UnsupportedClickHouseSQL(
            "FINAL semantics need a *MergeTree ENGINE clause"
        )
    family = em.group(1) or ""
    params = [
        p.strip() for p in (em.group(3) or "").split(",") if p.strip()
    ]
    om = re.search(r"\bORDER\s+BY\s+(\([^)]*\)|[\w.]+)", tail, re.I)
    keys = (
        [k.strip() for k in om.group(1).strip("()").split(",") if k.strip()]
        if om
        else []
    )
    declared = {c for c, _ in cols}
    if not keys or any(k not in declared for k in keys):
        raise UnsupportedClickHouseSQL(
            "FINAL needs a bare-column ORDER BY sort key (expression keys "
            "carry no collapse identity a scan can reconstruct)"
        )
    return {
        "name": name,
        "family": family,
        "params": params,
        "columns": cols,
        "keys": keys,
    }


def _final_subquery(meta: dict) -> str:
    """The collapse subquery replacing ``FROM t FINAL`` (CH-neutral SQL:
    both dialects parse it, so it passes through translate() intact)."""
    t, keys = meta["name"], meta["keys"]
    cols = [c for c, _ in meta["columns"]]
    types = dict(meta["columns"])
    fam = meta["family"].lower()
    if fam == "replacing":
        if not meta["params"]:
            raise UnsupportedClickHouseSQL(
                "ReplacingMergeTree without a version column collapses by "
                "insertion order, which a distributed scan cannot observe "
                "— declare a version column or use upsert_latest_wins"
            )
        ver = meta["params"][0]
        if ver not in types:
            raise UnsupportedClickHouseSQL(
                f"ReplacingMergeTree version column {ver!r} is not declared"
            )
        order = [f"{ver} DESC"] + [
            f"{c} DESC" for c in cols if c not in keys and c != ver
        ]
        return (
            f"SELECT {', '.join(cols)} FROM (SELECT {', '.join(cols)}, "
            f"ROW_NUMBER() OVER (PARTITION BY {', '.join(keys)} "
            f"ORDER BY {', '.join(order)}) AS __cdr_final_rn FROM {t}) "
            f"__cdr_final_in WHERE __cdr_final_rn = 1"
        )
    if fam == "summing":
        explicit = meta["params"]
        bad = [c for c in explicit if c not in types or c in keys]
        if bad:
            raise UnsupportedClickHouseSQL(
                f"SummingMergeTree sum columns not declared non-key "
                f"columns: {bad}"
            )
        def _numeric(t: str) -> bool:
            # look through Nullable(...) so a Nullable numeric reaches
            # the summed set and the Nullable refusal below (not the
            # misleading non-summed-column one)
            inner = re.match(r"Nullable\s*\(\s*(.+?)\s*\)$", t, re.I)
            return bool(_MT_NUMERIC_TYPE.match(inner.group(1) if inner else t))

        summed = explicit or [
            c for c in cols if c not in keys and _numeric(types[c])
        ]
        rest = [c for c in cols if c not in keys and c not in summed]
        if rest:
            raise UnsupportedClickHouseSQL(
                f"SummingMergeTree keeps an ARBITRARY value for non-summed "
                f"columns {rest} — drop them or use agg_state_merge"
            )
        nullable = [
            c for c in summed if re.match(r"Nullable\s*\(", types[c], re.I)
        ]
        if nullable:
            raise UnsupportedClickHouseSQL(
                f"Nullable summed columns {nullable}: CH skips NULLs where "
                "SQL SUM propagates them — make the columns non-Nullable"
            )
        if not summed:
            raise UnsupportedClickHouseSQL(
                "SummingMergeTree with nothing to sum"
            )
        sums = ", ".join(f"SUM({c}) AS {c}" for c in summed)
        all_zero = " AND ".join(f"SUM({c}) = 0" for c in summed)
        return (
            f"SELECT {', '.join(keys)}, {sums} FROM {t} "
            f"GROUP BY {', '.join(keys)} HAVING NOT ({all_zero})"
        )
    pointer = {
        "collapsing": "use collapsing_sign_merge",
        "versionedcollapsing": "use collapsing_sign_merge",
        "aggregating": "use agg_state_merge",
    }.get(fam)
    if pointer:
        raise UnsupportedClickHouseSQL(
            f"{meta['family']}MergeTree FINAL folds engine state the SQL "
            f"text cannot express — {pointer}"
        )
    raise UnsupportedClickHouseSQL(
        f"FINAL on {meta['family'] or 'plain '}MergeTree has no "
        "merge-collapse semantics"
    )


_FROM_FINAL = re.compile(r"\bFROM\s+([A-Za-z_][\w.]*)\s+FINAL\b", re.I)


def _apply_final(sql: str, metas: dict[str, dict]) -> str:
    """Rewrite every ``FROM <table> FINAL`` whose table has a provided
    DDL into its collapse subquery (matched on the literal-masked copy;
    spliced into raw text, the _sub_outside_literals discipline)."""
    masked = _mask_literals(sql)
    out: list[str] = []
    last = 0
    for m in _FROM_FINAL.finditer(masked):
        t = m.group(1)
        if "." in t:
            raise UnsupportedClickHouseSQL(
                f"qualified FROM {t} FINAL — register the table under its "
                "bare name (the Spark-side views are database-less)"
            )
        if t not in metas:
            raise UnsupportedClickHouseSQL(
                f"FROM {t} FINAL but no DDL for {t!r} was passed via "
                "ch_sql(..., ddls=[...]) — the collapse needs the table's "
                "engine family, sort key and version column"
            )
        out.append(sql[last : m.start()])
        out.append(f"FROM ({_final_subquery(metas[t])}) AS {t}")
        last = m.end()
    out.append(sql[last:])
    rewritten = "".join(out)
    # Refuse on ANY leftover FINAL token, not just when nothing matched:
    # in `FROM t FINAL JOIN b FINAL ON ...` the join-side FINAL survives
    # the FROM-anchored pattern, and Spark would silently parse it as a
    # table alias — b's collapse would be skipped even though its DDL
    # was supplied. Re-mask the REWRITTEN text (splices never introduce
    # FINAL) and scan for residues.
    if re.search(r"\bFINAL\b", _mask_literals(rewritten), re.I):
        raise UnsupportedClickHouseSQL(
            "FINAL outside the `FROM <table> FINAL` form (aliased or "
            "join-side FINALs) — collapse via upsert_latest_wins first"
        )
    return rewritten


# ---- dictGet family (DDL-resolved, ch_sql only) ----
# ClickHouse external dictionaries are key -> attribute lookup tables
# loaded from a source. With the CREATE DICTIONARY DDL passed via
# ddls=, each dictGet call lowers to a correlated scalar-AGGREGATE
# subquery over the source table — Catalyst decorrelates an equality-
# correlated aggregate subquery into a left outer join, and a
# dictionary source is small by definition, so the executed plan is
# the C6 broadcast dimension join the bare refusal used to point at.
# max(attr) makes the subquery total even when the source carries
# duplicate keys (dictionary keys are assumed unique; CH's pick for a
# duplicated key is load-order-unspecified — greatest-value is the
# same deterministic refinement as FINAL's version-tie rule).

_DICT_TYPE_DEFAULTS: list[tuple[re.Pattern[str], str]] = [
    (re.compile(r"^(U?Int\d+|Float\d+|Decimal.*)$", re.I), "0"),
    (re.compile(r"^(String|FixedString.*)$", re.I), "''"),
]

# typed dictGet<T> variants -> Spark cast targets (same map as the toX
# scalar rewrites); types outside it refuse rather than guess
_DICT_GET_CASTS: list[tuple[re.Pattern[str], str]] = [
    (re.compile(r"^U?Int\d+$", re.I), "BIGINT"),
    (re.compile(r"^Float\d+$", re.I), "DOUBLE"),
    (re.compile(r"^String$", re.I), "STRING"),
]


def dictionary_meta(ch_ddl: str) -> dict:
    """Parse the dictGet-relevant metadata out of a ClickHouse CREATE
    DICTIONARY: dictionary name, attribute (name, CH type, default
    literal) triples, the single PRIMARY KEY column, and the
    CLICKHOUSE(TABLE '...') source table. Composite keys, non-table
    sources, and attributes with defaults this parser cannot state
    refuse — never guess a lookup's miss value."""
    lex = _ddl_lex(ch_ddl)
    s = lex.text
    m = re.search(
        r"\bCREATE\s+DICTIONARY\s+(?:IF\s+NOT\s+EXISTS\s+)?([\w.]+)", s, re.I
    )
    if not m:
        raise UnsupportedClickHouseSQL("not a CREATE DICTIONARY DDL")
    name = m.group(1).split(".")[-1]
    i = lex.masked.find("(", m.end())
    if i < 0:
        raise UnsupportedClickHouseSQL(
            "CREATE DICTIONARY without an attribute list"
        )
    if i not in lex.close:
        raise UnsupportedClickHouseSQL("unbalanced attribute list")
    j = lex.close[i]
    attrs: dict[str, tuple[str, str]] = {}
    for piece in _pieces(lex, i):
        piece = piece.strip()
        if not piece:
            continue
        cm = re.match(
            r"([A-Za-z_]\w*)\s+([\w()]+)"
            r"(?:\s+DEFAULT\s+('[^']*'|-?[\d.]+))?\s*$",
            piece,
            re.I,
        )
        if not cm:
            raise UnsupportedClickHouseSQL(
                f"unparseable dictionary attribute {piece!r} (expressions "
                "and EXPRESSION/HIERARCHICAL/INJECTIVE clauses refuse)"
            )
        col, typ, default = cm.group(1), cm.group(2), cm.group(3)
        if default is None:
            for pat, d in _DICT_TYPE_DEFAULTS:
                if pat.match(typ):
                    default = d
                    break
        if default is None:
            raise UnsupportedClickHouseSQL(
                f"dictionary attribute {col!r} of type {typ!r} has no "
                "stateable miss default — add DEFAULT <literal> to the DDL"
            )
        attrs[col] = (typ, default)
    tail = s[j + 1 :]
    # the key list ends at the next clause keyword — ClickHouse accepts
    # SOURCE/LAYOUT/LIFETIME/SETTINGS/COMMENT in any order after it
    km = re.search(
        r"\bPRIMARY\s+KEY\s+([\w,\s]+?)"
        r"(?=\bSOURCE\b|\bLAYOUT\b|\bLIFETIME\b|\bSETTINGS\b|\bCOMMENT\b|\(|$)",
        tail,
        re.I,
    )
    if not km:
        raise UnsupportedClickHouseSQL("CREATE DICTIONARY without PRIMARY KEY")
    keys = [k.strip() for k in km.group(1).split(",") if k.strip()]
    if len(keys) != 1:
        raise UnsupportedClickHouseSQL(
            "composite dictionary PRIMARY KEY — join the dim table "
            "directly (C6 join_broadcast_dims)"
        )
    if keys[0] not in attrs:
        raise UnsupportedClickHouseSQL(
            f"PRIMARY KEY {keys[0]!r} is not a declared attribute"
        )
    sm = re.search(
        r"\bSOURCE\s*\(\s*CLICKHOUSE\s*\([^)]*?\bTABLE\s+'([\w.]+)'", tail, re.I
    )
    if not sm:
        raise UnsupportedClickHouseSQL(
            "only SOURCE(CLICKHOUSE(TABLE '...')) dictionaries translate — "
            "file/HTTP/executable sources have no registered Spark view"
        )
    return {
        "name": name,
        "key": keys[0],
        "attrs": attrs,
        "source": sm.group(1).split(".")[-1],
    }


# dictGet / dictGet<Type> / dictGetOrDefault / dictGet<Type>OrDefault
# with literal dictionary + attribute names; dictHas separately.
_DICT_GET = re.compile(
    rf"\bdictGet(\w*?)(OrDefault)?\s*\(\s*('[^']*')\s*,\s*('[^']*')\s*,"
    rf"\s*{_ARG}\s*(?:,\s*{_ARG}\s*)?\)",
    re.I,
)
_DICT_HAS = re.compile(
    rf"\bdictHas\s*\(\s*('[^']*')\s*,\s*{_ARG}\s*\)", re.I
)


def _apply_dict_get(
    sql: str, dicts: dict[str, dict], spark: "SparkSession | None" = None
) -> str:
    """Rewrite every dictGet-family call whose dictionary DDL was
    provided into a correlated scalar-aggregate subquery over the
    source table (matched on the literal-masked copy, spliced into raw
    text). Key/default expressions that name a column of the SOURCE
    table refuse: inside the correlated subquery the inner scope wins,
    so `dictGet('d', 'attr', n_nationkey)` evaluated FROM a table that
    also has n_nationkey would silently compare the source column to
    itself and return the global max — exactly the silent mistranslation
    this module's contract prohibits. Leftover dict* spellings after the
    pass raise a targeted shape error (not the generic pass-the-ddls
    pointer, which would misdirect a caller who already passed them)."""

    def source_columns(meta: dict) -> list[str]:
        if spark is not None:
            try:
                return [c.lower() for c in spark.table(meta["source"]).columns]
            except Exception:  # pragma: no cover - unregistered view
                pass
        return [a.lower() for a in meta["attrs"]]

    def check_capture(meta: dict, expr: str, what: str) -> None:
        # the code between the literals: a quoted identifier still names
        # its column
        code = " ".join(_literal_split(_bracket_scan(expr))[::2])
        idents = {i.lower() for i in re.findall(r"[A-Za-z_]\w*", code)}
        hit = sorted(idents & set(source_columns(meta)))
        if hit:
            raise UnsupportedClickHouseSQL(
                f"dictGet {what} {expr!r} names column(s) {hit} of the "
                f"dictionary source {meta['source']!r} — the correlated "
                "lookup subquery would capture the INNER scope and "
                "silently return the wrong value; alias or rename the "
                "outer column, or join the dim table directly (C6)"
            )

    def lookup(dict_lit: str, attr_lit: str | None) -> tuple[dict, str | None]:
        # the DDL parse registers bare names; accept the db-qualified
        # call spelling symmetrically
        dname = dict_lit.strip("'").split(".")[-1]
        if dname not in dicts:
            raise UnsupportedClickHouseSQL(
                f"dictGet over unknown dictionary {dname!r} — pass its "
                "CREATE DICTIONARY via ch_sql(..., ddls=[...])"
            )
        meta = dicts[dname]
        if attr_lit is None:
            return meta, None
        attr = attr_lit.strip("'")
        if attr not in meta["attrs"]:
            raise UnsupportedClickHouseSQL(
                f"dictionary {dname!r} has no attribute {attr!r}"
            )
        return meta, attr

    def get_repl(m: "re.Match[str]", raw: str) -> str:
        typed, or_default = m.group(1), m.group(2)
        meta, attr = lookup(raw[m.start(3) : m.end(3)], raw[m.start(4) : m.end(4)])
        key_expr = raw[m.start(5) : m.end(5)].strip()
        check_capture(meta, key_expr, "key expression")
        if or_default:
            if m.group(6) is None:
                raise UnsupportedClickHouseSQL(
                    "dictGetOrDefault takes (dict, attr, key, default)"
                )
            # no capture check here: the default is spliced
            # OUTSIDE the correlated subquery — coalesce(sub, (default))
            # — so it binds in the OUTER query's scope exactly as CH
            # evaluates it. A default naming a source-only column can't
            # be captured; it fails Spark analysis loudly via the
            # translate-then-analyze net instead of refusing valid
            # queries whose outer table shares a column name.
            default_expr = raw[m.start(6) : m.end(6)].strip()
            default = f"({default_expr})"
        else:
            if m.group(6) is not None:
                raise UnsupportedClickHouseSQL(
                    "dictGet takes (dict, attr, key) — use dictGetOrDefault "
                    "for an explicit miss value"
                )
            default = meta["attrs"][attr][1]
        sub = (
            f"(SELECT max({attr}) FROM {meta['source']} "
            f"WHERE {meta['key']} = ({key_expr}))"
        )
        expr = f"coalesce({sub}, {default})"
        if typed:
            for pat, target in _DICT_GET_CASTS:
                if pat.match(typed):
                    return f"CAST({expr} AS {target})"
            raise UnsupportedClickHouseSQL(
                f"dictGet{typed} — only the String/[U]Int*/Float* typed "
                "variants translate (Date/UUID/hierarchy forms refuse)"
            )
        return expr

    def has_repl(m: "re.Match[str]", raw: str) -> str:
        meta, _ = lookup(raw[m.start(1) : m.end(1)], None)
        key_expr = raw[m.start(2) : m.end(2)].strip()
        check_capture(meta, key_expr, "key expression")
        return (
            f"((SELECT count(*) FROM {meta['source']} "
            f"WHERE {meta['key']} = ({key_expr})) > 0)"
        )

    out = _sub_outside_literals(_DICT_GET, get_repl, sql)
    out = _sub_outside_literals(_DICT_HAS, has_repl, out)
    leftover = re.search(r"\bdict(Get|Has)\w*\s*\(", _mask_literals(out), re.I)
    if leftover:
        raise UnsupportedClickHouseSQL(
            f"could not rewrite {leftover.group(0).strip()!r} — the call "
            "shape is unsupported (non-literal dictionary/attribute name, "
            "a key expression nested deeper than one paren level, or a "
            "hierarchy form); flatten the argument or join the dim table "
            "directly (C6)"
        )
    return out


# ---- ASOF [LEFT] JOIN (schema-aware, ch_sql only) ----
# ClickHouse's ASOF JOIN: for each left row, join the single right row
# that is CLOSEST under the one inequality condition (>= / > / <= / <),
# among rows matching the equality conditions. The rewrite targets the
# union + carry-forward-window shape the native asof_join family uses:
# tag left and right rows, union them aligned on the equality keys,
# and carry the latest right row (packed into ONE struct column named
# BY THE RIGHT ALIAS, so the outer query's `ra.col` references resolve
# as struct FIELD access on the derived table) along the asof order
# with last_value IGNORE NULLS.
#
# Why not the lateral-top-1 spelling join_lateral_topn proves out?
# Catalyst decorrelates a correlated LIMIT subquery whose predicates
# include a NON-EQUALITY into a domain join executed as a nested-loop
# over distinct(left keys) x right — measured on this very query: a
# BroadcastNestedLoopJoin in the final plan, O(|left| * |right|) work
# at scale. The union+window form is ONE hash shuffle on the equality
# keys, the plan the 100 TB path needs.
#
# CH leaves the pick among EQUAL asof-key values unspecified; the
# rewrite totals the order with the right-row struct itself (field-wise
# struct comparison -> greatest remaining-column tuple wins; the same
# deterministic-refinement ethos as FINAL's version-tie rule) — which
# needs both tables' schemas, hence ch_sql-only (bare translate()
# keeps refusing with the operator pointer).

_ASOF_KEYWORD_GUARD = (
    r"(?!(?:ASOF|ANY|GLOBAL|LEFT|INNER|JOIN|FINAL|ON|USING)\b)"
)
# GLOBAL is CH's ship-the-right-side modifier — Spark's planner owns
# distribution, so it is consumed (the same strip translate() applies)
_ASOF_CLAUSE = re.compile(
    rf"\bFROM\s+([A-Za-z_]\w*)(?:\s+(?:AS\s+)?{_ASOF_KEYWORD_GUARD}([A-Za-z_]\w*))?"
    rf"\s+(?:GLOBAL\s+)?ASOF\s+(?:(LEFT)\s+(?:OUTER\s+)?|INNER\s+)?JOIN\s+"
    rf"([A-Za-z_]\w*)(?:\s+(?:AS\s+)?{_ASOF_KEYWORD_GUARD}([A-Za-z_]\w*))?"
    rf"\s+(?:ON\s+(.*?)|USING\s*\(([^)]*)\)\s*)"
    r"(?=\bWHERE\b|\bGROUP\b|\bORDER\b|\bHAVING\b|\bLIMIT\b|\bSETTINGS\b"
    r"|\bFORMAT\b|$)",
    re.I | re.S,
)
_ASOF_COND = re.compile(
    r"^\s*([A-Za-z_]\w*)\.([A-Za-z_]\w*)\s*(>=|<=|!?=|>|<)\s*"
    r"([A-Za-z_]\w*)\.([A-Za-z_]\w*)\s*$"
)


def _ident_fold(spark: SparkSession):
    """Identifier normalizer matching the session's resolution rule:
    lower-case under the default case-insensitive analyzer, identity
    under spark.sql.caseSensitive=true — so the rewrites' existence /
    collision / alias checks refuse exactly what analysis would."""
    cs = (
        (spark.conf.get("spark.sql.caseSensitive", "false") or "false")
        .lower()
        == "true"
    )
    return (lambda x: x) if cs else str.lower


def _apply_asof_join(spark: SparkSession, sql: str) -> str:
    fold = _ident_fold(spark)
    masked = _mask_literals(sql)
    ms = list(_ASOF_CLAUSE.finditer(masked))
    if len(ms) != 1:
        raise UnsupportedClickHouseSQL(
            "ASOF JOIN is supported as a single `FROM l [la] ASOF [LEFT] "
            "JOIN r [ra] ON <equi-conds AND one inequality>` or "
            "`... USING (keys..., asof_key)` clause (multi-join and "
            "subquery forms: asof_join / asof_join_tolerance / "
            "asof_join_forward)"
        )
    m = ms[0]
    ltab, la = m.group(1), m.group(2) or m.group(1)
    left_join = bool(m.group(3))
    rtab, ra = m.group(4), m.group(5) or m.group(4)
    eqs: list[tuple[str, str]] = []  # (left col, right col)
    ineq: tuple[str, str, str] | None = None  # (lcol, op, rcol)
    if m.group(7) is not None:
        # USING (k1, ..., kn): CH equi-joins all but the LAST column,
        # which becomes the >= asof key; the exposed column keeps the
        # left side's value — exactly what the flat-left + struct-right
        # derived table produces
        using = [c.strip() for c in m.group(7).split(",") if c.strip()]
        if len(using) < 2 or not all(
            re.fullmatch(r"[A-Za-z_]\w*", c) for c in using
        ):
            raise UnsupportedClickHouseSQL(
                "ASOF USING needs >= 2 bare columns (equality keys + the "
                "trailing asof key)"
            )
        eqs = [(c, c) for c in using[:-1]]
        ineq = (using[-1], ">=", using[-1])
    else:
        conds = m.group(6).strip()
        if "(" in conds or ")" in conds:
            raise UnsupportedClickHouseSQL(
                "parenthesized / function ON conditions in ASOF JOIN — "
                "use the native asof_join family"
            )
        for piece in re.split(r"\bAND\b", conds, flags=re.I):
            cm = _ASOF_COND.match(piece)
            if not cm:
                raise UnsupportedClickHouseSQL(
                    f"unparseable ASOF ON condition {piece.strip()!r} — "
                    "alias-qualified `a.col <op> b.col` conditions only"
                )
            a1, c1, op, a2, c2 = cm.groups()
            if {fold(a1), fold(a2)} != {fold(la), fold(ra)}:
                raise UnsupportedClickHouseSQL(
                    f"ASOF ON condition {piece.strip()!r} must relate the "
                    f"two join sides ({la!r}, {ra!r})"
                )
            # normalize to left-side-first
            if fold(a1) == fold(la):
                lcol, rcol = c1, c2
            else:
                lcol, rcol = c2, c1
                op = {">=": "<=", "<=": ">=", ">": "<", "<": ">"}.get(op, op)
            if op == "=":
                eqs.append((lcol, rcol))
            elif op == "!=":
                raise UnsupportedClickHouseSQL(
                    "!= in ASOF ON has no asof order"
                )
            else:
                if ineq is not None:
                    raise UnsupportedClickHouseSQL(
                        "ASOF JOIN needs exactly ONE inequality condition"
                    )
                ineq = (lcol, op, rcol)
        if not eqs or ineq is None:
            raise UnsupportedClickHouseSQL(
                "ASOF JOIN needs at least one equality condition and "
                "exactly one inequality condition"
            )
    lcol, op, rcol = ineq
    try:
        lschema = spark.table(ltab).schema
        rschema = spark.table(rtab).schema
    except Exception as e:  # pragma: no cover - defensive
        raise UnsupportedClickHouseSQL(
            "ASOF JOIN sides must be registered tables/views "
            f"({ltab!r}, {rtab!r})"
        ) from e
    lnames = [f.name for f in lschema]
    lset = {fold(n) for n in lnames}
    if fold(ra) in lset or fold(la) == fold(ra):
        raise UnsupportedClickHouseSQL(
            f"ASOF right alias {ra!r} collides with a left column/alias — "
            "the rewrite exposes the matched right row under that name"
        )
    rset = {fold(f.name) for f in rschema}
    bad = [c for c, _ in eqs if fold(c) not in lset] + (
        [lcol] if fold(lcol) not in lset else []
    )
    bad_r = [c for _, c in eqs if fold(c) not in rset] + (
        [rcol] if fold(rcol) not in rset else []
    )
    if bad or bad_r:
        raise UnsupportedClickHouseSQL(
            f"ASOF JOIN key(s) not found: left {bad} right {bad_r}"
        )
    # union-aligned projections: left columns ride flat; the equality
    # keys and asof key get shared names; the right row travels as one
    # struct (typed NULL on the left arm)
    struct_t = T.StructType(list(rschema)).simpleString()
    ks = [f"__cdr_k{i}" for i in range(len(eqs))]
    # ord: whichever side must be VISIBLE first at an equal asof value
    # sorts first — right for the inclusive ops (>=, <=), left for the
    # strict ones (the left row then never sees an equal-key right row)
    right_first = op in (">=", "<=")
    ord_l, ord_r = (1, 0) if right_first else (0, 1)
    left_arm = ", ".join(
        lnames
        + [f"{lc} AS {k}" for k, (lc, _) in zip(ks, eqs)]
        + [
            f"{lcol} AS __cdr_t",
            f"{ord_l} AS __cdr_ord",
            f"CAST(NULL AS {struct_t}) AS __cdr_p",
        ]
    )
    right_arm = ", ".join(
        [f"CAST(NULL AS {f.dataType.simpleString()}) AS {f.name}" for f in lschema]
        + [f"{rc} AS {k}" for k, (_, rc) in zip(ks, eqs)]
        + [
            f"{rcol} AS __cdr_t",
            f"{ord_r} AS __cdr_ord",
            f"struct({', '.join(f.name for f in rschema)}) AS __cdr_p",
        ]
    )
    # NULL join keys must never match: ClickHouse join equality (and the
    # asof inequality) never treats NULL = NULL as a hit, while Spark's
    # PARTITION BY groups NULLs into one partition. Two guards restore
    # CH semantics exactly: (a) right-arm rows with a NULL equality or
    # asof key are filtered out of the union, so every partition that
    # contains a NULL key holds left rows only and their carry stays
    # NULL; (b) the carry ordering pins NULLS FIRST, so a left row with
    # a NULL asof key sorts before every (non-NULL, guard (a)) right row
    # in BOTH directions and can never inherit a carry.
    right_ok = " AND ".join(
        [f"{rc} IS NOT NULL" for _, rc in eqs] + [f"{rcol} IS NOT NULL"]
    )
    tdir = " NULLS FIRST" if op in (">=", ">") else " DESC NULLS FIRST"
    carry = (
        f"last_value(__cdr_p) IGNORE NULLS OVER ("
        f"PARTITION BY {', '.join(ks)} "
        f"ORDER BY __cdr_t{tdir}, __cdr_ord, __cdr_p "
        f"ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)"
    )
    keep = f"__cdr_ord = {ord_l}" + ("" if left_join else f" AND {ra} IS NOT NULL")
    joined = (
        f"FROM (SELECT {', '.join(lnames)}, {ra} FROM ("
        f"SELECT {', '.join(lnames)}, __cdr_ord, {carry} AS {ra} FROM ("
        f"SELECT {left_arm} FROM {ltab} UNION ALL "
        f"SELECT {right_arm} FROM {rtab} WHERE {right_ok}) __cdr_u) __cdr_w "
        f"WHERE {keep}) {la}"
    )
    # the ON-conds capture swallows trailing whitespace up to the
    # lookahead keyword — restore one separator
    return sql[: m.start()] + joined + " " + sql[m.end() :]


# ---- ANY [LEFT|INNER] JOIN (schema-aware, ch_sql only) ----
# ClickHouse's ANY JOIN keeps at most ONE right-side match per left
# row — WHICH match is unspecified. The faithful deterministic
# refinement: dedupe the right side BY THE JOIN KEYS first (greatest
# remaining-column struct wins, the FINAL/ASOF tie rule), then join
# plain — which needs the right table's column list, hence ch_sql-only.
# ANY RIGHT JOIN (dedupes the LEFT side, mirrored semantics) refuses
# with the pointer rather than guessing which side the user meant.

_ANY_CLAUSE = re.compile(
    rf"\bFROM\s+([A-Za-z_]\w*)(?:\s+(?:AS\s+)?{_ASOF_KEYWORD_GUARD}([A-Za-z_]\w*))?"
    rf"\s+(?:GLOBAL\s+)?ANY\s+(?:(LEFT)\s+(?:OUTER\s+)?|INNER\s+)?JOIN\s+"
    rf"([A-Za-z_]\w*)(?:\s+(?:AS\s+)?{_ASOF_KEYWORD_GUARD}([A-Za-z_]\w*))?"
    rf"\s+ON\s+(.*?)"
    r"(?=\bWHERE\b|\bGROUP\b|\bORDER\b|\bHAVING\b|\bLIMIT\b|\bSETTINGS\b"
    r"|\bFORMAT\b|$)",
    re.I | re.S,
)


def _apply_any_join(spark: SparkSession, sql: str) -> str:
    fold = _ident_fold(spark)
    masked = _mask_literals(sql)
    if re.search(r"\bANY\s+(RIGHT|FULL)\s+(?:OUTER\s+)?JOIN\b", masked, re.I):
        raise UnsupportedClickHouseSQL(
            "ANY RIGHT/FULL JOIN dedupes the LEFT side — flip the join or "
            "dedupe explicitly (dedup_by_key / upsert_latest_wins)"
        )
    ms = list(_ANY_CLAUSE.finditer(masked))
    if len(ms) != 1:
        raise UnsupportedClickHouseSQL(
            "ANY JOIN is supported as a single `FROM l [la] ANY "
            "[LEFT|INNER] JOIN r [ra] ON <equi-conds>` clause — other "
            "forms: dedupe the right side first (dedup_by_key), then "
            "plain JOIN"
        )
    m = ms[0]
    la = m.group(2) or m.group(1)
    kind = (m.group(3) or "INNER").strip().upper()
    rtab, ra = m.group(4), m.group(5) or m.group(4)
    conds = m.group(6).strip()
    if "(" in conds or ")" in conds:
        raise UnsupportedClickHouseSQL(
            "parenthesized / function ON conditions in ANY JOIN — "
            "dedupe the right side explicitly, then plain JOIN"
        )
    rkeys: list[str] = []
    for piece in re.split(r"\bAND\b", conds, flags=re.I):
        cm = _ASOF_COND.match(piece)
        if not cm or cm.group(3) != "=":
            raise UnsupportedClickHouseSQL(
                f"ANY JOIN ON condition {piece.strip()!r} must be an "
                "alias-qualified equality (inequalities make the 'one "
                "match' pick order-dependent — use ASOF JOIN)"
            )
        a1, c1, _, a2, c2 = cm.groups()
        if {fold(a1), fold(a2)} != {fold(la), fold(ra)}:
            raise UnsupportedClickHouseSQL(
                f"ANY JOIN ON condition {piece.strip()!r} must relate the "
                f"two join sides ({la!r}, {ra!r})"
            )
        rkeys.append(c1 if fold(a1) == fold(ra) else c2)
    try:
        rcols = [f.name for f in spark.table(rtab).schema]
    except Exception as e:  # pragma: no cover - defensive
        raise UnsupportedClickHouseSQL(
            f"ANY JOIN right side {rtab!r} is not a registered table/view"
        ) from e
    rset = {fold(c) for c in rcols}
    missing = [k for k in rkeys if fold(k) not in rset]
    if missing:
        raise UnsupportedClickHouseSQL(
            f"ANY JOIN right-side key(s) {missing} not in {rtab!r}"
        )
    dedup = (
        f"(SELECT {', '.join(rcols)} FROM (SELECT {', '.join(rcols)}, "
        f"ROW_NUMBER() OVER (PARTITION BY {', '.join(rkeys)} "
        f"ORDER BY struct({', '.join(rcols)}) DESC) AS __cdr_any_rn "
        f"FROM {rtab}) __cdr_any WHERE __cdr_any_rn = 1) {ra}"
    )
    jt = "LEFT JOIN" if kind == "LEFT" else "JOIN"
    joined = (
        f"FROM {m.group(1)}"
        + (f" {m.group(2)}" if m.group(2) else "")
        + f" {jt} {dedup} ON {conds}"
    )
    return sql[: m.start()] + joined + " " + sql[m.end() :]


def _context_rewrites(
    spark: SparkSession, sql: str, ddls: list[str] | None
) -> str:
    """The ch_sql-only rewrite passes that need more than the query
    text (views must already be pointed): DDL-resolved FINAL,
    schema-aware ASOF and ANY joins. Returns CH-dialect SQL with those
    constructs lowered; WITH FILL (lowered from the schema of the query
    under it) is left for the caller to dispatch."""
    table_ddls = [
        d for d in (ddls or []) if not re.search(r"\bCREATE\s+DICTIONARY\b", d, re.I)
    ]
    dict_ddls = [d for d in (ddls or []) if d not in table_ddls]
    if dict_ddls and re.search(r"\bdict(Get|Has)\w*\s*\(", _mask_literals(sql), re.I):
        dicts = {}
        for d in dict_ddls:
            meta = dictionary_meta(d)
            dicts[meta["name"]] = meta
        sql = _apply_dict_get(sql, dicts, spark)
    if table_ddls and re.search(r"\bFINAL\b", _mask_literals(sql), re.I):
        metas = {}
        for d in table_ddls:
            meta = merge_tree_meta(d)
            metas[meta["name"]] = meta
        sql = _apply_final(sql, metas)
    mods = r"(?:LEFT\s+|RIGHT\s+|FULL\s+|INNER\s+|OUTER\s+|CROSS\s+)*"
    if re.search(rf"\bASOF\s+{mods}JOIN\b", _mask_literals(sql), re.I):
        sql = _apply_asof_join(spark, sql)
    if re.search(rf"\bANY\s+{mods}JOIN\b", _mask_literals(sql), re.I):
        sql = _apply_any_join(spark, sql)
    return sql


def _point_views(
    spark: SparkSession, sf_dir: str, sql: str, ddls: list[str] | None
) -> None:
    """Point the fixture views a ch_sql query reads at ``sf_dir``: the
    names in its code outside string literals (quoted identifiers
    included), and in its DDLs unmasked — a dictionary names its source
    table in a literal."""
    code = _literal_split(_bracket_scan(sql))[::2]
    point_views(spark, sf_dir, *code, *(ddls or []))


def ch_sql(
    spark: SparkSession,
    sf_dir: str,
    sql: str,
    ddls: list[str] | None = None,
) -> DataFrame:
    """Run a ClickHouse-dialect query against the test tables: points the
    fixture views the query names at ``sf_dir`` (:func:`_point_views`),
    translates, executes Spark-side. Four constructs bare
    :func:`translate` refuses are handled here with the extra context
    they need: the simple-form ``ORDER BY ... WITH FILL`` tail
    (schema-aware — see :func:`_apply_with_fill`), ``FROM t FINAL`` when
    the table's ClickHouse DDL is passed via ``ddls`` (engine-aware —
    see :func:`_apply_final`), and ``ASOF`` / ``ANY`` joins
    (schema-aware — see :func:`_apply_asof_join` /
    :func:`_apply_any_join`)."""
    _point_views(spark, sf_dir, sql, ddls)
    sql = _context_rewrites(spark, sql, ddls)
    if re.search(r"\bWITH\s+FILL\b", _mask_literals(sql), re.I):
        return _apply_with_fill(spark, sql)
    return spark.sql(translate(sql))


def ch_sql_text(
    spark: SparkSession,
    sf_dir: str,
    sql: str,
    ddls: list[str] | None = None,
) -> str:
    """The exact Spark SQL :func:`ch_sql` would execute — for review,
    EXPLAIN, or pasting into a notebook (the migration-audit companion:
    a reference user can diff every rewrite before trusting it).
    Points the same temp views (the context rewrites read their
    schemas). Refuses ``WITH FILL``, whose text is built from the schema
    of the query under the fill, so it exists only once that query runs
    as a DataFrame."""
    _point_views(spark, sf_dir, sql, ddls)
    sql = _context_rewrites(spark, sql, ddls)
    if re.search(r"\bWITH\s+FILL\b", _mask_literals(sql), re.I):
        raise UnsupportedClickHouseSQL(
            "WITH FILL is lowered from the schema of the query under the "
            "fill (key type, column defaults), known only once it runs as "
            "a DataFrame — run it via ch_sql and inspect that DataFrame's "
            "plan instead"
        )
    return translate(sql)


# a genuinely ClickHouse-flavored monthly rollup: PREWHERE, countIf,
# minIf/maxIf, uniqExact, toStartOfMonth, toUInt32, FORMAT tail.
# (min/max If-combinators rather than sumIf so the doubles stay exact
# and order-free on both engines — a float sumIf would need the decimal
# trick and the translator stays semantics-faithful.)
_CH_QUERY = """
    SELECT toStartOfMonth(o_orderdate) AS month,
           countIf(o_totalprice > 150000) AS n_big,
           uniqExact(o_custkey) AS n_custs,
           minIf(o_totalprice, o_orderstatus = 'F') AS min_f,
           maxIf(o_totalprice, o_orderstatus = 'O') AS max_o,
           toUInt32(count()) AS n_rows
    FROM orders
    PREWHERE o_orderkey % 2 = 0
    GROUP BY month
    ORDER BY month
    FORMAT TabSeparated
"""

_CH_ORACLE = """
    SELECT CAST(date_trunc('month', o_orderdate) AS DATE) AS month,
           COUNT(*) FILTER (WHERE o_totalprice > 150000) AS n_big,
           COUNT(DISTINCT o_custkey) AS n_custs,
           MIN(o_totalprice) FILTER (WHERE o_orderstatus = 'F') AS min_f,
           MAX(o_totalprice) FILTER (WHERE o_orderstatus = 'O') AS max_o,
           COUNT(*) AS n_rows
    FROM orders
    WHERE o_orderkey % 2 = 0
    GROUP BY month
    ORDER BY month
"""


@query("ch_dialect_rollup", _CH_ORACLE)
def ch_dialect_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The dialect shim end-to-end: a ClickHouse-flavored monthly rollup
    (PREWHERE / countIf / sumIf / uniqExact / toStartOfMonth / toUInt32 /
    FORMAT tail) translated and executed as Spark SQL — the switch-over
    path for a reference user's existing query file.

    Scale: the translated query is ordinary Spark SQL, so Catalyst
    treats it like any native plan — pushdown, partial aggregation, AQE
    all apply; the modulo PREWHERE lands in the scan as a WHERE."""
    return ch_sql(spark, sf_dir, _CH_QUERY)


# a second verbatim-query shape exercising the round-6 rewrites:
# weekday/hour extraction (with the Monday=1 shift), literal-key
# JSONExtract, If-combinators over the derived parts
_CH_WEEKDAY_QUERY = """
    SELECT toDayOfWeek(ts) AS weekday,
           countIf(toHour(ts) < 12) AS n_am,
           countIf(toHour(ts) >= 12) AS n_pm,
           uniqExact(JSONExtractString(props, 'k')) AS n_k,
           toUInt32(count()) AS n_rows
    FROM events
    GROUP BY weekday
    ORDER BY weekday
"""

# DuckDB's isodow IS ClickHouse's toDayOfWeek numbering (Mon=1..Sun=7),
# so the oracle states the weekday independently of the Spark-side
# dayofweek shift — a genuine cross-derivation
_CH_WEEKDAY_ORACLE = """
    SELECT CAST(isodow(ts) AS INT) AS weekday,
           COUNT(*) FILTER (WHERE hour(ts) < 12) AS n_am,
           COUNT(*) FILTER (WHERE hour(ts) >= 12) AS n_pm,
           COUNT(DISTINCT json_extract_string(props, '$.k')) AS n_k,
           COUNT(*) AS n_rows
    FROM events
    GROUP BY weekday
    ORDER BY weekday
"""


@query("ch_dialect_weekday", _CH_WEEKDAY_ORACLE)
def ch_dialect_weekday(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dialect shim end-to-end over the round-6 rewrites: a ClickHouse
    weekday/daypart profile (toDayOfWeek / toHour / JSONExtractInt /
    countIf) translated and executed as Spark SQL, oracled against
    DuckDB's independent isodow derivation — which shares ClickHouse's
    Monday=1 numbering, so a wrong shift on the Spark side cannot
    cancel out."""
    df = ch_sql(spark, sf_dir, _CH_WEEKDAY_QUERY)
    # Spark's dayofweek arithmetic yields INT; pin the dtype for the
    # cross-engine schema compare
    return df.withColumn("weekday", F.col("weekday").cast("int"))


# a third verbatim-query shape exercising WITH TOTALS (the grouping-sets
# ALL row) plus array membership over a split string
_CH_TOTALS_QUERY = """
    SELECT o_orderpriority,
           toUInt32(count()) AS n_orders,
           countIf(has(splitByChar('-', o_orderpriority), 'HIGH')) AS n_high,
           max(indexOf(splitByChar('-', o_orderpriority), 'LOW')) AS low_pos
    FROM orders
    PREWHERE o_orderkey % 3 = 0
    GROUP BY o_orderpriority WITH TOTALS
    ORDER BY o_orderpriority NULLS LAST
"""

# DuckDB derives the same blocks via GROUPING SETS; list_position yields
# NULL where ClickHouse's indexOf (and Spark's array_position) yield 0
_CH_TOTALS_ORACLE = """
    SELECT o_orderpriority,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(COUNT(*) FILTER (
               WHERE list_contains(string_split(o_orderpriority, '-'), 'HIGH')
           ) AS BIGINT) AS n_high,
           CAST(MAX(COALESCE(
               list_position(string_split(o_orderpriority, '-'), 'LOW'), 0
           )) AS BIGINT) AS low_pos
    FROM orders
    WHERE o_orderkey % 3 = 0
    GROUP BY GROUPING SETS ((o_orderpriority), ())
    ORDER BY o_orderpriority NULLS LAST
"""


@query("ch_dialect_totals", _CH_TOTALS_ORACLE)
def ch_dialect_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dialect shim end-to-end over `GROUP BY ... WITH TOTALS` — the
    totals block becomes the standard grouping-sets ALL row (NULL group
    keys) — composed with array membership on a split string
    (has / indexOf / splitByChar) and the If-combinator family. The
    oracle derives the same result via DuckDB GROUPING SETS and
    list_contains/list_position, with the NULL-vs-0 not-found
    divergence (ClickHouse indexOf = Spark array_position = 0;
    DuckDB = NULL) normalized oracle-side.

    Scale: GROUPING SETS expands to one Expand node over a single scan
    — the totals row costs one extra map-side aggregation stream, never
    a second pass."""
    return ch_sql(spark, sf_dir, _CH_TOTALS_QUERY)


# a fourth verbatim-query shape: the ARRAY JOIN clause (flatten) over a
# computed array, with an aggregate over the flattened rows
_CH_ARRAY_JOIN_QUERY = """
    SELECT tok,
           toUInt32(count()) AS n_occurrences,
           uniqExact(doc_id) AS n_docs
    FROM documents
    ARRAY JOIN splitByChar(' ', text) AS tok
    WHERE doc_id % 10 = 0 AND lengthUTF8(tok) >= 6
    GROUP BY tok
    ORDER BY n_occurrences DESC, tok
    LIMIT 15
"""

_CH_ARRAY_JOIN_ORACLE = """
    SELECT tok,
           CAST(COUNT(*) AS BIGINT) AS n_occurrences,
           CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs
    FROM (
      SELECT doc_id, unnest(string_split(text, ' ')) AS tok
      FROM documents WHERE doc_id % 10 = 0
    )
    WHERE length(tok) >= 6
    GROUP BY tok
    ORDER BY n_occurrences DESC, tok
    LIMIT 15
"""


@query("ch_dialect_array_join", _CH_ARRAY_JOIN_ORACLE)
def ch_dialect_array_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dialect shim end-to-end over the ARRAY JOIN CLAUSE (ClickHouse's
    signature flatten — distinct from the arrayJoin() function): the
    expression form translates to LATERAL VIEW explode, LEFT ARRAY JOIN
    to the OUTER variant, and the multi-array zip form translates to
    ONE inline(zip_with(...)) (see ch_dialect_array_join_zip
    — never two cross-producting lateral views). The oracle flattens
    via DuckDB unnest — an independent derivation of the same rows.

    Scale: explode is a codegen Generate over the scan — the flatten
    never shuffles; only the token rollup does."""
    return ch_sql(spark, sf_dir, _CH_ARRAY_JOIN_QUERY)


# WITH TOTALS over EXPRESSION group keys:
# the paren-aware key-list split feeds the same GROUPING SETS lowering
_CH_TOTALS_EXPR_QUERY = """
    SELECT toYear(o_orderdate) AS yr,
           substring(o_orderpriority, 1, 1) AS pri,
           toUInt32(count()) AS n_orders,
           toUInt32(uniqExact(o_custkey)) AS n_custs
    FROM orders
    WHERE o_orderkey % 5 = 0
    GROUP BY toYear(o_orderdate), substring(o_orderpriority, 1, 1)
        WITH TOTALS
    ORDER BY yr NULLS LAST, pri NULLS LAST
"""

_CH_TOTALS_EXPR_ORACLE = """
    SELECT CAST(year(o_orderdate) AS BIGINT) AS yr,
           substring(o_orderpriority, 1, 1) AS pri,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(COUNT(DISTINCT o_custkey) AS BIGINT) AS n_custs
    FROM orders
    WHERE o_orderkey % 5 = 0
    GROUP BY GROUPING SETS
        ((year(o_orderdate), substring(o_orderpriority, 1, 1)), ())
    ORDER BY yr NULLS LAST, pri NULLS LAST
"""


@query("ch_dialect_totals_expr", _CH_TOTALS_EXPR_ORACLE)
def ch_dialect_totals_expr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dialect shim end-to-end over ``GROUP BY <expr>, <expr> WITH
    TOTALS`` — EXPRESSION group keys: the paren-aware top-level key-list split makes
    ``toYear(...)``/``substring(..., 1, 1)`` keys feed the same
    GROUPING SETS lowering as bare columns; the totals row appears as
    the all-NULL key pair. The oracle derives the blocks via DuckDB
    GROUPING SETS over the same expressions.

    Scale: identical to ch_dialect_totals — one Expand node over a
    single scan, totals as one extra map-side aggregation stream."""
    df = ch_sql(spark, sf_dir, _CH_TOTALS_EXPR_QUERY)
    # CH toYear returns UInt16; Spark year() INT — pin BIGINT to match
    # the oracle's hash exactly without widening in the SQL text
    return df.withColumn("yr", F.col("yr").cast("bigint"))


# multi-array ARRAY JOIN (positional zip):
# one zip_with struct + one inline keeps the arrays aligned; the
# n_distinct column is the alignment witness (a cross-product or a
# misaligned zip changes WHICH tokens land in each length group)
_CH_ARRAY_JOIN_ZIP_QUERY = """
    SELECT ln AS tok_len,
           toUInt32(count()) AS n_tokens,
           toUInt32(uniqExact(tok)) AS n_distinct
    FROM documents
    ARRAY JOIN splitByChar(' ', text) AS tok,
               arrayMap(t -> lengthUTF8(t), splitByChar(' ', text)) AS ln
    WHERE doc_id % 5 = 0
    GROUP BY ln
    ORDER BY ln
"""

_CH_ARRAY_JOIN_ZIP_ORACLE = """
    SELECT CAST(length(tok) AS BIGINT) AS tok_len,
           CAST(COUNT(*) AS BIGINT) AS n_tokens,
           CAST(COUNT(DISTINCT tok) AS BIGINT) AS n_distinct
    FROM (
      SELECT unnest(string_split(text, ' ')) AS tok
      FROM documents WHERE doc_id % 5 = 0
    )
    GROUP BY 1
    ORDER BY 1
"""


@query("ch_dialect_array_join_zip", _CH_ARRAY_JOIN_ZIP_ORACLE)
def ch_dialect_array_join_zip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dialect shim end-to-end over the MULTI-array ``ARRAY JOIN e1 AS
    a1, e2 AS a2`` clause (ClickHouse's positional zip): lowered to ONE
    ``LATERAL VIEW inline(zip_with(...))`` whose struct fields carry the
    user aliases, so tokens stay aligned with
    their per-position lengths. The oracle re-derives the pairing
    independently (length computed ON the flattened token), so a
    cross-product or misaligned zip cannot hash-match.

    Scale: same Generate-over-scan shape as the single-array form —
    zero Python, zero shuffle before the rollup."""
    df = ch_sql(spark, sf_dir, _CH_ARRAY_JOIN_ZIP_QUERY)
    return df.withColumn("tok_len", F.col("tok_len").cast("bigint"))


# ---------------------------------------------------------------------------
# DDL translation: the reference's whole job is string surgery over
# ClickHouse CREATE TABLE statements (sharding_recreation.py:49-107
# versions table names inside raw DDL, :71-76 injects IF NOT EXISTS).
# This shim does the Spark-native equivalent for a user's MergeTree DDL.
# ---------------------------------------------------------------------------

_CH_TYPE_MAP: list[tuple[re.Pattern[str], str]] = [
    (re.compile(r"\bLowCardinality\s*\(\s*([^()]+)\s*\)", re.I), r"\1"),
    (re.compile(r"\bNullable\s*\(\s*([^()]+)\s*\)", re.I), r"\1"),
    (re.compile(r"\bUInt(8|16)\b"), "INT"),
    (re.compile(r"\bUInt(32|64)\b"), "BIGINT"),
    (re.compile(r"\bInt(8|16|32)\b"), "INT"),
    (re.compile(r"\bInt64\b"), "BIGINT"),
    (re.compile(r"\bFloat32\b"), "FLOAT"),
    (re.compile(r"\bFloat64\b"), "DOUBLE"),
    (re.compile(r"\bFixedString\s*\(\s*\d+\s*\)", re.I), "STRING"),
    (re.compile(r"\bString\b"), "STRING"),
    (re.compile(r"\bDateTime64?\s*(\(\s*\d+\s*\))?", re.I), "TIMESTAMP"),
    (re.compile(r"\bDate\b"), "DATE"),
    # Array(T) after element translation
    (re.compile(r"\bArray\s*\(\s*([^()]+)\s*\)", re.I), r"ARRAY<\1>"),
]

_DDL_REFUSALS: list[tuple[re.Pattern[str], str]] = [
    (
        re.compile(r"\bCREATE\s+MATERIALIZED\s+VIEW\b", re.I),
        "use streaming/stream_ops.stream_mv_maintain (B5)",
    ),
    (re.compile(r"\bTTL\b", re.I), "use ttl_expiry (table-TTL analog)"),
    # SAMPLE BY declares a sampling key baked into the MergeTree sort
    # key; Spark tables have no equivalent — sample at query time
    (
        re.compile(r"\bSAMPLE\s+BY\b", re.I),
        "no Spark table-level sampling key; use sample_fraction (C33) "
        "at query time",
    ),
    (
        re.compile(r"\bPARTITION\s+BY\s+\w+\s*\(", re.I),
        "expression partitioning: derive the column first "
        "(sources.sink_partitioned_parquet shows the shape)",
    ),
]


# LIMIT BY end-to-end: each order's 2 cheapest line items — the exact
# query shape ClickHouse users reach for LIMIT BY for (top-n per key
# without window syntax)
_CH_LIMIT_BY_QUERY = """
    SELECT l_orderkey, l_linenumber, l_extendedprice
    FROM lineitem
    ORDER BY l_extendedprice, l_orderkey, l_linenumber
    LIMIT 2 BY l_orderkey
"""

_CH_LIMIT_BY_ORACLE = """
    SELECT l_orderkey, l_linenumber, l_extendedprice FROM (
      SELECT l_orderkey, l_linenumber, l_extendedprice,
             ROW_NUMBER() OVER (PARTITION BY l_orderkey
                ORDER BY l_extendedprice, l_orderkey, l_linenumber) AS rn
      FROM lineitem) t
    WHERE rn <= 2
    ORDER BY l_extendedprice, l_orderkey, l_linenumber
"""


@query("ch_dialect_limit_by", _CH_LIMIT_BY_ORACLE)
def ch_dialect_limit_by(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dialect shim end-to-end for `LIMIT n BY` (previously a refusal,
    now translated): each order's two cheapest line items, chosen and
    returned in the query's ORDER BY order — ClickHouse's top-n-per-key
    idiom executed as a Spark ROW_NUMBER window.

    Scale: the rewrite is the same plan `top_k_per_group` (C20) builds
    natively — one hash exchange on the BY-key for the window, rank
    filter before the presentation sort."""
    return ch_sql(spark, sf_dir, _CH_LIMIT_BY_QUERY)


def translate_ddl(ch_ddl: str) -> str:
    """Translate a ClickHouse MergeTree CREATE TABLE to Spark SQL DDL.

    Handles: IF NOT EXISTS, ON CLUSTER (stripped — the Spark catalog is
    cluster-global, SURVEY A4), the scalar/array type system,
    ENGINE = *MergeTree(...) -> USING parquet, bare-column PARTITION BY,
    and ORDER BY (the MergeTree sort key), which Spark tables do not
    declare — it is preserved as a trailing comment so a writer can apply
    sortWithinPartitions / zorder_clustering at load time.

    Refuses (with the native replacement): MATERIALIZED VIEW DDL, TTL
    clauses, expression partitioning.

    Caveat for INSERTs that follow: Spark relocates partition columns to
    the END of the table schema, so positional ClickHouse INSERTs against
    the declared column order can bind wrong — use by-name inserts
    (``INSERT INTO t (cols…) SELECT``), which both dialects support.
    """
    lex = _ddl_lex(ch_ddl)
    for pat, hint in _DDL_REFUSALS:
        if m := pat.search(lex.masked):
            raise UnsupportedClickHouseSQL(
                f"{lex.text[m.start() : m.end()]!r} has no one-line Spark DDL "
                f"equivalent — {hint}"
            )
    s = re.sub(r"\s+ON\s+CLUSTER\s+'?\{?\w+\}?'?", "", lex.text, flags=re.I)
    # types and clauses are code: a literal (a DEFAULT) keeps its text
    parts = _literal_split(_bracket_scan(s))
    for pat, repl in _CH_TYPE_MAP:
        parts[::2] = [pat.sub(repl, p) for p in parts[::2]]
    s = "".join(parts)

    def cut(pattern: str, repl: str = "") -> str | None:
        # splice repl over the clause found outside the literals and
        # return its group as written; None when there is no such clause
        nonlocal s
        if m := re.search(pattern, _mask_literals(s), re.I):
            group = s[m.start(1) : m.end(1)]
            s = s[: m.start()] + repl + s[m.end() :]
            return group
        return None

    # ORDER BY (sort key) -> comment; PARTITION BY col -> PARTITIONED BY
    sort_key = cut(r"\bORDER\s+BY\s+(\([^)]*\)|[\w.]+)")
    part = cut(r"\bPARTITION\s+BY\s+(\w+)")
    if cut(r"\bENGINE\s*=\s*\w*MergeTree(?:\s*(\([^)]*\)))?", "USING parquet") is None:
        raise UnsupportedClickHouseSQL(
            "only *MergeTree engines translate (Distributed tables are "
            "Spark-meaningless: every table is cluster-global, SURVEY A4)"
        )
    cut(r"\bSETTINGS\s+(.*)$")
    if part:
        s += f" PARTITIONED BY ({part})"
    s = _ddl_lex(s).text
    if sort_key:
        s += f" /* MergeTree sort key: {sort_key.strip('()')} — apply at write time */"
    return s


_CH_DDL = """
    CREATE TABLE IF NOT EXISTS cdr_ddl_demo ON CLUSTER '{cluster}' (
        o_orderkey UInt64,
        o_orderstatus LowCardinality(String),
        o_totalprice Float64,
        flag Nullable(UInt8)
    ) ENGINE = MergeTree()
    PARTITION BY o_orderstatus
    ORDER BY (o_orderkey)
    SETTINGS index_granularity = 8192
"""

# the INSERT names its columns: Spark relocates partition columns to the
# schema tail, so a positional ClickHouse INSERT would bind wrong —
# by-name inserts are order-proof in both dialects (translate_ddl's
# docstring carries the caveat)
_CH_INSERT = """
    INSERT INTO cdr_ddl_demo (o_orderkey, o_orderstatus, o_totalprice, flag)
    SELECT o_orderkey, o_orderstatus, o_totalprice,
           toUInt32(o_orderkey % 2)
    FROM orders PREWHERE o_orderkey % 31 = 0
"""

_CH_READBACK = """
    SELECT o_orderstatus,
           toUInt32(count()) AS n_rows,
           uniqExact(o_orderkey) AS n_keys,
           sumIf(flag, o_totalprice > 100000) AS n_flagged_big
    FROM cdr_ddl_demo
    GROUP BY o_orderstatus ORDER BY o_orderstatus
"""


@query(
    "ch_ddl_roundtrip",
    """
    SELECT o_orderstatus,
           COUNT(*) AS n_rows,
           COUNT(DISTINCT o_orderkey) AS n_keys,
           CAST(SUM(o_orderkey % 2) FILTER (WHERE o_totalprice > 100000)
                AS BIGINT) AS n_flagged_big
    FROM orders WHERE o_orderkey % 31 = 0
    GROUP BY o_orderstatus ORDER BY o_orderstatus
    """,
)
def ch_ddl_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's DDL pipeline end-to-end in the shim: a verbatim
    ClickHouse MergeTree CREATE (ON CLUSTER, LowCardinality/Nullable
    types, PARTITION BY, sort key, SETTINGS) is translated and executed,
    a ClickHouse INSERT-SELECT (the reference's one real query shape,
    `sharding_recreation.py:145-161`) populates it through
    ``translate``, and a combinator-laden readback must match the oracle
    computed straight from the source table.

    Scale: the created table is partitioned as declared; the INSERT is
    an ordinary pushed-filter scan + partitioned write."""
    point_views(spark, sf_dir, _CH_INSERT)
    spark.sql("DROP TABLE IF EXISTS cdr_ddl_demo")
    # a crashed prior run can leave files at the managed location, which
    # CREATE IF NOT EXISTS would silently adopt (the pipeline.py lesson)
    import shutil
    from urllib.parse import urlparse

    wh = urlparse(spark.conf.get("spark.sql.warehouse.dir", "spark-warehouse")).path
    shutil.rmtree(os.path.join(wh, "cdr_ddl_demo"), ignore_errors=True)
    spark.sql(translate_ddl(_CH_DDL))
    spark.sql(translate(_CH_INSERT))
    return spark.sql(translate(_CH_READBACK))


# a third verbatim-query shape exercising the round-7 rewrites:
# multiIf (balanced CASE translation, incl. one nested call), argMax /
# argMin (unique ordering key so the pick is deterministic on both
# engines), arraySort(groupUniqArray(...)) for an order-free array
_CH_ARGMAX_QUERY = """
    SELECT multiIf(o_totalprice > 250000, 'big',
                   o_totalprice > 100000, multiIf(o_orderkey % 2 = 0, 'mid-even', 'mid-odd'),
                   'small') AS bucket,
           argMax(o_custkey, o_orderkey) AS last_cust,
           argMin(o_custkey, o_orderkey) AS first_cust,
           arraySort(groupUniqArray(o_orderstatus)) AS statuses,
           toUInt32(count()) AS n_rows
    FROM orders
    PREWHERE o_orderkey % 7 = 0
    GROUP BY bucket
    ORDER BY bucket
"""

_CH_ARGMAX_ORACLE = """
    SELECT CASE WHEN o_totalprice > 250000 THEN 'big'
                WHEN o_totalprice > 100000 THEN
                  CASE WHEN o_orderkey % 2 = 0 THEN 'mid-even' ELSE 'mid-odd' END
                ELSE 'small' END AS bucket,
           arg_max(o_custkey, o_orderkey) AS last_cust,
           arg_min(o_custkey, o_orderkey) AS first_cust,
           array_to_string(
             list_sort(list_distinct(list(o_orderstatus))), ',') AS statuses,
           COUNT(*) AS n_rows
    FROM orders
    WHERE o_orderkey % 7 = 0
    GROUP BY bucket
    ORDER BY bucket
"""


@query("ch_dialect_argmax", _CH_ARGMAX_ORACLE)
def ch_dialect_argmax(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dialect shim end-to-end over the round-7 rewrites: a ClickHouse
    profile using multiIf (including a NESTED multiIf — the
    balanced-paren CASE translation), argMax/argMin over the unique
    order key (deterministic pick on both engines), and
    arraySort(groupUniqArray(...)) so the collected array is
    order-free; oracled against DuckDB's native CASE / arg_max /
    list_distinct spellings.

    Scale: translated output is ordinary Spark SQL — one grouped
    exchange; max_by/min_by are single-pass partial-aggregable, and the
    PREWHERE modulo lands in the scan as a pushed filter.

    Driver surface: the sorted-uniq array is serialized to a CSV string
    on both engines — pandas (the driver's canonicalizer) cannot sort
    LIST columns."""
    out = ch_sql(spark, sf_dir, _CH_ARGMAX_QUERY)
    return out.withColumn("statuses", F.array_join("statuses", ","))


# a fourth verbatim-query shape exercising the bracket rewrites: CH
# 1-based indexing on an identifier base (-> element_at) and an array
# literal probed with has(). DuckDB's list indexing is ALSO 1-based, so
# the oracle states the same element independently of the Spark-side
# element_at translation.
_CH_BRACKETS_QUERY = """
    SELECT tk[1] AS first_tok,
           has(['en', 'de'], lang) AS is_euro_lang,
           toUInt32(count()) AS n
    FROM (SELECT lang, splitByChar(' ', lower(text)) AS tk FROM documents)
    GROUP BY first_tok, is_euro_lang
    ORDER BY n DESC, first_tok, is_euro_lang
    LIMIT 10
"""

_CH_BRACKETS_ORACLE = """
    SELECT tk[1] AS first_tok,
           list_contains(['en', 'de'], lang) AS is_euro_lang,
           COUNT(*) AS n
    FROM (SELECT lang, string_split(lower(text), ' ') AS tk FROM documents)
    GROUP BY first_tok, is_euro_lang
    ORDER BY n DESC, first_tok, is_euro_lang
    LIMIT 10
"""


@query("ch_dialect_brackets", _CH_BRACKETS_ORACLE)
def ch_dialect_brackets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dialect shim end-to-end over the bracket rewrites: ClickHouse
    1-based indexing (``tk[1]`` — the silent-off-by-one trap if passed
    through to Spark's 0-based bracket) and an array literal under
    ``has()``, translated and executed as Spark SQL; oracled against
    DuckDB's native (also 1-based) list syntax.

    Scale: one grouped exchange; the first-token projection is
    row-local split work at scan speed."""
    return ch_sql(spark, sf_dir, _CH_BRACKETS_QUERY)


# a fifth verbatim-query shape exercising the round-7 scalar rewrites:
# formatDateTime %-token mapping, match -> RLIKE, position -> locate
# (argument swap), toYear. The oracle uses DuckDB's independent native
# spellings (strftime / regexp_matches / strpos).
_CH_DATETIME_QUERY = """
    SELECT formatDateTime(ts, '%Y-%m') AS ym,
           toYear(ts) AS yr,
           countIf(match(props, '"k"')) AS n_with_k,
           countIf(position(event_type, 'c') = 1) AS n_c_first,
           toUInt32(count()) AS n
    FROM events
    GROUP BY ym, yr
    ORDER BY ym
"""

_CH_DATETIME_ORACLE = """
    SELECT strftime(ts, '%Y-%m') AS ym,
           CAST(year(ts) AS INT) AS yr,
           COUNT(*) FILTER (WHERE regexp_matches(props, '"k"')) AS n_with_k,
           COUNT(*) FILTER (WHERE strpos(event_type, 'c') = 1) AS n_c_first,
           COUNT(*) AS n
    FROM events
    GROUP BY ym, yr
    ORDER BY ym
"""


@query("ch_dialect_datetime", _CH_DATETIME_ORACLE)
def ch_dialect_datetime(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dialect shim end-to-end over the round-7 scalar rewrites:
    formatDateTime (CH %-tokens -> Java pattern letters, literal runs
    quoted), match -> RLIKE, position -> locate with the argument swap,
    toYear — oracled against DuckDB's independent strftime /
    regexp_matches / strpos spellings.

    Scale: one grouped exchange; every rewritten function is row-local
    JVM expression work."""
    return ch_sql(spark, sf_dir, _CH_DATETIME_QUERY)


# ---- quantile/quantileExact, topK and simple WITH FILL ----
# (all three had exact in-repo semantics — approx_quantiles/median_exact,
# heavy_hitters, time_gap_fill — so the translator now rewrites them
# instead of refusing; these queries run the rewrites end-to-end.)

def _sql_exact_q(x: str, p: str) -> str:
    """DuckDB twin of the quantileExact rewrite: CH's nearest-rank
    element at 0-based floor(p*n) clamped to n-1."""
    return (
        f"list_extract(list_sort(list({x})), "
        f"least(CAST(floor({p} * COUNT({x})) AS INT) + 1, "
        f"CAST(COUNT({x}) AS INT)))"
    )


_CH_QUANTILE_QUERY = """
    SELECT l_returnflag,
           quantileExact(0.25)(l_quantity) AS q25_qty,
           medianExact(l_quantity) AS med_qty,
           quantileExact(0.9)(l_quantity) AS q90_qty,
           quantiles(0.25, 0.75)(l_quantity) AS iqr_qty,
           round(quantile(0.5)(l_extendedprice), 9) AS med_price,
           round(median(l_discount), 9) AS med_disc,
           toUInt32(count()) AS n
    FROM lineitem
    GROUP BY l_returnflag
    ORDER BY l_returnflag
"""

_CH_QUANTILE_ORACLE = f"""
    SELECT l_returnflag,
           {_sql_exact_q('l_quantity', '0.25')} AS q25_qty,
           {_sql_exact_q('l_quantity', '0.5')} AS med_qty,
           {_sql_exact_q('l_quantity', '0.9')} AS q90_qty,
           array_to_string(list_transform(
             quantile_cont(l_quantity, [0.25, 0.75]),
             x -> CAST(CAST(x AS DECIMAL(30,4)) AS VARCHAR)), ',') AS iqr_qty,
           ROUND(quantile_cont(l_extendedprice, 0.5), 9) AS med_price,
           ROUND(quantile_cont(l_discount, 0.5), 9) AS med_disc,
           COUNT(*) AS n
    FROM lineitem
    GROUP BY l_returnflag
    ORDER BY l_returnflag
"""


@query("ch_dialect_quantile", _CH_QUANTILE_ORACLE)
def ch_dialect_quantile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dialect shim end-to-end over the quantile-family rewrites (a
    migrating ClickHouse user hits ``quantile()`` constantly):
    quantileExact/medianExact (CH's exact nearest-rank formula,
    floor(p*n) 0-based, spelled over array_sort(collect_list)),
    quantile/median -> percentile (the deterministic refinement of CH's
    reservoir sketch — identical linear interpolation for groups within
    the 8192-row reservoir), and the plural quantiles() -> one
    percentile(x, array(...)) pass. Oracled against DuckDB's independent
    quantile_cont and the same nearest-rank spelling; interpolated
    doubles go through the ROUND(,9) absorber, exact order statistics
    and the dyadic-fraction l_quantity interpolations compare bit-exact.

    Scale: one grouped exchange; the exact forms carry each group's
    values (exactness' honest cost — approx_quantiles is the sketch
    path), percentile is a bounded-state JVM aggregate.

    Driver surface: the plural-quantiles array is serialized to a
    decimal(30,4)-element CSV string (mirrored by the oracle's
    array_to_string) — the external comparator canonicalizes through
    pandas, which cannot sort LIST columns.
    l_quantity order statistics interpolate at dyadic quarters, so the
    4-decimal fixed-point form is exact."""
    out = ch_sql(spark, sf_dir, _CH_QUANTILE_QUERY)
    return out.withColumn(
        "iqr_qty",
        F.array_join(
            F.transform(
                "iqr_qty",
                lambda x: x.cast("decimal(30,4)").cast("string"),
            ),
            ",",
        ),
    )


_CH_QUANTILE_WEIGHTED_QUERY = """
    SELECT l_returnflag,
           quantilesExactWeighted(0.25, 0.5, 0.9)(l_quantity, l_linenumber)
             AS wq,
           medianExactWeighted(l_quantity, l_linenumber) AS med_w,
           toUInt32(count()) AS n
    FROM lineitem
    GROUP BY l_returnflag
    ORDER BY l_returnflag
"""


def _sql_weighted_q(p: str) -> str:
    """DuckDB twin of the quantileExactWeighted rewrite: over the cum
    CTE's (per-group value-ordered cumulative weight cw, group total
    tw), the smallest value whose cw reaches floor(p * tw) clamped
    to >= 1. The threshold arithmetic is exact DECIMAL on both engines
    (p is a decimal literal, weights are integers)."""
    return (
        f"MIN(CASE WHEN cw >= GREATEST(CAST(FLOOR({p} * tw) AS BIGINT), 1) "
        f"THEN v END)"
    )


_CH_QUANTILE_WEIGHTED_ORACLE = f"""
    WITH cum AS (
      SELECT l_returnflag AS rf, l_quantity AS v,
             SUM(CAST(l_linenumber AS BIGINT)) OVER (
               PARTITION BY l_returnflag
               ORDER BY l_quantity, l_linenumber
               ROWS UNBOUNDED PRECEDING) AS cw,
             SUM(CAST(l_linenumber AS BIGINT)) OVER (
               PARTITION BY l_returnflag) AS tw
      FROM lineitem
    )
    SELECT rf AS l_returnflag,
           array_to_string(list_transform(
             [{_sql_weighted_q('0.25')}, {_sql_weighted_q('0.5')},
              {_sql_weighted_q('0.9')}],
             x -> CAST(CAST(x AS DECIMAL(30,4)) AS VARCHAR)), ',') AS wq,
           {_sql_weighted_q('0.5')} AS med_w,
           COUNT(*) AS n
    FROM cum GROUP BY rf ORDER BY rf
"""


@query("ch_dialect_quantile_weighted", _CH_QUANTILE_WEIGHTED_ORACLE)
def ch_dialect_quantile_weighted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dialect shim end-to-end over the quantileExactWeighted /
    medianExactWeighted rewrites (the first weighted member of the
    quantile-combinator zoo with exact semantics: CH sorts values,
    accumulates weights, and returns the first value
    whose cumulative weight reaches floor(p * total); see
    _exact_weighted_expr for the refinement notes). l_linenumber (1..7,
    positive integers) is the weight, so the threshold arithmetic is
    exact decimal on both engines. Oracled against DuckDB's independent
    windowed-cumulative-weight spelling. The plural column exercises the
    ONE-SORT/ONE-FOLD form (sorted pair list + total let-bound once, a
    single multi-slot crossing fold for all levels — measured 3.1 s ->
    2.5 s for the whole query at sf0.1 vs three singular columns; the
    residual cost is the deliberate singular median column, which
    exercises the single-level path externally and pays its own sort).

    Driver surface: the plural array is serialized to a decimal(30,4)
    CSV string on both engines (pandas cannot sort LIST columns; the
    quantity order statistics are exact dyadics, so fixed-point is
    lossless).

    Scale: one grouped exchange carrying (value, weight) structs —
    exactness' honest cost, same posture as quantileExact; the sketch
    path for 100 TB is approx_quantiles."""
    out = ch_sql(spark, sf_dir, _CH_QUANTILE_WEIGHTED_QUERY)
    return out.withColumn(
        "wq",
        F.array_join(
            F.transform(
                "wq", lambda x: x.cast("decimal(30,4)").cast("string")
            ),
            ",",
        ),
    )


_CH_RANK_RULES_QUERY = """
    SELECT l_returnflag,
           quantileExactLow(l_quantity) AS lo_med,
           quantileExactHigh(l_quantity) AS hi_med,
           quantileExactLow(0.3)(l_quantity) AS lo_30,
           round(quantileExactInclusive(0.25)(l_quantity), 9) AS inc_25,
           round(quantileExactExclusive(0.25)(l_quantity), 9) AS exc_25,
           round(quantileExactExclusive(0.8125)(l_quantity), 9) AS exc_8125,
           quantilesExactLow(0.25, 0.5)(l_quantity) AS lo_pair,
           toUInt32(count()) AS n
    FROM lineitem
    GROUP BY l_returnflag
    ORDER BY l_returnflag
"""


def _sql_exclusive_q(p: str) -> str:
    """DuckDB twin of the quantileExactExclusive rewrite (Excel
    PERCENTILE.EXC / R-6): h = p * (n + 1) in exact decimal, k =
    floor(h); k < 1 -> first, k >= n -> last, else linear interpolation
    between the k-th and (k+1)-th sorted elements (1-based). Reads the
    shared per-group (ls, n) CTE columns."""
    k = f"CAST(FLOOR({p} * (n + 1)) AS INT)"
    frac = f"CAST({p} * (n + 1) - FLOOR({p} * (n + 1)) AS DOUBLE)"
    return (
        f"CASE WHEN {k} < 1 THEN list_extract(ls, 1) "
        f"WHEN {k} >= n THEN list_extract(ls, CAST(n AS INT)) "
        f"ELSE list_extract(ls, {k}) + {frac} * "
        f"(list_extract(ls, {k} + 1) - list_extract(ls, {k})) END"
    )


def _sql_rank_exact(p: str) -> str:
    # quantileExact / ExactHigh rank over the shared sorted-list CTE:
    # 0-based floor(p*n) clamped, as a 1-based list_extract index
    return (
        f"list_extract(ls, LEAST(CAST(FLOOR({p} * n) AS INT) + 1, "
        f"CAST(n AS INT)))"
    )


# lower median over the shared CTE: 1-based (n+1)//2 = ceil(n/2)
_SQL_RANK_LOW_MED = (
    "list_extract(ls, GREATEST(CAST((n + 1) // 2 AS INT), 1))"
)

_CH_RANK_RULES_ORACLE = f"""
    WITH g AS (
      SELECT l_returnflag,
             list_sort(list(l_quantity)) AS ls,
             COUNT(l_quantity) AS n,
             quantile_cont(l_quantity, 0.25) AS q25c
      FROM lineitem
      GROUP BY l_returnflag
    )
    SELECT l_returnflag,
           {_SQL_RANK_LOW_MED} AS lo_med,
           {_sql_rank_exact('0.5')} AS hi_med,
           {_sql_rank_exact('0.3')} AS lo_30,
           ROUND(q25c, 9) AS inc_25,
           ROUND({_sql_exclusive_q('0.25')}, 9) AS exc_25,
           ROUND({_sql_exclusive_q('0.8125')}, 9) AS exc_8125,
           array_to_string(list_transform(
             [{_sql_rank_exact('0.25')}, {_SQL_RANK_LOW_MED}],
             x -> CAST(CAST(x AS DECIMAL(30,4)) AS VARCHAR)), ',')
             AS lo_pair,
           n AS n
    FROM g
    ORDER BY l_returnflag
"""


@query("ch_dialect_quantile_rank_rules", _CH_RANK_RULES_ORACLE)
def ch_dialect_quantile_rank_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dialect shim end-to-end over the four exact rank-rule rewrites
    (the last exact-semantics members of the quantile refusal table; the
    sketch combinators TDigest/BFloat16/Timing/Deterministic stay
    refused forever): quantileExactLow (lower median
    at level 0.5, quantileExact's floor(p*n) otherwise),
    quantileExactHigh (coincides with quantileExact at every level —
    asserted by the rewrite test), quantileExactInclusive (Excel
    PERCENTILE.INC = Spark percentile's own formula, exact),
    quantileExactExclusive (Excel PERCENTILE.EXC: h = p*(n+1) with
    first/last boundary arms), and the plural quantilesExactLow sharing
    ONE sort. All formulas from QuantileExact.h (public ClickHouse
    source); see _exact_rank_rule_expr / _exclusive_expr for the
    refinement notes (exact-decimal h vs CH's Float64 — MIGRATION.md).

    Oracled against DuckDB over a shared sorted-list CTE (quantile_cont
    is the independent Inclusive spelling). l_quantity is
    integer-valued and the exclusive levels are dyadic (1/4, 13/16), so
    every interpolation is exact in double; the ROUND(,9) absorber
    guards the convention anyway. The plural array serializes to a
    decimal(30,4) CSV string on both engines (driver-safe dtype rule).

    Scale: one grouped exchange carrying each group's values —
    exactness' honest cost, same posture as quantileExact; the sketch
    path for 100 TB is approx_quantiles / quantile_state_merge."""
    out = ch_sql(spark, sf_dir, _CH_RANK_RULES_QUERY)
    return out.withColumn(
        "lo_pair",
        F.array_join(
            F.transform(
                "lo_pair", lambda x: x.cast("decimal(30,4)").cast("string")
            ),
            ",",
        ),
    )


_CH_TOPK_QUERY = """
    SELECT l_linestatus,
           topK(2)(l_returnflag) AS top_flags,
           toUInt32(count()) AS n
    FROM lineitem
    GROUP BY l_linestatus
    ORDER BY l_linestatus
"""

_CH_TOPK_ORACLE = """
    WITH c AS (
      SELECT l_linestatus, l_returnflag, COUNT(*) AS cnt
      FROM lineitem GROUP BY 1, 2
    )
    SELECT l_linestatus,
           array_to_string(
             list_slice(list(l_returnflag ORDER BY cnt DESC, l_returnflag),
                        1, 2), ',') AS top_flags,
           CAST(SUM(cnt) AS BIGINT) AS n
    FROM c GROUP BY l_linestatus ORDER BY l_linestatus
"""


@query("ch_dialect_topk", _CH_TOPK_ORACLE)
def ch_dialect_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dialect shim end-to-end over the topK(N) rewrite:
    CH's approximate most-frequent-values aggregate becomes an exact
    frequency top-N (frequency-descending, value-ascending tie-break —
    the deterministic refinement of CH's unspecified tie order), built
    from one collect_list let-bound through a transform lambda. Oracled
    against DuckDB's independent two-level GROUP BY + ordered-list
    spelling.

    Scale: one grouped exchange; the collected group is scanned per
    distinct value (bounded here by the 3-value flag domain).
    heavy_hitters (Misra-Gries) is the bounded-memory 100 TB path.

    Driver surface: the top-N array is serialized to a CSV string on
    both engines — pandas (the driver's canonicalizer) cannot sort LIST
    columns."""
    out = ch_sql(spark, sf_dir, _CH_TOPK_QUERY)
    return out.withColumn("top_flags", F.array_join("top_flags", ","))


_NATION_DICT_DDL = """
    CREATE DICTIONARY nation_dict (
      n_nationkey UInt64,
      n_name String DEFAULT 'unknown'
    )
    PRIMARY KEY n_nationkey
    SOURCE(CLICKHOUSE(TABLE 'nation'))
    LAYOUT(HASHED())
    LIFETIME(MIN 0 MAX 300)
"""

_CH_DICT_GET_QUERY = """
    SELECT nation, shifted_default, shifted, has_shifted,
           toUInt32(count()) AS n
    FROM (
      SELECT dictGet('nation_dict', 'n_name', c_nationkey) AS nation,
             dictGet('nation_dict', 'n_name', c_nationkey + 20)
               AS shifted_default,
             dictGetOrDefault('nation_dict', 'n_name', c_nationkey + 20,
                              'n/a') AS shifted,
             dictHas('nation_dict', c_nationkey + 20) AS has_shifted
      FROM customer
    )
    GROUP BY nation, shifted_default, shifted, has_shifted
    ORDER BY nation, shifted_default, shifted, has_shifted
"""

_CH_DICT_GET_ORACLE = """
    WITH base AS (
      SELECT COALESCE(n1.n_name, 'unknown') AS nation,
             COALESCE(n2.n_name, 'unknown') AS shifted_default,
             COALESCE(n2.n_name, 'n/a') AS shifted,
             n2.n_nationkey IS NOT NULL AS has_shifted
      FROM customer c
      LEFT JOIN nation n1 ON n1.n_nationkey = c.c_nationkey
      LEFT JOIN nation n2 ON n2.n_nationkey = c.c_nationkey + 20
    )
    SELECT nation, shifted_default, shifted, has_shifted, COUNT(*) AS n
    FROM base GROUP BY 1, 2, 3, 4 ORDER BY 1, 2, 3, 4
"""


@query("ch_dialect_dict_get", _CH_DICT_GET_ORACLE)
def ch_dialect_dict_get(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dialect shim end-to-end over the DDL-resolved dictGet family
    (refusal-turned-contextual-translation, the ddls= precedent FINAL
    set): with the CREATE DICTIONARY passed via ddls=, dictGet /
    dictGetOrDefault / dictHas lower to correlated scalar-aggregate
    subqueries over the source table — Catalyst decorrelates them into
    left outer joins against the 25-row nation dim (broadcast by AQE),
    exactly the C6 posture the bare refusal used to point at. The
    shifted key (+20) exercises BOTH miss arms: the DDL's DEFAULT
    'unknown' and the explicit OrDefault 'n/a'; the hit arm returns the
    looked-up name. max(attr) totalizes duplicate source keys (CH's
    pick is load-order-unspecified — the greatest-value refinement,
    same rule as FINAL version ties). Oracled against DuckDB's
    independent LEFT JOIN + COALESCE spelling.

    Scale: each lookup is one broadcast-joined dim probe; the source is
    a registered view, so partition pruning and codegen apply as for
    any dimension join. Nothing per-row-Python, nothing nested-loop."""
    return ch_sql(
        spark, sf_dir, _CH_DICT_GET_QUERY, ddls=[_NATION_DICT_DDL]
    )


_CH_WEIGHTED_AGGS_QUERY = """
    SELECT l_returnflag,
           topKWeighted(2)(l_linestatus, l_linenumber) AS top_status,
           avgWeighted(l_quantity, l_linenumber) AS wavg_qty,
           toUInt32(count()) AS n
    FROM lineitem
    GROUP BY l_returnflag
    ORDER BY l_returnflag
"""

# independent DuckDB spellings: two-level GROUP BY + weight-ordered
# list for the top-K, FILTERed SUMs for the weighted average. Both
# engines' weighted averages divide EXACT integer-valued doubles
# (l_quantity <= 50 times l_linenumber <= 7 summed over the fixture is
# far below 2^53), so the quotient is bit-identical — no absorber.
_CH_WEIGHTED_AGGS_ORACLE = """
    WITH c AS (
      SELECT l_returnflag AS rf, l_linestatus AS v,
             SUM(CAST(l_linenumber AS BIGINT)) AS wsum
      FROM lineitem GROUP BY 1, 2
    ),
    t AS (
      SELECT rf,
             array_to_string(list_slice(list(v ORDER BY wsum DESC, v),
                                        1, 2), ',') AS top_status
      FROM c GROUP BY rf
    )
    SELECT l.l_returnflag,
           t.top_status,
           SUM(CAST(l.l_quantity AS DOUBLE) * CAST(l.l_linenumber AS DOUBLE))
             / SUM(CAST(l.l_linenumber AS DOUBLE)) AS wavg_qty,
           COUNT(*) AS n
    FROM lineitem l JOIN t ON l.l_returnflag = t.rf
    GROUP BY 1, 2 ORDER BY 1
"""


@query("ch_dialect_weighted_aggs", _CH_WEIGHTED_AGGS_ORACLE)
def ch_dialect_weighted_aggs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dialect shim end-to-end over the weighted-aggregate rewrites:
    topKWeighted(N)(x, w) (exact per-value weight sums, weight-desc /
    value-asc — the deterministic refinement of CH's weighted counting
    sketch; see _topk_weighted_expr) and avgWeighted(x, w) (Float64
    sum(x*w)/sum(w) with the explicit zero-total-weight NaN arm; see
    _avg_weighted_expr). Oracled against DuckDB's independent two-level
    GROUP BY + FILTERed-sum spellings. The weighted average here divides
    exact integer-valued doubles, so the quotient is bit-identical
    without an absorber.

    Driver surface: the top-K array is serialized to a CSV string on
    both engines (pandas cannot sort LIST columns).

    Scale: one grouped exchange; the topK scan of the collected group is
    bounded by the 3-value status domain — heavy_hitters_weighted is the
    bounded-memory 100 TB path, as its refusal pointer used to say."""
    out = ch_sql(spark, sf_dir, _CH_WEIGHTED_AGGS_QUERY)
    return out.withColumn("top_status", F.array_join("top_status", ","))


_CH_WITH_FILL_QUERY = """
    SELECT toUInt64(o_totalprice / 20000) AS bucket,
           toUInt64(count()) AS n,
           uniqExact(o_custkey) AS n_cust
    FROM orders
    WHERE o_orderdate < toDate('1995-06-01')
    GROUP BY bucket
    ORDER BY bucket WITH FILL FROM 0 TO 30
"""

# FULL OUTER against the spine so a data bucket outside [0, 40) would
# be kept (CH keeps original rows the fill range doesn't reach)
_CH_WITH_FILL_ORACLE = """
    WITH agg AS (
      SELECT CAST(floor(o_totalprice / 20000) AS BIGINT) AS bucket,
             COUNT(*) AS n, COUNT(DISTINCT o_custkey) AS n_cust
      FROM orders
      WHERE o_orderdate < DATE '1995-06-01'
      GROUP BY 1
    ), spine AS (
      SELECT unnest(generate_series(0, 29)) AS bucket
    )
    SELECT COALESCE(s.bucket, a.bucket) AS bucket,
           COALESCE(a.n, 0) AS n,
           COALESCE(a.n_cust, 0) AS n_cust
    FROM spine s FULL OUTER JOIN agg a ON s.bucket = a.bucket
    ORDER BY 1
"""


@query("ch_dialect_with_fill", _CH_WITH_FILL_ORACLE)
def ch_dialect_with_fill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dialect shim end-to-end over the schema-aware WITH FILL tail:
    a sparse price-bucket histogram densified to the
    [0, 30) spine, filled rows carrying each column's CH TYPE DEFAULT
    (0 for the counts) — the piece bare textual translation cannot know
    and the built DataFrame's schema does. Restart-at-each-value STEP
    semantics are unit-tested separately (step > 1 is where a global
    min..max spine diverges from CH). Oracled against DuckDB's
    independent generate_series spine FULL OUTER join.

    Scale: one pass over the aggregate — one unpartitioned window hands
    each bucket its neighbours and one explode emits the bucket plus the
    fills after it, so the query under the fill runs once. The window
    carries the whole (narrow) output row into one partition: the same
    single-stream shape as ClickHouse's own FillingTransform over the
    initiator's merged sorted stream. It is built as one Spark SQL text
    over the translated aggregate (the aggregate analyzed once for its
    schema, then the text once), with no Spark job."""
    return ch_sql(spark, sf_dir, _CH_WITH_FILL_QUERY)


# the GROUPED (multi-key) form: leading bare sort keys partition
# the fill — ClickHouse's FillingTransform restarts whenever a non-fill
# sort column changes. The filter keys on length(o_orderpriority) % 3,
# which splits the five priorities into TWO classes with different year
# sets (lengths 8/6/8/15/5 → {URGENT, MEDIUM, LOW} keep 1992-1998 with
# interior gaps, {HIGH, NOT SPECIFIED} keep 1993-1997) — two genuinely
# different per-group spines, so a global-spine mistranslation cannot
# hash-match the per-group oracle.
_CH_WITH_FILL_GROUPED_QUERY = """
    SELECT o_orderpriority AS pri,
           toYear(o_orderdate) AS yr,
           toUInt32(count()) AS n
    FROM orders
    WHERE (toYear(o_orderdate) + length(o_orderpriority)) % 3 > 0
    GROUP BY pri, yr
    ORDER BY pri, yr WITH FILL
"""

_CH_WITH_FILL_GROUPED_ORACLE = """
    WITH base AS (
      SELECT o_orderpriority AS pri,
             CAST(year(o_orderdate) AS BIGINT) AS yr,
             COUNT(*) AS n
      FROM orders
      WHERE (year(o_orderdate) + length(o_orderpriority)) % 3 > 0
      GROUP BY 1, 2
    ), spine AS (
      SELECT pri, unnest(generate_series(mn, mx)) AS yr
      FROM (SELECT pri, MIN(yr) AS mn, MAX(yr) AS mx FROM base GROUP BY pri)
    )
    SELECT s.pri, s.yr, CAST(COALESCE(b.n, 0) AS BIGINT) AS n
    FROM spine s LEFT JOIN base b ON s.pri = b.pri AND s.yr = b.yr
    ORDER BY 1, 2
"""


@query("ch_dialect_with_fill_multi", _CH_WITH_FILL_GROUPED_ORACLE)
def ch_dialect_with_fill_multi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dialect shim end-to-end over the GROUPED `ORDER BY g, k WITH
    FILL` form (bare leading keys): per-priority order-count-by-year series with
    per-group gaps densified independently — each priority's fill spine
    runs its OWN min..max (the filter yields two distinct spine classes
    across the five priorities), filled rows
    carry the group value and type-default counts. FROM/TO bounds in
    the grouped form still refuse (CH re-applies them per group — the
    row multiplication is easy to mis-read; time_gap_fill is the native
    per-group bound spine). Oracled against DuckDB's independent
    per-group generate_series spine LEFT JOIN.

    Scale: the gap window partitions by the leading keys — per-series
    state only, embarrassingly parallel across groups (BETTER than
    ClickHouse, whose FillingTransform is a single merged stream)."""
    df = ch_sql(spark, sf_dir, _CH_WITH_FILL_GROUPED_QUERY)
    return df.withColumn("yr", F.col("yr").cast("bigint"))


_CH_FILL_INTERP_QUERY = """
    SELECT toUInt64(o_totalprice / 25000) AS bucket,
           toUInt64(count()) AS n,
           max(o_totalprice) AS max_price
    FROM orders
    WHERE o_orderdate < toDate('1995-04-01')
    GROUP BY bucket
    ORDER BY bucket WITH FILL FROM 0 TO 20 INTERPOLATE (max_price)
"""

_CH_FILL_INTERP_ORACLE = """
    WITH agg AS (
      SELECT CAST(floor(o_totalprice / 25000) AS BIGINT) AS bucket,
             COUNT(*) AS n, MAX(o_totalprice) AS max_price
      FROM orders
      WHERE o_orderdate < DATE '1995-04-01'
      GROUP BY 1
    ), spine AS (
      SELECT unnest(generate_series(0, 19)) AS bucket
    ), j AS (
      SELECT COALESCE(s.bucket, a.bucket) AS bucket, a.n, a.max_price
      FROM spine s FULL OUTER JOIN agg a ON s.bucket = a.bucket
    )
    SELECT bucket, COALESCE(n, 0) AS n,
           COALESCE(last_value(max_price IGNORE NULLS)
                      OVER (ORDER BY bucket
                            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
                    0.0) AS max_price
    FROM j ORDER BY bucket
"""


@query("ch_dialect_fill_interpolate", _CH_FILL_INTERP_ORACLE)
def ch_dialect_fill_interpolate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WITH FILL ... INTERPOLATE (bare-column list): filled rows carry
    the previous original row's value forward — ClickHouse's documented
    no-expression INTERPOLATE default — while non-listed columns take
    type defaults and leading fills (no predecessor) fall back to the
    type default too. AS-expression forms (evaluated over the previous
    row) stay refusals with a pointer at time_gap_fill_interpolate.
    Oracled against DuckDB's independent spine-join +
    last_value IGNORE NULLS spelling.

    Scale: same single pass as the plain fill — the carry needs no
    window of its own, because each gap fill is exploded from the
    original row it follows and takes that row's value."""
    return ch_sql(spark, sf_dir, _CH_FILL_INTERP_QUERY)


# ---- FROM t FINAL, end-to-end (DDL-aware collapse) ----
# the fixture: an upsert-shaped state table over events — (user_id,
# event_type) is the sort key, event_id the (unique, so tie-free)
# version; FINAL must read back only the latest state row per key
_CH_FINAL_DDL = """
    CREATE TABLE IF NOT EXISTS cdr_state ON CLUSTER '{cluster}' (
        user_id UInt64,
        event_type LowCardinality(String),
        ver UInt64,
        value Float64
    ) ENGINE = ReplacingMergeTree(ver)
    ORDER BY (user_id, event_type)
    SETTINGS index_granularity = 8192
"""

_CH_FINAL_QUERY = """
    SELECT event_type, n_state, n_users, max_ver,
           toFloat64(total_dec) AS total_value
    FROM (
        SELECT event_type,
               toUInt32(count()) AS n_state,
               uniqExact(user_id) AS n_users,
               max(ver) AS max_ver,
               sum(toDecimal64(value, 4)) AS total_dec
        FROM cdr_state FINAL
        GROUP BY event_type
    ) AS s
    ORDER BY event_type
"""

_CH_FINAL_ORACLE = """
    WITH latest AS (
      SELECT user_id, event_type, ver, value FROM (
        SELECT user_id, event_type, event_id AS ver, value,
               ROW_NUMBER() OVER (PARTITION BY user_id, event_type
                                  ORDER BY event_id DESC) AS rn
        FROM events) WHERE rn = 1)
    SELECT event_type,
           COUNT(*) AS n_state,
           COUNT(DISTINCT user_id) AS n_users,
           MAX(ver) AS max_ver,
           CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS total_value
    FROM latest GROUP BY event_type ORDER BY event_type
"""


_CDR_STATE_VIEW = (
    "CREATE OR REPLACE TEMP VIEW cdr_state AS "
    "SELECT user_id, event_type, event_id AS ver, value FROM events"
)


@query("ch_dialect_final", _CH_FINAL_ORACLE)
def ch_dialect_final(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``FROM t FINAL`` translated engine-aware: the table's verbatim
    ClickHouse DDL (ON CLUSTER / LowCardinality / SETTINGS noise intact)
    rides along via ``ch_sql(..., ddls=)`` — the same artifact the
    reference pipes between its phases (sharding_recreation.py:49-107) —
    and the ReplacingMergeTree(ver) collapse becomes a deterministic
    max-version-per-sort-key window before the user's aggregation runs.
    Oracled against DuckDB's independent ROW_NUMBER spelling over the
    raw events.

    Scale: the collapse is one hash-partitioned window on the sort key —
    the same single-shuffle shape as upsert_latest_wins; everything
    after it is ordinary pushed-down Spark SQL."""
    point_views(spark, sf_dir, _CDR_STATE_VIEW)
    spark.sql(_CDR_STATE_VIEW)
    return ch_sql(spark, sf_dir, _CH_FINAL_QUERY, ddls=[_CH_FINAL_DDL])


# the Summing arm: every non-key column numeric (Decimal so the sums
# are order-free exact), FINAL = group-sum with CH's all-zero row drop
_CH_SUMMING_DDL = """
    CREATE TABLE cdr_totals (
        l_suppkey UInt64,
        l_returnflag LowCardinality(String),
        qty Decimal(18, 2),
        revenue Decimal(18, 2)
    ) ENGINE = SummingMergeTree()
    ORDER BY (l_suppkey, l_returnflag)
"""

_CH_SUMMING_QUERY = """
    SELECT l_returnflag, n_keys,
           toFloat64(qty_dec) AS sum_qty,
           toFloat64(rev_dec) AS max_supplier_rev
    FROM (
        SELECT l_returnflag,
               toUInt32(count()) AS n_keys,
               sum(qty) AS qty_dec,
               max(revenue) AS rev_dec
        FROM cdr_totals FINAL
        GROUP BY l_returnflag
    ) AS s
    ORDER BY l_returnflag
"""

_CH_SUMMING_ORACLE = """
    WITH collapsed AS (
      SELECT l_suppkey, l_returnflag,
             SUM(CAST(l_quantity AS DECIMAL(18,2))) AS qty,
             SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS revenue
      FROM lineitem GROUP BY l_suppkey, l_returnflag
      HAVING NOT (SUM(CAST(l_quantity AS DECIMAL(18,2))) = 0
                  AND SUM(CAST(l_extendedprice AS DECIMAL(18,2))) = 0))
    SELECT l_returnflag,
           COUNT(*) AS n_keys,
           CAST(SUM(qty) AS DOUBLE) AS sum_qty,
           CAST(MAX(revenue) AS DOUBLE) AS max_supplier_rev
    FROM collapsed GROUP BY l_returnflag ORDER BY l_returnflag
"""


_CDR_TOTALS_VIEW = (
    "CREATE OR REPLACE TEMP VIEW cdr_totals AS "
    "SELECT l_suppkey, l_returnflag, "
    "CAST(l_quantity AS DECIMAL(18,2)) AS qty, "
    "CAST(l_extendedprice AS DECIMAL(18,2)) AS revenue FROM lineitem"
)


@query("ch_dialect_final_summing", _CH_SUMMING_ORACLE)
def ch_dialect_final_summing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``FROM t FINAL`` on a SummingMergeTree: the collapse becomes a
    group-sum over the sort key with ClickHouse's all-zero-row drop
    (rows whose every summed column totals zero are deleted at merge,
    so FINAL must not show them). Decimal value columns keep the sums
    order-free exact on both engines; the engine-family dispatch,
    non-summed-column refusal and Nullable refusal live in
    _final_subquery.

    Scale: the collapse is one partial-aggregated hash shuffle on the
    sort key — strictly cheaper than the Replacing window (no per-row
    rank), and AQE coalesces the post-collapse side."""
    point_views(spark, sf_dir, _CDR_TOTALS_VIEW)
    spark.sql(_CDR_TOTALS_VIEW)
    return ch_sql(spark, sf_dir, _CH_SUMMING_QUERY, ddls=[_CH_SUMMING_DDL])


# ---- ASOF LEFT JOIN end-to-end ----
# the canonical CH time-series shape: each click/view event joins the
# SAME user's latest purchase at-or-before its timestamp
_CH_ASOF_QUERY = """
    SELECT c.event_type AS click_type,
           toUInt32(count()) AS n_clicks,
           toUInt32(countIf(p.event_id IS NOT NULL)) AS n_matched,
           uniqExact(p.event_id) AS n_distinct_purchases
    FROM clicks c ASOF LEFT JOIN purchases p
      ON c.user_id = p.user_id AND c.ts >= p.ts
    GROUP BY click_type
    ORDER BY click_type
"""

_CH_ASOF_ORACLE = """
    WITH clicks AS (
      SELECT event_id, user_id, ts, event_type FROM events
      WHERE event_type IN ('click', 'view')
    ), purchases AS (
      SELECT user_id, ts, event_id, value FROM events
      WHERE event_type = 'purchase'
    ), best AS (
      SELECT c.event_id AS cid, c.event_type, p.event_id AS pid,
             ROW_NUMBER() OVER (
               PARTITION BY c.event_id
               ORDER BY p.ts DESC, p.user_id DESC, p.event_id DESC,
                        p.value DESC) AS rn
      FROM clicks c LEFT JOIN purchases p
        ON c.user_id = p.user_id AND p.ts <= c.ts)
    SELECT event_type AS click_type,
           COUNT(*) AS n_clicks,
           COUNT(pid) AS n_matched,
           COUNT(DISTINCT pid) AS n_distinct_purchases
    FROM best WHERE rn = 1
    GROUP BY click_type ORDER BY click_type
"""


_CLICK_PURCHASE_VIEWS = (
    "CREATE OR REPLACE TEMP VIEW clicks AS "
    "SELECT event_id, user_id, ts, event_type FROM events "
    "WHERE event_type IN ('click', 'view')",
    "CREATE OR REPLACE TEMP VIEW purchases AS "
    "SELECT user_id, ts, event_id, value FROM events "
    "WHERE event_type = 'purchase'",
)


def _click_purchase_views(spark: SparkSession, sf_dir: str) -> None:
    """The two event views the ASOF and ANY join demos read."""
    point_views(spark, sf_dir, *_CLICK_PURCHASE_VIEWS)
    for v in _CLICK_PURCHASE_VIEWS:
        spark.sql(v)


@query("ch_dialect_asof_join", _CH_ASOF_ORACLE)
def ch_dialect_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ClickHouse ``ASOF LEFT JOIN`` translated schema-aware: each
    click/view joins the same user's latest purchase at-or-before its
    timestamp, via the union + carry-forward-window rewrite
    (_apply_asof_join) whose tie order is totaled by the right-row
    struct (greatest remaining-column tuple wins). Oracled against
    DuckDB's independent join + ROW_NUMBER spelling over the raw
    events (the left side's unique event_id is the partition key, so
    no synthetic row id is needed; the DESC tiebreaks mirror the
    greatest-struct rule).

    Scale: ONE hash shuffle on the equality key feeds the carry
    window — the native asof_join plan shape; the lateral-top-1
    spelling was measured to decorrelate into a BroadcastNestedLoopJoin
    domain join (O(|left| x |right|)) and is deliberately not used."""
    _click_purchase_views(spark, sf_dir)
    return ch_sql(spark, sf_dir, _CH_ASOF_QUERY)


# ---- ANY LEFT JOIN end-to-end ----
# each click/view joins at most ONE purchase row of the same user —
# CH's ANY semantics with the pick made deterministic (greatest
# remaining-column struct per user)
_CH_ANY_QUERY = """
    SELECT c.event_type AS click_type,
           toUInt32(count()) AS n_clicks,
           toUInt32(countIf(p.event_id IS NOT NULL)) AS n_matched,
           uniqExact(p.event_id) AS n_distinct_purchases
    FROM clicks c ANY LEFT JOIN purchases p ON c.user_id = p.user_id
    GROUP BY click_type
    ORDER BY click_type
"""

_CH_ANY_ORACLE = """
    WITH clicks AS (
      SELECT event_id, user_id, ts, event_type FROM events
      WHERE event_type IN ('click', 'view')
    ), purchases AS (
      SELECT user_id, ts, event_id, value FROM events
      WHERE event_type = 'purchase'
    ), one AS (
      SELECT user_id, event_id FROM (
        SELECT user_id, event_id,
               ROW_NUMBER() OVER (PARTITION BY user_id
                 ORDER BY ts DESC, event_id DESC, value DESC) AS rn
        FROM purchases) WHERE rn = 1)
    SELECT c.event_type AS click_type,
           COUNT(*) AS n_clicks,
           COUNT(o.event_id) AS n_matched,
           COUNT(DISTINCT o.event_id) AS n_distinct_purchases
    FROM clicks c LEFT JOIN one o ON c.user_id = o.user_id
    GROUP BY click_type ORDER BY click_type
"""


@query("ch_dialect_any_join", _CH_ANY_ORACLE)
def ch_dialect_any_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ClickHouse ``ANY LEFT JOIN`` translated schema-aware: the right
    side is deduplicated BY THE JOIN KEYS before an ordinary LEFT JOIN
    (greatest remaining-column struct per key — the same deterministic
    refinement FINAL and ASOF use for CH's unspecified pick), so each
    left row keeps at most one match. Oracled against DuckDB's
    independent ROW_NUMBER-dedup spelling with mirrored DESC tiebreaks.

    Scale: the dedup is one hash-partitioned window on the join keys —
    strictly smaller than the join's own shuffle — and the joined right
    side shrinks to one row per key, which AQE then broadcasts when it
    fits."""
    _click_purchase_views(spark, sf_dir)
    return ch_sql(spark, sf_dir, _CH_ANY_QUERY)


# ---- ORDER BY ... DESC WITH FILL end-to-end ----
# the descending walk with a carried column: direction-OBSERVABLE data
# (the INTERPOLATE carry comes from the next-HIGHER bucket), so the
# oracle pins the DESC semantics, not just a reversed presentation
_CH_WF_DESC_QUERY = """
    SELECT toUInt64(o_totalprice / 30000) AS bucket,
           toUInt64(count()) AS n,
           max(o_totalprice) AS max_price
    FROM orders
    WHERE o_orderkey % 5 = 0
    GROUP BY bucket
    ORDER BY bucket DESC WITH FILL FROM 19 TO -1 INTERPOLATE (max_price)
"""

_CH_WF_DESC_ORACLE = """
    WITH agg AS (
      SELECT CAST(floor(o_totalprice / 30000) AS BIGINT) AS bucket,
             COUNT(*) AS n, MAX(o_totalprice) AS max_price
      FROM orders
      WHERE o_orderkey % 5 = 0
      GROUP BY 1
    ), spine AS (
      SELECT unnest(generate_series(0, 19)) AS bucket
    ), j AS (
      SELECT COALESCE(s.bucket, a.bucket) AS bucket, a.n, a.max_price
      FROM spine s FULL OUTER JOIN agg a ON s.bucket = a.bucket
    )
    SELECT bucket, COALESCE(n, 0) AS n,
           COALESCE(last_value(max_price IGNORE NULLS)
                      OVER (ORDER BY bucket DESC
                            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
                    0.0) AS max_price
    FROM j ORDER BY bucket DESC
"""


@query("ch_dialect_with_fill_desc", _CH_WF_DESC_ORACLE)
def ch_dialect_with_fill_desc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``ORDER BY ... DESC WITH FILL``:
    the downward walk runs as the ascending fill in NEGATED key space —
    FROM becomes the inclusive high start, TO the exclusive low end,
    sequences restart at each existing value going down, and the
    INTERPOLATE carry takes the previous OUTPUT row (the next-higher
    bucket), which is what makes this oracle direction-sensitive rather
    than a re-sorted copy of the ascending one.

    Scale: identical to the ascending fill in negated key space — one
    window over the whole output row, one explode, the query under the
    fill run once; single-stream parity with ClickHouse's own
    FillingTransform."""
    return ch_sql(spark, sf_dir, _CH_WF_DESC_QUERY)


# ---- LIMIT offset, n BY end-to-end ----
# the skip-k-take-n-per-group form (pagination within groups): a rank
# RANGE over the same ROW_NUMBER plan the plain LIMIT BY lowers to
_CH_LIMIT_BY_OFF_QUERY = """
    SELECT o_custkey, o_orderkey, o_totalprice
    FROM orders
    WHERE o_custkey % 97 = 0
    ORDER BY o_totalprice DESC, o_orderkey
    LIMIT 2, 3 BY o_custkey
"""

_CH_LIMIT_BY_OFF_ORACLE = """
    SELECT o_custkey, o_orderkey, o_totalprice FROM (
      SELECT o_custkey, o_orderkey, o_totalprice,
             ROW_NUMBER() OVER (PARTITION BY o_custkey
                                ORDER BY o_totalprice DESC, o_orderkey) AS rn
      FROM orders WHERE o_custkey % 97 = 0)
    WHERE rn BETWEEN 3 AND 5
    ORDER BY o_totalprice DESC, o_orderkey
"""


@query("ch_dialect_limit_by_offset", _CH_LIMIT_BY_OFF_ORACLE)
def ch_dialect_limit_by_offset(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``LIMIT offset, n BY cols``:
    skip the first ``offset`` rows of each group in the query's ORDER,
    take the next ``n`` — lowered to the same materialized ROW_NUMBER
    plan as plain LIMIT BY with a rank RANGE predicate. The unique
    o_orderkey tiebreak keeps the per-group order total, so the skipped
    prefix is deterministic on both engines.

    Scale: identical to ch_dialect_limit_by — one hash-partitioned
    rank window; Spark's WindowGroupLimit pushdown still applies (the
    rank upper bound caps per-group state at offset+n)."""
    return ch_sql(spark, sf_dir, _CH_LIMIT_BY_OFF_QUERY)


# ---- LIMIT n WITH TIES end-to-end ----
# banded prices give real tie groups, so the cut admits far more than
# n rows — the semantics, not a plain LIMIT in disguise
_CH_TIES_QUERY = """
    SELECT o_custkey, toUInt64(o_totalprice / 50000) AS band
    FROM orders
    WHERE o_orderkey % 11 = 0
    ORDER BY band LIMIT 10 WITH TIES
"""

_CH_TIES_ORACLE = """
    SELECT o_custkey, band FROM (
      SELECT o_custkey, band, RANK() OVER (ORDER BY band) AS rk FROM (
        SELECT o_custkey, CAST(floor(o_totalprice / 50000) AS BIGINT) AS band
        FROM orders WHERE o_orderkey % 11 = 0))
    WHERE rk <= 10
    ORDER BY band
"""


@query("ch_dialect_limit_ties", _CH_TIES_ORACLE)
def ch_dialect_limit_ties(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``LIMIT n WITH TIES``: the first
    n rows in the query's order PLUS every further row tying the n-th
    key value — lowered to a distributed threshold (TakeOrdered n-th
    key + filter), never a single-partition rank window over all rows.
    Oracled against DuckDB's independent RANK() <= n spelling, which is
    the construct's definition.

    Scale: the threshold subquery is an ordinary n-row TakeOrdered;
    the main pass is a scan + broadcast-scalar filter — both fully
    distributed, unlike the textbook rank-window lowering whose
    unpartitioned window funnels the corpus through one task."""
    return ch_sql(spark, sf_dir, _CH_TIES_QUERY)


# ---- Or{Null,Zero,Default} converters end-to-end ----
# a clean round-trip parse (sum recovers the key sum), an
# unparseable-string arm (o_orderstatus is 'O'/'F'/'P' — every parse
# fails, so OrDefault's -1 counts rows and OrNull's count() is 0), and
# a NULL-input arm (multiples of 3 are NULLed BEFORE the converter, so
# OrZero must propagate NULL — a bare coalesce(try_cast, 0) spelling
# would count them and hash-mismatch). Converter arguments are
# precomputed subquery columns: strings only, no fractional forms
# (DuckDB's TRY_CAST rounds '3.5' where Spark and CH reject it).
_CH_CONVERTERS_QUERY = """
    SELECT bucket,
           toUInt32(count()) AS n,
           sum(v_rt) AS sum_rt,
           sum(v_bad) AS sum_bad,
           toUInt32(count(v_parsed)) AS n_parsed,
           sum(v_f) AS sum_f,
           toUInt32(count(v_null)) AS n_nullprop
    FROM (
      SELECT bucket,
             toInt64OrZero(s_key) AS v_rt,
             toInt32OrDefault(status, -1) AS v_bad,
             toInt16OrNull(status) AS v_parsed,
             toFloat64OrZero(s_mod) AS v_f,
             toInt32OrZero(s_null) AS v_null
      FROM (
        SELECT o_orderkey % 5 AS bucket,
               toString(o_orderkey) AS s_key,
               o_orderstatus AS status,
               if(o_orderkey % 3 = 0, NULL, toString(o_orderkey % 7)) AS s_mod,
               if(o_orderkey % 3 = 0, NULL, '9') AS s_null
        FROM orders
      )
    )
    GROUP BY bucket
    ORDER BY bucket
"""

_CH_CONVERTERS_ORACLE = """
    WITH b AS (
      SELECT o_orderkey % 5 AS bucket,
             CAST(o_orderkey AS VARCHAR) AS s_key,
             o_orderstatus AS status,
             CASE WHEN o_orderkey % 3 = 0 THEN NULL
                  ELSE CAST(o_orderkey % 7 AS VARCHAR) END AS s_mod,
             CASE WHEN o_orderkey % 3 = 0 THEN NULL ELSE '9' END AS s_null
      FROM orders)
    SELECT bucket,
           CAST(count(*) AS BIGINT) AS n,
           CAST(sum(CASE WHEN s_key IS NULL THEN NULL
                         ELSE coalesce(TRY_CAST(s_key AS BIGINT), 0) END)
                AS BIGINT) AS sum_rt,
           CAST(sum(CASE WHEN status IS NULL THEN NULL
                         ELSE coalesce(TRY_CAST(status AS INTEGER), -1) END)
                AS BIGINT) AS sum_bad,
           CAST(count(TRY_CAST(status AS SMALLINT)) AS BIGINT) AS n_parsed,
           sum(CASE WHEN s_mod IS NULL THEN NULL
                    ELSE coalesce(TRY_CAST(s_mod AS DOUBLE), 0) END) AS sum_f,
           CAST(count(CASE WHEN s_null IS NULL THEN NULL
                           ELSE coalesce(TRY_CAST(s_null AS INTEGER), 0) END)
                AS BIGINT) AS n_nullprop
    FROM b GROUP BY bucket ORDER BY bucket
"""


@query("ch_dialect_converters", _CH_CONVERTERS_ORACLE)
def ch_dialect_converters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """to{Int,Float}*Or{Null,Zero,Default} end-to-end: ClickHouse's
    fallible string converters lower to width-true ``try_cast`` — bare
    for OrNull, NULL-guarded ``coalesce(try_cast, default)`` for
    OrZero/OrDefault so a NULL
    INPUT still propagates NULL (CH's ordinary-function rule) instead
    of taking the default. The demo drives all three suffixes plus
    both failure classes (unparseable text, NULL input) and the oracle
    respells the semantics with DuckDB's independent TRY_CAST +
    explicit CASE guards.

    Scale: pure row-local expressions inside whole-stage codegen over
    one grouped exchange — the translation adds no shuffle, no UDF, no
    driver work; sums are integer-exact (the double column sums exact
    small integers).

    Reference parity: ClickHouse `toInt32OrZero` family
    (parseOrZero/parseOrNull semantics, range-checked); refusal
    boundary (toUInt*Or*, toDate*/toDecimal* Or-forms) documented in
    MIGRATION.md."""
    return ch_sql(spark, sf_dir, _CH_CONVERTERS_QUERY)


# byte-level string functions end-to-end: byte-true substring,
# ASCII-true case folding, Sunday-first toStartOfWeek, scalar bit ops,
# multiSearchAny and NULL-as-a-value hasAny — every construct here was
# previously a refusal or a silent byte/char divergence
_CH_STRINGS_QUERY = """
    SELECT wk, pre,
           toUInt32(count()) AS n,
           toUInt32(countIf(hit)) AS n_hit,
           toUInt32(countIf(ce)) AS n_ce,
           toUInt32(sum(lb)) AS low_bits,
           toUInt32(uniqExact(ut)) AS n_types,
           toUInt32(sum(pos_i)) AS sum_pos,
           toUInt32(sum(seg_p)) AS sum_seg
    FROM (
      SELECT toStartOfWeek(ts) AS wk,
             upper(substring(event_type, 1, 2)) AS pre,
             multiSearchAny(event_type, ['ck', 'err']) AS hit,
             hasAny([event_type], ['click', 'error']) AS ce,
             bitAnd(event_id, 7) AS lb,
             upper(event_type) AS ut,
             position(event_type, 'i') AS pos_i,
             indexOf(splitByChar('u', event_type), 'p') AS seg_p
      FROM events
      WHERE event_id % 3 = 0
    )
    GROUP BY wk, pre
    ORDER BY wk, pre
"""

_CH_STRINGS_ORACLE = """
    SELECT CAST(ts AS DATE) - CAST(dayofweek(ts) AS INTEGER) AS wk,
           upper(substring(event_type, 1, 2)) AS pre,
           CAST(count(*) AS BIGINT) AS n,
           CAST(count(*) FILTER (WHERE event_type LIKE '%ck%'
                                    OR event_type LIKE '%err%')
                AS BIGINT) AS n_hit,
           CAST(count(*) FILTER (WHERE event_type IN ('click', 'error'))
                AS BIGINT) AS n_ce,
           CAST(sum(event_id & 7) AS BIGINT) AS low_bits,
           CAST(count(DISTINCT upper(event_type)) AS BIGINT) AS n_types,
           CAST(sum(strpos(event_type, 'i')) AS BIGINT) AS sum_pos,
           CAST(sum(coalesce(list_position(string_split(event_type, 'u'),
                                           'p'), 0)) AS BIGINT) AS sum_seg
    FROM events
    WHERE event_id % 3 = 0
    GROUP BY 1, 2
    ORDER BY wk, pre
"""


@query("ch_dialect_strings", _CH_STRINGS_ORACLE)
def ch_dialect_strings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Byte-level string functions end-to-end over one grouped scan:
    byte-true ``substring`` (lowered through BINARY — CH slices bytes,
    the length()/octet_length class; byte == char on this ASCII
    fixture, which is exactly what lets DuckDB's char substring be the
    independent oracle), ASCII-true ``upper`` (CH's bare case fold
    touches ASCII Latin only — translate()-fold here, plain upper in
    DuckDB agrees on ASCII), Sunday-first ``toStartOfWeek`` (CH default
    mode 0; the oracle derives the same Sunday via DuckDB's
    dayofweek-subtraction, NOT date_trunc('week') which is
    Monday-first there too), ``bitAnd`` as the width-independent ``&``,
    ``multiSearchAny`` as exists+contains vs the oracle's independent
    LIKE disjunction, ``hasAny``'s NULL-as-a-value lambda vs the
    oracle's IN list, byte-true ``position`` (vs DuckDB strpos — char
    == byte on ASCII), and ``indexOf`` over a LITERAL ``splitByChar``
    (the \\Q\\E-quoted regex fix) vs the oracle's independent
    string_split + list_position with CH's not-found-0 coalesce. Every
    construct in this query would silently diverge as a bare rename.

    Scale: pure row-local expressions inside whole-stage codegen, one
    grouped exchange, no UDFs, no driver work — the translation layer
    adds nothing to the plan (pinned in test_plan_quality).

    Reference parity: ClickHouse substring/upper/toStartOfWeek/bitAnd/
    multiSearchAny/hasAny semantics per their MIGRATION.md rows."""
    return ch_sql(spark, sf_dir, _CH_STRINGS_QUERY)


# concatWithSeparator + the escape-decoded one-byte splitByChar
# separator end-to-end: a tab-joined composite is split back apart, and the
# NULL-propagation guard's arm is counted against an INDEPENDENT
# oracle derivation
_CH_CONCAT_SPLIT_QUERY = """
    SELECT seg, toUInt32(count()) AS n, toUInt32(countIf(tag IS NULL)) AS n_null
    FROM (
      SELECT element_at(splitByChar('\\t', joined), 2) AS seg, tag FROM (
        SELECT concatWithSeparator('\\t', c_mktsegment,
                                   toString(c_nationkey)) AS joined,
               concatWithSeparator('|', c_mktsegment,
                                   nullIf(toString(c_nationkey % 5), '0')
                                   ) AS tag
        FROM customer))
    GROUP BY seg ORDER BY seg
"""

_CH_CONCAT_SPLIT_ORACLE = """
    SELECT CAST(c_nationkey AS VARCHAR) AS seg,
           CAST(count(*) AS BIGINT) AS n,
           CAST(count(*) FILTER (WHERE c_nationkey % 5 = 0)
                AS BIGINT) AS n_null
    FROM customer
    GROUP BY 1
    ORDER BY seg
"""


@query("ch_dialect_concat_split", _CH_CONCAT_SPLIT_ORACLE)
def ch_dialect_concat_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``concatWithSeparator`` and ``splitByChar`` end-to-end (CH
    returns NULL when ANY argument is NULL where Spark's bare
    ``concat_ws`` skips them; the NULL-propagation CASE guard closes it,
    the least/greatest precedent) joins
    mktsegment and nationkey with a TAB, ``splitByChar('\\t', ...)``
    (the one-byte guard measures the DECODED separator, so tab is a legal one-byte
    separator) splits it back, and the guard's NULL arm
    (``nullIf(..., '0')`` firing on nationkey % 5 = 0) is counted.
    The DuckDB oracle derives seg/n_null INDEPENDENTLY from
    c_nationkey — it never runs a split or a guarded concat, so the
    round-trip itself is what's checked.

    Scale: row-local string expressions inside whole-stage codegen,
    one grouped exchange, no UDFs.

    Reference parity: ClickHouse concatWithSeparator / splitByChar
    per their MIGRATION.md rows."""
    return ch_sql(spark, sf_dir, _CH_CONCAT_SPLIT_QUERY)


# parseDateTime, the base64 codec guards, the
# IPv4 integer arithmetic, range's half-open guard, monthName,
# levenshteinDistanceUTF8, and the validated translate — every name
# here was an opaque unresolved-function error (or a silent same-name
# collision: translate) before this wave
_CH_FUNCS2_QUERY = """
    SELECT pri,
           toUInt32(count()) AS n,
           toUInt32(sum(ip_rt % 1000)) AS ip_sum,
           toUInt32(countIf(b64_rt)) AS n_b64,
           toUInt32(sum(lev)) AS lev_sum,
           toUInt32(sum(rlen)) AS rlen_sum,
           min(mn) AS first_month,
           min(pdt) AS first_ts
    FROM (
      SELECT translate(o_orderpriority, 'IH', 'ih') AS pri,
             IPv4StringToNum(ip_str) AS ip_rt,
             base64Decode(b64) = o_orderpriority AS b64_rt,
             levenshteinDistanceUTF8(o_orderpriority, '1-URGENT') AS lev,
             arrayUniq(range(o_orderkey % 7)) AS rlen,
             monthName(o_orderdate) AS mn,
             parseDateTime(ts_str, '%Y-%m-%d %H:%i:%S') AS pdt
      FROM (
        SELECT o_orderkey, o_orderpriority, o_orderdate,
               IPv4NumToString(o_orderkey) AS ip_str,
               base64Encode(o_orderpriority) AS b64,
               formatDateTime(o_orderdate, '%Y-%m-%d %H:%i:%S') AS ts_str
        FROM orders
      )
    )
    GROUP BY pri
    ORDER BY pri
"""

_CH_FUNCS2_ORACLE = """
    SELECT translate(o_orderpriority, 'IH', 'ih') AS pri,
           CAST(count(*) AS BIGINT) AS n,
           CAST(sum(o_orderkey % 1000) AS BIGINT) AS ip_sum,
           CAST(count(*) AS BIGINT) AS n_b64,
           CAST(sum(levenshtein(o_orderpriority, '1-URGENT'))
                AS BIGINT) AS lev_sum,
           CAST(sum(o_orderkey % 7) AS BIGINT) AS rlen_sum,
           min(strftime(o_orderdate, '%B')) AS first_month,
           min(o_orderdate) AS first_ts
    FROM orders
    GROUP BY 1
    ORDER BY pri
"""


@query("ch_dialect_funcs_wave2", _CH_FUNCS2_ORACLE)
def ch_dialect_funcs_wave2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Datetime parsing, codecs and IPv4 end-to-end over one grouped
    orders scan, each
    construct checked against an INDEPENDENT DuckDB derivation:
    ``IPv4StringToNum(IPv4NumToString(k))`` round-trips to k (oracle
    uses k directly — the dotted-quad arithmetic never runs there);
    ``base64Decode(base64Encode(s)) = s`` holds for every row (oracle
    counts rows); ``levenshteinDistanceUTF8`` vs DuckDB's native
    levenshtein; ``arrayUniq(range(k % 7))`` = k % 7 (the half-open
    guard: range(0) must be empty, not Spark's downward sequence);
    ``monthName`` vs strftime('%B'); ``parseDateTime`` inverts
    ``formatDateTime`` back to the exact timestamp (oracle uses the
    timestamp directly); the grouped key runs the validated
    equal-length-ASCII ``translate`` in BOTH engines.

    Scale: row-local expressions in whole-stage codegen, one grouped
    exchange, no UDFs.

    Reference parity: ClickHouse parseDateTime / base64 / IPv4 / range
    / monthName / translate semantics per their MIGRATION.md rows."""
    return ch_sql(spark, sf_dir, _CH_FUNCS2_QUERY)


# the digest/radix same-name collisions end-to-end
# (MD5/SHA* return BYTES in CH but hex STRINGS in Spark; hex/bin pad
# numbers to byte width in CH but emit minimal digits in Spark), CH's
# value-mapping transform, arrayDifference/arrayIntersect,
# fromUnixTimestamp, emptyArray*, and the toStartOfInterval epoch
# buckets — every name here was a silent same-name collision or an
# opaque unresolved-function error before this wave
_CH_FUNCS3_QUERY = """
    SELECT pri,
           toUInt32(count()) AS n,
           min(md5x) AS first_md5,
           toUInt32(sum(hxl)) AS hexlen_sum,
           toUInt32(sum(bnl)) AS binlen_sum,
           toUInt32(sum(dif2)) AS diff_sum,
           toUInt32(sum(isu)) AS isect_sum,
           min(b15) AS first_b15,
           toUInt32(countIf(rt)) AS rt_n,
           toUInt32(sum(e7)) AS e7_sum,
           min(ex1) AS first_ex,
           toUInt32(sum(apb1)) AS apb_sum,
           min(nxt) AS first_nxt
    FROM (
      SELECT pri, md5x, b15, rt, nxt,
             length(hx) AS hxl,
             length(bn) AS bnl,
             arrayElement(dif, 2) AS dif2,
             arrayUniq(isect) AS isu,
             arrayElement(ecat, 1) AS e7,
             arrayElement(exa, 1) AS ex1,
             arrayElement(apb, 1) AS apb1
      FROM (
        SELECT transform(o_orderkey % 3, [0, 1], ['a', 'b'], 'z') AS pri,
               lower(hex(MD5(o_orderpriority))) AS md5x,
               hex(o_orderkey) AS hx,
               bin(o_orderkey % 256) AS bn,
               arrayDifference([o_orderkey % 10, o_orderkey % 100]) AS dif,
               arrayIntersect([o_orderkey % 5, 2], [2, 4]) AS isect,
               toStartOfInterval(o_orderdate, INTERVAL 15 minute) AS b15,
               fromUnixTimestamp(toUnixTimestamp(o_orderdate)) = o_orderdate
                   AS rt,
               arrayConcat(emptyArrayInt64(), [o_orderkey % 7]) AS ecat,
               extractAll(o_orderpriority, '[0-9]+') AS exa,
               arrayPushBack(arrayPopBack([o_orderkey % 4, 9]), 6) AS apb,
               addMonths(o_orderdate, 1) AS nxt
        FROM orders
      )
    )
    GROUP BY pri
    ORDER BY pri
"""

_CH_FUNCS3_ORACLE = """
    SELECT CASE WHEN o_orderkey % 3 = 0 THEN 'a'
                WHEN o_orderkey % 3 = 1 THEN 'b' ELSE 'z' END AS pri,
           CAST(count(*) AS BIGINT) AS n,
           min(md5(o_orderpriority)) AS first_md5,
           CAST(sum(2 * (CASE WHEN o_orderkey < 256 THEN 1
                              WHEN o_orderkey < 65536 THEN 2
                              WHEN o_orderkey < 16777216 THEN 3
                              ELSE 4 END)) AS BIGINT) AS hexlen_sum,
           CAST(sum(8) AS BIGINT) AS binlen_sum,
           CAST(sum((o_orderkey % 100) - (o_orderkey % 10)) AS BIGINT)
               AS diff_sum,
           CAST(sum(1 + (CASE WHEN o_orderkey % 5 = 4 THEN 1 ELSE 0 END))
               AS BIGINT) AS isect_sum,
           min(time_bucket(INTERVAL '15 minutes',
                           CAST(o_orderdate AS TIMESTAMP))) AS first_b15,
           CAST(count(*) AS BIGINT) AS rt_n,
           CAST(sum(o_orderkey % 7) AS BIGINT) AS e7_sum,
           min(regexp_extract(o_orderpriority, '[0-9]+')) AS first_ex,
           CAST(sum(o_orderkey % 4) AS BIGINT) AS apb_sum,
           min(o_orderdate + INTERVAL 1 MONTH) AS first_nxt
    FROM orders
    GROUP BY 1
    ORDER BY pri
"""


@query("ch_dialect_funcs_wave3", _CH_FUNCS3_ORACLE)
def ch_dialect_funcs_wave3(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Digest, radix and array functions end-to-end over one grouped
    orders scan, each
    construct checked against an INDEPENDENT DuckDB derivation: the
    grouping key runs CH's value-mapping ``transform`` (vs a native
    CASE in the oracle); ``lower(hex(MD5(s)))`` must equal DuckDB's
    native lowercase-hex ``md5(s)`` — the silent same-name collision
    this wave closes (Spark's md5 already returns the hex STRING, so
    the previous passthrough hexed ASCII text, not digest bytes);
    ``length(hex(k))`` pins CH's pad-to-byte-width rule against an
    integer byte-count CASE; ``arrayDifference`` vs the algebraic
    ``(k%100)-(k%10)``; ``arrayUniq(arrayIntersect(...))`` vs the
    membership CASE; ``toStartOfInterval(ts, INTERVAL 15 minute)`` vs
    DuckDB's native ``time_bucket``; ``fromUnixTimestamp ∘
    toUnixTimestamp`` round-trips every timestamp (oracle counts
    rows); ``emptyArrayInt64`` concat carries k%7 through a typed
    empty array; wave 3b rides along — ``extractAll`` vs DuckDB's
    native regexp_extract, and ``arrayPopBack(arrayPushBack([k%4],
    9))`` round-trips to k%4; wave 3c's ``addMonths`` vs DuckDB's
    native month-clamping interval addition.

    Scale: row-local expressions in whole-stage codegen, one grouped
    exchange, no UDFs.

    Reference parity: ClickHouse hex/bin/MD5/SHA*/transform/
    arrayDifference/arrayIntersect/fromUnixTimestamp/toStartOfInterval
    semantics per their MIGRATION.md rows."""
    return ch_sql(spark, sf_dir, _CH_FUNCS3_QUERY)

# the comparison/LIKE function spellings end-to-end, the
# bankers'-rounding and integer-exponential names, the float
# classification family (whose isNaN/isFinite lowerings must propagate
# NULL like CH's Nullable rule — Spark's bare isnan(NULL) is false),
# the vector norm/distance family over array columns (CH's LLM-era
# surface; every member accumulates at DOUBLE and is NULL-element
# sticky, including the arithmetic-max Linf fold), and the map lambda
# swaps — every name here was an opaque unresolved-function error (or,
# for isNaN's NULL edge, a silent divergence) before this wave
_CH_FUNCS4_QUERY = """
    SELECT hiq,
           toUInt32(count()) AS n,
           toUInt32(countIf(nlk)) AS nlk_n,
           toUInt32(countIf(nilk)) AS nilk_n,
           sum(rb) AS rb_sum,
           toUInt32(sum(ie2)) AS ie2_sum,
           sum(e10) AS e10_sum,
           toUInt32(countIf(nan0)) AS nan_n,
           toUInt32(countIf(fin)) AS fin_n,
           toUInt32(countIf(inf1)) AS inf_n,
           sum(ifn1) AS ifn1_sum,
           sum(ifn2) AS ifn2_sum,
           sum(l2n) AS l2n_sum,
           sum(l1d) AS l1d_sum,
           sum(dp) AS dp_sum,
           sum(cosd) AS cos_sum,
           toUInt32(sum(mfk)) AS mfk_sum,
           toUInt32(countIf(mex)) AS mex_n,
           toUInt32(countIf(mall)) AS mall_n
    FROM (
      SELECT hiq, nlk, nilk, rb, ie2, e10, nan0, fin, inf1, ifn1, ifn2,
             l2n, l1d, dp, cosd, mex, mall,
             arrayUniq(mapKeys(mf)) AS mfk
      FROM (
        SELECT hiq, nlk, nilk, rb, ie2, e10, nan0, fin, inf1, ifn1,
               ifn2,
               L2Norm([ax, ay]) AS l2n,
               L1Distance([q, ln], [1, 1]) AS l1d,
               dotProduct([q, ln], [2, 3]) AS dp,
               cosineDistance([q, 0], [0, ln]) AS cosd,
               mapFilter((k, v) -> greaterOrEquals(v, 25), m0) AS mf,
               mapExists((k, v) -> greaterOrEquals(v, 25), m0) AS mex,
               mapAll((k, v) -> greater(v, 0), m0) AS mall
        FROM (
          SELECT l_quantity AS q, l_linenumber AS ln,
                 greaterOrEquals(l_quantity, 25) AS hiq,
                 notLike(l_returnflag, 'R%') AS nlk,
                 notILike(l_linestatus, 'f%') AS nilk,
                 roundBankers(l_quantity / 2) AS rb,
                 intExp2(l_linenumber) AS ie2,
                 exp10(l_linenumber % 2) AS e10,
                 isNaN(divide(l_tax, l_tax)) AS nan0,
                 isFinite(divide(l_quantity, l_tax)) AS fin,
                 isInfinite(divide(l_quantity, l_tax)) AS inf1,
                 ifNotFinite(divide(l_quantity, 0), 0 - l_linenumber)
                     AS ifn1,
                 ifNotFinite(l_quantity, 0 - 1) AS ifn2,
                 multiply(3, l_quantity) AS ax,
                 multiply(4, l_quantity) AS ay,
                 map('q', l_quantity, 'l', l_linenumber) AS m0
          FROM lineitem
        )
      )
    )
    GROUP BY hiq
    ORDER BY hiq
"""

_CH_FUNCS4_ORACLE = """
    SELECT (l_quantity >= 25) AS hiq,
           CAST(count(*) AS BIGINT) AS n,
           CAST(sum(CASE WHEN l_returnflag NOT LIKE 'R%' THEN 1 ELSE 0
                    END) AS BIGINT) AS nlk_n,
           CAST(sum(CASE WHEN NOT (l_linestatus ILIKE 'f%') THEN 1
                    ELSE 0 END) AS BIGINT) AS nilk_n,
           sum(CASE WHEN CAST(l_quantity AS BIGINT) % 2 = 0
                    THEN l_quantity / 2
                    WHEN CAST((l_quantity - 1) / 2 AS BIGINT) % 2 = 0
                    THEN (l_quantity - 1) / 2
                    ELSE (l_quantity + 1) / 2 END) AS rb_sum,
           CAST(sum(1 << l_linenumber) AS BIGINT) AS ie2_sum,
           sum(CASE WHEN l_linenumber % 2 = 1 THEN CAST(10 AS DOUBLE)
                    ELSE CAST(1 AS DOUBLE) END) AS e10_sum,
           CAST(sum(CASE WHEN l_tax = 0 THEN 1 ELSE 0 END) AS BIGINT)
               AS nan_n,
           CAST(sum(CASE WHEN l_tax > 0 THEN 1 ELSE 0 END) AS BIGINT)
               AS fin_n,
           CAST(sum(CASE WHEN l_tax = 0 THEN 1 ELSE 0 END) AS BIGINT)
               AS inf_n,
           sum(CAST(-l_linenumber AS DOUBLE)) AS ifn1_sum,
           sum(l_quantity) AS ifn2_sum,
           sum(5 * l_quantity) AS l2n_sum,
           sum((l_quantity - 1) + (l_linenumber - 1)) AS l1d_sum,
           sum(2 * l_quantity + 3 * l_linenumber) AS dp_sum,
           sum(CAST(1 AS DOUBLE)) AS cos_sum,
           CAST(sum(CASE WHEN l_quantity >= 25 THEN 1 ELSE 0 END)
               AS BIGINT) AS mfk_sum,
           CAST(sum(CASE WHEN l_quantity >= 25 THEN 1 ELSE 0 END)
               AS BIGINT) AS mex_n,
           CAST(count(*) AS BIGINT) AS mall_n
    FROM lineitem
    GROUP BY 1
    ORDER BY hiq
"""


@query("ch_dialect_funcs_wave4", _CH_FUNCS4_ORACLE)
def ch_dialect_funcs_wave4(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Comparison, float-classification and vector functions end-to-end
    over one grouped lineitem scan, each
    construct checked against an INDEPENDENT DuckDB derivation: the
    grouping key and the map lambdas run CH's comparison FUNCTION
    spellings (``greaterOrEquals``/``greater`` vs native operators in
    the oracle); ``notLike``/``notILike`` vs NOT LIKE / NOT ILIKE;
    ``roundBankers(q / 2)`` over exact binary halves vs an explicit
    parity CASE deriving half-even by hand; ``intExp2(n)`` (lowered to
    ``shiftleft(1L, n)``) vs DuckDB's native ``1 << n``; ``exp10`` vs
    a value CASE; the float-classification family over ``divide()``'s
    IEEE zero-divisor values (``isNaN(0/0)``, ``isFinite``/
    ``isInfinite`` of ``q/tax`` — infinite exactly when tax = 0 — and
    both ``ifNotFinite`` arms) vs tax-sign CASEs; the vector family
    over 3-4-5 triangles (``L2Norm([3q, 4q])`` = 5q EXACTLY — 25q^2 is
    an exact double and sqrt of a perfect square is correctly rounded),
    ``L1Distance``/``dotProduct`` vs their algebraic expansions, and
    orthogonal-vector ``cosineDistance`` = 1.0 exactly; ``mapFilter``'s
    output cardinality via ``arrayUniq(mapKeys(...))`` plus
    ``mapExists``/``mapAll`` vs membership CASEs.

    Scale: row-local expressions in whole-stage codegen, one grouped
    exchange, no UDFs.

    Reference parity: ClickHouse comparison-function / roundBankers /
    intExp / float-classification / vector-distance / map-lambda
    semantics per their MIGRATION.md rows."""
    return ch_sql(spark, sf_dir, _CH_FUNCS4_QUERY)

# zero-divisor arithmetic variants end-to-end, NULL-guarded
# binary max/min, the date constructors/projections (ISO year, month
# end, half-hour slots, interval arithmetic), map merge, normalized
# vectors, Lp folds, range-checked casts, the guarded regex pair, and
# throwIf's pass path — every name was an opaque unresolved-function
# error before this wave (namespace-walk telemetry)
_CH_FUNCS5_QUERY = """
    SELECT zt,
           toUInt32(count()) AS n,
           toUInt32(sum(idz)) AS idz_sum,
           toUInt32(sum(mdz)) AS mdz_sum,
           sum(mx) AS mx_sum,
           sum(mn) AS mn_sum,
           toUInt32(sum(neg)) AS neg_sum,
           toUInt32(min(ymdh)) AS ymdh_min,
           toUInt32(min(isoy)) AS isoy_min,
           max(eom) AS eom_max,
           min(slot) AS slot_min,
           max(sd10) AS sd10_max,
           sum(ap) AS ap_sum,
           toUInt32(sum(awc1)) AS awc_sum,
           toUInt32(countIf(rpox)) AS rpo_n,
           toUInt32(sum(cm)) AS cm_sum,
           toUInt32(countIf(rex9)) AS rex_n,
           toUInt32(countIf(tpeq)) AS tp_n,
           toUInt32(sum(ac)) AS ac_sum,
           toUInt32(countIf(acnn)) AS acn_n,
           sum(maq) AS maq_sum,
           toUInt32(countIf(nl2eq)) AS nl2_n,
           sum(lp1) AS lp1_sum,
           toUInt32(sum(thr)) AS thr_sum,
           toUInt32(countIf(rnd0)) AS rnd_n
    FROM (
      SELECT zt, idz, mdz, mx, mn, neg, ymdh, isoy, eom, slot, sd10,
             ap, cm, ac, thr,
             equals(rpo, 'X') AS rpox,
             equals(rex, '9') AS rex9,
             equals(tp, tpl) AS tpeq,
             isNull(acn) AS acnn,
             equals(arrayElement(nl2, 1), 0.6) AS nl2eq,
             greaterOrEquals(rnd, 0) AS rnd0,
             arrayElement(awc, 1) AS awc1,
             arrayElement(ma, 'q') AS maq,
             LpNorm([q, ln], 1) AS lp1
      FROM (
        SELECT l_quantity AS q, l_linenumber AS ln,
               isZeroOrNull(l_tax) AS zt,
               intDivOrZero(l_orderkey, l_linenumber - 1) AS idz,
               moduloOrZero(l_orderkey, l_linenumber - 1) AS mdz,
               max2(l_quantity, 30) AS mx,
               min2(l_quantity, 30) AS mn,
               negate(l_linenumber) AS neg,
               toYYYYMMDDhhmmss(l_shipdate) AS ymdh,
               toISOYear(l_shipdate) AS isoy,
               toLastDayOfMonth(l_shipdate) AS eom,
               timeSlot(l_shipdate) AS slot,
               l_shipdate + toIntervalDay(10) AS sd10,
               arrayProduct([l_linenumber, 2]) AS ap,
               arrayWithConstant(l_linenumber, 7) AS awc,
               replaceOne(l_linestatus, 'F', 'X') AS rpo,
               countMatches(l_returnflag, '[A-Z]') AS cm,
               regexpExtract(concat(l_returnflag, '9'),
                             '([A-Z])([0-9])', 2) AS rex,
               tuple(l_linenumber, l_returnflag) AS tp,
               tuple(l_linenumber, l_returnflag) AS tpl,
               accurateCast(l_quantity, 'Int32') AS ac,
               accurateCastOrNull(l_linestatus, 'Int32') AS acn,
               mapAdd(map('q', l_quantity), map('q', 1, 'x', 2)) AS ma,
               normalizeL2([ax, ay]) AS nl2,
               throwIf(greater(l_quantity, 1000), 'impossible') AS thr,
               randUniform(0, 1) AS rnd
        FROM (
          SELECT *, multiply(3, l_quantity) AS ax,
                 multiply(4, l_quantity) AS ay
          FROM lineitem
        )
      )
    )
    GROUP BY zt
    ORDER BY zt
"""

_CH_FUNCS5_ORACLE = """
    SELECT (l_tax = 0) AS zt,
           CAST(count(*) AS BIGINT) AS n,
           CAST(sum(CASE WHEN l_linenumber = 1 THEN 0
                         ELSE l_orderkey // (l_linenumber - 1) END)
               AS BIGINT) AS idz_sum,
           CAST(sum(CASE WHEN l_linenumber = 1 THEN 0
                         ELSE l_orderkey % (l_linenumber - 1) END)
               AS BIGINT) AS mdz_sum,
           sum(greatest(l_quantity, CAST(30 AS DOUBLE))) AS mx_sum,
           sum(least(l_quantity, CAST(30 AS DOUBLE))) AS mn_sum,
           CAST(sum(-l_linenumber) AS BIGINT) AS neg_sum,
           CAST(min(CAST(strftime(l_shipdate, '%Y%m%d%H%M%S')
                         AS BIGINT)) AS BIGINT) AS ymdh_min,
           CAST(min(isoyear(l_shipdate)) AS BIGINT) AS isoy_min,
           max(last_day(CAST(l_shipdate AS DATE))) AS eom_max,
           min(time_bucket(INTERVAL '30 minutes', l_shipdate))
               AS slot_min,
           max(l_shipdate + INTERVAL 10 DAY) AS sd10_max,
           sum(CAST(2 * l_linenumber AS DOUBLE)) AS ap_sum,
           CAST(sum(7) AS BIGINT) AS awc_sum,
           CAST(sum(CASE WHEN l_linestatus = 'F' THEN 1 ELSE 0 END)
               AS BIGINT) AS rpo_n,
           CAST(count(*) AS BIGINT) AS cm_sum,
           CAST(count(*) AS BIGINT) AS rex_n,
           CAST(count(*) AS BIGINT) AS tp_n,
           CAST(sum(CAST(l_quantity AS INT)) AS BIGINT) AS ac_sum,
           CAST(count(*) AS BIGINT) AS acn_n,
           sum(l_quantity + 1) AS maq_sum,
           CAST(count(*) AS BIGINT) AS nl2_n,
           sum(l_quantity + l_linenumber) AS lp1_sum,
           CAST(sum(0) AS BIGINT) AS thr_sum,
           CAST(count(*) AS BIGINT) AS rnd_n
    FROM lineitem
    GROUP BY 1
    ORDER BY zt
"""


@query("ch_dialect_funcs_wave5", _CH_FUNCS5_ORACLE)
def ch_dialect_funcs_wave5(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arithmetic variants, date projections and map merges end-to-end
    over one grouped lineitem scan, each
    construct checked against an INDEPENDENT DuckDB derivation:
    ``intDivOrZero``/``moduloOrZero`` exercise BOTH arms (line number 1
    divides by zero -> 0) vs explicit guard CASEs; ``max2``/``min2`` vs
    native greatest/least (no NULLs in the fixture, so the guard is
    value-neutral); ``toYYYYMMDDhhmmss`` vs strftime; ``toISOYear`` vs
    DuckDB's native isoyear; ``toLastDayOfMonth`` vs last_day;
    ``timeSlot`` vs time_bucket(30 min); ``toIntervalDay`` arithmetic
    vs native INTERVAL; ``arrayProduct``/``arrayWithConstant`` vs
    algebra; ``replaceOne`` flips linestatus F -> X exactly where the
    oracle's equality CASE counts; the guarded ``countMatches``/
    ``regexpExtract`` count/extract against the single-letter flag
    fixture; ``tuple`` equality; ``accurateCast`` sums the checked INT
    cast and ``accurateCastOrNull`` NULLs every non-numeric linestatus;
    ``mapAdd`` merges overlapping keys ('q' -> q + 1, summed);
    ``normalizeL2`` of the 3-4-5 triangle gives exactly [0.6, 0.8]
    (exact-integer quotient, correctly-rounded division); ``LpNorm``
    at p = 1 is the exact L1 sum; ``throwIf``'s pass path returns 0
    rows-wide; ``randUniform`` rides a tautological bound (live
    nondeterminism, deterministic count).

    Scale: row-local expressions in whole-stage codegen, one grouped
    exchange, no UDFs.

    Reference parity: ClickHouse arithmetic-variant / date-projection /
    map-merge / vector / checked-cast semantics per their MIGRATION.md
    rows."""
    return ch_sql(spark, sf_dir, _CH_FUNCS5_QUERY)
