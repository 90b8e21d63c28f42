"""Property-based spot checks (SURVEY.md §5.2 item 6, hypothesis):
engine expressions vs pure-Python models on generated inputs, and
rebalance content preservation on generated tables.

Each property batches all generated rows into ONE DataFrame per example
so the Spark-job count stays low (examples are capped; deadline off —
Spark latency is not the property under test).
"""

from __future__ import annotations

import hashlib
import os
import re

from hypothesis import given, settings, strategies as st
from pyspark.sql import functions as F

from tests.conftest import SF_MED, SF_SMALL

from clickhouse_data_rebalance_spark.functions.text import fingerprint, shingles, tokens
from clickhouse_data_rebalance_spark.plans.rebalance import rebalance, shard_id

WORD = st.text(alphabet="abcdefghij", min_size=1, max_size=6)
TEXTS = st.lists(
    st.lists(WORD, min_size=0, max_size=12).map(" ".join), min_size=1, max_size=20
)

_SETTINGS = dict(max_examples=8, deadline=None)


def _py_shingles(text: str, k: int = 3) -> list[str]:
    ws = text.strip().split() if text.strip() else []
    if len(ws) < k:
        return []
    return [" ".join(ws[i : i + k]) for i in range(len(ws) - k + 1)]


@settings(**_SETTINGS)
@given(TEXTS)
def test_shingles_match_python_model(spark, texts):
    df = spark.createDataFrame([(t,) for t in texts], "text STRING")
    got = [r["sh"] for r in df.select(shingles(F.col("text")).alias("sh")).collect()]
    assert got == [_py_shingles(t) for t in texts]


@settings(**_SETTINGS)
@given(TEXTS)
def test_fingerprint_matches_md5_of_normalized(spark, texts):
    df = spark.createDataFrame([(t,) for t in texts], "text STRING")
    got = [r["fp"] for r in df.select(fingerprint("text").alias("fp")).collect()]
    want = [hashlib.md5(t.strip().lower().encode()).hexdigest() for t in texts]
    assert got == want


@settings(**_SETTINGS)
@given(TEXTS)
def test_token_count_matches_split(spark, texts):
    df = spark.createDataFrame([(t,) for t in texts], "text STRING")
    got = [r["n"] for r in df.select(F.size(tokens("text")).alias("n")).collect()]
    want = [len(t.strip().split()) if t.strip() else 1 for t in texts]
    # split of all-whitespace yields [""] (size 1) in both engines' semantics
    assert got == want


@settings(**_SETTINGS)
@given(
    st.lists(
        st.tuples(st.integers(-1000, 1000) | st.none(), st.floats(-1e6, 1e6)),
        min_size=1,
        max_size=200,
    ),
    st.integers(2, 8),
)
def test_rebalance_preserves_content_on_random_tables(spark, tmp_path_factory, rows, n):
    df = spark.createDataFrame(rows, "k INT, v DOUBLE")
    dst = str(tmp_path_factory.mktemp("prop") / "out")
    rebalance(df, n, ["k"], dst_path=dst)
    back = spark.read.parquet(dst)
    pre = df.agg(F.count(F.lit(1)), F.sum("v"), F.sum("k")).collect()[0]
    post = back.agg(F.count(F.lit(1)), F.sum("v"), F.sum("k")).collect()[0]
    assert pre[0] == post[0]
    for a, b in zip(pre[1:], post[1:]):
        assert a == b or abs(a - b) < 1e-6 * max(1.0, abs(a))


@settings(**_SETTINGS)
@given(st.lists(st.integers(-10_000, 10_000), min_size=1, max_size=300), st.integers(2, 16))
def test_shard_id_in_range_and_deterministic(spark, keys, n):
    df = spark.createDataFrame([(k,) for k in keys], "k INT")
    out = df.select(shard_id(n, "k").alias("s"), "k").collect()
    assert all(0 <= r["s"] < n for r in out)
    # same key → same shard within one run
    seen: dict[int, int] = {}
    for r in out:
        assert seen.setdefault(r["k"], r["s"]) == r["s"]


# --- connected components vs pure-Python union-find ------------------------

EDGES = st.lists(
    st.tuples(st.integers(0, 24), st.integers(0, 24)),
    min_size=0,
    max_size=40,
)


def _py_components(n_nodes: int, edges: list[tuple[int, int]]) -> dict[int, int]:
    parent = list(range(n_nodes))

    def find(x: int) -> int:
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for u, v in edges:
        ru, rv = find(u), find(v)
        if ru != rv:
            parent[max(ru, rv)] = min(ru, rv)
    # label = min node id in the component
    label: dict[int, int] = {}
    for x in range(n_nodes):
        r = find(x)
        label[x] = min(label.get(r, x), x) if r in label else x
    # second pass: the root's label is the true min; propagate it
    root_min: dict[int, int] = {}
    for x in range(n_nodes):
        r = find(x)
        root_min[r] = min(root_min.get(r, x), x)
    return {x: root_min[find(x)] for x in range(n_nodes)}


@settings(max_examples=6, deadline=None)
@given(EDGES)
def test_connected_components_match_union_find(spark, edges):
    from clickhouse_data_rebalance_spark.operators.llm_dedup import (
        connected_components,
    )

    n = 25
    nodes = spark.createDataFrame([(i,) for i in range(n)], "node LONG")
    if edges:
        edf = spark.createDataFrame(edges, "u LONG, v LONG")
    else:
        edf = spark.createDataFrame([], "u LONG, v LONG")
    got = {
        r["node"]: r["lbl"] for r in connected_components(nodes, edf).collect()
    }
    assert got == _py_components(n, edges)


def test_pack_token_shards_boundary_independent(spark, sf_dir):
    """The shard assignment must not depend on the number of range
    partitions the prefix sum happens to run with."""
    from clickhouse_data_rebalance_spark.operators import llm_text
    from clickhouse_data_rebalance_spark import registry

    base = registry.QUERIES["pack_token_shards"](spark, sf_dir).collect()
    # monkey-patch the partition count through a direct rebuild
    from clickhouse_data_rebalance_spark.tables import table as load_table
    from pyspark.sql import Window as W

    d = load_table(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id", F.size(tokens("text")).cast("bigint").alias("n_tok")
    )
    for n_parts in (1, 3, 32):
        ranged = toks.repartitionByRange(n_parts, "doc_id").withColumn(
            "pid", F.spark_partition_id()
        )
        w_local = W.partitionBy("pid").orderBy("doc_id")
        part_cum = ranged.withColumn("local_cum", F.sum("n_tok").over(w_local))
        totals = part_cum.groupBy("pid").agg(F.max("local_cum").alias("ptotal"))
        t = totals.alias("t")
        u = totals.select(
            F.col("pid").alias("u_pid"), F.col("ptotal").alias("u_total")
        ).alias("u")
        offsets = (
            t.join(u, F.col("u_pid") < F.col("t.pid"), "left")
            .groupBy("t.pid")
            .agg(F.coalesce(F.sum("u_total"), F.lit(0)).alias("offset"))
        )
        got = (
            part_cum.join(F.broadcast(offsets), "pid")
            .select(
                "doc_id",
                "n_tok",
                F.floor(
                    (F.col("local_cum") + F.col("offset") - F.col("n_tok"))
                    / float(llm_text.PACK_BUDGET)
                )
                .cast("bigint")
                .alias("shard"),
            )
            .orderBy("doc_id")
            .collect()
        )
        assert got == base, f"shard assignment changed at n_parts={n_parts}"


# ---------------------------------------------------------------------------
# ClickHouse dialect translator (plans/ch_dialect.py)
# ---------------------------------------------------------------------------


def test_ch_dialect_translate_rewrites():
    from clickhouse_data_rebalance_spark.plans.ch_dialect import translate

    assert translate("SELECT toUInt32(x) FROM t") == "SELECT CAST(x AS BIGINT) FROM t"
    assert (
        translate("SELECT sumIf(a, b > 1) FROM t")
        == "SELECT sum(a) FILTER (WHERE b > 1) FROM t"
    )
    assert translate("SELECT count() FROM t") == "SELECT count(*) FROM t"
    assert (
        translate("SELECT toUInt32(count()) FROM t")
        == "SELECT CAST(count(*) AS BIGINT) FROM t"
    )
    # bare lower() is CH's ASCII-only fold since the r13 case wave
    assert translate("SELECT uniqExact(lower(x)) FROM t") == (
        "SELECT COUNT(DISTINCT translate(x, "
        "'ABCDEFGHIJKLMNOPQRSTUVWXYZ', 'abcdefghijklmnopqrstuvwxyz')) "
        "FROM t"
    )
    assert translate("SELECT x FROM t PREWHERE x > 0") == (
        "SELECT x FROM t WHERE x > 0"
    )
    assert translate("SELECT x FROM t FORMAT JSONEachRow").rstrip() == (
        "SELECT x FROM t"
    )


def test_ch_dialect_datepart_and_hof_rewrites():
    from clickhouse_data_rebalance_spark.plans.ch_dialect import translate

    assert translate("SELECT toHour(ts), toDayOfMonth(ts) FROM t") == (
        "SELECT hour(ts), day(ts) FROM t"
    )
    # CH Monday=1..Sunday=7 vs Spark Sunday=1..Saturday=7
    assert translate("SELECT toDayOfWeek(ts) FROM t") == (
        "SELECT (((dayofweek(ts) + 5) % 7) + 1) FROM t"
    )
    assert translate("SELECT toMonday(ts) FROM t") == (
        "SELECT CAST(date_trunc('week', ts) AS DATE) FROM t"
    )
    # higher-order fns: (lambda, arr) -> (arr, lambda); arrow unchanged
    assert translate("SELECT arrayMap(x -> x * 2, arr) FROM t") == (
        "SELECT transform(arr, x -> x * 2) FROM t"
    )
    assert translate("SELECT arrayFilter(x -> x > 0, arr) FROM t") == (
        "SELECT filter(arr, x -> x > 0) FROM t"
    )
    assert translate("SELECT arrayExists(x -> x = 1, arr) FROM t") == (
        "SELECT exists(arr, x -> x = 1) FROM t"
    )
    assert translate("SELECT JSONExtractString(j, 'name') FROM t") == (
        "SELECT get_json_object(j, '$.name') FROM t"
    )
    assert translate("SELECT JSONExtractInt(j, 'n') FROM t") == (
        "SELECT CAST(get_json_object(j, '$.n') AS BIGINT) FROM t"
    )


def test_ch_dialect_dayofweek_semantics(spark):
    """The toDayOfWeek shift must reproduce ClickHouse numbering:
    Monday=1 … Sunday=7 (2026-08-10 is a Monday)."""
    from clickhouse_data_rebalance_spark.plans.ch_dialect import translate

    sql = translate(
        "SELECT toDayOfWeek(CAST('2026-08-10' AS DATE)) AS mon, "
        "toDayOfWeek(CAST('2026-08-16' AS DATE)) AS sun"
    )
    row = spark.sql(sql).collect()[0]
    assert (row["mon"], row["sun"]) == (1, 7)


def test_ch_dialect_array_lambdas_execute(spark):
    """The translated arrayMap/arrayFilter/has forms must EXECUTE in
    Spark with ClickHouse semantics, including nested rewrites inside
    the lambda argument slot (splitByChar inside arrayMap)."""
    from clickhouse_data_rebalance_spark.plans.ch_dialect import translate

    sql = translate(
        "SELECT arrayFilter(x -> x > 2, array(1, 2, 3)) AS f, "
        "arrayMap(x -> x * 2, array(1, 2, 3)) AS m, "
        "has(arrayMap(w -> upper(w), splitByChar(' ', 'a b c')), 'B') AS h"
    )
    row = spark.sql(sql).collect()[0]
    assert row["f"] == [3]
    assert row["m"] == [2, 4, 6]
    assert row["h"] is True
    # chained HOFs exceed the one-nesting-level arg pattern -> refuse
    import pytest as _pytest

    from clickhouse_data_rebalance_spark.plans.ch_dialect import (
        UnsupportedClickHouseSQL,
    )

    with _pytest.raises(UnsupportedClickHouseSQL):
        translate("SELECT arrayFilter(x -> x > 2, arrayMap(x -> x * 2, array(1, 2, 3)))")


def test_ch_dialect_refuses_untranslatable():
    import pytest as _pytest

    from clickhouse_data_rebalance_spark.plans.ch_dialect import (
        UnsupportedClickHouseSQL,
        translate,
    )

    for sql in [
        "SELECT x FROM t LIMIT 3 BY g",
        # even arity: CH requires the else arm — refuse, never guess
        # (the 3-arg odd form multiIf(c, v, else) now TRANSLATES — see
        # test_ch_dialect_multiif_and_argmax_rewrites)
        "SELECT multiIf(a, 1) FROM t",
        "SELECT x FROM t SAMPLE 0.1",
        # the quantile/topK COMBINATOR zoo still refuses (the plain
        # forms translate since r9 — test_ch_dialect_quantile_topk_rewrites)
        "SELECT quantileDeterministic(0.5)(x, d) FROM t",
        # topKWeighted(N)(x, w) translates since r11; a malformed arity
        # still hits the topK residual
        "SELECT topKWeighted(5)(x) FROM t",
        # nested beyond one paren level inside a rewritten call must
        # raise (residual check), never silently mistranslate
        "SELECT sumIf(coalesce(a, nullif(b, 0)), c > least(d, e(f))) FROM t",
        # multi-array arrayMap has a third argument the 2-slot rewrite
        # cannot bind — must refuse, never drop an argument
        "SELECT arrayMap((x, y) -> x + y, a, b) FROM t",
        # FINAL needs the table's key/version columns the SQL text
        # does not carry — refuse, pointing at upsert_latest_wins
        "SELECT x FROM t FINAL WHERE x > 0",
        # WITH TOTALS composed with ROLLUP/CUBE/subquery keys is beyond
        # the key-list rewrite (expression keys now translate — see
        # test_ch_dialect_with_totals_rewrite) — refuse, never mis-group
        "SELECT count(*) FROM t GROUP BY ROLLUP(a) WITH TOTALS",
        "SELECT count(*) FROM t GROUP BY (SELECT 1) WITH TOTALS",
    ]:
        with _pytest.raises(UnsupportedClickHouseSQL):
            translate(sql)


def test_ch_dialect_multiif_and_argmax_rewrites():
    """Round-7 rewrites: multiIf translates to CASE WHEN via the
    balanced-paren scan (nested calls, string literals with commas and
    parens stay opaque), argMax/argMin/groupArray/groupUniqArray are
    name-only maps safe at any nesting depth."""
    from clickhouse_data_rebalance_spark.plans.ch_dialect import translate

    assert translate("SELECT multiIf(a, 1, 2) FROM t") == (
        "SELECT (CASE WHEN a THEN 1 ELSE 2 END) FROM t"
    )
    out = translate(
        "SELECT multiIf(a > 1, 'x,(', b > 2, multiIf(c = f(1, 2), 'y', 'z'), 'w') AS t"
        " FROM orders"
    )
    assert out == (
        "SELECT (CASE WHEN a > 1 THEN 'x,(' WHEN b > 2 THEN "
        "(CASE WHEN c = f(1, 2) THEN 'y' ELSE 'z' END) ELSE 'w' END) AS t"
        " FROM orders"
    )
    out = translate(
        "SELECT argMax(u, length(k)) AS a, argMin(u, k) AS b,"
        " arraySort(groupUniqArray(s)) AS c, groupArray(v) AS d FROM t"
    )
    # CH length = BYTES -> octet_length (r12; lengthUTF8 -> length)
    assert "max_by(u, octet_length(k)) AS a" in out
    assert "min_by(u, k) AS b" in out
    assert "array_sort(collect_set(s)) AS c" in out
    assert "collect_list(v) AS d" in out


def test_ch_dialect_global_strip_and_residual_refusal():
    """GLOBAL is ClickHouse distribution advice with no Spark spelling:
    every join/IN position (including NOT IN — ADVICE r6) strips
    cleanly; any spelling the lookahead misses refuses with a pointer
    instead of reaching Spark as an opaque parse error."""
    import pytest as _pytest

    from clickhouse_data_rebalance_spark.plans.ch_dialect import (
        UnsupportedClickHouseSQL,
        translate,
    )

    assert translate("SELECT x FROM t WHERE x GLOBAL NOT IN (SELECT y FROM u)") == (
        "SELECT x FROM t WHERE x NOT IN (SELECT y FROM u)"
    )
    assert translate("SELECT x FROM t GLOBAL LEFT JOIN u ON t.k = u.k") == (
        "SELECT x FROM t LEFT JOIN u ON t.k = u.k"
    )
    assert translate("SELECT x FROM t WHERE x GLOBAL IN (SELECT y FROM u)") == (
        "SELECT x FROM t WHERE x IN (SELECT y FROM u)"
    )
    with _pytest.raises(UnsupportedClickHouseSQL, match="GLOBAL"):
        translate("SELECT x FROM t GLOBAL something_else")


def test_ch_dialect_array_join_refusal_is_anchored():
    """Multi-array ARRAY JOIN translates since r10 (one zip_with struct
    + one inline — never two cross-producting LATERAL VIEWs); the
    single-array form keeps the plain explode rewrite, and a
    single-array clause followed by unrelated comma text must still
    translate (ADVICE r6: the old refusal matched any later comma +
    ' AS ')."""
    import pytest as _pytest

    from clickhouse_data_rebalance_spark.plans.ch_dialect import (
        UnsupportedClickHouseSQL,
        translate,
    )

    # true multi-array form: ONE lateral inline over a positional zip,
    # struct fields named by the user's aliases
    out = translate("SELECT x, y FROM t ARRAY JOIN xs AS x, ys AS y")
    assert out.count("LATERAL VIEW") == 1
    assert "inline(zip_with(xs, ys," in out
    assert "AS x" in out and "AS y" in out
    # LEFT multi-array keeps empty rows via the OUTER generator
    out = translate("SELECT x FROM t LEFT ARRAY JOIN xs AS x, ys AS y")
    assert "LATERAL VIEW OUTER inline(" in out
    # an operand without an alias refuses (it would shadow the source)
    with _pytest.raises(UnsupportedClickHouseSQL, match="AS alias"):
        translate("SELECT x FROM t ARRAY JOIN xs AS x, ys")
    # duplicate aliases refuse
    with _pytest.raises(UnsupportedClickHouseSQL, match="distinct"):
        translate("SELECT x FROM t ARRAY JOIN xs AS x, ys AS x")
    # single-array followed by a comma + AS later in the statement:
    # translate, don't refuse
    out = translate(
        "SELECT x, substr(s, 1, 2) AS pre FROM t ARRAY JOIN xs AS x WHERE s > ''"
    )
    assert "LATERAL VIEW explode(xs) AS x" in out


def test_ch_dialect_with_totals_rewrite():
    from clickhouse_data_rebalance_spark.plans.ch_dialect import translate

    out = translate(
        "SELECT g, count() AS n FROM t GROUP BY g WITH TOTALS ORDER BY g NULLS LAST"
    )
    assert "GROUP BY GROUPING SETS ((g), ())" in out
    assert "TOTALS" not in out
    out2 = translate("SELECT a, b, count() FROM t GROUP BY a, b WITH TOTALS")
    assert "GROUPING SETS ((a, b), ())" in out2


def test_ch_dialect_limit_by_rewrite(spark):
    """`LIMIT n BY cols` (flat shape, with ORDER BY) now translates to a
    ROW_NUMBER window and EXECUTES with ClickHouse semantics: first n
    rows per BY-group in the query's order, globally ordered, optional
    trailing LIMIT honored. Nested/unordered shapes still refuse."""
    import pytest as _pytest

    from clickhouse_data_rebalance_spark.plans.ch_dialect import (
        UnsupportedClickHouseSQL,
        translate,
    )

    sql = translate(
        "SELECT g, v FROM VALUES (1, 10), (1, 20), (1, 30), (2, 5), (2, 7)"
        " AS t(g, v) ORDER BY v DESC LIMIT 2 BY g"
    )
    assert "ROW_NUMBER() OVER (PARTITION BY g ORDER BY v DESC" in sql
    rows = [(r["g"], r["v"]) for r in spark.sql(sql).collect()]
    assert rows == [(1, 30), (1, 20), (2, 7), (2, 5)]

    # trailing LIMIT m applies AFTER the per-group cut, CH order
    sql2 = translate(
        "SELECT g, v FROM VALUES (1, 10), (1, 20), (1, 30), (2, 5), (2, 7)"
        " AS t(g, v) ORDER BY v DESC LIMIT 2 BY g LIMIT 3"
    )
    rows2 = [(r["g"], r["v"]) for r in spark.sql(sql2).collect()]
    assert rows2 == [(1, 30), (1, 20), (2, 7)]

    # a paren-bearing ORDER BY expression can't be bound unambiguously
    # by the flat pattern — must refuse, never mis-window
    with _pytest.raises(UnsupportedClickHouseSQL):
        translate("SELECT g, v FROM t ORDER BY abs(v) DESC LIMIT 2 BY g")
    # LIMIT BY buried in a subquery (not query-final) — refuse
    with _pytest.raises(UnsupportedClickHouseSQL):
        translate(
            "SELECT * FROM (SELECT g, v FROM t ORDER BY v LIMIT 2 BY g) s "
            "WHERE v > 0"
        )


# ---------------------------------------------------------------------------
# Corpus-preparation operators (operators/llm_corpus.py)
# ---------------------------------------------------------------------------


def test_chunk_documents_covers_every_token(spark, sf_dir):
    """Chunks start at 0, advance by the stride, and the last chunk ends
    exactly at the document's token count — no token dropped or invented."""
    from clickhouse_data_rebalance_spark.operators.llm_corpus import (
        CHUNK_S,
        CHUNK_W,
        chunk_documents,
    )
    from clickhouse_data_rebalance_spark.functions.text import tokens
    from clickhouse_data_rebalance_spark.tables import table
    from pyspark.sql import functions as F

    n_toks = {
        r["doc_id"]: r["n"]
        for r in table(spark, sf_dir, "documents")
        .select("doc_id", F.size(tokens("text")).alias("n"))
        .collect()
    }
    by_doc: dict[int, list] = {}
    for r in chunk_documents(spark, sf_dir).collect():
        by_doc.setdefault(r["doc_id"], []).append(r)
    assert set(by_doc) == set(n_toks)
    for doc_id, chunks in by_doc.items():
        chunks.sort(key=lambda r: r["chunk_id"])
        n = n_toks[doc_id]
        assert [c["chunk_id"] for c in chunks] == list(range(len(chunks)))
        for c in chunks:
            start = c["chunk_id"] * CHUNK_S
            assert c["n_chunk_tokens"] == min(CHUNK_W, n - start)
            assert len(c["chunk_text"].split(" ")) == c["n_chunk_tokens"]
        last = chunks[-1]
        assert last["chunk_id"] * CHUNK_S + last["n_chunk_tokens"] == n
        # stride < width => consecutive chunks overlap, none skipped
        assert (len(chunks) - 1) * CHUNK_S < n


def test_redact_pii_leaves_no_pii(spark, sf_dir):
    import re

    from clickhouse_data_rebalance_spark.operators.llm_corpus import redact_pii

    rows = redact_pii(spark, sf_dir).collect()
    assert rows
    for r in rows:
        s = r["note_redacted"]
        assert "@example.com" not in s and "@" not in s.replace("[EMAIL]", "")
        assert not re.search(r"[0-9]{2}-[0-9]{3}-[0-9]{3}-[0-9]{4}", s)
        assert not re.search(r"[0-9]{4,}", s)
        assert r["n_emails"] == 1 and r["n_phones"] == 1


def test_train_val_test_split_deterministic_and_complete(spark, sf_dir):
    from clickhouse_data_rebalance_spark.operators.llm_corpus import (
        train_val_test_split,
    )
    from clickhouse_data_rebalance_spark.tables import table

    a = [tuple(r) for r in train_val_test_split(spark, sf_dir).collect()]
    b = [tuple(r) for r in train_val_test_split(spark, sf_dir).collect()]
    assert a == b, "split assignment must be run-independent"
    total = sum(r[2] for r in a)
    assert total == table(spark, sf_dir, "documents").count()
    train = sum(r[2] for r in a if r[1] == "train")
    assert 0.7 <= train / total <= 0.9, "md5 bucketing should land near 80%"


def test_contamination_excludes_eval_docs_and_bounds_ratio(spark, sf_dir):
    from clickhouse_data_rebalance_spark.operators.llm_corpus import (
        contamination_ngram_overlap,
    )

    rows = contamination_ngram_overlap(spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert r["doc_id"] % 53 != 0, "held-out docs must not appear as train"
        assert 0 <= r["n_shared"] <= r["n_grams"]
        assert abs(r["contamination"] - round(r["n_shared"] / r["n_grams"], 9)) < 1e-12


def test_ch_ddl_translate_full_mergetree():
    from clickhouse_data_rebalance_spark.plans.ch_dialect import translate_ddl

    out = translate_ddl(
        """
        CREATE TABLE IF NOT EXISTS t ON CLUSTER '{cluster}' (
            k UInt64, s LowCardinality(String), v Nullable(Float32),
            tags Array(String), d Date, dt DateTime64(3)
        ) ENGINE = ReplacingMergeTree()
        PARTITION BY d ORDER BY (k, d)
        SETTINGS index_granularity = 8192
        """
    )
    assert "ON CLUSTER" not in out and "SETTINGS" not in out
    assert "USING parquet" in out and "PARTITIONED BY (d)" in out
    assert "k BIGINT" in out and "s STRING" in out and "v FLOAT" in out
    assert "tags ARRAY<STRING>" in out and "d DATE" in out and "dt TIMESTAMP" in out
    assert "sort key: k, d" in out


def test_ch_ddl_refusals():
    import pytest as _pytest

    from clickhouse_data_rebalance_spark.plans.ch_dialect import (
        UnsupportedClickHouseSQL,
        translate_ddl,
    )

    for ddl in [
        "CREATE MATERIALIZED VIEW mv TO t AS SELECT 1",
        "CREATE TABLE t (k UInt64) ENGINE = MergeTree() ORDER BY k TTL d + INTERVAL 1 DAY",
        "CREATE TABLE t (ts DateTime) ENGINE = MergeTree() PARTITION BY toYYYYMM(ts) ORDER BY ts",
        "CREATE TABLE t (k UInt64) ENGINE = Distributed(c, db, t_local, rand())",
        # SAMPLE BY bakes a sampling key into the MergeTree sort key;
        # Spark tables have no equivalent — refuse, pointing at
        # query-time sample_fraction
        "CREATE TABLE t (k UInt64) ENGINE = MergeTree() ORDER BY k SAMPLE BY k",
    ]:
        with _pytest.raises(UnsupportedClickHouseSQL):
            translate_ddl(ddl)


def test_ch_dialect_extended_rewrites():
    from clickhouse_data_rebalance_spark.plans.ch_dialect import translate

    assert translate("SELECT toStartOfHour(ts) FROM t") == (
        "SELECT date_trunc('hour', ts) FROM t"
    )
    assert translate("SELECT toYYYYMMDD(ts) FROM t") == (
        "SELECT CAST(date_format(ts, 'yyyyMMdd') AS BIGINT) FROM t"
    )
    assert translate("SELECT intDiv(a, b) FROM t") == "SELECT (a div b) FROM t"
    # ClickHouse splitByChar takes (sep, s) and splits LITERALLY; Spark
    # split takes (s, regex) — the separator is \Q\E-quoted (r13 fix:
    # the bare swap turned splitByChar('.', s) into a split on EVERY
    # character, Spark's split being regex-based)
    assert translate("SELECT splitByChar(',', s) FROM t") == (
        "SELECT split(s, concat('\\\\Q', ',', '\\\\E')) FROM t"
    )
    # r13 wave 4: has/indexOf carry CH's NULL-as-a-value rule via <=>
    # lambdas (array_contains/array_position return NULL where CH says
    # 1 / 0 / the NULL's index)
    assert translate("SELECT has(tags, 'x'), indexOf(tags, 'x') FROM t") == (
        "SELECT exists(tags, cdr_h_ -> cdr_h_ <=> ('x')), "
        "array_position(transform(tags, cdr_ix_ -> cdr_ix_ <=> ('x')), "
        "true) FROM t"
    )
    assert translate("SELECT arrayStringConcat(tags, ' ') FROM t") == (
        "SELECT array_join(tags, ' ') FROM t"
    )
    assert translate("SELECT lengthUTF8(s) FROM t") == "SELECT length(s) FROM t"
    # CH length counts BYTES (Spark's counts chars — silent on UTF-8):
    # bare length maps to octet_length, and the lengthUTF8 entry's
    # emitted length( must never be re-rewritten (table order)
    assert translate("SELECT length(s) FROM t") == (
        "SELECT octet_length(s) FROM t"
    )
    # hasAll must NOT be mangled by the has( rewrite — since the r13
    # third wave it translates WHOLE to the NULL-as-a-value lambda
    out = translate("SELECT hasAll(tags, x) FROM t")
    assert "array_contains" not in out
    assert out == (
        "SELECT forall(x, cdr_he_ -> "
        "exists(tags, cdr_hv_ -> cdr_he_ <=> cdr_hv_)) FROM t"
    )


@settings(max_examples=200, deadline=None)
@given(
    st.recursive(
        st.sampled_from(["x", "y", "ts", "42", "'a,b'"]),
        lambda inner: st.builds(
            lambda f, a: f.format(a),
            st.sampled_from(
                [
                    "toUInt32({})",
                    "toString({})",
                    "toStartOfDay({})",
                    "uniqExact({})",
                    "lower({})",
                    "notEmpty({})",
                    "intDiv({}, 7)",
                    "has(tags, {})",
                ]
            ),
            inner,
        ),
        max_leaves=4,
    )
)
def test_ch_dialect_never_leaks_clickhouse_names(expr):
    """Fuzz the translator over random compositions of supported
    constructs: every outcome must be either a clean translation (no
    ClickHouse-only function name survives) or an explicit
    UnsupportedClickHouseSQL — never silently-mistranslated output."""
    from clickhouse_data_rebalance_spark.plans.ch_dialect import (
        UnsupportedClickHouseSQL,
        translate,
    )

    sql = f"SELECT {expr} FROM t"
    try:
        out = translate(sql)
    except UnsupportedClickHouseSQL:
        return
    import re as _re

    assert not _re.search(
        r"\b(toU?Int\d+|toString|toStartOf|uniqExact|notEmpty|intDiv)\s*\(", out
    ), f"{sql!r} -> {out!r}"


def test_registry_driver_order_consistency():
    """Every curated driver-order name must exist, carry an oracle
    (DRIVER_ORDER is the budget-capped correctness cover — a typo there
    silently drops a component's only correctness row), and appear once."""
    from clickhouse_data_rebalance_spark import registry

    registry.load_all()
    order = registry.DRIVER_ORDER + registry.DRIVER_ORDER_TIER2
    assert len(order) == len(set(order)), "duplicate names in driver order"
    missing = [n for n in order if n not in registry.QUERIES]
    assert not missing, f"driver order references unknown queries: {missing}"
    no_oracle = [n for n in registry.DRIVER_ORDER if n not in registry.ORACLES]
    assert not no_oracle, f"first-50 cover entries without oracles: {no_oracle}"
    assert len(registry.DRIVER_ORDER) == 50
    # ordered_queries must lead with the cover, then tier 2, then the rest
    names = list(registry.ordered_queries())
    assert names[: len(order)] == order
    assert set(names) == set(registry.QUERIES)


def test_ivf_registered_knobs_recall_1(spark):
    """VERDICT r4 task 5: the registered IVF knobs (IVF_CLUSTERS/
    IVF_PROBES defaults) must give recall = 1 vs the exact top-k on the
    fixture — the property the ann_ivf_topk oracle equivalence rests on.
    Run at both fixture scales the driver evaluates."""
    from clickhouse_data_rebalance_spark.operators.llm_similarity import (
        ann_ivf_topk,
        cosine_topk_exact,
    )

    for sf in (SF_SMALL, SF_MED):
        exact = [r["vec_id"] for r in cosine_topk_exact(spark, sf).collect()]
        approx = [r["vec_id"] for r in ann_ivf_topk(spark, sf).collect()]
        assert approx == exact, (
            f"IVF defaults lost recall at {sf}: exact={exact} approx={approx} — "
            "re-tune IVF_PROBES or the oracle equivalence claim is void"
        )


def test_ivf_index_invalidates_on_fixture_swap(spark, tmp_path):
    """ADVICE r4: the persisted IVF index is keyed by a fingerprint of
    embeddings.parquet (mtime_ns+size), so a fixture regenerated UNDER
    THE SAME PATH must land on a different index directory (and hence
    rebuild) instead of probing stale cells."""
    import shutil

    from clickhouse_data_rebalance_spark.operators.llm_similarity import (
        _ivf_index_for,
    )

    fix = tmp_path / "sf_ivf_swap"
    shutil.copytree(SF_SMALL, fix)
    os.chmod(fix, 0o755)
    for f in fix.iterdir():
        os.chmod(f, 0o644)

    first = _ivf_index_for(spark, str(fix))
    assert os.path.exists(os.path.join(first, "_SUCCESS"))

    # regenerate embeddings under the same path (drop one row)
    emb = spark.read.parquet(str(fix / "embeddings.parquet")).toPandas()
    emb.iloc[:-1].to_parquet(str(fix / "embeddings.parquet"))

    second = _ivf_index_for(spark, str(fix))
    assert second != first, "regenerated fixture must not reuse the stale index"
    assert os.path.exists(os.path.join(second, "_SUCCESS"))
    # and the rebuilt index reflects the new corpus row count
    n_idx = spark.read.parquet(second).count()
    assert n_idx == len(emb) - 1
    # VERDICT r5 #5: the orphaned generation is GC'd on rebuild — index
    # dirs for this corpus path must not accumulate across regenerations
    assert not os.path.exists(first), (
        "stale index generation survived the rebuild; _gc_stale_indexes "
        "should have pruned it"
    )

    # regenerate AGAIN: still exactly one live dir for this corpus path
    emb.iloc[:-2].to_parquet(str(fix / "embeddings.parquet"))
    third = _ivf_index_for(spark, str(fix))
    assert not os.path.exists(second)
    from clickhouse_data_rebalance_spark.operators.llm_similarity import _IVF_ROOT

    live = []
    for name in os.listdir(_IVF_ROOT):
        key_file = os.path.join(_IVF_ROOT, name, "_KEY")
        if os.path.exists(key_file):
            with open(key_file) as kf:
                if kf.read().startswith(str(fix) + "|"):
                    live.append(name)
    assert live == [os.path.basename(third)]


def test_derived_store_lifecycle_on_both_index_roots(spark, tmp_path):
    """The IVF and BM25 index roots share one lifecycle
    (tables.derived_dir): a dir or clone left without `_KEY` is rebuilt,
    never served; a regenerated source gets a new base dir, and the old
    base goes together with its admitted/compacted clones; dirs of other
    corpora stay. The in-process memos recompute on the new fingerprint."""
    import shutil

    from clickhouse_data_rebalance_spark import tables
    from clickhouse_data_rebalance_spark.operators import llm_similarity as sim
    from clickhouse_data_rebalance_spark.operators import llm_text as txt

    fix = tmp_path / "sf_store"
    shutil.copytree(SF_SMALL, fix)
    os.chmod(fix, 0o755)
    for f in fix.iterdir():
        os.chmod(f, 0o644)
    sf = str(fix)
    other = sim._ivf_index_for(spark, SF_SMALL)

    def gens():
        return (
            [sim._ivf_index_for(spark, sf), sim._admitted_index_for(spark, sf),
             sim._compacted_index_for(spark, sf)],
            [txt._bm25_index_for(spark, sf), txt._bm25_admitted_index_for(spark, sf)],
        )

    token = tables.memo(sf, "embeddings.parquet", "test_token", object)
    offset = sim.admit_id_offset(spark, sf)
    ivf, bm25 = gens()
    n_seed = spark.read.parquet(ivf[0]).count()
    n_admitted = spark.read.parquet(ivf[1]).count()
    assert n_admitted > n_seed

    # a build that died before its _KEY: rebuilt in place, not served
    for d in (ivf[1], bm25[0], bm25[1]):
        os.remove(os.path.join(d, "_KEY"))
        open(os.path.join(d, "half_built"), "w").close()
    assert gens() == (ivf, bm25)
    for d in ivf + bm25:
        assert os.path.exists(os.path.join(d, "_KEY"))
        assert not os.path.exists(os.path.join(d, "half_built"))
    assert spark.read.parquet(ivf[1]).count() == n_admitted

    # regenerate both sources under the same path, without the max id
    emb = spark.read.parquet(f"{sf}/embeddings.parquet").toPandas()
    emb = emb[emb.vec_id != emb.vec_id.max()]
    emb.to_parquet(f"{sf}/embeddings.parquet", index=False)
    docs = spark.read.parquet(f"{sf}/documents.parquet").toPandas()
    docs.iloc[:-1].to_parquet(f"{sf}/documents.parquet", index=False)

    assert tables.memo(sf, "embeddings.parquet", "test_token", object) is not token
    assert sim.admit_id_offset(spark, sf) == int(emb.vec_id.max()) + 1 != offset
    ivf2, bm25_2 = gens()
    assert not set(ivf2) & set(ivf) and not set(bm25_2) & set(bm25)
    for d in ivf + bm25:
        assert not os.path.exists(d), f"stale generation {d} survived"
    assert spark.read.parquet(ivf2[0]).count() == len(emb)
    meta = spark.read.parquet(os.path.join(bm25_2[0], "meta")).collect()[0]
    assert meta["n"] == len(docs) - 1
    assert os.path.exists(os.path.join(other, "_KEY")), "another corpus's index was GC'd"


def test_derived_store_gc_drops_generations_of_deleted_corpora(tmp_path):
    """A generation whose `_KEY` names a corpus directory that no longer
    exists is deleted on the next `derived_dir` call; generations of
    another corpus that still exists stay."""
    import shutil

    from clickhouse_data_rebalance_spark import tables

    root = str(tmp_path / "root")
    corpora = {}
    for name in ("gone", "kept", "caller"):
        d = tmp_path / name
        d.mkdir()
        (d / "src.parquet").write_bytes(name.encode())
        corpora[name] = str(d)

    def build(path):
        os.makedirs(path)

    gen = {n: tables.derived_dir(root, d, "src.parquet", "spec", build) for n, d in corpora.items()}
    assert len(set(gen.values())) == 3
    shutil.rmtree(corpora["gone"])
    assert tables.derived_dir(root, corpora["caller"], "src.parquet", "spec", build) == gen["caller"]
    assert not os.path.exists(gen["gone"])
    assert os.path.exists(os.path.join(gen["kept"], "_KEY"))
    assert os.path.exists(os.path.join(gen["caller"], "_KEY"))


def test_ivf_refined_generation(spark):
    """VERDICT r5 #3: the k-means refinement must be CONSUMED — the
    refined index is a distinct persisted layout that coexists with the
    seed generation (same corpus fingerprint), covers the same corpus,
    and the refined probe path keeps recall 1 vs the exact top-k at both
    driver fixture scales (the bar its oracle equivalence rests on)."""
    from clickhouse_data_rebalance_spark.operators.llm_similarity import (
        _ivf_index_for,
        ann_ivf_topk_refined,
        cosine_topk_exact,
        rebuild_ivf_index,
    )

    for sf in (SF_SMALL, SF_MED):
        seed = _ivf_index_for(spark, sf)
        refined = rebuild_ivf_index(spark, sf)
        assert refined != seed
        assert os.path.exists(os.path.join(seed, "_SUCCESS"))
        assert os.path.exists(os.path.join(refined, "_SUCCESS"))
        assert (
            spark.read.parquet(refined).count()
            == spark.read.parquet(seed).count()
        )
        exact = [r["vec_id"] for r in cosine_topk_exact(spark, sf).collect()]
        approx = [r["vec_id"] for r in ann_ivf_topk_refined(spark, sf).collect()]
        assert approx == exact, (
            f"refined IVF lost recall at {sf}: exact={exact} approx={approx}"
        )


def test_ivf_params_scale_rule():
    """VERDICT r5 caveat: IVF_CLUSTERS/IVF_PROBES must be the scale
    rule evaluated at fixture size, not free constants. Pin the fixture
    identity, monotonicity in N, and the clamps."""
    from clickhouse_data_rebalance_spark.operators.llm_similarity import (
        IVF_CLUSTERS,
        IVF_PROBES,
        ivf_params_for,
    )

    # the registered defaults ARE the rule at fixture size
    assert ivf_params_for(500, isotropic=True) == (IVF_CLUSTERS, IVF_PROBES)
    # sqrt rule at representative scales (power-of-two snapped)
    assert ivf_params_for(1_000_000) == (1024, 64)
    assert ivf_params_for(1_000_000_000)[0] == 2**15
    # clamps: tiny corpora floor at the fixture geometry, huge ones cap
    assert ivf_params_for(1)[0] == IVF_CLUSTERS
    assert ivf_params_for(10**15)[0] == 2**18
    # monotone non-decreasing cluster count in N
    ks = [ivf_params_for(n)[0] for n in (10**3, 10**5, 10**7, 10**9)]
    assert ks == sorted(ks)
    # probes never exceed cells
    for n in (10, 10**4, 10**8):
        for iso in (False, True):
            k, p = ivf_params_for(n, isotropic=iso)
            assert 1 <= p <= k


@given(
    n=st.integers(min_value=10**3, max_value=10**9),
    iso=st.booleans(),
)
@settings(max_examples=200, deadline=None)
def test_ivf_params_geometry_bounds(n, iso):
    """VERDICT r6 #8: sweep the rule itself (1e3→1e9), not just the
    fixture point. Invariants: (a) the expected per-cell population
    N/K stays within 2x of sqrt(N) wherever the sqrt rule is
    unclamped — the balance the FAISS guideline exists for; (b) the
    probed scan fraction probes/K is bounded: exactly 1/2 for the
    isotropic worst case (recall floor), and within (0, 1/8] for
    clustered corpora (cheap probes) while never dropping below 4
    cells (the recall floor for multi-probe); (c) geometry is
    deterministic and power-of-two so partition layouts are stable."""
    from clickhouse_data_rebalance_spark.operators.llm_similarity import (
        IVF_CLUSTERS,
        ivf_params_for,
    )
    import math

    k, p = ivf_params_for(n, isotropic=iso)
    # determinism + power-of-two snap + clamps
    assert ivf_params_for(n, isotropic=iso) == (k, p)
    assert k & (k - 1) == 0
    assert IVF_CLUSTERS <= k <= 2**18
    assert 1 <= p <= k
    # (a) per-cell population tracks sqrt(N) within the snap factor
    # (power-of-two rounding is at most sqrt(2) off; assert 2x) when
    # neither clamp is active
    if IVF_CLUSTERS < k < 2**18:
        assert n / k <= 2 * math.sqrt(n), (n, k)
        assert n / k >= math.sqrt(n) / 2, (n, k)
    # (b) scan fraction
    if iso:
        assert p == k // 2
    else:
        assert p == max(4, k // 16)
        assert p / k <= 1 / 8  # k >= 32 given the IVF_CLUSTERS floor
        assert p >= 4


def test_ivfpq_shortlist_covers_exact_topk(spark):
    """ann_pq_topk's oracle equivalence rests on the ADC shortlist
    covering the true top-10 — pin it at both driver fixture scales,
    and pin the ~3x safety margin by shrinking the shortlist to half:
    recall must survive PQ_SHORTLIST // 2 too (the measured worst true
    top-10 ADC rank is 42, see the IVF-PQ block comment)."""
    from clickhouse_data_rebalance_spark.operators.llm_similarity import (
        PQ_SHORTLIST,
        ann_pq_topk,
        cosine_topk_exact,
    )

    for sf in (SF_SMALL, SF_MED):
        exact = [r["vec_id"] for r in cosine_topk_exact(spark, sf).collect()]
        approx = [r["vec_id"] for r in ann_pq_topk(spark, sf).collect()]
        assert approx == exact, (
            f"IVF-PQ lost recall at {sf}: exact={exact} approx={approx} — "
            "re-tune PQ_SHORTLIST or the oracle equivalence claim is void"
        )
        halved = [
            r["vec_id"]
            for r in ann_pq_topk(spark, sf, shortlist=PQ_SHORTLIST // 2).collect()
        ]
        assert halved == exact, (
            f"IVF-PQ margin eroded at {sf}: shortlist {PQ_SHORTLIST // 2} "
            "no longer covers the exact top-10"
        )


def test_simhash_banding_recall_floor(spark):
    """VERDICT r5 #7: dedup_simhash's 4x16-bit chunk banding has BOUNDED
    recall (see its docstring) — pin the guarantees: every pair at
    Hamming <= 3 is found (pigeonhole), and the measured d<=6 recall
    stays above the documented floor. Brute-force ground truth over all
    signature pairs (500 docs -> 125k XORs, trivial at fixture scale)."""
    import numpy as np

    from pyspark.sql import functions as F

    from clickhouse_data_rebalance_spark.operators.llm_dedup import (
        _simhash_from_hashes,
        dedup_simhash,
    )
    from clickhouse_data_rebalance_spark.functions.text import tokens
    from clickhouse_data_rebalance_spark.tables import table

    for sf in (SF_SMALL, SF_MED):
        d = table(spark, sf, "documents")
        tok = d.select(
            "doc_id", F.explode(tokens(F.lower(F.col("text")))).alias("tok")
        )
        hashes = tok.groupBy("doc_id").agg(
            F.collect_list(F.xxhash64("tok")).alias("hs")
        )
        rows = hashes.select(
            "doc_id", _simhash_from_hashes("hs").alias("sig")
        ).collect()
        ids = np.array([r["doc_id"] for r in rows])
        s = np.array([r["sig"] for r in rows], dtype=np.int64)
        x = s[:, None] ^ s[None, :]
        ham = np.unpackbits(
            x.view(np.uint8).reshape(len(s), len(s), 8), axis=2
        ).sum(axis=2)
        iu = np.triu_indices(len(s), 1)
        got = {(r["doc_a"], r["doc_b"]) for r in dedup_simhash(spark, sf).collect()}

        def recall(dmax):
            truth = {
                (min(ids[i], ids[j]), max(ids[i], ids[j]))
                for i, j in zip(*iu)
                if ham[i, j] <= dmax
            }
            return len(truth & got) / max(len(truth), 1), len(truth)

        r3, n3 = recall(3)
        assert n3 > 0 and r3 == 1.0, f"{sf}: d<=3 recall {r3} (pigeonhole broken)"
        r6, _ = recall(6)
        assert r6 >= 0.6, f"{sf}: d<=6 recall {r6:.3f} fell below documented floor"


def test_ivf_refined_argmax_margin(spark):
    """Same flake guard as test_ivf_quantizer_argmax_margin, for the
    REFINED centroids: the ivf_kmeans_cells oracle re-derives the
    refined assignment independently in DuckDB, which is only safe if
    no vector sits within accumulation error of a cell boundary."""
    import numpy as np

    from clickhouse_data_rebalance_spark.operators.llm_similarity import (
        _ivf_centroids,
    )
    from clickhouse_data_rebalance_spark.tables import table

    for sf in (SF_SMALL, SF_MED):
        C = _ivf_centroids(spark, sf, generation="refined")
        e = table(spark, sf, "embeddings")
        X = np.array(
            [r["embedding"] for r in e.select("embedding").collect()],
            dtype=np.float64,
        )
        Xn = X / np.maximum(np.linalg.norm(X, axis=1, keepdims=True), 1e-12)
        sims = Xn @ C.T
        top2 = np.sort(sims, axis=1)[:, -2:]
        margin = float(np.min(top2[:, 1] - top2[:, 0]))
        assert margin > 1e-9, (
            f"{sf}: refined argmax margin {margin:.2e} within accumulation error"
        )


def test_ivf_quantizer_argmax_margin(spark):
    """ADVICE r4 (latent flake): the Spark quantizer (numpy matmul,
    SIMD/pairwise accumulation) and the DuckDB oracle twin (left-to-right
    double accumulation) can disagree on a vector's cell only when the
    top-2 seed similarities are within accumulation error (~1e-12).
    Measure the actual top1-top2 margin across every fixture vector and
    assert it is orders of magnitude wider — the documented guarantee
    that dedup_embedding_cosine_ivf's oracle cannot flake on cell ties."""
    import numpy as np

    from clickhouse_data_rebalance_spark.operators.llm_similarity import (
        IVF_CLUSTERS,
        _ivf_seed_matrix,
    )
    from clickhouse_data_rebalance_spark.tables import table

    for sf in (SF_SMALL, SF_MED):
        e = table(spark, sf, "embeddings")
        C = _ivf_seed_matrix(e, IVF_CLUSTERS)
        X = np.array(
            [r["embedding"] for r in e.select("embedding").collect()],
            dtype=np.float64,
        )
        Xn = X / np.maximum(np.linalg.norm(X, axis=1, keepdims=True), 1e-12)
        sims = Xn @ C.T
        top2 = np.sort(sims, axis=1)[:, -2:]
        margin = float(np.min(top2[:, 1] - top2[:, 0]))
        assert margin > 1e-9, (
            f"{sf}: min argmax margin {margin:.2e} is within float accumulation "
            "error — the oracle's independent cell re-derivation could flake; "
            "derive oracle cells from the persisted index instead"
        )

        # same guard for the k-means-refined centroids (ivf_kmeans_cells):
        # the fixed-point centroid derivation is bit-identical across
        # engines, so the only cross-engine divergence left is the cosine
        # argmax itself — its margin must also dwarf accumulation error
        from clickhouse_data_rebalance_spark.operators.llm_similarity import (
            refined_centroids,
        )

        C1 = refined_centroids(spark, sf)
        C1n = C1 / np.maximum(np.linalg.norm(C1, axis=1, keepdims=True), 1e-12)
        top2r = np.sort(Xn @ C1n.T, axis=1)[:, -2:]
        margin_r = float(np.min(top2r[:, 1] - top2r[:, 0]))
        assert margin_r > 1e-9, (
            f"{sf}: refined-centroid argmax margin {margin_r:.2e} too tight"
        )


@settings(max_examples=10, deadline=None)
@given(
    st.lists(
        st.tuples(
            st.sampled_from(["A", "N", "R"]),
            # 2-decimal prices (the fixture's shape) spanning magnitudes,
            # including values whose group sums exceed 2^53 in 1e-4 units
            st.integers(1, 10_000_000_00).map(lambda c: c / 100.0),
            st.integers(1, 1000).map(float),
        ),
        min_size=1,
        max_size=60,
    )
)
def test_weighted_avg_udaf_matches_duckdb_on_random_groups(rows):
    """Property form of the grouped_map_udaf equivalence: for ANY mix of
    2-decimal prices and integral quantities, the pandas UDAF's integer
    fixed-point weighted average must equal DuckDB's integer derivation
    EXACTLY (int equality, no tolerance) on every group."""
    import duckdb
    import pandas as pd

    from clickhouse_data_rebalance_spark.operators.udfs import _weighted_avg

    pdf = pd.DataFrame(rows, columns=["l_returnflag", "l_extendedprice", "l_quantity"])
    ours = {
        flag: int(_weighted_avg(g)["wavg_price_e4"].iloc[0])
        for flag, g in pdf.groupby("l_returnflag")
    }
    oracle = dict(
        duckdb.sql(
            """
            SELECT l_returnflag,
                   CAST(SUM(CAST(ROUND(l_extendedprice * 10000) AS BIGINT)
                            * CAST(ROUND(l_quantity) AS BIGINT))
                        // SUM(CAST(ROUND(l_quantity) AS BIGINT)) AS BIGINT)
            FROM pdf GROUP BY l_returnflag
            """
        ).fetchall()
    )
    assert ours == {k: int(v) for k, v in oracle.items()}


@given(
    st.lists(
        st.integers(min_value=1, max_value=500).map(lambda z: f"w{z * z * z % 977}"),
        min_size=1,
        max_size=2000,
    ),
    st.integers(min_value=4, max_value=32),
)
@settings(max_examples=40, deadline=None)
def test_misra_gries_bounds(items, k):
    """The eviction regime the fixture can't reach (vocab >> k, skew):
    Misra-Gries with k counters must (a) never overestimate, (b) under-
    estimate by at most n/k, and (c) retain every item with true count
    > n/k. Merging split summaries must satisfy the same bound."""
    from collections import Counter

    from clickhouse_data_rebalance_spark.operators.llm_text import (
        misra_gries_summary,
    )

    truth = Counter(items)
    n = len(items)

    def check(summary):
        for item, est in summary.items():
            assert est <= truth[item]
            assert truth[item] - est <= n / k
        for item, c in truth.items():
            if c > n / k:
                assert item in summary, (item, c, n / k)

    check(misra_gries_summary(items, k))

    # merge of split-stream partials: sum per item, reduce to k by
    # subtracting the (k+1)-th largest — same guarantee on the union
    half = len(items) // 2
    s1 = misra_gries_summary(items[:half], k)
    s2 = misra_gries_summary(items[half:], k)
    merged = Counter(s1) + Counter(s2)
    if len(merged) > k:
        cut = sorted(merged.values(), reverse=True)[k]
        merged = {i: v - cut for i, v in merged.items() if v - cut > 0}
    # merged error bound: n1/k + n2/k = n/k
    for item, est in merged.items():
        assert est <= truth[item]
        assert truth[item] - est <= n / k + 1e-9
    for item, c in truth.items():
        if c > n / k:
            assert item in merged, (item, c, n / k)


def test_global_shuffle_permutation_properties(spark):
    """global_shuffle_shards must emit a BIJECTION onto (shard,
    pos_in_shard) coordinates — every doc exactly once, positions dense
    1..k per shard — with near-uniform shard sizes, and be exactly
    reproducible run-to-run (hash-derived, RNG-free)."""
    from collections import defaultdict

    from clickhouse_data_rebalance_spark.operators.llm_corpus import (
        N_SHUFFLE_SHARDS,
        global_shuffle_shards,
    )

    rows = global_shuffle_shards(spark, SF_SMALL).collect()
    n = len(rows)
    assert n > 0
    assert len({r["doc_id"] for r in rows}) == n
    by_shard = defaultdict(list)
    for r in rows:
        by_shard[r["shard"]].append(r["pos_in_shard"])
    for ps in by_shard.values():
        assert sorted(ps) == list(range(1, len(ps) + 1))
    expected = n / N_SHUFFLE_SHARDS
    for s, ps in by_shard.items():
        assert 0.4 * expected <= len(ps) <= 1.6 * expected, (s, len(ps))
    assert rows == global_shuffle_shards(spark, SF_SMALL).collect()


def test_python_datasource_filter_pushdown_correct(spark):
    """The pushed EqualTo('day', v) path generates rows by index
    stepping — it must yield EXACTLY the rows a post-filter over the
    full scan yields, for several days including partition-boundary
    values, and other predicates must survive as post-filters."""
    from clickhouse_data_rebalance_spark.sources.python_source import (
        N_ROWS,
        register_synthetic_source,
    )

    register_synthetic_source(spark)
    src = lambda: spark.read.format("synthetic_events").load()  # noqa: E731
    full = src().collect()
    assert len(full) == N_ROWS
    by_day = {}
    for r in full:
        by_day.setdefault(r["day"], []).append(tuple(r))
    for day in (1, 7, 30):
        got = sorted(
            tuple(r) for r in src().filter(F.col("day") == day).collect()
        )
        assert got == sorted(by_day[day]), f"day={day}"
    # non-pushable predicate composes with the pushed one
    got = src().filter((F.col("day") == 7) & (F.col("kind") == "click")).collect()
    want = [t for t in by_day[7] if t[2] == "click"]
    assert sorted(tuple(r) for r in got) == sorted(want)


def test_ch_dialect_array_join_clause():
    from clickhouse_data_rebalance_spark.plans.ch_dialect import (
        UnsupportedClickHouseSQL,
        translate,
    )
    import pytest as _pytest

    assert translate("SELECT a, x FROM t ARRAY JOIN xs AS x") == (
        "SELECT a, x FROM t LATERAL VIEW explode(xs) AS x"
    )
    assert translate("SELECT a, x FROM t LEFT ARRAY JOIN xs AS x") == (
        "SELECT a, x FROM t LATERAL VIEW OUTER explode(xs) AS x"
    )
    # expression form (inner call translated too — since the r13 split
    # fix the separator is \Q\E-quoted, Spark's split being regex-based)
    assert "LATERAL VIEW explode(split(s, concat(" in translate(
        "SELECT x FROM t ARRAY JOIN splitByChar(',', s) AS x"
    )
    # multi-array zip form: ONE lateral inline over zip_with (r10 —
    # never two cross-producting lateral views)
    out = translate("SELECT a FROM t ARRAY JOIN xs AS x, ys AS y")
    assert out.count("LATERAL VIEW") == 1 and "zip_with(xs, ys," in out
    # but an alias-less operand still refuses
    with _pytest.raises(UnsupportedClickHouseSQL):
        translate("SELECT a FROM t ARRAY JOIN xs, ys AS y")
    # review r10 regressions: the operand scan must stop at the
    # enclosing subquery's ')' (single AND multi form) and at a ';'
    out = translate("SELECT z.x FROM (SELECT x FROM t ARRAY JOIN xs AS x) z")
    assert "LATERAL VIEW explode(xs) AS x) z" in out
    out = translate(
        "SELECT z.x FROM (SELECT x, y FROM t ARRAY JOIN xs AS x, ys AS y) z"
    )
    assert out.count("LATERAL VIEW") == 1 and out.rstrip().endswith(") z")
    out = translate("SELECT x, y FROM t ARRAY JOIN xs AS x, ys AS y;")
    assert "zip_with(xs, ys," in out and out.rstrip().endswith(";")
    # a keyword-prefixed identifier is not a clause stop
    out = translate(
        "SELECT x FROM t ARRAY JOIN xs AS x, whereabouts AS y GROUP BY x"
    )
    assert "zip_with(xs, whereabouts," in out and "GROUP BY x" in out
    # review-2 r10: keyword classification needs syntactic context —
    # left( is the string FUNCTION, not a join modifier (since the r13
    # byte wave the function itself then lowers to the BINARY slice —
    # the zip operand position is what this case pins)
    out = translate("SELECT a FROM t ARRAY JOIN left(xs, 2) AS a, ys AS b")
    assert (
        "zip_with(CAST(substring(CAST(xs AS BINARY), 1, 2) AS STRING), ys,"
        in out
    )
    # ... a stop keyword right after AS is an ALIAS
    out = translate("SELECT x FROM t ARRAY JOIN xs AS x, ys AS any")
    assert "AS any))" in out and out.count("LATERAL VIEW") == 1
    # ... PREWHERE ends the operand list (and then rewrites to WHERE)
    out = translate(
        "SELECT x, y FROM t ARRAY JOIN xs AS x, ys AS y PREWHERE x > 0"
    )
    assert "zip_with(xs, ys," in out and "WHERE x > 0" in out
    # ... and a genuine UNION arm still stops the scan
    out = translate(
        "SELECT x FROM t ARRAY JOIN xs AS x, ys AS y UNION ALL SELECT 1, 2"
    )
    assert "zip_with(xs, ys," in out and "UNION ALL SELECT 1, 2" in out


def test_identifier_clause_rejects_hostile_names(spark, sf_dir):
    """IDENTIFIER() binding must REJECT a name carrying SQL — the exact
    failure mode the reference's f-string splicing cannot have (it would
    execute it)."""
    import pytest as _pytest
    from pyspark.errors import AnalysisException, ParseException
    from clickhouse_data_rebalance_spark.tables import table

    table(spark, sf_dir, "orders")
    # only the two binding-layer error types count (ADVICE r6: a bare
    # Exception catch would let an unrelated failure — e.g. table
    # resolution — pass as proof of injection-safe binding), and the
    # error class must be the identifier/parse rejection itself
    with _pytest.raises((AnalysisException, ParseException)) as ei:
        spark.sql(
            "SELECT COUNT(*) FROM IDENTIFIER(:tbl)",
            args={"tbl": "orders WHERE 1=1; DROP TABLE orders"},
        ).collect()
    err_class = ei.value.getCondition() or ""
    assert err_class in ("PARSE_SYNTAX_ERROR", "INVALID_IDENTIFIER"), (
        f"expected identifier rejection, got {err_class}: {ei.value}"
    )


def test_python_datasource_out_of_domain_day(spark):
    """Review finding: a pushed EqualTo('day', v) outside 1..30 must
    return the EMPTY set (not v mod 30), and two different day
    equalities must intersect to empty."""
    from clickhouse_data_rebalance_spark.sources.python_source import (
        register_synthetic_source,
    )

    register_synthetic_source(spark)
    src = lambda: spark.read.format("synthetic_events").load()  # noqa: E731
    assert src().filter(F.col("day") == 31).count() == 0
    assert src().filter(F.col("day") == 0).count() == 0
    assert src().filter((F.col("day") == 3) & (F.col("day") == 7)).count() == 0


def test_ch_dialect_array_join_aliasless_refuses():
    """Review finding: ARRAY JOIN without AS must refuse — passed
    through, Spark would parse it as a condition-less join."""
    import pytest as _pytest

    from clickhouse_data_rebalance_spark.plans.ch_dialect import (
        UnsupportedClickHouseSQL,
        translate,
    )

    with _pytest.raises(UnsupportedClickHouseSQL):
        translate("SELECT x FROM t ARRAY JOIN xs")


def test_line_dedup_short_docs_have_no_phantom_spans(spark):
    """Review finding: Spark sequence(0, -1) = [0, -1]; a document
    shorter than one span must contribute ZERO spans, exactly like the
    oracle's empty generate_series."""
    from clickhouse_data_rebalance_spark.operators.llm_corpus import SPAN_W

    df = spark.createDataFrame(
        [(1, "a b"), (2, ""), (3, "one two three four")],
        "doc_id long, text string",
    )
    df.createOrReplaceTempView("documents_short_probe")
    w = F.split(F.trim(F.col("text")), " ")
    n_full = F.floor(F.size(w) / SPAN_W).cast("int")
    spans = df.filter(F.size(w) >= SPAN_W).select(
        "doc_id",
        F.explode(
            F.transform(F.sequence(F.lit(0), n_full - 1, F.lit(1)), lambda i: i)
        ).alias("i"),
    )
    got = {(r["doc_id"], r["i"]) for r in spans.collect()}
    assert got == {(3, 0)}  # only the 4-word doc, exactly one 3-word span


def test_ch_dialect_join_modifiers():
    """GLOBAL strips (Spark's planner owns distribution); ANY/ASOF join
    modifiers refuse with native-operator pointers."""
    import pytest as _pytest

    from clickhouse_data_rebalance_spark.plans.ch_dialect import (
        UnsupportedClickHouseSQL,
        translate,
    )

    assert translate("SELECT * FROM a GLOBAL LEFT JOIN b ON a.k = b.k") == (
        "SELECT * FROM a LEFT JOIN b ON a.k = b.k"
    )
    assert translate("SELECT * FROM a WHERE k GLOBAL IN (SELECT k FROM b)") == (
        "SELECT * FROM a WHERE k IN (SELECT k FROM b)"
    )
    for bad in [
        "SELECT * FROM a ANY LEFT JOIN b ON a.k = b.k",
        "SELECT * FROM a ASOF JOIN b ON a.k = b.k AND a.ts >= b.ts",
    ]:
        with _pytest.raises(UnsupportedClickHouseSQL):
            translate(bad)


# ---- multiIf translation semantics fuzz -----------------------------------
# random nested multiIf trees over integer literals and comparisons; the
# translated CASE WHEN must evaluate (in DuckDB) to the value a direct
# Python interpretation of ClickHouse multiIf semantics produces
_MI_LEAF = st.integers(min_value=-99, max_value=99)


def _mi_tree(depth: int):
    if depth == 0:
        return _MI_LEAF
    child = st.deferred(lambda: _mi_tree(depth - 1))
    node = st.tuples(
        st.lists(
            st.tuples(st.integers(-5, 5), st.integers(-5, 5), child),
            min_size=1,
            max_size=3,
        ),
        child,
    )
    return st.one_of(_MI_LEAF, node)


def _mi_render(t) -> str:
    if isinstance(t, int):
        return str(t)
    arms, els = t
    parts = []
    for a, b, v in arms:
        parts.append(f"{a} > {b}")
        parts.append(_mi_render(v))
    parts.append(_mi_render(els))
    return f"multiIf({', '.join(parts)})"


def _mi_eval(t) -> int:
    if isinstance(t, int):
        return t
    arms, els = t
    for a, b, v in arms:
        if a > b:
            return _mi_eval(v)
    return _mi_eval(els)


@settings(**_SETTINGS)
@given(_mi_tree(3))
def test_ch_dialect_multiif_semantics_fuzz(tree):
    import duckdb

    from clickhouse_data_rebalance_spark.plans.ch_dialect import translate

    sql = translate(f"SELECT {_mi_render(tree)} AS v")
    got = duckdb.sql(sql).fetchone()[0]
    assert got == _mi_eval(tree), f"{_mi_render(tree)} -> {sql}"


def test_asof_nearest_edge_semantics(spark, tmp_path_factory):
    """Crafted edge cases the fixture never produces: a purchaser with
    NO clicks (NULL match), an exact distance tie (earlier click wins),
    a same-ts click (distance zero, side='back'), and a strictly nearer
    forward click. The operator runs on a synthetic events table laid
    out like the fixture (other tables symlinked from sf0.001)."""
    import os

    from tests.conftest import SF_SMALL

    base = tmp_path_factory.mktemp("asof_edge")
    for name in os.listdir(SF_SMALL):
        if name != "events.parquet":
            os.symlink(os.path.join(SF_SMALL, name), base / name)
    rows = [
        # user 1: clicks at 09:50 and 10:05; purchase 10:00 -> fwd (5 < 10)
        (1, "2024-01-01 09:50:00", 1, "click", 1.0, "{}"),
        (2, "2024-01-01 10:05:00", 1, "click", 2.0, "{}"),
        (3, "2024-01-01 10:00:00", 1, "purchase", 9.0, "{}"),
        # user 2: clicks at 09:55 and 10:05; purchase 10:00 -> tie -> back
        (4, "2024-01-01 09:55:00", 2, "click", 3.0, "{}"),
        (5, "2024-01-01 10:05:00", 2, "click", 4.0, "{}"),
        (6, "2024-01-01 10:00:00", 2, "purchase", 9.0, "{}"),
        # user 3: purchase, no clicks -> NULL match
        (7, "2024-01-01 10:00:00", 3, "purchase", 9.0, "{}"),
        # user 4: click at the same ts -> distance 0, side='back'
        (8, "2024-01-01 10:00:00", 4, "click", 5.0, "{}"),
        (9, "2024-01-01 10:00:00", 4, "purchase", 9.0, "{}"),
    ]
    df = spark.createDataFrame(
        rows, "event_id LONG, ts STRING, user_id LONG, event_type STRING, "
        "value DOUBLE, props STRING"
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    df.coalesce(1).write.mode("overwrite").parquet(str(base / "events.parquet"))

    from clickhouse_data_rebalance_spark.operators.joins import asof_join_nearest

    out = {
        r["event_id"]: (r["click_value"], r["side"])
        for r in asof_join_nearest(spark, str(base)).collect()
    }
    assert out[3] == (2.0, "fwd")  # nearer forward click
    assert out[6] == (3.0, "back")  # exact tie -> earlier (backward) click
    assert out[7] == (None, None)  # no clicks at all
    assert out[9] == (5.0, "back")  # same-ts click, distance zero


def test_weighted_sample_es_matches_python_model(spark, sf_dir):
    """The ES selection must equal a direct Python evaluation of the
    same exponential key over the same md5 draws — the engine query is
    a rank window, the model is a per-stratum sort; agreement pins both
    the key arithmetic and the tie handling."""
    import hashlib
    import math

    import duckdb

    from clickhouse_data_rebalance_spark import registry

    registry.load_all()
    got = [
        (r["source"], r["doc_id"], r["rnk"])
        for r in registry.QUERIES["weighted_sample_es"](spark, sf_dir).collect()
    ]

    docs = duckdb.sql(
        f"SELECT source, doc_id, n_chars FROM '{sf_dir}/documents.parquet'"
    ).fetchall()
    by_source: dict[str, list] = {}
    for source, doc_id, n_chars in docs:
        v = int(hashlib.md5(str(doc_id).encode()).hexdigest()[:12], 16)
        u = (v + 0.5) / float(1 << 48)
        by_source.setdefault(source, []).append(
            (math.log(u) / n_chars, doc_id)
        )
    want = []
    for source in sorted(by_source):
        ranked = sorted(by_source[source], key=lambda t: (-t[0], t[1]))[:20]
        want.extend(
            (source, doc_id, rnk + 1) for rnk, (_, doc_id) in enumerate(ranked)
        )
    assert got == want


def test_ch_dialect_review_fix_regressions():
    """Round-7 self-review fixes: array-literal commas stay whole in
    multiIf; GLOBAL/WITH FILL inside string literals never trigger
    refusals; an unaliased second ARRAY JOIN operand refuses (it would
    otherwise mistranslate into a dangling comma join); the quantile
    combinator zoo (Weighted/BFloat16/...) gets the pointered refusal;
    a wide SELECT of sibling multiIfs has no depth cap."""
    import pytest as _pytest

    from clickhouse_data_rebalance_spark.plans.ch_dialect import (
        UnsupportedClickHouseSQL,
        translate,
    )

    assert translate("SELECT multiIf(a > 1, [1,2,3], e) FROM t") == (
        "SELECT (CASE WHEN a > 1 THEN array(1,2,3) ELSE e END) FROM t"
    )
    assert translate("SELECT x FROM t WHERE note = 'GLOBAL SALES'") == (
        "SELECT x FROM t WHERE note = 'GLOBAL SALES'"
    )
    assert translate("SELECT 'WITH FILL' AS s FROM t") == (
        "SELECT 'WITH FILL' AS s FROM t"
    )
    for bad in [
        "SELECT x FROM t ARRAY JOIN xs AS x, ys",
        # quantileExactWeighted TRANSLATES since r11 (VERDICT r10 #6);
        # the sketch-backed weighted combinator still refuses
        "SELECT quantileTimingWeighted(0.9)(x, w) FROM t",
        "SELECT quantileBFloat16(0.5)(x) FROM t",
    ]:
        with _pytest.raises(UnsupportedClickHouseSQL):
            translate(bad)
    wide = (
        "SELECT "
        + ", ".join(f"multiIf(a > {i}, 1, 2) AS c{i}" for i in range(40))
        + " FROM t"
    )
    assert translate(wide).count("CASE") == 40


def test_avro_source_refusal_is_classpath_specific(spark):
    """In this container spark-avro is absent: avro_source must raise
    the pointered NotImplementedError (not an opaque AnalysisException),
    and only for the missing-data-source failure."""
    import pytest as _pytest

    from clickhouse_data_rebalance_spark.sources.connectors import avro_source

    with _pytest.raises(NotImplementedError, match="spark-avro"):
        avro_source(spark, "/tmp/nonexistent.avro")


def test_ch_dialect_bracket_rewrites():
    """ClickHouse bracket syntax: arr[1] is 1-BASED (Spark's bracket is
    0-based — a silent off-by-one if passed through) so identifier-based
    indexing becomes element_at (1-based, negative-from-end, like CH);
    [a,b,c] literals become array(a,b,c); computed-base indexing and
    tuple access refuse with pointers; quoted data stays untouched."""
    import pytest as _pytest

    from clickhouse_data_rebalance_spark.plans.ch_dialect import (
        UnsupportedClickHouseSQL,
        translate,
    )

    assert translate("SELECT arr[1] FROM t") == (
        "SELECT try_element_at(arr, nullif(1, 0)) FROM t"
    )
    assert translate("SELECT arr[-1] FROM t") == (
        "SELECT try_element_at(arr, nullif(-1, 0)) FROM t"
    )
    assert translate("SELECT a.b[i+1] FROM t") == (
        "SELECT try_element_at(a.b, nullif(i+1, 0)) FROM t"
    )
    assert translate("SELECT m[a[1]] FROM t") == (
        "SELECT try_element_at(m, nullif(try_element_at(a, nullif(1, 0)), 0)) FROM t"
    )
    # IN takes the parenthesized-list translation, not array()
    assert translate("SELECT x FROM t WHERE a IN [1,2]") == (
        "SELECT x FROM t WHERE a IN (1,2)"
    )
    assert translate("SELECT [1,2,3] AS xs FROM t") == (
        "SELECT array(1,2,3) AS xs FROM t"
    )
    # r13 wave 4: has carries CH's NULL-as-a-value rule via a <=> lambda
    assert translate("SELECT has([1,2], x) FROM t") == (
        "SELECT exists(array(1,2), cdr_h_ -> cdr_h_ <=> (x)) FROM t"
    )
    assert translate("SELECT 'a[1]' AS s FROM t") == (
        "SELECT 'a[1]' AS s FROM t"
    )
    for bad in ["SELECT f(x)[1] FROM t", "SELECT t.1 FROM t"]:
        with _pytest.raises(UnsupportedClickHouseSQL):
            translate(bad)


def test_ch_dialect_datetime_and_string_rewrites():
    """Round-7 scalar additions: date-part extraction, now(), match ->
    RLIKE, position -> locate (swapped args), replace family, and the
    formatDateTime %-token mapping with literal-run quoting; %M and
    unknown tokens refuse."""
    import pytest as _pytest

    from clickhouse_data_rebalance_spark.plans.ch_dialect import (
        UnsupportedClickHouseSQL,
        translate,
    )

    assert translate("SELECT toYear(d), toQuarter(d), toMonth(d), toISOWeek(d) FROM t") == (
        "SELECT year(d), quarter(d), month(d), weekofyear(d) FROM t"
    )
    assert translate("SELECT now() AS ts FROM t") == (
        "SELECT current_timestamp() AS ts FROM t"
    )
    assert translate("SELECT match(s, '^ab.*') AS m FROM t") == (
        "SELECT (s RLIKE '^ab.*') AS m FROM t"
    )
    # r13 wave 4: CH position returns BYTE offsets — the lowering
    # converts locate's char position via the prefix's octet_length
    assert translate("SELECT position(s, 'x') AS p FROM t") == (
        "SELECT (CASE WHEN locate('x', s) = 0 THEN 0 ELSE "
        "octet_length(substring(s, 1, locate('x', s) - 1)) + 1 END) "
        "AS p FROM t"
    )
    assert translate("SELECT positionUTF8(s, 'x') AS p FROM t") == (
        "SELECT locate('x', s) AS p FROM t"
    )
    assert translate("SELECT replaceAll(s, 'a', 'b') FROM t") == (
        "SELECT replace(s, 'a', 'b') FROM t"
    )
    assert translate("SELECT replaceRegexpAll(s, '[0-9]+', '#') FROM t") == (
        "SELECT regexp_replace(s, '[0-9]+', '#') FROM t"
    )
    # EVERY literal run is quoted for the Java pattern (letters are
    # tokens; [ ] are reserved optional-section markers that would be
    # silently dropped), with quotes doubled through the SQL literal
    assert translate("SELECT formatDateTime(ts, '%Y-%m-%d %H:%i:%S') FROM t") == (
        "SELECT date_format(ts, 'yyyy''-''MM''-''dd'' ''HH'':''mm'':''ss') FROM t"
    )
    assert translate("SELECT formatDateTime(ts, '%Fat %T') FROM t") == (
        "SELECT date_format(ts, 'yyyy-MM-dd''at ''HH:mm:ss') FROM t"
    )
    for bad in [
        "SELECT formatDateTime(ts, '%M') FROM t",
        "SELECT formatDateTime(ts, '%Q') FROM t",
        "SELECT formatDateTime(ts, fmt_col) FROM t",
    ]:
        with _pytest.raises(UnsupportedClickHouseSQL):
            translate(bad)


def test_ch_dialect_second_review_regressions(spark):
    """Second self-review pass: forms that previously passed through to
    Spark builtins with REVERSED argument order (position) or divergent
    replacement dialects (replaceRegexpAll backrefs) now refuse; OOB
    indexing returns NULL (try_element_at) instead of an ANSI crash."""
    import pytest as _pytest

    from clickhouse_data_rebalance_spark.plans.ch_dialect import (
        UnsupportedClickHouseSQL,
        translate,
    )

    for bad in [
        # Spark HAS position(substr, str[, pos]) — reverse of CH's
        # argument order — so pass-through would be silently wrong
        "SELECT position(event_type, 'c', 2) FROM events",
        "SELECT position(lower(trim(s)), 'x') FROM t",
        "SELECT match(lower(trim(s)), 'p') FROM t",
        # CH backreference \1 is a literal digit in Java; bare $ is a
        # Java group reference
        "SELECT replaceRegexpAll(s, '(\\d)', '\\1x') FROM t",
        "SELECT replaceRegexpAll(s, 'p', 'costs $1') FROM t",
        "SELECT CASE WHEN a THEN b ELSE c END[1] FROM t",
    ]:
        with _pytest.raises(UnsupportedClickHouseSQL):
            translate(bad)
    # out-of-range / zero index: NULL (DuckDB list semantics), never an
    # ANSI crash, and in-range stays 1-based
    row = spark.sql(
        translate(
            "SELECT tk[1] AS a, tk[5] AS b, tk[0] AS c "
            "FROM (SELECT [10,20] AS tk)"
        )
    ).collect()[0]
    assert (row["a"], row["b"], row["c"]) == (10, None, None)
    # formatDateTime reserved chars: [ ] must survive as literals
    out = spark.sql(
        translate("SELECT formatDateTime(to_date('2024-05-03'), '%Y[%m]') AS s")
    ).collect()[0]["s"]
    assert out == "2024[05]"


def test_ch_dialect_rewrites_never_fire_inside_literals():
    """r7-judge medium finding: every rewrite stage (multiIf, the
    _REWRITES table, formatDateTime, replaceRegexpAll, LIMIT BY,
    brackets) must locate matches on the literal-masked copy — CH
    function names INSIDE a single-quoted string are data, and
    rewriting them is silent data corruption."""
    import pytest as _pytest

    from clickhouse_data_rebalance_spark.plans.ch_dialect import (
        UnsupportedClickHouseSQL,
        translate,
    )

    # the judge's exact repros
    assert translate(
        "SELECT multiIf(a, 'has multiIf(x, 1, 2) inside', 0) FROM t"
    ) == "SELECT (CASE WHEN a THEN 'has multiIf(x, 1, 2) inside' ELSE 0 END) FROM t"
    assert (
        translate("SELECT x FROM t WHERE note = 'use argMax(a, b)'")
        == "SELECT x FROM t WHERE note = 'use argMax(a, b)'"
    )
    # one literal per rewrite family: name-only, _ARG-template, clause
    for sql in [
        "SELECT x FROM t WHERE s = 'toUInt32(x) and sumIf(a, b)'",
        "SELECT x FROM t WHERE s = 'formatDateTime(ts, c)'",
        "SELECT x FROM t WHERE s = 'replaceRegexpAll(s, p, r)'",
        "SELECT x FROM t WHERE s = 'GROUP BY k WITH TOTALS'",
        "SELECT x, 'no LIMIT 3 BY here' AS lbl FROM t",
        "SELECT x FROM t WHERE s = 'position(h, n) arrayJoin(a)'",
        # r11 rewrite families: weighted quantiles / topK / avg
        "SELECT x FROM t WHERE s = 'quantileExactWeighted(0.5)(v, w)'",
        "SELECT x FROM t WHERE s = 'medianExactWeighted(v, w)'",
        "SELECT x FROM t WHERE s = 'topKWeighted(3)(v, w) avgWeighted(v, w)'",
        # r12 rewrite families: exact rank rules + datetime diff
        "SELECT x FROM t WHERE s = 'quantileExactLow(v) medianExactHigh(v)'",
        "SELECT x FROM t WHERE s = 'quantilesExactExclusive(0.25)(v)'",
        "SELECT x FROM t WHERE s = 'quantileExactInclusive(0.5)(v)'",
        "SELECT x FROM t WHERE s = 'dateDiff(''day'', a, b) age(u, a, b)'",
        "SELECT x FROM t WHERE s = 'extract(h, p) locate(h, n)'",
    ]:
        assert translate(sql) == sql, sql
    # group captures that CONTAIN literals splice raw content, and
    # literal-only groups (format string, JSON key) keep real text
    assert translate("SELECT sumIf(a, b = 'x, (y)') FROM t") == (
        "SELECT sum(a) FILTER (WHERE b = 'x, (y)') FROM t"
    )
    assert translate("SELECT formatDateTime(ts, '%Y%m') FROM t") == (
        "SELECT date_format(ts, 'yyyyMM') FROM t"
    )
    assert translate("SELECT JSONExtractString(j, 'name') FROM t") == (
        "SELECT get_json_object(j, '$.name') FROM t"
    )
    # string-literal bracket base: refusal (was 'abc'array(1) garbage)
    with _pytest.raises(UnsupportedClickHouseSQL, match="literal base"):
        translate("SELECT 'abc'[1] FROM t")
    # and the module imports without DeprecationWarning (raw docstring)
    import warnings

    import clickhouse_data_rebalance_spark.plans.ch_dialect as _m

    with warnings.catch_warnings():
        warnings.simplefilter("error")
        with open(_m.__file__) as src:
            compile(src.read(), _m.__file__, "exec")


def test_ch_dialect_parametric_agg_zoo_refuses_with_pointers():
    """r8 wave: the parametric-aggregate zoo (Map combinators, funnels,
    sequences, retention, block-local running fns, engine-specific hash
    families, presentation formatters, theta sketches) must refuse with
    a pointer at the native operator — and the 2-arg numbers() offset
    form plus too-deep arithmetic nesting must hit the residual refusal
    instead of reaching Spark as opaque parse errors."""
    import pytest as _pytest

    from clickhouse_data_rebalance_spark.plans.ch_dialect import (
        UnsupportedClickHouseSQL,
        translate,
    )

    for bad, pointer in [
        ("SELECT sumMap(k, v) FROM t", "map_funcs"),
        ("SELECT maxMap(k, v) FROM t", "map_funcs"),
        ("SELECT histogram(5)(x) FROM t", "histogram_agg"),
        ("SELECT windowFunnel(3600)(ts, a, b) FROM t", "window_funnel_levels"),
        ("SELECT sequenceCount('(?1)(?2)')(ts, a, b) FROM t", "sequence_count_pattern"),
        ("SELECT retention(a, b) FROM t", "retention_conditions"),
        ("SELECT runningDifference(x) FROM t", "window functions"),
        ("SELECT neighbor(x, 1) FROM t", "window functions"),
        ("SELECT cityHash64(x) FROM t", "xxhash64"),
        ("SELECT sipHash64(x) FROM t", "xxhash64"),
        ("SELECT halfMD5(x) FROM t", "xxhash64"),
        ("SELECT formatReadableSize(x) FROM t", "client-side"),
        ("SELECT uniqTheta(x) FROM t", "theta_set_ops"),
        ("SELECT number FROM numbers(5, 10)", "residual"),
        ("SELECT plus(a, plus(b, plus(c, d))) FROM t", "residual"),
    ]:
        with _pytest.raises(UnsupportedClickHouseSQL) as ei:
            translate(bad)
        if pointer != "residual":
            assert pointer in str(ei.value), (bad, str(ei.value))
    # literal safety holds for the new names too
    sql = "SELECT x FROM t WHERE s = 'sumMap(k, v) and plus(a, b)'"
    assert translate(sql) == sql


def test_ch_dialect_wave5_query_tails():
    """r8 wave 5: SETTINGS tails strip, MySQL-style LIMIT offset,count
    rewrites to OFFSET, and INTO OUTFILE / dictGet / scalar WITH /
    WITH RECURSIVE / offset-LIMIT-BY refuse with operator pointers —
    while WITH TOTALS (translatable) and CTE WITH stay untouched."""
    import pytest as _pytest

    from clickhouse_data_rebalance_spark.plans.ch_dialect import (
        UnsupportedClickHouseSQL,
        translate,
    )

    assert translate("SELECT x FROM t SETTINGS max_threads = 4").rstrip() == (
        "SELECT x FROM t"
    )
    assert translate("SELECT x FROM t SETTINGS a = 1 FORMAT JSON").rstrip() == (
        "SELECT x FROM t"
    )
    assert translate("SELECT x FROM t LIMIT 5, 10") == (
        "SELECT x FROM t LIMIT 10 OFFSET 5"
    )
    # CTE + WITH TOTALS still pass; scalar/recursive WITH refuse
    assert translate("WITH top AS (SELECT x FROM t) SELECT * FROM top") == (
        "WITH top AS (SELECT x FROM t) SELECT * FROM top"
    )
    assert "GROUPING SETS" in translate(
        "SELECT event_type, count() FROM events GROUP BY event_type WITH TOTALS"
    )
    # LIMIT offset, n BY now translates (r9 wave 2): skip-take as a
    # rank RANGE over the same materialized ROW_NUMBER plan
    off_form = translate("SELECT x, y FROM t ORDER BY y LIMIT 2, 3 BY x")
    assert "_cdr_rn BETWEEN 3 AND 5" in off_form
    for bad, ptr in [
        ("SELECT x FROM t INTO OUTFILE 'o.csv'", "sinks are explicit"),
        ("SELECT dictGet('d', 'a', k) FROM t", "broadcast dimension"),
        ("WITH 5 AS c SELECT c FROM t", "scalar WITH"),
        ("WITH RECURSIVE r AS (SELECT 1) SELECT * FROM r", "recursive_cte_chain"),
        # third-review regressions: non-tail SETTINGS must refuse (the
        # unanchored strip swallowed the outer query), 2-arg trims must
        # refuse (Spark's arg order is REVERSED — silent wrong data),
        # WITH TIES points at a rank window
        ("SELECT a FROM (SELECT a FROM t SETTINGS m = 1) s WHERE a > 0", "non-tail"),
        ("SELECT a FROM t SETTINGS x = 1 UNION ALL SELECT b FROM u", "non-tail"),
        ("SELECT trimLeft(s, 'xy') FROM t", "could not rewrite"),
        # WITH TIES beyond the single-ascending-key tail still refuses
        ("SELECT x FROM t ORDER BY x DESC LIMIT 5 WITH TIES", "rank()"),
        ("SELECT x FROM t ORDER BY x, y LIMIT 5 WITH TIES", "rank()"),
    ]:
        with _pytest.raises(UnsupportedClickHouseSQL) as ei:
            translate(bad)
        assert ptr in str(ei.value), (bad, str(ei.value))
    # literal safety for the tail clauses
    for sql in [
        "SELECT x FROM t WHERE s = 'SETTINGS a = 1'",
        "SELECT x FROM t WHERE s = 'LIMIT 5, 10'",
        "SELECT x FROM t WHERE s = 'INTO OUTFILE here'",
    ]:
        assert translate(sql) == sql, sql


def test_ch_dialect_wave6_stats_and_arrays():
    """r8 wave 6: camelCase moment/bit aggregates, trims, fixed-
    precision decimal casts, and array name-rewrites translate; the
    type-preserving/runtime-name array reducers and the median family
    refuse with pointers."""
    import pytest as _pytest

    from clickhouse_data_rebalance_spark.plans.ch_dialect import (
        UnsupportedClickHouseSQL,
        translate,
    )

    assert translate("SELECT groupBitAnd(f), stddevPop(v), covarSamp(a, b) FROM t") == (
        "SELECT bit_and(f), stddev_pop(v), covar_samp(a, b) FROM t"
    )
    assert translate("SELECT toDecimal64(price, 4) FROM t") == (
        "SELECT CAST(price AS DECIMAL(18, 4)) FROM t"
    )
    assert translate("SELECT arrayUniq(a), arrayMin(a), arrayConcat(a, b) FROM t") == (
        "SELECT size(array_distinct(a)), array_min(a), concat(a, b) FROM t"
    )
    assert translate("SELECT trimLeft(s), trimBoth(s) FROM t") == (
        "SELECT ltrim(s), trim(s) FROM t"
    )
    for bad, ptr in [
        ("SELECT medianTDigest(v) FROM t", "median_exact"),
        ("SELECT arrayReduce('sum', a) FROM t", "lambda"),
        ("SELECT arraySum(a) FROM t", "lambda"),
        ("SELECT arrayCumSum(a) FROM t", "lambda"),
        ("SELECT toDecimal32(x, y) FROM t", "could not rewrite"),  # runtime scale
    ]:
        with _pytest.raises(UnsupportedClickHouseSQL) as ei:
            translate(bad)
        assert ptr in str(ei.value), (bad, str(ei.value))
    s = "SELECT x FROM t WHERE n = 'stddevPop(v) arraySum(a) median(x)'"
    assert translate(s) == s
    # uniqUpTo: exact saturating count-distinct; runtime N -> residual
    assert translate("SELECT uniqUpTo(5)(user_id) FROM t") == (
        "SELECT LEAST(COUNT(DISTINCT user_id), 5 + 1) FROM t"
    )
    with _pytest.raises(UnsupportedClickHouseSQL):
        translate("SELECT uniqUpTo(n)(user_id) FROM t")


def test_ch_dialect_translations_all_parse_in_spark(spark, sf_dir):
    """Safety net across the whole rewrite table: for one representative
    query per supported construct, translate() must produce SQL that
    Spark actually PARSES AND ANALYZES against the fixture views —
    catching any rewrite that emits well-intentioned garbage. (Refusals
    are covered by the per-construct tests; this is the accept path.)"""
    from clickhouse_data_rebalance_spark.plans.ch_dialect import translate
    from clickhouse_data_rebalance_spark.tables import load_tables

    for name, df in load_tables(spark, sf_dir).items():
        df.createOrReplaceTempView(name)
    queries = [
        "SELECT toUInt32(count()) FROM orders",
        "SELECT toFloat64(o_totalprice), toString(o_orderkey) FROM orders",
        "SELECT toDate(ts), toDateTime('2024-01-01 00:00:00') FROM events",
        "SELECT toStartOfHour(ts), toStartOfDay(ts), toStartOfMonth(ts), toStartOfYear(ts) FROM events",
        "SELECT toYYYYMMDD(ts), toYYYYMM(ts) FROM events",
        "SELECT toYear(ts), toQuarter(ts), toMonth(ts), toISOWeek(ts), toHour(ts), toMinute(ts), toSecond(ts) FROM events",
        "SELECT toDayOfMonth(ts), toDayOfYear(ts), toDayOfWeek(ts), toMonday(ts), toUnixTimestamp(ts) FROM events",
        "SELECT today(), yesterday(), now()",
        "SELECT countIf(value > 1), sumIf(value, value > 1), avgIf(value, value > 0), minIf(value, value > 0), maxIf(value, value > 0) FROM events",
        "SELECT uniqExact(user_id), uniq(user_id), any(event_type), anyLast(event_type) FROM events",
        "SELECT argMax(user_id, event_id), argMin(user_id, event_id) FROM events",
        "SELECT arraySort(groupUniqArray(event_type)), groupArray(event_id) FROM events",
        "SELECT multiIf(value > 10, 'hi', value > 1, 'mid', 'lo') FROM events",
        "SELECT arrayMap(x -> x * 2, [1, 2, 3]), arrayFilter(x -> x > 1, [1, 2, 3])",
        "SELECT arrayExists(x -> x > 2, [1, 2]), arrayAll(x -> x > 0, [1, 2])",
        "SELECT arrayDistinct([1, 1, 2]), arraySort([3, 1]), arrayReverse([1, 2]), arraySlice([1, 2, 3], 1, 2)",
        "SELECT JSONExtractString(props, 'k'), JSONExtractInt(props, 'n') FROM events",
        "SELECT intDiv(event_id, 7), modulo(event_id, 7) FROM events",
        "SELECT splitByChar(' ', text), lengthUTF8(text), notEmpty(text), empty(text) FROM documents",
        "SELECT has([1, 2], 1), indexOf([1, 2], 2), arrayStringConcat(['a', 'b'], '-')",
        "SELECT match(event_type, '^cl'), position(event_type, 'c') FROM events",
        "SELECT replaceAll(event_type, 'c', 'k'), replaceRegexpAll(event_type, '[aeiou]', '_') FROM events",
        "SELECT formatDateTime(ts, '%Y-%m-%d %H:%i:%S') FROM events",
        "SELECT tk[1] FROM (SELECT splitByChar(' ', text) AS tk FROM documents)",
        "SELECT event_id FROM events WHERE event_id IN [1, 2, 3]",
        "SELECT x FROM (SELECT arrayJoin([1, 2]) AS x)",
        "SELECT e.event_id FROM events e GLOBAL JOIN events f ON e.event_id = f.event_id",
        "SELECT event_type, count() FROM events GROUP BY event_type WITH TOTALS",
        "SELECT event_type FROM events PREWHERE value > 1 FORMAT TabSeparated",
        "SELECT event_type, value FROM events ORDER BY value LIMIT 2 BY event_type",
        # r8 wave: arithmetic spellings, type assertion, enumerate, pads,
        # numbers() table function (column name preserved)
        "SELECT plus(value, 1), minus(value, 2), multiply(value, 2), divide(value, 2) FROM events",
        "SELECT assumeNotNull(value), arrayEnumerate([10, 20, 30]) FROM events",
        "SELECT leftPad(event_type, 8, '0'), rightPad(event_type, 8, ' ') FROM events",
        "SELECT number FROM numbers(10)",
        # r8 wave 6: bit/moment aggregates, trims, decimal casts, array
        # name-rewrites — all must analyze against the fixture views
        "SELECT groupBitAnd(event_id), groupBitOr(event_id), groupBitXor(event_id) FROM events",
        "SELECT stddevPop(value), stddevSamp(value), varPop(value), varSamp(value) FROM events",
        "SELECT covarPop(value, event_id), covarSamp(value, event_id) FROM events",
        "SELECT trimLeft(event_type), trimRight(event_type), trimBoth(event_type) FROM events",
        "SELECT toDecimal32(value, 2), toDecimal64(value, 4), toDecimal128(value, 6) FROM events",
        "SELECT arrayConcat([1, 2], [3]), arrayMin([3, 1]), arrayMax([3, 1]), arrayUniq([1, 1, 2])",
        # r8 wave 5 tails: offset-form LIMIT and stripped SETTINGS must
        # yield SQL Spark actually parses (third-review finding: these
        # were only string-asserted, never analyzed)
        "SELECT event_id FROM events ORDER BY event_id LIMIT 5, 10",
        "SELECT event_id FROM events SETTINGS max_threads = 4",
        "SELECT uniqUpTo(3)(event_type) FROM events",
        # r13 second wave: substring byte family, week/quarter/minute
        # rounding, scalar bit ops, multiSearchAny, arrayCompact
        "SELECT substring(event_type, 2, 3), substr(event_type, 2), mid(event_type, 1, 4), substringUTF8(event_type, 1, 2) FROM events",
        "SELECT toStartOfWeek(ts), toStartOfWeek(ts, 1), toStartOfQuarter(ts), toStartOfMinute(ts) FROM events",
        "SELECT bitAnd(event_id, 255), bitOr(event_id, 1), bitXor(event_id, 7), bitNot(event_id) FROM events",
        "SELECT multiSearchAny(event_type, ['cl', 'vi']), arrayCompact([1, 1, 2]) FROM events",
        "SELECT lower(event_type), upper(event_type), lowerUTF8(event_type), upperUTF8(event_type) FROM events",
        "SELECT hasAll([1, 2], [1]), hasAny([1], [2]), countEqual([1, 1], 1), arrayElement([1, 2], 1) FROM events",
        "SELECT positionUTF8(event_type, 'c'), substringIndex(event_type, 'i', 1), reverseUTF8(event_type) FROM events",
        "SELECT left(event_type, 2), right(event_type, 2), leftUTF8(event_type, 2), rightUTF8(event_type, 2), countSubstrings(event_type, 'c') FROM events",
        "SELECT leftPadUTF8(event_type, 9, '*'), rightPadUTF8(event_type, 9, '*') FROM events",
        "SELECT mapKeys(map('a', 1)), mapValues(map('a', 1)), mapContains(map('a', 1), 'a'), mapFromArrays(['k'], [1]) FROM events",
        "SELECT event_type, count() FROM events GROUP BY event_type WITH ROLLUP",
        "SELECT event_type, value, count() FROM events GROUP BY event_type, value WITH CUBE",
    ]
    for q in queries:
        out = translate(q)
        # schema access forces full parse + analysis, no execution
        spark.sql(out).schema


# hostile literal contents: every rewrite family's trigger text, clause
# keywords, brackets, refusal triggers — none may be altered when they
# appear INSIDE a single-quoted string
_TRAP_LITERALS = st.sampled_from(
    [
        "multiIf(x, 1, 2) here",
        "use argMax(a, b)",
        "toUInt32(x) and sumIf(a, b)",
        "formatDateTime(ts, c)",
        "replaceRegexpAll(s, p, r)",
        "GROUP BY k WITH TOTALS",
        "GROUP BY toYear(d), substring(s, 1, 1) WITH TOTALS",
        "ARRAY JOIN a AS x, b AS y",
        "LIMIT 3 BY c",
        "LIMIT 5, 10",
        "SETTINGS a = 1",
        "INTO OUTFILE x",
        "GLOBAL JOIN",
        "ARRAY JOIN e AS x",
        "arr[1] and [1,2,3]",
        "PREWHERE v FORMAT JSON",
        "quantile(0.5)(x) topK(3)(y)",
        "quantileExactLow(x) quantilesExactExclusive(0.25)(y)",
        "medianExactHigh(v) quantileExactInclusive(0.5)(v)",
        "dateDiff(day, a, b) age(hour, a, b)",
        "extract(s, p) locate(h, n)",
        "WITH 5 AS c",
        "dictGet(d, a, k)",
        "plus(a, b) divide(c, d)",
        "position(h, n) arrayJoin(a)",
        "toInt32OrZero(s) toFloat64OrDefault(x, 1)",
        "toInt64OrNull(s) toUInt8OrZero(y)",
        "substring(s, 0, 1) mid(s, 1)",
        "bitAnd(a, b) bitShiftLeft(a, 2) bitCount(x)",
        "toStartOfWeek(d, 1) arrayCompact(a)",
        "multiSearchAny(h, ['x']) toStartOfMinute(t)",
        "lower(s) upperUTF8(s) arrayFirst(f, a)",
        "hasAll(a, b) countEqual(a, x) arrayElement(a, 1)",
        "reverse(s) positionUTF8(h, n) substringIndex(s, d, 2)",
        "has(a, x) indexOf(a, x) reverseUTF8(s)",
        "splitByChar('.', s) splitByString('', x)",
        "left(s, 3) right(s, n) countSubstrings(h, '')",
        "leftPad(s, 8) rightPadUTF8(s, 8, '*')",
    ]
)


@settings(**_SETTINGS)
@given(
    lits=st.lists(_TRAP_LITERALS, min_size=1, max_size=3),
    col=st.sampled_from(["x", "event_type", "note"]),
)
def test_ch_dialect_literal_preservation_property(lits, col):
    """PROPERTY (r7-judge medium finding, generalized): for ANY
    combination of rewrite-trigger texts embedded as string literals,
    translate() must return every literal byte-for-byte — rewrites,
    refusals, and clause strips all operate on the literal-masked copy,
    so data can never be mistaken for SQL."""
    from clickhouse_data_rebalance_spark.plans.ch_dialect import translate

    preds = " AND ".join(f"{col} <> '{t}'" for t in lits)
    sql = f"SELECT {col} FROM t WHERE {preds}"
    out = translate(sql)
    assert out == sql  # nothing outside literals to rewrite, either
    # and when real rewrites DO fire outside, literals still survive
    sql2 = f"SELECT toUInt32(n), {col} FROM t WHERE {preds}"
    out2 = translate(sql2)
    assert out2 == f"SELECT CAST(n AS BIGINT), {col} FROM t WHERE {preds}"


# ---- round-9 dialect rewrites: quantile family, topK, WITH FILL ----


def test_ch_dialect_quantile_topk_rewrites():
    from clickhouse_data_rebalance_spark.plans.ch_dialect import (
        UnsupportedClickHouseSQL,
        translate,
    )

    # singular quantile/median lower to the sorted-list R-7 interpolation
    # (r16: bit-identical to percentile(x, p) but without its per-distinct
    # -value hashmap state — see _interp_quantile_expr); pin the
    # structural markers: one sort, the level's double position, the
    # empty-group NULL guard
    out = translate("SELECT quantile(0.9)(x) FROM t").strip()
    assert out.count("sort_array(collect_list(CAST(x AS DOUBLE)))") == 1
    assert "CAST(0.9 AS DOUBLE) * CAST(n - 1 AS BIGINT)" in out
    assert "WHEN n = 0 THEN CAST(NULL AS DOUBLE)" in out
    for sql in ("SELECT quantile(x) FROM t", "SELECT median(x) FROM t"):
        out = translate(sql).strip()
        assert out.count("sort_array(collect_list(CAST(x AS DOUBLE)))") == 1
        assert "CAST(0.5 AS DOUBLE) * CAST(n - 1 AS BIGINT)" in out
    # plural quantiles keep the bounded-state percentile aggregate
    assert translate("SELECT quantiles(0.25, 0.75)(x) FROM t").strip() == (
        "SELECT percentile(x, array(0.25, 0.75)) FROM t"
    )
    # the exact forms spell CH's floor(p*n) nearest-rank formula
    out = translate("SELECT quantileExact(0.25)(v) FROM t")
    assert "sort_array(collect_list(v))" in out
    assert "floor(0.25 * count(v))" in out
    assert "try_element_at" in out  # all-NULL group -> NULL, not error
    out = translate("SELECT medianExact(v) FROM t")
    assert "floor(0.5 * count(v))" in out
    # plural exact: ONE let-bound sort indexed per level (VERDICT r10 #5)
    out = translate("SELECT quantilesExact(0.1, 0.9)(v) FROM t")
    assert out.count("sort_array(collect_list(v))") == 1
    assert out.count("try_element_at(a,") == 2
    out = translate("SELECT topK(3)(mode) FROM t GROUP BY g")
    assert "collect_list(mode)" in out and "slice(" in out
    # the weighted EXACT form translates since r11 (VERDICT r10 #6):
    # sorted (v, w) structs let-bound once, decimal threshold (`tot` =
    # the let-bound total fold), saturating (sum, result) crossing fold
    out = translate("SELECT quantileExactWeighted(0.25)(v, w) FROM t")
    assert "named_struct('v', v, 'w', CAST(w AS BIGINT))" in out
    assert "floor(0.25 * tot)" in out
    assert "try_element_at" in out  # typed NULL for the not-found state
    out = translate("SELECT medianExactWeighted(v, w) FROM t")
    assert "floor(0.5 * tot)" in out
    # plural weighted: ONE sort and ONE total fold shared across levels
    out = translate("SELECT quantilesExactWeighted(0.1, 0.9)(v, w) FROM t")
    assert out.count("sort_array(collect_list(") == 1
    assert out.count("floor(0.1 * tot)") == 1
    assert out.count("floor(0.9 * tot)") == 1
    # r17 cross-expression fusion: >= 2 weighted-quantile calls over the
    # same (x, w) in one statement all spell the SAME canonical
    # multi-level fold (byte-identical texts — Spark's subexpression
    # elimination then evaluates the sort+fold once); the median
    # extracts its slot with element_at instead of paying its own sort
    out = translate(
        "SELECT quantilesExactWeighted(0.25, 0.5, 0.9)(v, w) AS wq, "
        "medianExactWeighted(v, w) AS med FROM t GROUP BY g"
    )
    start = out.find("element_at(transform(array(sort_array")
    assert start != -1, out
    canon = out[start : out.find(" AS wq")]
    assert out.count(canon) == 2, "med must reuse the wq canonical text"
    assert "element_at(" + canon + ", 2) AS med" in out
    # a single occurrence keeps the legacy singular spelling (no fusion)
    solo = translate("SELECT medianExactWeighted(v, w) FROM t")
    assert "'r', try_element_at" in solo  # singular fold state, not a slot
    # r11 weighted-aggregate rewrites: exact weight-sum top-K and
    # sum(x*w)/sum(w) with the explicit zero-total NaN arm
    out = translate("SELECT topKWeighted(2)(v, w) FROM t GROUP BY g")
    assert "named_struct('v', v, 'w', CAST(w AS BIGINT))" in out
    assert "'negw', -aggregate(filter(a, e -> e.v <=> v)" in out
    out = translate("SELECT avgWeighted(v, w) FROM t GROUP BY g")
    assert "CAST((v) AS DOUBLE) * CAST((w) AS DOUBLE)" in out
    assert "CAST('NaN' AS DOUBLE)" in out
    # r12 exact rank-rule rewrites (VERDICT r11 #5): Low's lower median
    # at level 0.5 exactly, quantileExact's floor(p*n) at other levels
    out = translate("SELECT quantileExactLow(v) FROM t GROUP BY g")
    assert "(count(v) + 1) DIV 2" in out
    out = translate("SELECT quantileExactLow(0.3)(v) FROM t")
    assert "floor(0.3 * count(v))" in out and "DIV" not in out
    # High coincides with quantileExact at every level (incl. 0.5)
    assert translate("SELECT quantileExactHigh(0.7)(v) FROM t") == translate(
        "SELECT quantileExact(0.7)(v) FROM t"
    )
    assert translate("SELECT medianExactHigh(v) FROM t") == translate(
        "SELECT medianExact(v) FROM t"
    )
    # Inclusive IS percentile's formula (Excel PERCENTILE.INC / R-7);
    # the singular form lowers to the same sorted-list interpolation as
    # quantile()/median() (r16 — bit-identical to percentile(v, p))
    assert translate(
        "SELECT quantileExactInclusive(0.25)(v) FROM t"
    ).strip() == translate("SELECT quantile(0.25)(v) FROM t").strip()
    # Exclusive: h = p*(n+1) with boundary arms; plural shares ONE sort
    out = translate("SELECT quantilesExactExclusive(0.25, 0.75)(v) FROM t")
    assert out.count("sort_array(collect_list(CAST(v AS DOUBLE)))") == 1
    assert "floor(0.25 * (n + 1))" in out and "floor(0.75 * (n + 1))" in out
    # a PLURAL spelling returns an array even with ONE level (CH's
    # quantiles* contract — a scalar would be a silent dtype
    # mistranslation); the singular spelling stays scalar
    assert translate(
        "SELECT quantilesExactInclusive(0.25)(v) FROM t"
    ).strip() == ("SELECT percentile(v, array(0.25)) FROM t")
    assert "a -> array(" in translate(
        "SELECT quantilesExactLow(0.5)(v) FROM t"
    )
    assert "n -> array(" in translate(
        "SELECT quantilesExactExclusive(0.25)(v) FROM t"
    )
    # levels outside [0, 1] refuse — CH throws PARAMETER_OUT_OF_BOUND
    # for every quantile* function (negative literals never parse as
    # levels and fall to the residual backstop instead)
    import pytest as _pytest

    for bad_lvl in (
        "SELECT quantileExact(2)(v) FROM t",
        "SELECT quantiles(0.5, 1.5)(v) FROM t",
        "SELECT quantileExactLow(1.5)(v) FROM t",
        "SELECT quantilesExactWeighted(1.01)(v, w) FROM t",
    ):
        with _pytest.raises(
            UnsupportedClickHouseSQL, match="PARAMETER_OUT_OF_BOUND"
        ):
            translate(bad_lvl)
    # sketch combinators still refuse — each changes the sketch
    for bad in (
        "SELECT quantileTiming(0.5)(x) FROM t",
        "SELECT quantileExactExclusive(0)(x) FROM t",  # CH BAD_ARGUMENTS
        "SELECT quantileExactExclusive(1.0)(x) FROM t",
        "SELECT quantileExactLow(0.5, 0.9)(x) FROM t",  # plural grammar
        "SELECT quantileTimingWeighted(0.5)(x, w) FROM t",
        "SELECT quantileTDigestWeighted(0.5)(x, w) FROM t",
        "SELECT quantileInterpolatedWeighted(0.5)(x, w) FROM t",
        "SELECT medianBFloat16(x) FROM t",
        "SELECT medianTimingWeighted(x, w) FROM t",
        "SELECT medianExactInclusive(x) FROM t",  # not a CH alias
        # topKWeighted(N)(x, w) translates since r11; a non-2-arg or
        # otherwise unparseable spelling still hits the topK residual
        "SELECT topKWeighted(3)(x) FROM t",
        "SELECT quantile(0.2, 0.8)(x) FROM t",  # not CH grammar
        # single-level grammar for the weighted form too
        "SELECT quantileExactWeighted(0.2, 0.8)(x, w) FROM t",
    ):
        try:
            translate(bad)
            raise AssertionError(f"should have refused: {bad}")
        except UnsupportedClickHouseSQL:
            pass
    # literal-masked: family names inside string literals are data
    lit = "SELECT 'quantile(0.5)(x) topK(3)(y) medianExact(z)' AS s FROM t"
    assert translate(lit) == lit
    lit_w = "SELECT 'quantileExactWeighted(0.5)(x, w)' AS s FROM t"
    assert translate(lit_w) == lit_w


def test_quantile_exact_weighted_known_values(spark):
    """Hand-computed CH QuantileExactWeighted traces: sorted values,
    cumulative weights, first value whose cum reaches floor(p*total).
    values (1,2,3) weights (1,1,8): total=10 -> p=0.5 threshold=5 ->
    cum (1,2,10) -> 3; p=0.1 threshold=1 -> 1; p=1.0 threshold=10 -> 3.
    NULL pairs are skipped; an all-NULL group yields NULL."""
    from clickhouse_data_rebalance_spark.plans.ch_dialect import translate

    spark.createDataFrame(
        [(1, 1), (2, 1), (3, 8), (None, 4), (5, None)], "v int, w int"
    ).createOrReplaceTempView("qew_t")
    row = spark.sql(
        translate(
            "SELECT medianExactWeighted(v, w) AS m, "
            "quantileExactWeighted(0.1)(v, w) AS lo, "
            "quantileExactWeighted(1.0)(v, w) AS hi, "
            "quantilesExactWeighted(0.1, 1.0)(v, w) AS both FROM qew_t"
        )
    ).collect()[0]
    assert (row["m"], row["lo"], row["hi"]) == (3, 1, 3)
    assert row["both"] == [1, 3]
    empty = spark.sql(
        translate(
            "SELECT quantileExactWeighted(0.5)(v, w) AS q FROM qew_t "
            "WHERE v IS NULL"
        )
    ).collect()[0]
    assert empty["q"] is None
    # topKWeighted: weight sums 1+1=2 for v in {1,2}? no — per-value:
    # v=1 w=1, v=2 w=1, v=3 w=8 -> top-2 by weight = [3, 1] (value-asc
    # tie-break between 1 and 2 keeps 1). avgWeighted known trace:
    # (1*1 + 2*1 + 3*8) / 10 = 2.7; empty group -> NaN.
    import math

    row = spark.sql(
        translate(
            "SELECT topKWeighted(2)(v, w) AS tk, "
            "avgWeighted(v, w) AS aw FROM qew_t"
        )
    ).collect()[0]
    assert row["tk"] == [3, 1]
    assert abs(row["aw"] - 2.7) < 1e-12
    nan_row = spark.sql(
        translate("SELECT avgWeighted(v, w) AS aw FROM qew_t WHERE v IS NULL")
    ).collect()[0]
    assert math.isnan(nan_row["aw"])


def test_quantile_rank_rules_known_values(spark):
    """Hand-traced QuantileExact.h rank rules (r12 refusal removals).

    Even n=4 over [1,2,3,4]:
      Low(0.5)  -> lower median  = 2   (1-based (4+1)//2 = 2)
      High(0.5) -> higher median = 3   (= quantileExact: floor(2)+1)
      Low(0.3)  -> general branch = floor(0.3*4)+1 = index 2 -> 2
      Inclusive(0.25): h = 0.25*(4-1) = 0.75 -> 1 + 0.75*(2-1) = 1.75
      Exclusive(0.25): h = 0.25*(4+1) = 1.25, k=1 -> 1 + 0.25*1 = 1.25
        (Excel PERCENTILE.EXC([1..4], 0.25) = 1.25)
      Exclusive boundary arms over [1,2]: p=0.25 -> k=0 < 1 -> first
        element 1.0; p=0.9 -> k=2 >= n -> last element 2.0
    Odd n=5 over [1..5]: Low = High = 3 (both medians coincide).
    All-NULL group -> NULL for every variant."""
    from clickhouse_data_rebalance_spark.plans.ch_dialect import translate

    spark.createDataFrame(
        [(1,), (2,), (3,), (4,)], "v int"
    ).createOrReplaceTempView("qrr4")
    row = spark.sql(
        translate(
            "SELECT quantileExactLow(v) AS lo, quantileExactHigh(v) AS hi, "
            "quantileExactLow(0.3)(v) AS lo30, "
            "quantileExactInclusive(0.25)(v) AS inc, "
            "quantileExactExclusive(0.25)(v) AS exc, "
            "quantilesExactLow(0.3, 0.5)(v) AS plo, "
            "quantilesExactInclusive(0.25)(v) AS pinc FROM qrr4"
        )
    ).collect()[0]
    assert (row["lo"], row["hi"], row["lo30"]) == (2, 3, 2)
    assert abs(row["inc"] - 1.75) < 1e-12
    assert abs(row["exc"] - 1.25) < 1e-12
    assert row["plo"] == [2, 2]
    # plural keeps the array shape even for ONE level (CH contract)
    assert list(row["pinc"]) == [1.75]
    spark.createDataFrame([(1,), (2,)], "v int").createOrReplaceTempView(
        "qrr2"
    )
    row = spark.sql(
        translate(
            "SELECT quantileExactExclusive(0.25)(v) AS lo_arm, "
            "quantileExactExclusive(0.9)(v) AS hi_arm, "
            "quantilesExactExclusive(0.25, 0.9)(v) AS both FROM qrr2"
        )
    ).collect()[0]
    assert (row["lo_arm"], row["hi_arm"]) == (1.0, 2.0)
    assert row["both"] == [1.0, 2.0]
    spark.createDataFrame([(1,), (2,), (3,), (4,), (5,)], "v int") \
        .createOrReplaceTempView("qrr5")
    row = spark.sql(
        translate(
            "SELECT quantileExactLow(v) AS lo, medianExactHigh(v) AS hi "
            "FROM qrr5"
        )
    ).collect()[0]
    assert (row["lo"], row["hi"]) == (3, 3)
    empty = spark.sql(
        translate(
            "SELECT quantileExactLow(v) AS lo, "
            "quantileExactExclusive(0.5)(v) AS exc, "
            "quantileExactInclusive(0.5)(v) AS inc "
            "FROM qrr4 WHERE v IS NULL"
        )
    ).collect()[0]
    assert empty["lo"] is None and empty["exc"] is None and empty["inc"] is None


def test_ch_dialect_rand_and_converter_suffixes():
    """r12: CH rand() is a UInt32 INTEGER in [0, 2^32) while Spark's
    same-named rand() is a double in [0, 1) — a CH user's rand() % 100
    would quietly become a fraction. The rewrite scales Spark's rand to
    the CH domain (the optional CSE-defeating argument is ignored, as
    in CH); randCanonical() IS Spark's rand() contract; rand64 and the
    Or{Zero,Null,Default} converter suffixes refuse with pointers."""
    import pytest as _pytest

    from clickhouse_data_rebalance_spark.plans.ch_dialect import (
        UnsupportedClickHouseSQL,
        translate,
    )

    assert translate("SELECT rand() % 100 FROM t").strip() == (
        "SELECT CAST(floor(rand() * 4294967296) AS BIGINT) % 100 FROM t"
    )
    # the CSE-defeat argument is ignored, exactly as ClickHouse does
    assert "floor(rand() * 4294967296)" in translate("SELECT rand(x) FROM t")
    assert translate("SELECT randCanonical() FROM t").strip() == (
        "SELECT rand() FROM t"
    )
    lit = "SELECT 'rand() inside' AS s FROM t"
    assert translate(lit) == lit
    with _pytest.raises(UnsupportedClickHouseSQL):
        translate("SELECT rand64() FROM t")
    # r13: the SIGNED Or-suffix converters now translate (see
    # test_ch_dialect_or_converters); only the unsigned family keeps
    # the refusal here
    with _pytest.raises(UnsupportedClickHouseSQL, match="unsigned"):
        translate("SELECT toUInt32OrZero(x) FROM t")
    # the plain converters still rewrite (the \w* residual tails must
    # not swallow them — rewrites run first)
    assert translate("SELECT toUInt32(count()) FROM t").strip() == (
        "SELECT CAST(count(*) AS BIGINT) FROM t"
    )


def test_ch_dialect_or_converters(spark):
    """r13 (VERDICT r12 #3): to{Int,Float}*Or{Null,Zero,Default}
    translate to width-true try_cast — bare for OrNull, NULL-guarded
    coalesce for OrZero/OrDefault so a NULL INPUT propagates NULL (CH's
    ordinary-function rule) instead of taking the default. Executed
    semantics pinned on Spark: parse-fail -> default, overflow ->
    default (width-true range check), NULL -> NULL. toUInt*Or* and
    toDate*/toDecimal* Or-forms keep pointered refusals."""
    import pytest as _pytest

    from clickhouse_data_rebalance_spark.plans.ch_dialect import (
        UnsupportedClickHouseSQL,
        translate,
    )

    # width-true type mapping, all three suffixes
    # integer targets guard the try_cast behind an exception-free DOUBLE
    # pre-parse (r13 perf fix — Spark's string->int try_cast fails via a
    # thrown NumberFormatException, ~3x slower on all-garbage columns;
    # the double grammar contains the integer grammar, so the guard is
    # value-identical — see the battery below)
    assert translate("SELECT toInt32OrNull(s) FROM t").strip() == (
        "SELECT (CASE WHEN try_cast(s AS DOUBLE) IS NOT NULL "
        "THEN try_cast(s AS INT) END) FROM t"
    )
    assert "try_cast(s AS TINYINT)" in translate("SELECT toInt8OrNull(s) FROM t")
    assert "try_cast(s AS SMALLINT)" in translate("SELECT toInt16OrNull(s) FROM t")
    # float targets parse exception-free already and stay bare
    assert translate("SELECT toFloat32OrNull(s) FROM t").strip() == (
        "SELECT try_cast(s AS FLOAT) FROM t"
    )
    out = translate("SELECT toInt64OrZero(s) FROM t")
    assert out.strip() == (
        "SELECT (CASE WHEN (s) IS NULL THEN NULL "
        "ELSE coalesce((CASE WHEN try_cast(s AS DOUBLE) IS NOT NULL "
        "THEN try_cast(s AS BIGINT) END), 0) END) FROM t"
    )
    # 2-arg OrDefault splices the default expression; 1-arg = type default
    out8 = translate("SELECT toInt8OrDefault(s, -1) FROM t")
    assert "try_cast(s AS TINYINT) END), (-1))" in out8
    assert "coalesce(try_cast(s AS DOUBLE), 0)" in translate(
        "SELECT toFloat64OrDefault(s) FROM t"
    )
    # arguments already rewritten by earlier table entries still match
    assert "try_cast(CAST(x AS STRING) AS BIGINT)" in translate(
        "SELECT toInt64OrNull(toString(x)) FROM t"
    )
    # refusal boundary: unsigned widths, date/decimal targets
    for bad, why in (
        ("SELECT toUInt8OrNull(x) FROM t", "unsigned"),
        ("SELECT toUInt64OrDefault(x, 0) FROM t", "unsigned"),
        ("SELECT toDateOrNull(x) FROM t", "Or"),
        ("SELECT toDateTimeOrZero(x) FROM t", "Or"),
        ("SELECT toDecimal64OrNull(x, 3) FROM t", "Or"),
    ):
        with _pytest.raises(UnsupportedClickHouseSQL, match=why):
            translate(bad)
    # literal masking: trigger text inside a string survives untouched
    lit = "SELECT 'toInt32OrZero(x)' AS s FROM t"
    assert translate(lit) == lit
    # executed semantics: parse-fail, overflow, and NULL-input arms
    rows = spark.sql(
        translate(
            "SELECT toInt32OrZero(s) z, toInt32OrNull(s) n, "
            "toInt32OrDefault(s, -7) d, toInt16OrNull(s) w "
            "FROM VALUES ('42'), ('abc'), (NULL), ('90000') AS t(s) "
            "ORDER BY s NULLS FIRST"
        )
    ).collect()
    # NULL input -> NULL through ALL suffixes (never the default)
    assert tuple(rows[0]) == (None, None, None, None)
    assert tuple(rows[1]) == (42, 42, 42, 42)
    # '90000' fits Int32 but overflows Int16 -> width-true boundary
    assert tuple(rows[2]) == (90000, 90000, 90000, None)
    assert tuple(rows[3]) == (0, None, -7, None)  # 'abc' parse-fail

    # double-guard equivalence battery (the r13 perf fix must be
    # value-invisible): the guarded form agrees with bare try_cast on
    # every string class — whitespace forms, fraction/exponent text the
    # double grammar accepts but the int parse rejects, NaN/Infinity,
    # hex, bare signs, empty, and digits overflowing every width
    battery = spark.sql(
        "SELECT s, try_cast(s AS SMALLINT) AS bare, "
        "CASE WHEN try_cast(s AS DOUBLE) IS NOT NULL "
        "THEN try_cast(s AS SMALLINT) END AS guarded "
        "FROM VALUES (' 42'), ('42'), ('-0'), ('0042'), ('3.5'), ('1e3'), "
        "('40000'), (''), ('+'), ('-'), ('abc'), ('NaN'), ('Infinity'), "
        "('inf'), ('99999999999999999999'), ('0x1A'), ('\\t7\\n'), ('+8'), "
        "(' '), ('7.'), ('.5'), (NULL) AS t(s)"
    ).collect()
    mismatch = [
        (r["s"], r["bare"], r["guarded"])
        for r in battery
        if r["bare"] != r["guarded"]
    ]
    assert not mismatch, mismatch


def test_ch_dialect_least_greatest_null_propagation(spark):
    """r12: ClickHouse least/greatest are ordinary functions — any NULL
    argument yields NULL — while Spark's SKIP nulls (greatest(1, NULL)
    = 1). The rewrite wraps every user-written call in an explicit
    NULL-propagation CASE; generated spellings (quantile index clamps)
    are emitted by LATER stages and stay untouched."""
    import pytest as _pytest

    from clickhouse_data_rebalance_spark.plans.ch_dialect import (
        UnsupportedClickHouseSQL,
        translate,
    )

    out = translate("SELECT greatest(a, b, c) FROM t")
    assert (
        "(CASE WHEN (a) IS NULL OR (b) IS NULL OR (c) IS NULL "
        "THEN NULL ELSE greatest((a), (b), (c)) END)" in out
    )
    # SAME-function nesting FLATTENS (identical CH semantics: min of
    # all, NULL if any NULL) — one guard over the leaf args, so the
    # idiomatic pre-variadic 2-arg chain cannot grow 2^depth
    nested = translate("SELECT least(least(a, b), c) FROM t")
    assert nested.count("CASE WHEN") == 1
    assert "least((a), (b), (c))" in nested
    # MIXED nesting keeps per-call guards (argument-first recursion)
    mixed = translate("SELECT greatest(least(a, b), c) FROM t")
    assert mixed.count("CASE WHEN") == 3  # inner guard embeds twice
    # ... and refuses past depth 8 where the doubling explodes
    deep = "x"
    for k in range(10):
        fn = "least" if k % 2 == 0 else "greatest"
        deep = f"{fn}({deep}, {k})"
    with _pytest.raises(UnsupportedClickHouseSQL, match="8 levels deep"):
        translate(f"SELECT {deep} FROM t")
    # 1-arg (not valid CH): inner calls stay guarded, arity error is
    # Spark's to raise — including when the sole arg is a SAME-name
    # call (arity checks before flattening, so it is not legalized)
    one = translate("SELECT least(greatest(a, b)) FROM t")
    assert one.count("CASE WHEN") == 1 and "least((CASE" in one
    same = translate("SELECT least(least(a, b)) FROM t")
    assert same.startswith("SELECT least((CASE WHEN (a) IS NULL")
    # deep SAME-name chains flatten iteratively — linear output, one
    # guard, no RecursionError (review finding)
    deep_same = "x"
    for k in range(1000):
        deep_same = f"least({deep_same}, {k})"
    flat = translate(f"SELECT {deep_same} FROM t")
    assert flat.count("CASE WHEN") == 1 and len(flat) < 50_000
    # a flat dateDiff with a least() argument translates BOTH constructs
    # (stage order: datetime diff first, guard after)
    both = translate("SELECT dateDiff('day', least(a, b), c) FROM t")
    assert "timestampdiff(DAY" in both and both.count("CASE WHEN") == 1
    # a least/greatest argument inside an _ARG-based rewrite refuses
    # AFTER the guard expands (r11 translated these with Spark's
    # skip-NULL semantics — silently wrong; the refusal names the fix)
    with _pytest.raises(UnsupportedClickHouseSQL, match="subquery/CTE"):
        translate("SELECT sumIf(least(a, b), c > 0) FROM t")
    with _pytest.raises(UnsupportedClickHouseSQL, match="subquery/CTE"):
        translate("SELECT quantileExact(0.5)(least(a, b)) FROM t")
    # literals stay data; the quantile clamp's own greatest/least (a
    # LATER rewrite stage's output) is not wrapped
    lit = "SELECT 'least(a, b) here' AS s FROM t"
    assert translate(lit) == lit
    q = translate("SELECT quantileExact(0.25)(v) FROM t")
    assert "greatest(least(CAST" in q and q.count("CASE WHEN") == 0

    spark.createDataFrame(
        [(1, None, 5), (2, 3, None), (3, 7, 2)],
        "id int, x int, y int",
    ).createOrReplaceTempView("lg_t")
    rows = spark.sql(
        translate(
            "SELECT id, least(x, y) AS lo, greatest(x, y) AS hi, "
            "greatest(x, y, 0) AS hi3 FROM lg_t ORDER BY id"
        )
    ).collect()
    got = [(r["lo"], r["hi"], r["hi3"]) for r in rows]
    # CH semantics: any NULL argument -> NULL (Spark bare would give
    # (5,5,5) / (3,3,3) on the first two rows)
    assert got == [(None, None, None), (None, None, None), (2, 7, 7)]


def test_ch_dialect_datetime_diff_semantics(spark):
    """r12 datetime wave: dateDiff counts UNIT-BOUNDARY CROSSINGS (CH
    dateDiff.cpp: relative-ordinal subtraction), lowered to
    timestampdiff over unit-truncated operands; age counts COMPLETE
    units = timestampdiff directly; extract(haystack, 'regex') lowers
    to regexp_extract with the CH first-subpattern group rule. Hand
    traces, then a fixture-scale differential against DuckDB's own
    date_diff (boundary) / date_sub (complete) twins."""
    import pytest as _pytest

    from clickhouse_data_rebalance_spark.plans.ch_dialect import (
        UnsupportedClickHouseSQL,
        translate,
    )
    from .oracle_harness import compare, duck_connection

    assert translate("SELECT dateDiff('day', a, b) FROM t").strip() == (
        "SELECT timestampdiff(DAY, date_trunc('DAY', a), "
        "date_trunc('DAY', b)) FROM t"
    )
    assert translate("SELECT age('day', a, b) FROM t").strip() == (
        "SELECT timestampdiff(DAY, a, b) FROM t"
    )
    assert translate("SELECT age('week', a, b) FROM t").strip() == (
        "SELECT timestampdiff(WEEK, a, b) FROM t"
    )
    # ANSI EXTRACT(f FROM x) passes through untouched; 2-arg Spark
    # date_diff (not valid CH, valid Spark) passes through untouched
    for passthrough in (
        "SELECT extract(YEAR FROM ts) FROM t",
        "SELECT date_diff(a, b) FROM t",
    ):
        assert translate(passthrough) == passthrough
    for bad, msg in (
        ("SELECT dateDiff('week', a, b) FROM t", "Sunday-based"),
        ("SELECT dateDiff('millisecond', a, b) FROM t", "unit"),
        ("SELECT dateDiff('day', a, b, 'UTC') FROM t", "timezone"),
        # (age month/quarter/year TRANSLATE since r13 — see
        # test_ch_dialect_age_month_rule for the edge matrix)
        ("SELECT extract(s, '(?i)abc') FROM t", "RE2"),
        # escape dialects diverge BEFORE the regex engine: CH \x41 ->
        # 'A', Spark drops the backslash -> 'x41' (review finding)
        ("SELECT extract(s, '\\\\d+') FROM t", "backslash"),
        ("SELECT extract(s, 'v\\\\(x\\\\)') FROM t", "backslash"),
        # '[' inside a class: Java nested-class union vs RE2 literal
        ("SELECT extract(s, '[a[b]c]') FROM t", "nested class"),
        ("SELECT extract(s, p) FROM t", "ANSI datetime EXTRACT"),
        ("SELECT locate(h, n) FROM t", "version-dependent"),
    ):
        with _pytest.raises(UnsupportedClickHouseSQL, match=msg):
            translate(bad)

    # hand traces: 2 minutes across midnight = 1 day / 1 hour / 2 min
    # boundaries but ZERO complete days/hours; month boundary Jan31 ->
    # Feb01 = 1 crossing; age('month', Jan31, Mar01) = 1 complete
    # (Jan31 + 1mo = Feb29 <= Mar01 in 2024)
    spark.sql(
        "SELECT TIMESTAMP_NTZ '2024-01-31 23:59:00' AS s, "
        "TIMESTAMP_NTZ '2024-02-01 00:01:00' AS e, "
        "TIMESTAMP_NTZ '2024-03-01 00:00:00' AS e2, "
        "'id12 user@corp' AS txt"
    ).createOrReplaceTempView("ddt")
    row = spark.sql(
        translate(
            "SELECT dateDiff('day', s, e) AS dd, dateDiff('hour', s, e) AS dh, "
            "dateDiff('minute', s, e) AS dmi, dateDiff('month', s, e) AS dmo, "
            "age('day', s, e) AS ad, age('hour', s, e) AS ah, "
            "age('day', s, e2) AS ad2, dateDiff('day', e, s) AS neg, "
            "extract(txt, '[0-9]+') AS x0, "
            "extract(txt, '([a-z]+)@') AS x1, "
            "extract(txt, 'zzz') AS xmiss FROM ddt"
        )
    ).collect()[0]
    assert (row["dd"], row["dh"], row["dmi"], row["dmo"]) == (1, 1, 2, 1)
    # Jan31 23:59 -> Mar01 00:00 = 29 complete days (+30 overshoots)
    assert (row["ad"], row["ah"], row["ad2"]) == (0, 0, 29)
    assert row["neg"] == -1  # signed, end < start
    assert (row["x0"], row["x1"], row["xmiss"]) == ("12", "user", "")

    # fixture differential: per-user sums of every unit over (first
    # event, event) pairs — DuckDB's date_diff/date_sub are the
    # independent boundary/complete twins
    inner = (
        "(SELECT user_id, ts, min(ts) OVER (PARTITION BY user_id) AS t0 "
        "FROM events) x"
    )
    ch_q = (
        "SELECT user_id, "
        "sum(dateDiff('day', t0, ts)) AS d_day, "
        "sum(dateDiff('hour', t0, ts)) AS d_hour, "
        "sum(dateDiff('month', t0, ts)) AS d_month, "
        "sum(age('day', t0, ts)) AS a_day, "
        "sum(age('hour', t0, ts)) AS a_hour "
        f"FROM {inner} GROUP BY user_id ORDER BY user_id"
    )
    duck_q = (
        "SELECT user_id, "
        "sum(date_diff('day', t0, ts)) AS d_day, "
        "sum(date_diff('hour', t0, ts)) AS d_hour, "
        "sum(date_diff('month', t0, ts)) AS d_month, "
        "sum(date_sub('day', t0, ts)) AS a_day, "
        "sum(date_sub('hour', t0, ts)) AS a_hour "
        f"FROM {inner} GROUP BY user_id ORDER BY user_id"
    )
    from clickhouse_data_rebalance_spark.tables import load_tables

    load_tables(spark, SF_SMALL)["events"].createOrReplaceTempView("events")
    con = duck_connection(SF_SMALL)
    try:
        compare(
            spark.sql(translate(ch_q)), con, duck_q, name="datetime_diff"
        )
    finally:
        con.close()


def test_ch_dialect_age_month_rule(spark):
    """r13 (VERDICT r12 #4, refusal turned translation): CH
    age('month'/'quarter'/'year') is EXACT integer date arithmetic —
    12*(y2-y1) + (m2-m1) minus a (day, time-of-day) tuple borrow, with
    NO month-end clamping (dateDiff.cpp's age arm compares raw
    components: age('month', Jan31, Feb29) = 0 where Postgres/DuckDB's
    interval arithmetic clamps Jan31+1mo to Feb29 and says 1) —
    quarter/year are the month count DIV 3 / DIV 12, truncating toward
    zero in both directions. Hand-traced edge matrix including the
    VERDICT r12 Jan31 23:59 -> Mar01 edge, then a DuckDB differential:
    date_sub is the independent complete-month twin exactly where
    day(start) <= 28 makes clamping impossible."""
    from clickhouse_data_rebalance_spark.plans.ch_dialect import translate
    from .oracle_harness import compare, duck_connection

    # the translation is pure integer arithmetic — no months_between,
    # whose /31 fraction was the refusal's reason
    out = translate("SELECT age('month', s, e) FROM t")
    assert "months_between" not in out and "timestampdiff" not in out
    assert "DIV 3" in translate("SELECT age('quarter', s, e) FROM t")
    assert "DIV 12" in translate("SELECT age('year', s, e) FROM t")

    cases = [
        # (start, end, months, quarters, years) — CH tuple rule
        ("2024-01-31 23:59:00", "2024-03-01 00:00:00", 1, 0, 0),
        ("2024-01-31 00:00:00", "2024-02-29 00:00:00", 0, 0, 0),  # no clamp
        ("2021-12-29 00:00:00", "2022-01-01 00:00:00", 0, 0, 0),  # CH doc
        ("2020-03-15 10:00:00", "2021-03-15 09:59:59", 11, 3, 0),
        ("2020-03-15 10:00:00", "2021-03-15 10:00:00", 12, 4, 1),
        # microsecond fraction participates in the tuple compare
        ("2020-03-15 10:00:00.500", "2021-03-15 10:00:00.400", 11, 3, 0),
        ("2020-03-15 10:00:00.400", "2021-03-15 10:00:00.500", 12, 4, 1),
        # negative direction: borrow flips to carry, DIV truncates
        # toward zero (-2 months is 0 complete quarters, not -1)
        ("2020-03-20 00:00:00", "2020-03-10 00:00:00", 0, 0, 0),
        ("2020-05-20 00:00:00", "2020-02-10 00:00:00", -3, -1, 0),
        ("2020-05-20 00:00:00", "2020-02-25 00:00:00", -2, 0, 0),
        ("2021-05-20 00:00:00", "2020-04-25 00:00:00", -12, -4, -1),
    ]
    values = ", ".join(
        f"(TIMESTAMP_NTZ '{s}', TIMESTAMP_NTZ '{e}', {mo}, {q}, {y})"
        for s, e, mo, q, y in cases
    )
    spark.sql(
        f"SELECT * FROM VALUES {values} AS t(s, e, emo, eq, ey)"
    ).createOrReplaceTempView("age_edges")
    rows = spark.sql(
        translate(
            "SELECT age('month', s, e) AS mo, age('quarter', s, e) AS q, "
            "age('year', s, e) AS y, emo, eq, ey FROM age_edges"
        )
    ).collect()
    for r in rows:
        assert (r["mo"], r["q"], r["y"]) == (r["emo"], r["eq"], r["ey"]), r

    # fixture differential: DuckDB date_sub agrees with the CH rule on
    # every pair whose START day-of-month <= 28 (no clamp window), and
    # the events fixture is compared on exactly that subset — an
    # INDEPENDENT interval-arithmetic derivation, not a respelling
    inner = (
        "(SELECT user_id, ts, min(ts) OVER (PARTITION BY user_id) AS t0 "
        "FROM events) x WHERE day(t0) <= 28"
    )
    ch_q = (
        "SELECT user_id, sum(age('month', t0, ts)) AS a_month, "
        "sum(age('quarter', t0, ts)) AS a_quarter, "
        "sum(age('year', t0, ts)) AS a_year "
        f"FROM {inner} GROUP BY user_id ORDER BY user_id"
    )
    duck_q = (
        "SELECT user_id, sum(date_sub('month', t0, ts)) AS a_month, "
        "sum(date_sub('quarter', t0, ts)) AS a_quarter, "
        "sum(date_sub('year', t0, ts)) AS a_year "
        f"FROM {inner} GROUP BY user_id ORDER BY user_id"
    )
    from clickhouse_data_rebalance_spark.tables import load_tables

    load_tables(spark, SF_SMALL)["events"].createOrReplaceTempView("events")
    con = duck_connection(SF_SMALL)
    try:
        compare(spark.sql(translate(ch_q)), con, duck_q, name="age_months")
    finally:
        con.close()


def test_ch_dialect_substring_byte_semantics(spark):
    """r13 second wave — the length()/octet_length() silent-divergence
    class closed for the substring family: CH substring/substr/mid
    slice BYTES (substringUTF8 slices characters); Spark's substring
    slices characters. Bare spellings lower through BINARY (measured
    byte-exact including negative from-the-end offsets and the 2-arg
    form); substringUTF8 lowers to Spark's own substring. Scanner-based
    (any nesting depth) so no spelling can fall through and run
    silently char-based."""
    from clickhouse_data_rebalance_spark.plans.ch_dialect import (
        UnsupportedClickHouseSQL,
        translate,
    )

    out = translate("SELECT substring(s, 1, 2) FROM t")
    assert "AS BINARY" in out, out
    # substringUTF8 is the character slicer — no binary round-trip
    assert "BINARY" not in translate("SELECT substringUTF8(s, 1, 2) FROM t")

    # hand-traced multi-byte rows: 'привет' is 12 bytes / 6 chars
    rows = spark.sql(
        translate(
            "SELECT substring('привет', 1, 2) AS b2, "
            "substring('привет', -4, 4) AS tail_b, "
            "substring('привет', 3) AS from3, "
            "substringUTF8('привет', 1, 2) AS c2, "
            "substr('hello', 2, 3) AS al1, "
            "mid('hello', -3, 2) AS al2, "
            "substring(CAST(NULL AS STRING), 1, 2) AS nul, "
            "octet_length(substring('привет', 1, 3)) AS midrun"
        )
    ).collect()[0]
    assert rows["b2"] == "п"            # first 2 BYTES = 1 char
    assert rows["tail_b"] == "ет"       # last 4 bytes = 2 chars
    assert rows["from3"] == "ривет"     # 2-arg: from byte 3 to end
    assert rows["c2"] == "пр"           # UTF8 form: first 2 CHARS
    assert rows["al1"] == "ell" and rows["al2"] == "ll"
    assert rows["nul"] is None
    assert rows["midrun"] == 3          # mid-codepoint slice keeps bytes

    # nesting: outer slices the BYTES of the inner result (CH order)
    nested = spark.sql(
        translate("SELECT substring(substring('привет', 1, 4), 3, 2) AS v")
    ).collect()[0]["v"]
    assert nested == "р"
    # deep nesting a one-level regex would drop — scanner still fires
    deep = translate("SELECT substring(upper(concat(a, b, c)), 1, 2) FROM t")
    assert "AS BINARY" in deep

    # ASCII differential vs DuckDB (char == byte there): positive
    # offsets only — DuckDB follows Postgres negative-start semantics,
    # which differ from CH/Spark's from-the-end rule by design
    from clickhouse_data_rebalance_spark.tables import load_tables
    from .oracle_harness import compare, duck_connection

    load_tables(spark, SF_SMALL)["events"].createOrReplaceTempView("events")
    ch_q = (
        "SELECT substring(event_type, 2, 3) AS a, "
        "substring(event_type, 4) AS b, count() AS n "
        "FROM events GROUP BY substring(event_type, 2, 3), "
        "substring(event_type, 4) ORDER BY a, b"
    )
    duck_q = (
        "SELECT substring(event_type, 2, 3) AS a, "
        "substring(event_type, 4) AS b, CAST(count(*) AS BIGINT) AS n "
        "FROM events GROUP BY 1, 2 ORDER BY a, b"
    )
    con = duck_connection(SF_SMALL)
    try:
        compare(spark.sql(translate(ch_q)), con, duck_q, name="substr_ascii")
    finally:
        con.close()

    # refusal arms: literal offset 0 (engine-divergent edge), arity
    for bad in (
        "SELECT substring(s, 0, 2) FROM t",
        "SELECT substr(s, 0) FROM t",
        "SELECT substring(s) FROM t",
        "SELECT substring(s, 1, 2, 3) FROM t",
    ):
        try:
            translate(bad)
            raise AssertionError(f"should have refused: {bad}")
        except UnsupportedClickHouseSQL:
            pass
    # a literal is data: the trap text survives, the real call rewrites
    keep = translate("SELECT 'substring(s, 0, 1)' AS t1, substring(s, 1, 1) FROM t")
    assert "'substring(s, 0, 1)'" in keep and "AS BINARY" in keep


def test_ch_dialect_week_quarter_minute_rounding(spark):
    """toStartOfWeek's default mode 0 starts weeks on SUNDAY — the
    reason it must not lower to date_trunc('week') (Spark weeks start
    Monday; a bare swap would move every Sunday row into the previous
    week). Even modes -> Sunday arithmetic, odd modes -> Monday
    truncation; non-literal modes and the timezone form refuse.
    toStartOfQuarter/toStartOfMinute are clean date_trunc maps."""
    from clickhouse_data_rebalance_spark.plans.ch_dialect import (
        UnsupportedClickHouseSQL,
        translate,
    )
    import datetime as dt

    rows = spark.sql(
        translate(
            # 2024-05-19 is a Sunday; 2024-05-17 a Friday
            "SELECT toStartOfWeek(TIMESTAMP_NTZ '2024-05-19 10:00:00') AS sun_self, "
            "toStartOfWeek(TIMESTAMP_NTZ '2024-05-17 10:00:00') AS fri_sun, "
            "toStartOfWeek(TIMESTAMP_NTZ '2024-05-17 10:00:00', 2) AS fri_sun2, "
            "toStartOfWeek(TIMESTAMP_NTZ '2024-05-19 10:00:00', 1) AS sun_mon, "
            "toStartOfWeek(TIMESTAMP_NTZ '2024-05-17 10:00:00', 3) AS fri_mon, "
            "toStartOfQuarter(DATE '2024-05-17') AS q, "
            "toStartOfMinute(TIMESTAMP_NTZ '2024-05-17 10:23:45') AS mi"
        )
    ).collect()[0]
    assert rows["sun_self"] == dt.date(2024, 5, 19)   # Sunday stays
    assert rows["fri_sun"] == dt.date(2024, 5, 12)    # back to Sunday
    assert rows["fri_sun2"] == dt.date(2024, 5, 12)   # mode 2 = Sunday
    assert rows["sun_mon"] == dt.date(2024, 5, 13)    # Monday-first
    assert rows["fri_mon"] == dt.date(2024, 5, 13)
    assert rows["q"] == dt.date(2024, 4, 1)
    assert rows["mi"] == dt.datetime(2024, 5, 17, 10, 23, 0)

    for bad in (
        "SELECT toStartOfWeek(ts, m) FROM t",        # non-literal mode
        "SELECT toStartOfWeek(ts, 1, 'UTC') FROM t",  # timezone form
        # (toStartOfFiveMinutes TRANSLATES since r15 wave 3 — the
        # epoch-bucket lowering; only the 2-arg timezone form refuses)
        "SELECT toStartOfFiveMinutes(ts, 'UTC') FROM t",
    ):
        try:
            translate(bad)
            raise AssertionError(f"should have refused: {bad}")
        except UnsupportedClickHouseSQL:
            pass


def test_ch_dialect_bitops_multisearch_compact(spark):
    """Width-independent two's-complement bit ops translate to operator
    spellings; width-DEPENDENT forms refuse (Spark masks shift counts
    modulo the width — 1 << 65 = 2 measured; bit_count sign-extends
    narrow negatives to 64 bits measured). multiSearchAny lowers to
    exists+contains (each operand evaluated once); arrayCompact to the
    NULL-safe consecutive-dedup index lambda."""
    from clickhouse_data_rebalance_spark.plans.ch_dialect import (
        UnsupportedClickHouseSQL,
        translate,
    )

    rows = spark.sql(
        translate(
            "SELECT bitAnd(12, 10) AS a, bitOr(12, 10) AS o, "
            "bitXor(12, 10) AS x, bitNot(5) AS n, "
            "bitAnd(-1, 255) AS neg, "
            "multiSearchAny('zabz', ['ab', 'xy']) AS ms1, "
            "multiSearchAny('zabz', ['no', 'xy']) AS ms0, "
            "multiSearchAny(CAST(NULL AS STRING), ['a']) AS msn, "
            "arrayCompact([1, 1, 2, 2, 1]) AS ac, "
            "arrayCompact([1, NULL, NULL, 2]) AS acn, "
            "size(arrayCompact([])) AS ace"
        )
    ).collect()[0]
    assert (rows["a"], rows["o"], rows["x"], rows["n"]) == (8, 14, 6, -6)
    assert rows["neg"] == 255                      # two's complement
    assert rows["ms1"] is True and rows["ms0"] is False and rows["msn"] is None
    assert rows["ac"] == [1, 2, 1]                 # consecutive, not global
    assert rows["acn"] == [1, None, 2]             # NULL runs dedupe (CH)
    assert rows["ace"] == 0                        # empty stays empty

    for bad in (
        "SELECT bitShiftLeft(a, 2) FROM t",
        "SELECT bitRotateRight(a, 2) FROM t",
        "SELECT bitCount(a) FROM t",
        "SELECT bitTest(a, 3) FROM t",
        "SELECT multiSearchFirstPosition(s, ['a']) FROM t",
        "SELECT multiSearchAnyCaseInsensitive(s, ['a']) FROM t",
        "SELECT bitAnd(f(g(h(x))), y) FROM t",     # past _ARG's budget
    ):
        try:
            translate(bad)
            raise AssertionError(f"should have refused: {bad}")
        except UnsupportedClickHouseSQL:
            pass


def test_ch_dialect_case_fold_and_null_safe_arrays(spark):
    """r13 third wave. Case folding is the substring/length class:
    ClickHouse's bare lower/upper fold ASCII LATIN ONLY (documented CH
    behavior) while Spark's same-named functions fold full Unicode —
    bare spellings lower to the exact ASCII translate() fold,
    lowerUTF8/upperUTF8 to Spark's lower/upper (scanner pass, any
    nesting, compositional). hasAll/hasAny/countEqual: CH processes
    NULL AS A VALUE (hasAny([NULL],[NULL]) = 1) where Spark's
    arrays_overlap would return NULL — the <=> lambdas spell CH's rule;
    arrayElement shares the bracket-index lowering (try_element_at,
    negative-from-end, NULL on out-of-range vs CH's unknowable type
    default — documented); arrayFirst/arrayLast refuse on the same
    type-default ground."""
    from clickhouse_data_rebalance_spark.plans.ch_dialect import (
        UnsupportedClickHouseSQL,
        translate,
    )

    rows = spark.sql(
        translate(
            "SELECT lower('ÄBc-Σ') AS lo, upper('äbC-σ') AS up, "
            "lowerUTF8('ÄBC') AS lou, upperUTF8('äbc') AS upu, "
            "lower(upper(lowerUTF8('ÄbC'))) AS comp, "
            "hasAll([1, NULL, 3], [NULL, 1]) AS ha1, "
            "hasAll([1, 2], [1, 4]) AS ha0, "
            "hasAny([NULL], [NULL]) AS hn1, hasAny([1, 2], [3]) AS hn0, "
            "hasAny([1, 2], []) AS hne, hasAll([1, 2], []) AS hae, "
            "countEqual([1, NULL, 1], 1) AS ce, "
            "countEqual([1, NULL], NULL) AS cen, "
            "arrayElement([10, 20], -1) AS ael, "
            "arrayElement([10, 20], 5) AS aeo"
        )
    ).collect()[0]
    # ASCII-only: Ä and Σ survive the bare fold, ASCII letters flip
    assert rows["lo"] == "Äbc-Σ" and rows["up"] == "äBC-σ"
    # the UTF8 forms are the Unicode folders
    assert rows["lou"] == "äbc" and rows["upu"] == "ÄBC"
    # compositional: UTF8-lower, then ASCII-upper, then ASCII-lower
    assert rows["comp"] == "äbc"
    assert rows["ha1"] is True and rows["ha0"] is False
    assert rows["hn1"] is True and rows["hn0"] is False   # NULL is a value
    assert rows["hne"] is False and rows["hae"] is True   # empty needles
    assert rows["ce"] == 2 and rows["cen"] == 1           # NULL counted
    assert rows["ael"] == 20 and rows["aeo"] is None      # -1 = last; OOB

    for bad in (
        "SELECT arrayFirst(x -> x > 1, a) FROM t",
        "SELECT arrayLastIndex(x -> x > 1, a) FROM t",
        "SELECT lower(s, 'tr') FROM t",                    # arity
        "SELECT hasAll(f(g(h(a))), b) FROM t",             # past _ARG
    ):
        try:
            translate(bad)
            raise AssertionError(f"should have refused: {bad}")
        except UnsupportedClickHouseSQL:
            pass
    # literals are data; the real call still rewrites
    keep = translate("SELECT 'lower(s)' AS lit, lower(x) FROM t")
    assert "'lower(s)'" in keep and "translate(x" in keep


def test_ch_dialect_byte_position_and_null_value_lookups(spark):
    """r13 fourth wave. CH position(haystack, needle) returns a BYTE
    offset (positionUTF8 is the code-point form) — the r9 locate() swap
    was silently char-based on multi-byte text, the length()/substring
    class; the upgrade converts locate's char position to bytes via the
    character prefix's octet_length (exact for valid UTF-8 — needles
    match only at code-point boundaries). has/indexOf upgrade to CH's
    NULL-as-a-value rule. reverse REFUSES (CH reverses bytes; Spark's
    reverse is code-point even over BINARY, measured); reverseUTF8 and
    substringIndex translate."""
    from clickhouse_data_rebalance_spark.plans.ch_dialect import (
        UnsupportedClickHouseSQL,
        translate,
    )

    rows = spark.sql(
        translate(
            # 'привет': п=2 bytes, р=2, и=2 -> 'в' begins at byte 7
            "SELECT position('привет', 'в') AS pb, "
            "positionUTF8('привет', 'в') AS pc, "
            "position('привет', 'zz') AS p0, "
            "position('hello', 'll') AS pa, "
            "position('привет', '') AS pe, "
            "position(CAST(NULL AS STRING), 'x') AS pn, "
            "has([1, NULL, 3], NULL) AS hnull, "
            "has([NULL, 1], 2) AS habs, "
            "has([1, 2], 2) AS hyes, "
            "indexOf([1, NULL, 2], NULL) AS inull, "
            "indexOf([1, 2], 3) AS iabs, "
            "substringIndex('a.b.c', '.', 2) AS si, "
            "substringIndex('a.b.c', '.', -1) AS sin, "
            "reverseUTF8('пр-ab') AS rev"
        )
    ).collect()[0]
    assert rows["pb"] == 7 and rows["pc"] == 4   # bytes vs code points
    assert rows["p0"] == 0 and rows["pa"] == 3   # not-found 0; ASCII same
    assert rows["pe"] == 1                        # empty needle: CH gives 1
    assert rows["pn"] is None                     # NULL propagates
    assert rows["hnull"] is True                  # NULL is a value
    assert rows["habs"] is False                  # not NULL (array_contains
    assert rows["hyes"] is True                   # would say NULL for habs)
    assert rows["inull"] == 2 and rows["iabs"] == 0
    assert rows["si"] == "a.b" and rows["sin"] == "c"
    assert rows["rev"] == "ba-рп"                 # code-point reversal

    for bad in (
        "SELECT reverse(s) FROM t",
        "SELECT positionCaseInsensitive(s, 'x') FROM t",
        "SELECT position(s, 'x', 3) FROM t",      # 3-arg form
        "SELECT has(a) FROM t",                   # arity (scanner raises)
        "SELECT indexOf(a, x, y) FROM t",
    ):
        try:
            translate(bad)
            raise AssertionError(f"should have refused: {bad}")
        except UnsupportedClickHouseSQL:
            pass
    # has/indexOf are SCANNER passes (the pre-upgrade name-only rewrites
    # matched at any depth, so the upgrade must too): deep nesting
    # translates instead of refusing
    deep = translate("SELECT has(f(g(h(a))), x) FROM t")
    assert deep == (
        "SELECT exists(f(g(h(a))), cdr_h_ -> cdr_h_ <=> (x)) FROM t"
    )
    assert "array_position(transform(f(g(h(a)))" in translate(
        "SELECT indexOf(f(g(h(a))), x) FROM t"
    )
    # arrayReverse still translates (bare-reverse refusal is input-only,
    # emitted reverse( is never re-checked)
    assert translate("SELECT arrayReverse([1, 2]) FROM t") == (
        "SELECT reverse(array(1, 2)) FROM t"
    )


def test_ch_dialect_split_literal_separator(spark):
    """r13 fix of a silent mistranslation: CH splitByChar/splitByString
    split on the LITERAL separator; Spark's split takes a Java REGEX,
    so the old bare swap turned splitByChar('.', s) into a split on
    EVERY character. The separator is \\Q\\E-quoted at runtime (concat,
    constant-folded); trailing empty fields are kept exactly as CH
    keeps them; literal guards enforce splitByChar's one-byte contract
    and refuse splitByString('')."""
    from clickhouse_data_rebalance_spark.plans.ch_dialect import (
        UnsupportedClickHouseSQL,
        translate,
    )

    rows = spark.sql(
        translate(
            "SELECT splitByChar('.', 'a.b.c') AS dots, "
            "splitByChar('|', 'a|b') AS pipe, "
            "splitByChar(',', 'a,b,') AS trail, "
            "splitByString('XY', 'aXYbXYc') AS multi, "
            "splitByChar('.', 'пр.ив') AS mb, "
            "splitByChar('.', CAST(NULL AS STRING)) AS nul"
        )
    ).collect()[0]
    assert rows["dots"] == ["a", "b", "c"]        # NOT 6 empty strings
    assert rows["pipe"] == ["a", "b"]             # regex alternation inert
    assert rows["trail"] == ["a", "b", ""]        # CH keeps trailing empty
    assert rows["multi"] == ["a", "b", "c"]
    assert rows["mb"] == ["пр", "ив"]
    assert rows["nul"] is None

    # the demo idiom: membership binders run before the split expansion
    out = translate("SELECT has(splitByChar('-', p), 'HIGH') FROM orders")
    assert "exists(split(p" in out and "\\Q" in out

    for bad in (
        "SELECT splitByChar('ab', s) FROM t",   # >1 byte literal
        "SELECT splitByChar('ä', s) FROM t",    # 2-byte char
        "SELECT splitByString('', s) FROM t",   # empty pattern diverges
    ):
        try:
            translate(bad)
            raise AssertionError(f"should have refused: {bad}")
        except UnsupportedClickHouseSQL:
            pass


def test_ch_dialect_left_right_pad_count(spark):
    """r13 fifth wave — the byte class closed for the slice/pad tail:
    CH left/right slice BYTES (Spark's same-named functions slice
    chars) — literal nonnegative lengths translate through BINARY,
    everything else refuses rather than running silently char-based;
    leftPad/rightPad pad AND truncate in BYTES (binary lpad/rpad, with
    the space pad made explicit — binary lpad's default is 0x00);
    countSubstrings counts non-overlapping occurrences via the
    replace() byte-delta."""
    from clickhouse_data_rebalance_spark.plans.ch_dialect import (
        UnsupportedClickHouseSQL,
        translate,
    )

    rows = spark.sql(
        translate(
            # 'привет' is 12 bytes / 6 chars
            "SELECT left('привет', 4) AS lb, right('привет', 4) AS rb, "
            "leftUTF8('привет', 2) AS lc, rightUTF8('привет', 2) AS rc, "
            "right('hi', 0) AS r0, right('hi', 9) AS rover, "
            "leftPad('пр', 6, '.') AS lp, "
            "octet_length(leftPad('пр', 3, '.')) AS lptr, "
            "rightPad('ab', 4, 'xy') AS rp, leftPad('ab', 4) AS lpsp, "
            "leftPadUTF8('пр', 3, '.') AS lpc, "
            "countSubstrings('aaaa', 'aa') AS c1, "
            "countSubstrings('zabzab', 'ab') AS c2, "
            "countSubstrings('привет', 'и') AS c3, "
            "countSubstrings('xyz', 'q') AS c0, "
            "countSubstrings(CAST(NULL AS STRING), 'a') AS cn"
        )
    ).collect()[0]
    assert rows["lb"] == "пр" and rows["rb"] == "ет"     # 4 BYTES = 2 chars
    assert rows["lc"] == "пр" and rows["rc"] == "ет"     # 2 CHARS each
    assert rows["r0"] == "" and rows["rover"] == "hi"    # n=0 / n>len edges
    assert rows["lp"] == "..пр"                           # pad to 6 BYTES
    assert rows["lptr"] == 3                              # TRUNCATE to 3 bytes
    assert rows["rp"] == "abxy" and rows["lpsp"] == "  ab"  # space default
    assert rows["lpc"] == ".пр"                           # char pad form
    assert rows["c1"] == 2                                # non-overlapping
    assert rows["c2"] == 2 and rows["c3"] == 1 and rows["c0"] == 0
    assert rows["cn"] is None

    for bad in (
        "SELECT left(s, n) FROM t",          # expression length
        "SELECT right(s, -2) FROM t",        # CH negative-length rule
        "SELECT leftUTF8(s, m) FROM t",
        "SELECT countSubstrings(s, '') FROM t",
        "SELECT countSubstringsCaseInsensitive(s, 'a') FROM t",
    ):
        try:
            translate(bad)
            raise AssertionError(f"should have refused: {bad}")
        except UnsupportedClickHouseSQL:
            pass


def test_ch_dialect_url_and_splitter_refusals():
    """r13: the URL extractor family refuses with a parse_url pointer
    (ClickHouse's URL parser accepts scheme-less URLs where Spark's
    parse_url returns NULL — measured — so a textual map would silently
    NULL common log data), and the regex/class splitters refuse on
    pattern-dialect divergence (RE2 vs Java). Previously all of these
    died as opaque unresolved-function errors."""
    from clickhouse_data_rebalance_spark.plans.ch_dialect import (
        UnsupportedClickHouseSQL,
        translate,
    )

    for bad, hint in (
        ("SELECT domain(url) FROM t", "parse_url"),
        ("SELECT protocol(url), path(url) FROM t", "parse_url"),
        ("SELECT extractURLParameter(url, 'k') FROM t", "parse_url"),
        ("SELECT cutQueryString(url) FROM t", "parse_url"),
        ("SELECT splitByRegexp('\\\\d+', s) FROM t", "Java"),
        ("SELECT splitByWhitespace(s) FROM t", "Java"),
        ("SELECT alphaTokens(s) FROM t", "Java"),
    ):
        try:
            translate(bad)
            raise AssertionError(f"should have refused: {bad}")
        except UnsupportedClickHouseSQL as e:
            assert hint in str(e), (bad, str(e))
    # literal masking still applies: the names inside strings are data
    lit = "SELECT 'domain(url) splitByRegexp(p, s)' AS s FROM t"
    assert translate(lit) == lit
    # map accessors translate (snake_case twins, identical semantics);
    # concatWithSeparator/toFixedString/tupleElement refuse with pointers
    out = translate(
        "SELECT mapKeys(m), mapValues(m), mapContains(m, 'k'), "
        "mapFromArrays(a, b) FROM t"
    )
    assert out == (
        "SELECT map_keys(m), map_values(m), map_contains_key(m, 'k'), "
        "map_from_arrays(a, b) FROM t"
    )
    for bad, hint in (
        ("SELECT toFixedString(s, 8) FROM t", "rpad"),
        ("SELECT tupleElement(t2, 1) FROM t", "named"),
    ):
        try:
            translate(bad)
            raise AssertionError(f"should have refused: {bad}")
        except UnsupportedClickHouseSQL as e:
            assert hint in str(e), (bad, str(e))


def test_split_sep_escape_decoding(spark):
    """ADVICE r13: the one-byte guard must measure the DECODED literal
    ('\\t' is a genuine one-byte tab separator in both engines' literal
    syntax), while engine-DIVERGENT escapes (\\xHH octal \\a \\v \\f)
    refuse — the raw text is re-emitted into Spark SQL, so those would
    silently change the separator's value."""
    from clickhouse_data_rebalance_spark.plans.ch_dialect import (
        UnsupportedClickHouseSQL,
        translate,
    )

    # tab and backslash are one byte after decoding — they translate
    # and split correctly end-to-end
    got = spark.sql(
        translate("SELECT splitByChar('\\t', 'a\\tb\\tc') AS parts")
    ).collect()[0][0]
    assert got == ["a", "b", "c"]
    got = spark.sql(
        translate("SELECT splitByChar('\\\\', 'a\\\\b') AS parts")
    ).collect()[0][0]
    assert got == ["a", "b"]
    # multi-byte decoded values still refuse
    for bad in (
        "SELECT splitByChar('ab', s) FROM t",
        "SELECT splitByChar('\\t\\t', s) FROM t",
    ):
        try:
            translate(bad)
            raise AssertionError(f"should refuse >1 byte: {bad}")
        except UnsupportedClickHouseSQL as e:
            assert "one byte" in str(e)
    # divergent escapes refuse for BOTH splitters (value, not length):
    # \xHH is a byte in CH but 'xHH' text in Spark; '\012' is octal in
    # Spark but NUL+digits in CH
    for bad in (
        "SELECT splitByChar('\\x09', s) FROM t",
        "SELECT splitByString('\\f', s) FROM t",
        "SELECT splitByChar('\\012', s) FROM t",
    ):
        try:
            translate(bad)
            raise AssertionError(f"should refuse divergent escape: {bad}")
        except UnsupportedClickHouseSQL as e:
            assert "decode differently" in str(e)


def test_split_family_scanner_nesting(spark):
    """r14: splitByChar/splitByString upgraded from a one-level _ARG
    table entry to a scanner pass — nested arguments that previously
    fell through to the residual REFUSAL now translate; the pass runs
    AFTER the rewrite table so the ARRAY JOIN / has / indexOf binders
    still see the compact splitBy* text (the r13 ordering constraint)."""
    from clickhouse_data_rebalance_spark.plans.ch_dialect import (
        UnsupportedClickHouseSQL,
        translate,
    )

    # deep nesting translates and EXECUTES correctly end-to-end
    got = spark.sql(
        translate(
            "SELECT splitByString('XY', element_at("
            "splitByChar('.', 'aXYb.cXYd'), 2)) AS parts"
        )
    ).collect()[0][0]
    assert got == ["c", "d"]
    # a guarded concat as the split operand (two r14 passes composing)
    out = translate(
        "SELECT splitByChar(',', concatWithSeparator(',', a, b)) FROM t"
    )
    assert "splitByChar" not in out and "concat_ws" in out and "\\Q" in out
    # binder ordering preserved: has() binds the compact text first
    out = translate("SELECT has(splitByChar('-', p), 'HIGH') FROM orders")
    assert "exists(split(p" in out and "\\Q" in out
    # max_substrings refuses (version-divergent CH truncation semantics)
    try:
        translate("SELECT splitByChar(',', s, 3) FROM t")
        raise AssertionError("3-arg should refuse")
    except UnsupportedClickHouseSQL as e:
        assert "max_substrings" in str(e)


def test_ch_dialect_wave2_funcs(spark):
    """r14 wave 2: parseDateTime / base64 codec / IPv4 arithmetic /
    range / monthName / levenshteinUTF8 / generateUUIDv4 — previously
    opaque unresolved-function errors — plus the translate same-name
    collision guard. Execution arms measured against ClickHouse's
    documented contracts."""
    from clickhouse_data_rebalance_spark.plans.ch_dialect import (
        UnsupportedClickHouseSQL,
        translate,
    )

    def run(ch):
        return spark.sql(translate(f"SELECT {ch} AS v")).collect()[0][0]

    # base64: CH emits ONE unwrapped line (Spark's base64 wraps at 76
    # chars, measured) and THROWS on invalid input where unbase64
    # silently decodes garbage
    enc = run("base64Encode(repeat('x', 100))")
    assert "\n" not in enc and "\r" not in enc and len(enc) == 136
    assert run("base64Decode(base64Encode('hello мир'))") == "hello мир"
    assert run("tryBase64Decode('!!!')") == ""
    assert run("base64Decode(CAST(NULL AS STRING))") is None
    try:
        run("base64Decode('!!!')")
        raise AssertionError("invalid base64 must throw (CH contract)")
    except Exception as e:
        assert "base64Decode" in str(e)
    # IPv4: exact dotted-quad arithmetic; bare form throws on invalid,
    # OrNull/OrZero spell the CH defaults
    assert run("IPv4NumToString(3232235777)") == "192.168.1.1"
    assert run("IPv4StringToNum('192.168.1.1')") == 3232235777
    assert run("IPv4NumToString(IPv4StringToNum('10.0.0.255'))") == "10.0.0.255"
    assert run("IPv4StringToNumOrNull('999.1.1.1')") is None
    assert run("IPv4StringToNumOrZero('abc')") == 0
    assert run("isIPv4String('1.2.3.4')") is True
    assert run("isIPv4String('256.1.1.1')") is False
    # range: half-open [start, end), EMPTY when end <= start (Spark's
    # sequence walks DOWNWARD there — sequence(0, -1) = [0, -1])
    assert run("range(5)") == [0, 1, 2, 3, 4]
    assert run("range(0)") == []
    assert run("range(8, 2)") == []
    assert run("range(2, 9, 3)") == [2, 5, 8]
    try:
        translate("SELECT range(2, 9, k) FROM t")
        raise AssertionError("runtime step should refuse")
    except UnsupportedClickHouseSQL as e:
        assert "step" in str(e)
    # parseDateTime: the MySQL-% map run in reverse; Or-forms spell
    # CH's NULL / epoch defaults; Joda form passes the pattern through
    assert str(run(
        "parseDateTime('2026-08-16 10:20:30', '%Y-%m-%d %H:%i:%S')"
    )).startswith("2026-08-16 10:20:30")
    assert run("parseDateTimeOrNull('garbage', '%Y-%m-%d')") is None
    assert str(run("parseDateTimeOrZero('garbage', '%Y-%m-%d')")).startswith(
        "1970-01-01"
    )
    assert str(run(
        "parseDateTimeInJodaSyntax('2026-08-16', 'yyyy-MM-dd')"
    )).startswith("2026-08-16")
    # code-point edit distance + month name + uuid
    assert run("levenshteinDistanceUTF8('кошка', 'мошка')") == 1
    assert run("monthName(TIMESTAMP '2026-02-16')") == "February"
    assert len(run("generateUUIDv4()")) == 36
    # translate guard: equal-length ASCII literals pass through /
    # translateUTF8 renames; everything CH itself rejects refuses
    assert run("translate('HIGH-x', 'IH', 'ih')") == "hiGh-x"
    assert run("translateUTF8('кот', 'кт', 'КТ')") == "КоТ"
    for bad, hint in (
        ("SELECT translate(s, 'ab', 'xyz') FROM t", "SAME length"),
        ("SELECT translate(s, col, 'xy') FROM t", "LITERALS"),
        ("SELECT translate(s, 'ä', 'x') FROM t", "ASCII-only"),
        ("SELECT editDistance(a, b) FROM t", "BYTES"),
        ("SELECT parseDateTimeBestEffort(s) FROM t", "lenient"),
        ("SELECT initcap(s) FROM t", "word-boundary"),
        ("SELECT arrayZip(a, b) FROM t", "TUPLES"),
        ("SELECT toTimeZone(ts, 'UTC') FROM t", "session.timeZone"),
        ("SELECT IPv6NumToString(n) FROM t", "IPv6"),
        ("SELECT base58Encode(s) FROM t", "base58"),
    ):
        try:
            translate(bad)
            raise AssertionError(f"should refuse: {bad}")
        except UnsupportedClickHouseSQL as e:
            assert hint in str(e), (bad, str(e))
    # literal masking: all the new names inside strings are data
    lit = ("SELECT 'range(5) IPv4NumToString(1) base64Encode(x) "
           "parseDateTime(a) translate(a,b,c)' AS s FROM t")
    assert translate(lit) == lit


def test_ch_dialect_concat_with_separator(spark):
    """r14 (VERDICT r13 #4): concatWithSeparator is a refusal-turned-
    translation. CH returns NULL when ANY argument (separator included)
    is NULL; Spark's concat_ws SKIPS NULLs — the guard closes the gap
    with the least/greatest NULL-propagation CASE."""
    from clickhouse_data_rebalance_spark.plans.ch_dialect import (
        UnsupportedClickHouseSQL,
        translate,
    )

    out = translate("SELECT concatWithSeparator('-', a, b) FROM t")
    assert out == (
        "SELECT (CASE WHEN ('-') IS NULL OR (a) IS NULL OR (b) IS NULL "
        "THEN NULL ELSE concat_ws(('-'), (a), (b)) END) FROM t"
    )
    # AssumeInjective: CH's GROUP-BY-elimination hint, same semantics
    assert "concat_ws" in translate(
        "SELECT concatWithSeparatorAssumeInjective('-', a, b) FROM t"
    )
    # executed NULL-arm semantics: any NULL argument -> NULL (CH), where
    # bare concat_ws would skip ('a' / 'a-b' / '')
    spark.createDataFrame(
        [("a", None), ("a", "b"), (None, None)], "x string, y string"
    ).createOrReplaceTempView("cws_t")
    got = [
        r[0]
        for r in spark.sql(
            translate(
                "SELECT concatWithSeparator('-', x, y) AS c FROM cws_t "
                "ORDER BY x NULLS LAST, y NULLS LAST"
            )
        ).collect()
    ]
    assert got == ["a-b", None, None]
    # NULL separator -> NULL even with non-null pieces
    assert spark.sql(
        translate(
            "SELECT concatWithSeparator(CAST(NULL AS STRING), 'a', 'b') AS c"
        )
    ).collect()[0][0] is None
    # nesting rewrites every level; literal masking keeps names-in-data
    nested = translate(
        "SELECT concatWithSeparator('-', concatWithSeparator(':', a, b), c) "
        "FROM t"
    )
    # inner call is duplicated into the outer guard's IS NULL check and
    # its ELSE call (the documented row-local double evaluation) -> the
    # rewritten inner appears twice plus the outer once
    assert "concatWithSeparator" not in nested
    assert nested.count("concat_ws") == 3
    lit = "SELECT 'concatWithSeparator(x)' AS s FROM t"
    assert translate(lit) == lit
    # arity CH itself rejects refuses loudly
    try:
        translate("SELECT concatWithSeparator('-') FROM t")
        raise AssertionError("1-arg should refuse")
    except UnsupportedClickHouseSQL as e:
        assert "separator" in str(e)


def test_with_fill_restart_semantics(spark):
    """CH's FillingTransform restarts the STEP sequence AT EACH existing
    value: data {1, 4, 8} STEP 2 fills 3 (from 1) and 6 (from 4) — a
    global min..max spine would wrongly fill {3, 5, 7}."""
    from clickhouse_data_rebalance_spark.plans.ch_dialect import (
        _apply_with_fill,
    )

    spark.createDataFrame(
        [(1, "a"), (4, "b"), (8, "c")], "k int, tag string"
    ).createOrReplaceTempView("fill_t")
    out = _apply_with_fill(
        spark, "SELECT k, tag FROM fill_t ORDER BY k WITH FILL STEP 2"
    ).collect()
    assert [(r["k"], r["tag"]) for r in out] == [
        (1, "a"), (3, ""), (4, "b"), (6, ""), (8, "c"),
    ]


def test_with_fill_from_to_and_defaults(spark):
    """FROM is inclusive, TO exclusive; filled non-sort columns carry CH
    TYPE DEFAULTS (0 / '' / false), never NULL."""
    from clickhouse_data_rebalance_spark.plans.ch_dialect import (
        _apply_with_fill,
    )

    spark.createDataFrame(
        [(3, 10, "x", True)], "k int, n int, s string, b boolean"
    ).createOrReplaceTempView("fill_t2")
    out = _apply_with_fill(
        spark,
        "SELECT k, n, s, b FROM fill_t2 ORDER BY k WITH FILL FROM 1 TO 6",
    ).collect()
    assert [tuple(r) for r in out] == [
        (1, 0, "", False),
        (2, 0, "", False),
        (3, 10, "x", True),
        (4, 0, "", False),
        (5, 0, "", False),  # TO 6 exclusive: no k=6 row
    ]


def test_with_fill_refusals(spark):
    from clickhouse_data_rebalance_spark.plans.ch_dialect import (
        UnsupportedClickHouseSQL,
        _apply_with_fill,
    )

    spark.createDataFrame(
        [(1, 1.5)], "k int, v double"
    ).createOrReplaceTempView("fill_t3")
    for bad in (
        # INTERPOLATE AS-expressions evaluate over the previous row —
        # refuse (the bare-column carry-forward form translates, see
        # test_with_fill_interpolate_carry_forward)
        "SELECT k, v FROM fill_t3 ORDER BY k WITH FILL INTERPOLATE (v AS v*2)",
        # direction/step sign mismatches (DESC itself now translates)
        "SELECT k, v FROM fill_t3 ORDER BY k DESC WITH FILL STEP 2",
        "SELECT k, v FROM fill_t3 ORDER BY k WITH FILL STEP -1",
        # expression keys / multi-key: out of the simple form
        "SELECT k, v FROM fill_t3 ORDER BY k + 1 WITH FILL",
        "SELECT k, v FROM fill_t3 ORDER BY k WITH FILL, v WITH FILL",
        # double sort key refuses (neither integer nor date)
        "SELECT v, k FROM fill_t3 ORDER BY v WITH FILL",
        # WITH FILL not at the statement tail
        "SELECT * FROM (SELECT k FROM fill_t3 ORDER BY k WITH FILL) q LIMIT 1",
    ):
        try:
            _apply_with_fill(spark, bad)
            raise AssertionError(f"should have refused: {bad}")
        except UnsupportedClickHouseSQL:
            pass


def test_with_fill_literal_masked(spark):
    """'WITH FILL' inside a string literal is data — ch_sql must run the
    plain translate path, not the fill interceptor."""
    from clickhouse_data_rebalance_spark.plans.ch_dialect import ch_sql

    out = ch_sql(
        spark,
        SF_SMALL,
        "SELECT 'ORDER BY x WITH FILL' AS s, count() AS n FROM region",
    ).collect()
    assert out[0]["s"] == "ORDER BY x WITH FILL" and out[0]["n"] == 5


def test_with_fill_interpolate_carry_forward(spark):
    """INTERPOLATE (col): filled rows carry the previous original row's
    value (CH's no-expression default); leading fills keep the type
    default; non-listed columns still take type defaults."""
    from clickhouse_data_rebalance_spark.plans.ch_dialect import (
        UnsupportedClickHouseSQL,
        _apply_with_fill,
    )

    spark.createDataFrame(
        [(2, 5, "b"), (5, 9, "e")], "k int, n int, s string"
    ).createOrReplaceTempView("fill_i")
    out = _apply_with_fill(
        spark,
        "SELECT k, n, s FROM fill_i ORDER BY k "
        "WITH FILL FROM 0 TO 7 INTERPOLATE (n)",
    ).collect()
    assert [tuple(r) for r in out] == [
        (0, 0, ""),   # leading fill: no predecessor -> type default
        (1, 0, ""),
        (2, 5, "b"),
        (3, 5, ""),   # carried n, default s
        (4, 5, ""),
        (5, 9, "e"),
        (6, 9, ""),
    ]
    # AS-expression and bare INTERPOLATE forms refuse
    for bad in (
        "SELECT k, n FROM fill_i ORDER BY k WITH FILL INTERPOLATE (n AS n+1)",
        "SELECT k, n FROM fill_i ORDER BY k WITH FILL INTERPOLATE",
        # sort key itself can't be interpolated
        "SELECT k, n FROM fill_i ORDER BY k WITH FILL INTERPOLATE (k)",
        # unknown column
        "SELECT k, n FROM fill_i ORDER BY k WITH FILL INTERPOLATE (zz)",
    ):
        try:
            _apply_with_fill(spark, bad)
            raise AssertionError(f"should have refused: {bad}")
        except UnsupportedClickHouseSQL:
            pass


def test_dictionary_meta_and_dict_get_rewrite(spark):
    """CREATE DICTIONARY parsing + the dictGet lowering (r11): literal
    names resolve against the DDL, misses fall back to the DDL DEFAULT
    (or the type default / explicit OrDefault), typed variants cast,
    and the unguessable shapes refuse with pointers."""
    import pytest as _pytest

    from clickhouse_data_rebalance_spark.plans.ch_dialect import (
        UnsupportedClickHouseSQL,
        _apply_dict_get,
        dictionary_meta,
        translate,
    )

    ddl = (
        "CREATE DICTIONARY d (k UInt64, s String DEFAULT 'miss', "
        "v Float64) PRIMARY KEY k "
        "SOURCE(CLICKHOUSE(TABLE 'src')) LAYOUT(FLAT()) LIFETIME(60)"
    )
    meta = dictionary_meta(ddl)
    assert meta["name"] == "d" and meta["key"] == "k"
    assert meta["source"] == "src"
    assert meta["attrs"]["s"] == ("String", "'miss'")
    assert meta["attrs"]["v"] == ("Float64", "0")  # type default

    dicts = {"d": meta}
    out = _apply_dict_get("SELECT dictGet('d', 's', x + 1) FROM t", dicts)
    assert (
        "coalesce((SELECT max(s) FROM src WHERE k = (x + 1)), 'miss')" in out
    )
    out = _apply_dict_get(
        "SELECT dictGetOrDefault('d', 'v', x, -1.5) FROM t", dicts
    )
    assert "coalesce((SELECT max(v) FROM src WHERE k = (x)), (-1.5))" in out
    out = _apply_dict_get("SELECT dictGetString('d', 's', x) FROM t", dicts)
    assert out.startswith("SELECT CAST(coalesce(")
    assert "AS STRING)" in out
    out = _apply_dict_get("SELECT dictHas('d', x) FROM t", dicts)
    assert "(SELECT count(*) FROM src WHERE k = (x)) > 0" in out
    # literal-masked: a dictGet spelling inside a string is data
    lit = "SELECT 'dictGet(''d'', ''s'', x)' AS s FROM t"
    assert _apply_dict_get(lit, dicts) == lit

    for bad_ddl in (
        # composite key
        "CREATE DICTIONARY d2 (a UInt64, b UInt64, s String) "
        "PRIMARY KEY a, b SOURCE(CLICKHOUSE(TABLE 't'))",
        # non-table source
        "CREATE DICTIONARY d3 (k UInt64, s String) PRIMARY KEY k "
        "SOURCE(HTTP(URL 'http://x'))",
        # default this parser cannot state
        "CREATE DICTIONARY d4 (k UInt64, t DateTime) PRIMARY KEY k "
        "SOURCE(CLICKHOUSE(TABLE 't'))",
    ):
        with _pytest.raises(UnsupportedClickHouseSQL):
            dictionary_meta(bad_ddl)

    # clause order is free in CH: LAYOUT/LIFETIME may precede SOURCE,
    # and DEFAULT literals may contain parens (quote-aware scan)
    meta2 = dictionary_meta(
        "CREATE DICTIONARY db.d5 (k UInt64, s String DEFAULT '(n/a)') "
        "PRIMARY KEY k LAYOUT(FLAT()) LIFETIME(60) "
        "SOURCE(CLICKHOUSE(TABLE 'src'))"
    )
    assert meta2["name"] == "d5" and meta2["key"] == "k"
    assert meta2["attrs"]["s"] == ("String", "'(n/a)'")
    # db-qualified call spelling resolves to the bare-registered name
    out = _apply_dict_get("SELECT dictGet('db.d', 's', x) FROM t", dicts)
    assert "FROM src WHERE k = (x)" in out

    # a default naming a source column is NOT a capture (ADVICE r11):
    # the default splices OUTSIDE the correlated subquery —
    # coalesce(sub, (default)) — binding in the OUTER scope exactly as
    # CH evaluates it; only the key expression (inside WHERE) captures
    out = _apply_dict_get("SELECT dictGetOrDefault('d', 's', x, v) FROM t", dicts)
    assert "coalesce((SELECT max(s) FROM src WHERE k = (x)), (v))" in out

    for bad_call, msg in (
        ("SELECT dictGet('nope', 's', x) FROM t", "unknown dictionary"),
        ("SELECT dictGet('d', 'zz', x) FROM t", "no attribute"),
        ("SELECT dictGet('d', 's', x, 0) FROM t", "OrDefault"),
        ("SELECT dictGetDate('d', 's', x) FROM t", "typed"),
        # key expr naming a SOURCE column would bind to the subquery's
        # inner scope and silently return the global max — refuse
        ("SELECT dictGet('d', 's', k + 1) FROM t", "INNER scope"),
        # key nested beyond one paren level: a TARGETED shape error,
        # not the misleading pass-the-ddls pointer
        ("SELECT dictGet('d', 's', f(g(x))) FROM t", "shape"),
        ("SELECT dictGetHierarchy('d', x) FROM t", "shape"),
    ):
        with _pytest.raises(UnsupportedClickHouseSQL, match=msg):
            _apply_dict_get(bad_call, dicts)

    # without ddls the standing refusal fires with the ddls= pointer
    with _pytest.raises(UnsupportedClickHouseSQL, match="ddls="):
        translate("SELECT dictGet('d', 's', x) FROM t")
    with _pytest.raises(UnsupportedClickHouseSQL, match="ddls="):
        translate("SELECT dictGetHierarchy('d', x) FROM t")


def test_merge_tree_meta_parsing():
    from clickhouse_data_rebalance_spark.plans.ch_dialect import (
        UnsupportedClickHouseSQL,
        merge_tree_meta,
    )

    meta = merge_tree_meta(
        """
        CREATE TABLE IF NOT EXISTS db.t ON CLUSTER '{cluster}' (
            k UInt64,
            s LowCardinality(String),
            d Decimal(18, 2),
            v UInt64,
            INDEX idx_s s TYPE set(0) GRANULARITY 4
        ) ENGINE = ReplacingMergeTree(v)
        PARTITION BY s
        ORDER BY (k, s)
        SETTINGS index_granularity = 8192
        """
    )
    assert meta["name"] == "t"
    assert meta["family"] == "Replacing"
    assert meta["params"] == ["v"]
    # Decimal(18, 2)'s inner comma must not split the column list; the
    # INDEX entry must be skipped
    assert meta["columns"] == [
        ("k", "UInt64"),
        ("s", "LowCardinality(String)"),
        ("d", "Decimal(18, 2)"),
        ("v", "UInt64"),
    ]
    assert meta["keys"] == ["k", "s"]
    # single bare-column ORDER BY (no parens)
    meta2 = merge_tree_meta(
        "CREATE TABLE u (k UInt64, n Int32) ENGINE = SummingMergeTree() "
        "ORDER BY k"
    )
    assert meta2["family"] == "Summing" and meta2["keys"] == ["k"]
    # expression sort keys carry no reconstructible collapse identity
    for bad in (
        "CREATE TABLE e (k UInt64) ENGINE = MergeTree ORDER BY tuple()",
        "CREATE TABLE e (k UInt64, t DateTime) ENGINE = "
        "ReplacingMergeTree() ORDER BY toDate(t)",
        "CREATE TABLE e (k UInt64) ENGINE = Distributed(c, d, t)",
    ):
        try:
            merge_tree_meta(bad)
            raise AssertionError(f"should have refused: {bad}")
        except UnsupportedClickHouseSQL:
            pass


def test_final_replacing_semantics(spark):
    """ReplacingMergeTree FINAL keeps the max-version row per sort key;
    version ties break by the remaining columns DESC (the documented
    deterministic refinement of CH's insertion-order tie)."""
    from clickhouse_data_rebalance_spark.plans.ch_dialect import (
        _apply_final,
        merge_tree_meta,
        translate,
    )

    spark.createDataFrame(
        [
            (1, "a", 1, 10.0),
            (1, "a", 3, 30.0),   # max version for (1,a) -> survives
            (1, "a", 2, 20.0),
            (2, "b", 7, 70.0),   # tie on ver=7: value 71.0 > 70.0 wins
            (2, "b", 7, 71.0),
            (3, "c", 5, 50.0),   # singleton key
        ],
        "user_id long, event_type string, ver long, value double",
    ).createOrReplaceTempView("final_t")
    meta = merge_tree_meta(
        "CREATE TABLE final_t (user_id UInt64, event_type String, "
        "ver UInt64, value Float64) ENGINE = ReplacingMergeTree(ver) "
        "ORDER BY (user_id, event_type)"
    )
    out = spark.sql(
        translate(
            _apply_final(
                "SELECT user_id, event_type, ver, value FROM final_t FINAL "
                "ORDER BY user_id",
                {"final_t": meta},
            )
        )
    ).collect()
    assert [tuple(r) for r in out] == [
        (1, "a", 3, 30.0),
        (2, "b", 7, 71.0),
        (3, "c", 5, 50.0),
    ]


def test_final_summing_semantics(spark):
    """SummingMergeTree FINAL group-sums the value columns per sort key
    and DROPS rows whose every summed column totals zero (CH deletes
    them at merge)."""
    from clickhouse_data_rebalance_spark.plans.ch_dialect import (
        _apply_final,
        merge_tree_meta,
        translate,
    )

    spark.createDataFrame(
        [
            ("a", 1, 5, 2),
            ("a", 1, 3, -2),    # (a,1): n=8, m=0 -> kept (n nonzero)
            ("b", 2, 4, -4),
            ("b", 2, -4, 4),    # (b,2): n=0, m=0 -> dropped
            ("c", 3, 1, 1),
        ],
        "k string, g int, n int, m int",
    ).createOrReplaceTempView("sum_t")
    meta = merge_tree_meta(
        "CREATE TABLE sum_t (k String, g Int32, n Int64, m Int64) "
        "ENGINE = SummingMergeTree() ORDER BY (k, g)"
    )
    out = spark.sql(
        translate(
            _apply_final(
                "SELECT k, g, n, m FROM sum_t FINAL ORDER BY k",
                {"sum_t": meta},
            )
        )
    ).collect()
    assert [tuple(r) for r in out] == [("a", 1, 8, 0), ("c", 3, 1, 1)]


def test_final_refusals(spark):
    from clickhouse_data_rebalance_spark.plans.ch_dialect import (
        UnsupportedClickHouseSQL,
        _apply_final,
        merge_tree_meta,
        translate,
    )

    def expect_refusal(sql, metas, frag):
        try:
            _apply_final(sql, metas)
            raise AssertionError(f"should have refused: {sql}")
        except UnsupportedClickHouseSQL as e:
            assert frag in str(e), (frag, str(e))

    q = "SELECT * FROM t FINAL"
    mk = lambda ddl: {"t": merge_tree_meta(ddl)}  # noqa: E731
    # engine families whose FINAL folds state the SQL text can't express
    expect_refusal(
        q,
        mk("CREATE TABLE t (k UInt64, sign Int8) ENGINE = "
           "CollapsingMergeTree(sign) ORDER BY k"),
        "collapsing_sign_merge",
    )
    expect_refusal(
        q,
        mk("CREATE TABLE t (k UInt64, st AggregateFunction(sum, UInt64)) "
           "ENGINE = AggregatingMergeTree() ORDER BY k"),
        "agg_state_merge",
    )
    # plain MergeTree has no collapse; Replacing without a version
    # column collapses by unobservable insertion order
    expect_refusal(
        q,
        mk("CREATE TABLE t (k UInt64, v UInt64) ENGINE = MergeTree() "
           "ORDER BY k"),
        "no merge-collapse semantics",
    )
    expect_refusal(
        q,
        mk("CREATE TABLE t (k UInt64, v UInt64) ENGINE = "
           "ReplacingMergeTree() ORDER BY k"),
        "insertion order",
    )
    # Summing: a non-numeric non-key column would keep an ARBITRARY
    # value; a Nullable summed column diverges on NULL handling
    expect_refusal(
        q,
        mk("CREATE TABLE t (k UInt64, n Int64, note String) ENGINE = "
           "SummingMergeTree() ORDER BY k"),
        "ARBITRARY",
    )
    expect_refusal(
        q,
        mk("CREATE TABLE t (k UInt64, n Nullable(Int64)) ENGINE = "
           "SummingMergeTree() ORDER BY k"),
        "Nullable",
    )
    # no DDL provided for the FINAL table; qualified names
    expect_refusal(q, {}, "no DDL")
    expect_refusal(
        "SELECT * FROM db.t FINAL",
        mk("CREATE TABLE t (k UInt64, v UInt64) ENGINE = "
           "ReplacingMergeTree(v) ORDER BY k"),
        "qualified",
    )
    # bare translate() still refuses with the ch_sql pointer
    try:
        translate("SELECT * FROM t FINAL")
        raise AssertionError("translate should refuse FINAL")
    except UnsupportedClickHouseSQL as e:
        assert "ddls" in str(e)


def test_final_literal_masked(spark):
    """'FROM t FINAL' inside a string literal is data: the rewrite must
    not fire on it, and the literal's content must survive."""
    from clickhouse_data_rebalance_spark.plans.ch_dialect import (
        _apply_final,
        merge_tree_meta,
        translate,
    )

    spark.createDataFrame(
        [(1, 1, 1.0)], "user_id long, ver long, value double"
    ).createOrReplaceTempView("lit_t")
    meta = merge_tree_meta(
        "CREATE TABLE lit_t (user_id UInt64, ver UInt64, value Float64) "
        "ENGINE = ReplacingMergeTree(ver) ORDER BY user_id"
    )
    out = spark.sql(
        translate(
            _apply_final(
                "SELECT 'SELECT * FROM x FINAL' AS s, user_id "
                "FROM lit_t FINAL",
                {"lit_t": meta},
            )
        )
    ).collect()
    assert out[0]["s"] == "SELECT * FROM x FINAL"


def _asof_run(spark, q):
    from clickhouse_data_rebalance_spark.plans.ch_dialect import (
        _apply_asof_join,
        translate,
    )

    return [tuple(r) for r in spark.sql(translate(_apply_asof_join(spark, q))).collect()]


def test_asof_rewrite_semantics(spark):
    """All four inequality directions, inclusive vs strict, LEFT vs
    inner, and the greatest-struct tie rule."""
    spark.createDataFrame(
        [("a", 5, "L1"), ("a", 2, "L2"), ("b", 9, "L3")],
        "k string, t long, lv string",
    ).createOrReplaceTempView("asof_l")
    spark.createDataFrame(
        [("a", 5, "R5a"), ("a", 5, "R5b"), ("a", 3, "R3"), ("a", 7, "R7")],
        "k string, t long, rv string",
    ).createOrReplaceTempView("asof_r")

    # >= : inclusive backward — left t=5 may take right t=5; the two
    # t=5 right rows tie and the GREATEST struct (R5b) wins
    out = _asof_run(
        spark,
        "SELECT l.lv AS lv, r.rv AS rv FROM asof_l l ASOF LEFT JOIN asof_r r "
        "ON l.k = r.k AND l.t >= r.t ORDER BY lv",
    )
    assert out == [("L1", "R5b"), ("L2", None), ("L3", None)]

    # > : strict backward — left t=5 must NOT see right t=5
    out = _asof_run(
        spark,
        "SELECT l.lv AS lv, r.rv AS rv FROM asof_l l ASOF LEFT JOIN asof_r r "
        "ON l.k = r.k AND l.t > r.t ORDER BY lv",
    )
    assert out == [("L1", "R3"), ("L2", None), ("L3", None)]

    # <= : inclusive forward — left t=5 takes the closest right ABOVE
    # (t=5 included, tie -> greatest struct)
    out = _asof_run(
        spark,
        "SELECT l.lv AS lv, r.rv AS rv FROM asof_l l ASOF LEFT JOIN asof_r r "
        "ON l.k = r.k AND l.t <= r.t ORDER BY lv",
    )
    assert out == [("L1", "R5b"), ("L2", "R3"), ("L3", None)]

    # < strict forward; INNER form drops the unmatched left rows
    out = _asof_run(
        spark,
        "SELECT l.lv AS lv, r.rv AS rv FROM asof_l l ASOF JOIN asof_r r "
        "ON l.k = r.k AND l.t < r.t ORDER BY lv",
    )
    assert out == [("L1", "R7"), ("L2", "R3")]

    # flipped operand order normalizes (r.t <= l.t == l.t >= r.t)
    out = _asof_run(
        spark,
        "SELECT l.lv AS lv, r.rv AS rv FROM asof_l l ASOF LEFT JOIN asof_r r "
        "ON r.k = l.k AND r.t <= l.t ORDER BY lv",
    )
    assert out == [("L1", "R5b"), ("L2", None), ("L3", None)]

    # USING (keys..., asof_key): equi on all but last, >= on the last;
    # GLOBAL is consumed (Spark's planner owns distribution)
    out = _asof_run(
        spark,
        "SELECT l.lv AS lv, r.rv AS rv FROM asof_l l "
        "GLOBAL ASOF LEFT JOIN asof_r r USING (k, t) ORDER BY lv",
    )
    assert out == [("L1", "R5b"), ("L2", None), ("L3", None)]


def test_asof_rewrite_refusals(spark):
    from clickhouse_data_rebalance_spark.plans.ch_dialect import (
        UnsupportedClickHouseSQL,
        _apply_asof_join,
        translate,
    )

    spark.createDataFrame(
        [("a", 1, "x")], "k string, t long, r string"
    ).createOrReplaceTempView("asof_l2")
    spark.createDataFrame(
        [("a", 1, "y")], "k string, t long, rv string"
    ).createOrReplaceTempView("asof_r2")
    for bad in (
        # single-column USING (no equality keys); no inequality; two
        # inequalities; != ; unqualified; parenthesized conds; same
        # alias both sides; USING keys missing from a side
        "SELECT * FROM asof_l2 l ASOF JOIN asof_r2 r USING (t)",
        # missing-key refusal must be reachable: alias rr avoids the
        # collision check (asof_l2 HAS a column named r) firing first
        "SELECT * FROM asof_l2 l ASOF JOIN asof_r2 rr USING (k, zz)",
        "SELECT * FROM asof_l2 l ASOF JOIN asof_r2 r ON l.k = r.k",
        "SELECT * FROM asof_l2 l ASOF JOIN asof_r2 r "
        "ON l.k = r.k AND l.t > r.t AND l.t < r.t",
        "SELECT * FROM asof_l2 l ASOF JOIN asof_r2 r "
        "ON l.k = r.k AND l.t != r.t",
        "SELECT * FROM asof_l2 l ASOF JOIN asof_r2 r ON k = r.k AND l.t > r.t",
        "SELECT * FROM asof_l2 l ASOF JOIN asof_r2 r "
        "ON (l.k = r.k) AND l.t > r.t",
        "SELECT * FROM asof_l2 x ASOF JOIN asof_r2 x ON x.k = x.k AND x.t > x.t",
    ):
        try:
            _apply_asof_join(spark, bad)
            raise AssertionError(f"should have refused: {bad}")
        except UnsupportedClickHouseSQL:
            pass
    # right alias colliding with a left COLUMN (the struct would shadow);
    # both sides stay the registered asof_*2 views so the check is
    # reachable standalone (the old .replace("r2", "r") also rewrote the
    # right TABLE to asof_r, which only exists when the whole module runs)
    try:
        _apply_asof_join(
            spark,
            "SELECT * FROM asof_l2 l ASOF JOIN asof_r2 r "
            "ON l.k = r.k AND l.t > r.t",
        )
        raise AssertionError("alias collision should refuse")
    except UnsupportedClickHouseSQL as e:
        assert "collides" in str(e)
    # bare translate() still refuses with the ch_sql pointer
    try:
        translate("SELECT * FROM a x ASOF JOIN b y ON x.k = y.k AND x.t > y.t")
        raise AssertionError("translate should refuse ASOF")
    except UnsupportedClickHouseSQL as e:
        assert "ch_sql" in str(e)


def test_asof_rewrite_literal_masked(spark):
    """'ASOF JOIN' inside a string literal is data — the single-clause
    matcher must see only the real clause and the literal must survive."""
    spark.createDataFrame(
        [("a", 1, "x")], "k string, t long, lv string"
    ).createOrReplaceTempView("asof_l3")
    spark.createDataFrame(
        [("a", 1, "y")], "k string, t long, rv string"
    ).createOrReplaceTempView("asof_r3")
    out = _asof_run(
        spark,
        "SELECT 'FROM a ASOF JOIN b' AS s, r.rv AS rv FROM asof_l3 l "
        "ASOF LEFT JOIN asof_r3 r ON l.k = r.k AND l.t >= r.t",
    )
    assert out == [("FROM a ASOF JOIN b", "y")]


def test_any_join_rewrite_semantics(spark):
    """ANY LEFT/INNER JOIN: right side deduped by the join keys with the
    greatest-struct pick; left multiplicity preserved."""
    from clickhouse_data_rebalance_spark.plans.ch_dialect import (
        UnsupportedClickHouseSQL,
        _apply_any_join,
        translate,
    )

    spark.createDataFrame(
        [("a", "L1"), ("a", "L2"), ("c", "L3")], "k string, lv string"
    ).createOrReplaceTempView("any_l")
    spark.createDataFrame(
        [("a", 1, "R1"), ("a", 2, "R2"), ("b", 9, "R9")],
        "k string, n long, rv string",
    ).createOrReplaceTempView("any_r")

    run = lambda q: [  # noqa: E731
        tuple(r) for r in spark.sql(translate(_apply_any_join(spark, q))).collect()
    ]
    # LEFT: both 'a' left rows keep exactly one match — the greatest
    # struct ('a', 2, 'R2'); unmatched 'c' survives with NULLs
    out = run(
        "SELECT l.lv AS lv, r.n AS n, r.rv AS rv FROM any_l l "
        "ANY LEFT JOIN any_r r ON l.k = r.k ORDER BY lv"
    )
    assert out == [("L1", 2, "R2"), ("L2", 2, "R2"), ("L3", None, None)]
    # INNER (bare ANY JOIN): unmatched left rows drop; GLOBAL consumed
    out = run(
        "SELECT l.lv AS lv, r.rv AS rv FROM any_l l "
        "GLOBAL ANY JOIN any_r r ON l.k = r.k ORDER BY lv"
    )
    assert out == [("L1", "R2"), ("L2", "R2")]

    for bad in (
        # RIGHT dedupes the left side; inequalities are order-dependent
        "SELECT * FROM any_l l ANY RIGHT JOIN any_r r ON l.k = r.k",
        "SELECT * FROM any_l l ANY JOIN any_r r ON l.k = r.k AND l.lv > r.rv",
        # unqualified / parenthesized conditions
        "SELECT * FROM any_l l ANY JOIN any_r r ON k = r.k",
        "SELECT * FROM any_l l ANY JOIN any_r r ON (l.k = r.k)",
    ):
        try:
            _apply_any_join(spark, bad)
            raise AssertionError(f"should have refused: {bad}")
        except UnsupportedClickHouseSQL:
            pass
    # bare translate() still refuses with the ch_sql pointer
    try:
        translate("SELECT * FROM a x ANY JOIN b y ON x.k = y.k")
        raise AssertionError("translate should refuse ANY JOIN")
    except UnsupportedClickHouseSQL as e:
        assert "ch_sql" in str(e)


def test_weighted_aggs_match_python_model(spark):
    """Third-implementation check for the r11 weighted rewrites: a pure
    Python model of ClickHouse's rules — quantileExactWeighted (sort
    values, accumulate weights, first value whose cumulative weight
    reaches floor(p * total), threshold clamped >= 1), topKWeighted
    (summed weights, weight-desc / value-asc), avgWeighted
    (sum(x*w)/sum(w)) — over seeded random data, independent of both the
    Spark lowering and the DuckDB oracle spelling."""
    import math
    import random

    from clickhouse_data_rebalance_spark.plans.ch_dialect import translate

    rng = random.Random(0xC0FFEE)
    rows = [
        (rng.randrange(0, 3), rng.randrange(-50, 51), rng.randrange(1, 9))
        for _ in range(4000)
    ]

    def model_q(pairs, p):
        pairs = sorted(pairs)
        total = sum(w for _, w in pairs)
        threshold = max(int(math.floor(p * total)), 1)
        acc = 0
        for v, w in pairs:
            acc += w
            if acc >= threshold:
                return v
        return None

    def model_topk(pairs, n):
        sums: dict[int, int] = {}
        for v, w in pairs:
            sums[v] = sums.get(v, 0) + w
        return [v for v, _ in sorted(sums.items(), key=lambda kv: (-kv[1], kv[0]))][:n]

    def model_avgw(pairs):
        den = float(sum(w for _, w in pairs))
        return sum(float(v) * w for v, w in pairs) / den

    spark.createDataFrame(rows, "g int, v int, w int").createOrReplaceTempView(
        "wagg_t"
    )
    got = {
        r["g"]: r
        for r in spark.sql(
            translate(
                "SELECT g, quantileExactWeighted(0.25)(v, w) AS q25, "
                "quantilesExactWeighted(0.5, 0.9)(v, w) AS qs, "
                "topKWeighted(3)(v, w) AS tk, "
                "avgWeighted(v, w) AS aw FROM wagg_t GROUP BY g"
            )
        ).collect()
    }
    for g in (0, 1, 2):
        pairs = [(v, w) for gg, v, w in rows if gg == g]
        assert got[g]["q25"] == model_q(pairs, 0.25), g
        assert got[g]["qs"] == [model_q(pairs, 0.5), model_q(pairs, 0.9)], g
        assert got[g]["tk"] == model_topk(pairs, 3), g
        # sums are exact integers in double, quotient bit-comparable
        assert abs(got[g]["aw"] - model_avgw(pairs)) < 1e-12, g


def test_bpe_train_matches_python_model(spark, sf_dir):
    """The trainer loop one step DEEPER than the SQL oracle's unroll
    (K=3): the fold-based rewrite + winner selection must track a pure
    Python BPE reference exactly — merges applied left-to-right
    non-overlapping, winner ties (count DESC, pair ASC)."""
    from collections import Counter

    from pyspark.sql import functions as F

    from clickhouse_data_rebalance_spark.operators.llm_corpus import (
        bpe_apply_merge,
    )
    from clickhouse_data_rebalance_spark.tables import table

    docs = [
        r["text"]
        for r in table(spark, sf_dir, "documents").select("text").collect()
    ]
    toks = [d.strip().split() for d in docs]
    expected = []
    for step in range(1, 4):
        cnt = Counter(
            (t[i], t[i + 1]) for t in toks for i in range(len(t) - 1)
        )
        (a, b), n = sorted(cnt.items(), key=lambda kv: (-kv[1], kv[0]))[0]
        merged = f"{a}+{b}"
        nxt = []
        for t in toks:
            out, i = [], 0
            while i < len(t):
                if i + 1 < len(t) and t[i] == a and t[i + 1] == b:
                    out.append(merged)
                    i += 2
                else:
                    out.append(t[i])
                    i += 1
            nxt.append(out)
        toks = nxt
        expected.append((step, a, b, n, sum(len(t) for t in toks)))

    cur = table(spark, sf_dir, "documents").select(
        "doc_id", F.split(F.trim("text"), r"\s+").alias("t")
    )
    got = []
    for step in range(1, 4):
        pairs = (
            cur.filter(F.size("t") >= 2)
            .select(F.explode(F.sequence(F.lit(1), F.size("t") - 1)).alias("i"), "t")
            .select(
                F.element_at("t", F.col("i")).alias("a"),
                F.element_at("t", F.col("i") + 1).alias("b"),
            )
            .groupBy("a", "b")
            .count()
        )
        top = pairs.orderBy(F.desc("count"), "a", "b").limit(1).collect()[0]
        cur = cur.select(
            "doc_id", bpe_apply_merge(F.col("t"), top["a"], top["b"]).alias("t")
        ).localCheckpoint(eager=False)
        after = cur.agg(F.sum(F.size("t"))).collect()[0][0]
        got.append((step, top["a"], top["b"], int(top["count"]), int(after)))
    assert got == expected


def test_asof_any_modifier_spellings(spark):
    """Review-fix regressions: ASOF INNER / ASOF LEFT OUTER / ANY LEFT
    OUTER spellings must route through the rewrites (they previously
    slipped every net and parsed ASOF/ANY as a table alias — silent row
    multiplication); bare translate() must refuse them all, including
    GLOBAL-prefixed forms (the ASOF refusal pattern itself matches past
    the modifiers, firing before any GLOBAL handling)."""
    from clickhouse_data_rebalance_spark.plans.ch_dialect import (
        UnsupportedClickHouseSQL,
        _apply_any_join,
        _apply_asof_join,
        translate,
    )

    # fixtures from the earlier tests may not exist when run alone
    spark.createDataFrame(
        [("a", 5, "L1")], "k string, t long, lv string"
    ).createOrReplaceTempView("asof_m_l")
    spark.createDataFrame(
        [("a", 3, "R3"), ("a", 4, "R4")], "k string, t long, rv string"
    ).createOrReplaceTempView("asof_m_r")

    run_asof = lambda q: [  # noqa: E731
        tuple(r)
        for r in spark.sql(translate(_apply_asof_join(spark, q))).collect()
    ]
    assert run_asof(
        "SELECT l.lv AS lv, r.rv AS rv FROM asof_m_l l "
        "ASOF INNER JOIN asof_m_r r ON l.k = r.k AND l.t >= r.t"
    ) == [("L1", "R4")]
    assert run_asof(
        "SELECT l.lv AS lv, r.rv AS rv FROM asof_m_l l "
        "ASOF LEFT OUTER JOIN asof_m_r r ON l.k = r.k AND l.t >= r.t"
    ) == [("L1", "R4")]
    out = [
        tuple(r)
        for r in spark.sql(
            translate(
                _apply_any_join(
                    spark,
                    "SELECT l.lv AS lv, r.rv AS rv FROM asof_m_l l "
                    "ANY LEFT OUTER JOIN asof_m_r r ON l.k = r.k",
                )
            )
        ).collect()
    ]
    assert out == [("L1", "R4")]
    # ANY RIGHT OUTER refuses (dedupes the left side)
    try:
        _apply_any_join(
            spark,
            "SELECT * FROM asof_m_l l ANY RIGHT OUTER JOIN asof_m_r r "
            "ON l.k = r.k",
        )
        raise AssertionError("ANY RIGHT OUTER should refuse")
    except UnsupportedClickHouseSQL as e:
        assert "LEFT side" in str(e)
    # case-variant keys AND aliases resolve like Spark does
    # (case-insensitive under the default analyzer)
    assert run_asof(
        "SELECT l.lv AS lv, r.rv AS rv FROM asof_m_l l "
        "ASOF JOIN asof_m_r r ON L.K = R.K AND L.T >= R.T"
    ) == [("L1", "R4")]
    # bare translate(): every spelling refuses with its own pointer
    for q, frag in (
        ("SELECT * FROM a x ASOF INNER JOIN b y ON x.k = y.k AND x.t > y.t",
         "ch_sql"),
        ("SELECT * FROM a x ANY LEFT OUTER JOIN b y ON x.k = y.k", "ch_sql"),
        ("SELECT * FROM a x GLOBAL ASOF LEFT JOIN b y ON x.k = y.k "
         "AND x.t > y.t", "ch_sql"),
        # second-review repros: RIGHT/FULL/CROSS spellings previously
        # passed through with ASOF/ANY parsing as a table alias
        ("SELECT * FROM l ASOF RIGHT JOIN r ON l.k = r.k AND l.t >= r.t",
         "ch_sql"),
        ("SELECT * FROM l ASOF FULL JOIN r ON l.k = r.k AND l.t >= r.t",
         "ch_sql"),
        ("SELECT * FROM l ANY CROSS JOIN r", "ch_sql"),
    ):
        try:
            translate(q)
            raise AssertionError(f"translate should refuse: {q}")
        except UnsupportedClickHouseSQL as e:
            assert frag in str(e), (q, str(e))


def test_asof_any_identifiers_do_not_trigger_rewrites(spark):
    """Second-review repro: a column/alias NAMED asof or any beside an
    ordinary JOIN must not route into the rewriters (the dispatch gates
    are bounded to join-modifier keywords)."""
    from .conftest import SF_SMALL
    from clickhouse_data_rebalance_spark.plans.ch_dialect import ch_sql

    out = ch_sql(
        spark,
        SF_SMALL,
        "SELECT r.r_name AS asof, count() AS any FROM region r "
        "JOIN nation n ON r.r_regionkey = n.n_regionkey "
        "GROUP BY r.r_name ORDER BY r.r_name LIMIT 2",
    ).collect()
    assert len(out) == 2 and out[0]["any"] == 5


def test_with_fill_desc_semantics(spark):
    """DESC WITH FILL: the downward walk — sequences restart at each
    existing value going DOWN, FROM is the inclusive high start, TO the
    exclusive low end, and INTERPOLATE carries the previous OUTPUT row
    (the larger key side) forward."""
    from clickhouse_data_rebalance_spark.plans.ch_dialect import (
        _apply_with_fill,
    )

    spark.createDataFrame(
        [(8, 80), (4, 40), (1, 10)], "k int, n int"
    ).createOrReplaceTempView("fill_d")
    # restart-at-each-value, step -2: 8 -> fill 6; 4 -> fill 2; stop at 1
    out = _apply_with_fill(
        spark, "SELECT k, n FROM fill_d ORDER BY k DESC WITH FILL STEP -2"
    ).collect()
    assert [tuple(r) for r in out] == [
        (8, 80), (6, 0), (4, 40), (2, 0), (1, 10),
    ]
    # FROM 11 (inclusive high) TO 0 (exclusive low), default step -1
    out = _apply_with_fill(
        spark,
        "SELECT k, n FROM fill_d ORDER BY k DESC WITH FILL FROM 11 TO 0 "
        "INTERPOLATE (n)",
    ).collect()
    ks = [r["k"] for r in out]
    assert ks == list(range(11, 0, -1))
    by_k = {r["k"]: r["n"] for r in out}
    # leading fills (11..9, no predecessor in output order) -> default;
    # carries take the previous LARGER key's original value
    assert by_k[11] == 0 and by_k[10] == 0 and by_k[9] == 0
    assert by_k[7] == 80 and by_k[5] == 80  # carried from k=8
    assert by_k[3] == 40 and by_k[2] == 40  # carried from k=4
    assert by_k[1] == 10


def test_ch_sql_text_roundtrip(spark):
    """ch_sql_text returns the exact Spark SQL the context rewrites
    produce — executing it must equal running ch_sql, and WITH FILL
    (a DataFrame lowering, not one SQL text) must refuse."""
    from .conftest import SF_SMALL
    from clickhouse_data_rebalance_spark.plans.ch_dialect import (
        UnsupportedClickHouseSQL,
        ch_sql,
        ch_sql_text,
    )

    q = (
        "SELECT c.event_type AS t, toUInt32(count()) AS n "
        "FROM clicks c ANY LEFT JOIN purchases p ON c.user_id = p.user_id "
        "GROUP BY t ORDER BY t"
    )
    # base tables must exist before the derived views reference them
    from clickhouse_data_rebalance_spark.tables import load_tables

    for name, df in load_tables(spark, SF_SMALL).items():
        df.createOrReplaceTempView(name)
    spark.sql(
        "CREATE OR REPLACE TEMP VIEW clicks AS SELECT event_id, user_id, "
        "ts, event_type FROM events WHERE event_type IN ('click', 'view')"
    )
    spark.sql(
        "CREATE OR REPLACE TEMP VIEW purchases AS SELECT user_id, ts, "
        "event_id, value FROM events WHERE event_type = 'purchase'"
    )
    text = ch_sql_text(spark, SF_SMALL, q)
    # the ANY construct is lowered (the dedup rank marker is present,
    # the keyword is gone) and the CH combinators are translated
    assert "__cdr_any_rn" in text
    assert not re.search(r"\bANY\s+LEFT\s+JOIN\b", text, re.I)
    assert "count(*)" in text.lower()
    a = [tuple(r) for r in spark.sql(text).collect()]
    b = [tuple(r) for r in ch_sql(spark, SF_SMALL, q).collect()]
    assert a == b and len(a) == 2
    try:
        ch_sql_text(
            spark, SF_SMALL, "SELECT 1 AS k ORDER BY k WITH FILL TO 3"
        )
        raise AssertionError("WITH FILL should refuse in ch_sql_text")
    except UnsupportedClickHouseSQL as e:
        assert "DataFrame" in str(e)


def test_ch_sql_repoints_only_the_views_it_reads(spark, monkeypatch):
    """ch_sql re-points the fixture views its query names — however they
    were re-pointed since load_tables registered them — and no others;
    the dialect demos whose helper views read fixture tables re-point
    those tables before building the views."""
    from clickhouse_data_rebalance_spark import registry
    from clickhouse_data_rebalance_spark.plans.ch_dialect import ch_sql
    from clickhouse_data_rebalance_spark.tables import load_tables

    registry.load_all()
    dfs = load_tables(spark, SF_SMALL)
    n_orders = dfs["orders"].count()
    # behind load_tables' back, as a test or notebook would
    dfs["orders"].limit(3).createOrReplaceTempView("orders")
    # record every temp view registered through a DataFrame from here on
    names: list[str] = []
    cls = type(dfs["orders"])
    register = cls.createOrReplaceTempView

    def spy(self, name):
        names.append(name)
        return register(self, name)

    monkeypatch.setattr(cls, "createOrReplaceTempView", spy)
    got = ch_sql(spark, SF_SMALL, "SELECT count(*) AS n FROM orders").collect()
    assert got[0]["n"] == n_orders
    assert names == ["orders"]
    # a table name inside a string literal is data, not a read
    names.clear()
    ch_sql(spark, SF_SMALL, "SELECT 'lineitem' AS s FROM region")
    assert names == ["region"]

    for q, read in [
        ("ch_ddl_roundtrip", "orders"),
        ("ch_dialect_final", "events"),
        ("ch_dialect_final_summing", "lineitem"),
        ("ch_dialect_asof_join", "events"),
        ("ch_dialect_any_join", "events"),
    ]:
        dfs[read].limit(0).createOrReplaceTempView(read)
        names.clear()
        df = registry.QUERIES[q](spark, SF_SMALL)
        assert read in names, (q, names)
        assert df.count() > 0, q


def test_with_fill_desc_bounds_and_narrow_keys(spark):
    """Third-review regressions: direction-mismatched FROM/TO refuse
    (CH errors; silently emitting gap fills would change behavior) and
    a narrow int key at its type minimum survives the negation (BIGINT
    working space — unary minus on byte -128 would ANSI-overflow)."""
    from clickhouse_data_rebalance_spark.plans.ch_dialect import (
        UnsupportedClickHouseSQL,
        _apply_with_fill,
    )

    spark.createDataFrame(
        [(-128, 1), (-125, 2)], "k tinyint, n int"
    ).createOrReplaceTempView("fill_b")
    out = _apply_with_fill(
        spark, "SELECT k, n FROM fill_b ORDER BY k DESC WITH FILL"
    ).collect()
    assert [tuple(r) for r in out] == [
        (-125, 2), (-126, 0), (-127, 0), (-128, 1),
    ]
    assert out[0].__fields__ == ["k", "n"]
    # the key column keeps its declared narrow type after the round trip
    assert dict(_apply_with_fill(
        spark, "SELECT k, n FROM fill_b ORDER BY k DESC WITH FILL"
    ).dtypes)["k"] == "tinyint"
    for bad in (
        "SELECT k, n FROM fill_b ORDER BY k DESC WITH FILL FROM 0 TO 19",
        "SELECT k, n FROM fill_b ORDER BY k WITH FILL FROM 19 TO 0",
    ):
        try:
            _apply_with_fill(spark, bad)
            raise AssertionError(f"should have refused: {bad}")
        except UnsupportedClickHouseSQL:
            pass


_CONTEXT_TRAP_LITERALS = st.sampled_from(
    [
        "SELECT * FROM t FINAL",
        "FROM state FINAL WHERE",
        "l ASOF LEFT JOIN r ON l.k = r.k",
        "ASOF INNER JOIN quotes USING (k, t)",
        "a ANY LEFT JOIN b ON a.k = b.k",
        "GLOBAL ANY JOIN x",
        "ORDER BY k DESC WITH FILL",
        "LIMIT 2, 3 BY c",
    ]
)


@settings(**_SETTINGS)
@given(lits=st.lists(_CONTEXT_TRAP_LITERALS, min_size=1, max_size=3))
def test_final_rewrite_literal_preservation_property(lits):
    """PROPERTY (r9 context-rewrite layer): _apply_final is pure text —
    for ANY combination of trigger phrases embedded as string literals
    beside a REAL `FROM t FINAL`, the rewrite must keep every literal
    byte-for-byte and lower only the real clause (matching runs on the
    literal-masked copy; splices index into raw text)."""
    from clickhouse_data_rebalance_spark.plans.ch_dialect import (
        _apply_final,
        merge_tree_meta,
    )

    meta = merge_tree_meta(
        "CREATE TABLE t (k UInt64, ver UInt64, v Float64) "
        "ENGINE = ReplacingMergeTree(ver) ORDER BY k"
    )
    sel = ", ".join(f"'{t}' AS s{i}" for i, t in enumerate(lits))
    out = _apply_final(
        f"SELECT {sel}, k FROM t FINAL", {"t": meta}
    )
    for t in lits:
        assert f"'{t}'" in out, (t, out)
    assert "FINAL" not in _re_strip_literals_for_test(out)


def _re_strip_literals_for_test(sql: str) -> str:
    from clickhouse_data_rebalance_spark.plans.ch_dialect import (
        _mask_literals,
    )

    return _mask_literals(sql)


def test_limit_with_ties_semantics(spark):
    """LIMIT n WITH TIES: boundary ties all admitted; NULL keys (CH
    sorts them LAST) enter only when n exceeds the non-null count."""
    from clickhouse_data_rebalance_spark.plans.ch_dialect import translate

    spark.createDataFrame(
        [(1, "a"), (2, "b1"), (2, "b2"), (2, "b3"), (3, "c"), (None, "z")],
        "k int, v string",
    ).createOrReplaceTempView("ties_t")
    run = lambda n: [  # noqa: E731
        tuple(r)
        for r in spark.sql(
            translate(f"SELECT k, v FROM ties_t ORDER BY k LIMIT {n} WITH TIES")
        ).collect()
    ]
    # n=2 cuts inside the k=2 tie group -> the whole group comes along
    assert run(2) == [(1, "a"), (2, "b1"), (2, "b2"), (2, "b3")]
    # n=5 covers all non-null keys exactly -> NULL row stays out
    assert sorted(run(5), key=lambda t: (t[0] is None, t)) == [
        (1, "a"), (2, "b1"), (2, "b2"), (2, "b3"), (3, "c"),
    ]
    # n=6 exceeds the non-null count -> the NULL row (CH: NULLS LAST)
    # is admitted, and it sorts last in the output
    out6 = run(6)
    assert out6[-1] == (None, "z") and len(out6) == 6
    # translate() emits the distributed threshold, not a rank window
    assert "RANK()" not in translate(
        "SELECT k FROM ties_t ORDER BY k LIMIT 2 WITH TIES"
    ).upper()


def test_quantile_exact_all_null_group(spark):
    """ADVICE r9: an all-NULL group makes count(x)=0 and the unclamped
    nearest-rank index 0 — Spark's try_element_at raises
    INVALID_INDEX_OF_ZERO (it only forgives out-of-bounds). The clamp
    to index >= 1 turns the empty-list lookup into a genuine NULL."""
    from clickhouse_data_rebalance_spark.plans.ch_dialect import translate

    spark.createDataFrame(
        [(1, None), (1, None), (2, 5.0), (2, 7.0)], "g int, x double"
    ).createOrReplaceTempView("qnull_t")
    out = {
        r["g"]: r["q"]
        for r in spark.sql(
            translate(
                "SELECT g, quantileExact(0.5)(x) AS q FROM qnull_t "
                "GROUP BY g ORDER BY g"
            )
        ).collect()
    }
    assert out[1] is None
    assert out[2] == 7.0  # CH nearest-rank: 0-based floor(0.5*2)=1 -> 7.0
    # medianExact takes the same path
    out = spark.sql(
        translate("SELECT medianExact(x) AS q FROM qnull_t WHERE g = 1")
    ).collect()
    assert out[0]["q"] is None


def test_final_join_side_residue_refuses(spark):
    """ADVICE r9: `FROM t FINAL JOIN b FINAL` — the join-side FINAL
    survives the FROM-anchored rewrite and Spark would parse it as a
    table alias, silently skipping b's collapse. The post-splice
    re-mask must refuse on ANY leftover FINAL token."""
    from clickhouse_data_rebalance_spark.plans.ch_dialect import (
        UnsupportedClickHouseSQL,
        _apply_final,
        merge_tree_meta,
    )

    ddl_a = (
        "CREATE TABLE fr_a (k UInt64, v UInt64, ver UInt64) "
        "ENGINE = ReplacingMergeTree(ver) ORDER BY k"
    )
    ddl_b = (
        "CREATE TABLE fr_b (k UInt64, w UInt64, ver UInt64) "
        "ENGINE = ReplacingMergeTree(ver) ORDER BY k"
    )
    metas = {
        m["name"]: m for m in (merge_tree_meta(ddl_a), merge_tree_meta(ddl_b))
    }
    try:
        _apply_final(
            "SELECT * FROM fr_a FINAL JOIN fr_b FINAL ON fr_a.k = fr_b.k",
            metas,
        )
        raise AssertionError("join-side FINAL should refuse")
    except UnsupportedClickHouseSQL as e:
        assert "FINAL outside" in str(e)
    # the single-table form still rewrites, and its splice's internal
    # __cdr_final_* identifiers do not trip the residue scan
    out = _apply_final("SELECT k, v FROM fr_a FINAL", metas)
    assert "__cdr_final_rn" in out
    import re as _re

    assert not _re.search(r"\bFINAL\b", out)


def test_asof_null_keys_never_match(spark):
    """ADVICE r9: ClickHouse join equality never matches NULL = NULL,
    but Spark's PARTITION BY groups NULL keys into one partition. Left
    rows with a NULL equality key or a NULL asof key must come back
    unmatched (LEFT) or dropped (inner), in both asof directions."""
    spark.createDataFrame(
        [(None, 10, "Lnullk"), (1, 10, "Lok"), (1, None, "Lnullt")],
        "k int, t int, lv string",
    ).createOrReplaceTempView("asofn_l")
    spark.createDataFrame(
        [(None, 5, "Rnullk"), (1, 5, "Rok"), (1, None, "Rnullt")],
        "k int, t int, rv string",
    ).createOrReplaceTempView("asofn_r")
    for op, match in ((">=", "Rok"), ("<=", None)):
        out = dict(
            _asof_run(
                spark,
                "SELECT l.lv AS lv, r.rv AS rv FROM asofn_l l "
                "ASOF LEFT JOIN asofn_r r "
                f"ON l.k = r.k AND l.t {op} r.t",
            )
        )
        assert out["Lnullk"] is None, op  # NULL eq key: no NULL=NULL match
        assert out["Lnullt"] is None, op  # NULL asof key: no carry
        # the NULL-keyed/NULL-asof right rows are invisible even to
        # valid left rows; only the fully-keyed right row can match
        assert out["Lok"] == match, (op, out)
    # inner form drops the NULL-keyed left rows entirely
    out = _asof_run(
        spark,
        "SELECT l.lv AS lv, r.rv AS rv FROM asofn_l l ASOF JOIN asofn_r r "
        "ON l.k = r.k AND l.t >= r.t",
    )
    assert out == [("Lok", "Rok")]


def test_lsh_params_scale_rule():
    """lsh_params_for mirrors ivf_params_for's contract: the registered
    module defaults ARE the rule at fixture size, planes grow log2 with
    corpus size (bounded occupancy), clamped to [5, 20]."""
    from clickhouse_data_rebalance_spark.operators.llm_similarity import (
        N_TABLES,
        PLANES_PER_TABLE,
        lsh_params_for,
    )

    assert lsh_params_for(500) == (N_TABLES, PLANES_PER_TABLE) == (16, 5)
    assert lsh_params_for(1_000_000) == (16, 8)
    assert lsh_params_for(10**9) == (16, 18)
    assert lsh_params_for(10**12) == (16, 20)  # clamp
    assert lsh_params_for(1) == (16, 5)
    # planes never shrink as the corpus grows
    last = 0
    for n in (1, 10**3, 10**4, 10**5, 10**6, 10**8, 10**10):
        p = lsh_params_for(n)[1]
        assert p >= last
        last = p


def test_with_fill_grouped_semantics(spark):
    """r10: `ORDER BY g, k WITH FILL` — leading bare keys partition the
    fill (CH's FillingTransform restarts at every non-fill sort-column
    change): per-group gap spines, group value carried into fills,
    grouped INTERPOLATE carries within its group only, DESC walks
    down per group; FROM/TO bounds and duplicate keys refuse."""
    import pytest as _pytest

    from clickhouse_data_rebalance_spark.plans.ch_dialect import (
        UnsupportedClickHouseSQL,
        _apply_with_fill,
    )

    spark.createDataFrame(
        [("a", 1, 10), ("a", 4, 40), ("b", 7, 70), ("b", 9, 90), ("b", 10, 91)],
        "g string, k int, val int",
    ).createOrReplaceTempView("gfill_t")
    run = lambda q: [  # noqa: E731
        tuple(r) for r in _apply_with_fill(spark, q).collect()
    ]
    # independent per-group spines; fills carry the group + type default
    assert run("SELECT g, k, val FROM gfill_t ORDER BY g, k WITH FILL") == [
        ("a", 1, 10), ("a", 2, 0), ("a", 3, 0), ("a", 4, 40),
        ("b", 7, 70), ("b", 8, 0), ("b", 9, 90), ("b", 10, 91),
    ]
    # grouped INTERPOLATE: carry stays inside the group (b's first fill
    # carries 70, never a's 40)
    assert run(
        "SELECT g, k, val FROM gfill_t ORDER BY g, k WITH FILL "
        "INTERPOLATE (val)"
    ) == [
        ("a", 1, 10), ("a", 2, 10), ("a", 3, 10), ("a", 4, 40),
        ("b", 7, 70), ("b", 8, 70), ("b", 9, 90), ("b", 10, 91),
    ]
    # grouped DESC: downward restart-at-each-value per group (9 - 2 = 7
    # is an original, so b gets NO fill row)
    assert run(
        "SELECT g, k, val FROM gfill_t ORDER BY g, k DESC WITH FILL STEP -2"
    ) == [
        ("a", 4, 40), ("a", 2, 0), ("a", 1, 10),
        ("b", 10, 91), ("b", 9, 90), ("b", 7, 70),
    ]
    # grouped DATE fill: per-group day spine, restart-at-each-value
    import datetime as _dt

    spark.createDataFrame(
        [
            ("a", _dt.date(2024, 1, 1), 1),
            ("a", _dt.date(2024, 1, 4), 4),
            ("b", _dt.date(2024, 2, 1), 9),
        ],
        "g string, d date, v int",
    ).createOrReplaceTempView("gfill_dt")
    assert run("SELECT g, d, v FROM gfill_dt ORDER BY g, d WITH FILL") == [
        ("a", _dt.date(2024, 1, 1), 1),
        ("a", _dt.date(2024, 1, 2), 0),
        ("a", _dt.date(2024, 1, 3), 0),
        ("a", _dt.date(2024, 1, 4), 4),
        ("b", _dt.date(2024, 2, 1), 9),
    ]
    with _pytest.raises(UnsupportedClickHouseSQL, match="FROM/TO"):
        run("SELECT g, k, val FROM gfill_t ORDER BY g, k WITH FILL FROM 0 TO 12")
    with _pytest.raises(UnsupportedClickHouseSQL, match="distinct"):
        run("SELECT g, k, val FROM gfill_t ORDER BY g, g WITH FILL")
    # a leading key must be in the select list (fills must carry it)
    with _pytest.raises(UnsupportedClickHouseSQL, match="select-list"):
        run("SELECT k, val FROM gfill_t ORDER BY g, k WITH FILL")


def test_with_fill_grouped_edge_regressions(spark):
    """Review-3 r10 edges: CRLF whitespace between grouped keys must not
    splice an empty key; case-mismatched group keys fold per
    spark.sql.caseSensitive; sort keys colliding with the rewrite's
    working columns refuse with a pointer instead of an ambiguous-
    reference crash."""
    import pytest as _pytest

    from clickhouse_data_rebalance_spark.plans.ch_dialect import (
        UnsupportedClickHouseSQL,
        _apply_with_fill,
    )

    spark.createDataFrame(
        [("a", 1, 10), ("a", 3, 30)], "g string, k int, val int"
    ).createOrReplaceTempView("gfedge_t")
    want = [("a", 1, 10), ("a", 2, 0), ("a", 3, 30)]
    out = _apply_with_fill(
        spark, "SELECT g, k, val FROM gfedge_t ORDER BY g,\r\nk WITH FILL"
    )
    assert [tuple(r) for r in out.collect()] == want
    out = _apply_with_fill(
        spark, "SELECT g, k, val FROM gfedge_t ORDER BY G, k WITH FILL"
    )
    assert [tuple(r) for r in out.collect()] == want
    spark.createDataFrame([(1, 2)], "_v int, k int").createOrReplaceTempView(
        "gfres_t"
    )
    with _pytest.raises(UnsupportedClickHouseSQL, match="working"):
        _apply_with_fill(spark, "SELECT _v, k FROM gfres_t ORDER BY _v, k WITH FILL")


def _py_filling_transform(rows, lo, hi, step, desc, interp, grouped):
    """Pure-Python model of the WITH FILL semantics the lowering claims
    (ClickHouse's FillingTransform, per leading-key group): originals
    pass through; the fill restarts at each existing non-NULL key
    (k+step, ... while < next key); FROM (inclusive) fills up to the
    group's first key, TO (exclusive) from its last; NULL keys take no
    part in the walk. DESC is the same walk in negated key space. Fills
    carry the group key, the type default (0 / '') in every other column,
    and under INTERPOLATE (x) the x of the original row they follow —
    head fills have none and take the default. Ungrouped, g is an
    ordinary column and fills take its default ''."""
    sgn = -1 if desc else 1
    lo_w = None if lo is None else sgn * lo
    hi_w = None if hi is None else sgn * hi
    out = list(rows)
    for g in {r[0] for r in rows}:
        fg = g if grouped else ""
        ks = sorted((sgn * k, x) for gg, k, x, _ in rows if gg == g and k is not None)
        if not ks:
            continue
        if lo_w is not None:
            out += [(fg, sgn * f, 0, "") for f in range(lo_w, ks[0][0], step)]
        ends = [b for b, _ in ks[1:]] + [ks[-1][0] if hi_w is None else hi_w]
        for (a, x), b in zip(ks, ends):
            fills = range(a + step, b, step)
            out += [(fg, sgn * f, x if interp else 0, "") for f in fills]
    return out


@st.composite
def _fill_cases(draw):
    desc, interp, grouped = draw(st.booleans()), draw(st.booleans()), draw(st.booleans())
    key = st.one_of(st.none(), st.integers(-12, 12))
    pairs = draw(
        st.lists(
            st.tuples(st.sampled_from("ab" if grouped else "a"), key),
            max_size=8,
            # under INTERPOLATE, which of two tied rows carries its value
            # is arrival order — keep the non-NULL keys distinct there
            unique_by=(lambda p: p if p[1] is not None else object())
            if interp
            else None,
        )
    )
    rows = [(g, k, i + 1, f"r{i}") for i, (g, k) in enumerate(pairs)]
    lo = hi = None
    if not grouped:  # grouped FROM/TO refuses
        lo, hi = draw(st.none() | st.integers(-16, 16)), draw(
            st.none() | st.integers(-16, 16)
        )
        if lo is not None and hi is not None and (lo > hi) != desc:
            lo, hi = hi, lo
    return rows, lo, hi, draw(st.integers(1, 3)), desc, interp, grouped


@settings(max_examples=30, deadline=None)
@given(_fill_cases())
def test_with_fill_matches_filling_transform_model(spark, case):
    """The one-pass lowering (lead/lag first/last markers on one window)
    against the pure-Python FillingTransform model on sparse keys with
    NULLs, ties, FROM below/above the minimum, TO inside/beyond the
    maximum, STEP > 1, DESC, INTERPOLATE and leading group keys: same
    multiset of rows, presented in fill-key order within each group."""
    from clickhouse_data_rebalance_spark.plans.ch_dialect import _apply_with_fill

    rows, lo, hi, step, desc, interp, grouped = case
    spark.createDataFrame(rows, "g string, k int, x int, y string").createOrReplaceTempView(
        "fill_prop"
    )
    tail = (
        ("DESC " if desc else "")
        + "WITH FILL"
        + (f" FROM {lo}" if lo is not None else "")
        + (f" TO {hi}" if hi is not None else "")
        + f" STEP {-step if desc else step}"
        + (" INTERPOLATE (x)" if interp else "")
    )
    by = "g, k" if grouped else "k"
    got = [
        tuple(r)
        for r in _apply_with_fill(
            spark, f"SELECT g, k, x, y FROM fill_prop ORDER BY {by} {tail}"
        ).collect()
    ]
    want = _py_filling_transform(rows, lo, hi, step, desc, interp, grouped)
    key = lambda r: tuple((v is None, v) for v in r)  # noqa: E731
    assert sorted(got, key=key) == sorted(want, key=key), (rows, tail)

    def pos(r):
        # presentation: groups ascending, then the fill key in the walk's
        # direction (Spark's NULL placement: first ascending, last DESC)
        g, k = r[0] if grouped else "", r[1]
        return (g, k is None, -(k or 0)) if desc else (g, k is not None, k or 0)

    assert [pos(r) for r in got] == sorted(map(pos, want))


def test_escape_whitelist_and_wave2_guards(spark):
    """ADVICE r14 quartet. (1) The divergent-escape guard is a
    WHITELIST: only escapes both literal parsers decode identically
    (\\t \\n \\r \\b \\0 \\\\ \\' \\") pass — the r14 blacklist missed
    \\Z (Spark U+001A vs CH 'Z'), \\% \\_ (Spark keeps the backslash,
    CH strips it), \\e (CH ESC vs Spark 'e') and \\N (CH empty vs Spark
    'N'), shipping silently wrong split rows. (2) range()/isIPv4String
    past-_ARG survivors refuse with a pointer instead of reaching Spark
    unresolved. (3) translate refuses duplicate from-chars (Spark
    first-wins vs unverified CH). (4) bare parseDateTime THROWS on a
    parse miss regardless of ANSI mode, like base64Decode."""
    import pytest as _pytest

    from clickhouse_data_rebalance_spark.plans.ch_dialect import (
        UnsupportedClickHouseSQL,
        translate,
    )

    # (1) newly-refused divergent escapes — each previously translated
    for bad in (
        "SELECT splitByChar('\\Z', s) FROM t",
        "SELECT splitByChar('\\%', s) FROM t",
        "SELECT splitByChar('\\_', s) FROM t",
        "SELECT splitByString('\\e', s) FROM t",
        "SELECT splitByString('\\N', s) FROM t",
        "SELECT translate(s, '\\Z', 'x') FROM t",
    ):
        with _pytest.raises(UnsupportedClickHouseSQL, match="decode differently"):
            translate(bad)
    # agreed escapes still pass and execute with the right separator
    got = spark.sql(
        translate("SELECT splitByChar('\\n', 'a\\nb') AS parts")
    ).collect()[0][0]
    assert got == ["a", "b"]

    # (2) past-_ARG range() refuses loudly; numbers() emission exempt
    with _pytest.raises(UnsupportedClickHouseSQL, match="range"):
        translate("SELECT range(least(a, b)) FROM t")
    assert "FROM range(7)" in translate("SELECT number FROM numbers(7)")
    # isIPv4String translates at one level and refuses past-_ARG
    assert "RLIKE" in translate("SELECT isIPv4String(s) FROM t")
    with _pytest.raises(UnsupportedClickHouseSQL):
        translate("SELECT isIPv4String(if(least(a, b) = 1, s, s2)) FROM t")

    # (3) duplicate from-chars refuse; one-to-one still translates
    with _pytest.raises(UnsupportedClickHouseSQL, match="one-to-one"):
        translate("SELECT translate(s, 'aa', 'xy') FROM t")
    assert "translate(s, 'ab', 'xy')" in translate(
        "SELECT translate(s, 'ab', 'xy') FROM t"
    )

    # (4) bare parseDateTime: good rows parse, NULL passes through,
    # a miss THROWS even with ANSI off (the session default here)
    spark.createDataFrame(
        [("2021-03-04",), (None,)], "s string"
    ).createOrReplaceTempView("pdt_t")
    sql = translate("SELECT parseDateTime(s, '%Y-%m-%d') AS ts FROM pdt_t")
    vals = [r[0] for r in spark.sql(sql).orderBy("ts").collect()]
    assert vals[0] is None and str(vals[1]).startswith("2021-03-04")
    spark.createDataFrame([("nope",)], "s string").createOrReplaceTempView(
        "pdt_t"
    )
    with _pytest.raises(Exception, match="parseDateTime"):
        spark.sql(sql).collect()
    # OrNull keeps the silent-NULL contract
    spark.sql(
        translate("SELECT parseDateTimeOrNull(s, '%Y-%m-%d') AS ts FROM pdt_t")
    ).collect()


def test_age_month_end_matrix_vs_python_model(spark):
    """VERDICT r14 #4 / ADVICE r13 #2: pin the age('month'/'quarter'/
    'year') lowering against an EXECUTABLE pure-Python model of
    ClickHouse's complete-month borrow rule (dateDiff.cpp age arm:
    base = 12*Δyear + Δmonth, minus 1 when the later operand's
    (day, time-of-day) tuple is lexicographically below the earlier
    one's — NO month-end clamping; e < s negates the swapped result;
    quarter/year = month count truncated toward zero by 3/12). The
    matrix exercises day-28/29/30/31 starts × leap (2020) and
    non-leap (2019/2021) February boundaries × midnight and
    23:59:59.5 times, both directions — the edges where the borrow
    rule diverges from months_between flooring and from
    Postgres/DuckDB's month-end clamp. No live ClickHouse exists in
    this sandbox; this converts the hand-traced rule into a
    regression-locked one (MIGRATION.md cites this test)."""
    import datetime as dt

    from clickhouse_data_rebalance_spark.plans.ch_dialect import translate

    def model_months(s, e):
        if s > e:
            return -model_months(e, s)
        base = (e.year - s.year) * 12 + (e.month - s.month)
        if (e.day, e.hour, e.minute, e.second, e.microsecond) < (
            s.day, s.hour, s.minute, s.second, s.microsecond
        ):
            base -= 1
        return base

    def trunc_div(m, d):
        return m // d if m >= 0 else -((-m) // d)

    stamps = []
    for y in (2019, 2020, 2021):
        for mo in (1, 2, 3, 4, 12):
            for d in (28, 29, 30, 31):
                for h, mi, se, us in ((0, 0, 0, 0), (23, 59, 59, 500000)):
                    try:
                        stamps.append(dt.datetime(y, mo, d, h, mi, se, us))
                    except ValueError:
                        pass  # Feb 29/30/31, Apr 31
    pairs = [(s, e) for s in stamps for e in stamps]
    df = spark.createDataFrame(pairs, "s timestamp, e timestamp")
    df.createOrReplaceTempView("age_matrix_t")
    sql = translate(
        "SELECT s, e, age('month', s, e) AS m, age('quarter', s, e) AS q, "
        "age('year', s, e) AS yy FROM age_matrix_t"
    )
    bad = []
    for row in spark.sql(sql).collect():
        m = model_months(row["s"], row["e"])
        want = (m, trunc_div(m, 3), trunc_div(m, 12))
        got = (row["m"], row["q"], row["yy"])
        if got != want:
            bad.append((row["s"], row["e"], got, want))
    assert not bad, f"{len(bad)} divergences, first 5: {bad[:5]}"
    assert len(pairs) >= 9000  # the matrix really is the full cross


def test_global_input_literal_escape_guard():
    """r15 class closure behind ADVICE r14's split/translate finding:
    EVERY input literal is re-emitted into Spark SQL verbatim, so a
    divergent escape anywhere — not just split separators — silently
    changes the value: match(s, '\\d+') reached RLIKE as 'd+' (Spark
    drops the backslash from unknown escapes, CH preserves it),
    replaceAll('\\Z', ...) replaced U+001A instead of 'Z'. translate()
    now refuses any literal whose escapes are outside the
    measured-identical set, and refuses escaped-quote literals (\\')
    whose misparse would let downstream rewrites see data as code."""
    import pytest as _pytest

    from clickhouse_data_rebalance_spark.plans.ch_dialect import (
        UnsupportedClickHouseSQL,
        translate,
    )

    for bad in (
        "SELECT match(s, '\\d+') FROM t",        # regex class via escape
        "SELECT replaceAll(s, '\\Z', 'x') FROM t",
        "SELECT s = 'a\\Zb' FROM t",              # plain comparison literal
        "SELECT s LIKE 'a\\%b' FROM t",           # LIKE-escape divergence
        "SELECT concat(s, '\\e') FROM t",
        "SELECT '\\x41' FROM t",
    ):
        with _pytest.raises(UnsupportedClickHouseSQL, match="decode differently"):
            translate(bad)
    with _pytest.raises(UnsupportedClickHouseSQL, match="double the quote"):
        translate("SELECT 'it\\'s' FROM t")
    # agreed escapes, '' doubling, and backslash-free regexes pass
    for ok in (
        "SELECT 'it''s' FROM t",
        "SELECT 'a\\\\' FROM t",
        "SELECT match(s, '[0-9]+') FROM t",
        "SELECT splitByChar('\\t', s) FROM t",
        "SELECT 'plain text' FROM t",
    ):
        translate(ok)


def test_ch_dialect_wave3_funcs(spark):
    """r15 wave 3: the digest/radix same-name collisions and the
    unresolved-survivor translations, each executed against a value
    ClickHouse documents (digest test vectors; hex/bin pad to the
    byte width, leading zero BYTES omitted; transform's value map;
    arrayDifference's leading 0; toStartOfInterval's 1970 epoch
    origin). Refusal arms: xxHash64 (resolves in Spark but is seed-42
    over the Catalyst row encoding — previously a SILENT value
    divergence), trunc/truncate (Spark's is DATE truncation — silent
    NULL), lagInFrame/leadInFrame (frames ignored by Spark's
    lag/lead), nested digest/hex survivors, non-literal transform
    maps."""
    import datetime as dt

    import pytest as _pytest

    from clickhouse_data_rebalance_spark.plans.ch_dialect import (
        UnsupportedClickHouseSQL,
        translate,
    )

    def one(ch):
        return spark.sql(translate(ch)).collect()[0][0]

    # digest bytes, not Spark's hex string (RFC 1321 / FIPS 180 vectors)
    assert one("SELECT lower(hex(MD5('abc')))") == (
        "900150983cd24fb0d6963f7d28e17f72"
    )
    assert one("SELECT hex(SHA256('abc'))") == (
        "BA7816BF8F01CFEA414140DE5DAE2223B00361A396177A9CB410FF61F20015AD"
    )
    assert one("SELECT lower(hex(SHA1('abc')))") == (
        "a9993e364706816aba3e25717850c26c9cd0d89d"
    )
    # hex/bin byte-width padding (CH: leading zero bytes omitted,
    # digits padded per byte)
    assert one("SELECT hex(10)") == "0A"
    assert one("SELECT hex(256)") == "0100"
    assert one("SELECT hex('ab')") == "6162"   # strings unaffected
    assert one("SELECT bin(1)") == "00000001"
    # value-mapping transform (4-arg default, 3-arg keep-x)
    assert one("SELECT transform(3, [1, 2], ['a', 'b'], 'z')") == "z"
    assert one("SELECT transform(2, [1, 2], ['a', 'b'], 'z')") == "b"
    assert one("SELECT transform(7, [1, 2], [10, 20])") == 7
    # arrays / timestamps
    assert one("SELECT arrayDifference([1, 2, 3, 5])") == [0, 1, 1, 2]
    # ADVICE r15: CH promotes integer elements to Int64 BEFORE the
    # subtraction — TINYINT [-100, 100] must yield 200, not the
    # ANSI-off wrapped -56; the `* 1L` widening also reproduces CH's
    # Float32 -> Float64 promotion (array<float> in -> array<double>
    # out, measured)
    spark.sql(
        "SELECT CAST(array(-100, 100) AS ARRAY<TINYINT>) AS a"
    ).createOrReplaceTempView("cdr_w3_t8")
    d8 = spark.sql(translate("SELECT arrayDifference(a) AS r FROM cdr_w3_t8"))
    assert d8.collect()[0][0] == [0, 200]
    assert d8.dtypes == [("r", "array<bigint>")]
    spark.sql(
        "SELECT CAST(array(1.5, 2.25) AS ARRAY<FLOAT>) AS a"
    ).createOrReplaceTempView("cdr_w3_tf")
    df32 = spark.sql(translate("SELECT arrayDifference(a) AS r FROM cdr_w3_tf"))
    assert df32.dtypes == [("r", "array<double>")]
    assert df32.collect()[0][0] == [0.0, 0.75]
    assert one("SELECT arrayIntersect([1, 2, 3], [2, 3, 4])") == [2, 3]
    assert one("SELECT emptyArrayInt32()") == []
    assert one("SELECT fromUnixTimestamp(0)") == dt.datetime(1970, 1, 1)
    assert one(
        "SELECT toStartOfFiveMinutes(toDateTime('2024-03-05 14:37:22'))"
    ) == dt.datetime(2024, 3, 5, 14, 35)
    assert one(
        "SELECT toStartOfInterval(toDateTime('2024-03-05 14:37:22'), "
        "INTERVAL 15 minute)"
    ) == dt.datetime(2024, 3, 5, 14, 30)
    # Spark's lambda transform still passes through untouched
    assert one("SELECT transform(array(1, 2), v -> v + 1)") == [2, 3]
    # refusals: silent same-name collisions and past-budget survivors
    for bad, msg in (
        ("SELECT xxHash64(s) FROM t", "seed-42"),
        ("SELECT cityHash64(s) FROM t", "hash FAMILIES"),
        ("SELECT murmurHash3_64(s) FROM t", "hash FAMILIES"),
        ("SELECT trunc(x, 2) FROM t", "DATE truncation"),
        ("SELECT lagInFrame(v) OVER (ORDER BY ts) FROM t", "frames"),
        ("SELECT SHA1(upper(nested(s))) FROM t", "digest BYTES"),
        ("SELECT hex(f(g(x))) FROM t", "byte "),
        # ADVICE r15: float LITERAL args refuse (CH hexes the raw
        # IEEE-754 bytes; Spark would cast to BIGINT — wrong value)
        ("SELECT hex(1.5)", "IEEE-754"),
        ("SELECT bin(2.0) FROM t", "IEEE-754"),
        ("SELECT hex(1e3)", "IEEE-754"),
        ("SELECT hex(-0.5)", "IEEE-754"),
        ("SELECT transform(x, arr1, arr2, 'z') FROM t", "LITERALS"),
        ("SELECT arrayIntersect(a, b, c, d) FROM t", "rewrite"),
        ("SELECT fromUnixTimestamp(x, '%Y') FROM t", "rewrite"),
        ("SELECT toStartOfInterval(ts, INTERVAL 1 month) FROM t", "rewrite"),
    ):
        with _pytest.raises(UnsupportedClickHouseSQL, match=msg):
            translate(bad)
    # literal masking: the new names inside string literals stay data
    for lit_sql in (
        "SELECT x FROM t WHERE s = 'call MD5(x) or hex(y)'",
        "SELECT x FROM t WHERE s = 'transform(a, b, c, d)'",
        "SELECT x FROM t WHERE s = 'xxHash64(q) trunc(v, 2)'",
    ):
        assert translate(lit_sql) == lit_sql
    # nested compositions refuse rather than ride the divergent form
    for nested in (
        "SELECT MD5(MD5(s)) FROM t",
        "SELECT hex(hex(x)) FROM t",
    ):
        with _pytest.raises(UnsupportedClickHouseSQL):
            translate(nested)


def test_ch_dialect_wave3b_array_mutations(spark):
    """r15 wave 3b: the array-mutation family (previously opaque
    unresolved errors) and the keyed-sort guard. arraySort's OLD bare
    name swap emitted args-REVERSED array_sort(f, arr) for the keyed
    form — CH sorts BY KEY with a STABLE tie order Spark's comparator
    cannot reproduce, so the lambda forms now refuse with a pointer
    while the bare forms translate; push/pop are exact Spark twins
    (pop = guarded slice, [] passes through); arrayCount takes the
    (lambda, arr) swap; extractAll shares extract()'s first-subpattern
    group rule and its backslash/class refusals."""
    import pytest as _pytest

    from clickhouse_data_rebalance_spark.plans.ch_dialect import (
        UnsupportedClickHouseSQL,
        translate,
    )

    def one(ch):
        return spark.sql(translate(ch)).collect()[0][0]

    assert one("SELECT arrayPushBack([1, 2], 3)") == [1, 2, 3]
    assert one("SELECT arrayPushFront([1, 2], 3)") == [3, 1, 2]
    assert one("SELECT arrayPopBack([1, 2, 3])") == [1, 2]
    assert one("SELECT arrayPopFront([1, 2, 3])") == [2, 3]
    assert one("SELECT arrayPopBack(emptyArrayInt32())") == []
    assert one("SELECT arrayReverseSort([3, 1, 2])") == [3, 2, 1]
    # ADVICE r15: arrayReverseSort lowers to sort_array(arr, false) —
    # Spark's descending sort places NULLs LAST, matching CH's
    # [max..min, NULL] tail (the old reverse(array_sort(..)) put
    # NULLs FIRST)
    spark.sql(
        "SELECT CAST(array(1, NULL, 3) AS ARRAY<INT>) AS a"
    ).createOrReplaceTempView("cdr_w3b_tn")
    assert spark.sql(
        translate("SELECT arrayReverseSort(a) AS r FROM cdr_w3b_tn")
    ).collect()[0][0] == [3, 1, None]
    assert one("SELECT arrayCount(x -> x > 1, [1, 2, 3])") == 2
    assert one("SELECT extractAll('a1b22c333', '[0-9]+')") == [
        "1", "22", "333"
    ]
    assert one("SELECT extractAll('k=1;m=2', '([a-z]+)=')") == ["k", "m"]
    for bad, msg in (
        ("SELECT arraySort(x -> -x, a) FROM t", "STABLE"),
        ("SELECT arrayReverseSort(x -> -x, a) FROM t", "STABLE"),
        # ADVICE r15: a PARENTHESIZED lambda parameter — valid CH —
        # must hit the same refusal, not slip past the one-level
        # lookahead into an args-reversed swap
        ("SELECT arraySort((x) -> -x, a) FROM t", "STABLE"),
        ("SELECT arrayReverseSort((x) -> -x, a) FROM t", "STABLE"),
        ("SELECT arrayFill(x -> x > 0, a) FROM t", "carry-forward"),
        ("SELECT arrayCount(a) FROM t", "rewrite"),
        ("SELECT extractAll(s, p) FROM t", "rewrite"),
        ("SELECT extractAll(s, '\\\\d+') FROM t", "backslash"),
        ("SELECT arrayPopBack(f(g(a))) FROM t", "rewrite"),
    ):
        with _pytest.raises(UnsupportedClickHouseSQL, match=msg):
            translate(bad)
    # names inside literals stay data
    lit = "SELECT x FROM t WHERE s = 'arrayPushBack(a, 1) extractAll(s, p)'"
    assert translate(lit) == lit


def test_agreed_escape_set_measured_in_spark(spark):
    """The whitelist guard's premise, MEASURED on the Spark side: every
    escape in _AGREED_ESCAPES decodes in Spark's literal parser to
    exactly the byte the ClickHouse C-style table documents. If a Spark
    upgrade ever changes unescapeSQLString, this fails before any
    translated query can ship a wrong value. (The CH side stays
    doc-based — no live server in this sandbox.)"""
    from clickhouse_data_rebalance_spark.plans.ch_dialect import (
        _AGREED_ESCAPES,
    )

    model = {
        "t": "\t", "n": "\n", "r": "\r", "b": "\b", "0": "\0",
        "\\": "\\", "'": "'", '"': '"',
    }
    assert _AGREED_ESCAPES == model  # the guard and the test agree on the set
    for esc, want in model.items():
        if esc == "'":
            # the guard refuses \' (literal-scanner misparse) — the ''
            # doubling is the agreed spelling; measure that instead
            got = spark.sql("SELECT 'a''b'").collect()[0][0]
            assert got == "a'b"
            continue
        lit = "a\\" + esc + "b"
        got = spark.sql(f"SELECT '{lit}'").collect()[0][0]
        assert got == "a" + want + "b", (esc, got.encode())


def test_ch_dialect_wave3c_date_arithmetic(spark):
    """r15 wave 3c: CH's add/subtract{Seconds..Years} family
    (previously opaque unresolved errors) and the QUOTED-unit 3-arg
    date_add/date_sub/dateAdd forms (Spark's native 3-arg parser alias
    takes bare units only, so 'day' died at parse) — all lower to
    timestampadd, whose month-end clamping agrees with ClickHouse's
    documented add-months rule. Spark's own 2-arg date_add(start, n)
    passes through untouched; bad quoted units and past-budget nested
    arguments refuse."""
    import datetime as dt

    import pytest as _pytest

    from clickhouse_data_rebalance_spark.plans.ch_dialect import (
        UnsupportedClickHouseSQL,
        translate,
    )

    def one(ch):
        return spark.sql(translate(ch)).collect()[0][0]

    assert one(
        "SELECT addDays(toDateTime('2024-02-28 10:00:00'), 2)"
    ) == dt.datetime(2024, 3, 1, 10)
    assert one(
        "SELECT addMonths(toDateTime('2024-01-31 00:00:00'), 1)"
    ) == dt.datetime(2024, 2, 29)  # month-end clamp, leap February
    assert one(
        "SELECT addYears(toDateTime('2024-02-29 00:00:00'), 1)"
    ) == dt.datetime(2025, 2, 28)  # leap-day clamp
    assert one(
        "SELECT subtractHours(toDateTime('2024-03-01 01:00:00'), 2)"
    ) == dt.datetime(2024, 2, 29, 23)
    assert one(
        "SELECT date_add('day', 3, toDateTime('2024-01-01 00:00:00'))"
    ) == dt.datetime(2024, 1, 4)
    assert one(
        "SELECT date_sub('week', 1, toDateTime('2024-01-08 00:00:00'))"
    ) == dt.datetime(2024, 1, 1)
    # bare units are Spark's own 3-arg alias — untouched and working
    assert one(
        "SELECT dateAdd(quarter, 1, toDateTime('2023-11-30 00:00:00'))"
    ) == dt.datetime(2024, 2, 29)
    # Spark's 2-arg date_add passes through
    assert (
        translate("SELECT date_add(d, 3) FROM t")
        == "SELECT date_add(d, 3) FROM t"
    )
    with _pytest.raises(UnsupportedClickHouseSQL, match="unit"):
        translate("SELECT date_add('fortnight', 3, ts) FROM t")
    with _pytest.raises(UnsupportedClickHouseSQL, match="rewrite"):
        translate("SELECT addDays(f(g(ts)), 3) FROM t")
    lit = "SELECT x FROM t WHERE s = 'addDays(ts, 3) date_add(day, 1, ts)'"
    assert translate(lit) == lit


def test_ch_dialect_wave4_funcs(spark):
    """r16 wave 4: comparison/LIKE function spellings, roundBankers,
    exp2/exp10/intExp2, the float-classification family (isNaN rides
    Spark's NaN-equality so NULL propagates — bare isnan(NULL) is
    false, the silent divergence the lowering closes), the vector
    norm/distance family (DOUBLE accumulation, empty -> 0, NULL
    element -> NULL in EVERY member including the arithmetic-max Linf
    fold), and the map lambda swaps."""
    import math

    import pytest as _pytest

    from clickhouse_data_rebalance_spark.plans.ch_dialect import (
        UnsupportedClickHouseSQL,
        translate,
    )

    def one(ch):
        return spark.sql(translate(ch)).collect()[0][0]

    # comparison spellings -> operator booleans
    assert one("SELECT equals(2, 2)") is True
    assert one("SELECT notEquals(2, 3)") is True
    assert one("SELECT less(2, 3)") is True
    assert one("SELECT greater(2, 3)") is False
    assert one("SELECT lessOrEquals(3, 3)") is True
    assert one("SELECT greaterOrEquals(2, 3)") is False
    assert one("SELECT notLike('abc', 'a%')") is False
    assert one("SELECT notILike('ABC', 'a%')") is False
    # like/ilike pass through as Spark's own function spellings
    assert one("SELECT like('abc', 'a%')") is True
    assert one("SELECT ilike('ABC', 'a%')") is True
    # roundBankers = half-even
    assert float(one("SELECT roundBankers(2.5)")) == 2.0
    assert float(one("SELECT roundBankers(3.5)")) == 4.0
    assert float(one("SELECT roundBankers(2.675, 2)")) == 2.68
    # exponentials
    assert one("SELECT exp2(10)") == 1024.0
    assert one("SELECT exp10(3)") == 1000.0
    assert one("SELECT intExp2(12)") == 4096
    assert one("SELECT intExp2(62)") == 2 ** 62
    # float classification: NULL propagation is the contract
    assert one("SELECT isNaN(divide(0.0, 0))") is True
    assert one("SELECT isNaN(1.5)") is False
    assert one("SELECT isNaN(CAST(NULL AS DOUBLE))") is None
    assert one("SELECT isFinite(1.5)") is True
    assert one("SELECT isFinite(divide(1.0, 0))") is False
    assert one("SELECT isFinite(divide(0.0, 0))") is False
    assert one("SELECT isFinite(CAST(NULL AS DOUBLE))") is None
    assert one("SELECT isInfinite(divide(1.0, 0))") is True
    assert one("SELECT isInfinite(divide(0.0, 0))") is False
    assert one("SELECT isInfinite(1.5)") is False
    assert one("SELECT isInfinite(CAST(NULL AS DOUBLE))") is None
    assert one("SELECT ifNotFinite(divide(0.0, 0), -1.0)") == -1.0
    assert one("SELECT ifNotFinite(2.5, -1.0)") == 2.5
    assert one("SELECT ifNotFinite(CAST(NULL AS DOUBLE), -1.0)") is None
    # vector norms/distances (CH computes these on array columns; the
    # 0.0/0 spelling above is CH divide()'s IEEE semantics, lowered)
    assert one("SELECT L1Norm([1, -2, 3])") == 6.0
    assert one("SELECT L2Norm([3, 4])") == 5.0
    assert one("SELECT L2SquaredNorm([3, 4])") == 25.0
    assert one("SELECT LinfNorm([1.0, -5.0, 2.0])") == 5.0
    assert one("SELECT LinfNorm(emptyArrayFloat64())") == 0.0
    assert one("SELECT L1Distance([1, 2], [3, 4])") == 4.0
    assert one("SELECT L2Distance([1, 2], [4, 6])") == 5.0
    assert one("SELECT L2SquaredDistance([1, 2], [4, 6])") == 25.0
    assert one("SELECT LinfDistance([1, 2], [4, 10])") == 8.0
    assert one("SELECT dotProduct([1, 2], [3, 4])") == 11.0
    assert one("SELECT arrayDotProduct([1, 2], [3, 4])") == 11.0
    assert one("SELECT cosineDistance([1, 0], [0, 1])") == 1.0
    assert abs(one("SELECT cosineDistance([1, 2], [2, 4])")) < 1e-12
    # zero vector -> nan (CH's 0/0), never an ANSI divide error
    assert math.isnan(one("SELECT cosineDistance([0, 0], [3, 4])"))
    # NULL element is NULL-sticky in every member (greatest() would
    # have skipped it in the Linf fold — the arithmetic max doesn't)
    assert one("SELECT L1Norm([1, NULL])") is None
    assert one("SELECT LinfNorm([1, NULL])") is None
    # integer inputs accumulate at DOUBLE — no ANSI overflow
    assert one("SELECT L2SquaredNorm([50000, 50000])") == 5.0e9
    # map lambda swaps
    assert one(
        "SELECT mapFilter((k, v) -> v > 1, map('a', 1, 'b', 2))"
    ) == {"b": 2}
    assert one(
        "SELECT mapExists((k, v) -> v > 1, map('a', 1, 'b', 2))"
    ) is True
    assert one(
        "SELECT mapAll((k, v) -> v > 0, map('a', 1, 'b', 2))"
    ) is True
    assert one("SELECT mapAll((k, v) -> v > 0, map())") is True
    assert one("SELECT mapExists((k, v) -> v > 0, map())") is False
    # refusals: pointered, never silent
    for bad, msg in (
        ("SELECT intExp10(x) FROM t", "UInt64"),
        ("SELECT intExp2(63) FROM t", "mod 64"),
        ("SELECT intExp2(-1) FROM t", "mod 64"),
        ("SELECT intExp2(100) FROM t", "mod 64"),
        ("SELECT mapApply((k, v) -> (k, v), m) FROM t", "transform_keys"),
        ("SELECT mapSort(m) FROM t", "transform_keys"),
        ("SELECT equals(f(g(h(a))), b) FROM t", "rewrite"),
        ("SELECT L2Distance(f(g(h(a))), b) FROM t", "rewrite"),
        ("SELECT cosineDistance(f(g(h(a))), b) FROM t", "rewrite"),
        ("SELECT mapFilter(f(g(h(m)))) FROM t", "rewrite"),
        ("SELECT isNaN(f(g(h(x)))) FROM t", "rewrite"),
    ):
        with _pytest.raises(UnsupportedClickHouseSQL, match=msg):
            translate(bad)
    # names inside literals stay data
    lit = "SELECT x FROM t WHERE s = 'equals(a, b) L2Norm(v) isNaN(x)'"
    assert translate(lit) == lit


def test_ch_dialect_wave5_funcs(spark):
    """r16 wave 5: zero-divisor variants, NULL-guarded max2/min2,
    type-surface identities, date constructors/projections + timeSlot,
    random distributions, moment adjustments (Spark kurtosis is EXCESS
    kurtosis — kurtPop shifts back), throwIf via assert_true, array and
    map additions, accurateCast[OrNull] under ANSI, the toInterval
    family, and the extract-guarded countMatches/regexpExtract."""
    import pytest as _pytest

    from clickhouse_data_rebalance_spark.plans.ch_dialect import (
        UnsupportedClickHouseSQL,
        translate,
    )

    def one(ch):
        return spark.sql(translate(ch)).collect()[0][0]

    assert one("SELECT negate(5)") == -5
    assert one("SELECT intDivOrZero(7, 2)") == 3
    assert one("SELECT intDivOrZero(7, 0)") == 0
    assert one("SELECT moduloOrZero(7, 3)") == 1
    assert one("SELECT moduloOrZero(7, 0)") == 0
    assert one("SELECT max2(3, 9)") == 9.0
    assert one("SELECT min2(3, 9)") == 3.0
    assert one("SELECT max2(3, CAST(NULL AS INT))") is None
    assert one("SELECT toNullable(7)") == 7
    assert one("SELECT materialize(7)") == 7
    assert one("SELECT identity(7)") == 7
    assert one("SELECT isZeroOrNull(0)") is True
    assert one("SELECT isZeroOrNull(CAST(NULL AS INT))") is True
    assert one("SELECT isZeroOrNull(3)") is False
    import datetime

    assert one("SELECT makeDate(2024, 3, 5)") == datetime.date(2024, 3, 5)
    assert one(
        "SELECT makeDateTime(2024, 3, 5, 10, 30, 0)"
    ) == datetime.datetime(2024, 3, 5, 10, 30, 0)
    assert one(
        "SELECT toYYYYMMDDhhmmss(TIMESTAMP'2024-03-05 10:30:09')"
    ) == 20240305103009
    assert one("SELECT toISOYear(DATE'2021-01-01')") == 2020
    assert one("SELECT toLastDayOfMonth(DATE'2024-02-05')") == (
        datetime.date(2024, 2, 29)
    )
    assert one(
        "SELECT timeSlot(TIMESTAMP'2024-03-05 10:44:09')"
    ) == datetime.datetime(2024, 3, 5, 10, 30, 0)
    assert one("SELECT timeZone()") is not None
    v = one("SELECT randUniform(5, 6)")
    assert 5.0 <= v < 6.0
    assert isinstance(one("SELECT randNormal(0, 1)"), float)
    assert one("SELECT sgn(-3.5)") == -1.0
    assert one("SELECT widthBucket(5.5, 0, 10, 5)") == 3
    # kurtosis of a fair coin: m4/m2^2 = 1 (CH kurtPop); Spark's
    # kurtosis returns -2 for it (excess) — the +3 shift is the test
    assert abs(one(
        "SELECT kurtPop(x) FROM VALUES (0.0), (1.0), (0.0), (1.0) AS v(x)"
    ) - 1.0) < 1e-9
    assert abs(one(
        "SELECT skewPop(x) FROM VALUES (0.0), (0.0), (1.0) AS v(x)"
        ) - 0.7071067811865476) < 1e-9
    assert one("SELECT sumKahan(x) FROM VALUES (1.5), (2.5) AS v(x)") == 4.0
    assert one("SELECT uniqCombined64(x) FROM VALUES (1), (2), (1) AS v(x)") == 2
    r = one("SELECT sumCount(x) FROM VALUES (3), (4) AS v(x)")
    assert (r["sum"], r["count"]) == (7, 2)
    lr = one(
        "SELECT simpleLinearRegression(x, y) FROM"
        " VALUES (1.0, 3.0), (2.0, 5.0) AS v(x, y)"
    )
    assert abs(lr["k"] - 2.0) < 1e-9 and abs(lr["b"] - 1.0) < 1e-9
    assert one("SELECT throwIf(1 > 2, 'nope')") == 0
    with _pytest.raises(Exception, match="big"):
        one("SELECT throwIf(3 > 2, 'too big')")
    # arrays
    assert sorted(one("SELECT arrayShuffle([1, 2, 3])")) == [1, 2, 3]
    assert one("SELECT arrayProduct([2, 3, 4])") == 24.0
    assert one("SELECT arrayWithConstant(3, 7)") == [7, 7, 7]
    assert one("SELECT appendTrailingCharIfAbsent('ab', '/')") == "ab/"
    assert one("SELECT appendTrailingCharIfAbsent('ab/', '/')") == "ab/"
    assert one("SELECT replaceOne('aXbXc', 'X', '-')") == "a-bXc"
    assert one("SELECT replaceOne('abc', 'X', '-')") == "abc"
    assert abs(one("SELECT LpNorm([3.0, 4.0], 2)") - 5.0) < 1e-12
    assert abs(one("SELECT LpDistance([1.0, 2.0], [4.0, 6.0], 2)") - 5.0) < 1e-12
    assert one("SELECT normalizeL1([2.0, 2.0])") == [0.5, 0.5]
    assert one("SELECT normalizeL2([3.0, 4.0])") == [0.6, 0.8]
    # zero vectors: NaN elements via the divide idiom (ANSI raises on
    # any zero divisor — double included, measured)
    import math as _m

    assert all(_m.isnan(v) for v in one("SELECT normalizeL2([0.0, 0.0])"))
    assert all(_m.isnan(v) for v in one("SELECT normalizeL1([0.0])"))
    # maps
    assert one(
        "SELECT mapContainsKeyLike(map('abc', 1), 'a%')"
    ) is True
    assert one(
        "SELECT mapExtractKeyLike(map('abc', 1, 'xbc', 2), 'a%')"
    ) == {"abc": 1}
    assert one(
        "SELECT mapAdd(map('a', 1, 'b', 2), map('b', 5))"
    ) == {"a": 1, "b": 7}
    assert one(
        "SELECT mapSubtract(map('a', 1), map('a', 3))"
    ) == {"a": -2}
    assert one("SELECT toJSONString(map('a', 1))") == '{"a":1}'
    assert one("""SELECT JSONExtractKeys('{"a": 1, "b": 2}')""") == ["a", "b"]
    assert one("SELECT JSONArrayLength('[1, 2, 3]')") == 3
    t = one("SELECT tuple(1, 'x')")
    assert tuple(t) == (1, "x")
    # accurateCast under ANSI + the OrNull twin
    assert one("SELECT accurateCast(200, 'Int32')") == 200
    with _pytest.raises(Exception):
        one("SELECT accurateCast(200, 'Int8')")
    assert one("SELECT accurateCastOrNull(200, 'Int8')") is None
    assert one("SELECT accurateCastOrNull('1.5', 'Float64')") == 1.5
    # toInterval composes with timestamp arithmetic
    assert one(
        "SELECT TIMESTAMP'2024-01-31 00:00:00' + toIntervalMonth(1)"
    ) == datetime.datetime(2024, 2, 29, 0, 0, 0)
    assert one(
        "SELECT TIMESTAMP'2024-03-05 00:00:00' + toIntervalWeek(2)"
    ) == datetime.datetime(2024, 3, 19, 0, 0, 0)
    # wave 5b: similarity / fold / epoch-precision forms
    assert one("SELECT arrayJaccardIndex([1, 2], [2, 3])") == 1.0 / 3
    import math as _math

    assert _math.isnan(one("SELECT arrayJaccardIndex([], [])"))
    assert one("SELECT arrayFold((acc, x) -> acc + x, [1, 2, 3], 10)") == 16
    assert len(one("SELECT arrayRandomSample([1, 2, 3, 4], 2)")) == 2
    assert one("SELECT toUnixTimestamp64Milli(TIMESTAMP'2024-03-05 10:00:00.123')") == (
        one("SELECT unix_millis(TIMESTAMP'2024-03-05 10:00:00.123')")
    )
    assert one(
        "SELECT fromUnixTimestamp64Milli(toUnixTimestamp64Milli("
        "TIMESTAMP'2024-03-05 10:00:00.123'))"
    ) == datetime.datetime(2024, 3, 5, 10, 0, 0, 123000)
    assert one(
        "SELECT addDate(TIMESTAMP'2024-03-05 00:00:00', INTERVAL 3 DAY)"
    ) == datetime.datetime(2024, 3, 8, 0, 0, 0)
    assert one(
        "SELECT subDate(TIMESTAMP'2024-03-05 00:00:00', INTERVAL 3 DAY)"
    ) == datetime.datetime(2024, 3, 2, 0, 0, 0)
    assert one("SELECT endsWithUTF8('abc', 'bc')") is True
    assert one("SELECT startsWithUTF8('abc', 'ab')") is True
    # extract-guarded regex forms
    assert one("SELECT countMatches('a1b22c', '[0-9]+')") == 2
    assert one("SELECT regexpExtract('ab123', '([a-z]+)([0-9]+)', 2)") == "123"
    with _pytest.raises(UnsupportedClickHouseSQL, match="backslash"):
        translate("SELECT countMatches(s, '\\\\d+') FROM t")
    # refusals: pointered, never silent
    for bad, msg in (
        ("SELECT gcd(a, b) FROM t", "Euclid"),
        ("SELECT toWeek(ts) FROM t", "toISOWeek"),
        ("SELECT uniqState(x) FROM t", "sketch"),
        ("SELECT deltaSum(x) FROM t", "ORDER-dependent"),
        ("SELECT mapUpdate(m, m2) FROM t", "mapKeyDedupPolicy"),
        ("SELECT format('{}', s) FROM t", "printf"),
        ("SELECT toTypeName(x) FROM t", "typeof"),
        ("SELECT replaceRegexpOne(s, 'a', 'b') FROM t", "ALL matches"),
        ("SELECT replaceOne(s, '', 'x') FROM t", "empty needle"),
        ("SELECT studentTTest(d, x) FROM t", "statistic"),
        ("SELECT fromUnixTimestamp64Nano(x) FROM t", "MICROSECONDS"),
        ("SELECT editDistance(s, s2) FROM t", "BYTES"),
        ("SELECT accurateCast(x, 'UInt64') FROM t", "same-domain"),
        ("SELECT arrayResize(a, 3) FROM t", "pad"),
        ("SELECT JSON_VALUE(j, '$.k') FROM t", "get_json_object"),
        ("SELECT hiveHash(s) FROM t", "hash FAMILIES"),
        ("SELECT geohashEncode(a, b) FROM t", "geo"),
        ("SELECT port(u) FROM t", "parse_url"),
        ("SELECT negate(f(g(h(a)))) FROM t", "rewrite"),
        ("SELECT mapAdd(f(g(h(m))), m2) FROM t", "rewrite"),
    ):
        with _pytest.raises(UnsupportedClickHouseSQL, match=msg):
            translate(bad)
    # names inside literals stay data
    lit = "SELECT x FROM t WHERE s = 'max2(a, b) mapAdd(m, n) negate(x)'"
    assert translate(lit) == lit
