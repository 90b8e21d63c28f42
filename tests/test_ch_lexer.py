"""The ClickHouse-dialect lexer (``ch_dialect._bracket_scan``) decides what
is code and what is data for every reader of SQL text. These cases ran
wrong when each reader carried its own quote scanner: a quote in a
comment or a quoted identifier paired with a later quote and hid code,
a double-quoted identifier reached Spark as a string, a backslash-escaped
quote refused, and the DDL parsers misread literals.
"""

from __future__ import annotations

import pytest
from pyspark.errors import ParseException

from clickhouse_data_rebalance_spark.plans.ch_dialect import (
    UnsupportedClickHouseSQL,
    _apply_dict_get,
    dictionary_meta,
    merge_tree_meta,
    translate,
    translate_ddl,
)


@pytest.fixture(scope="module")
def lex_view(spark):
    spark.sql(
        "SELECT 7 AS x, array(10, 20, 30) AS arr, 'q' AS s, "
        "1 AS `a'b`, 2 AS `c'd`"
    ).createOrReplaceTempView("t")


@pytest.mark.parametrize(
    "sql,column,want",
    [
        # ClickHouse arrays are 1-based: arr[1] is 10
        ("SELECT x -- it's a note\n, arr[1] AS a FROM t WHERE s = 'q'", "a", 10),
        ("SELECT x /* it's */, arr[1] AS a FROM t WHERE s = 'q'", "a", 10),
        ("SELECT `a'b`, arr[1] AS a, `c'd` FROM t", "a", 10),
        # a double-quoted name is an identifier in ClickHouse, not a string
        ('SELECT "x" AS v FROM t', "v", 7),
        ("SELECT 'it\\'s' AS s", "s", "it's"),
    ],
)
def test_comments_and_quoted_names_are_opaque(spark, lex_view, sql, column, want):
    assert spark.sql(translate(sql)).collect()[0][column] == want


def test_hash_comment_stays_a_parse_error(spark, lex_view):
    # '#' comments are ClickHouse-only: the lexer leaves them as code,
    # and Spark refuses them loudly
    with pytest.raises(ParseException):
        spark.sql(translate("SELECT x # note\nFROM t")).collect()


def test_double_quoted_name_holding_a_quote_refuses():
    with pytest.raises(UnsupportedClickHouseSQL, match="spell it with backquotes"):
        translate('SELECT "a`b" FROM t')


@pytest.mark.parametrize("default", ["')'", "'('"])
def test_merge_tree_meta_reads_parens_in_literals_as_data(default):
    meta = merge_tree_meta(
        f"CREATE TABLE t (k UInt64, note String DEFAULT {default}, v Int32) "
        "ENGINE = ReplacingMergeTree ORDER BY k"
    )
    assert [c for c, _ in meta["columns"]] == ["k", "note", "v"]
    assert meta["columns"][1] == ("note", f"String DEFAULT {default}")


def test_dictionary_default_keeps_its_spaces(spark):
    spark.createDataFrame([(1, "one")], "k long, name string").createOrReplaceTempView(
        "lex_src"
    )
    meta = dictionary_meta(
        "CREATE DICTIONARY d (k UInt64, name String DEFAULT 'a  b')\n"
        "PRIMARY KEY k   SOURCE(CLICKHOUSE(TABLE 'lex_src'))"
    )
    sql = _apply_dict_get(
        "SELECT dictGet('d', 'name', 1) AS hit, dictGet('d', 'name', 2) AS miss",
        {"d": meta},
    )
    row = spark.sql(translate(sql)).collect()[0]
    assert (row.hit, row.miss) == ("one", "a  b")


@pytest.mark.parametrize(
    "default", ["'UInt64  x'", "'ORDER BY z'", "'SETTINGS'", "'it\\'s'"]
)
def test_translate_ddl_keeps_a_default_literal_as_written(default):
    out = translate_ddl(
        f"CREATE TABLE t (k UInt64, note String DEFAULT {default}) "
        "ENGINE = MergeTree ORDER BY k SETTINGS index_granularity = 8192"
    )
    assert out == (
        f"CREATE TABLE t (k BIGINT, note STRING DEFAULT {default}) USING parquet "
        "/* MergeTree sort key: k — apply at write time */"
    )
