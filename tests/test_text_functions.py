"""Unit tests for the text/vector building blocks: shingles, minhash,
simhash, fingerprints, cosine — edge cases per SURVEY.md §5.2 item 5
(empty input, unicode, zero vectors).
"""

from __future__ import annotations

import math

from pyspark.sql import functions as F

from clickhouse_data_rebalance_spark.functions.text import (
    fingerprint,
    hamming64,
    minhash_signature,
    shingles,
    simhash64,
    tokens,
)
from clickhouse_data_rebalance_spark.functions.vectors import cosine, dot, norm


def _one(spark, text: str, col):
    return spark.createDataFrame([(text,)], "text STRING").select(col.alias("v")).collect()[
        0
    ]["v"]


def test_shingles_basic(spark):
    v = _one(spark, "a b c d", shingles(F.col("text"), 3))
    assert v == ["a b c", "b c d"]


def test_shingles_short_text_empty(spark):
    assert _one(spark, "a b", shingles(F.col("text"), 3)) == []


def test_tokens_collapse_whitespace(spark):
    assert _one(spark, "  a   b  ", tokens(F.col("text"))) == ["a", "b"]


def test_fingerprint_normalizes(spark):
    df = spark.createDataFrame([("  Hello World ",), ("hello world",)], "text STRING")
    fps = [r["fp"] for r in df.select(fingerprint("text").alias("fp")).collect()]
    assert fps[0] == fps[1]


def test_fingerprint_unicode(spark):
    v = _one(spark, "héllo wörld 中文", fingerprint(F.col("text")))
    assert len(v) == 32


def test_minhash_similar_texts_share_components(spark):
    df = spark.createDataFrame(
        [("the quick brown fox jumps over the lazy dog",),
         ("the quick brown fox jumps over the lazy cat",)],
        "text STRING",
    )
    sigs = [
        r["sig"]
        for r in df.select(
            minhash_signature(shingles(F.col("text"), 3), 16).alias("sig")
        ).collect()
    ]
    shared = sum(1 for a, b in zip(*sigs) if a == b)
    assert shared >= 4  # high overlap → many shared minima
    assert len(sigs[0]) == 16


def test_simhash_identical_and_different(spark):
    df = spark.createDataFrame(
        [("spark query engine data",), ("spark query engine data",), ("zz yy xx ww",)],
        "text STRING",
    )
    sigs = [
        r["s"] for r in df.select(simhash64(tokens(F.col("text"))).alias("s")).collect()
    ]
    assert sigs[0] == sigs[1]
    assert sigs[0] != sigs[2]


def test_hamming64(spark):
    df = spark.createDataFrame([(0b1011, 0b0010)], "a LONG, b LONG")
    assert df.select(hamming64(F.col("a"), F.col("b")).alias("h")).collect()[0]["h"] == 2


def test_cosine_orthogonal_and_parallel(spark):
    df = spark.createDataFrame(
        [([1.0, 0.0], [0.0, 1.0]), ([1.0, 2.0], [2.0, 4.0])],
        "a ARRAY<FLOAT>, b ARRAY<FLOAT>",
    )
    sims = [r["c"] for r in df.select(cosine(F.col("a"), F.col("b")).alias("c")).collect()]
    assert abs(sims[0]) < 1e-12
    assert math.isclose(sims[1], 1.0, rel_tol=1e-12)


def test_dot_and_norm(spark):
    df = spark.createDataFrame([([3.0, 4.0],)], "a ARRAY<FLOAT>")
    row = df.select(
        dot(F.col("a"), F.col("a")).alias("d"), norm(F.col("a")).alias("n")
    ).collect()[0]
    assert row["d"] == 25.0 and row["n"] == 5.0


def test_zero_vector_cosine_is_null_or_nan(spark):
    df = spark.createDataFrame([([0.0, 0.0], [1.0, 1.0])], "a ARRAY<FLOAT>, b ARRAY<FLOAT>")
    v = df.select(cosine(F.col("a"), F.col("b")).alias("c")).collect()[0]["c"]
    assert v is None or math.isnan(v)


def test_ann_lsh_recall_floor(spark):
    """Banded hyperplane LSH must recover most of the exact top-10 — a
    deterministic floor (hash-derived planes, no RNG)."""
    from clickhouse_data_rebalance_spark import registry
    from .conftest import SF_SMALL

    registry.load_all()
    ann = registry.QUERIES["ann_lsh_topk"](spark, SF_SMALL).collect()
    exact = registry.QUERIES["cosine_topk_exact"](spark, SF_SMALL).collect()
    recall = len({r["vec_id"] for r in ann} & {r["vec_id"] for r in exact}) / len(exact)
    assert recall >= 0.5


def test_ann_ivf_recall_floor(spark):
    """IVF (seeded k-means cells, 3/16 probed) must recover a meaningful
    share of the exact top-10."""
    from clickhouse_data_rebalance_spark import registry
    from .conftest import SF_SMALL

    registry.load_all()
    ivf = registry.QUERIES["ann_ivf_topk"](spark, SF_SMALL).collect()
    exact = registry.QUERIES["cosine_topk_exact"](spark, SF_SMALL).collect()
    recall = len({r["vec_id"] for r in ivf} & {r["vec_id"] for r in exact}) / len(exact)
    assert recall >= 0.2


def test_lsh_bucket_cap_bounds_degenerate_corpus(spark):
    """200 identical boilerplate docs share every band bucket; without the
    MAX_LSH_BUCKET guard the self-join would emit 200·199/2 ≈ 19900
    candidate pairs per band. The cap drops the oversized buckets, so the
    degenerate block contributes zero candidates while a normal near-dup
    pair elsewhere still surfaces."""
    from clickhouse_data_rebalance_spark.operators.llm_dedup import (
        MAX_LSH_BUCKET,
        minhash_candidates_from,
    )

    boiler = [(i, "all rights reserved this file is auto generated do not edit") for i in range(200)]
    pairish = [
        (1000, "the quick brown fox jumps over the lazy dog tonight again ok"),
        (1001, "the quick brown fox jumps over the lazy dog tonight again yes"),
    ]
    d = spark.createDataFrame(boiler + pairish, "doc_id LONG, text STRING")
    cands = minhash_candidates_from(d).collect()
    pairs = {(r.doc_a, r.doc_b) for r in cands}
    assert (1000, 1001) in pairs  # genuine near-dup still found
    assert not any(a < 200 and b < 200 for a, b in pairs)  # degenerate block dropped
    assert 200 > MAX_LSH_BUCKET  # the fixture actually exercises the cap


def test_gram5_stats_matches_jvm_form_on_edge_texts(spark):
    """ngram_repetition_quality's Arrow 5-gram counter must agree with
    the JVM form it replaced — size(split(text, ' ')) - 4 and the
    distinct count of the 5-token slices — on the texts where the two
    tokenizers could part ways: doubled, leading and trailing spaces
    (empty tokens). A missing text reaches the UDF as None or, once
    pandas has seen one, as NaN; both count as the empty string instead
    of crashing on NaN.split."""
    import pandas as pd

    from clickhouse_data_rebalance_spark.operators.llm_text import _gram5_stats

    texts = [
        "a b c d e",
        "a  b c d e f",
        " a b c d e",
        "a b c d e ",
        "  a b  c d e  ",
        "a b c d e a b c d e a",
        "x x x x x x x x",
        "",
        "one",
    ]
    jvm = (
        spark.createDataFrame([(t,) for t in texts], "text STRING")
        .select(
            (F.size(F.split("text", " ")) - 4).alias("n"),
            F.expr(
                "size(array_distinct(transform("
                "sequence(0, greatest(size(split(text, ' ')) - 5, 0)), "
                "i -> slice(split(text, ' '), i + 1, 5))))"
            ).alias("d"),
        )
        .collect()
    )
    got = _gram5_stats.func(pd.Series(texts + [None, float("nan")]))
    pairs = list(zip(got["n_ngrams"], got["n_distinct_ngrams"]))
    # below five tokens there is no 5-gram: the count goes non-positive
    # and the distinct count is zero (the query filters these rows out)
    want = [(r["n"], r["d"] if r["n"] > 0 else 0) for r in jvm]
    assert pairs[: len(texts)] == want
    assert pairs[len(texts) :] == [want[texts.index("")]] * 2


def test_text_quality_scores_an_empty_document_like_the_oracle(spark, tmp_path):
    # an empty document has no characters: the punctuation ratio divides
    # by its length, where ANSI Spark raises DIVIDE_BY_ZERO and the
    # DuckDB oracle returns NULL (the row's logit and keep flag too)
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    from clickhouse_data_rebalance_spark.registry import ORACLES, QUERIES, load_all

    from .conftest import SF_SMALL
    from .oracle_harness import TABLE_NAMES, compare, duck_connection

    load_all()
    docs = pq.read_table(os.path.join(SF_SMALL, "documents.parquet"))
    empty = pa.table(
        {"doc_id": [10_000], "text": [""], "lang": ["en"], "source": ["src0"], "n_chars": [0]},
        schema=docs.schema,
    )
    sf = tmp_path / "sf_empty_doc"
    sf.mkdir()
    pq.write_table(pa.concat_tables([docs, empty]), sf / "documents.parquet")
    for t in TABLE_NAMES:
        if t != "documents":
            os.symlink(os.path.join(SF_SMALL, f"{t}.parquet"), sf / f"{t}.parquet")
    con = duck_connection(str(sf))
    for name in ("text_quality", "quality_classifier_score"):
        df = QUERIES[name](spark, str(sf))
        compare(df, con, ORACLES[name])
        row = df.where("doc_id = 10000").collect()[0].asDict()
        assert None in row.values(), row
