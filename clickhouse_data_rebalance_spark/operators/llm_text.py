"""Text-analysis operators over the `documents` table (SURVEY.md C44–C46
+ training-pipeline text ops): tokenize/normalize, token counting,
quality scoring, language-ID heuristic, fingerprinting, tf-idf.

All SQL-expressible variants carry DuckDB oracles; the whole pipeline is
split/regexp/higher-order functions — zero Python UDFs, so it rides
whole-stage codegen and scales linearly with executors.
"""

from __future__ import annotations

import pandas as pd

from pyspark.sql import DataFrame, SparkSession, Window, functions as F, types as T

from ..registry import query
from ..tables import derived_dir, memo, table
from ..functions.text import BPE_ISH_RE, LANG_MARKERS, fingerprint, marker_count, tokens
from .llm_similarity import pinned_index_frame
from ._util import sql_hex_bigint


@query(
    "tokenize_normalize",
    """
    SELECT doc_id,
           array_to_string(list_sort(list_distinct(
             regexp_split_to_array(lower(trim(text)), '\\s+'))), ' ') AS vocab_sorted,
           len(list_distinct(regexp_split_to_array(lower(trim(text)), '\\s+'))) AS n_vocab,
           len(regexp_split_to_array(trim(text), '\\s+')) AS n_tokens
    FROM documents WHERE doc_id < 100 ORDER BY doc_id
    """,
)
def tokenize_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C44: tokenize + normalize + vocab. The vocabulary array serializes
    to a space-joined string at the query boundary (array-typed output
    crashes the driver's pandas canonicalizer), with its cardinality as a
    ride-along scalar."""
    d = table(spark, sf_dir, "documents")
    toks = tokens(F.lower(F.col("text")))
    vocab = F.sort_array(F.array_distinct(toks))
    return (
        d.filter(F.col("doc_id") < 100)
        .select(
            "doc_id",
            F.array_join(vocab, " ").alias("vocab_sorted"),
            F.size(vocab).cast("bigint").alias("n_vocab"),
            F.size(tokens("text")).cast("bigint").alias("n_tokens"),
        )
        .orderBy("doc_id")
    )


@query(
    "token_count",
    rf"""
    SELECT doc_id,
           len(regexp_split_to_array(trim(text), '\s+')) AS ws_tokens,
           len(regexp_extract_all(text, '{BPE_ISH_RE}')) AS bpeish_tokens,
           length(text) AS n_chars_computed,
           n_chars
    FROM documents ORDER BY doc_id
    """,
)
def token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = table(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        F.size(tokens("text")).cast("bigint").alias("ws_tokens"),
        F.size(F.regexp_extract_all(F.col("text"), F.lit(BPE_ISH_RE), F.lit(0)))
        .cast("bigint")
        .alias("bpeish_tokens"),
        F.length("text").cast("bigint").alias("n_chars_computed"),
        "n_chars",
    ).orderBy("doc_id")


@query(
    "text_quality",
    """
    SELECT doc_id,
           length(text) AS n_chars_q,
           len(regexp_split_to_array(trim(text), '\\s+')) AS n_words,
           CAST(length(text) AS DOUBLE) / len(regexp_split_to_array(trim(text), '\\s+'))
             AS chars_per_word,
           CAST(len(list_filter(regexp_split_to_array(lower(trim(text)), '\\s+'),
                     w -> w IN ('the', 'and', 'of', 'to', 'a'))) AS DOUBLE)
             / len(regexp_split_to_array(trim(text), '\\s+')) AS stopword_ratio,
           CAST(len(regexp_extract_all(text, '[^A-Za-z0-9 ]')) AS DOUBLE)
             / length(text) AS punct_ratio
    FROM documents ORDER BY doc_id
    """,
)
def text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    # the ratios divide through nullif: an empty document has no
    # characters, and the oracle's ratio is NULL where ANSI Spark would
    # raise DIVIDE_BY_ZERO
    d = table(spark, sf_dir, "documents")
    toks = tokens("text")
    low_toks = tokens(F.lower(F.col("text")))
    n_words = F.size(toks).cast("bigint")
    per_word = F.nullif(n_words, F.lit(0))
    per_char = F.nullif(F.length("text"), F.lit(0))
    return d.select(
        "doc_id",
        F.length("text").cast("bigint").alias("n_chars_q"),
        n_words.alias("n_words"),
        (F.length("text").cast("double") / per_word).alias("chars_per_word"),
        (marker_count(low_toks, LANG_MARKERS["en"]).cast("double") / per_word).alias(
            "stopword_ratio"
        ),
        (
            F.size(F.regexp_extract_all(F.col("text"), F.lit("[^A-Za-z0-9 ]"), F.lit(0))).cast(
                "double"
            )
            / per_char
        ).alias("punct_ratio"),
    ).orderBy("doc_id")


_QUALITY_CLASSIFIER_ORACLE = """
    WITH feats AS (
      SELECT doc_id, lang,
             CAST(len(regexp_split_to_array(trim(text), '\\s+')) AS DOUBLE) AS n_words,
             CAST(length(text) AS DOUBLE) / len(regexp_split_to_array(trim(text), '\\s+'))
               AS cpw,
             CAST(len(list_filter(regexp_split_to_array(lower(trim(text)), '\\s+'),
                       w -> w IN ('the', 'and', 'of', 'to', 'a'))) AS DOUBLE)
               / len(regexp_split_to_array(trim(text), '\\s+')) AS stop_r,
             CAST(len(regexp_extract_all(text, '[^A-Za-z0-9 ]')) AS DOUBLE)
               / length(text) AS punct_r
      FROM documents
    )
    SELECT doc_id, lang,
           ROUND(-2.0 + 0.01 * n_words + 6.0 * stop_r - 4.0 * punct_r
                 - 0.2 * abs(cpw - 5.0), 9) AS logit,
           (-2.0 + 0.01 * n_words + 6.0 * stop_r - 4.0 * punct_r
                 - 0.2 * abs(cpw - 5.0)) > 0.0 AS keep
    FROM feats ORDER BY doc_id
"""


@query("quality_classifier_score", _QUALITY_CLASSIFIER_ORACLE)
def quality_classifier_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Model-based quality filtering (the fastText/logistic-classifier
    stage of a training-data pipeline): a linear scorer over the same
    row-local features `text_quality` extracts — word count, chars/word
    deviation from the English mean, stopword density, punctuation
    density — with fixed published-style weights arriving as literals
    (in production: a broadcast weight vector).

    The score stays LINEAR (the sigmoid is monotone, so thresholding the
    logit ≡ thresholding the probability) — every operation is exact
    IEEE arithmetic with the same association order in both engines, so
    no libm call can diverge; ROUND(,9) on the reported logit is
    belt-and-suspenders only.

    Scale: pure row-local projection, zero shuffle; the classifier
    screens the corpus at scan speed ahead of any dedup shuffle."""
    d = table(spark, sf_dir, "documents")
    toks = tokens("text")
    low_toks = tokens(F.lower(F.col("text")))
    n_words = F.size(toks).cast("double")
    # nullif divisors: an empty document scores NULL, as in the oracle
    per_word = F.nullif(F.size(toks), F.lit(0))
    cpw = F.length("text").cast("double") / per_word
    stop_r = marker_count(low_toks, LANG_MARKERS["en"]).cast("double") / per_word
    punct_r = (
        F.size(F.regexp_extract_all(F.col("text"), F.lit("[^A-Za-z0-9 ]"), F.lit(0))).cast(
            "double"
        )
        / F.nullif(F.length("text"), F.lit(0))
    )
    logit = (
        F.lit(-2.0)
        + F.lit(0.01) * n_words
        + F.lit(6.0) * stop_r
        - F.lit(4.0) * punct_r
        - F.lit(0.2) * F.abs(cpw - F.lit(5.0))
    )
    return d.select(
        "doc_id",
        "lang",
        F.round(logit, 9).alias("logit"),
        (logit > F.lit(0.0)).alias("keep"),
    ).orderBy("doc_id")


_LANG_ID_ORACLE = """
    WITH scored AS (
      SELECT doc_id, lang,
             regexp_split_to_array(lower(trim(text)), '\\s+') AS toks
      FROM documents
    ), counts AS (
      SELECT doc_id, lang,
             len(list_filter(toks, w -> w IN ('the','and','of','to','a'))) AS en_n,
             len(list_filter(toks, w -> w IN ('der','die','und','das','ist'))) AS de_n,
             len(list_filter(toks, w -> w IN ('el','la','de','que','y'))) AS es_n,
             len(list_filter(toks, w -> w IN ('le','la','et','les','des'))) AS fr_n
      FROM scored
    )
    SELECT doc_id, lang,
           CASE
             WHEN en_n >= de_n AND en_n >= es_n AND en_n >= fr_n AND en_n > 0 THEN 'en'
             WHEN de_n >= es_n AND de_n >= fr_n AND de_n > 0 THEN 'de'
             WHEN es_n >= fr_n AND es_n > 0 THEN 'es'
             WHEN fr_n > 0 THEN 'fr'
             ELSE 'unknown'
           END AS lang_pred
    FROM counts ORDER BY doc_id
"""


@query("lang_id_heuristic", _LANG_ID_ORACLE)
def lang_id_heuristic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Marker-word language ID with a fixed priority tie-break — the
    deterministic heuristic form (fixture text is synthetic word salad;
    the operator contract is determinism, not linguistic accuracy)."""
    d = table(spark, sf_dir, "documents")
    low_toks = tokens(F.lower(F.col("text")))
    scored = d.select(
        "doc_id",
        "lang",
        marker_count(low_toks, LANG_MARKERS["en"]).alias("en_n"),
        marker_count(low_toks, LANG_MARKERS["de"]).alias("de_n"),
        marker_count(low_toks, LANG_MARKERS["es"]).alias("es_n"),
        marker_count(low_toks, LANG_MARKERS["fr"]).alias("fr_n"),
    )
    en, de, es, fr = [F.col(c) for c in ["en_n", "de_n", "es_n", "fr_n"]]
    return scored.select(
        "doc_id",
        "lang",
        F.when((en >= de) & (en >= es) & (en >= fr) & (en > 0), "en")
        .when((de >= es) & (de >= fr) & (de > 0), "de")
        .when((es >= fr) & (es > 0), "es")
        .when(fr > 0, "fr")
        .otherwise("unknown")
        .alias("lang_pred"),
    ).orderBy("doc_id")


@query(
    "doc_fingerprint",
    """
    SELECT doc_id, md5(lower(trim(text))) AS fp
    FROM documents ORDER BY doc_id
    """,
)
def doc_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = table(spark, sf_dir, "documents")
    return d.select("doc_id", fingerprint("text").alias("fp")).orderBy("doc_id")


@query(
    "doc_fingerprint_rolling",
    f"""
    SELECT doc_id,
           list_reduce(
             list_prepend(0, list_transform(
               regexp_split_to_array(lower(trim(text)), '\\s+'),
               t -> {sql_hex_bigint("md5(t)", 8)})),
             (acc, x) -> (acc * 31 + x) % 1000000007) AS rhash
    FROM documents ORDER BY doc_id
    """,
)
def doc_fingerprint_rolling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling (polynomial) document fingerprint over the token stream:
    h = Σ v(tok_i)·31^(n-i) mod 1e9+7, v = first 32 md5 bits — an
    order-sensitive fingerprint (md5-of-text is order-insensitive to
    nothing but detects any change; a rolling hash supports windowed /
    incremental fingerprinting). Exact cross-engine twin via md5."""
    d = table(spark, sf_dir, "documents")
    tok_val = lambda t: F.conv(F.substring(F.md5(t), 1, 8), 16, 10).cast("long")  # noqa: E731
    rhash = F.aggregate(
        F.transform(tokens(F.lower(F.col("text"))), tok_val),
        F.lit(0).cast("long"),
        lambda acc, x: F.pmod(acc * 31 + x, F.lit(1_000_000_007)),
    )
    return d.select("doc_id", rhash.alias("rhash")).orderBy("doc_id")


@query(
    "lang_source_profile",
    """
    SELECT lang, source, COUNT(*) AS n_docs,
           CAST(SUM(n_chars) AS BIGINT) AS total_chars,
           MIN(n_chars) AS min_chars, MAX(n_chars) AS max_chars,
           CAST(SUM(n_chars) AS DOUBLE) / COUNT(*) AS avg_chars
    FROM documents GROUP BY lang, source
    ORDER BY lang, source
    """,
)
def lang_source_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = table(spark, sf_dir, "documents")
    return (
        d.groupBy("lang", "source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").alias("total_chars"),
            F.min("n_chars").alias("min_chars"),
            F.max("n_chars").alias("max_chars"),
            (F.sum("n_chars").cast("double") / F.count(F.lit(1))).alias("avg_chars"),
        )
        .orderBy("lang", "source")
    )


_TFIDF_ORACLE = """
    WITH words AS (
      SELECT doc_id, unnest(regexp_split_to_array(lower(trim(text)), '\\s+')) AS word
      FROM documents
    ), tf AS (
      SELECT doc_id, word, COUNT(*) AS tf FROM words GROUP BY doc_id, word
    ), df AS (
      SELECT word, COUNT(DISTINCT doc_id) AS df FROM words GROUP BY word
    ), n AS (SELECT COUNT(*) AS n_docs FROM documents)
    SELECT t.doc_id, t.word, t.tf, d.df,
           ROUND(t.tf * ln(CAST(n.n_docs AS DOUBLE) / d.df), 9) AS tfidf
    FROM tf t JOIN df d ON t.word = d.word CROSS JOIN n
    WHERE t.doc_id < 50
    ORDER BY t.doc_id, t.word
"""


@query("tf_idf", _TFIDF_ORACLE)
def tf_idf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact tf-idf via explode + two aggregations (C45). The df side is a
    word-level aggregate (small — vocabulary-sized) joined back broadcast;
    at 100 TB the vocabulary still fits comfortably in a broadcast."""
    d = table(spark, sf_dir, "documents")
    words = d.select("doc_id", F.explode(tokens(F.lower(F.col("text")))).alias("word"))
    tf = words.groupBy("doc_id", "word").agg(F.count(F.lit(1)).alias("tf"))
    df_ = words.groupBy("word").agg(F.countDistinct("doc_id").alias("df"))
    n_docs = d.count()  # scalar metadata (a count), not a data-path collect
    return (
        tf.join(F.broadcast(df_), "word")
        .filter(F.col("doc_id") < 50)
        .select(
            "doc_id",
            "word",
            "tf",
            "df",
            # round: libm vs JVM ln differ in the last ulp
            F.round(F.col("tf") * F.log(F.lit(float(n_docs)) / F.col("df")), 9).alias(
                "tfidf"
            ),
        )
        .orderBy("doc_id", "word")
    )


PACK_BUDGET = 4096  # tokens per training shard


@query(
    "pack_token_shards",
    f"""
    SELECT doc_id, n_tok,
           CAST(FLOOR(COALESCE(SUM(n_tok) OVER (ORDER BY doc_id
                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                / {PACK_BUDGET}.0) AS BIGINT) AS shard
    FROM (SELECT doc_id, len(regexp_split_to_array(trim(text), '\\s+')) AS n_tok
          FROM documents)
    ORDER BY doc_id
    """,
)
def pack_token_shards(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-budget shard packing: documents in doc_id order are packed
    into training shards of ~PACK_BUDGET tokens each — shard = floor of
    the exclusive token prefix-sum / budget, the standard contiguous
    packing a pre-training data loader wants.

    Scale design — distributed prefix sum. A global running total is the
    textbook 1-task bottleneck (an unpartitioned ROWS UNBOUNDED window
    serializes the whole corpus through one task — exactly what the
    DuckDB oracle does, and exactly what this plan avoids):
      1. repartitionByRange on doc_id → contiguous key ranges, and the
         range partitioner assigns ascending ranges to ascending
         partition ids;
      2. per-partition cumsum: a window PARTITIONED by the range id —
         all partitions run in parallel;
      3. per-partition totals (|partitions| rows) → exclusive offsets
         via a window over that metadata-sized frame;
      4. broadcast-join offsets back and add.
    The result is boundary-independent (a prefix sum over a total order
    doesn't care where partitions split), so the range sampler's
    nondeterminism never reaches the output."""
    from pyspark.sql import Window as W

    d = table(spark, sf_dir, "documents")
    toks = d.select("doc_id", F.size(tokens("text")).cast("bigint").alias("n_tok"))
    ranged = toks.repartitionByRange(16, "doc_id").withColumn(
        "pid", F.spark_partition_id()
    )
    w_local = W.partitionBy("pid").orderBy("doc_id")
    part_cum = ranged.withColumn("local_cum", F.sum("n_tok").over(w_local))
    totals = part_cum.groupBy("pid").agg(F.max("local_cum").alias("ptotal"))
    # exclusive prefix over the |partitions|-row totals: a triangular
    # self-join on this metadata-sized frame (≤16×16 pairs) rather than
    # an unpartitioned window, which WindowExec rightly flags as a
    # single-task pattern even when the input is tiny
    t = totals.alias("t")
    u = totals.select(
        F.col("pid").alias("u_pid"), F.col("ptotal").alias("u_total")
    ).alias("u")
    offsets = (
        t.join(u, F.col("u_pid") < F.col("t.pid"), "left")
        .groupBy("t.pid")
        .agg(F.coalesce(F.sum("u_total"), F.lit(0)).alias("offset"))
    )
    return (
        part_cum.join(F.broadcast(offsets), "pid")
        .select(
            "doc_id",
            "n_tok",
            F.floor(
                (F.col("local_cum") + F.col("offset") - F.col("n_tok"))
                / float(PACK_BUDGET)
            )
            .cast("bigint")
            .alias("shard"),
        )
        .orderBy("doc_id")
    )


@query(
    "sample_k_per_group",
    """
    SELECT source, doc_id, lang FROM (
      SELECT source, doc_id, lang,
             ROW_NUMBER() OVER (PARTITION BY source
                                ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rn
      FROM documents) t
    WHERE rn <= 5 ORDER BY source, doc_id
    """,
)
def sample_k_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic exactly-k-per-group sample (reservoir-sampling
    analog): rank each source's docs by md5(doc_id) — a fixed uniform
    permutation — and keep the first 5. Same guarantees a reservoir
    gives (uniform, exactly min(k, n) per group) but reproducible across
    engines, runs, and partitionings, which is what a training pipeline
    actually wants from a subsample.

    Scale: one hash-partition window per group key; the rank predicate
    truncates each partition to k rows before anything downstream."""
    from pyspark.sql import Window as W

    d = table(spark, sf_dir, "documents")
    w = W.partitionBy("source").orderBy(F.md5(F.col("doc_id").cast("string")), "doc_id")
    return (
        d.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 5)
        .select("source", "doc_id", "lang")
        .orderBy("source", "doc_id")
    )


# language-mixture downsampling rates, in sixteenths (md5 hex buckets):
# keep 4/16 of English, 8/16 of Chinese, all of the rest — the
# "rebalance the dominant language" shape of a pre-training mixture
MIXTURE_RATES = {"en": 4, "zh": 8, "de": 16, "es": 16, "fr": 16}


@query(
    "mixture_sample",
    f"""
    SELECT lang, COUNT(*) AS n_kept, MIN(doc_id) AS first_doc
    FROM documents
    WHERE strpos('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR)), 1, 1))
          <= CASE lang WHEN 'en' THEN {MIXTURE_RATES['en']}
                       WHEN 'zh' THEN {MIXTURE_RATES['zh']}
                       ELSE 16 END
    GROUP BY lang ORDER BY lang
    """,
)
def mixture_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-mixture sampling: per-language keep rates applied via
    deterministic md5 bucketing (doc_id's first md5 hex char indexes 16
    buckets; a language keeps its first `rate` buckets). The rate table
    is a broadcast-joined dimension, so new mixtures are data, not code.

    Scale: the sample predicate is a row-local expression after a
    broadcast join — no shuffle, no RNG state, and the same doc set
    falls out on any engine, run, or layout (reproducible mixtures are
    what make training-data ablations comparable)."""
    d = table(spark, sf_dir, "documents")
    rates = spark.createDataFrame(
        [(k, v) for k, v in MIXTURE_RATES.items()], "lang string, buckets int"
    )
    d2 = d.join(F.broadcast(rates), "lang", "left").withColumn(
        "bpos",
        F.expr(
            "locate(substring(md5(cast(doc_id as string)), 1, 1), '0123456789abcdef')"
        ),
    )
    return (
        d2.filter(F.col("bpos") <= F.coalesce(F.col("buckets"), F.lit(16)))
        .groupBy("lang")
        .agg(F.count(F.lit(1)).alias("n_kept"), F.min("doc_id").alias("first_doc"))
        .orderBy("lang")
    )


@query(
    "char_entropy",
    """
    WITH chars AS (
      SELECT doc_id, unnest(string_split(text, '')) AS ch
      FROM documents WHERE doc_id < 200
    ), freq AS (
      SELECT doc_id, ch, COUNT(*) AS c FROM chars GROUP BY 1, 2
    ), tot AS (
      SELECT doc_id, SUM(c) AS n FROM freq GROUP BY 1
    )
    SELECT f.doc_id,
           ROUND(-SUM((c / CAST(n AS DOUBLE)) * log2(c / CAST(n AS DOUBLE))), 9)
             AS entropy_bits
    FROM freq f JOIN tot t ON f.doc_id = t.doc_id
    GROUP BY f.doc_id ORDER BY f.doc_id
    """,
)
def char_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Character-distribution Shannon entropy per document — the classic
    cheap quality signal (garbage/base64/repeated-char spans score far
    from natural text's ~4.1 bits). Pure expression pipeline: explode
    chars → frequency hash-agg → per-doc entropy sum; ROUND(,9) absorbs
    float summation-order differences across engines.

    Scale: two aggregates on (doc_id[, ch]) — cardinality-bounded keys,
    map-side partials; no Python anywhere."""
    from pyspark.sql import Window as W

    d = table(spark, sf_dir, "documents").filter(F.col("doc_id") < 200)
    freq = (
        d.select("doc_id", F.explode(F.split("text", "")).alias("ch"))
        .groupBy("doc_id", "ch")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    n = F.sum("c").over(W.partitionBy("doc_id"))
    p = F.col("c") / n.cast("double")
    return (
        freq.withColumn("term", p * F.log2(p))
        .groupBy("doc_id")
        .agg(F.round(-F.sum("term"), 9).alias("entropy_bits"))
        .orderBy("doc_id")
    )


# Arrow-batched 5-gram stats (guide §4.2): transform/array_distinct over
# arrays are CodegenFallback (interpreted, one expression-tree walk per
# element); the A/B at sf0.1 measured this batch-Python set-build at
# 0.26 s vs 0.39 s for the JVM HOF on identical outputs. Tokenization
# matches F.split(text, ' ') exactly: str.split(' ') keeps empty tokens
# from doubled/leading/trailing spaces just like Spark's regex split with
# limit -1. A NULL text (None, or NaN once pandas has seen a missing
# value) counts as the empty string — NaN is truthy, so `t or ""` would
# call .split on a float. Only the text column crosses the boundary;
# ratio and verdict stay JVM-side.
# (a DataType, not a DDL string: parsing DDL needs a live SparkContext,
# and this decorator runs at import)
@F.pandas_udf(
    T.StructType(
        [
            T.StructField("n_ngrams", T.LongType()),
            T.StructField("n_distinct_ngrams", T.LongType()),
        ]
    )
)
def _gram5_stats(texts: pd.Series) -> pd.DataFrame:
    ns, ds = [], []
    for t in texts:
        w = t.split(" ") if isinstance(t, str) else [""]
        n = len(w) - 4
        ns.append(n)
        ds.append(len({tuple(w[i : i + 5]) for i in range(n)}))
    return pd.DataFrame({"n_ngrams": ns, "n_distinct_ngrams": ds})


@query(
    "ngram_repetition_quality",
    """
    WITH grams AS (
      SELECT doc_id,
             list_transform(
               range(1, len(string_split(text, ' ')) - 3),
               i -> array_to_string(string_split(text, ' ')[i:i+4], ' ')
             ) AS ngrams
      FROM documents WHERE len(string_split(text, ' ')) >= 5
    )
    SELECT doc_id,
           len(ngrams) AS n_ngrams,
           len(list_distinct(ngrams)) AS n_distinct_ngrams,
           ROUND(1.0 - CAST(len(list_distinct(ngrams)) AS DOUBLE)
                     / len(ngrams), 9) AS dup_frac,
           (1.0 - CAST(len(list_distinct(ngrams)) AS DOUBLE) / len(ngrams))
             <= 0.2 AS keep_doc
    FROM grams ORDER BY doc_id
    """,
)
def ngram_repetition_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style intra-document repetition filter: the fraction of a
    document's word 5-grams that are duplicates of an earlier 5-gram in
    the SAME document. Boilerplate, templated spam, and looping
    generations score high; `keep_doc` applies the classic <=20%
    duplicate-5-gram rule.

    Scale: the entire signal is ROW-LOCAL — a map over the corpus with
    zero shuffle (the final orderBy is presentation-only). The 5-gram
    set build runs as ONE Arrow-batched pandas UDF over just the text
    column (see _gram5_stats for the measured A/B vs the interpreted
    JVM higher-order-function form); ratio and verdict stay JVM-side
    integer/double expressions on the returned counts. Contrast
    cross-document dedup (`dedup_minhash_lsh`), which is where the
    shuffles rightly live."""
    d = table(spark, sf_dir, "documents")
    words = F.split("text", " ")
    d = d.select("doc_id", "text").filter(F.size(words) >= 5)
    g2 = d.select("doc_id", _gram5_stats("text").alias("s")).select(
        "doc_id", "s.n_ngrams", "s.n_distinct_ngrams"
    )
    dup = 1.0 - F.col("n_distinct_ngrams").cast("double") / F.col("n_ngrams").cast(
        "double"
    )
    return g2.select(
        "doc_id",
        "n_ngrams",
        "n_distinct_ngrams",
        F.round(dup, 9).alias("dup_frac"),
        (dup <= 0.2).alias("keep_doc"),
    ).orderBy("doc_id")


# --------------------------------------------------------------------------
# Mergeable heavy-hitters state (ClickHouse `topK` as a STATE, not a
# one-shot aggregate — the approxTopKState/-Merge pattern)
# --------------------------------------------------------------------------

MG_COUNTERS = 64


def misra_gries_summary(items, k: int = MG_COUNTERS) -> dict:
    """Misra-Gries frequency summary with k counters: seen item
    increments its counter; an unseen item either claims a free counter
    or decrements ALL counters (dropping zeros). Guarantees, for a
    stream of n items: every item with true count > n/k survives, and
    true - n/k <= est <= true. Summaries MERGE by summing per-item and
    re-reducing to k counters — with total error still bounded by
    n_total/k (Agarwal et al., "Mergeable Summaries").
    Shared by the applyInPandas partial stage and the property tests."""
    counters: dict = {}
    for it in items:
        if it in counters:
            counters[it] += 1
        elif len(counters) < k:
            counters[it] = 1
        else:
            for key in list(counters):
                counters[key] -= 1
                if counters[key] == 0:
                    del counters[key]
    return counters


def mg_reduce_to_k(summed: DataFrame, k: int = MG_COUNTERS) -> DataFrame:
    """Reduce a merged (item, est) counter table back to <= k counters:
    subtract the (k+1)-th largest estimate from all, drop non-positive.
    Input is metadata-sized (|groups| x k rows), so the top-(k+1) probe
    is a TakeOrdered, never a corpus operation."""
    top = summed.orderBy(F.col("est").desc(), "item").limit(k + 1).collect()
    if len(top) <= k:
        return summed
    cut = top[k]["est"]
    return summed.select("item", (F.col("est") - F.lit(cut)).alias("est")).filter(
        F.col("est") > 0
    )


@query(
    "topk_state_merge",
    """
    WITH t AS (
      SELECT unnest(regexp_split_to_array(lower(trim(text)), '\\s+')) AS item
      FROM documents
    )
    SELECT item, COUNT(*) AS est FROM t GROUP BY item ORDER BY item
    """,
)
def topk_state_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ClickHouse `topKState`/`-Merge` parity: per-source Misra-Gries
    token summaries (applyInPandas partials — the custom-sketch escape
    hatch) merged distributively into a global heavy-hitters table
    without rescanning the corpus. The merge is per-item summation of
    the k-bounded partials plus one `mg_reduce_to_k` pass; its input is
    |sources| x k rows — kilobytes — regardless of corpus size, which
    is why state-style top-K wins at 100 TB (same argument as
    `uniq_state_merge`).

    Oracle: on this fixture the vocabulary (31 tokens) is smaller than
    k=64, so no counter ever evicts and the sketch is EXACT — the
    oracle states the exact token counts and the merged estimates must
    hash-match them. The eviction/merge regime (vocab >> k, skewed) is
    pinned separately by `test_properties.py::test_misra_gries_bounds`,
    which asserts the n/k error bound and guaranteed-presence on
    synthetic Zipf data."""
    import pandas as pd

    d = table(spark, sf_dir, "documents")

    def _mg_part(pdf_iter):
        for pdf in pdf_iter:
            # per-batch MG over the concatenated token stream
            counters = misra_gries_summary(
                tok for text in pdf["text"] for tok in text.strip().lower().split()
            )
            if counters:
                yield pd.DataFrame(
                    {"item": list(counters), "est": list(counters.values())}
                )

    partials = d.select("source", "text").repartition("source").mapInPandas(
        _mg_part, schema="item string, est bigint"
    )
    summed = partials.groupBy("item").agg(F.sum("est").alias("est"))
    return mg_reduce_to_k(summed).orderBy("item")


@query(
    "length_bucket_packing",
    """
    WITH toks AS (
      SELECT doc_id, len(regexp_split_to_array(trim(text), '\\s+')) AS n_tok
      FROM documents
    ),
    bucketed AS (
      SELECT doc_id, n_tok,
             CAST(power(2, ceil(log2(greatest(n_tok, 1)))) AS BIGINT)
               AS bucket
      FROM toks
    )
    SELECT bucket,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_tok) AS BIGINT) AS real_tokens,
           CAST(COUNT(*) * bucket AS BIGINT) AS padded_tokens,
           CAST(1.0 - SUM(n_tok) / CAST(COUNT(*) * bucket AS DOUBLE)
                AS DOUBLE) AS padding_waste
    FROM bucketed
    GROUP BY bucket
    ORDER BY bucket
    """,
)
def length_bucket_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Length-bucketed batching efficiency: documents grouped into
    power-of-two token-length buckets (the dynamic-batching strategy
    that pads each sequence to its bucket size instead of the global
    max), with per-bucket padding-waste accounting — the number a
    batching design is judged by. Pairs with `pack_token_shards` (which
    packs by cumulative budget): bucketing bounds per-batch padding,
    packing bounds shard skew.

    log2/power stay in exact-integer territory (power(2, ceil(log2 n))
    on BIGINT counts), so both engines derive identical buckets and the
    waste ratio divides identical integers.

    Scale: bucket assignment is row-local; the only shuffle is the
    |buckets|-row rollup of map-side partials."""
    d = table(spark, sf_dir, "documents")
    n_tok = F.size(tokens("text")).cast("bigint")
    bucket = F.pow(
        F.lit(2.0), F.ceil(F.log2(F.greatest(n_tok, F.lit(1))))
    ).cast("bigint")
    b = d.select(n_tok.alias("n_tok"), bucket.alias("bucket"))
    return (
        b.groupBy("bucket")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum("n_tok").cast("bigint").alias("real_tokens"),
            (F.count(F.lit(1)) * F.first("bucket"))
            .cast("bigint")
            .alias("padded_tokens"),
        )
        .select(
            "bucket",
            "n_docs",
            "real_tokens",
            "padded_tokens",
            (
                1.0
                - F.col("real_tokens").cast("double")
                / F.col("padded_tokens").cast("double")
            ).alias("padding_waste"),
        )
        .orderBy("bucket")
    )


@query(
    "corpus_datasheet",
    """
    WITH t AS (
      SELECT doc_id, lang, n_chars,
             len(regexp_split_to_array(trim(text), '\\s+')) AS n_tok,
             md5(lower(trim(text))) AS fp
      FROM documents
    ),
    langs AS (
      SELECT lang, COUNT(*) AS n FROM t GROUP BY lang
    ),
    ent AS (
      SELECT ROUND(-SUM((n / total) * log2(n / total)), 9) AS lang_entropy
      FROM (SELECT n, CAST(SUM(n) OVER () AS DOUBLE) AS total FROM langs)
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_tok) AS BIGINT) AS total_tokens,
           ROUND(quantile_cont(n_tok, 0.5), 9) AS p50_tokens,
           ROUND(quantile_cont(n_tok, 0.95), 9) AS p95_tokens,
           CAST(SUM(n_chars) AS BIGINT) AS total_chars,
           CAST(COUNT(DISTINCT lang) AS BIGINT) AS n_langs,
           (SELECT lang_entropy FROM ent) AS lang_entropy,
           CAST(COUNT(*) - COUNT(DISTINCT fp) AS BIGINT) AS n_exact_dups
    FROM t
    """,
)
def corpus_datasheet(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The one-row DATASET CARD a corpus release ships with: document
    and token totals, token-length percentiles, language count and
    Shannon entropy of the language mix, and the exact-duplicate count
    — every number a data-governance review asks for, from ONE pass
    plus metadata-sized rollups. Percentiles and the entropy go through
    the ROUND(,9) ulp-absorber; everything else is exact integers.

    Scale: one corpus scan computes tokens/fingerprints row-locally;
    the distinct-fingerprint count is the only corpus-wide shuffle, and
    the language table (|langs| rows) is driver-trivial. Publish this
    from the same job that writes the corpus (`sink_observed_metrics`
    shows the zero-extra-pass accumulator variant for the subset it
    can express)."""
    d = table(spark, sf_dir, "documents")
    t = d.select(
        "doc_id",
        "lang",
        "n_chars",
        F.size(tokens("text")).cast("bigint").alias("n_tok"),
        F.md5(F.lower(F.trim(F.col("text")))).alias("fp"),
    )
    langs = t.groupBy("lang").agg(F.count(F.lit(1)).alias("n"))
    total_w = Window.partitionBy()
    ent = (
        langs.withColumn("total", F.sum("n").over(total_w).cast("double"))
        .agg(
            F.round(
                -F.sum(
                    (F.col("n") / F.col("total"))
                    * F.log2(F.col("n") / F.col("total"))
                ),
                9,
            ).alias("lang_entropy")
        )
    )
    stats = t.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum("n_tok").cast("bigint").alias("total_tokens"),
        F.round(F.percentile("n_tok", F.lit(0.5)), 9).alias("p50_tokens"),
        F.round(F.percentile("n_tok", F.lit(0.95)), 9).alias("p95_tokens"),
        F.sum("n_chars").cast("bigint").alias("total_chars"),
        F.countDistinct("lang").cast("bigint").alias("n_langs"),
        (F.count(F.lit(1)) - F.countDistinct("fp"))
        .cast("bigint")
        .alias("n_exact_dups"),
    )
    return stats.crossJoin(F.broadcast(ent)).select(
        "n_docs",
        "total_tokens",
        "p50_tokens",
        "p95_tokens",
        "total_chars",
        "n_langs",
        "lang_entropy",
        "n_exact_dups",
    )


# Unigram language-model scoring — the corpus-statistical quality signal
# (CCNet, arXiv:1911.00359, scores documents with a KenLM n-gram model;
# the distributable from-scratch proxy is the corpus's own unigram LM):
# pass 1 derives p(w) = c(w)/N over the whole corpus, pass 2 scores each
# document by its average negative log-probability. High avg-NLL = text
# unlike the corpus (gibberish, rare-token soup); low = boilerplate.
_LM_PERPLEXITY_ORACLE = r"""
    WITH toks AS (
      SELECT doc_id, unnest(string_split_regex(trim(lower(text)), '\s+')) AS w
      FROM documents),
    freq AS (SELECT w, COUNT(*) AS c FROM toks GROUP BY w),
    tot AS (SELECT COUNT(*) AS n FROM toks)
    SELECT t.doc_id,
           COUNT(*) AS n_tokens,
           ROUND(SUM(-ln(CAST(f.c AS DOUBLE) / tot.n)) / COUNT(*), 6)
             AS avg_nll
    FROM toks t JOIN freq f USING (w) CROSS JOIN tot
    GROUP BY t.doc_id
    ORDER BY t.doc_id
"""


@query("lm_perplexity_score", _LM_PERPLEXITY_ORACLE)
def lm_perplexity_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unigram-LM document scoring: two passes over the corpus — (1)
    the corpus unigram distribution p(w) = c(w)/N, (2) each document's
    average negative log-probability under it (the perplexity exponent;
    exp() is monotone so thresholding avg-NLL ≡ thresholding
    perplexity, and skipping it keeps one libm call out of the compare).
    No smoothing needed: every scored token is in the vocabulary by
    construction (the model IS the corpus).

    Scale posture: the frequency table is vocabulary-sized (zipfian —
    grows ~log-like in corpus size), so pass 2 BROADCASTS it onto the
    exploded token stream; explode is row-local, so a document's tokens
    stay in one partition and the per-doc aggregate collapses map-side —
    the only full shuffle is pass 1's vocabulary aggregate of narrow
    (word) rows, and the final exchange moves ~|docs| partial rows. The
    corpus total N rides a broadcast 1-row cross join. If the
    vocabulary outgrows broadcast (100-TB web text with unbounded junk
    tokens), drop the hint and the same plan degrades to a shuffle
    join; the aggregate structure is unchanged. The absorber is
    ROUND(,6), wider than the repo's usual (,9): the summand here is a
    LIBM value (ln can differ by 1 ulp per token between engines, on
    top of sum-order noise), so the accumulated cross-engine drift is
    ~1e-14 per document — against a 5e-10 rounding boundary that flips
    a digit roughly once per 10^2 runs, against 5e-7 effectively
    never. Six digits on a ~10-magnitude score loses nothing a quality
    threshold could see."""
    d = table(spark, sf_dir, "documents")
    words = d.select(
        "doc_id", F.explode(tokens(F.lower(F.col("text")))).alias("w")
    )
    freq = words.groupBy("w").agg(F.count(F.lit(1)).alias("c"))
    # N as a row-local sum of per-document token counts — summing freq.c
    # would recompute the whole vocabulary aggregate (second w-shuffle)
    # just to produce one number
    total = d.agg(
        F.sum(F.size(tokens(F.lower(F.col("text")))))
        .cast("double")
        .alias("n_total")
    )
    scored = words.join(F.broadcast(freq), "w").crossJoin(F.broadcast(total))
    return (
        scored.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_tokens"),
            F.round(
                F.sum(-F.log(F.col("c").cast("double") / F.col("n_total")))
                / F.count(F.lit(1)),
                6,
            ).alias("avg_nll"),
        )
        .orderBy("doc_id")
    )


# Weighted sampling without replacement (Efraimidis & Spirakis 2006,
# "Weighted random sampling with a reservoir"): each item draws
# u ~ U(0,1) and the top-m by u^(1/w) are EXACTLY a weight-proportional
# without-replacement sample. Ranking by ln(u)/w is the monotone
# equivalent. u derives from md5(doc_id) (first 12 hex chars -> 48-bit
# integer, exact in a double), so the "random" draw is bit-identical
# across engines and reruns — the same fixed-randomness trick as
# sample_k_per_group, upgraded from uniform to weighted.
_WEIGHTED_ES_ORACLE = f"""
    SELECT source, doc_id, n_chars,
           ROUND(es_key, 9) AS es_key, CAST(rnk AS INT) AS rnk
    FROM (
      SELECT source, doc_id, n_chars,
             ln((u48 + 0.5) / 281474976710656.0) / n_chars AS es_key,
             ROW_NUMBER() OVER (PARTITION BY source
                                ORDER BY ln((u48 + 0.5) / 281474976710656.0)
                                  / n_chars DESC, doc_id) AS rnk
      FROM (SELECT source, doc_id, n_chars,
                   {sql_hex_bigint("md5(CAST(doc_id AS VARCHAR))", 12)} AS u48
            FROM documents) raw) t
    WHERE rnk <= 20
    ORDER BY source, rnk
"""


@query("weighted_sample_es", _WEIGHTED_ES_ORACLE)
def weighted_sample_es(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted without-replacement sampling per source stratum: 20
    documents per source, drawn with probability proportional to
    n_chars (stand-in for a quality/importance weight), via the
    Efraimidis-Spirakis exponential-key rank — the distributed-friendly
    form of weighted reservoir sampling (no reservoir state, no
    sequential pass: the key is row-local, the selection is a rank
    window).

    Scale posture: one window exchange on the stratum key; everything
    else is row-local arithmetic over a 48-bit md5 draw (exact in a
    double, bit-identical in both engines). Changing m or the weight
    column changes no plan shape. A fully-global weighted sample is the
    same query with one stratum — or two-level: ES top-m per partition,
    then ES over the m x partitions candidates (the key is
    associative-max, so the two-level result equals the global one)."""
    d = table(spark, sf_dir, "documents")
    v = F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 12), 16, 10)
    u = (v.cast("bigint").cast("double") + 0.5) / float(1 << 48)
    key = F.log(u) / F.col("n_chars")
    w = Window.partitionBy("source").orderBy(F.col("es_key").desc(), "doc_id")
    return (
        d.select("source", "doc_id", "n_chars", key.alias("es_key"))
        .withColumn("rnk", F.row_number().over(w).cast("int"))
        .filter(F.col("rnk") <= 20)
        .select(
            "source",
            "doc_id",
            "n_chars",
            F.round("es_key", 9).alias("es_key"),
            "rnk",
        )
        .orderBy("source", "rnk")
    )


# ---------------------------------------------------------------------------
# Okapi BM25 retrieval (the tf_idf twin production corpus search runs):
# standard parameters k1=1.2, b=0.75, Lucene's +1 idf smoothing. The
# query is a fixed term set (one rare + two common terms so idf spread
# is exercised); scoring follows the repo's float conventions — exact
# integer tf/df/dl on both engines, ROUND(,9) absorbing libm-ulp and
# sum-order noise.
BM25_K1, BM25_B = 1.2, 0.75
BM25_TERMS = ("dup", "merge", "scan")

# the SQL term-score template and the Spark builder below both derive
# their literals from BM25_K1/BM25_B (k1+1 = 2.2, 1-b = 0.25) — one
# knob, both engines
_BM25_TERM_SQL = (
    f"ROUND(ln((n - df_{{t}} + 0.5) / (df_{{t}} + 0.5) + 1.0)"
    f" * tf_{{t}} * {BM25_K1 + 1}"
    f" / (tf_{{t}} + {BM25_K1} * ({1 - BM25_B} + {BM25_B} * dl / avgdl)), 9)"
)


# memoized slim frame per (SESSION, corpus path, fingerprint, terms):
# repeated invocations — bench best-of-N, hybrid fusion, the driver
# suite — reuse ONE persisted projection instead of leaking a fresh
# cached copy per call. Unlike `tables.memo` values (session-independent
# numpy), these entries hold DataFrames, which die with their
# SparkSession — the session id in the key prevents a stopped-context
# hit (same reason tables.load_tables keys by _session_id). Stale
# entries for the same (session, sf_dir, terms) are unpersisted and
# evicted on miss, so a regenerated fixture can't pin dead storage.
_BM25_FRAME_CACHE: dict = {}


def _bm25_per_frame(spark: SparkSession, sf_dir: str, terms: tuple):
    """(persisted slim frame, collected corpus stats) for a term set:
    per-doc dl + tf per term via rowwise higher-order ``filter`` (no
    explode, no shuffle), stats (N, Σdl, per-term df) as ONE
    metadata-sized global aggregate."""
    from ..tables import _session_id, source_fp

    sid = _session_id(spark)
    fp = source_fp(sf_dir, "documents.parquet")
    key = (sid, sf_dir, fp, terms)
    hit = _BM25_FRAME_CACHE.get(key)
    if hit is not None:
        return hit
    for stale in [
        k for k in _BM25_FRAME_CACHE if (k[0], k[1], k[3]) == (sid, sf_dir, terms)
    ]:
        try:
            _BM25_FRAME_CACHE.pop(stale)[0].unpersist()
        except Exception:
            pass  # a dead context can't unpersist; dropping the ref is enough
    d = table(spark, sf_dir, "documents")
    toks = tokens(F.lower(F.col("text")))

    # closure factory, NOT a default-arg lambda: F.filter inspects the
    # lambda's arity, and a `lambda x, t=t:` registers as the 2-arg
    # (element, index) form — the index then silently replaces the term
    def term_count(t: str):
        return (
            F.size(F.filter(toks, lambda x: x == F.lit(t)))
            .cast("bigint")
            .alias(f"tf_{t}")
        )

    per = d.select(
        "doc_id",
        F.size(tokens("text")).cast("bigint").alias("dl"),
        *[term_count(t) for t in terms],
    ).persist()
    stats = per.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("dl").alias("sdl"),
        *[F.count_if(F.col(f"tf_{t}") > 0).alias(f"df_{t}") for t in terms],
    ).collect()[0]
    _BM25_FRAME_CACHE[key] = (per, stats)
    return per, stats


def _bm25_score_col(stats, terms) -> "F.Column":
    """Rowwise BM25 score over a `_bm25_per_frame` frame, left-assoc
    term sum — textually the same association order as the SQL
    template's ' + '.join, for any term count."""
    import functools
    import math
    import operator

    n = stats["n"]
    avgdl = stats["sdl"] / n
    parts = []
    for t in terms:
        # idf in Python libm == DuckDB's ln (same box); ROUND(,9)
        # absorbs any last-ulp skew vs the oracle
        idf = math.log((n - stats[f"df_{t}"] + 0.5) / (stats[f"df_{t}"] + 0.5) + 1.0)
        tf = F.col(f"tf_{t}")
        parts.append(
            F.round(
                F.lit(idf) * tf * F.lit(BM25_K1 + 1)
                / (
                    tf
                    + F.lit(BM25_K1)
                    * (
                        F.lit(1 - BM25_B)
                        + F.lit(BM25_B) * F.col("dl") / F.lit(avgdl)
                    )
                ),
                9,
            )
        )
    return F.round(functools.reduce(operator.add, parts), 9)

# hoisted out of the f-string: backslashes (the \s+ split pattern) are
# illegal inside f-string EXPRESSION parts before Python 3.12
_BM25_TF_COLS = ", ".join(
    "len(list_filter(regexp_split_to_array(lower(trim(text)), '\\s+'), "
    f"x -> x = '{t}')) AS tf_{t}"
    for t in BM25_TERMS
)

_BM25_ORACLE = f"""
    WITH per AS (
      SELECT doc_id,
             len(regexp_split_to_array(trim(text), '\\s+')) AS dl,
             {_BM25_TF_COLS}
      FROM documents
    ), stats AS (
      SELECT COUNT(*) AS n,
             CAST(SUM(dl) AS DOUBLE) / COUNT(*) AS avgdl,
             {", ".join(
                 f"COUNT(*) FILTER (WHERE tf_{t} > 0) AS df_{t}"
                 for t in BM25_TERMS)}
      FROM per
    )
    SELECT doc_id, dl,
           ROUND({" + ".join(_BM25_TERM_SQL.format(t=t) for t in BM25_TERMS)},
                 9) AS bm25
    FROM per CROSS JOIN stats
    ORDER BY bm25 DESC, doc_id
    LIMIT 10
"""


@query("bm25_topk", _BM25_ORACLE)
def bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Okapi BM25 top-k retrieval (VERDICT r7 #5), single-scan design:

    - per-doc term frequencies via a rowwise higher-order ``filter``
      over the token array — NO explode, NO shuffle for tf (tf_idf's
      explode+groupBy pays a corpus-wide exchange; a fixed query term
      set doesn't need one);
    - corpus stats (N, Σdl, per-term df) in ONE metadata-sized global
      aggregate, collected as scalars (same contract as tf_idf's
      ``d.count()``);
    - final score is a rowwise expression over the persisted slim
      (doc_id, dl, tf…) frame + TakeOrderedAndProject top-10.
    At 100 TB: one corpus scan for the slim projection, one tiny
    all-reduce, one TakeOrdered — zero grouped exchanges.
    """
    per, stats = _bm25_per_frame(spark, sf_dir, BM25_TERMS)
    return (
        per.select("doc_id", "dl", _bm25_score_col(stats, BM25_TERMS).alias("bm25"))
        .orderBy(F.col("bm25").desc(), "doc_id")
        .limit(10)
    )


# ---------------------------------------------------------------------------
# Hybrid retrieval fusion (VERDICT r7 #7): reciprocal-rank fusion of the
# lexical (BM25) and semantic (ANN cosine) top-k lists — the standard
# two-tower corpus-search composition. RRF(d) = Σ 1/(K + rank_d) over
# the lists containing d, K=60 (Cormack et al.'s constant).
RRF_K = 60


def _rrf_ann_oracle() -> str:
    from .llm_similarity import _COSINE_TOPK_ORACLE

    return _COSINE_TOPK_ORACLE


def _rrf_oracle() -> str:
    return f"""
    WITH bm AS (
      SELECT doc_id, bm25,
             ROW_NUMBER() OVER (ORDER BY bm25 DESC, doc_id) AS bm_rank
      FROM ({_BM25_ORACLE})
    ), ann AS (
      SELECT vec_id, sim,
             ROW_NUMBER() OVER (ORDER BY sim DESC, vec_id) AS ann_rank
      FROM ({_rrf_ann_oracle()})
    )
    SELECT CAST(COALESCE(b.doc_id, a.vec_id) AS BIGINT) AS doc_id,
           b.bm_rank, a.ann_rank,
           ROUND(COALESCE(1.0 / ({RRF_K} + b.bm_rank), 0)
               + COALESCE(1.0 / ({RRF_K} + a.ann_rank), 0), 9) AS rrf
    FROM bm b FULL OUTER JOIN ann a ON b.doc_id = a.vec_id
    ORDER BY rrf DESC, doc_id
    LIMIT 10
"""


def _ranked(df: DataFrame, score_col: str, id_col: str, rank_name: str) -> DataFrame:
    """Rank a ≤K-row result frame by (score DESC, id ASC) WITHOUT an
    unpartitioned window (repo plan-hygiene rule — see
    pack_token_shards): rank = 1 + |rows strictly better|, via a
    broadcast triangular self-join over the K-row frame."""
    a = df.select(F.col(id_col).alias("_id"), F.col(score_col).alias("_s"))
    b = a.select(F.col("_id").alias("_id2"), F.col("_s").alias("_s2"))
    better = (F.col("_s2") > F.col("_s")) | (
        (F.col("_s2") == F.col("_s")) & (F.col("_id2") < F.col("_id"))
    )
    return (
        a.join(F.broadcast(b), better, "left")
        .groupBy("_id")
        .agg((F.count("_id2") + 1).cast("bigint").alias(rank_name))
    )


@query("hybrid_rrf_topk", _rrf_oracle())
def hybrid_rrf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RRF fusion of `bm25_topk` (lexical) and `ann_ivf_topk_refined`
    (semantic, probing the persisted refined IVF index — its provable
    top-k coverage is why the exact-cosine oracle is the twin). Both
    inputs are K-row lists, so everything here is broadcast-sized: two
    triangular rank joins + one full-outer fuse — no corpus access at
    all beyond what the two retrievers already did. At 100 TB the
    fusion cost stays O(K²) regardless of corpus size."""
    from .llm_similarity import ann_ivf_topk_refined

    bm = _ranked(bm25_topk(spark, sf_dir), "bm25", "doc_id", "bm_rank")
    ann = _ranked(ann_ivf_topk_refined(spark, sf_dir), "sim", "vec_id", "ann_rank")
    # no broadcast hint: Spark can't broadcast a FULL OUTER side (the
    # hint logs an unsupported warning and falls back); both inputs are
    # K-row frames so the shuffled join is K-sized anyway
    fused = bm.withColumnRenamed("_id", "doc_id").join(
        ann.withColumnRenamed("_id", "vec_id"),
        F.col("doc_id") == F.col("vec_id"),
        "full_outer",
    )
    rrf = F.round(
        F.coalesce(F.lit(1.0) / (F.lit(RRF_K) + F.col("bm_rank")), F.lit(0.0))
        + F.coalesce(F.lit(1.0) / (F.lit(RRF_K) + F.col("ann_rank")), F.lit(0.0)),
        9,
    )
    return (
        fused.select(
            F.coalesce("doc_id", "vec_id").cast("bigint").alias("doc_id"),
            "bm_rank",
            "ann_rank",
            rrf.alias("rrf"),
        )
        .orderBy(F.col("rrf").desc(), "doc_id")
        .limit(10)
    )


# ---------------------------------------------------------------------------
# Batch BM25: the production retrieval shape — a BATCH of queries scored
# in ONE corpus pass. The slim (doc_id, dl, tf...) frame is computed
# once for the union of all query terms and persisted; each query then
# costs only a rowwise score + TakeOrdered over that frame. Per-query
# top-k is a union of TakeOrderedAndProject trees, NOT a window
# partitioned by query_id — a 3-partition window over the scored corpus
# would serialize the whole corpus through 3 tasks at scale.
BM25_BATCH = {
    0: ("dup", "merge", "scan"),
    1: ("spark", "join", "window"),
    2: ("slow", "fast", "table"),
}
_BM25_ALL_TERMS = tuple(sorted({t for ts in BM25_BATCH.values() for t in ts}))


def _bm25_batch_oracle() -> str:
    tf_cols = ", ".join(
        "len(list_filter(regexp_split_to_array(lower(trim(text)), '\\s+'), "
        f"x -> x = '{t}')) AS tf_{t}"
        for t in _BM25_ALL_TERMS
    )
    df_cols = ", ".join(
        f"COUNT(*) FILTER (WHERE tf_{t} > 0) AS df_{t}" for t in _BM25_ALL_TERMS
    )
    selects = []
    for qid, terms in BM25_BATCH.items():
        score = " + ".join(_BM25_TERM_SQL.format(t=t) for t in terms)
        selects.append(
            f"(SELECT {qid} AS query_id, doc_id, dl, ROUND({score}, 9) AS bm25"
            " FROM per CROSS JOIN stats"
            " ORDER BY bm25 DESC, doc_id LIMIT 10)"
        )
    return f"""
    WITH per AS (
      SELECT doc_id, len(regexp_split_to_array(trim(text), '\\s+')) AS dl, {tf_cols}
      FROM documents
    ), stats AS (
      SELECT COUNT(*) AS n, CAST(SUM(dl) AS DOUBLE) / COUNT(*) AS avgdl,
             {df_cols}
      FROM per
    )
    SELECT * FROM ({" UNION ALL ".join(selects)})
    ORDER BY query_id, bm25 DESC, doc_id
"""


@query("bm25_batch_topk", _bm25_batch_oracle())
def bm25_batch_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch BM25 retrieval: |batch| queries answered from ONE corpus
    scan. Same float conventions as `bm25_topk`; the per-doc frame
    carries tf for the union of all batch terms, so adding a query to
    the batch adds one rowwise column, not a scan. At a real production
    batch size an inverted-index layout takes over; the one-pass shape
    here is the right engine primitive up to ~hundreds of terms."""
    per, stats = _bm25_per_frame(spark, sf_dir, _BM25_ALL_TERMS)
    tops = None
    for qid, terms in BM25_BATCH.items():
        t = (
            per.select(
                F.lit(qid).cast("int").alias("query_id"),
                "doc_id",
                "dl",
                _bm25_score_col(stats, terms).alias("bm25"),
            )
            .orderBy(F.col("bm25").desc(), "doc_id")
            .limit(10)
        )
        tops = t if tops is None else tops.unionAll(t)
    return tops.orderBy("query_id", F.col("bm25").desc(), "doc_id")


# ---------------------------------------------------------------------------
# Inverted-index BM25 (the at-scale retrieval layout the one-pass
# queries' docstrings point at): a persisted build/probe split like the
# IVF family. Postings are partitioned by a term-hash BUCKET and
# DENORMALIZED with the doc length (the Lucene-norms trick: no
# corpus-sized docstats join at probe time); corpus stats live in a
# 1-row meta file; term df in a bucket-partitioned termstats table.
# A probe touches only its query terms' bucket partitions — cost scales
# with matching postings, never the corpus.
BM25_BUCKETS = 16
_BM25_IDX_ROOT = "/tmp/cdr_spark/bm25_index"


def _bm25_term_bucket(term: str) -> int:
    """Python twin of the Spark-side bucket expression — md5-derived so
    both sides compute it without a JVM round-trip."""
    import hashlib

    return int(hashlib.md5(term.encode()).hexdigest()[:8], 16) % BM25_BUCKETS


def _bm25_bucket_col(word) -> "F.Column":
    return F.pmod(
        F.conv(F.substring(F.md5(word), 1, 8), 16, 10).cast("bigint"),
        F.lit(BM25_BUCKETS),
    ).cast("int")


def _bm25_index_for(spark: SparkSession, sf_dir: str) -> str:
    """Build the inverted index once per corpus fingerprint: postings
    (bucket, word, doc_id, tf, dl), termstats (bucket, word, df), meta
    (n, sdl). One explode + one grouped exchange at build time — the
    cost the probe path never pays again."""
    import os

    def build(path: str) -> None:
        d = table(spark, sf_dir, "documents")
        toks = d.select(
            "doc_id",
            F.size(tokens("text")).cast("bigint").alias("dl"),
            F.explode(tokens(F.lower(F.col("text")))).alias("word"),
        )
        postings = (
            toks.groupBy("word", "doc_id", "dl")
            .agg(F.count(F.lit(1)).cast("bigint").alias("tf"))
            .withColumn("bucket", _bm25_bucket_col(F.col("word")))
        )
        (
            postings.repartition(BM25_BUCKETS, "bucket")
            .write.mode("overwrite")
            .partitionBy("bucket")
            .parquet(os.path.join(path, "postings"))
        )
        termstats = (
            spark.read.parquet(os.path.join(path, "postings"))
            .groupBy("bucket", "word")
            .agg(F.count(F.lit(1)).cast("bigint").alias("df"))
        )
        (
            termstats.repartition(BM25_BUCKETS, "bucket")
            .write.mode("overwrite")
            .partitionBy("bucket")
            .parquet(os.path.join(path, "termstats"))
        )
        d.agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.sum(F.size(tokens("text")).cast("bigint")).alias("sdl"),
        ).coalesce(1).write.mode("overwrite").parquet(os.path.join(path, "meta"))

    spec = f"bm25|b={BM25_BUCKETS}"
    return derived_dir(_BM25_IDX_ROOT, sf_dir, "documents.parquet", spec, build)


@query("bm25_inverted_topk", _BM25_ORACLE)
def bm25_inverted_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 top-k through the persisted inverted index — the SAME
    oracle as `bm25_topk` (identical scores, identical ranking), a
    different physical path: the probe reads ONLY the query terms'
    bucket partitions of postings/termstats (plan-asserted
    PartitionFilters + pushed word filter) plus the 1-row meta; the
    corpus text is never touched. Score = per-posting term score (the
    shared k1/b formula; an absent term contributes 0, exactly its
    value in the full formula) summed per doc, ROUND(,9) absorbing the
    sum order, then TakeOrderedAndProject.

    Retrieval contract: only docs containing >= 1 query term can
    appear — identical to the full ranking whenever >= k docs match
    (true for every fixture SF; production retrieval wants exactly
    this)."""
    import math
    import os

    idx = _bm25_index_for(spark, sf_dir)
    terms = list(BM25_TERMS)
    buckets = sorted({_bm25_term_bucket(t) for t in terms})

    meta = pinned_index_frame(spark, os.path.join(idx, "meta")).collect()[0]
    n, avgdl = meta["n"], meta["sdl"] / meta["n"]
    df_rows = (
        pinned_index_frame(spark, os.path.join(idx, "termstats"))
        .filter(F.col("bucket").isin(buckets) & F.col("word").isin(terms))
        .collect()
    )
    dfs = {r["word"]: r["df"] for r in df_rows}

    idf = F.lit(None).cast("double")
    for t in terms:
        if t in dfs:
            v = math.log((n - dfs[t] + 0.5) / (dfs[t] + 0.5) + 1.0)
            idf = F.when(F.col("word") == t, F.lit(v)).otherwise(idf)
    tf = F.col("tf")
    term_score = F.round(
        idf * tf * F.lit(BM25_K1 + 1)
        / (
            tf
            + F.lit(BM25_K1)
            * (F.lit(1 - BM25_B) + F.lit(BM25_B) * F.col("dl") / F.lit(avgdl))
        ),
        9,
    )
    postings = pinned_index_frame(spark, os.path.join(idx, "postings")).filter(
        F.col("bucket").isin(buckets) & F.col("word").isin(terms)
    )
    return (
        postings.select("doc_id", "dl", term_score.alias("s"))
        .groupBy("doc_id", "dl")
        .agg(F.round(F.sum("s"), 9).alias("bm25"))
        .orderBy(F.col("bm25").desc(), "doc_id")
        .limit(10)
    )


SNIPPET_RADIUS = 5  # tokens of context on each side of the hit


def _snippets_oracle() -> str:
    # priority = BM25_TERMS order (rarest first): first term present wins
    pos_cases = " ".join(
        f"WHEN list_position(toks, '{t}') > 0 THEN '{t}'" for t in BM25_TERMS
    )
    return f"""
    WITH topk AS ({_BM25_ORACLE}),
    tokd AS (
      SELECT t.doc_id, t.bm25,
             regexp_split_to_array(lower(trim(d.text)), '\\s+') AS toks
      FROM topk t JOIN documents d ON t.doc_id = d.doc_id
    ),
    hit AS (
      SELECT doc_id, bm25, toks,
             CASE {pos_cases} ELSE NULL END AS term_hit
      FROM tokd
    )
    SELECT doc_id, bm25, term_hit,
           CASE WHEN term_hit IS NULL THEN NULL
                ELSE array_to_string(
                  toks[GREATEST(list_position(toks, term_hit)
                                - {SNIPPET_RADIUS}, 1)
                       : list_position(toks, term_hit) + {SNIPPET_RADIUS}],
                  ' ')
           END AS snippet
    FROM hit
    ORDER BY bm25 DESC, doc_id
"""


@query("retrieval_snippets", _snippets_oracle())
def retrieval_snippets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Search-result snippet extraction for the BM25 top-k: a
    ±SNIPPET_RADIUS-token window around the first occurrence of the
    highest-priority (rarest) matching query term — the display stage
    every retrieval product runs after ranking.

    Scale: the K-row top-k broadcasts into the documents join (only K
    texts are ever re-read), and the window math is rowwise
    array_position/slice — codegen, no Python, no extra shuffle."""
    top = bm25_topk(spark, sf_dir).select("doc_id", "bm25")
    d = table(spark, sf_dir, "documents").select("doc_id", "text")
    toks = tokens(F.lower(F.col("text")))
    j = d.join(F.broadcast(top), "doc_id").select("doc_id", "bm25", toks.alias("toks"))

    term_hit = F.lit(None).cast("string")
    for t in reversed(BM25_TERMS):  # build CASE so FIRST term wins
        term_hit = F.when(
            F.array_position("toks", F.lit(t)) > 0, F.lit(t)
        ).otherwise(term_hit)
    pos = F.array_position("toks", F.col("term_hit"))
    start = F.greatest(pos - SNIPPET_RADIUS, F.lit(1))
    # DuckDB's toks[s:e] is 1-based INCLUSIVE; Spark's slice takes
    # (start, LENGTH) — length = e - s + 1
    snip = F.when(
        F.col("term_hit").isNull(), F.lit(None).cast("string")
    ).otherwise(
        F.array_join(
            F.slice("toks", start, (pos + SNIPPET_RADIUS) - start + 1), " "
        )
    )
    return (
        j.withColumn("term_hit", term_hit)
        .select("doc_id", "bm25", "term_hit", snip.alias("snippet"))
        .orderBy(F.col("bm25").desc(), "doc_id")
    )


# ---------------------------------------------------------------------------
# Gopher-style quality rules (Rae et al. 2021, the published heuristic
# gate most pretraining pipelines start from), evaluated per rule so the
# report is auditable: word-count window, mean-word-length window,
# alphabetic-word fraction, and minimum distinct-stopword hits. All
# arithmetic is exact-integer-derived (counts and length sums), so the
# rule booleans are bit-identical across engines; the reported mean
# word length carries the ROUND(,9) convention.
GOPHER_WC_MIN, GOPHER_WC_MAX = 50, 100_000
GOPHER_MWL_MIN, GOPHER_MWL_MAX = 3.0, 10.0
GOPHER_ALPHA_MIN = 0.8
# Gopher's list plus "a" (the fixture vocabulary carries only
# "the"/"a" of the canonical set — without a second present stopword
# the rule is a constant and `keep` loses all test power)
GOPHER_STOPWORDS = ("the", "a", "and", "of", "to", "be", "that", "with")
GOPHER_STOP_MIN = 2

_GOPHER_ORACLE = f"""
    WITH w AS (
      SELECT doc_id,
             regexp_split_to_array(trim(text), '\\s+') AS words,
             regexp_split_to_array(lower(trim(text)), '\\s+') AS lwords
      FROM documents
    ), feat AS (
      SELECT doc_id,
             len(words) AS n_words,
             CAST(list_sum(list_transform(words, x -> length(x))) AS DOUBLE)
               / len(words) AS mwl,
             CAST(len(list_filter(words, x -> regexp_matches(x, '[A-Za-z]')))
                  AS DOUBLE) / len(words) AS alpha_frac,
             len(list_filter({list(GOPHER_STOPWORDS)},
                             s -> list_contains(lwords, s))) AS stop_hits
      FROM w
    )
    SELECT doc_id, CAST(n_words AS BIGINT) AS n_words, ROUND(mwl, 9) AS mwl,
           n_words >= {GOPHER_WC_MIN} AND n_words <= {GOPHER_WC_MAX} AS wc_ok,
           mwl >= {GOPHER_MWL_MIN} AND mwl <= {GOPHER_MWL_MAX} AS mwl_ok,
           alpha_frac >= {GOPHER_ALPHA_MIN} AS alpha_ok,
           stop_hits >= {GOPHER_STOP_MIN} AS stop_ok,
           (n_words >= {GOPHER_WC_MIN} AND n_words <= {GOPHER_WC_MAX})
             AND (mwl >= {GOPHER_MWL_MIN} AND mwl <= {GOPHER_MWL_MAX})
             AND alpha_frac >= {GOPHER_ALPHA_MIN}
             AND stop_hits >= {GOPHER_STOP_MIN} AS keep
    FROM feat ORDER BY doc_id
"""


def gopher_verdicts(d: DataFrame, passthrough: tuple = ()) -> DataFrame:
    """Project a documents frame to its per-rule Gopher verdicts — ONE
    copy of the expression tree, shared by the batch operator, the
    streaming gate, and the curation flagship (so their common oracle
    can never drift against a silent fork; same discipline as
    _admit_cell_accounting). ``passthrough`` columns ride along so a
    composing pipeline can gate WITHOUT a self-join back to its own
    lineage (corpus_curate_e2e: a join would recompute the whole
    gate+dedup subtree — two corpus scans at scale)."""
    words = F.col("_cdr_gv_w")
    lwords = F.col("_cdr_gv_lw")
    n_words = F.size(words).cast("bigint")
    wlen_sum = F.aggregate(
        F.transform(words, lambda x: F.length(x).cast("bigint")),
        F.lit(0).cast("bigint"),
        lambda acc, x: acc + x,
    )
    mwl = wlen_sum.cast("double") / n_words
    alpha_frac = (
        F.size(F.filter(words, lambda x: x.rlike("[A-Za-z]"))).cast("double")
        / n_words
    )
    stop_hits = F.size(
        F.filter(
            F.array(*[F.lit(s) for s in GOPHER_STOPWORDS]),
            lambda s: F.array_contains(lwords, s),
        )
    )
    clash = set(c.lower() for c in passthrough) & {
        "doc_id", "n_words", "mwl", "wc_ok", "mwl_ok", "alpha_ok",
        "stop_ok", "keep",
        # internal tokenization columns of the two-level project below —
        # without these in the clash set, a passthrough column with either
        # name surfaces as a confusing AMBIGUOUS_REFERENCE analysis error
        # instead of this clear ValueError (ADVICE r16)
        "_cdr_gv_w", "_cdr_gv_lw",
    }
    if clash:
        raise ValueError(
            f"gopher_verdicts passthrough collides with verdict columns: "
            f"{sorted(clash)}"
        )
    wc_ok = (n_words >= GOPHER_WC_MIN) & (n_words <= GOPHER_WC_MAX)
    mwl_ok = (mwl >= GOPHER_MWL_MIN) & (mwl <= GOPHER_MWL_MAX)
    alpha_ok = alpha_frac >= GOPHER_ALPHA_MIN
    stop_ok = stop_hits >= GOPHER_STOP_MIN
    # Two stacked projects with a seeded shuffle() barrier (r16
    # optimization): the lower project tokenizes ONCE per row into
    # `_cdr_gv_w`/`_cdr_gv_lw`; every verdict above reads the attribute.
    # All verdicts are word-ORDER-invariant (sizes, integer length sums,
    # membership counts), so the fixed-seed permutation never changes a
    # value — while shuffle's nondeterministic flag (a) stops
    # CollapseProject from re-inlining split(text) into each of the five
    # verdict columns and (b) stops PushDownPredicates from substituting
    # the whole tokenize+aggregate tree into a downstream
    # `.filter(keep)` (the curation pipelines re-evaluated split ~4x per
    # row in interpreted eval before this; measured 1.8 s -> 0.6 s for
    # corpus_stage_dedup at sf0.1, identical outputs).
    base = d.select(
        *[F.col(c) for c in passthrough],
        "doc_id",
        F.shuffle(tokens(F.col("text")), F.lit(42)).alias("_cdr_gv_w"),
        F.shuffle(tokens(F.lower(F.col("text"))), F.lit(42)).alias("_cdr_gv_lw"),
    )
    return base.select(
        *[F.col(c) for c in passthrough],
        "doc_id",
        n_words.alias("n_words"),
        F.round(mwl, 9).alias("mwl"),
        wc_ok.alias("wc_ok"),
        mwl_ok.alias("mwl_ok"),
        alpha_ok.alias("alpha_ok"),
        stop_ok.alias("stop_ok"),
        (wc_ok & mwl_ok & alpha_ok & stop_ok).alias("keep"),
    )


@query("gopher_rules_filter", _GOPHER_ORACLE)
def gopher_rules_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-rule Gopher quality gate over the corpus — the auditable form
    (a pipeline wants to know WHICH rule fired, not just keep/drop).

    Scale: pure rowwise split/transform/aggregate expressions in
    whole-stage codegen — zero shuffle, the gate runs at scan speed
    ahead of any dedup exchange (same posture as
    quality_classifier_score)."""
    return gopher_verdicts(table(spark, sf_dir, "documents")).orderBy("doc_id")


# ---------------------------------------------------------------------------
# Inverted-index admission (VERDICT r7 #6's retrieval twin): append an
# arriving batch's postings into the bucket layout and refresh ONLY the
# touched buckets' term stats — the daily job that keeps a production
# search index current without a rebuild. Batch = re-arrivals of
# doc_id % ADMIT_MOD == ADMIT_REM under a data-derived id offset (the
# same modeling and collision-safety rules as the IVF admit cycle).
BM25_ADMIT_MOD, BM25_ADMIT_REM = 100, 3


def _bm25_doc_offset(spark: SparkSession, sf_dir: str) -> int:
    """1 + max doc_id, memoized per corpus fingerprint like the IVF
    twin `admit_id_offset`."""

    def compute() -> int:
        mx = table(spark, sf_dir, "documents").agg(F.max("doc_id")).collect()[0][0]
        return int(mx) + 1 if mx is not None else 1

    return memo(sf_dir, "documents.parquet", "bm25_doc_offset", compute)


def bm25_admit_batch(spark: SparkSession, sf_dir: str, path: str) -> None:
    """Admit the arriving batch into the inverted index at ``path``:

    - batch postings APPEND into their term-bucket partitions only
      (same only-touched-partitions contract as the IVF admit);
    - term stats for the touched buckets are recomputed from postings
      and rewritten via dynamic partition overwrite (untouched buckets
      keep byte-identical files);
    - the 1-row meta (N, Σdl) rolls forward by the batch's deltas.
    Cost at 100 TB: batch-sized postings write + touched-buckets stats
    pass — the corpus text is read only for the batch."""
    import os

    d = table(spark, sf_dir, "documents")
    offset = _bm25_doc_offset(spark, sf_dir)
    batch_docs = d.filter(F.col("doc_id") % BM25_ADMIT_MOD == BM25_ADMIT_REM)
    toks = batch_docs.select(
        (F.col("doc_id") + offset).alias("doc_id"),
        F.size(tokens("text")).cast("bigint").alias("dl"),
        F.explode(tokens(F.lower(F.col("text")))).alias("word"),
    )
    postings_b = (
        toks.groupBy("word", "doc_id", "dl")
        .agg(F.count(F.lit(1)).cast("bigint").alias("tf"))
        .withColumn("bucket", _bm25_bucket_col(F.col("word")))
    ).persist()
    postings_b.write.mode("append").partitionBy("bucket").parquet(
        os.path.join(path, "postings")
    )
    touched = [int(r["bucket"]) for r in postings_b.select("bucket").distinct().collect()]
    refreshed = (
        spark.read.parquet(os.path.join(path, "postings"))
        .filter(F.col("bucket").isin(touched))
        .groupBy("bucket", "word")
        .agg(F.count(F.lit(1)).cast("bigint").alias("df"))
    )
    (
        refreshed.repartition(max(len(touched), 1), "bucket")
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("bucket")
        .parquet(os.path.join(path, "termstats"))
    )
    deltas = batch_docs.agg(
        F.count(F.lit(1)).cast("bigint").alias("nb"),
        F.sum(F.size(tokens("text")).cast("bigint")).alias("sdlb"),
    ).collect()[0]
    meta = spark.read.parquet(os.path.join(path, "meta")).collect()[0]
    spark.createDataFrame(
        [(meta["n"] + deltas["nb"], meta["sdl"] + deltas["sdlb"])], "n long, sdl long"
    ).coalesce(1).write.mode("overwrite").parquet(os.path.join(path, "meta"))
    postings_b.unpersist()


def _bm25_admitted_index_for(spark: SparkSession, sf_dir: str) -> str:
    """One-time: clone the base inverted index (test isolation —
    production appends in place) and admit the batch into the clone —
    a `tables.derived_dir` generation of the base."""
    return derived_dir(
        _BM25_IDX_ROOT, sf_dir, "documents.parquet", f"bm25|b={BM25_BUCKETS}|gen=admitted",
        lambda path: bm25_admit_batch(spark, sf_dir, path),
        base=_bm25_index_for(spark, sf_dir),
    )


_BM25_ADMIT_ORACLE = f"""
    WITH toks AS (
      SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\\s+') AS tk FROM documents
    ), words_base AS (
      SELECT DISTINCT doc_id, unnest(tk) AS w FROM toks
    ), df_base AS (
      SELECT w, COUNT(*) AS dfb FROM words_base GROUP BY w
    ), words_batch AS (
      SELECT DISTINCT doc_id, unnest(tk) AS w FROM toks
      WHERE doc_id % {BM25_ADMIT_MOD} = {BM25_ADMIT_REM}
    ), df_batch AS (
      SELECT w, COUNT(*) AS dft FROM words_batch GROUP BY w
    )
    SELECT b.w AS word, CAST(b.dfb AS BIGINT) AS df_base,
           CAST(COALESCE(t.dft, 0) AS BIGINT) AS df_batch,
           CAST(b.dfb + COALESCE(t.dft, 0) AS BIGINT) AS df_after
    FROM df_base b LEFT JOIN df_batch t ON b.w = t.w
    ORDER BY b.w
"""
# LEFT join is complete: batch docs are re-arrivals of base docs, so
# every batch word already has base document frequency.


@query("bm25_index_admit", _BM25_ADMIT_ORACLE)
def bm25_index_admit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Post-admission accounting across BOTH physical tables of the
    admitted inverted index: per-term base/batch document frequencies
    derived from the POSTINGS (id-offset split) joined to df_after from
    the REFRESHED TERMSTATS — so a hash match against the DuckDB twin
    (which recomputes everything from raw documents) proves postings
    and term stats stayed mutually consistent through the incremental
    refresh, not merely that one table aggregates correctly."""
    import os

    idx = _bm25_admitted_index_for(spark, sf_dir)
    offset = _bm25_doc_offset(spark, sf_dir)
    split = (
        pinned_index_frame(spark, os.path.join(idx, "postings"))
        .groupBy("word")
        .agg(
            F.count_if(F.col("doc_id") < offset).cast("bigint").alias("df_base"),
            F.count_if(F.col("doc_id") >= offset).cast("bigint").alias("df_batch"),
        )
    )
    after = (
        pinned_index_frame(spark, os.path.join(idx, "termstats"))
        .groupBy("word")
        .agg(F.sum("df").cast("bigint").alias("df_after"))
    )
    return (
        split.join(after, "word")
        .select("word", "df_base", "df_batch", "df_after")
        .orderBy("word")
    )


_CURRICULUM_ORACLE = f"""
    WITH feats AS (
      SELECT doc_id,
             len(regexp_split_to_array(trim(text), '\\s+')) AS n_tok,
             ROUND(-2.0 + 0.01 * CAST(len(regexp_split_to_array(trim(text), '\\s+')) AS DOUBLE)
                   + 6.0 * (CAST(len(list_filter(regexp_split_to_array(lower(trim(text)), '\\s+'),
                              w -> w IN ('the', 'and', 'of', 'to', 'a'))) AS DOUBLE)
                            / len(regexp_split_to_array(trim(text), '\\s+')))
                   - 4.0 * (CAST(len(regexp_extract_all(text, '[^A-Za-z0-9 ]')) AS DOUBLE)
                            / length(text))
                   - 0.2 * abs(CAST(length(text) AS DOUBLE)
                               / len(regexp_split_to_array(trim(text), '\\s+')) - 5.0), 9)
               AS logit
      FROM documents
    )
    SELECT doc_id, logit, CAST(n_tok AS BIGINT) AS n_tok,
           CAST(FLOOR(COALESCE(SUM(n_tok) OVER (ORDER BY logit DESC, doc_id
                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                / {PACK_BUDGET}.0) AS BIGINT) AS shard
    FROM feats
    ORDER BY logit DESC, doc_id
"""


@query("pack_quality_curriculum", _CURRICULUM_ORACLE)
def pack_quality_curriculum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Curriculum shard packing: documents ordered best-first by the
    quality classifier's logit (ties by doc_id) and packed into
    ~PACK_BUDGET-token training shards — so early shards hold the
    highest-quality data, the curriculum shape quality-weighted
    pretraining wants. The ordering key is the ROUND(,9) logit, which
    both engines compute bit-identically, so the total order (and hence
    every shard boundary) is deterministic.

    Scale design is `pack_token_shards`' distributed prefix sum over a
    DIFFERENT total order: repartitionByRange on (logit DESC, doc_id)
    gives contiguous quality ranges in ascending partition ids,
    per-partition windows run in parallel, and the |partitions|-row
    offsets frame broadcasts back — no global single-task window."""
    from pyspark.sql import Window as W

    d = table(spark, sf_dir, "documents")
    toks = tokens("text")
    low_toks = tokens(F.lower(F.col("text")))
    n_words = F.size(toks).cast("double")
    cpw = F.length("text").cast("double") / F.size(toks)
    stop_r = marker_count(low_toks, LANG_MARKERS["en"]).cast("double") / F.size(toks)
    punct_r = (
        F.size(F.regexp_extract_all(F.col("text"), F.lit("[^A-Za-z0-9 ]"), F.lit(0)))
        .cast("double")
        / F.length("text")
    )
    logit = F.round(
        F.lit(-2.0)
        + F.lit(0.01) * n_words
        + F.lit(6.0) * stop_r
        - F.lit(4.0) * punct_r
        - F.lit(0.2) * F.abs(cpw - F.lit(5.0)),
        9,
    )
    feats = d.select(
        "doc_id",
        logit.alias("logit"),
        F.size(toks).cast("bigint").alias("n_tok"),
    )
    ranged = feats.repartitionByRange(
        16, F.col("logit").desc(), F.col("doc_id")
    ).withColumn("pid", F.spark_partition_id())
    w_local = W.partitionBy("pid").orderBy(F.col("logit").desc(), "doc_id")
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
    return (
        part_cum.join(F.broadcast(offsets), "pid")
        .select(
            "doc_id",
            "logit",
            "n_tok",
            F.floor(
                (F.col("local_cum") + F.col("offset") - F.col("n_tok"))
                / float(PACK_BUDGET)
            )
            .cast("bigint")
            .alias("shard"),
        )
        .orderBy(F.col("logit").desc(), "doc_id")
    )
