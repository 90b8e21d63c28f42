"""Deduplication operators over `documents` (SURVEY.md C40–C41 +
training-pipeline dedup): exact, MinHash+LSH near-dup, SimHash, exact
n-gram Jaccard.

Scale design:
- exact dedup = hash-groupBy (one shuffle on the dedup key);
- MinHash/LSH: signatures computed row-local (higher-order functions, no
  UDF), candidates via explode(bands) + self-join on (band, hash) — the
  join key is the LSH bucket, so the shuffle moves only (doc_id, bucket)
  pairs, never the text;
- the quadratic verify step runs only on LSH candidates, never all pairs.
"""

from __future__ import annotations

import pandas as pd

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import LongType

from ._util import sql_hex_bigint


# type object, not a DDL string: string parsing needs an active session,
# and this module imports before any session exists
@pandas_udf(LongType())
def _simhash_from_hashes(hs: pd.Series) -> pd.Series:
    """SimHash signature from per-token xxhash64 values: bit j of the
    signature is the sign of sum over tokens of (+1 if bit j set else -1).
    Arithmetic >> on int64 sign-extends, but &1 still reads bit j exactly
    as the JVM's shiftright(h, j) & 1 does."""
    import numpy as np

    out = []
    for arr in hs:
        h = np.asarray(arr, dtype=np.int64)
        if len(h) == 0:
            out.append(0)
            continue
        bits = (h[:, None] >> np.arange(64)) & 1  # (n_tokens, 64)
        votes = 2 * bits.sum(axis=0) - len(h)
        sig = 0
        for j in range(64):
            if votes[j] > 0:
                sig |= (1 << j) if j < 63 else -(1 << 63)
        out.append(sig)
    return pd.Series(out, dtype="int64")

from ..registry import query
from ..session import shuffle_partitions
from ..tables import table
from ..functions.text import (
    band_hashes,
    fingerprint,
    hamming64,
    minhash_signature,
    shingle_hashes,
    shingles,
    simhash64,
    tokens,
)


@query(
    "dedup_exact_text",
    """
    SELECT doc_id, lang, source FROM (
      SELECT doc_id, lang, source,
             ROW_NUMBER() OVER (PARTITION BY md5(lower(trim(text)))
                                ORDER BY doc_id) AS rn
      FROM documents) t
    WHERE rn = 1 ORDER BY doc_id
    """,
)
def dedup_exact_text(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup by normalized-text fingerprint, deterministic keeper
    (min doc_id) — not dropDuplicates(), whose keeper is partition-order
    dependent."""
    from pyspark.sql import Window as W

    d = table(spark, sf_dir, "documents")
    w = W.partitionBy(fingerprint("text")).orderBy("doc_id")
    return (
        d.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("doc_id", "lang", "source")
        .orderBy("doc_id")
    )


@query(
    "dedup_by_key",
    """
    SELECT lang, source, MIN(doc_id) AS keeper_doc_id, COUNT(*) AS n_dups
    FROM documents GROUP BY lang, source
    ORDER BY lang, source
    """,
)
def dedup_by_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C40 keyed dedup, reported as keeper + duplicate count per key."""
    d = table(spark, sf_dir, "documents")
    return (
        d.groupBy("lang", "source")
        .agg(F.min("doc_id").alias("keeper_doc_id"), F.count(F.lit(1)).alias("n_dups"))
        .orderBy("lang", "source")
    )


# MinHash/LSH parameters: 32 hashes = 8 bands × 4 rows → catches
# Jaccard ≳ 0.5 with high probability
N_HASHES, N_BANDS, ROWS_PER_BAND = 32, 8, 4

# Degenerate-bucket guard: a band bucket holding B docs contributes
# B·(B-1)/2 candidate pairs — one boilerplate-heavy bucket (empty docs,
# licence headers) turns the self-join quadratic at corpus scale. Buckets
# over this cap are dropped before the join; such buckets are almost
# always near-identical boilerplate whose members still pair up through
# their OTHER (uncapped) bands, and anything truly lost is
# duplicate-of-boilerplate noise a dedup pass wants gone anyway.
MAX_LSH_BUCKET = 64


def minhash_candidates(spark: SparkSession, sf_dir: str, k_shingle: int = 3) -> DataFrame:
    return minhash_candidates_from(
        table(spark, sf_dir, "documents"), k_shingle=k_shingle
    )


def lsh_band_buckets(d: DataFrame, k_shingle: int = 3) -> DataFrame:
    """Capped LSH band buckets `(doc_id, band_idx, band_hash)` for every
    document — the shared blocking structure under the self-join dedup
    (`minhash_candidates_from`) and the cross-corpus decontamination join
    (`decontaminate_minhash`).

    Signature computation is explode → 32 flat xxhash64 columns →
    groupBy(doc_id).min per seed: everything rides whole-stage codegen
    with map-side partial aggregation, so the shuffle carries one
    32-long row per document — the shape that survives 100 TB. (The
    nested higher-order-function formulation evaluates interpreted and
    is ~5× slower even after let_-binding.)

    r17 (guide §2.3 "narrower types" + §1.2 per-task work): every key in
    this pipeline is engine-internal — the output pairs are re-verified
    by exact Jaccard downstream — so the shingle key is
    xxhash64(token-slice) (array<bigint>, no joined shingle string
    materialized), the 32 MinHash lanes hash that 8-byte long instead of
    a ~25-byte string, and the band key is one variadic
    xxhash64(band, h_0..h_3) instead of a concat_ws of four casted
    strings. Same band/row structure, equally well-mixed hash family, so
    the LSH recall argument (and therefore the oracle-checked output) is
    unchanged — verified: identical candidate-pair sets at sf0.1 and
    oracle-green at all three SFs. Measured: candidate subtree noop
    1.04 → 0.72 s at sf0.1.

    The wide stages are built with selectExpr/expr STRINGS, not the
    Column API: each Column call is a py4j round trip, and this
    function's ~250 of them cost ~0.25 s of driver time per query build
    (measured; the strings parse JVM-side in a handful of calls and
    yield the identical plan). That is driver latency every composing
    query pays, not just the bench."""
    sh = d.select(
        "doc_id",
        F.explode(shingle_hashes(F.lower(F.col("text")), k_shingle)).alias("s0"),
    )
    hashed = sh.selectExpr(
        "doc_id", *[f"xxhash64({i}, s0) AS h{i}" for i in range(N_HASHES)]
    )
    sig_cols = hashed.groupBy("doc_id").agg(
        *[F.expr(f"min(h{i}) AS h{i}") for i in range(N_HASHES)]
    )
    # band b = hash of its ROWS_PER_BAND signature slots
    band_exprs = ", ".join(
        f"xxhash64({b}, "
        + ", ".join(f"h{b * ROWS_PER_BAND + r}" for r in range(ROWS_PER_BAND))
        + ")"
        for b in range(N_BANDS)
    )
    buckets = sig_cols.selectExpr(
        "doc_id", f"posexplode(array({band_exprs})) AS (band_idx, band_hash)"
    )
    # bucket-size cap: count members per (band, hash) and drop oversized
    # buckets BEFORE the self-join. The count and the join key share the
    # same partitioning, so this costs one extra same-key aggregate, not
    # a new shuffle pattern — and it bounds the join output at
    # MAX_LSH_BUCKET²/2 pairs per bucket.
    from pyspark.sql import Window as W

    wb = W.partitionBy("band_idx", "band_hash")
    return (
        buckets.withColumn("bsz", F.count(F.lit(1)).over(wb))
        .filter(F.col("bsz") <= MAX_LSH_BUCKET)
        .drop("bsz")
    )


def minhash_candidates_from(d: DataFrame, k_shingle: int = 3) -> DataFrame:
    """LSH candidate pairs (a < b) sharing ≥1 MinHash band bucket."""
    capped = lsh_band_buckets(d, k_shingle)
    a = capped.alias("a")
    b = capped.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band_idx") == F.col("b.band_idx"))
            & (F.col("a.band_hash") == F.col("b.band_hash"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .distinct()
    )


_MINHASH_ORACLE = r"""
    WITH w AS (
      SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS w
      FROM documents
    ),
    sh AS (
      SELECT doc_id,
             list_distinct(list_transform(generate_series(1, greatest(len(w)-2, 0)),
               i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS s
      FROM w
    ),
    inv AS (SELECT doc_id, unnest(s) AS g FROM sh),
    pairs AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS inter
      FROM inv a JOIN inv b ON a.g = b.g AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    ),
    sizes AS (SELECT doc_id, len(s) AS n FROM sh)
    SELECT p.doc_a, p.doc_b,
           CAST(p.inter AS DOUBLE) / (sa.n + sb.n - p.inter) AS jaccard
    FROM pairs p JOIN sizes sa ON sa.doc_id = p.doc_a
                 JOIN sizes sb ON sb.doc_id = p.doc_b
    WHERE CAST(p.inter AS DOUBLE) / (sa.n + sb.n - p.inter) >= 0.5
    ORDER BY doc_a, doc_b
"""


@query("dedup_minhash_lsh", _MINHASH_ORACLE)
def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C41: MinHash+LSH near-dup candidates, verified by exact Jaccard on
    the candidate set only; emits pairs with Jaccard ≥ 0.5.

    Oracle-checked against ALL pairs at Jaccard ≥ 0.5 (DuckDB
    inverted-index formulation): the fixture's true near-dups sit at
    Jaccard ≥ 0.9, where 8-band × 4-row LSH detection probability is
    1 - (1 - 0.9^4)^8 ≈ 0.9998 per pair — so LSH recall is exactly 1
    here and the approximate pipeline's output equals the exact answer.
    (The signature path is deterministic — fixed xxhash64 seeds — so
    this equality is reproducible, not a coin flip.)"""
    d = table(spark, sf_dir, "documents")
    cand = minhash_candidates(spark, sf_dir)
    sh = d.select(
        "doc_id", F.array_distinct(shingles(F.lower(F.col("text")))).alias("sh")
    )
    scored = (
        cand.join(sh.withColumnRenamed("doc_id", "doc_a").withColumnRenamed("sh", "sh_a"), "doc_a")
        .join(sh.withColumnRenamed("doc_id", "doc_b").withColumnRenamed("sh", "sh_b"), "doc_b")
        .select(
            "doc_a",
            "doc_b",
            (
                F.size(F.array_intersect("sh_a", "sh_b")).cast("double")
                / F.size(F.array_union("sh_a", "sh_b"))
            ).alias("jaccard"),
        )
    )
    return scored.filter(F.col("jaccard") >= 0.5).orderBy("doc_a", "doc_b")


@query("dedup_simhash")  # xxhash64-based → rows-only
def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup: 64-bit signatures, pairs at Hamming distance ≤ 12.

    Banded by the signature's 4 16-bit chunks so the self-join is
    bucket-local, not quadratic. Recall is BOUNDED, not guaranteed: a
    pair is found only if some chunk contains NONE of its d differing
    bits, so any 3/3/3/3-style spread that touches all four chunks is
    missed. d <= 3 always collides (pigeonhole: 3 bits can hit at most
    3 chunks); beyond that the uniform-spread collision probability is
    ~4*(3/4)^d — ~80% at d=5, ~32% at d=8, ~13% at d=12 — so against
    the full Hamming<=12 threshold this banding is a high-precision
    candidate generator, not an exhaustive one (measured on the fixture:
    recall 1.0 at d<=3, ~0.65 at d<=6, ~0.13 at d<=12; floors asserted
    in tests/test_properties.py::test_simhash_banding_recall_floor).
    Closing the tail costs fan-out, not a new plan: more/overlapping
    bands (e.g. a 5th band over bits 8..23) or Manku-style rotated
    signature tables drop into the same explode -> bucket-join shape."""
    d = table(spark, sf_dir, "documents")
    # token hashes stay JVM-side (explode + xxhash64 in codegen); the
    # 64-bit vote/pack step runs as one numpy pass per Arrow batch — a
    # 64-wide sum aggregate costs ~3x more in the JVM hash aggregate.
    # (functions.text.simhash64 keeps the pure-expression form for
    # composing over array columns.)
    tok = d.select("doc_id", F.explode(tokens(F.lower(F.col("text")))).alias("tok"))
    hashes = tok.groupBy("doc_id").agg(
        F.collect_list(F.xxhash64("tok")).alias("hs")
    )
    sigs = hashes.select("doc_id", _simhash_from_hashes("hs").alias("sig"))
    chunks = sigs.select(
        "doc_id",
        "sig",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("chunk_idx"),
                        F.shiftright("sig", i * 16).bitwiseAND(F.lit(0xFFFF)).alias("chunk"),
                    )
                    for i in range(4)
                ]
            )
        ).alias("c"),
    ).select("doc_id", "sig", "c.chunk_idx", "c.chunk")
    # same degenerate-bucket guard as the MinHash band join (see
    # MAX_LSH_BUCKET): one hot 16-bit chunk must not go quadratic
    from pyspark.sql import Window as W

    wc = W.partitionBy("chunk_idx", "chunk")
    chunks = (
        chunks.withColumn("bsz", F.count(F.lit(1)).over(wc))
        .filter(F.col("bsz") <= MAX_LSH_BUCKET)
        .drop("bsz")
    )
    a = chunks.alias("a")
    b = chunks.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.chunk_idx") == F.col("b.chunk_idx"))
            & (F.col("a.chunk") == F.col("b.chunk"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            hamming64(F.col("a.sig"), F.col("b.sig")).alias("hamming"),
        )
        .distinct()
    )
    return pairs.filter(F.col("hamming") <= 12).orderBy("doc_a", "doc_b")


# SimHash with an md5-derived token hash, which BOTH engines can compute —
# upgrades the signature computation (the hard part of `dedup_simhash`,
# whose xxhash64 is Spark-only) to a full cross-engine oracle. 60 bits
# (15 hex chars) keeps the hash inside signed-int64 range on both sides.
_SIMHASH_SIG_ORACLE = """
    WITH toks AS (
      SELECT doc_id,
             unnest(list_distinct(regexp_split_to_array(lower(trim(text)), '\\s+'))) AS w
      FROM documents
    ), th AS (
      SELECT doc_id, (((((((((((((((CAST(0 AS BIGINT) * 16 + strpos('0123456789abcdef', substr(md5(w), 1, 1)) - 1) * 16 + strpos('0123456789abcdef', substr(md5(w), 2, 1)) - 1) * 16 + strpos('0123456789abcdef', substr(md5(w), 3, 1)) - 1) * 16 + strpos('0123456789abcdef', substr(md5(w), 4, 1)) - 1) * 16 + strpos('0123456789abcdef', substr(md5(w), 5, 1)) - 1) * 16 + strpos('0123456789abcdef', substr(md5(w), 6, 1)) - 1) * 16 + strpos('0123456789abcdef', substr(md5(w), 7, 1)) - 1) * 16 + strpos('0123456789abcdef', substr(md5(w), 8, 1)) - 1) * 16 + strpos('0123456789abcdef', substr(md5(w), 9, 1)) - 1) * 16 + strpos('0123456789abcdef', substr(md5(w), 10, 1)) - 1) * 16 + strpos('0123456789abcdef', substr(md5(w), 11, 1)) - 1) * 16 + strpos('0123456789abcdef', substr(md5(w), 12, 1)) - 1) * 16 + strpos('0123456789abcdef', substr(md5(w), 13, 1)) - 1) * 16 + strpos('0123456789abcdef', substr(md5(w), 14, 1)) - 1) * 16 + strpos('0123456789abcdef', substr(md5(w), 15, 1)) - 1) AS h
      FROM toks
    ), votes AS (
      SELECT doc_id, b.b AS bit,
             SUM(CASE WHEN (h >> b.b) & 1 = 1 THEN 1 ELSE -1 END) AS v
      FROM th CROSS JOIN (SELECT unnest(generate_series(0, 59)) AS b) b
      GROUP BY doc_id, b.b
    ), sig AS (
      SELECT doc_id,
             SUM(CASE WHEN v >= 0 THEN (CAST(1 AS BIGINT) << bit) ELSE 0 END) AS sig
      FROM votes GROUP BY doc_id
    )
    SELECT doc_id, CAST(sig AS BIGINT) AS sig,
           CAST(sig & 32767 AS BIGINT) AS band0,
           CAST((sig >> 15) & 32767 AS BIGINT) AS band1,
           CAST((sig >> 30) & 32767 AS BIGINT) AS band2,
           CAST((sig >> 45) & 32767 AS BIGINT) AS band3
    FROM sig ORDER BY doc_id
"""


@query("simhash_signatures", _SIMHASH_SIG_ORACLE)
def simhash_signatures(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash signatures with a cross-engine-computable token hash
    (md5 60-bit prefix): per-document 60-bit signature + its 4 banding
    chunks, exact-matched against DuckDB's independent derivation. This
    oracles the part of `dedup_simhash` that is otherwise unverifiable
    (its xxhash64 exists only in Spark); the banded candidate join
    downstream is the same already-oracled pattern as MinHash.

    Scale: explode distinct tokens -> one md5+conv per token -> 60
    codegen bit-vote sums with map-side combine; the shuffle carries one
    60-int row per document per map partition. Bit votes tie to 1 at
    vote=0 on both sides."""
    from functools import reduce
    from operator import add

    d = table(spark, sf_dir, "documents")
    t = d.select(
        "doc_id",
        F.explode(F.array_distinct(tokens(F.lower(F.col("text"))))).alias("w"),
    )
    h = t.select(
        "doc_id",
        F.conv(F.substring(F.md5("w"), 1, 15), 16, 10).cast("long").alias("h"),
    )
    votes = h.groupBy("doc_id").agg(
        *[
            F.sum(F.shiftright("h", j).bitwiseAND(F.lit(1)) * 2 - 1).alias(f"v{j}")
            for j in range(60)
        ]
    )
    sig = reduce(
        add,
        [
            F.when(F.col(f"v{j}") >= 0, F.lit(1 << j)).otherwise(F.lit(0))
            for j in range(60)
        ],
    ).cast("long")
    out = votes.select("doc_id", sig.alias("sig"))
    return out.select(
        "doc_id",
        "sig",
        F.col("sig").bitwiseAND(F.lit(32767)).alias("band0"),
        F.shiftright("sig", 15).bitwiseAND(F.lit(32767)).alias("band1"),
        F.shiftright("sig", 30).bitwiseAND(F.lit(32767)).alias("band2"),
        F.shiftright("sig", 45).bitwiseAND(F.lit(32767)).alias("band3"),
    ).orderBy("doc_id")


_EMB_DEDUP_ORACLE = """
    WITH dropped AS (
      SELECT DISTINCT b.vec_id
      FROM embeddings a JOIN embeddings b
        ON a.label = b.label AND a.vec_id < b.vec_id
      WHERE list_cosine_similarity(
              list_transform(a.embedding, x -> CAST(x AS DOUBLE)),
              list_transform(b.embedding, x -> CAST(x AS DOUBLE))) >= 0.3
    )
    SELECT d.doc_id, d.lang, e.label
    FROM documents d JOIN embeddings e ON e.vec_id = d.doc_id
    WHERE d.doc_id NOT IN (SELECT vec_id FROM dropped)
    ORDER BY d.doc_id
"""


@query("dedup_embedding_cosine", _EMB_DEDUP_ORACLE)
def dedup_embedding_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup over documents (the semantic-dedup leg
    of the C40/C41 family): a document is dropped when a same-label
    document with a smaller doc_id has cosine >= 0.3 against it —
    the deterministic smallest-id-keeper rule, one hop (no transitive
    closure: a doc is judged against ALL smaller-id neighbors, dropped
    or not, so the result is order- and partitioning-independent).

    Scale design: `label` is the blocking key, so the pairwise cosine
    join is equi-partitioned per label group, never all-pairs. At corpus
    scale the same plan runs with the IVF cell assignment from
    `_ivf_index_for` (llm_similarity.py) as the blocking key — coarse
    cells bound each group exactly like `label` does here."""
    from ..functions.vectors import norm, pair_cosine

    e = table(spark, sf_dir, "embeddings")
    # Precompute each row's norm BEFORE the self-join: the norm is a
    # per-row quantity, so computing it inside the pairwise filter would
    # traverse both arrays 2 extra times per PAIR (|block|× more work than
    # per ROW). Same expression → bit-identical cosine, 3× less per-pair
    # array traversal.
    ev = e.select("vec_id", "label", "embedding", norm(F.col("embedding")).alias("nrm"))
    # spread the probe side: broadcast pair-generation otherwise keeps
    # every pairwise cosine in the single scan partition
    a = ev.repartition(shuffle_partitions(spark), "vec_id").alias("a")
    b = ev.alias("b")
    pair_cos = pair_cosine(
        F.col("a.embedding"),
        F.col("b.embedding"),
        F.col("a.nrm"),
        F.col("b.nrm"),
    )
    dropped = (
        a.join(
            b,
            (F.col("a.label") == F.col("b.label"))
            & (F.col("a.vec_id") < F.col("b.vec_id")),
        )
        .filter(pair_cos >= 0.3)
        .select(F.col("b.vec_id").alias("vec_id"))
        .distinct()
    )
    survivors = e.join(dropped, "vec_id", "left_anti")
    d = table(spark, sf_dir, "documents")
    return (
        d.join(survivors, d["doc_id"] == survivors["vec_id"])
        .select("doc_id", "lang", "label")
        .orderBy("doc_id")
    )


# DuckDB twin of the IVF cell assignment (llm_similarity._ivf_index_for):
# seeds = the IVF_CLUSTERS lowest-vec_id vectors (cell number = seed rank),
# cell = argmax cosine against the seeds, first-max tie-break — exactly the
# pandas-UDF quantizer, so the oracle re-derives the same partition keys
# the persisted index stores.
_EMB_DEDUP_IVF_ORACLE = """
    WITH seeds AS (
      SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INTEGER) AS cell,
             list_transform(embedding, x -> CAST(x AS DOUBLE)) AS sv
      FROM (SELECT vec_id, embedding FROM embeddings ORDER BY vec_id LIMIT {k})
    ),
    assign AS (
      SELECT e.vec_id, e.embedding,
             (SELECT s.cell FROM seeds s
              ORDER BY list_cosine_similarity(
                         list_transform(e.embedding, x -> CAST(x AS DOUBLE)),
                         s.sv) DESC, s.cell
              LIMIT 1) AS cell
      FROM embeddings e
    ),
    dropped AS (
      SELECT DISTINCT b.vec_id
      FROM assign a JOIN assign b
        ON a.cell = b.cell AND a.vec_id < b.vec_id
      WHERE list_cosine_similarity(
              list_transform(a.embedding, x -> CAST(x AS DOUBLE)),
              list_transform(b.embedding, x -> CAST(x AS DOUBLE))) >= 0.3
    )
    SELECT d.doc_id, d.lang, s.cell
    FROM documents d JOIN assign s ON s.vec_id = d.doc_id
    WHERE d.doc_id NOT IN (SELECT vec_id FROM dropped)
    ORDER BY d.doc_id
"""


def _emb_dedup_ivf_oracle() -> str:
    from .llm_similarity import IVF_CLUSTERS

    return _EMB_DEDUP_IVF_ORACLE.replace("{k}", str(IVF_CLUSTERS))


@query("dedup_embedding_cosine_ivf", _emb_dedup_ivf_oracle())
def dedup_embedding_cosine_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semantic dedup blocked by IVF CELL — the corpus-scale variant of
    `dedup_embedding_cosine` (same drop rule: a doc dies when a
    smaller-vec_id doc in the SAME cell has cosine >= 0.3 against it).

    This is the blocking key that survives 100 TB: `label` is a fixture
    convenience, but the IVF coarse quantizer exists for ANY embedding
    corpus, its cell count is a tuning knob (so block sizes are bounded
    by design), and the pairwise join reads the PERSISTED cell-partitioned
    index from `_ivf_index_for` — `cell` is a partition directory, not a
    data column, so the self-join is equi-partitioned on a key the layout
    already materializes (and an incremental dedup of a new batch would
    partition-prune to the cells the batch actually touches)."""
    from .llm_similarity import _ivf_index_for
    from ..functions.vectors import norm, pair_cosine

    idx = spark.read.parquet(_ivf_index_for(spark, sf_dir))
    ev = idx.select(
        "vec_id",
        F.col("cell").cast("int").alias("cell"),
        "embedding",
        norm(F.col("embedding")).alias("nrm"),
    )
    a = ev.alias("a")
    b = ev.alias("b")
    pair_cos = pair_cosine(
        F.col("a.embedding"),
        F.col("b.embedding"),
        F.col("a.nrm"),
        F.col("b.nrm"),
    )
    dropped = (
        a.join(
            b,
            (F.col("a.cell") == F.col("b.cell"))
            & (F.col("a.vec_id") < F.col("b.vec_id")),
        )
        .filter(pair_cos >= 0.3)
        .select(F.col("b.vec_id").alias("vec_id"))
        .distinct()
    )
    survivors = ev.select("vec_id", "cell").join(dropped, "vec_id", "left_anti")
    d = table(spark, sf_dir, "documents")
    return (
        d.join(survivors, d["doc_id"] == survivors["vec_id"])
        .select("doc_id", "lang", "cell")
        .orderBy("doc_id")
    )


# Incremental variant: new-batch rows (vec_id % 10 = 7 stands in for "the
# day's arrivals") dedup against the ALREADY-INDEXED corpus. Same seeds/
# assign derivation as the full IVF oracle; only the join shape differs.
_EMB_DEDUP_INCR_ORACLE = """
    WITH seeds AS (
      SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INTEGER) AS cell,
             list_transform(embedding, x -> CAST(x AS DOUBLE)) AS sv
      FROM (SELECT vec_id, embedding FROM embeddings ORDER BY vec_id LIMIT {k})
    ),
    assign AS (
      SELECT e.vec_id, e.embedding,
             (SELECT s.cell FROM seeds s
              ORDER BY list_cosine_similarity(
                         list_transform(e.embedding, x -> CAST(x AS DOUBLE)),
                         s.sv) DESC, s.cell
              LIMIT 1) AS cell
      FROM embeddings e
    ),
    batch AS (SELECT * FROM assign WHERE vec_id % 10 = 7),
    corpus AS (SELECT * FROM assign WHERE vec_id % 10 <> 7),
    dropped AS (
      SELECT DISTINCT b.vec_id
      FROM corpus c JOIN batch b ON c.cell = b.cell
      WHERE list_cosine_similarity(
              list_transform(c.embedding, x -> CAST(x AS DOUBLE)),
              list_transform(b.embedding, x -> CAST(x AS DOUBLE))) >= 0.3
    )
    SELECT d.doc_id, d.lang, b.cell
    FROM documents d JOIN batch b ON b.vec_id = d.doc_id
    WHERE d.doc_id NOT IN (SELECT vec_id FROM dropped)
    ORDER BY d.doc_id
"""


def _emb_dedup_incr_oracle() -> str:
    from .llm_similarity import IVF_CLUSTERS

    return _EMB_DEDUP_INCR_ORACLE.replace("{k}", str(IVF_CLUSTERS))


@query("dedup_incremental_batch", _emb_dedup_incr_oracle())
def dedup_incremental_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental semantic dedup: a NEW BATCH of documents (vec_id % 10
    = 7 models the day's arrivals) dedups against the already-indexed
    corpus — the steady-state shape of a production pipeline, where the
    full-corpus self-join of `dedup_embedding_cosine_ivf` is a one-time
    backfill and every day after runs THIS.

    Scale design, and why it wins at 100 TB: the batch's cell
    assignments are known from the same quantizer that built the index,
    so the corpus side is read with `cell IN (touched cells)` — a
    PARTITION-PRUNED scan of the persisted index (plan-asserted in
    test_plan_quality). A batch that is 0.1% of the corpus touching
    1/10th of the cells reads 10% of the index, not 100%; the corpus
    rows never shuffle (the join broadcasts or equi-partitions on cell,
    a key the directory layout already materializes). The touched-cell
    list is a <=n_clusters-row collect — index metadata, not data."""
    from .llm_similarity import _ivf_index_for
    from ..functions.vectors import norm, pair_cosine

    index_path = _ivf_index_for(spark, sf_dir)
    is_batch = F.col("vec_id") % 10 == 7

    batch = (
        spark.read.parquet(index_path)
        .filter(is_batch)
        .select(
            "vec_id",
            F.col("cell").cast("int").alias("cell"),
            "embedding",
            norm(F.col("embedding")).alias("nrm"),
        )
    )
    # metadata-size collect: at most n_clusters distinct cell ids
    touched = [int(r["cell"]) for r in batch.select("cell").distinct().collect()]
    corpus = (
        spark.read.parquet(index_path)
        .filter(F.col("cell").isin(touched) & ~is_batch)
        .select(
            F.col("vec_id").alias("c_vec_id"),
            F.col("cell").cast("int").alias("c_cell"),
            F.col("embedding").alias("c_embedding"),
            norm(F.col("embedding")).alias("c_nrm"),
        )
    )
    pair_cos = pair_cosine(
        F.col("c_embedding"),
        F.col("embedding"),
        F.col("c_nrm"),
        F.col("nrm"),
    )
    dropped = (
        corpus.join(batch, F.col("c_cell") == F.col("cell"))
        .filter(pair_cos >= 0.3)
        .select("vec_id")
        .distinct()
    )
    survivors = batch.select("vec_id", "cell").join(dropped, "vec_id", "left_anti")
    d = table(spark, sf_dir, "documents")
    return (
        d.join(survivors, d["doc_id"] == survivors["vec_id"])
        .select("doc_id", "lang", "cell")
        .orderBy("doc_id")
    )


_JACCARD_ORACLE = """
    WITH toks AS (
      SELECT doc_id, source,
             list_distinct(regexp_split_to_array(lower(trim(text)), '\\s+')) AS words
      FROM documents WHERE doc_id < 100
    )
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           CAST(len(list_intersect(a.words, b.words)) AS DOUBLE) /
           len(list_distinct(list_concat(a.words, b.words))) AS jaccard
    FROM toks a JOIN toks b ON a.doc_id < b.doc_id
    WHERE CAST(len(list_intersect(a.words, b.words)) AS DOUBLE) /
          len(list_distinct(list_concat(a.words, b.words))) >= 0.4
    ORDER BY doc_a, doc_b
"""


@query("ngram_jaccard_pairs", _JACCARD_ORACLE)
def ngram_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact word-set Jaccard over a bounded window of docs — the
    SQL-checkable exact twin of the LSH path (pairs ≥ 0.4)."""
    d = table(spark, sf_dir, "documents").filter(F.col("doc_id") < 100)
    t = d.select("doc_id", F.array_distinct(tokens(F.lower(F.col("text")))).alias("words"))
    a = t.alias("a")
    b = t.alias("b")
    jac = F.size(F.array_intersect(F.col("a.words"), F.col("b.words"))).cast(
        "double"
    ) / F.size(F.array_union(F.col("a.words"), F.col("b.words")))
    return (
        a.join(b, F.col("a.doc_id") < F.col("b.doc_id"))
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            jac.alias("jaccard"),
        )
        .filter(F.col("jaccard") >= 0.4)
        .orderBy("doc_a", "doc_b")
    )


_DECON_MINHASH_ORACLE = r"""
    WITH w AS (
      SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS w
      FROM documents
    ),
    sh AS (
      SELECT doc_id, list_distinct(list_transform(generate_series(1, greatest(len(w)-2, 0)),
               i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS s
      FROM w
    ),
    inv AS (SELECT doc_id, unnest(s) AS g FROM sh),
    pairs AS (
      SELECT c.doc_id AS corpus_doc, b.doc_id AS bench_doc, COUNT(*) AS inter
      FROM inv c JOIN inv b ON c.g = b.g
      WHERE c.doc_id % 17 <> 0 AND b.doc_id % 17 = 0
      GROUP BY 1, 2
    ),
    sizes AS (SELECT doc_id, len(s) AS n FROM sh)
    SELECT p.corpus_doc, p.bench_doc,
           CAST(p.inter AS DOUBLE) / (sc.n + sb.n - p.inter) AS jaccard
    FROM pairs p JOIN sizes sc ON sc.doc_id = p.corpus_doc
                 JOIN sizes sb ON sb.doc_id = p.bench_doc
    WHERE CAST(p.inter AS DOUBLE) / (sc.n + sb.n - p.inter) >= 0.5
    ORDER BY corpus_doc, bench_doc
"""


@query("decontaminate_minhash", _DECON_MINHASH_ORACLE)
def decontaminate_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-corpus near-dup decontamination: training documents whose
    shingle Jaccard vs any benchmark document is ≥ 0.5, found via the
    SAME MinHash band buckets as the self-join dedup but joined ACROSS
    the corpus/benchmark split (benchmark = doc_id % 17 == 0 here; in
    production the held-out eval set).

    This is the document-level complement of `contamination_ngram_overlap`
    (which screens on raw n-gram hits): near-duplicate eval documents that
    share no long verbatim n-gram still collide in MinHash band space.

    Scale shape: the corpus side never self-joins — its band buckets
    probe the BENCHMARK bucket set, which is broadcast (eval suites are
    MBs against a 100 TB corpus), so no corpus-scale shuffle happens at
    all for the candidate step; the exact-Jaccard verify then touches
    only candidate pairs. Oracle equivalence rests on the same banded
    recall argument as `dedup_minhash_lsh`: fixture near-dups sit at
    J ≥ 0.9 where 8×4 LSH recall is 1."""
    d = table(spark, sf_dir, "documents")
    buckets = lsh_band_buckets(d)
    bench_ids = F.col("doc_id") % 17 == 0
    corpus_b = buckets.filter(~bench_ids)
    bench_b = buckets.filter(bench_ids)
    cand = (
        corpus_b.alias("c")
        .join(
            F.broadcast(bench_b.alias("b")),
            (F.col("c.band_idx") == F.col("b.band_idx"))
            & (F.col("c.band_hash") == F.col("b.band_hash")),
        )
        .select(
            F.col("c.doc_id").alias("corpus_doc"), F.col("b.doc_id").alias("bench_doc")
        )
        .distinct()
    )
    sh = d.select(
        "doc_id", F.array_distinct(shingles(F.lower(F.col("text")))).alias("sh")
    )
    scored = (
        cand.join(
            sh.select(F.col("doc_id").alias("corpus_doc"), F.col("sh").alias("sh_c")),
            "corpus_doc",
        )
        .join(
            F.broadcast(
                sh.filter(bench_ids).select(
                    F.col("doc_id").alias("bench_doc"), F.col("sh").alias("sh_b")
                )
            ),
            "bench_doc",
        )
        .select(
            "corpus_doc",
            "bench_doc",
            (
                F.size(F.array_intersect("sh_c", "sh_b")).cast("double")
                / F.size(F.array_union("sh_c", "sh_b"))
            ).alias("jaccard"),
        )
    )
    return scored.filter(F.col("jaccard") >= 0.5).orderBy("corpus_doc", "bench_doc")


_CC_ORACLE = """
    WITH RECURSIVE edges AS (
      SELECT a.vec_id AS ea, b.vec_id AS eb
      FROM embeddings a JOIN embeddings b
        ON a.label = b.label AND a.vec_id < b.vec_id
      WHERE list_cosine_similarity(
              list_transform(a.embedding, x -> CAST(x AS DOUBLE)),
              list_transform(b.embedding, x -> CAST(x AS DOUBLE))) >= 0.3
    ), sym AS (
      SELECT ea AS a, eb AS b FROM edges UNION ALL SELECT eb, ea FROM edges
    ), reach(src, node) AS (
      SELECT vec_id, vec_id FROM embeddings
      UNION
      SELECT r.src, s.b FROM reach r JOIN sym s ON r.node = s.a
    )
    SELECT src AS doc_id, MIN(node) AS cluster_id
    FROM reach GROUP BY src ORDER BY doc_id
"""


@query("dedup_clusters_cc", _CC_ORACLE)
def dedup_clusters_cc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Transitive dedup-cluster closure: connected components over the
    near-dup graph (same-label cosine >= 0.3 edges), each document
    labeled with the smallest doc_id reachable from it — the cluster
    id a corpus dedup keeps one representative per. Complements the
    one-hop keeper rule of `dedup_embedding_cosine`, which cannot see
    chains a~b~c where a!~c.

    Iterative min-label propagation: each round every node takes the
    min of its own label and its neighbors' labels (one equi-join +
    one groupBy-min per round, both on node id — the same partitioning
    every round). Labels only decrease, so the label SUM is a
    convergence witness: one scalar per round, no row-wise diff join.
    Rounds needed = graph diameter; lineage is truncated per round
    with localCheckpoint (a cluster deployment would use a durable
    checkpoint dir). Production-scale corpora with long chains would
    swap the per-round rule for large-star/small-star contraction
    (O(log n) rounds, same per-round plan shape); the fixed point —
    and this oracle — is identical.

    Oracle: exact transitive closure via a DuckDB recursive CTE."""
    from ..functions.vectors import norm, pair_cosine

    e = table(spark, sf_dir, "embeddings").withColumn(
        "nrm", norm(F.col("embedding"))
    )
    a = e.repartition(shuffle_partitions(spark), "vec_id").alias("a")
    b = e.alias("b")
    # row-carried norms: bit-identical to cosine(), computed once per
    # row instead of once per pair (see cosine_pairs_threshold)
    pair_cos = pair_cosine(
        F.col("a.embedding"),
        F.col("b.embedding"),
        F.col("a.nrm"),
        F.col("b.nrm"),
    )
    edges = (
        a.join(
            b,
            (F.col("a.label") == F.col("b.label"))
            & (F.col("a.vec_id") < F.col("b.vec_id")),
        )
        .filter(pair_cos >= 0.3)
        .select(F.col("a.vec_id").alias("u"), F.col("b.vec_id").alias("v"))
    )
    nodes = e.select(F.col("vec_id").alias("node"))
    return connected_components(nodes, edges).select(
        F.col("node").alias("doc_id"), F.col("lbl").alias("cluster_id")
    ).orderBy("doc_id")


def connected_components(
    nodes: DataFrame, edges: DataFrame, max_rounds: int = 20
) -> DataFrame:
    """Min-label propagation to a fixed point: returns (node, lbl) where
    lbl is the smallest node id in the node's connected component.
    `nodes` has a `node` column; `edges` has (u, v), undirected (one
    direction suffices). See `dedup_clusters_cc` for the scale notes;
    property-tested against a pure-Python union-find on random graphs."""
    sym = edges.union(
        edges.select(F.col("v").alias("u"), F.col("u").alias("v"))
    ).localCheckpoint()  # edge list is reused every round: compute once

    lbl = nodes.select("node", F.col("node").alias("lbl"))
    prev_sum = None
    for _ in range(max_rounds):
        nbr_min = (
            sym.join(lbl, sym["v"] == lbl["node"])
            .groupBy("u")
            .agg(F.min("lbl").alias("nbl"))
        )
        lbl = (
            lbl.join(nbr_min, lbl["node"] == nbr_min["u"], "left")
            .select(
                "node",
                F.least(F.col("lbl"), F.coalesce(F.col("nbl"), F.col("lbl"))).alias(
                    "lbl"
                ),
            )
            .localCheckpoint()
        )
        cur_sum = lbl.agg(F.sum("lbl")).first()[0]
        if cur_sum == prev_sum:
            break
        prev_sum = cur_sum
    return lbl


@query(
    "edit_distance_topk",
    """
    SELECT doc_a, doc_b, dist, rel_dist FROM (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
             levenshtein(a.text, b.text) AS dist,
             ROUND(CAST(levenshtein(a.text, b.text) AS DOUBLE)
                   / greatest(length(a.text), length(b.text)), 9) AS rel_dist,
             ROW_NUMBER() OVER (
               ORDER BY ROUND(CAST(levenshtein(a.text, b.text) AS DOUBLE)
                        / greatest(length(a.text), length(b.text)), 9),
                        a.doc_id, b.doc_id) AS rnk
      FROM documents a JOIN documents b
        ON a.source = b.source AND a.doc_id < b.doc_id
      WHERE a.doc_id < 200 AND b.doc_id < 200) t
    WHERE rnk <= 10 ORDER BY rel_dist, doc_a, doc_b
    """,
)
def edit_distance_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Edit-distance similarity (ClickHouse `editDistance` parity): the
    10 closest same-source pairs by relative Levenshtein distance over a
    bounded window. Levenshtein is O(len²) per pair — the honest
    auditor for character-level near-dup, usable only behind blocking
    (source here; LSH buckets at corpus scale), never all-pairs. Top-k
    via TakeOrderedAndProject, ties broken by ids; the rounded relative
    distance is both the sort key and the output, so both engines pick
    the identical pair set."""
    d = table(spark, sf_dir, "documents").filter(F.col("doc_id") < 200)
    a = d.alias("a")
    b = d.alias("b")
    dist = F.levenshtein(F.col("a.text"), F.col("b.text"))
    rel = F.round(
        dist.cast("double")
        / F.greatest(F.length("a.text"), F.length("b.text")),
        9,
    )
    return (
        a.join(
            b,
            (F.col("a.source") == F.col("b.source"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            dist.alias("dist"),
            rel.alias("rel_dist"),
        )
        .orderBy("rel_dist", "doc_a", "doc_b")
        .limit(10)
    )


_KEEP_BEST_ORACLE = """
    WITH RECURSIVE edges AS (
      SELECT a.vec_id AS ea, b.vec_id AS eb
      FROM embeddings a JOIN embeddings b
        ON a.label = b.label AND a.vec_id < b.vec_id
      WHERE list_cosine_similarity(
              list_transform(a.embedding, x -> CAST(x AS DOUBLE)),
              list_transform(b.embedding, x -> CAST(x AS DOUBLE))) >= 0.3
    ), sym AS (
      SELECT ea AS a, eb AS b FROM edges UNION ALL SELECT eb, ea FROM edges
    ), reach(src, node) AS (
      SELECT vec_id, vec_id FROM embeddings
      UNION
      SELECT r.src, s.b FROM reach r JOIN sym s ON r.node = s.a
    ), clusters AS (
      SELECT src AS doc_id, MIN(node) AS cluster_id FROM reach GROUP BY src
    ), ranked AS (
      SELECT c.cluster_id, c.doc_id, d.n_chars,
             ROW_NUMBER() OVER (PARTITION BY c.cluster_id
                                ORDER BY d.n_chars DESC, c.doc_id) AS rnk,
             COUNT(*) OVER (PARTITION BY c.cluster_id) AS n_members
      FROM clusters c JOIN documents d ON d.doc_id = c.doc_id
    )
    SELECT cluster_id,
           doc_id AS kept_doc_id,
           CAST(n_members AS BIGINT) AS n_members,
           CAST(n_chars AS BIGINT) AS kept_n_chars
    FROM ranked WHERE rnk = 1 AND n_members >= 2
    ORDER BY cluster_id
"""


@query("dedup_keep_best", _KEEP_BEST_ORACLE)
def dedup_keep_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Canonical-representative SELECTION POLICY over the transitive
    near-dup clusters: keep the LONGEST member (n_chars, tie-break
    smallest id) of every multi-member cluster — the curation rule most
    corpus pipelines actually want (the longest duplicate usually
    carries the superset of content), where `dedup_clusters_cc` and the
    pairwise dedup ops demonstrate the min-id keeper. The policy is a
    pluggable ranked window over the cluster labels; swapping in a
    quality-classifier score is the same one-line ORDER BY change.

    Scale: adds ONE join (clusters x documents on id) and one
    cluster-partitioned window on top of the CC labels — both on keys
    the CC output already carries; no new corpus-wide shuffle class."""
    from pyspark.sql import Window as W

    clusters = dedup_clusters_cc(spark, sf_dir)
    d = table(spark, sf_dir, "documents").select("doc_id", "n_chars")
    w = W.partitionBy("cluster_id").orderBy(
        F.col("n_chars").desc(), F.col("doc_id")
    )
    ranked = (
        clusters.join(d, "doc_id")
        .withColumn("rnk", F.row_number().over(w))
        .withColumn(
            "n_members", F.count(F.lit(1)).over(W.partitionBy("cluster_id"))
        )
    )
    return (
        ranked.filter((F.col("rnk") == 1) & (F.col("n_members") >= 2))
        .select(
            "cluster_id",
            F.col("doc_id").alias("kept_doc_id"),
            F.col("n_members").cast("bigint").alias("n_members"),
            F.col("n_chars").cast("bigint").alias("kept_n_chars"),
        )
        .orderBy("cluster_id")
    )


# SemDeDup-style semantic pruning (Abbas et al. 2023, arXiv:2303.09540):
# within each IVF cell, members of a near-duplicate pair (cosine >= tau)
# are pruned by PROTOTYPICALITY — the member closer to the cell centroid
# dies, the farther (more informative) one survives. This inverts the
# min-id keeper of `dedup_embedding_cosine_ivf`: the id rule keeps an
# arbitrary representative; SemDeDup keeps the outlier, which the paper
# measured as the better training-data curation rule.
_SEMDEDUP_ORACLE = """
    WITH seeds AS (
      SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INTEGER) AS cell,
             list_transform(embedding, x -> CAST(x AS DOUBLE)) AS sv
      FROM (SELECT vec_id, embedding FROM embeddings ORDER BY vec_id LIMIT {k})
    ),
    assign AS (
      SELECT e.vec_id, e.embedding,
             (SELECT s.cell FROM seeds s
              ORDER BY list_cosine_similarity(
                         list_transform(e.embedding, x -> CAST(x AS DOUBLE)),
                         s.sv) DESC, s.cell
              LIMIT 1) AS cell
      FROM embeddings e
    ),
    scored AS (
      SELECT a.vec_id, a.cell, a.embedding,
             list_cosine_similarity(
               list_transform(a.embedding, x -> CAST(x AS DOUBLE)), s.sv)
               AS centroid_sim
      FROM assign a JOIN seeds s ON s.cell = a.cell
    ),
    dropped AS (
      SELECT DISTINCT CASE
               WHEN a.centroid_sim > b.centroid_sim
                 OR (a.centroid_sim = b.centroid_sim AND a.vec_id > b.vec_id)
               THEN a.vec_id ELSE b.vec_id END AS vec_id
      FROM scored a JOIN scored b
        ON a.cell = b.cell AND a.vec_id < b.vec_id
      WHERE list_cosine_similarity(
              list_transform(a.embedding, x -> CAST(x AS DOUBLE)),
              list_transform(b.embedding, x -> CAST(x AS DOUBLE))) >= 0.3
    )
    SELECT s.vec_id, s.cell,
           ROUND(s.centroid_sim, 9) AS centroid_sim
    FROM scored s
    WHERE s.vec_id NOT IN (SELECT vec_id FROM dropped)
    ORDER BY s.vec_id
"""


def _semdedup_oracle() -> str:
    from .llm_similarity import IVF_CLUSTERS

    return _SEMDEDUP_ORACLE.replace("{k}", str(IVF_CLUSTERS))


@query("dedup_semantic_prune", _semdedup_oracle())
def dedup_semantic_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup over the persisted IVF index: within each cell, for
    every near-duplicate pair (cosine >= 0.3) the member MORE similar to
    the cell centroid is pruned (tie-break: larger vec_id dies) — keep
    the informative outlier, drop the prototypical duplicate
    (arXiv:2303.09540's curation rule; `dedup_embedding_cosine_ivf`
    keeps min-id instead).

    Scale posture: identical to the other cell-blocked ops — the
    pairwise join is equi-partitioned on the persisted `cell` partition
    directory; centroid similarity adds one broadcast join against the
    K-row seed set; pair count is bounded by sum of squared cell sizes
    (cluster-count knob). No corpus-scale all-pairs anywhere. Each row
    carries its precomputed norm into the pair join so the per-pair
    cosine is dot/(nrm_a*nrm_b) — recomputing both norms inside every
    pair would redo each vector's norm ~|cell| times (measured 4x on
    this op before the factoring)."""
    from pyspark.sql import Window as W

    from ..functions.vectors import cosine, norm, pair_cosine
    from .llm_similarity import IVF_CLUSTERS, _ivf_index_for

    e = table(spark, sf_dir, "embeddings")
    seeds = (
        e.orderBy("vec_id")
        .limit(IVF_CLUSTERS)
        .select(
            (F.row_number().over(W.orderBy("vec_id")) - 1).alias("s_cell"),
            F.col("embedding").alias("sv"),
        )
    )
    idx = spark.read.parquet(_ivf_index_for(spark, sf_dir))
    scored = (
        idx.select("vec_id", F.col("cell").cast("int").alias("cell"), "embedding")
        .join(F.broadcast(seeds), F.col("cell") == F.col("s_cell"))
        .select(
            "vec_id",
            "cell",
            "embedding",
            norm(F.col("embedding")).alias("nrm"),
            cosine(F.col("embedding"), F.col("sv")).alias("centroid_sim"),
        )
    )
    # spread the probe side (r16 optimization — the exact pattern and
    # rationale of dedup_embedding_cosine's repartition): the persisted
    # index scan yields few input splits, and the broadcast pair
    # generation then evaluates EVERY per-pair cosine fold inside those
    # few tasks — measured 2.4 s -> 0.7 s for the pair stage at sf0.1
    # once the probe side is hash-spread across the session's shuffle
    # width. Explicit count so AQE can't coalesce it back (see
    # session.shuffle_partitions).
    a = scored.repartition(shuffle_partitions(spark), "vec_id").alias("a")
    b = scored.alias("b")
    pair_cos = pair_cosine(
        F.col("a.embedding"),
        F.col("b.embedding"),
        F.col("a.nrm"),
        F.col("b.nrm"),
    )
    loser = F.when(
        (F.col("a.centroid_sim") > F.col("b.centroid_sim"))
        | (
            (F.col("a.centroid_sim") == F.col("b.centroid_sim"))
            & (F.col("a.vec_id") > F.col("b.vec_id"))
        ),
        F.col("a.vec_id"),
    ).otherwise(F.col("b.vec_id"))
    dropped = (
        a.join(
            b,
            (F.col("a.cell") == F.col("b.cell"))
            & (F.col("a.vec_id") < F.col("b.vec_id")),
        )
        .filter(pair_cos >= 0.3)
        .select(loser.alias("vec_id"))
        .distinct()
    )
    return (
        scored.join(dropped, "vec_id", "left_anti")
        .select("vec_id", "cell", F.round("centroid_sim", 9).alias("centroid_sim"))
        .orderBy("vec_id")
    )


# Exact repeated-substring detection (the bounded-window form of Lee et
# al. 2022, "Deduplicating Training Data Makes Language Models Better",
# arXiv:2107.06499): the paper's suffix-array pass finds substrings
# duplicated across the corpus; the distributable equivalent is a
# sliding W-token window — every duplicated substring of >= W tokens
# contains a duplicated W-window, so W-window matches are exactly the
# detector for >=W-token repeats (with W-granular boundaries).
_REPEAT_W = 8

_REPEATED_SUBSTRING_ORACLE = r"""
    WITH toks AS (
      SELECT doc_id, string_split_regex(trim(lower(text)), '\s+') AS tk
      FROM documents),
    spans AS (
      SELECT doc_id, md5(array_to_string(list_slice(tk, i, i + 7), ' ')) AS h
      FROM toks, unnest(range(1, len(tk) - 6)) AS u(i)
      WHERE len(tk) >= 8),
    dup AS (
      SELECT h FROM spans GROUP BY h HAVING COUNT(DISTINCT doc_id) > 1),
    per_doc AS (
      SELECT s.doc_id,
             COUNT(*) AS n_spans,
             COUNT(dup.h) AS n_dup_spans
      FROM spans s LEFT JOIN dup ON s.h = dup.h
      GROUP BY s.doc_id)
    SELECT d.doc_id,
           COALESCE(p.n_spans, 0) AS n_spans,
           COALESCE(p.n_dup_spans, 0) AS n_dup_spans,
           ROUND(CAST(p.n_dup_spans AS DOUBLE) / p.n_spans, 9) AS dup_ratio
    FROM documents d LEFT JOIN per_doc p ON d.doc_id = p.doc_id
    ORDER BY d.doc_id
"""


@query("dedup_repeated_substring", _REPEATED_SUBSTRING_ORACLE)
def dedup_repeated_substring(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-document repeated-substring profile: every 8-token sliding
    window is hashed; a window is a repeat if its text occurs in at
    least one OTHER document. Per document: span count, repeated-span
    count (by position, so intra-doc re-occurrences of a shared span
    all count), and the repeat-coverage ratio — the score corpus
    curation thresholds on before clipping or dropping boilerplate.

    All span machinery is JVM-side (split / transform / slice /
    xxhash64 — no Python in the hot path); window generation is a
    per-row transform over `sequence`, guarded to docs with >= 8
    tokens so `sequence` never sees a negative length.

    Scale posture: the span table is ~W x token-count rows but only two
    narrow columns (8-byte hash, doc_id), and the repeat flag and
    per-doc rollup shuffle on the span-hash / doc_id keys with map-side
    partial aggregation. r17: the span key IS xxhash64 over the W-token
    slice — the hashes never reach the output (only the per-doc counts
    do; the oracle derives its own hashes independently in DuckDB and
    compares counts), so the md5(array_join(...)) hex-string spelling
    bought nothing but a 4x wider window key and a string build per
    span. The W-window trade (vs the paper's suffix array) is what
    makes the pass embarrassingly parallel."""
    d = table(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id", F.split(F.trim(F.lower(F.col("text"))), r"\s+").alias("tk")
    )
    w = _REPEAT_W
    spans = (
        toks.filter(F.size("tk") >= w)
        .select(
            "doc_id",
            F.explode(
                F.transform(
                    F.sequence(F.lit(1), F.size("tk") - (w - 1)),
                    lambda i: F.xxhash64(F.slice("tk", i, w)),
                )
            ).alias("h"),
        )
    )
    # ONE pass over the span table (r16 optimization, guide §2.4): a
    # span occurrence is a repeat iff its hash occurs in >1 distinct
    # document, i.e. min(doc_id) != max(doc_id) over the hash — an
    # unordered window on the SAME key the old count_distinct aggregate
    # and count-back join used. The old shape built the exploded span
    # subtree twice (agg side + probe side; different exchange keys, so
    # ReuseExchange couldn't fold them) and shuffled it four times
    # (count_distinct expands to a two-exchange distinct rewrite, plus
    # the join and the per-doc rollup); this is one span build and two
    # exchanges (h window, doc_id rollup).
    #
    # Skew posture (r17, ADVICE r16): the min/max AGGREGATE state is two
    # bigints, but WindowExec itself buffers every row of a hash bucket
    # in one task's (spillable) row array before emitting — a
    # pathologically hot span (one boilerplate string duplicated across
    # millions of documents) concentrates its whole bucket in a single
    # task, where the old partial-aggregatable count_distinct shape
    # degraded more gracefully. The rows are narrow (8-byte hash +
    # doc_id) and the buffer spills, so this is a straggler risk, not an
    # OOM; the at-scale mitigation — pre-aggregating spans to
    # (h, doc_id, occurrence_count) before the window, or capping
    # occurrences per hash like MAX_LSH_BUCKET does for band buckets —
    # costs an extra exchange (or changes the declared counts), so it is
    # documented here rather than applied: this operator's contract
    # counts EVERY span occurrence, and the fixtures' hottest hash holds
    # well under one task's buffer.
    from pyspark.sql import Window as W

    wh = W.partitionBy("h")
    per_doc = (
        spans.withColumn(
            "is_dup",
            F.min("doc_id").over(wh) != F.max("doc_id").over(wh),
        )
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_spans"),
            F.sum(F.col("is_dup").cast("long")).alias("n_dup_spans"),
        )
    )
    return (
        d.select("doc_id")
        .join(per_doc, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce(F.col("n_spans"), F.lit(0)).cast("bigint").alias("n_spans"),
            F.coalesce(F.col("n_dup_spans"), F.lit(0))
            .cast("bigint")
            .alias("n_dup_spans"),
            F.round(
                F.col("n_dup_spans").cast("double") / F.col("n_spans"), 9
            ).alias("dup_ratio"),
        )
        .orderBy("doc_id")
    )
