"""Similarity search over the `embeddings` table (SURVEY.md C42–C43 +
training-pipeline ANN): exact top-k cosine (oracle-checked baseline),
threshold similarity join, and LSH-bucketed ANN as the scale path.

Scale design:
- exact top-k against ONE query vector is a map + TakeOrderedAndProject:
  no shuffle of the embedding column, k-sized result — fine at any scale;
- the exact *pairwise* join is restricted to an equi-key (label) so the
  quadratic blowup is per-group, not global;
- the ANN path buckets by random hyperplane signs (deterministic seed
  hashes, no ml-lib randomness), joins bucket-local, then re-ranks
  exactly — the standard LSH recipe, all in DataFrame ops.
"""

from __future__ import annotations

import pandas as pd

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..registry import query
from ..session import shuffle_partitions
from ..tables import derived_dir, memo, table
from ..functions.vectors import cosine, norm, pair_cosine

TOP_K = 10
QUERY_VEC_ID = 0


_COSINE_TOPK_ORACLE = f"""
    WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = {QUERY_VEC_ID})
    SELECT e.vec_id, e.label,
           list_cosine_similarity(
             list_transform(e.embedding, x -> CAST(x AS DOUBLE)),
             list_transform(q.qv, x -> CAST(x AS DOUBLE))) AS sim
    FROM embeddings e CROSS JOIN q
    WHERE e.vec_id <> {QUERY_VEC_ID}
    ORDER BY sim DESC, e.vec_id LIMIT {TOP_K}
"""


@query("cosine_topk_exact", _COSINE_TOPK_ORACLE)
def cosine_topk_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-k: the correctness baseline for ANN (C42)."""
    e = table(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") == QUERY_VEC_ID).select(
        F.col("embedding").alias("qv")
    )
    return (
        e.filter(F.col("vec_id") != QUERY_VEC_ID)
        .crossJoin(F.broadcast(q))
        .select(
            "vec_id",
            "label",
            cosine(F.col("embedding"), F.col("qv")).alias("sim"),
        )
        .orderBy(F.col("sim").desc(), F.col("vec_id"))
        .limit(TOP_K)
    )


_PAIR_SIM_ORACLE = """
    SELECT a.vec_id AS id_a, b.vec_id AS id_b, a.label,
           list_cosine_similarity(
             list_transform(a.embedding, x -> CAST(x AS DOUBLE)),
             list_transform(b.embedding, x -> CAST(x AS DOUBLE))) AS sim
    FROM embeddings a JOIN embeddings b
      ON a.label = b.label AND a.vec_id < b.vec_id
    WHERE list_cosine_similarity(
             list_transform(a.embedding, x -> CAST(x AS DOUBLE)),
             list_transform(b.embedding, x -> CAST(x AS DOUBLE))) >= 0.8
    ORDER BY id_a, id_b
"""


@query("cosine_pairs_threshold", _PAIR_SIM_ORACLE)
def cosine_pairs_threshold(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C43: similarity join (same-label pairs with cosine ≥ 0.8). The
    label equi-key keeps the join shuffle-partitioned, not cross.

    Each side carries its precomputed norm into the join so the pair
    cosine is dot/(nrm_a*nrm_b) — bit-identical to cosine() (same two
    norm values, same multiply) but each vector's norm is computed once
    per ROW instead of once per PAIR (~|block| times more)."""
    e = table(spark, sf_dir, "embeddings").withColumn(
        "nrm", norm(F.col("embedding"))
    )
    a = e.alias("a")
    b = e.alias("b")
    sim = pair_cosine(
        F.col("a.embedding"),
        F.col("b.embedding"),
        F.col("a.nrm"),
        F.col("b.nrm"),
    )
    return (
        a.join(
            b,
            (F.col("a.label") == F.col("b.label"))
            & (F.col("a.vec_id") < F.col("b.vec_id")),
        )
        .select(
            F.col("a.vec_id").alias("id_a"),
            F.col("b.vec_id").alias("id_b"),
            F.col("a.label").alias("label"),
            sim.alias("sim"),
        )
        .filter(F.col("sim") >= 0.8)
        .orderBy("id_a", "id_b")
    )


# ---- ANN: banded sign-of-random-hyperplane LSH, deterministic --------------
# L tables × b planes each: a vector lands in one b-bit bucket per table;
# candidates share a bucket in ANY table. A single wide code (the classic
# single-table variant) makes buckets so fine that the query's bucket is
# usually empty — banding trades precision for recall exactly like
# MinHash banding does for Jaccard.
# fixture embeddings are near-isotropic (top-10 cosine ≈ 0.28-0.37, θ≈70°);
# p_match/plane ≈ 0.6, so 5-bit codes give ~0.08/table for neighbors vs
# ~0.03 for random pairs — 10 tables lift neighbor recall to ~0.55 while
# scanning ~25% of the data. Clustered real-world embeddings would take
# more planes per table.
N_TABLES = 16
PLANES_PER_TABLE = 5


EMBED_DIM = 64


def lsh_params_for(n_vectors: int) -> tuple[int, int]:
    """Corpus-size-derived hyperplane-LSH geometry (n_tables,
    planes_per_table) — the scale rule behind the fixture-tuned module
    defaults (same contract as ivf_params_for). Tables stay at N_TABLES
    (the recall knob: union of L independent partitions); planes per
    table grow with log2 of corpus size so per-table bucket occupancy
    stays ~4k and the candidate union stays a few percent of the
    corpus: planes = clamp(round(log2(N / 4000)), PLANES_PER_TABLE,
    20). At the 500-row fixture this evaluates to the registered
    (16, 5) defaults; at 1M vectors it gives (16, 8) — ~3.9k
    vectors/bucket, ~6% of the corpus scanned across 16 tables
    (empirically validated by tests/test_lsh_scale.py)."""
    import math

    planes = PLANES_PER_TABLE
    if n_vectors > 4000:
        planes = max(
            PLANES_PER_TABLE, min(20, round(math.log2(n_vectors / 4000)))
        )
    return N_TABLES, planes


def _planes_matrix(
    dim: int = EMBED_DIM,
    n_tables: int = N_TABLES,
    planes_per_table: int = PLANES_PER_TABLE,
):
    """(dim, n_tables*planes_per_table) matrix of deterministic
    pseudo-random components in [-1, 1]: md5-derived, no RNG state, no
    correlation across planes (an LCG stride here makes every table a
    shift of the same ramp and extra tables add zero recall)."""
    import hashlib

    import numpy as np

    n_planes = n_tables * planes_per_table
    m = np.empty((dim, n_planes), dtype=np.float64)
    for seed in range(n_planes):
        for j in range(dim):
            h = int.from_bytes(
                hashlib.md5(f"plane:{seed}:{j}".encode()).digest()[:8], "big"
            )
            m[j, seed] = (h % 2_000_001) / 1_000_000.0 - 1.0
    return m


def _make_bucket_codes_udf(
    n_tables: int = N_TABLES, planes_per_table: int = PLANES_PER_TABLE
):
    """Vectorized bucket coder: one numpy matmul per Arrow batch projects
    every vector onto all hyperplanes at once. The flat-expression JVM
    form needs n_tables*planes interpreted higher-order dot products per
    row (~6 s at 2000 vectors for the 80-plane default); this is the
    case Pandas UDFs exist for."""
    from pyspark.sql.functions import pandas_udf

    planes = _planes_matrix(
        n_tables=n_tables, planes_per_table=planes_per_table
    )

    @pandas_udf("array<long>")
    def bucket_codes(emb: pd.Series) -> pd.Series:
        import numpy as np

        x = np.stack(emb.to_numpy()).astype(np.float64)  # (batch, dim)
        signs = (x @ planes >= 0).astype(np.int64)  # (batch, n_planes)
        per_table = signs.reshape(len(x), n_tables, planes_per_table)
        weights = 1 << np.arange(planes_per_table, dtype=np.int64)
        codes = (per_table * weights).sum(axis=2)  # (batch, n_tables)
        return pd.Series(list(codes))

    return bucket_codes


@query("ann_lsh_topk")  # approximate → rows-only
def ann_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C42 scale path: banded hyperplane LSH → candidates = union of the
    query's buckets over L tables → exact cosine re-rank of candidates.
    Recall vs the exact baseline is checked in tests."""
    e = table(spark, sf_dir, "embeddings")
    bucket_codes = _make_bucket_codes_udf()
    coded = e.select(
        "vec_id",
        "label",
        "embedding",
        F.posexplode(bucket_codes("embedding")).alias("t", "bucket"),
    )
    q = coded.filter(F.col("vec_id") == QUERY_VEC_ID).select(
        F.col("embedding").alias("qv"), F.col("t").alias("qt"), F.col("bucket").alias("qb")
    )
    cands = (
        coded.join(
            F.broadcast(q), (F.col("t") == F.col("qt")) & (F.col("bucket") == F.col("qb"))
        )
        .filter(F.col("vec_id") != QUERY_VEC_ID)
        .select("vec_id", "label", "embedding", "qv")
        .dropDuplicates(["vec_id"])
    )
    return (
        cands.select("vec_id", "label", cosine(F.col("embedding"), F.col("qv")).alias("sim"))
        .orderBy(F.col("sim").desc(), F.col("vec_id"))
        .limit(TOP_K)
    )


# ---- ANN variant 2: IVF (inverted file) with a PERSISTED index --------------
# Build/probe split: `_ivf_index_for` assigns every vector to a coarse-
# quantizer cell and writes the corpus partitioned BY cell; the query path
# only probes — a cell-filtered read that partition-prunes to the probed
# directories. At 100 TB the build is a one-time (or incremental) job and
# each query touches n_probe/n_cells of the data.
#
# The coarse quantizer is deterministic: the K lowest-vec_id vectors are
# the cell representatives (medoid seeding — drawn from the data
# distribution, so cells track real cluster structure), and a vector's
# cell is argmax cosine against them. No RNG, no iterative fit → the same
# corpus always builds the identical index in any session/layout, which
# is what makes the query below exactly reproducible (and lets the exact
# top-k SQL serve as its oracle: the probed cells provably contain the
# true top-k on this corpus). A k-means refinement of the seeds would
# drop in here as an offline step without changing the probe path.
IVF_CLUSTERS = 16
# 8 probes: the fixture embeddings are near-isotropic (top-10 cosine
# ≈ 0.27-0.37), the hardest case for any space-partitioning index — the
# true top-10 spreads over up to 7 of 16 cells, so 8 probes are needed
# for the probe set to provably cover it (the oracle-exactness bar).
# Clustered real-world embeddings concentrate neighbors in 1-2 cells and
# would run n_probe 2-4 at the same recall.
IVF_PROBES = 8

_IVF_ROOT = "/tmp/cdr_spark/ivf_index"


def ivf_params_for(n_vectors: int, isotropic: bool = False) -> tuple[int, int]:
    """Corpus-size-derived IVF geometry (n_clusters, n_probes) — the
    scale rule behind the fixture-tuned module defaults, so callers at
    other corpus sizes don't inherit local[32] constants.

    n_clusters follows the sqrt rule (FAISS guideline: cells ≈ sqrt(N)
    balances quantizer cost against per-cell scan cost), snapped to a
    power of two and clamped to [IVF_CLUSTERS, 2^18]. n_probes is the
    recall knob: clustered real-world embeddings concentrate neighbors
    in a few cells (probe ~K/16); a near-isotropic corpus — the
    fixture, and the worst case for any space-partitioning index —
    spreads them, so probe half the cells. ivf_params_for(500,
    isotropic=True) == (IVF_CLUSTERS, IVF_PROBES): the registered
    defaults are this rule evaluated at fixture size, not free
    constants (unit-pinned in test_properties.py)."""
    import math

    k = 2 ** round(math.log2(max(math.sqrt(max(n_vectors, 1)), 1)))
    k = max(IVF_CLUSTERS, min(k, 2**18))
    probes = k // 2 if isotropic else max(4, k // 16)
    return k, probes


def _ivf_seed_matrix(e: DataFrame, n_clusters: int = IVF_CLUSTERS):
    """(K, dim) row-normalized seed-vector matrix — index metadata, a
    K-row collect (not a data-path collect)."""
    import numpy as np

    rows = (
        e.orderBy("vec_id").select("embedding").limit(n_clusters).collect()
    )
    C = np.array([r["embedding"] for r in rows], dtype=np.float64)
    return C / np.linalg.norm(C, axis=1, keepdims=True)


def _make_cell_udf(C):
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("int")
    def cell_of(emb: pd.Series) -> pd.Series:
        import numpy as np

        x = np.stack(emb.to_numpy()).astype(np.float64)
        xn = x / np.maximum(np.linalg.norm(x, axis=1, keepdims=True), 1e-12)
        return pd.Series(np.argmax(xn @ C.T, axis=1).astype("int32"))

    return cell_of


def pinned_index_frame(spark: SparkSession, path: str) -> DataFrame:
    """Snapshot-pinned read of a persisted index generation: resolve the
    generation's concrete data FILES once, at pin time, and build the
    frame over exactly that file set (``basePath`` keeps the partition
    column). A concurrent admission appending new files into the same
    cell/bucket directories cannot change this frame's answers — the
    snapshot-isolation analog of the reference's rename swap
    (sharding_recreation.py:306-335) applied to index layout, and the
    read-side contract the per-generation `_KEY` directories exist for
    (VERDICT r8 #6). Partition pruning on the explicit file set is
    unchanged (plan-asserted in test_plan_quality).

    The resolved frame is CACHED per (session, path, file set): Spark
    rebuilds an InMemoryFileIndex — one listing per path plus a footer
    read — on EVERY explicit-file-list ``read.parquet(*files)`` call,
    which cost bm25_index_admit 1.7x in the r9 bench (VERDICT r9 #4).
    A generation's file set is immutable by contract (admissions add
    files, compactions write a NEW generation), so the local glob is
    the only per-call work: unchanged set -> the already-resolved
    frame; changed set -> a fresh pin, preserving snapshot semantics.
    A hit requires the cached frame's session wrapper to BE this
    ``spark`` (identity, not id() — address reuse after spark.stop()
    must never resurface a dead frame); a small LRU bounds the cache."""
    import glob
    import os

    files = sorted(glob.glob(os.path.join(path, "*=*", "*.parquet"))) or sorted(
        glob.glob(os.path.join(path, "*.parquet"))
    )
    if not files:  # empty/unborn layout: defer to the directory read
        return spark.read.parquet(path)
    key = (id(spark), path)
    hit = _PIN_CACHE.get(key)
    if hit is not None and hit[0] is spark and hit[1] == tuple(files):
        _PIN_CACHE.move_to_end(key)  # LRU freshness
        return hit[2]
    df = spark.read.option("basePath", path).parquet(*files)
    _PIN_CACHE[key] = (spark, tuple(files), df)
    _PIN_CACHE.move_to_end(key)
    while len(_PIN_CACHE) > _PIN_CACHE_MAX:
        _PIN_CACHE.popitem(last=False)
    return df


# Latest pinned frame per (session, index path) — one small logical
# plan each. The id(spark) in the KEY keeps two live sessions probing
# the same path from evicting each other (review-2 r10), while the
# session WRAPPER in the value with the `is spark` hit condition keeps
# id() address reuse after spark.stop() from ever resurfacing a dead
# frame (review-1 r10); the LRU cap bounds both the plans and the
# session references a long-lived driver accumulates across
# admit/compact generations.
import collections as _collections

_PIN_CACHE: "_collections.OrderedDict" = _collections.OrderedDict()
_PIN_CACHE_MAX = 64


def _ivf_index_for(
    spark: SparkSession,
    sf_dir: str,
    n_clusters: int = IVF_CLUSTERS,
    generation: str = "seed",
) -> str:
    """Build the index for this corpus once; later queries reuse it.

    A `tables.derived_dir` of embeddings.parquet per cluster count and
    GENERATION: "seed" (medoid-seeded quantizer), "refined" (one-Lloyd-
    step k-means centroids from `refined_centroids`) or "pq" (seed cells
    plus 8-bit PQ codes: the IVF-PQ layout, whose ADC probes read the
    16-byte code column, never the vectors). Every generation writes the
    corpus partitioned by the cell of the very matrix `_ivf_centroids`
    serves the probes, so probe ranking and layout cannot disagree."""
    quantizer = "seed" if generation == "pq" else generation

    def build(path: str) -> None:
        cell_of = _make_cell_udf(_ivf_centroids(spark, sf_dir, n_clusters, quantizer))
        df = table(spark, sf_dir, "embeddings").withColumn("cell", cell_of("embedding"))
        if generation == "pq":
            cb = _pq_codebook(spark, sf_dir, ANN_PQ_K, ANN_PQ_M, ANN_PQ_SUB)
            df = df.withColumn("pq_codes", _make_pq_codes_udf(cb)("embedding"))
        df.write.mode("overwrite").partitionBy("cell").parquet(path)

    spec = f"k={n_clusters}|gen={generation}"
    return derived_dir(_IVF_ROOT, sf_dir, "embeddings.parquet", spec, build)


def rebuild_ivf_index(
    spark: SparkSession, sf_dir: str, n_clusters: int = IVF_CLUSTERS
) -> str:
    """Materialize the REFINED index generation (cells = one-Lloyd-step
    k-means centroids) and return its path — the offline index-
    maintenance job that feeds `refined_centroids` back into the layout
    the probe path reads. Idempotent per (corpus fingerprint, k)."""
    return _ivf_index_for(spark, sf_dir, n_clusters, generation="refined")


@query("ann_ivf_topk", _COSINE_TOPK_ORACLE)
def ann_ivf_topk(
    spark: SparkSession,
    sf_dir: str,
    n_clusters: int = IVF_CLUSTERS,
    n_probes: int = IVF_PROBES,
    generation: str = "seed",
) -> DataFrame:
    """C42 scale path #2: IVF probe against the persisted index — rank
    cells by query-to-centroid cosine (driver-side math on K index
    vectors), read ONLY those cell partitions, exact cosine re-rank
    inside. ``generation`` selects which index layout to probe: "seed"
    (medoid quantizer) or "refined" (k-means centroids via
    `rebuild_ivf_index` — see `ann_ivf_topk_refined`).

    The knobs are arguments (registered query = the defaults): the
    defaults are tuned so the probe set provably covers the exact top-k
    on the fixture corpus (property-tested in
    tests/test_properties.py::test_ivf_registered_knobs_recall_1) —
    callers at other corpus geometries pick their own recall/cost point.

    Oracle: the exact top-k SQL — on this corpus the probed cells
    contain the entire true top-10 (verified deterministic, since both
    the quantizer and the probe ranking are RNG-free), so the
    approximate path must return exactly the exact answer. The recall
    floor at other scales is tested separately."""
    import numpy as np

    e = table(spark, sf_dir, "embeddings")
    index_path = _ivf_index_for(spark, sf_dir, n_clusters, generation)
    idx = pinned_index_frame(spark, index_path)

    C = _ivf_centroids(spark, sf_dir, n_clusters, generation)
    qrow = e.filter(F.col("vec_id") == QUERY_VEC_ID).select("embedding").head()
    qv = np.asarray(qrow["embedding"], dtype=np.float64)
    qn = qv / np.linalg.norm(qv)
    probe = [int(c) for c in np.argsort(-(C @ qn))[:n_probes]]

    qdf = F.broadcast(spark.createDataFrame([(qrow["embedding"],)], "qv array<float>"))
    return (
        idx.filter(F.col("cell").isin(probe) & (F.col("vec_id") != QUERY_VEC_ID))
        .crossJoin(qdf)
        .select("vec_id", "label", cosine(F.col("embedding"), F.col("qv")).alias("sim"))
        .orderBy(F.col("sim").desc(), F.col("vec_id"))
        .limit(TOP_K)
    )


# ---- IVF quantizer refinement: one Lloyd iteration, DataFrame-native ------
# The medoid-seeded quantizer above is deterministic but data-oblivious
# beyond seed choice; this is the promised offline refinement step
# (docstring at IVF_CLUSTERS): recompute each cell's centroid from its
# members, then re-assign. Centroid sums use FIXED-POINT integers
# (floor(v*2^40) per component — exact for float32-origin values at this
# magnitude, and integer addition is order-independent), so both engines
# derive bit-identical centroids regardless of partition/accumulation
# order; only then does the (margin-safe, see
# test_ivf_quantizer_argmax_margin) cosine argmax run on doubles.
_FP40 = 1099511627776.0  # 2^40

_KMEANS_ORACLE = """
    WITH seeds AS (
      SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INTEGER) AS cell,
             list_transform(embedding, x -> CAST(x AS DOUBLE)) AS sv
      FROM (SELECT vec_id, embedding FROM embeddings ORDER BY vec_id LIMIT {k})
    ),
    a0 AS (
      SELECT e.vec_id,
             list_transform(e.embedding, x -> CAST(x AS DOUBLE)) AS v,
             (SELECT s.cell FROM seeds s
              ORDER BY list_cosine_similarity(
                         list_transform(e.embedding, x -> CAST(x AS DOUBLE)),
                         s.sv) DESC, s.cell
              LIMIT 1) AS cell
      FROM embeddings e
    ),
    comp AS (
      SELECT cell, p.pos,
             SUM(CAST(floor(v[p.pos] * {fp}) AS BIGINT)) AS s_fp,
             COUNT(*) AS n
      FROM a0 CROSS JOIN (SELECT unnest(generate_series(1, {dim})) AS pos) p
      GROUP BY cell, p.pos
    ),
    cents AS (
      SELECT cell, list(s_fp / {fp} / n ORDER BY pos) AS cv
      FROM comp GROUP BY cell
    ),
    a1 AS (
      SELECT a0.vec_id,
             (SELECT c.cell FROM cents c
              ORDER BY list_cosine_similarity(a0.v, c.cv) DESC, c.cell
              LIMIT 1) AS cell
      FROM a0
    )
    SELECT cell, COUNT(*) AS n_vectors, MIN(vec_id) AS min_vec_id
    FROM a1 GROUP BY cell ORDER BY cell
"""


def _kmeans_oracle() -> str:
    return (
        _KMEANS_ORACLE.replace("{k}", str(IVF_CLUSTERS))
        .replace("{dim}", str(EMBED_DIM))
        .replace("{fp}", repr(_FP40))
    )


def refined_centroids(
    spark: SparkSession, sf_dir: str, n_clusters: int = IVF_CLUSTERS
):
    """One Lloyd step over the persisted index: (K, dim) refined centroid
    matrix. Per-component sums are exact int64 fixed point computed by a
    groupBy over the posexploded members (map-side combine; the shuffle
    carries at most K*dim partial rows per map partition), and the
    K*dim-row collect is index metadata, not data."""
    import numpy as np

    idx = pinned_index_frame(spark, _ivf_index_for(spark, sf_dir, n_clusters))
    comp = (
        idx.select(
            "cell", F.posexplode(F.col("embedding").cast("array<double>"))
        )
        .select(
            "cell",
            F.col("pos"),
            F.floor(F.col("col") * _FP40).cast("long").alias("v_fp"),
        )
        .groupBy("cell", "pos")
        .agg(F.sum("v_fp").alias("s_fp"), F.count(F.lit(1)).alias("n"))
        .collect()
    )
    C = np.zeros((n_clusters, EMBED_DIM), dtype=np.float64)
    for r in comp:
        C[int(r["cell"]), int(r["pos"])] = r["s_fp"] / _FP40 / r["n"]
    return C


def _ivf_centroids(
    spark: SparkSession,
    sf_dir: str,
    n_clusters: int = IVF_CLUSTERS,
    generation: str = "seed",
):
    """Row-normalized (K, dim) quantizer matrix for a generation — the
    one source of the matrix every index build, admission and probe
    assigns cells with.

    Memoized per corpus fingerprint (`tables.memo`): the matrix is index
    METADATA (K·dim floats) that every probe needs, and without the memo
    each probe call re-ran a Spark collect job for it — measured ~0.3 s
    per query, pure overhead on the hot path."""
    import numpy as np

    def compute():
        if generation == "seed":
            return _ivf_seed_matrix(table(spark, sf_dir, "embeddings"), n_clusters)
        if generation == "refined":
            C1 = refined_centroids(spark, sf_dir, n_clusters)
            return C1 / np.maximum(np.linalg.norm(C1, axis=1, keepdims=True), 1e-12)
        raise ValueError(f"unknown IVF index generation: {generation!r}")

    key = f"centroids|k={n_clusters}|gen={generation}"
    return memo(sf_dir, "embeddings.parquet", key, compute)


@query("ivf_kmeans_cells", _kmeans_oracle())
def ivf_kmeans_cells(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K-means-refined IVF cell histogram: members per cell + min vec_id
    after one Lloyd re-assignment — the offline index-maintenance job
    that upgrades the medoid-seeded quantizer toward real cluster
    structure (better cell balance → tighter ANN probe budgets).

    Scale: the refinement never moves vectors — one scan of the persisted
    index computes exact fixed-point centroid sums via map-side-combined
    groupBy (shuffle rows <= K*dim per map partition), the K*dim collect
    is metadata, and re-assignment is the same one-matmul-per-batch
    pandas UDF the index build uses. An N-iteration refine is this in a
    loop; each iteration costs one corpus scan and no corpus shuffle."""
    cell_of = _make_cell_udf(_ivf_centroids(spark, sf_dir, generation="refined"))
    idx = pinned_index_frame(spark, _ivf_index_for(spark, sf_dir))
    return (
        idx.select("vec_id", cell_of("embedding").alias("cell"))
        .groupBy("cell")
        .agg(
            F.count(F.lit(1)).alias("n_vectors"),
            F.min("vec_id").alias("min_vec_id"),
        )
        .orderBy("cell")
    )


@query("ann_ivf_topk_refined", _COSINE_TOPK_ORACLE)
def ann_ivf_topk_refined(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C42: IVF probe against the REFINED index generation — the k-means
    refinement of `ivf_kmeans_cells` fed back into a `rebuild_ivf_index`
    layout and actually consumed by the probe path (round 5 computed the
    refined centroids but kept probing the medoid-seeded layout; this
    closes that loop). Same probe budget, same oracle-exactness bar as
    `ann_ivf_topk`: the refined cells probed must still contain the
    entire true top-10, which holds because the fixed-point centroid
    derivation is deterministic on both engines (`ivf_kmeans_cells`'s
    oracle proves the assignment) and the probe ranking uses the very
    matrix the index was partitioned by."""
    rebuild_ivf_index(spark, sf_dir)
    return ann_ivf_topk(spark, sf_dir, generation="refined")


@query("embedding_norms", f"""
    SELECT vec_id, label,
           sqrt(list_dot_product(
             list_transform(embedding, x -> CAST(x AS DOUBLE)),
             list_transform(embedding, x -> CAST(x AS DOUBLE)))) AS l2_norm
    FROM embeddings ORDER BY vec_id
""")
def embedding_norms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vector-norm projection — the dot/norm building block, oracle-checked."""
    e = table(spark, sf_dir, "embeddings")
    return e.select("vec_id", "label", norm(F.col("embedding")).alias("l2_norm")).orderBy(
        "vec_id"
    )


_KNN_SIM = """list_cosine_similarity(
             list_transform(a.embedding, x -> CAST(x AS DOUBLE)),
             list_transform(b.embedding, x -> CAST(x AS DOUBLE)))"""

_KNN_ORACLE = f"""
    SELECT vec_id, nn_id, sim, rnk FROM (
      SELECT a.vec_id, b.vec_id AS nn_id, {_KNN_SIM} AS sim,
             ROW_NUMBER() OVER (PARTITION BY a.vec_id
                                ORDER BY {_KNN_SIM} DESC, b.vec_id) AS rnk
      FROM embeddings a JOIN embeddings b
        ON a.label = b.label AND a.vec_id <> b.vec_id) t
    WHERE rnk <= 3 ORDER BY vec_id, rnk
"""


@query("knn_join_label", _KNN_ORACLE)
def knn_join_label(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch k-NN join blocked by a KNOWN label column — the fixture
    demo of the pattern (every vector's top-3 neighbors; the all-rows
    counterpart of single-query top-k). Blocking key = label, so the
    pairwise cosine join stays equi-partitioned per group and the
    rank window re-shuffles only (vec_id, nn_id, sim) triples.

    RENAMED from `knn_join` (VERDICT r6 #4): a label block goes
    quadratic the moment one label dominates, so the unqualified name
    now dispatches to the IVF-cell path — the form that survives
    100 TB. Use this variant only when a trusted low-cardinality
    blocking column already exists."""
    from pyspark.sql import Window as W

    e = table(spark, sf_dir, "embeddings")
    # Broadcast-joined pair generation inherits the probe side's
    # partitioning, so spread the probe side first — otherwise every
    # pairwise cosine lands in the partition(s) of one small scan. The
    # explicit session-derived count (not a local[32] constant, and not
    # a bare repartition(col), which AQE re-coalesces to ~1 partition
    # on a small-bytes probe side — measured 4x) keeps the spread.
    en = e.withColumn("nrm", norm(F.col("embedding")))
    a = en.repartition(shuffle_partitions(spark), "vec_id").alias("a")
    b = en.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.label") == F.col("b.label"))
            & (F.col("a.vec_id") != F.col("b.vec_id")),
        )
        .select(
            F.col("a.vec_id").alias("vec_id"),
            F.col("b.vec_id").alias("nn_id"),
            # row-carried norms: dot/(nrm_a*nrm_b) is bit-identical to
            # cosine() but norms compute once per row, not per pair
            pair_cosine(
        F.col("a.embedding"),
        F.col("b.embedding"),
        F.col("a.nrm"),
        F.col("b.nrm"),
    ).alias("sim"),
        )
    )
    w = W.partitionBy("vec_id").orderBy(F.col("sim").desc(), F.col("nn_id"))
    return (
        pairs.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= 3)
        .orderBy("vec_id", "rnk")
    )


# IVF-cell-blocked pairwise variants: the corpus-scale blocking the
# label-blocked queries' docstrings promise. The oracle re-derives the
# quantizer (seeds = K lowest-vec_id vectors, argmax-cosine assignment,
# first-max tie-break) exactly as `_ivf_index_for` computes it — the
# same cross-engine derivation `dedup_embedding_cosine_ivf` proved out.
_IVF_ASSIGN_CTE = """
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
    )
"""

_KNN_IVF_ORACLE = (
    _IVF_ASSIGN_CTE
    + f"""
    SELECT vec_id, nn_id, sim, rnk FROM (
      SELECT a.vec_id, b.vec_id AS nn_id, {_KNN_SIM} AS sim,
             ROW_NUMBER() OVER (PARTITION BY a.vec_id
                                ORDER BY {_KNN_SIM} DESC, b.vec_id) AS rnk
      FROM assign a JOIN assign b
        ON a.cell = b.cell AND a.vec_id <> b.vec_id) t
    WHERE rnk <= 3 ORDER BY vec_id, rnk
"""
)


def _knn_ivf_oracle() -> str:
    return _KNN_IVF_ORACLE.replace("{k}", str(IVF_CLUSTERS))


@query("knn_join_ivf", _knn_ivf_oracle())
def knn_join_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch k-NN join blocked by IVF CELL — the 100 TB form of
    `knn_join` (whose label key is a fixture convenience that goes
    quadratic the moment one label dominates). Reads the PERSISTED
    cell-partitioned index from `_ivf_index_for`: `cell` is a partition
    directory, so the pairwise self-join is equi-partitioned on a key
    the layout already materializes, pair count is bounded by the sum of
    squared CELL sizes (a knob, via the cluster count), and the rank
    window re-shuffles only (vec_id, nn_id, sim) triples. Multi-probe
    (assign each vector to its p nearest cells) trades pair count for
    recall without changing this plan."""
    from pyspark.sql import Window as W

    idx = pinned_index_frame(spark, _ivf_index_for(spark, sf_dir))
    ev = idx.select(
        "vec_id",
        F.col("cell").cast("int").alias("cell"),
        "embedding",
        norm(F.col("embedding")).alias("nrm"),
    )
    a = ev.alias("a")
    b = ev.alias("b")
    pairs = a.join(
        b,
        (F.col("a.cell") == F.col("b.cell"))
        & (F.col("a.vec_id") != F.col("b.vec_id")),
    ).select(
        F.col("a.vec_id").alias("vec_id"),
        F.col("b.vec_id").alias("nn_id"),
        # row-carried norms (see cosine_pairs_threshold)
        pair_cosine(
        F.col("a.embedding"),
        F.col("b.embedding"),
        F.col("a.nrm"),
        F.col("b.nrm"),
    ).alias("sim"),
    )
    w = W.partitionBy("vec_id").orderBy(F.col("sim").desc(), F.col("nn_id"))
    return (
        pairs.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= 3)
        .orderBy("vec_id", "rnk")
    )


@query("knn_join", _knn_ivf_oracle())
def knn_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The default k-NN join = the IVF-cell-blocked scale path
    (VERDICT r6 #4: the unqualified name must be the plan that survives
    100 TB, mirroring how dedup leads with `_ivf`). `knn_join_label`
    keeps the label-blocked fixture demo registered."""
    return knn_join_ivf(spark, sf_dir)


_PAIRS_IVF_ORACLE = (
    _IVF_ASSIGN_CTE
    + """
    SELECT a.vec_id AS id_a, b.vec_id AS id_b, a.cell,
           list_cosine_similarity(
             list_transform(a.embedding, x -> CAST(x AS DOUBLE)),
             list_transform(b.embedding, x -> CAST(x AS DOUBLE))) AS sim
    FROM assign a JOIN assign b
      ON a.cell = b.cell AND a.vec_id < b.vec_id
    WHERE list_cosine_similarity(
             list_transform(a.embedding, x -> CAST(x AS DOUBLE)),
             list_transform(b.embedding, x -> CAST(x AS DOUBLE))) >= 0.3
    ORDER BY id_a, id_b
"""
)


def _pairs_ivf_oracle() -> str:
    return _PAIRS_IVF_ORACLE.replace("{k}", str(IVF_CLUSTERS))


@query("cosine_pairs_ivf", _pairs_ivf_oracle())
def cosine_pairs_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C43 similarity join blocked by IVF CELL — the corpus-scale form
    of `cosine_pairs_threshold`: candidate pairs come only from the same
    coarse-quantizer cell of the persisted index, so the join is
    equi-partitioned on the cell directory key and never all-pairs.
    Threshold 0.3 sits above the fixture's near-isotropic background
    (top-10 cosine ≈ 0.28–0.37) so the result exercises real matches
    rather than an empty set."""
    idx = pinned_index_frame(spark, _ivf_index_for(spark, sf_dir))
    ev = idx.select(
        "vec_id",
        F.col("cell").cast("int").alias("cell"),
        "embedding",
        norm(F.col("embedding")).alias("nrm"),
    )
    a = ev.alias("a")
    b = ev.alias("b")
    # row-carried norms (see cosine_pairs_threshold)
    sim = pair_cosine(
        F.col("a.embedding"),
        F.col("b.embedding"),
        F.col("a.nrm"),
        F.col("b.nrm"),
    )
    return (
        a.join(
            b,
            (F.col("a.cell") == F.col("b.cell"))
            & (F.col("a.vec_id") < F.col("b.vec_id")),
        )
        .select(
            F.col("a.vec_id").alias("id_a"),
            F.col("b.vec_id").alias("id_b"),
            F.col("a.cell").alias("cell"),
            sim.alias("sim"),
        )
        .filter(F.col("sim") >= 0.3)
        .orderBy("id_a", "id_b")
    )


_QUANT_SQL = """
    WITH dv AS (
      SELECT vec_id, label,
             list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
      FROM embeddings WHERE vec_id % 9 = 0
    ), scaled AS (
      SELECT vec_id, label, v,
             list_max(list_transform(v, x -> abs(x))) AS max_abs
      FROM dv
    ), coded AS (
      SELECT vec_id, label, v, max_abs,
             list_transform(v, x -> CAST(round(x * 127.0 / max_abs) AS BIGINT))
               AS codes
      FROM scaled WHERE max_abs > 0
    )
    SELECT vec_id, label,
           CAST(floor(max_abs * 1073741824.0) AS BIGINT) AS max_abs_fp30,
           len(codes) AS dim,
           list_max(codes) AS code_max,
           list_min(codes) AS code_min,
           len(list_filter(codes, c -> c = 127 OR c = -127)) AS n_saturated,
           CAST(floor(list_max(list_transform(range(1, len(v) + 1),
             i -> abs(v[i] - codes[i] * max_abs / 127.0)))
             * 1073741824.0) AS BIGINT) AS max_abs_err_fp30
    FROM coded ORDER BY vec_id
    """


@query("embedding_quantize_int8", _QUANT_SQL)
def embedding_quantize_int8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symmetric int8 quantization of the embedding column — the
    storage/serving compression step of a training-data pipeline (4×
    smaller vectors for the ANN index, with a per-vector scale). Emits
    the code envelope and the max reconstruction error per vector so
    the quality loss is observable.

    Scale: entirely row-local array arithmetic in codegen — a zero-
    shuffle map over the corpus (the orderBy is presentation-only);
    quantized codes would be written alongside the float column and
    the IVF/LSH index probes them."""
    e = table(spark, sf_dir, "embeddings").filter(F.col("vec_id") % 9 == 0)
    v = F.transform("embedding", lambda x: x.cast("double"))
    d = e.select("vec_id", "label", v.alias("v"))
    d = d.withColumn(
        "max_abs", F.array_max(F.transform("v", lambda x: F.abs(x)))
    ).filter(F.col("max_abs") > 0)
    codes = F.transform("v", lambda x: F.round(x * 127.0 / F.col("max_abs")).cast("bigint"))
    d = d.withColumn("codes", codes)
    err = F.array_max(
        F.zip_with(
            "v", "codes", lambda x, c: F.abs(x - c * F.col("max_abs") / 127.0)
        )
    )
    # binary fixed-point (floor at 2^30) instead of decimal ROUND: the
    # underlying doubles are bit-identical across engines (same ops,
    # same order), and floor is exact on doubles — no half-way-digit
    # divergence the way ROUND(,9) can flip the last decimal.
    fp30 = lambda c: F.floor(c * 1073741824.0).cast("bigint")  # noqa: E731
    return d.select(
        "vec_id",
        "label",
        fp30(F.col("max_abs")).alias("max_abs_fp30"),
        F.size("codes").cast("bigint").alias("dim"),
        F.array_max("codes").alias("code_max"),
        F.array_min("codes").alias("code_min"),
        F.size(F.filter("codes", lambda c: (c == 127) | (c == -127)))
        .cast("bigint")
        .alias("n_saturated"),
        fp30(err).alias("max_abs_err_fp30"),
    ).orderBy("vec_id")


# ---- PQ (product quantization): the memory-compression leg of ANN ----------
# 64-dim embeddings -> 4 subspaces x 16 dims, 16 centroids per subspace:
# a vector becomes 4 code bytes (64x smaller than float32), and ANN
# re-ranking can run over codes via per-subspace lookup tables. The
# codebook uses the same deterministic medoid seeding as the IVF coarse
# quantizer (K lowest-vec_id vectors), and every distance is computed in
# EXACT int64 fixed point (floor(x * 2^20) per component), so the
# argmin — and therefore every emitted code — is bit-reproducible and
# cross-engine oracle-checkable with no float-ordering caveats at all.
PQ_M, PQ_K, PQ_SUB = 4, 16, 16
PQ_SCALE = 1 << 20


def _pq_codebook(spark: SparkSession, sf_dir: str, k: int, m: int, sub: int):
    """(m, k, sub) int64-quantized codebook from the k lowest-vec_id
    vectors (fewer on a smaller corpus) — index metadata, a k-row
    collect (not a data path), memoized per corpus fingerprint."""
    import numpy as np

    def compute():
        e = table(spark, sf_dir, "embeddings")
        rows = e.orderBy("vec_id").select("embedding").limit(k).collect()
        X = np.array([r["embedding"] for r in rows], dtype=np.float64)
        Q = np.floor(X * PQ_SCALE).astype(np.int64)  # (k, dim)
        return Q.reshape(len(X), m, sub).transpose(1, 0, 2).copy()

    return memo(sf_dir, "embeddings.parquet", f"pq_codebook|k={k}|m={m}|sub={sub}", compute)


def _make_pq_udf(cb):
    """Vectorized PQ encoder: one (batch, K) int64 distance matrix per
    subspace per Arrow batch. np.argmin returns the FIRST minimum —
    ties break to the lowest codebook index, same as the oracle's
    ROW_NUMBER(ORDER BY d, cb_idx)."""
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("struct<c0: long, c1: long, c2: long, c3: long, err: long>")
    def pq_encode(emb: pd.Series) -> pd.DataFrame:
        import numpy as np

        X = np.stack(emb.to_numpy()).astype(np.float64)
        Q = np.floor(X * PQ_SCALE).astype(np.int64).reshape(len(X), PQ_M, PQ_SUB)
        codes = np.empty((len(X), PQ_M), dtype=np.int64)
        err = np.zeros(len(X), dtype=np.int64)
        for m in range(PQ_M):
            d = ((Q[:, m, None, :] - cb[m][None, :, :]) ** 2).sum(axis=2)
            codes[:, m] = np.argmin(d, axis=1)
            err += d[np.arange(len(X)), codes[:, m]]
        return pd.DataFrame(
            {
                "c0": codes[:, 0],
                "c1": codes[:, 1],
                "c2": codes[:, 2],
                "c3": codes[:, 3],
                "err": err,
            }
        )

    return pq_encode


_PQ_ORACLE = f"""
    WITH q AS (
      SELECT vec_id,
             list_transform(embedding,
               x -> CAST(floor(CAST(x AS DOUBLE) * {float(PQ_SCALE)}) AS BIGINT)) AS qv
      FROM embeddings
    ),
    cbv AS (
      SELECT ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS cb_idx, qv AS cq
      FROM (SELECT vec_id, qv FROM q ORDER BY vec_id LIMIT {PQ_K})
    ),
    sub AS (SELECT unnest(generate_series(0, {PQ_M - 1})) AS m),
    dist AS (
      SELECT q.vec_id, s.m, c.cb_idx,
             list_reduce(list_transform(generate_series(1, {PQ_SUB}),
               j -> (q.qv[s.m * {PQ_SUB} + j] - c.cq[s.m * {PQ_SUB} + j])
                  * (q.qv[s.m * {PQ_SUB} + j] - c.cq[s.m * {PQ_SUB} + j])),
               (a, b) -> a + b) AS d
      FROM q, sub s, cbv c
    ),
    best AS (
      SELECT vec_id, m, cb_idx, d,
             ROW_NUMBER() OVER (PARTITION BY vec_id, m
                                ORDER BY d, cb_idx) AS rn
      FROM dist
    )
    SELECT vec_id,
           CAST(MAX(CASE WHEN m = 0 THEN cb_idx END) AS BIGINT) AS code0,
           CAST(MAX(CASE WHEN m = 1 THEN cb_idx END) AS BIGINT) AS code1,
           CAST(MAX(CASE WHEN m = 2 THEN cb_idx END) AS BIGINT) AS code2,
           CAST(MAX(CASE WHEN m = 3 THEN cb_idx END) AS BIGINT) AS code3,
           CAST(SUM(d) AS BIGINT) AS err_fp
    FROM best WHERE rn = 1
    GROUP BY vec_id ORDER BY vec_id
"""


@query("embedding_pq", _PQ_ORACLE)
def embedding_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product quantization of the embedding column — the memory-
    compression leg of the ANN stack (int8 halves bytes per component;
    PQ replaces the vector with M sub-space code indices: 4 bytes per
    64-dim vector here, 64x under float32). A serving tier holds codes
    + codebook in memory and re-ranks with per-subspace lookup tables;
    the float vectors stay on disk for the final exact re-rank.

    Determinism: all distances are exact int64 fixed point
    (floor(x*2^20) per component), so the per-subspace argmin — and
    the emitted codes and reconstruction error — are bit-identical in
    any engine; the DuckDB twin re-derives the codebook and every
    distance independently.

    Scale: the codebook is a K-row metadata collect (same medoid
    seeding as the IVF index); encoding is one numpy pass per Arrow
    batch, row-local, zero shuffle (plan-asserted). An offline k-means
    refinement would drop in exactly as `ivf_kmeans_cells` does for
    the coarse quantizer."""
    e = table(spark, sf_dir, "embeddings")
    enc = _make_pq_udf(_pq_codebook(spark, sf_dir, PQ_K, PQ_M, PQ_SUB))
    d = e.select("vec_id", enc("embedding").alias("pq"))
    return d.select(
        "vec_id",
        F.col("pq.c0").alias("code0"),
        F.col("pq.c1").alias("code1"),
        F.col("pq.c2").alias("code2"),
        F.col("pq.c3").alias("code3"),
        F.col("pq.err").alias("err_fp"),
    ).orderBy("vec_id")


# ---- IVF-PQ ANN probe: ADC over code bytes, exact re-rank ------------------
# The billion-scale ANN layout (Jégou et al., "Product Quantization for
# Nearest Neighbor Search", TPAMI 2011; the FAISS IVFPQ index): the
# coarse IVF quantizer prunes to n_probe cells, then candidates are
# scored WITHOUT touching the float vectors — each vector is 16 code
# bytes, and the query's similarity to a code is a lookup in a
# (M, K) table computed once per query. Only a shortlist of the best
# ADC scores is re-ranked against true vectors. At 100 TB that means
# the scoring scan reads 16 B/vector instead of 256 B (column pruning
# delivers it here: the ADC stage's parquet scan reads pq_codes and
# never the embedding column — plan-asserted), and the exact re-rank
# is a pushed-down point-fetch of `shortlist` ids.
#
# Unlike the 4x16 toy codebook of `embedding_pq` (kept small so its
# full encode is cross-engine oracled), the search-grade codebook is
# the standard 8-bit PQ: 16 subspaces x 4 dims, 256 centroids each —
# on the near-isotropic fixture the worst true-top-10 ADC rank is 42
# (sf0.001) / 12 (sf0.01) / 18 (sf0.1), so SHORTLIST=128 covers the
# exact answer with ~3x margin (property-tested); clustered real
# embeddings rank far better. Same determinism contract as the IVF
# index: medoid codebook (K lowest-vec_id vectors), exact int64
# fixed-point distances, first-min tie-break.
ANN_PQ_M = 16
ANN_PQ_K = 256
ANN_PQ_SUB = EMBED_DIM // ANN_PQ_M
PQ_SHORTLIST = 128


def _make_pq_codes_udf(cb):
    """Vectorized 8-bit PQ encoder: per Arrow batch, one (batch, K)
    int64 distance matrix per subspace; np.argmin's first-minimum rule
    ties to the lowest codebook index (deterministic)."""
    from pyspark.sql.functions import pandas_udf

    M, _, SUB = cb.shape

    @pandas_udf("array<int>")
    def pq_codes(emb: pd.Series) -> pd.Series:
        import numpy as np

        X = np.stack(emb.to_numpy()).astype(np.float64)
        Q = np.floor(X * PQ_SCALE).astype(np.int64).reshape(len(X), M, SUB)
        codes = np.empty((len(X), M), dtype=np.int32)
        for m in range(M):
            d = ((Q[:, m, None, :] - cb[m][None, :, :]) ** 2).sum(axis=2)
            codes[:, m] = np.argmin(d, axis=1)
        return pd.Series(list(codes))

    return pq_codes


@query("ann_pq_topk", _COSINE_TOPK_ORACLE)
def ann_pq_topk(
    spark: SparkSession,
    sf_dir: str,
    n_clusters: int = IVF_CLUSTERS,
    n_probes: int = IVF_PROBES,
    shortlist: int = PQ_SHORTLIST,
) -> DataFrame:
    """C42 scale path #3: IVF-PQ probe — coarse cells prune the scan,
    ADC lookup tables score candidates from their 16 code bytes alone,
    and only the `shortlist` best ADC scores get an exact cosine
    re-rank against true vectors (a pushed-down vec_id IN fetch).

    The ADC score is the faithful PQ-cosine: approx_ip / sqrt(approx
    |x|^2), both reconstructed from the same per-subspace int64 tables
    (query-side table = exact fixed-point dot of the query subvector
    with each codebook entry), entirely in codegen via element_at over
    constant-folded literal arrays — no Python in the probe path; the
    pandas-UDF encoder runs only at index build.

    Oracle: the exact top-k SQL — the shortlist provably covers the
    true top-10 on the fixture corpus (see the recall margins above;
    property-tested at every SF), so the re-rank returns exactly the
    exact answer. `shortlist` is the recall/cost knob at other corpus
    geometries."""
    import numpy as np

    e = table(spark, sf_dir, "embeddings")
    index_path = _ivf_index_for(spark, sf_dir, n_clusters, "pq")
    idx = pinned_index_frame(spark, index_path)

    C = _ivf_centroids(spark, sf_dir, n_clusters, "seed")
    qrow = e.filter(F.col("vec_id") == QUERY_VEC_ID).select("embedding").head()
    qv = np.asarray(qrow["embedding"], dtype=np.float64)
    qn = qv / np.linalg.norm(qv)
    probe = [int(c) for c in np.argsort(-(C @ qn))[:n_probes]]

    cb = _pq_codebook(spark, sf_dir, ANN_PQ_K, ANN_PQ_M, ANN_PQ_SUB)
    Qq = np.floor(qv * PQ_SCALE).astype(np.int64).reshape(ANN_PQ_M, ANN_PQ_SUB)
    ipt = np.einsum("ms,mks->mk", Qq, cb)  # (M, K) query-dot tables
    nt = (cb**2).sum(axis=2)  # (M, K) reconstructed |x|^2 tables

    def lut(vals):
        return F.array(*[F.lit(int(v)) for v in vals])

    code = lambda m: F.element_at(F.col("pq_codes"), m + 1) + F.lit(1)  # noqa: E731
    aip = sum(F.element_at(lut(ipt[m]), code(m)) for m in range(ANN_PQ_M))
    an2 = sum(F.element_at(lut(nt[m]), code(m)) for m in range(ANN_PQ_M))
    adc = (
        aip.cast("double") / F.sqrt(F.greatest(an2.cast("double"), F.lit(1.0)))
    ).alias("adc")

    # Stage 1 — ADC scan: reads ONLY (vec_id, pq_codes) of the probed
    # cell directories; the 128-id shortlist is index metadata (same
    # class as the probe-cell selection above), not a data collect.
    short = (
        idx.filter(F.col("cell").isin(probe) & (F.col("vec_id") != QUERY_VEC_ID))
        .select("vec_id", adc)
        .orderBy(F.col("adc").desc(), "vec_id")
        .limit(shortlist)
        .collect()
    )
    short_ids = [int(r["vec_id"]) for r in short]

    # Stage 2 — exact re-rank: point-fetch of shortlist vectors (vec_id
    # IN pushes to the parquet scan, cell list still prunes directories).
    qdf = F.broadcast(spark.createDataFrame([(qrow["embedding"],)], "qv array<float>"))
    return (
        idx.filter(F.col("cell").isin(probe) & F.col("vec_id").isin(short_ids))
        .crossJoin(qdf)
        .select("vec_id", "label", cosine(F.col("embedding"), F.col("qv")).alias("sim"))
        .orderBy(F.col("sim").desc(), F.col("vec_id"))
        .limit(TOP_K)
    )


# Diversity-stratified sampling: a training-data subset that covers the
# embedding space evenly — m deterministic-pseudorandom picks per IVF
# cell instead of a global uniform draw (which over-samples dense
# regions). The per-cell rank key is md5(vec_id), so the sample is
# reproducible across runs/engines with no RNG state.
_DIVERSITY_SAMPLE_ORACLE = """
    WITH seeds AS (
      SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INTEGER) AS cell,
             list_transform(embedding, x -> CAST(x AS DOUBLE)) AS sv
      FROM (SELECT vec_id, embedding FROM embeddings ORDER BY vec_id LIMIT {k})
    ),
    assign AS (
      SELECT e.vec_id, e.label,
             (SELECT s.cell FROM seeds s
              ORDER BY list_cosine_similarity(
                         list_transform(e.embedding, x -> CAST(x AS DOUBLE)),
                         s.sv) DESC, s.cell
              LIMIT 1) AS cell
      FROM embeddings e
    )
    SELECT vec_id, label, cell, CAST(rnk AS INT) AS rnk
    FROM (
      SELECT vec_id, label, cell,
             ROW_NUMBER() OVER (PARTITION BY cell
                                ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id)
               AS rnk
      FROM assign
    ) t
    WHERE rnk <= 5
    ORDER BY cell, rnk
"""


def _diversity_sample_oracle() -> str:
    return _DIVERSITY_SAMPLE_ORACLE.replace("{k}", str(IVF_CLUSTERS))


@query("diversity_sample_cells", _diversity_sample_oracle())
def diversity_sample_cells(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Diversity-aware corpus sampling: m=5 deterministic picks per IVF
    cell (rank key = md5 of the id — engine-reproducible pseudorandom),
    so the sample spans the embedding space instead of mirroring its
    density. The cells ARE the diversity strata; a global uniform draw
    would spend most of its budget inside the densest clusters.

    Scale posture: reads only (vec_id, label, cell) of the persisted
    cell-partitioned index (embedding column pruned at the scan); the
    window partitions by the key the layout already materializes, so
    the only movement is the per-cell rank; m and the cell count are
    the coverage/budget knobs."""
    from pyspark.sql import Window as W

    idx = pinned_index_frame(spark, _ivf_index_for(spark, sf_dir))
    lab = table(spark, sf_dir, "embeddings").select("vec_id", "label")
    w = W.partitionBy("cell").orderBy(
        F.md5(F.col("vec_id").cast("string")), F.col("vec_id")
    )
    return (
        idx.select("vec_id", F.col("cell").cast("int").alias("cell"))
        .join(lab, "vec_id")
        .withColumn("rnk", F.row_number().over(w).cast("int"))
        .filter(F.col("rnk") <= 5)
        .select("vec_id", "label", "cell", "rnk")
        .orderBy("cell", "rnk")
    )


# Matryoshka-truncation retrieval (Kusupati et al., arXiv:2205.13147):
# MRL-trained embeddings keep most of their retrieval quality when
# truncated to a PREFIX of dimensions — the production trade is scan
# bytes vs recall. This op runs the same exact top-k twice (full 64-dim
# and first-16-dim truncated, both cosine — truncation changes norms,
# so cosine renormalizes implicitly) and reports the truncated ranking
# WITH a membership flag against the full-dimension top-k: the per-rank
# audit a user reads before flipping retrieval to truncated vectors.
MATRYOSHKA_DIMS = 16

_MATRYOSHKA_ORACLE = f"""
    WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = {QUERY_VEC_ID}),
    full_k AS (
      SELECT e.vec_id FROM embeddings e CROSS JOIN q
      WHERE e.vec_id <> {QUERY_VEC_ID}
      ORDER BY list_cosine_similarity(
                 list_transform(e.embedding, x -> CAST(x AS DOUBLE)),
                 list_transform(q.qv, x -> CAST(x AS DOUBLE))) DESC, e.vec_id
      LIMIT {TOP_K}),
    trunc_k AS (
      SELECT e.vec_id, e.label,
             list_cosine_similarity(
               list_transform(e.embedding[1:{MATRYOSHKA_DIMS}], x -> CAST(x AS DOUBLE)),
               list_transform(q.qv[1:{MATRYOSHKA_DIMS}], x -> CAST(x AS DOUBLE)))
               AS sim_trunc
      FROM embeddings e CROSS JOIN q
      WHERE e.vec_id <> {QUERY_VEC_ID}
      ORDER BY sim_trunc DESC, e.vec_id
      LIMIT {TOP_K})
    SELECT t.vec_id, t.label, ROUND(t.sim_trunc, 9) AS sim_trunc,
           f.vec_id IS NOT NULL AS in_full_topk
    FROM trunc_k t LEFT JOIN full_k f ON t.vec_id = f.vec_id
    ORDER BY t.sim_trunc DESC, t.vec_id
"""


@query("matryoshka_topk_recall", _MATRYOSHKA_ORACLE)
def matryoshka_topk_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Truncated-embedding retrieval audit: exact top-{TOP_K} by cosine
    over the first {MATRYOSHKA_DIMS} of 64 dimensions, each hit flagged
    by whether the full-dimension top-{TOP_K} also contains it (the
    recall a Matryoshka truncation would ship with). Summing the flag
    gives recall@k; the per-row form keeps the audit inspectable.

    Scale posture: both rankings are the broadcast-1-row-query-vector
    scan (TakeOrderedAndProject, no global sort); the truncated pass
    reads the SAME column but touches only a prefix slice per row — on
    a columnar store with multi-column chunked vectors (or a separate
    materialized prefix column, the production layout) that is a 4x
    byte reduction; the full-k side joins back as a {TOP_K}-row
    broadcast."""
    e = table(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") == QUERY_VEC_ID).select(
        F.col("embedding").alias("qv")
    )
    cands = e.filter(F.col("vec_id") != QUERY_VEC_ID).crossJoin(F.broadcast(q))
    full_k = (
        cands.select(
            "vec_id", cosine(F.col("embedding"), F.col("qv")).alias("sim")
        )
        .orderBy(F.col("sim").desc(), F.col("vec_id"))
        .limit(TOP_K)
        .select("vec_id", F.lit(True).alias("in_full_topk"))
    )
    trunc = F.slice(F.col("embedding"), 1, MATRYOSHKA_DIMS)
    trunc_q = F.slice(F.col("qv"), 1, MATRYOSHKA_DIMS)
    trunc_k = (
        cands.select(
            "vec_id", "label", cosine(trunc, trunc_q).alias("sim_trunc")
        )
        .orderBy(F.col("sim_trunc").desc(), F.col("vec_id"))
        .limit(TOP_K)
    )
    return (
        trunc_k.join(F.broadcast(full_k), "vec_id", "left")
        .select(
            "vec_id",
            "label",
            F.round("sim_trunc", 9).alias("sim_trunc"),
            F.coalesce(F.col("in_full_topk"), F.lit(False)).alias("in_full_topk"),
        )
        .orderBy(F.col("sim_trunc").desc(), "vec_id")
    )


# Operational introspection for the persisted ANN index — the
# system.parts analog an operator checks before trusting probe costs:
# per-cell member counts plus the summary a capacity planner reads
# (imbalance factor = max/avg cell size; expected scan fraction of a
# 1-probe query under the CURRENT distribution = sum over cells of
# p(query lands in cell) * cell_share = sum(share^2) — exactly the
# quantity the Sigma cell^2 pair bounds in the dedup ops depend on).
_IVF_STATS_ORACLE = (
    _IVF_ASSIGN_CTE
    + """
    , sizes AS (SELECT cell, COUNT(*) AS n FROM assign GROUP BY cell)
    SELECT cell, CAST(n AS BIGINT) AS n_vectors,
           ROUND(CAST(n AS DOUBLE) / (SELECT SUM(n) FROM sizes), 9) AS share,
           ROUND(CAST(n AS DOUBLE) * (SELECT COUNT(*) FROM sizes)
                 / (SELECT SUM(n) FROM sizes), 9) AS balance_ratio
    FROM sizes
    ORDER BY cell
"""
)


def _ivf_stats_oracle() -> str:
    return _IVF_STATS_ORACLE.replace("{k}", str(IVF_CLUSTERS))


@query("ivf_index_stats", _ivf_stats_oracle())
def ivf_index_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN-index introspection (the `system.parts` habit, applied to
    the IVF index): per-cell member count, corpus share, and balance
    ratio (cell size / mean size — the skew an operator watches, since
    one hot cell inflates both probe latency and the Sigma cell^2 pair
    bound every cell-blocked dedup op rides).

    Scale posture: reads ONLY the pruned (vec_id, cell) columns of the
    persisted index — no embedding bytes; one grouped exchange over
    |cells| partial rows; the totals ride a broadcast 1-row cross join,
    not a second scan (the per-cell counts reduce to K rows first)."""
    idx = pinned_index_frame(spark, _ivf_index_for(spark, sf_dir))
    sizes = (
        idx.select(F.col("cell").cast("int").alias("cell"))
        .groupBy("cell")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    totals = sizes.agg(
        F.sum("n").cast("double").alias("total"),
        F.count(F.lit(1)).cast("double").alias("n_cells"),
    )
    return (
        sizes.crossJoin(F.broadcast(totals))
        .select(
            "cell",
            F.col("n").cast("bigint").alias("n_vectors"),
            F.round(F.col("n") / F.col("total"), 9).alias("share"),
            F.round(F.col("n") * F.col("n_cells") / F.col("total"), 9).alias(
                "balance_ratio"
            ),
        )
        .orderBy("cell")
    )


# ---------------------------------------------------------------------------
# Incremental IVF index maintenance (VERDICT r7 #6): the production
# daily job — admit an arriving batch INTO the persisted index without
# a rebuild. The quantizer is FROZEN (same seed matrix that built the
# index: reassigning the corpus is exactly the full rebuild this op
# exists to avoid); the batch's rows append into their assigned cell
# partitions only, into a new generation directory so probes can pin a
# layout. The admitted batch models re-arrivals: every base vector with
# vec_id % 100 == 3 returns under a new id (+ the data-derived offset).
ADMIT_MOD, ADMIT_REM = 100, 3


def admit_id_offset(spark: SparkSession, sf_dir: str) -> int:
    """Re-arrival id offset = 1 + max corpus vec_id — DATA-derived, so
    base/batch discrimination can never misclassify or collide at any
    corpus size (a fixed constant breaks the moment real ids reach it;
    the repo's own 1M-vector scale test sits exactly at the old
    1_000_000 boundary). One MAX aggregate, memoized per corpus
    fingerprint (`tables.memo`) so the admit/compact/accounting call
    sites don't each pay a scan."""

    def compute() -> int:
        mx = table(spark, sf_dir, "embeddings").agg(F.max("vec_id")).collect()[0][0]
        return int(mx) + 1 if mx is not None else 1  # empty corpus: offset 1

    return memo(sf_dir, "embeddings.parquet", "admit_id_offset", compute)


def admit_batch_into_index(
    spark: SparkSession, sf_dir: str, path: str, arriving: DataFrame | None = None
) -> None:
    """Append the arriving batch into the cell layout at ``path``:
    the admit subset of ``arriving`` (default: the whole corpus; a
    stream passes each micro-batch), re-keyed past `admit_id_offset`
    and assigned cells by the frozen seed quantizer.

    Spark's ``mode("append").partitionBy("cell")`` writes files ONLY
    under the cell directories present in the batch — untouched cell
    partitions are not opened, not rewritten, not even listed (the
    file-level invariant test_ivf_admit_touches_only_batch_cells pins).
    At 100 TB a 0.1%-of-corpus batch touching 1/10th of the cells costs
    one batch-sized write, not an index rewrite."""
    if arriving is None:
        arriving = table(spark, sf_dir, "embeddings")
    offset = admit_id_offset(spark, sf_dir)
    cell_of = _make_cell_udf(_ivf_centroids(spark, sf_dir))
    batch = (
        arriving.filter(F.col("vec_id") % ADMIT_MOD == ADMIT_REM)
        .select(
            (F.col("vec_id") + offset).alias("vec_id"),
            "embedding",
            "label",
        )
        .withColumn("cell", cell_of("embedding"))
    )
    batch.write.mode("append").partitionBy("cell").parquet(path)


def _admit_cell_accounting(idx: DataFrame, offset: int) -> DataFrame:
    """Per-cell (base_n, batch_n, after_n, share_after) derived from a
    physical admitted layout: ONE pruned (vec_id, cell) scan, base vs
    batch split by the re-arrival id offset, totals on a broadcast
    1-row frame. Shared by the batch (`ivf_index_admit`) and streaming
    (`stream_index_admit`) admission paths so their common oracle can
    never drift against two copies of the arithmetic."""
    sizes = (
        idx.select(
            F.col("cell").cast("int").alias("cell"),
            (F.col("vec_id") >= offset).alias("is_batch"),
        )
        .groupBy("cell")
        .agg(
            F.count_if(~F.col("is_batch")).alias("base_n"),
            F.count_if(F.col("is_batch")).alias("batch_n"),
            F.count(F.lit(1)).alias("after_n"),
        )
    )
    totals = sizes.agg(F.sum("after_n").cast("double").alias("total"))
    return (
        sizes.crossJoin(F.broadcast(totals))
        .select(
            "cell",
            F.col("base_n").cast("bigint").alias("base_n"),
            F.col("batch_n").cast("bigint").alias("batch_n"),
            F.col("after_n").cast("bigint").alias("after_n"),
            F.round(F.col("after_n") / F.col("total"), 9).alias("share_after"),
        )
        .orderBy("cell")
    )


def _admitted_index_for(spark: SparkSession, sf_dir: str) -> str:
    """One-time: clone the seed-generation index (test isolation —
    production appends in place; the clone keeps the shared seed index
    pristine for the other registered probes) and admit the batch into
    the clone — a `tables.derived_dir` generation of the seed."""
    return derived_dir(
        _IVF_ROOT, sf_dir, "embeddings.parquet", f"k={IVF_CLUSTERS}|gen=admitted",
        lambda path: admit_batch_into_index(spark, sf_dir, path),
        base=_ivf_index_for(spark, sf_dir),
    )


_IVF_ADMIT_ORACLE = (
    _IVF_ASSIGN_CTE
    + f"""
    , base AS (SELECT cell, COUNT(*) AS base_n FROM assign GROUP BY cell)
    , batch AS (SELECT cell, COUNT(*) AS batch_n FROM assign
                WHERE vec_id % {ADMIT_MOD} = {ADMIT_REM} GROUP BY cell)
    , tot AS (SELECT (SELECT SUM(base_n) FROM base)
                   + (SELECT SUM(batch_n) FROM batch) AS total)
    SELECT b.cell, CAST(b.base_n AS BIGINT) AS base_n,
           CAST(COALESCE(t.batch_n, 0) AS BIGINT) AS batch_n,
           CAST(b.base_n + COALESCE(t.batch_n, 0) AS BIGINT) AS after_n,
           ROUND(CAST(b.base_n + COALESCE(t.batch_n, 0) AS DOUBLE)
                 / (SELECT total FROM tot), 9) AS share_after
    FROM base b LEFT JOIN batch t ON b.cell = t.cell
    ORDER BY b.cell
"""
)
# LEFT join is complete here: batch vectors are re-arrivals of base
# vectors under the frozen quantizer, so every batch cell has base
# members by construction.


def _ivf_admit_oracle() -> str:
    return _IVF_ADMIT_ORACLE.replace("{k}", str(IVF_CLUSTERS))


@query("ivf_index_admit", _ivf_admit_oracle())
def ivf_index_admit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Post-admission index accounting, derived from the PHYSICAL
    admitted layout alone: one pruned (vec_id, cell) scan, with
    base/batch split by the id offset. The DuckDB twin re-derives all
    three counts from the raw embeddings through the quantizer CTE — a
    hash match therefore proves the admitted files hold exactly
    base + batch per cell (the VERDICT r7 #6 invariant), not merely
    that two aggregations agree.

    Scale posture mirrors `ivf_index_stats`: no embedding bytes read,
    one grouped exchange over |cells| rows, totals on a broadcast
    1-row frame."""
    idx = pinned_index_frame(spark, _admitted_index_for(spark, sf_dir))
    return _admit_cell_accounting(idx, admit_id_offset(spark, sf_dir))


def compact_ivf_cells(spark: SparkSession, path: str, cells: list[int]) -> None:
    """Compact the named cell partitions to one file each — the
    maintenance twin of `admit_batch_into_index` (appends fragment the
    touched cells; periodic compaction restores one-file-per-cell read
    cost). Spark-native mechanism: DYNAMIC partition overwrite — the
    write rewrites ONLY the partitions present in its data, so
    untouched cell directories keep byte-identical file listings (same
    physical invariant as admission, pinned in
    test_ivf_compact_touches_only_fragmented_cells).

    `repartition("cell")` routes each cell's rows to one task, so each
    rewritten cell lands as exactly one file; the rewrite cost is
    |touched cells| of data, never the index."""
    df = pinned_index_frame(spark, path).filter(F.col("cell").isin(cells))
    (
        df.repartition(max(len(cells), 1), "cell")
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("cell")
        .parquet(path)
    )


def _compacted_index_for(spark: SparkSession, sf_dir: str) -> str:
    """One-time: clone the ADMITTED generation and compact its
    fragmented (batch-touched) cells."""

    def build(path: str) -> None:
        offset = admit_id_offset(spark, sf_dir)
        touched = [
            int(r["cell"])
            for r in spark.read.parquet(path)
            .filter(F.col("vec_id") >= offset)
            .select("cell")
            .distinct()
            .collect()
        ]
        compact_ivf_cells(spark, path, touched)

    return derived_dir(
        _IVF_ROOT, sf_dir, "embeddings.parquet", f"k={IVF_CLUSTERS}|gen=compacted",
        build, base=_admitted_index_for(spark, sf_dir),
    )


_IVF_COMPACT_ORACLE = (
    _IVF_ASSIGN_CTE
    + f"""
    , base AS (SELECT cell, COUNT(*) AS base_n FROM assign GROUP BY cell)
    , batch AS (SELECT cell, COUNT(*) AS batch_n FROM assign
                WHERE vec_id % {ADMIT_MOD} = {ADMIT_REM} GROUP BY cell)
    SELECT b.cell,
           CAST(b.base_n + COALESCE(t.batch_n, 0) AS BIGINT) AS n_rows,
           COALESCE(t.batch_n, 0) > 0 AS compacted
    FROM base b LEFT JOIN batch t ON b.cell = t.cell
    ORDER BY b.cell
"""
)


def _ivf_compact_oracle() -> str:
    return _IVF_COMPACT_ORACLE.replace("{k}", str(IVF_CLUSTERS))


@query("ivf_index_compact", _ivf_compact_oracle())
def ivf_index_compact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Post-compaction accounting over the PHYSICAL compacted layout:
    row counts per cell must still equal base + batch (compaction moves
    bytes, never rows), with `compacted` marking the cells the cycle
    rewrote. The DuckDB twin re-derives everything from raw embeddings
    through the quantizer CTE — a hash match proves the admit→compact
    cycle is lossless end-to-end."""
    idx = pinned_index_frame(spark, _compacted_index_for(spark, sf_dir))
    offset = admit_id_offset(spark, sf_dir)
    return (
        idx.select(
            F.col("cell").cast("int").alias("cell"),
            (F.col("vec_id") >= offset).alias("is_batch"),
        )
        .groupBy("cell")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_rows"),
            (F.count_if(F.col("is_batch")) > 0).alias("compacted"),
        )
        .orderBy("cell")
    )
