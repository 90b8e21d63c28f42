"""Sources & sinks (SURVEY.md §2 C1 + §2.4 "scans/sources/sinks").

The reference's only "sources" are ClickHouse system tables over SSH
(sharding_recreation.py:275-298) and its sink is the server-side
INSERT (:160). Spark-side, sources/sinks are first-class: parquet is
the primary format (columnar, predicate pushdown, vectorized reader);
csv/json/orc round-trips are provided for interchange. Avro needs the
external spark-avro module and refuses with an explicit error without
it; JDBC and lakehouse formats (Delta/Iceberg) need jars and servers
and have no wrapper here: use ``spark.read.jdbc`` or their packages.
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..registry import query
from ..tables import table
from ..operators._util import dec_sum, sql_dec_sum

_TMP = "/tmp/cdr_spark/sources"


def write_read_roundtrip(
    df: DataFrame, fmt: str, path: str, schema: str | None = None
) -> DataFrame:
    """Write `df` in `fmt`, read it back with an explicit schema (never
    inferSchema on a production path)."""
    shutil.rmtree(path, ignore_errors=True)
    writer = df.write.mode("overwrite").format(fmt)
    if fmt == "csv":
        writer = writer.option("header", "true")
    writer.save(path)
    spark = df.sparkSession
    reader = spark.read.format(fmt)
    if fmt == "csv":
        reader = reader.option("header", "true")
    if schema:
        reader = reader.schema(schema)
    return reader.load(path)


_NATION_SCHEMA = "n_nationkey INT, n_name STRING, n_regionkey INT"
_NATION_ORACLE = "SELECT * FROM nation ORDER BY n_nationkey"


@query("source_csv_roundtrip", _NATION_ORACLE)
def source_csv_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    n = table(spark, sf_dir, "nation")
    out = write_read_roundtrip(n, "csv", os.path.join(_TMP, "nation_csv"), _NATION_SCHEMA)
    return out.orderBy("n_nationkey")


@query("source_json_roundtrip", _NATION_ORACLE)
def source_json_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    n = table(spark, sf_dir, "nation")
    out = write_read_roundtrip(n, "json", os.path.join(_TMP, "nation_json"), _NATION_SCHEMA)
    return out.orderBy("n_nationkey")


@query("source_orc_roundtrip", _NATION_ORACLE)
def source_orc_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    n = table(spark, sf_dir, "nation")
    out = write_read_roundtrip(n, "orc", os.path.join(_TMP, "nation_orc"))
    return out.orderBy("n_nationkey")


@query(
    "source_schema_evolution",
    """
    SELECT n_nationkey, n_name, n_regionkey, CAST(NULL AS INT) AS extra_flag
    FROM nation WHERE n_nationkey < 13
    UNION ALL
    SELECT n_nationkey, n_name, n_regionkey, CAST(n_regionkey * 10 AS INT)
    FROM nation WHERE n_nationkey >= 13
    ORDER BY n_nationkey
    """,
)
def source_schema_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema evolution on a parquet dataset (C1 depth): an old batch
    written with 3 columns and a new batch with an added column are read
    as ONE dataset via mergeSchema — old rows surface NULL for the new
    column, the Spark answer to ClickHouse's ALTER TABLE ADD COLUMN
    default-on-read behavior.

    Scale: schema merging reads footers (metadata), not data; at 100 TB
    pin the merged schema explicitly after evolution settles so readers
    skip the per-file footer union."""
    n = table(spark, sf_dir, "nation")
    path = os.path.join(_TMP, "nation_evolving")
    shutil.rmtree(path, ignore_errors=True)
    n.filter(F.col("n_nationkey") < 13).select(
        "n_nationkey", "n_name", "n_regionkey"
    ).write.parquet(os.path.join(path, "batch=v1"))
    n.filter(F.col("n_nationkey") >= 13).select(
        "n_nationkey",
        "n_name",
        "n_regionkey",
        (F.col("n_regionkey") * 10).cast("int").alias("extra_flag"),
    ).write.parquet(os.path.join(path, "batch=v2"))
    back = spark.read.option("mergeSchema", "true").parquet(path)
    return back.select(
        "n_nationkey", "n_name", "n_regionkey", "extra_flag"
    ).orderBy("n_nationkey")


@query(
    "sink_partitioned_parquet",
    """
    SELECT CAST(EXTRACT(year FROM o_orderdate) AS INT) AS yr,
           COUNT(*) AS n, CAST(SUM(CAST(o_totalprice AS DECIMAL(30,4))) AS DOUBLE) AS total
    FROM orders GROUP BY 1 ORDER BY yr
    """,
)
def sink_partitioned_parquet(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hive-style partitioned sink + partition-pruned scan-back: the layout
    every 100 TB pipeline lands on (partition column becomes directory,
    readers prune by it)."""
    o = table(spark, sf_dir, "orders")
    path = os.path.join(_TMP, "orders_by_year")
    shutil.rmtree(path, ignore_errors=True)
    (
        o.withColumn("yr", F.year("o_orderdate"))
        .write.mode("overwrite")
        .partitionBy("yr")
        .parquet(path)
    )
    back = spark.read.parquet(path)
    return (
        back.groupBy("yr")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("o_totalprice").cast("decimal(30,4)")).cast("double").alias("total"),
        )
        .orderBy("yr")
    )


def avro_source(spark: SparkSession, path: str) -> DataFrame:
    """Avro connector — spark-avro is an EXTERNAL module since Spark 2.4
    (not bundled in the pip pyspark distribution, and no jar download is
    possible in this container). Only the missing-data-source failure is
    converted to the pointered refusal; any other error (bad path,
    corrupt file) propagates unwrapped so it is not misdiagnosed as a
    classpath problem."""
    try:
        return spark.read.format("avro").load(path)
    except Exception as exc:
        if "Failed to find data source" in str(exc):
            raise NotImplementedError(
                "spark-avro module not on the classpath; add "
                "org.apache.spark:spark-avro_2.13:<spark-version> to "
                "spark.jars.packages and retry"
            ) from exc
        raise


def write_bucketed(
    df: DataFrame, table_name: str, n_buckets: int, keys: list[str], path: str
) -> None:
    """Persist with bucketed layout (the Spark analog of keeping a table
    sharded on disk, C-II): joins and aggregations on the bucket keys
    then need NO shuffle — the co-location survives across queries,
    which is the whole point of re-sharding at 100 TB."""
    (
        df.write.mode("overwrite")
        .option("path", path)
        .bucketBy(n_buckets, *keys)
        .sortBy(*keys)
        .saveAsTable(table_name)
    )


@query(
    "source_text_roundtrip",
    """
    SELECT COUNT(*) AS n_lines,
           CAST(SUM(LENGTH(text)) AS BIGINT) AS total_chars,
           MIN(LENGTH(text)) AS min_chars,
           MAX(LENGTH(text)) AS max_chars
    FROM documents
    """,
)
def source_text_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Line-oriented text source/sink (`spark.read.text`): the rawest
    ingestion format a corpus pipeline meets. Documents are written one
    per line and read back; the invariant oracle (line count + char
    totals against the originating table) proves lossless transport.
    Fixture text is single-line by construction; a production corpus
    would land as JSONL (source_json_roundtrip covers that reader)."""
    d = table(spark, sf_dir, "documents")
    path = os.path.join(_TMP, "documents_text")
    shutil.rmtree(path, ignore_errors=True)
    d.select("text").write.mode("overwrite").text(path)
    back = spark.read.text(path)
    return back.agg(
        F.count(F.lit(1)).alias("n_lines"),
        F.sum(F.length("value")).alias("total_chars"),
        F.min(F.length("value")).alias("min_chars"),
        F.max(F.length("value")).alias("max_chars"),
    )


@query(
    "source_binaryfile_scan",
    """
    SELECT doc_id, octet_length(encode(text)) AS n_bytes, md5(text) AS content_md5
    FROM documents WHERE doc_id < 20 ORDER BY doc_id
    """,
)
def source_binaryfile_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`binaryFile` source — the ingestion path for opaque multimodal
    payloads (operators/multimodal.py consumes exactly this shape): one
    file per payload read as (path, length, content: binary). Verified
    byte-exact: md5 over the binary content must equal md5 over the
    originating text in the oracle (both hash the UTF-8 bytes).

    Scale: binaryFile is a standard FileScan — distributed listing,
    per-file tasks, pushable path filters; `pathGlobFilter`/
    `recursiveFileLookup` handle real media trees. File prep here is
    one-time fixture setup keyed by corpus dir, not a query-path step."""
    import hashlib

    src = os.path.join(
        _TMP, "binfiles_" + hashlib.md5(sf_dir.encode()).hexdigest()[:12]
    )
    marker = os.path.join(src, "_READY")
    if not os.path.exists(marker):
        shutil.rmtree(src, ignore_errors=True)
        os.makedirs(src, exist_ok=True)
        rows = (
            table(spark, sf_dir, "documents")
            .filter(F.col("doc_id") < 20)
            .select("doc_id", "text")
            .collect()  # 20 bounded fixture rows — setup, not a data path
        )
        for r in rows:
            with open(os.path.join(src, f"{r['doc_id']}.bin"), "wb") as fh:
                fh.write(r["text"].encode("utf-8"))
        with open(marker, "w") as fh:
            fh.write("ok")
    back = spark.read.format("binaryFile").option("pathGlobFilter", "*.bin").load(src)
    return (
        back.select(
            F.regexp_extract(F.col("path"), r"(\d+)\.bin$", 1)
            .cast("bigint")
            .alias("doc_id"),
            F.col("length").alias("n_bytes"),
            F.md5(F.col("content")).alias("content_md5"),
        )
        .orderBy("doc_id")
    )


@query(
    "sink_observed_metrics",
    f"""
    SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(COUNT(*) FILTER (WHERE o_totalprice IS NULL) AS BIGINT)
             AS n_null_price,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(30,4))) AS DOUBLE)
             AS total_price
    FROM orders
    """,
)
def sink_observed_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-quality metrics via the Observation API: the counters ride
    the WRITE job itself (per-task accumulators folded by the driver),
    so ingest validation costs ZERO extra passes — the pattern for
    'every load publishes its own row count / null count / checksum'.
    The oracle recomputes the same metrics from the source table with a
    separate scan, so a metric that under- or over-counted (e.g. from
    task retries double-counting) would hash-mismatch.

    Scale: observed metrics are Spark accumulators — bytes per task,
    merged on the driver; the alternative (a second audit scan after
    the write) reads the corpus twice."""
    import tempfile

    from pyspark.sql import Observation

    o = table(spark, sf_dir, "orders")
    obs = Observation("ingest_metrics")
    observed = o.observe(
        obs,
        F.count(F.lit(1)).alias("n_rows"),
        F.count(F.when(F.col("o_totalprice").isNull(), 1)).alias(
            "n_null_price"
        ),
        F.sum(F.col("o_totalprice").cast("decimal(30,4)")).alias("total_price"),
    )
    dst = tempfile.mkdtemp(prefix="cdr_observed_sink_")
    try:
        observed.write.mode("overwrite").parquet(dst)
        m = obs.get
    finally:
        # try/finally (ADVICE r6): a failed write must not leak the dir
        shutil.rmtree(dst, ignore_errors=True)
    return spark.createDataFrame(
        [
            (
                int(m["n_rows"]),
                int(m["n_null_price"]),
                float(m["total_price"]),
            )
        ],
        "n_rows bigint, n_null_price bigint, total_price double",
    )


@query(
    "mutation_delete_update",
    f"""
    WITH mutated AS (
      SELECT o_orderkey, o_custkey, o_orderstatus,
             CASE WHEN o_orderstatus = 'O' AND o_totalprice < 50000
                  THEN o_totalprice * 1.1 ELSE o_totalprice END AS o_totalprice
      FROM orders
      WHERE NOT (o_orderstatus = 'O' AND o_custkey % 100 = 7)
    )
    SELECT o_orderstatus,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           {sql_dec_sum('o_totalprice')} AS total_price
    FROM mutated
    GROUP BY o_orderstatus
    ORDER BY o_orderstatus
    """,
)
def mutation_delete_update(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ClickHouse `ALTER TABLE ... DELETE / UPDATE` (mutations) as
    partition-scoped COPY-ON-WRITE: the GDPR-delete shape. The orders
    table is laid out partitioned by status; a delete predicate
    (forget customers ending in 07 among open orders) and an update
    (repricing low-value open orders) both touch ONLY the 'O'
    partition — with `partitionOverwriteMode=dynamic`, the rewrite
    overwrites exactly the partitions the mutated frame contains, and
    the untouched 'F'/'P' partition files are never rewritten (their
    mtimes are asserted unchanged in the plan-quality suite).

    The oracle states the post-mutation table content independently
    (filter + CASE over the source), so a mutation that leaked into or
    skipped a partition would hash-mismatch.

    Scale: mutation cost = size of AFFECTED partitions, not the table —
    the same cost model ClickHouse mutations and Delta/Iceberg
    copy-on-write share; at 100 TB you partition so mutations localize
    (status, date, tenant)."""
    o = table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice"
    )
    path = os.path.join(_TMP, "orders_mutable")
    shutil.rmtree(path, ignore_errors=True)
    o.write.mode("overwrite").partitionBy("o_orderstatus").parquet(path)

    mutated_part = (
        spark.read.parquet(path)
        .filter(F.col("o_orderstatus") == "O")
        .filter(~((F.col("o_custkey") % 100) == 7))  # DELETE WHERE
        .withColumn(
            "o_totalprice",  # UPDATE SET
            F.when(
                F.col("o_totalprice") < 50000, F.col("o_totalprice") * 1.1
            ).otherwise(F.col("o_totalprice")),
        )
    )
    prev = spark.conf.get("spark.sql.sources.partitionOverwriteMode", "STATIC")
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    try:
        mutated_part.write.mode("overwrite").partitionBy(
            "o_orderstatus"
        ).parquet(path)
    finally:
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", prev)
    back = spark.read.parquet(path)
    return (
        back.groupBy("o_orderstatus")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_rows"),
            dec_sum("o_totalprice").alias("total_price"),
        )
        .orderBy("o_orderstatus")
    )
