"""3.A — scans, sources, sinks.

A1/A2 prove the plan shape matters: column pruning and predicate pushdown must
reach the parquet scan (verified in tests/test_plans.py via explain()); at
100 TB these are the difference between reading 3 columns of one partition and
reading everything.
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from recsys_spark_spark.catalog import TMP_DIR, table
from recsys_spark_spark.functions.determinism import rlong
from recsys_spark_spark.registry import query
from recsys_spark_spark.sinks import write_back


@query(
    "q_scan_project",
    oracle="SELECT l_orderkey, l_partkey, l_quantity FROM lineitem",
)
def q_scan_project(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A1: scan + column pruning — ReadSchema must contain exactly 3 columns."""
    return table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey", "l_quantity")


@query(
    "q_scan_filter_pushdown",
    oracle="""
SELECT l_orderkey, l_linenumber, l_shipdate, l_quantity
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1997-01-01'
""",
)
def q_scan_filter_pushdown(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A2: range predicate pushed into the parquet scan (PushedFilters)."""
    l = table(spark, sf_dir, "lineitem")
    return l.where(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
    ).select("l_orderkey", "l_linenumber", "l_shipdate", "l_quantity")


@query(
    "q_source_csv_json",
    oracle="""
SELECT n_nationkey, n_name AS name_csv, n_name AS name_json FROM nation
""",
)
def q_source_csv_json(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A3: csv + json sources with explicit schemas, round-tripped.

    Writes the nation dim to csv and json, reads both back, inner-joins them —
    result must equal the source row count with both payloads intact.
    """
    out = os.path.join(TMP_DIR, "roundtrip")
    shutil.rmtree(out, ignore_errors=True)
    nation = table(spark, sf_dir, "nation")
    nation.write.mode("overwrite").option("header", True).csv(f"{out}/csv")
    nation.write.mode("overwrite").json(f"{out}/json")
    schema = "n_nationkey int, n_name string, n_regionkey int"
    from_csv = spark.read.schema(schema).option("header", True).csv(f"{out}/csv")
    from_json = spark.read.schema(schema).json(f"{out}/json")
    return (
        from_csv.alias("c")
        .join(from_json.alias("j"), "n_nationkey")
        .select("n_nationkey", F.col("c.n_name").alias("name_csv"), F.col("j.n_name").alias("name_json"))
    )


@query(
    "q_source_orc",
    oracle="""
SELECT s_nationkey, COUNT(*) AS n,
       SUM(CAST(ROUND(s_acctbal * 100, 0) AS BIGINT)) / 100.0 AS sum_bal
FROM supplier WHERE s_acctbal > 0 GROUP BY 1
""",
)
def q_source_orc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A3b: ORC source/sink round-trip (the other columnar format the
    reference's Hive world reads natively). Spark's vectorized ORC reader
    gives the same pushdown/pruning properties as parquet; the aggregate
    re-read proves values survive the round trip."""
    out = os.path.join(TMP_DIR, "orc")
    shutil.rmtree(out, ignore_errors=True)
    sup = table(spark, sf_dir, "supplier")
    sup.write.mode("overwrite").orc(out)
    back = spark.read.orc(out)
    return (
        back.where(F.col("s_acctbal") > 0)
        .groupBy("s_nationkey")
        .agg(
            F.count(F.lit(1)).alias("n"),
            (F.sum(rlong(F.col("s_acctbal") * 100)) / F.lit(100.0)).alias(
                "sum_bal"
            ),
        )
    )


@query(
    "q_sink_parquet",
    oracle="SELECT c_mktsegment, COUNT(*) AS n FROM customer GROUP BY 1",
)
def q_sink_parquet(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A4: partitioned parquet sink (the reference's Hive-sink analogue).

    Partitioning by a low-cardinality column is the 100 TB layout: writers are
    parallel per partition, readers prune by it.
    """
    cust = table(spark, sf_dir, "customer")
    back = write_back(cust, os.path.join(TMP_DIR, "sink"), "c_mktsegment")
    return back.groupBy("c_mktsegment").agg(F.count(F.lit(1)).alias("n"))


@query(
    "q_sql_view",
    oracle="SELECT n_name, COUNT(*) AS n_customers FROM customer JOIN nation ON c_nationkey = n_nationkey GROUP BY 1",
)
def q_sql_view(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A5: temp-view registration + SQL-mode execution path."""
    for name in ("customer", "nation"):
        table(spark, sf_dir, name).createOrReplaceTempView(name)
    return spark.sql(
        "SELECT n_name, COUNT(*) AS n_customers "
        "FROM customer JOIN nation ON c_nationkey = n_nationkey GROUP BY n_name"
    )


# --------------------------------------------------------------------------
# M151: line-delimited text source/sink round-trip
# --------------------------------------------------------------------------


@query(
    "q_source_text",
    oracle="""
SELECT CAST(length(text) // 20 AS BIGINT) AS len_bucket,
       COUNT(*) AS n_lines,
       CAST(SUM(length(text)) AS BIGINT) AS total_chars
FROM documents
GROUP BY 1
""",
)
def q_source_text(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M151: spark.read/write.text round-trip — the line-delimited raw-text
    format every web-scrape corpus lands in before parquet conversion
    (completes the source matrix: parquet/csv/json/orc/jdbc/python-ds +
    text). Documents are written as one line each (corpus verified
    newline-free at every SF), read back as the single `value` column,
    and summarized by length bucket so the oracle checks CONTENT, not
    just counts. Line order is irrelevant to the aggregate, so the
    parallel multi-part write is fine — at 100 TB both sides are
    embarrassingly parallel per file split."""
    src = table(spark, sf_dir, "documents").select("text")
    out = os.path.join(TMP_DIR, "textsrc")
    shutil.rmtree(out, ignore_errors=True)
    src.write.mode("overwrite").text(out)
    back = spark.read.text(out)
    return back.groupBy(
        F.expr("CAST(length(value) DIV 20 AS BIGINT)").alias("len_bucket")
    ).agg(
        F.count(F.lit(1)).alias("n_lines"),
        F.sum(F.length("value")).cast("long").alias("total_chars"),
    )


@query(
    "q_source_xml",
    oracle="""
SELECT r_regionkey, r_name, CAST(n AS BIGINT) AS n_nations FROM (
  SELECT r_regionkey, r_name, COUNT(*) AS n
  FROM region JOIN nation ON n_regionkey = r_regionkey
  GROUP BY 1, 2
)
""",
)
def q_source_xml(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A3c: XML source/sink round-trip — Spark 4's built-in XML data source
    (the spark-xml package folded into core), completing the source family
    beside csv/json/orc/text/parquet. Region and nation are written as
    rowTag XML documents, read back WITH AN EXPLICIT SCHEMA (XML inference
    reads every file twice — never at 100 TB), joined and aggregated; the
    oracle on the original parquet proves values survive the round trip.

    Shape: XML parsing is row-local (whole-stage after the scan); the join
    broadcasts the 5-row region side; one grouped count."""
    out = os.path.join(TMP_DIR, "xml")
    shutil.rmtree(out, ignore_errors=True)
    region = table(spark, sf_dir, "region").select("r_regionkey", "r_name")
    nation = table(spark, sf_dir, "nation").select("n_nationkey", "n_regionkey")
    region.write.mode("overwrite").format("xml").option("rowTag", "region").save(f"{out}/region")
    nation.write.mode("overwrite").format("xml").option("rowTag", "nation").save(f"{out}/nation")
    r_back = (
        spark.read.schema("r_regionkey int, r_name string")
        .format("xml").option("rowTag", "region").load(f"{out}/region")
    )
    n_back = (
        spark.read.schema("n_nationkey int, n_regionkey int")
        .format("xml").option("rowTag", "nation").load(f"{out}/nation")
    )
    return (
        F.broadcast(r_back)
        .join(n_back, r_back.r_regionkey == n_back.n_regionkey)
        .groupBy("r_regionkey", "r_name")
        .agg(F.count(F.lit(1)).cast("long").alias("n_nations"))
    )


# --------------------------------------------------------------------------
# M210: Observation metrics — QC aggregates piggybacked on a write action
# --------------------------------------------------------------------------


@query(
    "q_observe_metrics",
    oracle="""
SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(SUM(CAST(ROUND(l_extendedprice * 100, 0) AS BIGINT)) AS BIGINT) AS price_cents,
       CAST(SUM(CASE WHEN l_discount > 0.05 THEN 1 ELSE 0 END) AS BIGINT) AS n_discounted,
       CAST(MIN(l_quantity) AS BIGINT) AS min_qty,
       CAST(MAX(l_quantity) AS BIGINT) AS max_qty
FROM lineitem
""",
)
def q_observe_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M210: df.observe() (the Observation API, Spark 3.3+) — data-quality
    aggregates collected DURING a sink write, with no second scan. The
    100 TB pattern this exists for: every production write should emit
    row counts / sums / bounds for reconciliation, and observe() computes
    them inside the same pass the writer already makes (accumulator-
    backed), where a separate QC query would re-read the table.

    The observed metrics are exact integers (cent sums, counts, integral
    quantity bounds), so the 1-row result is oracle-exact. The 1-row
    spark.createDataFrame from the observation dict is the documented
    driver-side pattern (the joins.py conf-pinning precedent): the
    OBSERVATION is the query result by definition — nothing data-sized
    crosses the driver."""
    from pyspark.sql import Observation

    out = os.path.join(TMP_DIR, "observe_sink")
    shutil.rmtree(out, ignore_errors=True)
    li = table(spark, sf_dir, "lineitem")
    obs = Observation("qc")
    observed = li.observe(
        obs,
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(rlong(F.col("l_extendedprice") * 100)).cast("long").alias("price_cents"),
        F.sum(F.when(F.col("l_discount") > 0.05, 1).otherwise(0))
        .cast("long")
        .alias("n_discounted"),
        F.min("l_quantity").cast("long").alias("min_qty"),
        F.max("l_quantity").cast("long").alias("max_qty"),
    )
    observed.write.mode("overwrite").parquet(out)  # the action that fills obs
    row = obs.get
    return spark.createDataFrame(
        [
            (
                row["n_rows"],
                row["price_cents"],
                row["n_discounted"],
                row["min_qty"],
                row["max_qty"],
            )
        ],
        "n_rows long, price_cents long, n_discounted long, min_qty long, max_qty long",
    )


# --------------------------------------------------------------------------
# M220: binaryFile source — raw-asset ingestion (the multimodal intake path)
# --------------------------------------------------------------------------


@query(
    "q_source_binaryfile",
    oracle="""
WITH t AS (
  SELECT lang, text FROM documents WHERE lang IN ('en', 'de')
)
SELECT lang,
       CAST(1 AS BIGINT) AS n_files,
       CAST(SUM(length(text)) + COUNT(*) AS BIGINT) AS total_bytes
FROM t GROUP BY 1
""",
)
def q_source_binaryfile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M220: the binaryFile datasource — Spark's raw-asset intake for
    multimodal pipelines (each file becomes (path, modificationTime,
    length, content: binary); at 100 TB this is how image/audio blobs
    enter before the q_multimodal_* decode stages, with
    `pathGlobFilter`/`recursiveFileLookup` for layout pruning).

    Round-trip contract: per language, the documents' text is written as
    ONE sorted text file (coalesce(1) pins the file count; orderBy pins
    the content), read back through format('binaryFile'), and the byte
    accounting must reconcile exactly against the source table —
    total_bytes = Σ len(text) + one newline per row (ASCII corpus, so
    bytes == chars; the writer appends '\\n' per record). The lang
    partition directory exercises partitioned binary layout exactly the
    way an image corpus is laid out by shard."""
    out = os.path.join(TMP_DIR, "binsrc")
    shutil.rmtree(out, ignore_errors=True)
    d = table(spark, sf_dir, "documents").where(F.col("lang").isin("en", "de"))
    for lang in ("en", "de"):
        (
            d.where(F.col("lang") == lang)
            .orderBy("doc_id")
            .coalesce(1)
            .select("text")
            .write.mode("overwrite")
            .text(os.path.join(out, f"lang={lang}"))
        )
    bf = (
        spark.read.format("binaryFile")
        .option("pathGlobFilter", "part-*")
        .option("recursiveFileLookup", "false")
        .load(os.path.join(out, "lang=*"))
    )
    return (
        bf.select(
            F.regexp_extract(F.col("path"), r"lang=([a-z]+)", 1).alias("lang"),
            F.length("content").cast("long").alias("nbytes"),
        )
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_files"),
            F.sum("nbytes").cast("long").alias("total_bytes"),
        )
    )
