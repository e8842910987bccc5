"""3.L — the UDF/UDAF/UDTF surface.

Demonstrates every Python-extension path Spark offers, ordered by cost:
plain @udf (row-at-a-time pickling — the slow path, present for parity only),
@pandas_udf scalar (Arrow batches, the right default), pandas grouped
aggregate, applyInPandas grouped map, mapInPandas iterator, and a Spark 4
Python UDTF. Inside vectorized UDFs all aggregation uses integer-scaled sums
so results stay order-independent (same discipline as the JVM-side queries).
"""

from __future__ import annotations

import math
from collections.abc import Iterator

import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import DoubleType, LongType, StringType

from recsys_spark_spark.catalog import table
from recsys_spark_spark.registry import query


@query(
    "q_udf_python",
    oracle="""
SELECT l_orderkey, l_linenumber,
       l_extendedprice * (1 - l_discount) AS net_price
FROM lineitem
WHERE l_quantity >= 49
""",
)
def q_udf_python(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L1: row-at-a-time Python UDF. Python float mul/sub is the same IEEE
    double op the SQL engines run, so values match exactly. Input is
    pre-filtered JVM-side — never put a row-UDF on the full fact table."""

    @F.udf(returnType=DoubleType())
    def net_price(price: float, discount: float) -> float:
        return price * (1 - discount)

    l = table(spark, sf_dir, "lineitem").where(F.col("l_quantity") >= 49)
    return l.select(
        "l_orderkey",
        "l_linenumber",
        net_price("l_extendedprice", "l_discount").alias("net_price"),
    )


@query(
    "q_udf_pandas",
    oracle="""
SELECT l_orderkey, l_linenumber,
       l_extendedprice * (1 - l_discount) AS net_price
FROM lineitem
""",
)
def q_udf_pandas(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L2: vectorized scalar pandas UDF — same semantics as L1, Arrow-batched
    (numpy doubles are IEEE-identical to the JVM's), safe on the full table."""

    @F.pandas_udf(DoubleType())
    def net_price(price: pd.Series, discount: pd.Series) -> pd.Series:
        return price * (1 - discount)

    # Examined in the sf1 probe and deliberately left: spread() was tried
    # and REVERTED on measurement — the keyless repartition's
    # sort-before-repartition of 6M rows cost 3x more than the widened
    # ArrowEval saved (sf1 noop 2.5 s -> 7.1 s), because the UDF body is
    # one vectorized multiply: too cheap to buy parallelism with a shuffle
    # (fix per-task work only when it dominates). The 5.6x
    # sf1 noop ratio is row-mass-linear Arrow transport, the declared
    # surface of this query.
    l = table(spark, sf_dir, "lineitem")
    return l.select(
        "l_orderkey",
        "l_linenumber",
        net_price("l_extendedprice", "l_discount").alias("net_price"),
    )


@query(
    "q_udaf_pandas",
    oracle="""
SELECT p_brand,
       ROUND(SUM(CAST(ROUND(l_extendedprice * l_quantity * 1e6, 0) AS BIGINT)) / 1e6
             / SUM(CAST(ROUND(l_quantity, 0) AS BIGINT)), 6) AS weighted_avg_price
FROM lineitem JOIN part ON l_partkey = p_partkey
GROUP BY 1
""",
)
def q_udaf_pandas(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L3: grouped-aggregate pandas UDF — quantity-weighted mean price per
    brand, accumulated in scaled int64 so batch order can't change the sum."""

    @F.pandas_udf(DoubleType())
    def weighted_avg(price: pd.Series, qty: pd.Series) -> float:
        s = int((price * qty * 1e6).round(0).astype("int64").sum())
        w = int(qty.round(0).astype("int64").sum())
        return round(s / 1e6 / w, 6)

    l = table(spark, sf_dir, "lineitem")
    p = F.broadcast(table(spark, sf_dir, "part"))
    return (
        l.join(p, l.l_partkey == p.p_partkey)
        .groupBy("p_brand")
        .agg(weighted_avg("l_extendedprice", "l_quantity").alias("weighted_avg_price"))
    )


@query(
    "q_udtf_applyinpandas",
    oracle="""
WITH c AS (
  SELECT o_orderkey, o_custkey, CAST(ROUND(o_totalprice * 100, 0) AS BIGINT) AS cents
  FROM orders
), s AS (
  SELECT o_orderkey, o_custkey, cents,
         SUM(cents) OVER w AS sx, SUM(cents * cents) OVER w AS sxx, COUNT(*) OVER w AS n
  FROM c WINDOW w AS (PARTITION BY o_custkey)
)
SELECT o_orderkey, o_custkey,
       ROUND((cents - sx / n) / SQRT((sxx - sx * sx / n) / (n - 1)), 6) AS z
FROM s WHERE n > 1
""",
)
def q_udtf_applyinpandas(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L4: grouped-map applyInPandas — per-customer z-score of order totals.
    Moments from integer cents; the closed-form matches the SQL oracle
    bit-for-bit (same trick as q_agg_stats)."""

    def zscore(pdf: pd.DataFrame) -> pd.DataFrame:
        n = len(pdf)
        if n < 2:
            return pd.DataFrame(columns=["o_orderkey", "o_custkey", "z"])
        cents = (pdf["o_totalprice"] * 100).round(0).astype("int64")
        sx = int(cents.sum())
        sxx = int((cents * cents).sum())
        mean = sx / n
        std = math.sqrt((sxx - sx * sx / n) / (n - 1))
        return pd.DataFrame(
            {
                "o_orderkey": pdf["o_orderkey"],
                "o_custkey": pdf["o_custkey"],
                "z": ((cents - mean) / std).round(6),
            }
        )

    o = table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey", "o_totalprice")
    # AQE's byte-based partition coalescing
    # shrank the 2.9 MB pre-group exchange to TWO partitions, so all ~15k
    # per-customer Python invocations ran through two workers sequentially
    # (measured: a 2-task stage, 34.7 s task time, 1.1 s executor CPU — the
    # JVM just waits on the per-group Python protocol). An explicit
    # numPartitions = defaultParallelism hash repartition on the grouping
    # key satisfies the grouped-map distribution (no second exchange), is
    # exempt from AQE coalescing, and sizes the compute-bound stage by the
    # session's cores — scale-adaptively, since on a cluster
    # defaultParallelism IS the executor core count.
    return (
        o.repartition(spark.sparkContext.defaultParallelism, "o_custkey")
        .groupBy("o_custkey")
        .applyInPandas(zscore, "o_orderkey long, o_custkey long, z double")
    )


@query(
    "q_mapinpandas",
    oracle="""
SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
       CAST(n_chars AS BIGINT) AS n_chars
FROM documents
""",
)
def q_mapinpandas(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L5a: mapInPandas iterator transform — per-batch tokenize+count, the
    multimodal/feature-extraction plumbing shape (llm.multimodal reuses it)."""

    def count_tokens(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "n_tokens": pdf["text"].str.split(" ").str.len().astype("int64"),
                    "n_chars": pdf["n_chars"].astype("int64"),
                }
            )

    d = table(spark, sf_dir, "documents").select("doc_id", "text", "n_chars")
    return d.mapInPandas(count_tokens, "doc_id long, n_tokens long, n_chars long")


@query(
    "q_udtf_lateral",
    oracle="""
SELECT doc_id, t.token
FROM documents, unnest(string_split(text, ' ')) AS t(token)
WHERE doc_id < 20
""",
)
def q_udtf_lateral(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L5b: Spark 4 Python UDTF in a lateral join — one row per token."""
    from pyspark.sql.functions import udtf

    @udtf(returnType="token: string")
    class Tokenize:
        def eval(self, text: str):
            for tok in text.split(" "):
                yield (tok,)

    spark.udtf.register("tokenize_udtf", Tokenize)
    table(spark, sf_dir, "documents").createOrReplaceTempView("documents")
    return spark.sql(
        """
        SELECT doc_id, t.token
        FROM documents, LATERAL tokenize_udtf(text) AS t
        WHERE doc_id < 20
        """
    )


@query(
    "q_udf_arrow",
    oracle="""
SELECT o_orderkey,
       UPPER(o_orderpriority) || '#' || CAST(o_custkey % 10 AS VARCHAR) AS pri_tag,
       CAST(ROUND(o_totalprice * 100, 0) AS BIGINT) % 97 AS price_mod
FROM orders
WHERE o_orderstatus = 'F'
""",
)
def q_udf_arrow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L6: Arrow-optimized Python UDF (Spark 4 `useArrow=True`) — the
    row-function API with pandas-UDF transport: the batch crosses to
    Python over Arrow once per partition instead of pickling row by row
    (~an order of magnitude less serialization overhead than L1), while
    the author still writes a plain scalar function. The modern default
    for Python logic that genuinely can't be a column expression.

    Exactness: string upper/concat and integer modulus are
    representation-free, so the oracle is the equivalent SQL; the cents
    rounding reuses Python banker's-free round-half via int(x+0.5) on a
    non-negative price, matching ROUND(x, 0). Input pre-filtered
    JVM-side (same L1 discipline — never feed a Python UDF the rows a
    filter could have dropped)."""

    @F.udf(returnType=StringType(), useArrow=True)
    def pri_tag(priority: str, cust: int) -> str:
        return f"{priority.upper()}#{cust % 10}"

    @F.udf(returnType=LongType(), useArrow=True)
    def price_mod(price: float) -> int:
        return int(price * 100 + 0.5) % 97

    o = table(spark, sf_dir, "orders").where(F.col("o_orderstatus") == "F")
    return o.select(
        "o_orderkey",
        pri_tag("o_orderpriority", "o_custkey").alias("pri_tag"),
        price_mod("o_totalprice").alias("price_mod"),
    )


@query(
    "q_udtf_table_arg",
    oracle="""
WITH b AS (
  SELECT c_mktsegment, CAST(ROUND(o_totalprice * 100, 0) AS BIGINT) AS cents
  FROM orders JOIN customer ON o_custkey = c_custkey
)
SELECT c_mktsegment AS segment,
       CAST(COUNT(*) AS BIGINT) AS n,
       CAST(SUM(cents) AS BIGINT) AS total_cents,
       CAST(MAX(cents) AS BIGINT) AS max_cents
FROM b GROUP BY 1
""",
)
def q_udtf_table_arg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L5c: Python UDTF with a TABLE argument + PARTITION BY (Spark 4) —
    the polymorphic table function shape: the UDTF consumes WHOLE
    PARTITIONS of an input relation (here: one market segment each) and
    emits one summary row per partition from accumulated state. This is
    the SQL-standard PTF surface (ISO SQL:2016) that lateral-join UDTFs
    (L5) can't express — eval() sees every row of its partition, with
    the partitioning declared IN SQL, not in Python.

    The fold keeps exact integers (count, Σcents, max), so the oracle is
    a plain grouped aggregate — equality proves the partition routing
    delivered every row exactly once. At 100 TB each partition streams
    through its UDTF instance via Arrow batches; parallelism = number of
    partition keys (the same contract as applyInPandas, one tier up in
    the SQL surface)."""
    from pyspark.sql.functions import udtf

    @udtf(returnType="segment string, n long, total_cents long, max_cents long")
    class SegmentSummary:
        def __init__(self) -> None:
            self._seg = None
            self._n = 0
            self._sum = 0
            self._max = None

        def eval(self, row):
            self._seg = row["c_mktsegment"]
            self._n += 1
            c = row["cents"]
            self._sum += c
            self._max = c if self._max is None else max(self._max, c)

        def terminate(self):
            if self._n:
                yield (self._seg, self._n, self._sum, self._max)

    spark.udtf.register("segment_summary", SegmentSummary)
    o = table(spark, sf_dir, "orders").select("o_custkey", "o_totalprice")
    c = table(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    b = o.join(c, o.o_custkey == c.c_custkey).select(
        "c_mktsegment",
        F.expr("CAST(ROUND(o_totalprice * 100, 0) AS BIGINT)").alias("cents"),
    )
    b.createOrReplaceTempView("seg_cents")
    return spark.sql(
        "SELECT * FROM segment_summary(TABLE(seg_cents) PARTITION BY c_mktsegment)"
    )
