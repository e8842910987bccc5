"""3.F — sorts, limits, top-k.

F1 compiles to TakeOrderedAndProject (per-partition heap + driver merge of k
rows — no global sort even at 100 TB). F2 is the grouped top-k window form.
Since the driver's value-hash is order-insensitive, orderings are made
observable by materializing rank columns.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from recsys_spark_spark.catalog import table
from recsys_spark_spark.functions.determinism import osum, rlong
from recsys_spark_spark.registry import query


@query(
    "q_orderby_limit",
    oracle="""
SELECT o_orderkey, o_totalprice
FROM orders
ORDER BY o_totalprice DESC, o_orderkey
LIMIT 10
""",
)
def q_orderby_limit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F1: global top-k — largest orders, ties broken by key."""
    return (
        table(spark, sf_dir, "orders")
        .orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey"))
        .limit(10)
        .select("o_orderkey", "o_totalprice")
    )


@query(
    "q_topk_per_group",
    oracle=f"""
WITH rev AS (
  SELECT p_brand, l_partkey, {osum("l_extendedprice * (1 - l_discount)")} AS revenue
  FROM lineitem JOIN part ON l_partkey = p_partkey
  GROUP BY 1, 2
)
SELECT p_brand, l_partkey, revenue, rnk FROM (
  SELECT p_brand, l_partkey, revenue,
         CAST(ROW_NUMBER() OVER (PARTITION BY p_brand ORDER BY revenue DESC, l_partkey) AS BIGINT) AS rnk
  FROM rev
) WHERE rnk <= 3
""",
)
def q_topk_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F2: top-3 parts by revenue per brand — window row_number form (the
    same physical plan Catalyst derives; per-brand parallel)."""
    l = table(spark, sf_dir, "lineitem")
    p = F.broadcast(table(spark, sf_dir, "part"))
    rev = (
        l.join(p, l.l_partkey == p.p_partkey)
        .groupBy("p_brand", "l_partkey")
        .agg(
            (F.sum(rlong(F.col("l_extendedprice") * (1 - F.col("l_discount")) * F.lit(1e6))) / F.lit(1e6)).alias("revenue")
        )
    )
    w = Window.partitionBy("p_brand").orderBy(F.col("revenue").desc(), F.col("l_partkey"))
    return (
        rev.withColumn("rnk", F.row_number().over(w).cast("long"))
        .where(F.col("rnk") <= 3)
    )


@query(
    "q_sort_multi",
    oracle="""
WITH agg AS (
  SELECT c_custkey, MAX(o_totalprice) AS max_price
  FROM customer LEFT JOIN orders ON c_custkey = o_custkey
  GROUP BY 1
)
SELECT c_custkey, max_price,
       CAST(ROW_NUMBER() OVER (ORDER BY max_price DESC NULLS LAST, c_custkey) AS BIGINT) AS pos
FROM agg
""",
)
def q_sort_multi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F3: multi-key sort with explicit null ordering (desc_nulls_last) —
    Spark's default (nulls first on asc) differs from DuckDB's, so both sides
    pin NULLS LAST explicitly (SURVEY.md §7.5).

    Global position WITHOUT a global window: an unpartitioned
    ``Window.orderBy`` funnels the whole customer-sized aggregate through one
    task (Spark's "No Partition Defined" warning — fatal at 100×). Instead
    the rank is distributed by VALUE-bucketing the sort key (range
    partitioning by data values, not physical partition ids, so correctness
    never depends on exchange reuse or sampling):

      1. ~equi-frequency bucket boundaries from one ``approx_percentile``
         over the sort column (a 1-row aggregate, broadcast);
      2. each row's bucket = #boundaries strictly greater than its value
         (buckets are monotone in the DESC total order; NULLs → last
         bucket, matching desc_nulls_last);
      3. local rank via a window PARTITIONED by bucket — parallel, one
         keyed exchange;
      4. per-bucket row counts (≤ nbuckets+1 rows) → cumulative offsets by
         a triangular self-join over that tiny table (bounded by buckets²,
         never by data), broadcast back; ``pos = offset + local rank``.

    Boundary placement only moves rows between buckets — every bucket
    carries ALL rows in its value range and ties share a bucket, so pos is
    exact for any boundary set (plan-asserted distributed in
    tests/test_plans.py::test_sort_multi_rank_is_distributed)."""
    c = table(spark, sf_dir, "customer")
    o = table(spark, sf_dir, "orders")
    agg = (
        c.join(o, c.c_custkey == o.o_custkey, "left")
        .groupBy("c_custkey")
        .agg(F.max("o_totalprice").alias("max_price"))
    )
    ranked = global_rank(
        spark, agg, value_col="max_price", tiebreak="c_custkey", pos_col="pos"
    )
    return ranked.select("c_custkey", "max_price", "pos")


def global_rank(
    spark: SparkSession,
    df: DataFrame,
    value_col: str,
    tiebreak: str,
    pos_col: str = "pos",
    descending: bool = True,
) -> DataFrame:
    """Distributed exact global rank (1-based, gapless) over
    (value_col DESC NULLS LAST | ASC NULLS LAST, tiebreak) — the shared
    scale-safe replacement for an unpartitioned ``row_number`` window
    (used by q_sort_multi and q_decile_lift).

    Buckets are VALUE-determined (approx_percentile boundaries broadcast
    from a 1-row aggregate), so correctness never depends on physical
    partition ids, exchange reuse, or sampling: boundary placement only
    moves rows between buckets — each bucket still holds ALL rows of its
    value range and ties share a bucket, so offset + local rank is exact
    for any boundary set. Appends `pos_col` (long); input columns pass
    through."""
    bucketed = value_buckets(spark, df, value_col, descending=descending)
    v = F.col(value_col)
    order = v.desc_nulls_last() if descending else v.asc_nulls_last()
    wb = Window.partitionBy("_bkt").orderBy(order, F.col(tiebreak))
    ranked = bucketed.withColumn("_rn", F.row_number().over(wb))
    counts = bucketed.groupBy("_bkt").agg(F.count(F.lit(1)).alias("_cnt"))
    offsets = (
        counts.alias("a")
        .join(counts.alias("b"), F.col("b._bkt") < F.col("a._bkt"), "left")
        .groupBy(F.col("a._bkt").alias("_bkt"))
        .agg(F.coalesce(F.sum("b._cnt"), F.lit(0)).alias("_off"))
    )
    return (
        ranked.join(F.broadcast(offsets), "_bkt")
        .withColumn(pos_col, (F.col("_off") + F.col("_rn")).cast("long"))
        .drop("_bkt", "_rn", "_off")
    )


def value_buckets(
    spark: SparkSession,
    df: DataFrame,
    value_col: str,
    descending: bool = False,
) -> DataFrame:
    """Append a `_bkt` column: the row's ~equi-frequency VALUE bucket along
    the (value_col, NULLS LAST) order — approx_percentile boundaries from a
    1-row broadcast aggregate, bucket = #boundaries strictly in front of the
    row's value. The shared primitive under every distributed order-
    dependent computation here (global_rank's ranks, the streaming twin's
    prefix max): boundary placement only moves rows BETWEEN buckets, each
    bucket still holds all rows of a contiguous value range and ties share
    a bucket, so per-bucket computation + cross-bucket combination is exact
    for any boundary set."""
    nb = int(spark.conf.get("spark.sql.shuffle.partitions"))
    pcts = [i / nb for i in range(1, nb)]
    v = F.col(value_col)
    if not pcts:  # percentile_approx(v, []) is NULL: one bucket, no bounds
        return df.withColumn("_bkt", F.when(v.isNull(), F.lit(nb)).otherwise(F.lit(0)))
    bounds = df.agg(F.percentile_approx(value_col, pcts, 10_000).alias("_bounds"))
    in_front = (lambda b: b > v) if descending else (lambda b: b < v)
    return (
        df.join(F.broadcast(bounds))  # 1-row cross: attaches boundaries
        .withColumn(
            "_bkt",
            F.when(v.isNull(), F.lit(nb)).otherwise(  # NULLS LAST
                F.size(F.filter("_bounds", in_front))
            ),
        )
        .drop("_bounds")
    )


def ordered_prefix_sums(
    spark: SparkSession,
    df: DataFrame,
    order_col: str,
    tiebreak: str,
    sum_cols: dict,
    descending: bool = False,
) -> DataFrame:
    """Distributed exact prefix sums of one or more LONG columns along the
    (order_col | tiebreak) total order — the running-total sibling of
    :func:`global_rank`, and the scale-safe replacement for an
    unpartitioned ``sum().over(Window.orderBy(...))``.
    ``sum_cols`` maps input column -> output prefix column.

    Same value-bucket argument as global_rank: bucket boundaries only
    move rows between buckets, each bucket still holds ALL rows of its
    order-value range, so per-bucket running sums + the broadcast sum of
    all PRECEDING buckets' totals compose into the exact global prefix
    sum for any boundary placement (integer sums commute within ties).
    Appends the output columns; input columns pass through."""
    bucketed = value_buckets(spark, df, order_col, descending=descending)
    v = F.col(order_col)
    order = v.desc_nulls_last() if descending else v.asc_nulls_last()
    wrun = (
        Window.partitionBy("_bkt")
        .orderBy(order, F.col(tiebreak))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    running = bucketed
    for src in sum_cols:
        running = running.withColumn(f"_lrun_{src}", F.sum(src).over(wrun))
    totals = bucketed.groupBy("_bkt").agg(
        *[F.sum(src).alias(f"_tot_{src}") for src in sum_cols]
    )
    offsets = (
        totals.alias("a")
        .join(totals.alias("b"), F.col("b._bkt") < F.col("a._bkt"), "left")
        .groupBy(F.col("a._bkt").alias("_bkt"))
        .agg(
            *[
                F.coalesce(F.sum(f"b._tot_{src}"), F.lit(0)).alias(f"_off_{src}")
                for src in sum_cols
            ]
        )
    )
    out = running.join(F.broadcast(offsets), "_bkt")
    for src, dst in sum_cols.items():
        out = out.withColumn(
            dst, (F.col(f"_off_{src}") + F.col(f"_lrun_{src}")).cast("long")
        )
    drop = ["_bkt"] + [f"_lrun_{s}" for s in sum_cols] + [f"_off_{s}" for s in sum_cols]
    return out.drop(*drop)


def global_running_sum(
    spark: SparkSession,
    df: DataFrame,
    value_col: str,
    tiebreak: str,
    sum_col: str = "run",
    descending: bool = True,
) -> DataFrame:
    """Prefix sum of ``value_col`` along its own (value | tiebreak) order —
    the single-column convenience form of :func:`ordered_prefix_sums`
    (used by q_part_abc's Pareto cut)."""
    return ordered_prefix_sums(
        spark,
        df,
        order_col=value_col,
        tiebreak=tiebreak,
        sum_cols={value_col: sum_col},
        descending=descending,
    )
