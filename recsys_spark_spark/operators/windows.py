"""3.E — window functions.

Every window partitions by a key (customer/user/brand) → partition-parallel at
scale; no global (unpartitioned) windows outside F3's explicitly-small case.
Running/moving sums are computed over scaled integers so sliding-frame
incremental evaluation (DuckDB) and full-frame evaluation (Spark) agree
bit-for-bit.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from recsys_spark_spark.catalog import table
from recsys_spark_spark.functions.determinism import rlong
from recsys_spark_spark.registry import query


@query(
    "q_window_rank",
    oracle="""
SELECT p_partkey, p_brand, p_retailprice,
       CAST(ROW_NUMBER() OVER (PARTITION BY p_brand ORDER BY p_retailprice DESC, p_partkey) AS BIGINT) AS rn,
       CAST(RANK() OVER (PARTITION BY p_brand ORDER BY p_retailprice DESC) AS BIGINT) AS rnk,
       CAST(DENSE_RANK() OVER (PARTITION BY p_brand ORDER BY p_retailprice DESC) AS BIGINT) AS drnk
FROM part
""",
)
def q_window_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E1: ranking trio — the CF top-K/top-N primitive. row_number gets a
    total order (tie-break on partkey); rank/dense_rank depend only on the
    key value so ties are deterministic without it."""
    p = table(spark, sf_dir, "part")
    by_price = Window.partitionBy("p_brand").orderBy(F.col("p_retailprice").desc())
    total = Window.partitionBy("p_brand").orderBy(F.col("p_retailprice").desc(), F.col("p_partkey"))
    return p.select(
        "p_partkey",
        "p_brand",
        "p_retailprice",
        F.row_number().over(total).cast("long").alias("rn"),
        F.rank().over(by_price).cast("long").alias("rnk"),
        F.dense_rank().over(by_price).cast("long").alias("drnk"),
    )


@query(
    "q_window_running",
    oracle="""
SELECT o_orderkey, o_custkey,
       SUM(CAST(ROUND(o_totalprice * 100, 0) AS BIGINT))
         OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) / 100 AS running_spend
FROM orders
""",
)
def q_window_running(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E2: cumulative spend per customer (unbounded-preceding frame)."""
    o = table(spark, sf_dir, "orders")
    w = (
        Window.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cents = rlong(F.col("o_totalprice") * 100)
    return o.select(
        "o_orderkey",
        "o_custkey",
        (F.sum(cents).over(w) / F.lit(100)).alias("running_spend"),
    )


@query(
    "q_window_lag_lead",
    oracle="""
WITH ev AS (
  SELECT event_id, user_id, date_trunc('second', ts) AS sec FROM events
)
SELECT event_id, user_id,
       CAST(date_diff('second',
            LAG(sec) OVER (PARTITION BY user_id ORDER BY sec, event_id), sec) AS BIGINT) AS gap_s,
       LEAD(event_id) OVER (PARTITION BY user_id ORDER BY sec, event_id) AS next_event_id
FROM ev
""",
)
def q_window_lag_lead(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E3: lag/lead — inter-event gap per user (second granularity; the
    events table is ns and Spark truncates to µs, SURVEY.md §7.5)."""
    ev = table(spark, sf_dir, "events").select(
        "event_id", "user_id", F.date_trunc("second", "ts").alias("sec")
    )
    w = Window.partitionBy("user_id").orderBy("sec", "event_id")
    return ev.select(
        "event_id",
        "user_id",
        (F.unix_timestamp("sec") - F.unix_timestamp(F.lag("sec").over(w))).alias("gap_s"),
        F.lead("event_id").over(w).alias("next_event_id"),
    )


@query(
    "q_window_moving",
    oracle="""
WITH w AS (
  SELECT o_orderkey, o_custkey,
         SUM(CAST(ROUND(o_totalprice * 100, 0) AS BIGINT))
           OVER win AS s_cents,
         COUNT(*) OVER win AS n
  FROM orders
  WINDOW win AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                 ROWS BETWEEN 2 PRECEDING AND CURRENT ROW)
)
SELECT o_orderkey, o_custkey, ROUND(s_cents / (n * 100.0), 6) AS moving_avg
FROM w
""",
)
def q_window_moving(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E4: 3-row moving average of order value per customer."""
    o = table(spark, sf_dir, "orders")
    w = (
        Window.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(-2, Window.currentRow)
    )
    cents = rlong(F.col("o_totalprice") * 100)
    return o.select(
        "o_orderkey",
        "o_custkey",
        F.round(F.sum(cents).over(w) / (F.count(F.lit(1)).over(w) * F.lit(100.0)), 6).alias("moving_avg"),
    )


@query(
    "q_window_ntile",
    oracle="""
SELECT c_custkey, c_acctbal,
       CAST(NTILE(4) OVER ord AS BIGINT) AS quartile,
       ROUND(PERCENT_RANK() OVER ord, 6) AS pct_rank,
       ROUND(CUME_DIST() OVER ord, 6) AS cume
FROM customer
WINDOW ord AS (ORDER BY c_acctbal, c_custkey)
""",
)
def q_window_ntile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E5: distribution functions over account balance.

    No unpartitioned window. The (c_acctbal, c_custkey)
    ordering is a TOTAL order (custkey unique → no peer groups), so every
    distribution function is a closed form of the distributed global rank
    (operators.sorts.global_rank) and the 1-row broadcast count n:
      NTILE(4)      — SQL NTILE's exact uneven-bucket arithmetic (integer
                      ceils; same formula as q_quantile_bins);
      PERCENT_RANK  — (pos − 1) / (n − 1): with no peers rank() ≡ pos;
      CUME_DIST     — pos / n: with no peers the ≤-count is pos.
    Each is one IEEE division of exact integers, rounded once — identical
    doubles to the oracle's window-function forms."""
    from recsys_spark_spark.operators.sorts import global_rank

    c = table(spark, sf_dir, "customer").select("c_custkey", "c_acctbal")
    ranked = global_rank(
        spark,
        c,
        value_col="c_acctbal",
        tiebreak="c_custkey",
        pos_col="pos",
        descending=False,
    )
    n_total = c.agg(F.count(F.lit(1)).alias("n_total"))
    q, r = "(n_total DIV 4)", "(n_total % 4)"
    return ranked.join(F.broadcast(n_total)).select(
        "c_custkey",
        "c_acctbal",
        F.expr(
            f"""CAST(CASE
              WHEN pos <= {r} * ({q} + 1)
                THEN (pos + {q}) DIV ({q} + 1)
              ELSE {r} + (pos - {r} * ({q} + 1) + {q} - 1) DIV {q}
            END AS BIGINT)"""
        ).alias("quartile"),
        F.round((F.col("pos") - 1) / (F.col("n_total") - 1), 6).alias("pct_rank"),
        F.round(F.col("pos") / F.col("n_total"), 6).alias("cume"),
    )


@query(
    "q_window_range_frame",
    oracle="""
WITH o AS (
  SELECT o_orderkey, o_custkey,
         CAST(date_part('epoch', o_orderdate) AS BIGINT) AS od_sec,
         CAST(ROUND(o_totalprice * 100, 0) AS BIGINT) AS cents
  FROM orders
)
SELECT o_orderkey, o_custkey,
       SUM(cents) OVER (PARTITION BY o_custkey ORDER BY od_sec
                        RANGE BETWEEN 2592000 PRECEDING AND CURRENT ROW) / 100
         AS spend_30d
FROM o
""",
)
def q_window_range_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E6: value-range frame — per-customer spend in the 30 days up to each
    order (rangeBetween over epoch seconds; peers at the same timestamp are
    included by RANGE semantics, so no tie-break is needed)."""
    o = table(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_custkey",
        F.unix_timestamp("o_orderdate").alias("od_sec"),
        rlong(F.col("o_totalprice") * 100).alias("cents"),
    )
    w = Window.partitionBy("o_custkey").orderBy("od_sec").rangeBetween(-2592000, 0)
    return o.select(
        "o_orderkey",
        "o_custkey",
        (F.sum("cents").over(w) / F.lit(100)).alias("spend_30d"),
    )


# --------------------------------------------------------------------------
# M76: running count-distinct over a window
# --------------------------------------------------------------------------


@query(
    "q_window_count_distinct",
    oracle="""
WITH flagged AS (
  SELECT o_custkey, o_orderkey, o_orderdate, o_orderpriority,
         CASE WHEN ROW_NUMBER() OVER (PARTITION BY o_custkey, o_orderpriority
                                      ORDER BY o_orderdate, o_orderkey) = 1
              THEN 1 ELSE 0 END AS first_seen
  FROM orders
)
SELECT o_custkey, o_orderkey,
       CAST(SUM(first_seen) OVER (PARTITION BY o_custkey
                                  ORDER BY o_orderdate, o_orderkey
                                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
            AS BIGINT) AS distinct_priorities_so_far
FROM flagged
""",
)
def q_window_count_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M76: running COUNT(DISTINCT) per key — how many distinct order
    priorities each customer has used up to each order. Neither engine
    supports DISTINCT aggregates in a running window frame, so the portable
    (and scalable) form is the first-occurrence trick: flag the first time
    each (customer, priority) appears — one row_number window — then a
    running SUM of the flag. Two sorts over the same customer partitioning
    (AQE reuses the exchange); no per-row set state, which is what a naive
    collect_set-over-frame would keep."""
    o = table(spark, sf_dir, "orders")
    first_w = Window.partitionBy("o_custkey", "o_orderpriority").orderBy(
        "o_orderdate", "o_orderkey"
    )
    run_w = (
        Window.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    flagged = o.withColumn(
        "first_seen",
        F.when(F.row_number().over(first_w) == 1, 1).otherwise(0),
    )
    return flagged.select(
        "o_custkey",
        "o_orderkey",
        F.sum("first_seen").over(run_w).cast("long").alias("distinct_priorities_so_far"),
    )


# --------------------------------------------------------------------------
# M123: moving window median (robust trend smoother)
# --------------------------------------------------------------------------

MOVMED_FRAME = 6  # current row + 6 preceding = 7-order window


@query(
    "q_window_moving_median",
    oracle=f"""
WITH b AS (
  SELECT o_orderkey, o_custkey, o_orderdate,
         CAST(ROUND(o_totalprice * 100, 0) AS BIGINT) AS cents
  FROM orders
)
SELECT o_orderkey, o_custkey, cents,
       CAST(ROUND(2 * quantile_cont(cents, 0.5) OVER w, 0) AS BIGINT) AS movmed2,
       COUNT(*) OVER w AS n_in_frame
FROM b
WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
             ROWS BETWEEN {MOVMED_FRAME} PRECEDING AND CURRENT ROW)
""",
)
def q_window_moving_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M123: per-customer moving MEDIAN of order value over the last
    {MOVMED_FRAME + 1} orders — the robust companion to q_window_moving's
    mean and q_ts_ewma's exponential smoother: one outlier order cannot
    drag the trend line. E4-family window with an exact percentile
    aggregate as the frame function.

    Exactness: the interpolated frame median of integer cents is an exact
    integer or half — doubling it (movmed2) makes the output pure integer
    (the q_outlier_mad trick), so no rounding pair is involved at all.
    Scale shape: ONE per-customer window sort shared by both frame
    aggregates; frames are bounded ({MOVMED_FRAME + 1} rows), so state per
    row is constant and the window is partition-parallel on user key —
    unlike a global percentile, this needs no value-bucket machinery."""
    from recsys_spark_spark.functions.determinism import rlong

    o = table(spark, sf_dir, "orders")
    b = o.select(
        "o_orderkey",
        "o_custkey",
        "o_orderdate",
        rlong(F.col("o_totalprice") * 100).cast("long").alias("cents"),
    )
    w = (
        Window.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(-MOVMED_FRAME, Window.currentRow)
    )
    return b.select(
        "o_orderkey",
        "o_custkey",
        "cents",
        rlong(F.lit(2) * F.percentile("cents", 0.5).over(w))
        .cast("long")
        .alias("movmed2"),
        F.count(F.lit(1)).over(w).alias("n_in_frame"),
    )
