"""3.D — aggregations.

All double-typed measures go through the scaled-integer-sum discipline
(functions.determinism) so partial/final aggregation order never changes the
result. Variance/stddev/corr are computed from integer moment sums with the
identical closed-form expression on both engines — the only way to make
second-moment statistics hash-stable (Welford vs two-pass orderings differ).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from recsys_spark_spark.catalog import table
from recsys_spark_spark.functions.determinism import davg, dround, dsum, oavg, osum, rlong
from recsys_spark_spark.registry import query


@query(
    "q_agg_groupby",
    oracle=f"""
SELECT l_returnflag, l_linestatus,
       SUM(l_quantity) AS sum_qty,
       {osum("l_extendedprice")} AS sum_base_price,
       {osum("l_extendedprice * (1 - l_discount)")} AS sum_disc_price,
       {osum("l_extendedprice * (1 - l_discount) * (1 + l_tax)")} AS sum_charge,
       {oavg("l_quantity")} AS avg_qty,
       {oavg("l_extendedprice")} AS avg_price,
       {oavg("l_discount")} AS avg_disc,
       COUNT(*) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '2001-09-01'
GROUP BY 1, 2
""",
)
def q_agg_groupby(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D1: TPC-H Q1 shape — partial+final HashAggregate, 8 measures."""
    l = table(spark, sf_dir, "lineitem").where(
        F.col("l_shipdate") <= F.lit("2001-09-01").cast("timestamp")
    )
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    charge = disc_price * (1 + F.col("l_tax"))
    return l.groupBy("l_returnflag", "l_linestatus").agg(
        F.sum("l_quantity").alias("sum_qty"),  # integral doubles: exact as-is
        dsum(F.col("l_extendedprice")).alias("sum_base_price"),
        dsum(disc_price).alias("sum_disc_price"),
        dsum(charge).alias("sum_charge"),
        davg(F.col("l_quantity")).alias("avg_qty"),
        davg(F.col("l_extendedprice")).alias("avg_price"),
        davg(F.col("l_discount")).alias("avg_disc"),
        F.count(F.lit(1)).alias("count_order"),
    )


@query(
    "q_agg_distinct",
    oracle="""
SELECT c_mktsegment,
       COUNT(DISTINCT o_custkey) AS n_buyers,
       COUNT(*) AS n_orders
FROM orders JOIN customer ON o_custkey = c_custkey
GROUP BY 1
""",
)
def q_agg_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D2: distinct aggregate (two-phase expand) alongside a plain count."""
    o = table(spark, sf_dir, "orders")
    c = table(spark, sf_dir, "customer")
    return (
        o.join(c, o.o_custkey == c.c_custkey)
        .groupBy("c_mktsegment")
        .agg(
            F.countDistinct("o_custkey").alias("n_buyers"),
            F.count(F.lit(1)).alias("n_orders"),
        )
    )


@query("q_agg_approx")  # rows-only: estimator-specific values (HLL++, KLL)
def q_agg_approx(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D3/D9-approx: HyperLogLog++ count-distinct and approximate percentiles —
    the sketches that replace exact distinct/percentile at 100 TB."""
    o = table(spark, sf_dir, "orders")
    return o.groupBy("o_orderpriority").agg(
        F.approx_count_distinct("o_custkey", rsd=0.02).alias("approx_buyers"),
        F.percentile_approx("o_totalprice", [0.25, 0.5, 0.75], 10000).alias("price_quartiles"),
    ).select(
        "o_orderpriority",
        "approx_buyers",
        F.col("price_quartiles")[0].alias("p25"),
        F.col("price_quartiles")[1].alias("p50"),
        F.col("price_quartiles")[2].alias("p75"),
    )


_ROLLUP_MEASURE = osum("o_totalprice")


@query(
    "q_agg_rollup",
    oracle=f"""
SELECT CAST(year(o_orderdate) AS BIGINT) AS o_year, o_orderpriority,
       CAST(GROUPING(year(o_orderdate)) * 2 + GROUPING(o_orderpriority) AS BIGINT) AS gid,
       {_ROLLUP_MEASURE} AS revenue, COUNT(*) AS n
FROM orders
GROUP BY ROLLUP (year(o_orderdate), o_orderpriority)
""",
)
def q_agg_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D4: hierarchical subtotals (year, priority) → year → grand total."""
    o = table(spark, sf_dir, "orders").withColumn("o_year", F.year("o_orderdate").cast("long"))
    return (
        o.rollup("o_year", "o_orderpriority")
        .agg(
            F.grouping_id().cast("long").alias("gid"),
            dsum(F.col("o_totalprice")).alias("revenue"),
            F.count(F.lit(1)).alias("n"),
        )
        .select("o_year", "o_orderpriority", "gid", "revenue", "n")
    )


@query(
    "q_agg_cube",
    oracle=f"""
SELECT CAST(year(o_orderdate) AS BIGINT) AS o_year, o_orderstatus,
       CAST(GROUPING(year(o_orderdate)) * 2 + GROUPING(o_orderstatus) AS BIGINT) AS gid,
       {_ROLLUP_MEASURE} AS revenue, COUNT(*) AS n
FROM orders
GROUP BY CUBE (year(o_orderdate), o_orderstatus)
""",
)
def q_agg_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D5: full cube over (year, status) — all four grouping sets."""
    o = table(spark, sf_dir, "orders").withColumn("o_year", F.year("o_orderdate").cast("long"))
    return (
        o.cube("o_year", "o_orderstatus")
        .agg(
            F.grouping_id().cast("long").alias("gid"),
            dsum(F.col("o_totalprice")).alias("revenue"),
            F.count(F.lit(1)).alias("n"),
        )
        .select("o_year", "o_orderstatus", "gid", "revenue", "n")
    )


@query(
    "q_agg_grouping_sets",
    oracle="""
SELECT l_returnflag, l_linestatus, SUM(l_quantity) AS sum_qty, COUNT(*) AS n
FROM lineitem
GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
""",
)
def q_agg_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D6: explicit grouping sets — SQL-mode only (no DataFrame equivalent)."""
    table(spark, sf_dir, "lineitem").createOrReplaceTempView("lineitem")
    return spark.sql(
        """
        SELECT l_returnflag, l_linestatus, SUM(l_quantity) AS sum_qty, COUNT(*) AS n
        FROM lineitem
        GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
        """
    )


@query(
    "q_agg_having",
    oracle="""
SELECT c_nationkey, COUNT(*) AS n_customers
FROM customer
GROUP BY 1
HAVING COUNT(*) > 55
""",
)
def q_agg_having(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D7: post-aggregation filter (HAVING)."""
    return (
        table(spark, sf_dir, "customer")
        .groupBy("c_nationkey")
        .agg(F.count(F.lit(1)).alias("n_customers"))
        .where(F.col("n_customers") > 55)
    )


@query(
    "q_agg_collect",
    oracle="""
WITH d AS (
  SELECT DISTINCT o_custkey AS user_id, l_partkey
  FROM orders JOIN lineitem ON o_orderkey = l_orderkey
)
SELECT user_id,
       string_agg(CAST(l_partkey AS VARCHAR), ',' ORDER BY l_partkey) AS items
FROM d GROUP BY 1
""",
)
def q_agg_collect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D8: list aggregation — per-user sorted item history (the CF user
    vector). collect_set is unordered → sort_array before emitting, and emit
    a joined string so the value hash is representation-independent."""
    o = table(spark, sf_dir, "orders")
    l = table(spark, sf_dir, "lineitem")
    return (
        o.join(l, o.o_orderkey == l.l_orderkey)
        .groupBy(F.col("o_custkey").alias("user_id"))
        .agg(
            F.expr(
                "array_join(transform(sort_array(collect_set(l_partkey)), x -> cast(x as string)), ',')"
            ).alias("items")
        )
    )


@query(
    "q_agg_stats",
    oracle="""
WITH m AS (
  SELECT p_brand,
         COUNT(*) AS n,
         SUM(CAST(ROUND(l_extendedprice * 100, 0) AS BIGINT)) / 100 AS sx,
         SUM(CAST(ROUND(l_extendedprice * l_extendedprice, 0) AS BIGINT)) AS sxx,
         SUM(CAST(ROUND(l_quantity, 0) AS BIGINT)) AS sy,
         SUM(CAST(ROUND(l_quantity * l_quantity, 0) AS BIGINT)) AS syy,
         SUM(CAST(ROUND(l_extendedprice * l_quantity, 0) AS BIGINT)) AS sxy
  FROM lineitem JOIN part ON l_partkey = p_partkey
  GROUP BY 1
)
SELECT p_brand, n,
       ROUND(sx / n, 6) AS avg_price,
       ROUND(SQRT((sxx - sx * sx / n) / (n - 1)), 6) AS stddev_price,
       ROUND((sxy - sx * sy / n) /
             (SQRT(sxx - sx * sx / n) * SQRT(syy - sy * sy / n)), 6) AS corr_price_qty
FROM m
""",
)
def q_agg_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D9: dispersion statistics per brand from integer moment sums —
    deterministic closed-form stddev/corr (see module docstring)."""
    l = table(spark, sf_dir, "lineitem")
    p = F.broadcast(table(spark, sf_dir, "part"))
    x = F.col("l_extendedprice")
    y = F.col("l_quantity")
    m = (
        l.join(p, l.l_partkey == p.p_partkey)
        .groupBy("p_brand")
        .agg(
            F.count(F.lit(1)).alias("n"),
            (F.sum(rlong(x * 100)) / F.lit(100)).alias("sx"),
            F.sum(rlong(x * x)).alias("sxx"),
            F.sum(rlong(y)).alias("sy"),
            F.sum(rlong(y * y)).alias("syy"),
            F.sum(rlong(x * y)).alias("sxy"),
        )
    )
    n, sx, sxx, sy, syy, sxy = (F.col(c) for c in ("n", "sx", "sxx", "sy", "syy", "sxy"))
    return m.select(
        "p_brand",
        "n",
        F.round(sx / n, 6).alias("avg_price"),
        F.round(F.sqrt((sxx - sx * sx / n) / (n - 1)), 6).alias("stddev_price"),
        F.round(
            (sxy - sx * sy / n) / (F.sqrt(sxx - sx * sx / n) * F.sqrt(syy - sy * sy / n)), 6
        ).alias("corr_price_qty"),
    )


@query(
    "q_agg_pivot",
    oracle="""
SELECT EXTRACT(year FROM o_orderdate) AS yr,
       CAST(SUM(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END) AS BIGINT) AS n_f,
       CAST(SUM(CASE WHEN o_orderstatus = 'O' THEN 1 ELSE 0 END) AS BIGINT) AS n_o,
       CAST(SUM(CASE WHEN o_orderstatus = 'P' THEN 1 ELSE 0 END) AS BIGINT) AS n_p,
       SUM(CASE WHEN o_orderstatus = 'F'
                THEN CAST(ROUND(o_totalprice * 100, 0) AS BIGINT) ELSE 0 END) / 100.0 AS rev_f,
       SUM(CASE WHEN o_orderstatus = 'O'
                THEN CAST(ROUND(o_totalprice * 100, 0) AS BIGINT) ELSE 0 END) / 100.0 AS rev_o,
       SUM(CASE WHEN o_orderstatus = 'P'
                THEN CAST(ROUND(o_totalprice * 100, 0) AS BIGINT) ELSE 0 END) / 100.0 AS rev_p
FROM orders
GROUP BY 1
""",
)
def q_agg_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot (long→wide): order counts and revenue per year, one column pair
    per order status. The pivot value list is explicit — at scale an implicit
    pivot needs a distinct-scan pre-pass to discover columns and makes the
    schema data-dependent; with declared values it is a single hash aggregate
    (CASE WHEN under the hood), no extra pass. Scaled-cent sums keep revenue
    order-independent. Explicit zero/0.0 defaults match the SQL CASE ELSE
    (Spark pivot yields null for absent combinations)."""
    o = table(spark, sf_dir, "orders")
    cents = rlong(F.col("o_totalprice") * 100)
    wide = (
        o.select(F.year("o_orderdate").alias("yr"), "o_orderstatus", cents.alias("cents"))
        .groupBy("yr")
        .pivot("o_orderstatus", ["F", "O", "P"])
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("cents").alias("cents"),
        )
    )
    return wide.select(
        "yr",
        *[
            F.coalesce(F.col(f"{s}_n"), F.lit(0)).alias(f"n_{s.lower()}")
            for s in ("F", "O", "P")
        ],
        *[
            (F.coalesce(F.col(f"{s}_cents"), F.lit(0)) / F.lit(100.0)).alias(f"rev_{s.lower()}")
            for s in ("F", "O", "P")
        ],
    )


@query(
    "q_unpivot",
    oracle="""
SELECT p_partkey, metric, value FROM (
  SELECT p_partkey, 'retailprice' AS metric, p_retailprice AS value FROM part
  UNION ALL
  SELECT p_partkey, 'size', CAST(p_size AS DOUBLE) FROM part
) WHERE p_partkey < 200
""",
)
def q_unpivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unpivot (wide→long): numeric part attributes melted to (key, metric,
    value) rows — the layout feature stores and metric pipelines ingest.
    df.unpivot is a row-local expansion (Expand node): no shuffle, output
    rows = rows × metrics, embarrassingly parallel at any scale."""
    p = table(spark, sf_dir, "part").where(F.col("p_partkey") < 200)
    return p.select(
        "p_partkey",
        F.col("p_retailprice").alias("retailprice"),
        F.col("p_size").cast("double").alias("size"),
    ).unpivot("p_partkey", ["retailprice", "size"], "metric", "value")


# --------------------------------------------------------------------------
# M75: per-group mode (most frequent value)
# --------------------------------------------------------------------------


@query(
    "q_agg_mode",
    oracle="""
WITH counted AS (
  SELECT user_id, event_type, COUNT(*) AS cnt
  FROM events GROUP BY 1, 2
)
SELECT user_id, event_type AS mode_event, cnt
FROM (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id
                               ORDER BY cnt DESC, event_type) AS rn
  FROM counted
) WHERE rn = 1
""",
)
def q_agg_mode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M75: per-group MODE — each user's most frequent event type, ties
    broken to the lexically smallest value so the answer is deterministic
    (Spark's builtin `mode` leaves ties unspecified, so it is deliberately
    NOT used).

    Scale shape: mode decomposes into a keyed count (map-side partial
    combine does the heavy lifting: cardinality is groups x distinct
    values, not rows) followed by a per-group top-1 window over that tiny
    counted table — WindowGroupLimit prunes it to one row per group before
    the sort completes."""
    ev = table(spark, sf_dir, "events")
    counted = ev.groupBy("user_id", "event_type").agg(
        F.count(F.lit(1)).alias("cnt")
    )
    w = Window.partitionBy("user_id").orderBy(F.col("cnt").desc(), "event_type")
    return (
        counted.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select("user_id", F.col("event_type").alias("mode_event"), "cnt")
    )


# --------------------------------------------------------------------------
# M82: mergeable HLL sketches (partial-sketch union == direct sketch)
# --------------------------------------------------------------------------


@query("q_hll_mergeable")  # rows-only: sketch estimates are impl-specific
def q_hll_mergeable(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M82: mergeable distinct-count sketches (Apache DataSketches HLL via
    hll_sketch_agg / hll_union_agg / hll_sketch_estimate) — the sketch
    lifecycle of an incremental pipeline: per-(priority, month) partial
    sketches are built once, then UNIONED per priority; the estimate from
    merged partials must equal the direct one-pass sketch, because HLL
    state is a per-register max — commutative, associative, insertion-order
    independent (asserted in tests/test_hll.py, with the exact distinct
    count as the accuracy referent).

    This is the maintainable form of q_agg_approx at 100 TB: the monthly
    sketch table is tiny and append-only; refreshing the yearly distinct
    count unions sketches instead of re-scanning history (same contract as
    q_incr_agg, for a non-decomposable-in-exact-form metric). Rows-only for
    the driver: DuckDB's HLL implementation differs by design."""
    o = table(spark, sf_dir, "orders")
    partials = o.groupBy(
        "o_orderpriority", F.date_trunc("month", "o_orderdate").alias("month")
    ).agg(F.hll_sketch_agg("o_custkey").alias("sketch"))
    merged = partials.groupBy("o_orderpriority").agg(
        F.hll_sketch_estimate(F.hll_union_agg("sketch")).alias("merged_estimate")
    )
    direct = o.groupBy("o_orderpriority").agg(
        F.hll_sketch_estimate(F.hll_sketch_agg("o_custkey")).alias("direct_estimate"),
        F.countDistinct("o_custkey").alias("exact_distinct"),
    )
    return merged.join(direct, "o_orderpriority").select(
        "o_orderpriority", "merged_estimate", "direct_estimate", "exact_distinct"
    )


# --------------------------------------------------------------------------
# M86: equal-depth quantile binning
# --------------------------------------------------------------------------

QBINS = 10


@query(
    "q_quantile_bins",
    oracle=f"""
WITH binned AS (
  SELECT o_totalprice,
         CAST(NTILE({QBINS}) OVER (ORDER BY o_totalprice, o_orderkey) AS BIGINT) AS bin
  FROM orders
)
SELECT bin, COUNT(*) AS n,
       MIN(o_totalprice) AS lo, MAX(o_totalprice) AS hi,
       CAST(SUM(CAST(ROUND(o_totalprice * 100, 0) AS BIGINT)) AS BIGINT) AS cents
FROM binned GROUP BY 1
""",
)
def q_quantile_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M86: equal-depth (quantile) binning — orders cut into 10
    equal-population price bins with per-bin bounds and mass; the
    feature-engineering twin of q_histogram's equal-width bins. Binning is
    ordered by (price, orderkey) so bin boundaries are total-order
    deterministic even across duplicate prices.

    Exact NTILE semantics WITHOUT a single-partition window: the global
    position comes from the distributed
    operators.sorts.global_rank (value-bucketed windows), and the bin is
    SQL NTILE's exact arithmetic over (pos, n) — the first n % k buckets
    get ⌈n/k⌉ rows, the rest ⌊n/k⌋:
        q = n DIV k; r = n % k;
        bin = ⌈pos/(q+1)⌉                     if pos ≤ r·(q+1)
            = r + ⌈(pos − r·(q+1))/q⌉         otherwise
    n arrives as a 1-row broadcast. The previous unpartitioned-NTILE form
    (this oracle) is now only the semantics statement, not the plan."""
    # spread the single-split orders scan — global_rank
    # derives several chained passes from it and every one inherited the
    # scan's ONE task (measured: eleven 1-task stages, 18 s task time with
    # ~5 s single-core stretches at sf0.1). Identity at cluster scale
    # (catalog.spread docstring).
    from recsys_spark_spark.catalog import spread

    o = spread(
        spark, table(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")
    )
    from recsys_spark_spark.operators.sorts import global_rank

    ranked = global_rank(
        spark,
        o,
        value_col="o_totalprice",
        tiebreak="o_orderkey",
        pos_col="pos",
        descending=False,
    )
    n_total = o.agg(F.count(F.lit(1)).alias("n_total"))
    q = f"(n_total DIV {QBINS})"
    r = f"(n_total % {QBINS})"
    binned = ranked.join(F.broadcast(n_total)).select(
        "o_totalprice",
        # pure integer ceil — ⌈a/b⌉ = (a + b - 1) DIV b — exact at any n
        F.expr(
            f"""CAST(CASE
              WHEN pos <= {r} * ({q} + 1)
                THEN (pos + {q}) DIV ({q} + 1)
              ELSE {r} + (pos - {r} * ({q} + 1) + {q} - 1) DIV {q}
            END AS BIGINT)"""
        ).alias("bin"),
    )
    return binned.groupBy("bin").agg(
        F.count(F.lit(1)).alias("n"),
        F.min("o_totalprice").alias("lo"),
        F.max("o_totalprice").alias("hi"),
        F.sum(rlong(F.col("o_totalprice") * 100)).cast("long").alias("cents"),
    )


# --------------------------------------------------------------------------
# M114: exact-sum correlation / covariance / regression slope
# --------------------------------------------------------------------------


@query(
    "q_agg_corr",
    oracle="""
WITH b AS (
  SELECT l_returnflag,
         CAST(ROUND(l_quantity, 0) AS BIGINT) AS q,
         CAST(ROUND(l_discount * 100, 0) AS BIGINT) AS d
  FROM lineitem
),
s AS (
  SELECT l_returnflag, COUNT(*) AS n,
         CAST(SUM(q) AS BIGINT) AS sx, CAST(SUM(d) AS BIGINT) AS sy,
         CAST(SUM(q * q) AS BIGINT) AS sxx, CAST(SUM(d * d) AS BIGINT) AS syy,
         CAST(SUM(q * d) AS BIGINT) AS sxy
  FROM b GROUP BY 1
)
SELECT l_returnflag, n,
       (ROUND((n * sxy - sx * sy) / SQRT(CAST((n * sxx - sx * sx) AS DOUBLE)
                                         * (n * syy - sy * sy)) * 1e6, 0) / 1e6)
         AS corr_qty_disc,
       (ROUND((n * sxy - sx * sy) / (100.0 * n * (n - 1)) * 1e6, 0) / 1e6)
         AS covar_qty_disc,
       (ROUND(CAST((n * sxy - sx * sy) AS DOUBLE) / (n * sxx - sx * sx) / 100
              * 1e6, 0) / 1e6) AS slope_disc_on_qty
FROM s
""",
)
def q_agg_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M114: Pearson correlation, sample covariance, and OLS slope of
    discount on quantity per return flag — the statistical aggregates
    (SQL CORR / COVAR_SAMP / REGR_SLOPE) built from their moment sums.

    Why not F.corr/F.covar_samp directly: those accumulate doubles in
    partition order (Welford-style), so the low bits differ run-to-run and
    engine-to-engine. Here every moment (Sx, Sy, Sxx, Syy, Sxy) is an
    EXACT integer sum over integer-scaled values (quantity integral,
    discount in percent), the closed forms
        corr  = (n·Sxy − Sx·Sy) / sqrt((n·Sxx − Sx²)(n·Syy − Sy²))
        covar = (n·Sxy − Sx·Sy) / (n(n−1)),  slope = (n·Sxy − Sx·Sy)/(n·Sxx − Sx²)
    divide exact integers. Cross-engine parity holds because BOTH engines
    round the SAME exact integer to double with the same round-to-nearest
    conversion, then evaluate the identical expression tree — NOT because
    the products fit in 2^53 (at sf1, n·Sxx ≈ 1.5e16 already exceeds
    2^53, so the conversion rounds; it just rounds identically on both
    sides). The /100 rescales the percent scaling
    back to the raw unit.
    Scale shape: one map-side-combinable aggregate per flag — the moment
    vector is 6 longs per group, perfectly mergeable (the same
    partial-aggregation contract as q_incr_agg)."""
    l = table(spark, sf_dir, "lineitem")
    b = l.select(
        "l_returnflag",
        rlong(F.col("l_quantity")).cast("long").alias("q"),
        rlong(F.col("l_discount") * 100).cast("long").alias("d"),
    )
    s = b.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("q").alias("sx"),
        F.sum("d").alias("sy"),
        F.sum(F.col("q") * F.col("q")).alias("sxx"),
        F.sum(F.col("d") * F.col("d")).alias("syy"),
        F.sum(F.col("q") * F.col("d")).alias("sxy"),
    )
    cov_num = F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")
    var_x = F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    var_y = F.col("n") * F.col("syy") - F.col("sy") * F.col("sy")
    return s.select(
        "l_returnflag",
        "n",
        dround(
            cov_num / F.sqrt(var_x.cast("double") * var_y), 6
        ).alias("corr_qty_disc"),
        dround(
            cov_num / (F.lit(100.0) * F.col("n") * (F.col("n") - 1)), 6
        ).alias("covar_qty_disc"),
        dround(cov_num.cast("double") / var_x / 100, 6).alias("slope_disc_on_qty"),
    )


@query(
    "q_agg_moments",
    oracle="""
WITH b AS (
  SELECT l_returnflag, CAST(ROUND(l_quantity, 0) AS BIGINT) AS q
  FROM lineitem
),
s AS (
  SELECT l_returnflag, COUNT(*) AS n,
         CAST(SUM(q) AS BIGINT) AS s1,
         CAST(SUM(q * q) AS BIGINT) AS s2,
         CAST(SUM(q * q * q) AS BIGINT) AS s3,
         CAST(SUM(q * q * q * q) AS BIGINT) AS s4
  FROM b GROUP BY 1
),
m AS (
  SELECT l_returnflag, n,
         s1 / CAST(n AS DOUBLE) AS m1,
         s2 / CAST(n AS DOUBLE) - POW(s1 / CAST(n AS DOUBLE), 2) AS m2,
         s3 / CAST(n AS DOUBLE)
           - 3 * (s1 / CAST(n AS DOUBLE)) * (s2 / CAST(n AS DOUBLE))
           + 2 * POW(s1 / CAST(n AS DOUBLE), 3) AS m3,
         s4 / CAST(n AS DOUBLE)
           - 4 * (s1 / CAST(n AS DOUBLE)) * (s3 / CAST(n AS DOUBLE))
           + 6 * POW(s1 / CAST(n AS DOUBLE), 2) * (s2 / CAST(n AS DOUBLE))
           - 3 * POW(s1 / CAST(n AS DOUBLE), 4) AS m4
  FROM s
)
SELECT l_returnflag, n,
       (ROUND(m1 * 1e6, 0) / 1e6) AS mean_qty,
       (ROUND(m3 / POW(m2, 1.5) * 1e6, 0) / 1e6) AS skewness_qty,
       (ROUND((m4 / (m2 * m2) - 3) * 1e6, 0) / 1e6) AS kurtosis_qty
FROM m
""",
)
def q_agg_moments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M124: skewness and excess kurtosis per return flag from exact raw
    moments — completes the q_agg_corr family (SQL SKEWNESS / KURTOSIS):
        m2 = E[x²]−E[x]², m3 = E[x³]−3E[x]E[x²]+2E[x]³,
        m4 = E[x⁴]−4E[x]E[x³]+6E[x]²E[x²]−3E[x]⁴,
        skew = m3/m2^1.5, kurt = m4/m2²−3.
    Every Σxᵏ is an exact integer (quantity ≤ 50 → Σx⁴ < 2^52 at any
    tested SF), the central-moment expressions evaluate the same IEEE
    doubles on both engines (identical exact-integer inputs, identical
    operation trees), and display rounding is the multiply-form pair.
    Built-in F.skewness/F.kurtosis accumulate doubles in partition order
    — same rationale as q_agg_corr. One map-side-combinable aggregate;
    the 4-long moment vector is the mergeable state (q_incr_agg
    contract)."""
    l = table(spark, sf_dir, "lineitem")
    b = l.select("l_returnflag", rlong(F.col("l_quantity")).cast("long").alias("q"))
    q = F.col("q")
    s = b.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(q).alias("s1"),
        F.sum(q * q).alias("s2"),
        F.sum(q * q * q).alias("s3"),
        F.sum(q * q * q * q).alias("s4"),
    )
    nd = F.col("n").cast("double")
    m1 = F.col("s1") / nd
    e2 = F.col("s2") / nd
    e3 = F.col("s3") / nd
    e4 = F.col("s4") / nd
    m2 = e2 - F.pow(m1, 2)
    m3 = e3 - 3 * m1 * e2 + 2 * F.pow(m1, 3)
    m4 = e4 - 4 * m1 * e3 + 6 * F.pow(m1, 2) * e2 - 3 * F.pow(m1, 4)
    return s.select(
        "l_returnflag",
        "n",
        dround(m1, 6).alias("mean_qty"),
        dround(m3 / F.pow(m2, 1.5), 6).alias("skewness_qty"),
        dround(m4 / (m2 * m2) - 3, 6).alias("kurtosis_qty"),
    )


# --------------------------------------------------------------------------
# M152: exact weighted median per group
# --------------------------------------------------------------------------


@query(
    "q_agg_weighted_median",
    oracle="""
WITH w AS (
  SELECT c_mktsegment AS segment, c_custkey,
         CAST(ROUND(c_acctbal * 100, 0) AS BIGINT) AS cents,
         COUNT(o_orderkey) AS wt
  FROM customer LEFT JOIN orders ON c_custkey = o_custkey
  GROUP BY 1, 2, 3
),
pos AS (SELECT * FROM w WHERE wt > 0),
c AS (
  SELECT segment, cents, wt,
         CAST(SUM(wt) OVER (PARTITION BY segment ORDER BY cents, c_custkey
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cumw
  FROM pos
),
tot AS (SELECT segment, CAST(SUM(wt) AS BIGINT) AS totw, COUNT(*) AS n_weighted FROM pos GROUP BY 1)
SELECT c.segment, CAST(n_weighted AS BIGINT) AS n_weighted, totw,
       cents AS weighted_median_cents
FROM c JOIN tot ON c.segment = tot.segment
WHERE 2 * cumw >= totw AND 2 * (cumw - wt) < totw
""",
)
def q_agg_weighted_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M152: exact weighted median per segment — account balance weighted
    by the customer's order count, so active customers pull the segment
    median toward themselves (the aggregate SQL engines mostly lack:
    PERCENTILE_CONT has no weight argument). Defined as the value at
    which the cumulative weight first reaches half the total:
    2*cumw >= totw AND 2*(cumw - w) < totw — the crossing row is unique
    and decided by pure INTEGER comparisons, no float share.

    Shape: one keyed aggregate to per-customer (value, weight), one
    SEGMENT-keyed ordered window for the cumulative weight (partitioned
    — never global), a segment-sized totals join, and a row-local
    crossing predicate. At any scale everything rides
    HashPartitioning(segment); skew is bounded by segment cardinality
    (for few-huge-group workloads the q_part_abc value-bucketed prefix
    sum is the drop-in: same crossing predicate over its distributed
    cumw)."""
    c = table(spark, sf_dir, "customer").select(
        "c_custkey", "c_mktsegment", "c_acctbal"
    )
    o = table(spark, sf_dir, "orders").select("o_custkey", "o_orderkey")
    w = (
        c.join(o, c.c_custkey == o.o_custkey, "left")
        .groupBy(
            F.col("c_mktsegment").alias("segment"),
            "c_custkey",
            rlong(F.col("c_acctbal") * 100).cast("long").alias("cents"),
        )
        .agg(F.count("o_orderkey").alias("wt"))
        .where(F.col("wt") > 0)
    )
    wc = (
        Window.partitionBy("segment")
        .orderBy("cents", "c_custkey")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = w.withColumn("cumw", F.sum("wt").over(wc).cast("long"))
    tot = w.groupBy("segment").agg(
        F.sum("wt").alias("totw"), F.count(F.lit(1)).alias("n_weighted")
    )
    j = cum.join(F.broadcast(tot), "segment")
    return j.where(
        (2 * F.col("cumw") >= F.col("totw"))
        & (2 * (F.col("cumw") - F.col("wt")) < F.col("totw"))
    ).select(
        "segment",
        F.col("n_weighted").cast("long").alias("n_weighted"),
        F.col("totw").cast("long").alias("totw"),
        F.col("cents").alias("weighted_median_cents"),
    )


# --------------------------------------------------------------------------
# M158: categorical diversity entropy per group
# --------------------------------------------------------------------------


@query(
    "q_agg_diversity_entropy",
    oracle="""
WITH cnt AS (
  SELECT c_nationkey, c_mktsegment, COUNT(*) AS c
  FROM customer GROUP BY 1, 2
),
tot AS (SELECT c_nationkey, CAST(SUM(c) AS BIGINT) AS n FROM cnt GROUP BY 1),
terms AS (
  SELECT cnt.c_nationkey, n,
         CAST(ROUND(-(c / CAST(n AS DOUBLE)) * ln(c / CAST(n AS DOUBLE)) * 1e9, 0) AS BIGINT) AS h_nano
  FROM cnt JOIN tot USING (c_nationkey)
),
h AS (
  SELECT c_nationkey, n, COUNT(*) AS k, CAST(SUM(h_nano) AS BIGINT) AS hn
  FROM terms GROUP BY 1, 2
)
SELECT CAST(c_nationkey AS BIGINT) AS nationkey, n AS n_customers,
       CAST(k AS BIGINT) AS k_segments,
       ROUND(hn / 1e9 * 1e6, 0) / 1e6 AS entropy_nats,
       ROUND(CASE WHEN k = 1 THEN 0.0 ELSE hn / 1e9 / ln(CAST(k AS DOUBLE)) END * 1e6, 0) / 1e6 AS entropy_norm,
       ROUND(exp(hn / 1e9) * 1e6, 0) / 1e6 AS effective_segments
FROM h
""",
)
def q_agg_diversity_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M158: Shannon diversity of each nation's segment mix — entropy in
    nats, its normalized form H/ln(k), and the effective category count
    exp(H) (Hill number N1): the concentration/diversity screen for any
    categorical composition (customer mix, traffic mix, corpus domain
    mix). Complements q_text_entropy (per-document tokens) with the
    per-GROUP categorical form.

    Shape: two keyed aggregates (cell counts, group totals joined back —
    group-count-sized) and a third over <= k rows per group. Exactness:
    each -p·ln p term is nano-rounded to an INTEGER before the
    cross-category sum (hash-agg addition order cannot pin a float sum;
    the q_text_perplexity discipline), so H is exact and ln/exp evaluate
    the same doubles on both engines."""
    c = table(spark, sf_dir, "customer").select("c_nationkey", "c_mktsegment")
    cnt = c.groupBy("c_nationkey", "c_mktsegment").agg(F.count(F.lit(1)).alias("c"))
    tot = cnt.groupBy("c_nationkey").agg(F.sum("c").alias("n"))
    p = F.col("c") / F.col("n").cast("double")
    terms = cnt.join(tot, "c_nationkey").select(
        "c_nationkey",
        "n",
        rlong(-p * F.log(p) * 1e9).cast("long").alias("h_nano"),
    )
    h = terms.groupBy("c_nationkey", "n").agg(
        F.count(F.lit(1)).alias("k"), F.sum("h_nano").alias("hn")
    )
    hnats = F.col("hn") / 1e9
    return h.select(
        F.col("c_nationkey").cast("long").alias("nationkey"),
        F.col("n").cast("long").alias("n_customers"),
        F.col("k").cast("long").alias("k_segments"),
        (rlong(hnats * 1e6) / 1e6).alias("entropy_nats"),
        (
            rlong(
                F.when(F.col("k") == 1, 0.0)
                .otherwise(hnats / F.log(F.col("k").cast("double")))
                * 1e6
            )
            / 1e6
        ).alias("entropy_norm"),
        (rlong(F.exp(hnats) * 1e6) / 1e6).alias("effective_segments"),
    )


# --------------------------------------------------------------------------
# M189: exact distinct counting via mergeable bitmap aggregation
# --------------------------------------------------------------------------


@query(
    "q_agg_bitmap_distinct",
    oracle="""
SELECT c_mktsegment AS segment,
       CAST(year(o_orderdate) AS BIGINT) AS order_year,
       CAST(COUNT(DISTINCT o_custkey) AS BIGINT) AS n_buyers
FROM orders JOIN customer ON o_custkey = c_custkey
GROUP BY 1, 2
""",
)
def q_agg_bitmap_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M189: exact distinct buyers per (segment, year) via Spark 3.5+
    BITMAP aggregation — bitmap_construct_agg over bitmap_bit_position,
    bucketed by bitmap_bucket_number, then a SUM of per-bucket
    bitmap_count. The production "exact COUNT(DISTINCT) without the
    distinct shuffle" pattern: the partial state per (group, bucket) is a
    fixed 4 KB bitmap that merges by OR — map-side combinable and
    re-aggregable (store per-bucket bitmaps once, roll up any dimension
    later), where COUNT(DISTINCT) must shuffle every distinct VALUE.
    Complements q_agg_approx (HLL, approximate) and q_hll_mergeable
    (sketch objects) with the exact mergeable variant — the right tool
    when keys are dense integers (custkey here; at 100 TB any dictionary-
    encoded id). Oracle is plain COUNT(DISTINCT): identical results, so
    the bitmap path is exact-verified, not trusted.

    Shape: one join (customer dim side — AQE broadcasts when it fits),
    ONE shuffle keyed by (segment, year, bucket) carrying 4 KB partials,
    then the bucket rollup rides the same keys."""
    o = table(spark, sf_dir, "orders").select("o_custkey", "o_orderdate")
    c = table(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    j = o.join(c, o.o_custkey == c.c_custkey).select(
        F.col("c_mktsegment").alias("segment"),
        F.year("o_orderdate").cast("long").alias("order_year"),
        F.col("o_custkey").alias("k"),
    )
    per_bucket = j.groupBy(
        "segment", "order_year", F.expr("bitmap_bucket_number(k)").alias("b")
    ).agg(
        F.expr("bitmap_count(bitmap_construct_agg(bitmap_bit_position(k)))").alias("cnt")
    )
    return per_bucket.groupBy("segment", "order_year").agg(
        F.sum("cnt").cast("long").alias("n_buyers")
    )


# --------------------------------------------------------------------------
# M204: Count-Min sketch heavy hitters
# --------------------------------------------------------------------------

# Fixed pairwise-independent hash family h_j(x) = ((a_j*x + b_j) mod P) mod W
# (Cormode & Muthukrishnan 2005, J. Algorithms). P = 2^31-1 (Mersenne
# prime); a_j/b_j are arbitrary fixed constants < P, so both engines
# evaluate the identical exact-integer expression — the sketch itself is a
# deterministic function of the data, hence exact-oracled (unlike HLL,
# whose register layout is implementation-specific).
CMS_P = 2147483647
CMS_W = 8192
CMS_HASHES = ((0, 1222334455, 98765), (1, 987654321, 433494437),
              (2, 1357924680, 12582917), (3, 246813579, 715827883))
CMS_TOP = 20

_CMS_VALUES = ", ".join(f"({j}, {a}, {b})" for j, a, b in CMS_HASHES)


def _cms_hash_array():
    """array<struct<j,bucket>> of the d hash evaluations of column ``item``."""
    return F.array(
        *[
            F.struct(
                F.lit(j).alias("j"),
                (((F.lit(a) * F.col("item") + F.lit(b)) % CMS_P) % CMS_W).alias(
                    "bucket"
                ),
            )
            for j, a, b in CMS_HASHES
        ]
    )


def cms_cells(items: DataFrame) -> DataFrame:
    """Count-Min sketch of an ``item`` column as its (j, bucket, cnt) cell
    table. Split from the registered query so tests can pin LINEARITY:
    sketches of disjoint splits sum cell-wise to the whole-data sketch."""
    return (
        items.select(F.explode(_cms_hash_array()).alias("h"))
        .groupBy(F.col("h.j").alias("j"), F.col("h.bucket").alias("bucket"))
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


@query(
    "q_cms_heavy_hitters",
    oracle=f"""
WITH li AS (SELECT l_partkey AS item FROM lineitem),
h(j, a, b) AS (VALUES {_CMS_VALUES}),
cells AS MATERIALIZED (
  SELECT h.j, ((h.a * li.item + h.b) % {CMS_P}) % {CMS_W} AS bucket,
         COUNT(*) AS cnt
  FROM li CROSS JOIN h
  GROUP BY 1, 2
),
exact AS MATERIALIZED (SELECT item, COUNT(*) AS n_exact FROM li GROUP BY 1),
top AS (
  SELECT item, n_exact FROM (
    SELECT item, n_exact,
           ROW_NUMBER() OVER (ORDER BY n_exact DESC, item) AS rnk
    FROM exact
  ) WHERE rnk <= {CMS_TOP}
)
SELECT t.item AS item_id,
       CAST(t.n_exact AS BIGINT) AS n_exact,
       CAST(MIN(c.cnt) AS BIGINT) AS n_cms_est,
       CAST(MIN(c.cnt) - t.n_exact AS BIGINT) AS overestimate
FROM top t
CROSS JOIN h
JOIN cells c
  ON c.j = h.j AND c.bucket = ((h.a * t.item + h.b) % {CMS_P}) % {CMS_W}
GROUP BY t.item, t.n_exact
""",
)
def q_cms_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M204: Count-Min sketch (Cormode & Muthukrishnan 2005) frequency
    estimates for the top-{CMS_TOP} most-ordered parts, reported against
    their exact counts — the linear mergeable frequency sketch beside
    q_hll_mergeable (distinct) and q_agg_bitmap_distinct (exact bitmap).

    Why it matters at 100 TB: the sketch is a fixed d x w = 4 x 8192
    integer grid whose cells are PLAIN SUMS — map-side combine collapses
    every partition to <=32k rows before the one tiny shuffle, partial
    sketches from any split of the data add up to the global sketch
    (linearity), and a streaming/incremental pipeline maintains it by
    adding deltas. Estimating any item is a broadcast lookup of d cells +
    MIN; the full per-key exact groupBy here exists only as the accuracy
    referent (and to pick the heavy hitters deterministically:
    row_number over (count DESC, item)).

    Exactness across engines: the hash family is fixed integer arithmetic
    (a*x+b mod 2^31-1 mod w; products <= ~1e9 * ~2e5 << 2^63), counts and
    mins are integers — no floats anywhere. CMS can only OVERestimate
    (each cell sums the true count plus collisions), pinned per-row in
    tests/test_new_ops_worked.py along with sketch linearity."""
    li = table(spark, sf_dir, "lineitem").select(F.col("l_partkey").alias("item"))
    hashes = _cms_hash_array()
    cells = cms_cells(li)
    exact = li.groupBy("item").agg(F.count(F.lit(1)).alias("n_exact"))
    w = Window.orderBy(F.col("n_exact").desc(), "item")
    top = (
        exact.withColumn("rnk", F.row_number().over(w))
        .where(F.col("rnk") <= CMS_TOP)
        .drop("rnk")
    )
    probes = top.select("item", "n_exact", F.explode(hashes).alias("h"))
    return (
        probes.join(
            F.broadcast(cells),
            (F.col("h.j") == F.col("j")) & (F.col("h.bucket") == F.col("bucket")),
        )
        .groupBy(F.col("item").alias("item_id"), "n_exact")
        .agg(
            F.min("cnt").cast("long").alias("n_cms_est"),
            (F.min("cnt") - F.first("n_exact")).cast("long").alias("overestimate"),
        )
        .select(
            "item_id",
            F.col("n_exact").cast("long").alias("n_exact"),
            "n_cms_est",
            "overestimate",
        )
    )


# --------------------------------------------------------------------------
# M224: mergeable fixed-grid quantile sketch vs exact percentiles
# --------------------------------------------------------------------------

QGRID_BINS = 1024
QGRID_PCTS = (25, 50, 75, 95)


@query(
    "q_quantile_grid_sketch",
    oracle=f"""
WITH x AS (
  SELECT CAST(ROUND(o_totalprice * 100, 0) AS BIGINT) AS v FROM orders
),
b AS (
  SELECT MIN(v) AS lo, MAX(v) AS hi, CAST(COUNT(*) AS BIGINT) AS n FROM x
),
binned AS (
  SELECT ((v - lo) * {QGRID_BINS}) // (hi - lo + 1) AS bin FROM x CROSS JOIN b
),
cells AS (
  SELECT bin, CAST(COUNT(*) AS BIGINT) AS c FROM binned GROUP BY 1
),
cum AS (
  SELECT bin,
         CAST(SUM(c) OVER (ORDER BY bin ROWS BETWEEN UNBOUNDED PRECEDING
                           AND CURRENT ROW) AS BIGINT) AS cc
  FROM cells
),
vals AS (
  SELECT v, CAST(COUNT(*) AS BIGINT) AS c FROM x GROUP BY 1
),
vcum AS (
  SELECT v,
         CAST(SUM(c) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING
                           AND CURRENT ROW) AS BIGINT) AS cc
  FROM vals
),
pct(p) AS (VALUES {", ".join(f"({p})" for p in QGRID_PCTS)}),
k AS (
  SELECT p, (n * p + 99) // 100 AS rank_k, lo, hi, n FROM pct CROSS JOIN b
),
est AS (
  SELECT k.p, k.n, k.lo, k.hi, k.rank_k,
         (SELECT MIN(bin) FROM cum WHERE cc >= k.rank_k) AS ebin,
         (SELECT MIN(v) FROM vcum WHERE cc >= k.rank_k) AS exact_c
  FROM k
)
SELECT CAST(p AS BIGINT) AS pct, n,
       CAST(lo + (ebin * (hi - lo + 1)) // {QGRID_BINS} AS BIGINT) AS est_cents,
       exact_c AS exact_cents,
       CAST(ABS(lo + (ebin * (hi - lo + 1)) // {QGRID_BINS} - exact_c) AS BIGINT)
         AS abs_err_cents,
       CAST((hi - lo + 1 + {QGRID_BINS - 1}) // {QGRID_BINS} AS BIGINT)
         AS bound_cents
FROM est
""",
)
def q_quantile_grid_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M224: fixed-grid quantile sketch, error-audited against the exact
    percentile — completing the mergeable-sketch triad: frequency
    (q_cms_heavy_hitters), distinct (q_hll_mergeable /
    q_agg_bitmap_distinct), and now QUANTILES. The price domain is cut
    into {QGRID_BINS} equal-width integer bins; the sketch is the bin
    histogram — plain keyed SUMS, so partial histograms from any split
    of the data merge by addition (linearity, pytest-pinned like CMS),
    and any quantile is answered from the ≤{QGRID_BINS}-row cumulative
    table. The estimate is the hit bin's lower edge, so the error is
    bounded by ONE bin width — emitted per row (bound_cents) beside the
    measured |est − exact|, making the accuracy contract part of the
    result instead of a comment.

    Exactness: everything is integer arithmetic — cents, integer-divide
    binning ((v−lo)·B // span), ceil-rank k = (n·p+99)//100, bin-edge
    reconstruction — so both engines agree bit-for-bit; the EXACT
    reference percentile comes from the distinct-value prefix table
    (the Mann-Whitney/KS bucket pass, ordered_prefix_sums). Shape: one
    map-side-combinable histogram aggregate, a ≤{QGRID_BINS}-row prefix
    sum, and the value-bucket distributed prefix for the reference —
    at 100 TB only the reference rescans values; the sketch path is the
    one you keep."""
    from recsys_spark_spark.operators.sorts import ordered_prefix_sums

    o = table(spark, sf_dir, "orders")
    x = o.select(rlong(F.col("o_totalprice") * 100).cast("long").alias("v"))
    b = x.agg(
        F.min("v").alias("lo"), F.max("v").alias("hi"), F.count(F.lit(1)).alias("n")
    )
    binned = x.crossJoin(F.broadcast(b)).select(
        F.expr(f"((v - lo) * {QGRID_BINS}) DIV (hi - lo + 1)").alias("bin")
    )
    cells = binned.groupBy("bin").agg(F.count(F.lit(1)).alias("c"))
    cum = ordered_prefix_sums(
        spark, cells, order_col="bin", tiebreak="bin", sum_cols={"c": "cc"},
        descending=False,
    )
    vals = x.groupBy("v").agg(F.count(F.lit(1)).alias("c"))
    vcum = ordered_prefix_sums(
        spark, vals, order_col="v", tiebreak="v", sum_cols={"c": "cc"},
        descending=False,
    )
    pct = spark.createDataFrame([(p,) for p in QGRID_PCTS], "p long")
    k = pct.crossJoin(F.broadcast(b)).select(
        "p", "lo", "hi", "n", F.expr("(n * p + 99) DIV 100").alias("rank_k")
    )
    ebin = (
        k.join(cum, cum.cc >= k.rank_k)
        .groupBy("p", "lo", "hi", "n", "rank_k")
        .agg(F.min("bin").alias("ebin"))
    )
    exact = (
        k.select("p", F.col("rank_k").alias("rk"))
        .join(vcum, vcum.cc >= F.col("rk"))
        .groupBy("p")
        .agg(F.min("v").alias("exact_c"))
    )
    est_c = F.expr(f"lo + (ebin * (hi - lo + 1)) DIV {QGRID_BINS}")
    return (
        ebin.join(exact, "p")
        .select(
            F.col("p").cast("long").alias("pct"),
            F.col("n").cast("long").alias("n"),
            est_c.cast("long").alias("est_cents"),
            F.col("exact_c").cast("long").alias("exact_cents"),
            F.abs(est_c - F.col("exact_c")).cast("long").alias("abs_err_cents"),
            F.expr(f"(hi - lo + 1 + {QGRID_BINS - 1}) DIV {QGRID_BINS}")
            .cast("long")
            .alias("bound_cents"),
        )
    )
