"""I9: offline recommendation evaluation — precision / recall / coverage.

Time-based holdout (the only honest split for implicit feedback): train on
orders before CUTOFF, recommend, score against interactions on/after CUTOFF.
Reconstructed reference capability (SURVEY.md §3.I, [R:M]).

Metrics (single output row):
  precision = |recs ∩ test| / |recs|
  recall    = |recs ∩ test| / |test|
  coverage  = |distinct items recommended| / |distinct items in train|
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from recsys_spark_spark.catalog import memo, table
from recsys_spark_spark.cf import itemcf
from recsys_spark_spark.functions.determinism import rlong
from recsys_spark_spark.registry import query

CUTOFF = "2000-01-01"

# DuckDB oracle: the full CF chain with `orders` replaced by the train slice.
_TRAIN_ORDERS = f"(SELECT * FROM orders WHERE o_orderdate < TIMESTAMP '{CUTOFF}')"
_TRAIN_CHAIN = itemcf.CF_CHAIN.replace(
    "FROM orders JOIN lineitem", f"FROM {_TRAIN_ORDERS} o JOIN lineitem"
)

_EVAL_SQL = f"""WITH {_TRAIN_CHAIN},
test AS (
  SELECT DISTINCT o_custkey AS user_id, l_partkey AS item_id
  FROM orders JOIN lineitem ON o_orderkey = l_orderkey
  WHERE o_orderdate >= TIMESTAMP '{CUTOFF}'
),
hits AS (
  SELECT COUNT(*) AS n_hits
  FROM recs JOIN test ON recs.user_id = test.user_id AND recs.item_id = test.item_id
)
SELECT
  ROUND(n_hits / (SELECT COUNT(*) FROM recs), 6) AS precision,
  ROUND(n_hits / (SELECT COUNT(*) FROM test), 6) AS recall,
  ROUND((SELECT COUNT(DISTINCT item_id) FROM recs)
        / CAST((SELECT COUNT(DISTINCT item_id) FROM ui) AS DOUBLE), 6) AS coverage
FROM hits"""


@memo
def _train_interactions(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Same single-exchange user_id partitioning discipline as
    # itemcf.interactions(): the whole downstream CF chain (self-join, score
    # agg, seen-filter, ui_agg) runs on this one partitioning.
    o = (
        table(spark, sf_dir, "orders")
        .where(F.col("o_orderdate") < F.lit(CUTOFF).cast("timestamp"))
        .select("o_orderkey", "o_custkey")
    )
    l = table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey", "l_quantity")
    return (
        o.join(l, o.o_orderkey == l.l_orderkey)
        .repartition("o_custkey")
        .groupBy(F.col("o_custkey").alias("user_id"), F.col("l_partkey").alias("item_id"))
        .agg(F.count(F.lit(1)).alias("cnt"), F.sum("l_quantity").alias("total_qty"))
    )


@memo
def _train_recs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return itemcf.flagship_chain(_train_interactions(spark, sf_dir))


def _test_interactions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The holdout slice: distinct (user_id, item_id) pairs on/after CUTOFF."""
    o = table(spark, sf_dir, "orders").where(
        F.col("o_orderdate") >= F.lit(CUTOFF).cast("timestamp")
    )
    l = table(spark, sf_dir, "lineitem")
    return (
        o.join(l, o.o_orderkey == l.l_orderkey)
        .select(F.col("o_custkey").alias("user_id"), F.col("l_partkey").alias("item_id"))
        .distinct()
    )


@query("q_eval_metrics", oracle=_EVAL_SQL)
def q_eval_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Persisted: the train matrix feeds neighbors, scoring, the seen-filter,
    # and the coverage denominator. Fused neighbor path = one exchange,
    # identical output to cooccurrence→symmetrize→topk (itemcf docstring).
    ui, recs = _train_interactions(spark, sf_dir), _train_recs(spark, sf_dir)
    test = _test_interactions(spark, sf_dir)

    # Five scalar counts as 1-row aggregates cross-joined into one lazy plan:
    # a single action, and Catalyst's exchange reuse dedups the shared recs/ui
    # subplans instead of recomputing the CF chain per metric (the eager
    # five-.count() form ran it three times).
    hits_agg = recs.join(test, ["user_id", "item_id"]).agg(
        F.count(F.lit(1)).alias("n_hits")
    )
    recs_agg = recs.agg(
        F.count(F.lit(1)).alias("n_recs"),
        F.countDistinct("item_id").alias("cov_num"),
    )
    test_agg = test.agg(F.count(F.lit(1)).alias("n_test"))
    ui_agg = ui.agg(F.countDistinct("item_id").alias("cov_den"))
    return (
        hits_agg.crossJoin(recs_agg)
        .crossJoin(test_agg)
        .crossJoin(ui_agg)
        .select(
            F.round(F.col("n_hits") / F.col("n_recs"), 6).alias("precision"),
            F.round(F.col("n_hits") / F.col("n_test"), 6).alias("recall"),
            F.round(F.col("cov_num") / F.col("cov_den").cast("double"), 6).alias("coverage"),
        )
    )


# Ranking metrics (I9b). DCG discount weights 1/log2(k+1) are baked in as
# 9-decimal literals on BOTH sides — decimal literals parse to identical
# doubles everywhere, so no transcendental (log) parity risk; scaled-integer
# sums keep every cross-row average order-independent (determinism.py).
_DCG_W = (1.0, 0.630929754, 0.5, 0.430676558, 0.386852807)
_IDCG = tuple(round(sum(_DCG_W[:m]), 9) for m in range(1, 6))

_RANKING_SQL = f"""WITH {_TRAIN_CHAIN},
test AS (
  SELECT DISTINCT o_custkey AS user_id, l_partkey AS item_id
  FROM orders JOIN lineitem ON o_orderkey = l_orderkey
  WHERE o_orderdate >= TIMESTAMP '{CUTOFF}'
),
tu AS (SELECT user_id, COUNT(*) AS n_test FROM test GROUP BY 1),
rel AS (
  SELECT r.user_id, r.rnk,
         CASE WHEN t.item_id IS NOT NULL THEN 1 ELSE 0 END AS rel
  FROM recs r LEFT JOIN test t
    ON r.user_id = t.user_id AND r.item_id = t.item_id
),
c AS (
  SELECT user_id, rnk, rel,
         SUM(rel) OVER (PARTITION BY user_id ORDER BY rnk) AS cumhits
  FROM rel
),
wgt AS (
  SELECT * FROM (VALUES {", ".join(f"({k + 1}, {w!r})" for k, w in enumerate(_DCG_W))}) w(k, dw)
),
per_user AS (
  SELECT c.user_id,
         SUM(rel * CAST(ROUND((CAST(cumhits AS DOUBLE) / rnk) * 1e9, 0) AS BIGINT)) AS ap_s,
         SUM(rel * CAST(ROUND(dw * 1e9, 0) AS BIGINT)) AS dcg_s
  FROM c JOIN wgt ON wgt.k = c.rnk
  GROUP BY 1
),
scored AS (
  SELECT p.user_id,
         CAST(ROUND(CAST(ap_s AS DOUBLE) / (1e9 * LEAST(n_test, 5)) * 1e9, 0) AS BIGINT) AS ap9,
         CAST(ROUND(CAST(dcg_s AS DOUBLE) / (1e9 * (CASE LEAST(n_test, 5)
           {" ".join(f"WHEN {m + 1} THEN {v!r}" for m, v in enumerate(_IDCG))} END)) * 1e9, 0) AS BIGINT) AS ndcg9
  FROM per_user p JOIN tu ON tu.user_id = p.user_id
),
pop AS (
  SELECT SUM(n.n_users) AS pop_sum, COUNT(*) AS n_rec_rows
  FROM recs r JOIN norms n ON n.item_id = r.item_id
),
uu AS (SELECT COUNT(DISTINCT user_id) AS n_users_total FROM ui)
SELECT ROUND(SUM(ap9) / COUNT(*) / 1e9, 6) AS map5,
       ROUND(SUM(ndcg9) / COUNT(*) / 1e9, 6) AS ndcg5,
       COUNT(*) AS n_eval_users,
       (SELECT ROUND(pop_sum / (n_rec_rows * uu.n_users_total), 6) FROM pop, uu) AS rec_popularity
FROM scored"""


@query("q_eval_ranking", oracle=_RANKING_SQL)
def q_eval_ranking(spark: SparkSession, sf_dir: str) -> DataFrame:
    """I9b: MAP@5 / NDCG@5 / recommendation popularity on the same time-based
    holdout as q_eval_metrics.

    Metrics are averaged over *eval users* — users with >=1 test interaction
    AND >=1 recommendation (the only users for whom rank quality is defined).
    rec_popularity = mean train-audience fraction N(i)/|U| of recommended
    items — an integer-sum ratio (novelty proxy: lower = less popular items).
    Every stage is keyed by user_id on top of the cached CF chain: the rel
    join, cumulative-hit window, and per-user aggregate all reuse the
    HashPartitioning(user_id) the recommend() output already has.
    """
    from pyspark.sql.window import Window

    ui, recs = _train_interactions(spark, sf_dir), _train_recs(spark, sf_dir)
    test = _test_interactions(spark, sf_dir)
    tu = test.groupBy("user_id").agg(F.count(F.lit(1)).alias("n_test"))

    rel = recs.join(
        test.withColumn("_hit", F.lit(1)), ["user_id", "item_id"], "left"
    ).select("user_id", "rnk", F.coalesce("_hit", F.lit(0)).alias("rel"))
    w = Window.partitionBy("user_id").orderBy("rnk")
    c = rel.withColumn("cumhits", F.sum("rel").over(w))

    dw = F.element_at(F.array(*[F.lit(x) for x in _DCG_W]), F.col("rnk").cast("int"))
    ap_term = F.col("rel") * rlong(F.col("cumhits").cast("double") / F.col("rnk") * F.lit(1e9))
    dcg_term = F.col("rel") * rlong(dw * F.lit(1e9))
    per_user = c.groupBy("user_id").agg(
        F.sum(ap_term).alias("ap_s"), F.sum(dcg_term).alias("dcg_s")
    )

    m = F.least(F.col("n_test"), F.lit(5)).cast("int")
    idcg = F.element_at(F.array(*[F.lit(x) for x in _IDCG]), m)
    scored = per_user.join(tu, "user_id").select(
        rlong(F.col("ap_s").cast("double") / (F.lit(1e9) * m) * F.lit(1e9)).alias("ap9"),
        rlong(F.col("dcg_s").cast("double") / (F.lit(1e9) * idcg) * F.lit(1e9)).alias("ndcg9"),
    )

    norms = ui.groupBy("item_id").agg(F.count(F.lit(1)).alias("n_users"))
    pop = recs.join(norms, "item_id").agg(
        F.sum("n_users").alias("pop_sum"), F.count(F.lit(1)).alias("n_rec_rows")
    )
    uu = ui.agg(F.countDistinct("user_id").alias("n_users_total"))

    main = scored.agg(
        F.round(F.sum("ap9") / F.count(F.lit(1)) / F.lit(1e9), 6).alias("map5"),
        F.round(F.sum("ndcg9") / F.count(F.lit(1)) / F.lit(1e9), 6).alias("ndcg5"),
        F.count(F.lit(1)).alias("n_eval_users"),
    )
    return main.crossJoin(pop).crossJoin(uu).select(
        "map5",
        "ndcg5",
        "n_eval_users",
        F.round(F.col("pop_sum") / (F.col("n_rec_rows") * F.col("n_users_total")), 6).alias(
            "rec_popularity"
        ),
    )


# Hit-rate / MRR (I9c). Same holdout, same eval-user population as I9b
# (users with >=1 test interaction AND >=1 recommendation). The reciprocal
# rank 1/first_hit_rank is rounded to integer nano-units per user before the
# cross-user average — order-independent, same discipline as ap9/ndcg9.
_HITRATE_SQL = f"""WITH {_TRAIN_CHAIN},
test AS (
  SELECT DISTINCT o_custkey AS user_id, l_partkey AS item_id
  FROM orders JOIN lineitem ON o_orderkey = l_orderkey
  WHERE o_orderdate >= TIMESTAMP '{CUTOFF}'
),
tu AS (SELECT user_id, COUNT(*) AS n_test FROM test GROUP BY 1),
rel AS (
  SELECT r.user_id, r.rnk,
         CASE WHEN t.item_id IS NOT NULL THEN 1 ELSE 0 END AS rel
  FROM recs r LEFT JOIN test t
    ON r.user_id = t.user_id AND r.item_id = t.item_id
),
pu AS (
  SELECT rel.user_id, MIN(CASE WHEN rel = 1 THEN rnk END) AS first_hit
  FROM rel JOIN tu ON tu.user_id = rel.user_id
  GROUP BY 1
)
SELECT (ROUND(SUM(CASE WHEN first_hit IS NOT NULL THEN 1 ELSE 0 END)
              / CAST(COUNT(*) AS DOUBLE) * 1e6, 0) / 1e6) AS hit_rate5,
       (ROUND(SUM(CASE WHEN first_hit IS NOT NULL
                       THEN CAST(ROUND(1e9 / first_hit, 0) AS BIGINT)
                       ELSE 0 END) / COUNT(*) / 1e9 * 1e6, 0) / 1e6) AS mrr5,
       COUNT(*) AS n_eval_users
FROM pu"""


@query("q_eval_hitrate", oracle=_HITRATE_SQL)
def q_eval_hitrate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """I9c / M106: HitRate@5 and MRR@5 on the q_eval_metrics holdout — the two
    leaderboard staples q_eval_ranking's MAP/NDCG don't cover (hit-rate:
    did ANY top-5 rec convert; MRR: how high was the FIRST conversion).

    Averaged over eval users (>=1 test interaction and >=1 rec — the
    population where rank quality is defined, identical to I9b). Plan: one
    user-keyed left join of the cached recommendations against the test
    slice, a per-user min, and a single-row aggregate — every stage rides
    the HashPartitioning(user_id) the recommend() output already carries;
    the reciprocal rank is integer-nano-rounded per user so the final
    averages are insertion-order independent."""
    ui, recs = _train_interactions(spark, sf_dir), _train_recs(spark, sf_dir)
    test = _test_interactions(spark, sf_dir)
    tu = test.groupBy("user_id").agg(F.count(F.lit(1)).alias("n_test"))

    rel = recs.join(
        test.withColumn("_hit", F.lit(1)), ["user_id", "item_id"], "left"
    ).select("user_id", "rnk", F.coalesce("_hit", F.lit(0)).alias("rel"))
    pu = (
        rel.join(tu, "user_id")
        .groupBy("user_id")
        .agg(F.min(F.when(F.col("rel") == 1, F.col("rnk"))).alias("first_hit"))
    )
    hit = F.when(F.col("first_hit").isNotNull(), 1).otherwise(0)
    rr9 = F.when(
        F.col("first_hit").isNotNull(), rlong(F.lit(1e9) / F.col("first_hit"))
    ).otherwise(F.lit(0))
    from recsys_spark_spark.functions.determinism import dround

    return pu.agg(
        dround(F.sum(hit) / F.count(F.lit(1)).cast("double"), 6).alias("hit_rate5"),
        dround(F.sum(rr9) / F.count(F.lit(1)) / F.lit(1e9), 6).alias("mrr5"),
        F.count(F.lit(1)).alias("n_eval_users"),
    )


# --------------------------------------------------------------------------
# M164: recommendation novelty (inverse-popularity surprise)
# --------------------------------------------------------------------------

from recsys_spark_spark.registry import ORACLES as _ORACLES


@query(
    "q_eval_novelty",
    oracle="""
WITH recs AS ({RECS}),
pop AS (
  SELECT l_partkey AS item_id, COUNT(DISTINCT o_custkey) AS cnt
  FROM orders JOIN lineitem ON o_orderkey = l_orderkey
  GROUP BY 1
),
tot AS (SELECT CAST(SUM(cnt) AS BIGINT) AS t FROM pop),
nov AS (
  SELECT item_id,
         CAST(ROUND(-ln(cnt / CAST(t AS DOUBLE)) * 1e9, 0) AS BIGINT) AS nov_nano
  FROM pop CROSS JOIN tot
)
SELECT r.user_id, COUNT(*) AS n_recs,
       ROUND(CAST(SUM(nov_nano) AS DOUBLE) / COUNT(*) / 1e9 * 1e6, 0) / 1e6 AS mean_novelty
FROM recs r JOIN nov USING (item_id)
GROUP BY 1
""",
)
def q_eval_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M164: per-user recommendation novelty (Vargas & Castells, RecSys
    2011): mean self-information -ln(p(i)) of the flagship's top-5 items,
    where p(i) is the item's share of all distinct user-item
    interactions. High novelty = the recommender surfaces long-tail
    items; a popularity recommender scores the floor. Completes the
    beyond-accuracy metric set next to q_eval_metrics' coverage.

    Shape: the engine side consumes the flagship builder chain via the
    memoized flagship_recs frame (its persisted interaction matrix AND the
    derived recommendation frame are reused, not recomputed); the item
    novelty table is item-catalog-sized and BROADCASTS onto the
    recommendation stream; one user-keyed aggregate closes. The oracle
    SPLICES the registered flagship oracle verbatim (guarded — the
    q_stat_bootstrap_ci discipline). Exactness: each item's -ln share is
    nano-rounded to an INTEGER once, so per-user sums are exact."""
    from recsys_spark_spark.cf.itemcf import flagship_recs

    recs = flagship_recs(spark, sf_dir).select("user_id", "item_id")
    o = table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    l = table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    pop = (
        o.join(l, o.o_orderkey == l.l_orderkey)
        .groupBy(F.col("l_partkey").alias("item_id"))
        .agg(F.countDistinct("o_custkey").alias("cnt"))
    )
    tot = pop.agg(F.sum("cnt").alias("t"))
    nov = pop.join(F.broadcast(tot)).select(
        "item_id",
        rlong(-F.log(F.col("cnt") / F.col("t").cast("double")) * 1e9)
        .cast("long")
        .alias("nov_nano"),
    )
    return (
        recs.join(F.broadcast(nov), "item_id")
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_recs"),
            (
                rlong(
                    F.sum("nov_nano").cast("double") / F.count(F.lit(1)) / 1e9 * 1e6
                )
                / 1e6
            ).alias("mean_novelty"),
        )
    )


assert "{RECS}" in _ORACLES["q_eval_novelty"], "novelty oracle placeholder missing"
_ORACLES["q_eval_novelty"] = _ORACLES["q_eval_novelty"].replace(
    "{RECS}", _ORACLES["q_cf_recommend"].strip()
)
assert "{RECS}" not in _ORACLES["q_eval_novelty"]
assert "unseen" in _ORACLES["q_eval_novelty"], "flagship splice no-opped"
