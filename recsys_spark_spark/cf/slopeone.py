"""3.M Slope One collaborative filtering (Lemire & Maclachlan, SDM 2005).

The second classic item-based recommender family next to cosine ItemCF:
instead of a similarity weight, each item pair carries an average *rating
deviation* dev(j,i) = avg_u(r_uj - r_ui) over co-raters, and the weighted
Slope One prediction for user u on unseen item j is

    P(u,j) = sum_i (r_ui + dev(j,i)) * c(j,i)  /  sum_i c(j,i)

over u's seen items i, weighted by pair support c(j,i).

Exactness trick that makes this oracle-friendly AND order-independent:
expand (r_ui + dsum(j,i)/c(j,i)) * c(j,i) = r_ui*c(j,i) + dsum(j,i) —
both terms are INTEGERS (ratings here are interaction counts), so the
numerator/denominator accumulate as exact 64-bit sums with no float
rounding anywhere until the final display division. No rlong/dsum
machinery needed — Slope One is natively integer-exact on count ratings.

Scale shape (mirrors the ItemCF chain, SURVEY.md §3.I):
- pair generation is the same capped per-user self-join as co-occurrence
  (MAX_USER_HISTORY bounds the quadratic blow-up on hot users);
- the directional deviation table is pruned to the TOP_K_NEIGHBORS
  strongest-support pairs per source item (the Slope One analog of the
  k-NN model), then broadcast;
- scoring + seen-filter + per-user top-N all ride the ui matrix's
  HashPartitioning(user_id) — the same two-exchange plan as
  q_cf_recommend, asserted in tests/test_plans.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from recsys_spark_spark.cf.itemcf import (
    TOP_K_NEIGHBORS,
    TOP_N_RECS,
    UI_CTE,
    capped_interactions,
)
from recsys_spark_spark.functions.determinism import dround
from recsys_spark_spark.registry import query


def deviation_pairs(ui: DataFrame) -> DataFrame:
    """Directional deviation table: (src, cand, dsum, c) where
    dsum = SUM over co-raters of (r_cand - r_src) and c = co-rater count.

    Built once for i<j and mirrored (dsum flips sign, c is symmetric) —
    half the pair-generation work of a full directional self-join."""
    a = ui.select("user_id", F.col("item_id").alias("item_i"), F.col("cnt").alias("r_i"))
    b = ui.select("user_id", F.col("item_id").alias("item_j"), F.col("cnt").alias("r_j"))
    # shuffle_hash: same rationale as topk_neighbors_fused — and, critically,
    # the hint pins the join SHUFFLED on user_id at every size. Without it
    # AQE broadcasts a side at test SF (user-history-sized broadcast — the
    # failure mode test_slope_one_broadcasts_model_not_users guards) and
    # flips to sort-merge at sf1, so the plan test was size-unstable too.
    half = (
        a.join(b.hint("shuffle_hash"), "user_id")
        .where(F.col("item_i") < F.col("item_j"))
        .groupBy("item_i", "item_j")
        .agg(
            F.count(F.lit(1)).alias("c"),
            F.sum(F.col("r_j") - F.col("r_i")).alias("dsum_ji"),
        )
    )
    # The itemcf.symmetrize rationale applies here: the fwd/rev self-UNION
    # evaluated the whole `half` subtree —
    # user-keyed self-join plus the 13.1M-row (i,j) aggregate exchange —
    # once per branch (measured: two identical 126.2 MB / 13,127,405-row
    # shuffle writes at sf0.1; AQE compiles the union branches separately,
    # so exchange reuse does not fire). Explode emits both directions in
    # the same stage, scanning the aggregate once.
    both = F.array(
        F.struct(
            F.col("item_i").alias("src"),
            F.col("item_j").alias("cand"),
            F.col("dsum_ji").alias("dsum"),
            F.col("c"),
        ),
        F.struct(
            F.col("item_j").alias("src"),
            F.col("item_i").alias("cand"),
            (-F.col("dsum_ji")).alias("dsum"),
            F.col("c"),
        ),
    )
    return half.select(F.explode(both).alias("e")).select(
        "e.src", "e.cand", "e.dsum", "e.c"
    )


_SLOPE_ONE_ORACLE = f"""
WITH {UI_CTE},
half AS (
  SELECT a.item_id AS item_i, b.item_id AS item_j,
         COUNT(*) AS c,
         CAST(SUM(b.cnt - a.cnt) AS BIGINT) AS dsum_ji
  FROM ui a JOIN ui b ON a.user_id = b.user_id AND a.item_id < b.item_id
  GROUP BY 1, 2
),
dirp AS (
  SELECT item_i AS src, item_j AS cand, dsum_ji AS dsum, c FROM half
  UNION ALL
  SELECT item_j AS src, item_i AS cand, -dsum_ji AS dsum, c FROM half
),
topp AS (
  SELECT src, cand, dsum, c FROM (
    SELECT src, cand, dsum, c,
           ROW_NUMBER() OVER (PARTITION BY src ORDER BY c DESC, cand) AS prnk
    FROM dirp
  ) WHERE prnk <= {TOP_K_NEIGHBORS}
),
scores AS (
  SELECT ui.user_id, p.cand,
         CAST(SUM(ui.cnt * p.c + p.dsum) AS BIGINT) AS num,
         CAST(SUM(p.c) AS BIGINT) AS den
  FROM ui JOIN topp p ON ui.item_id = p.src
  GROUP BY 1, 2
),
unseen AS (
  SELECT s.user_id, s.cand, s.num, s.den
  FROM scores s
  WHERE NOT EXISTS (
    SELECT 1 FROM ui WHERE ui.user_id = s.user_id AND ui.item_id = s.cand
  )
)
SELECT user_id, cand AS item_id,
       (ROUND(CAST(num AS DOUBLE) / den * 1e6, 0) / 1e6) AS pred, rnk
FROM (
  SELECT user_id, cand, num, den,
         ROW_NUMBER() OVER (
           PARTITION BY user_id
           ORDER BY CAST(num AS DOUBLE) / den DESC, cand
         ) AS rnk
  FROM unseen
) WHERE rnk <= {TOP_N_RECS}
"""


@query("q_cf_slope_one", oracle=_SLOPE_ONE_ORACLE)
def q_cf_slope_one(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M105: weighted Slope One recommendations (Lemire'05) — top-{TOP_N_RECS}
    unseen items per user scored by support-weighted rating deviations over
    the user's history, on the same interaction matrix as the ItemCF chain.

    Plan (mirrors itemcf.recommend's two-exchange discipline): the
    pair/deviation model is built from the capped matrix (one user-keyed
    self-join — partition-local on ui's HashPartitioning), pruned per-src,
    and BROADCAST; the expanded candidates repartition by user ONCE, and
    the score aggregate, the array-membership seen-filter (NOT a
    two-key anti-join — see recommend()'s triple-exchange note), and the
    per-user top-N window all run on that single HashPartitioning(user_id).
    Integer num/den keep every accumulation exact and insertion-order
    independent (module docstring)."""
    return slope_one_recommend(capped_interactions(spark, sf_dir))


def slope_one_recommend(
    ui: DataFrame, k: int = TOP_K_NEIGHBORS, n: int = TOP_N_RECS
) -> DataFrame:
    """Weighted Slope One over an interaction matrix (user_id, item_id, cnt).

    Split from the registered query so tests can drive it with hand-built
    matrices (tests/test_new_ops_worked.py)."""
    pairs = deviation_pairs(ui)
    w = Window.partitionBy("src").orderBy(F.col("c").desc(), "cand")
    topp = (
        pairs.withColumn("prnk", F.row_number().over(w))
        .where(F.col("prnk") <= k)
        .drop("prnk")
    )
    scores = (
        ui.join(F.broadcast(topp), ui.item_id == topp.src)
        .repartition("user_id")
        .groupBy("user_id", "cand")
        .agg(
            F.sum(F.col("cnt") * F.col("c") + F.col("dsum")).alias("num"),
            F.sum("c").alias("den"),
        )
    )
    seen = ui.groupBy("user_id").agg(F.collect_set("item_id").alias("_seen"))
    unseen = (
        scores.join(seen.hint("shuffle_hash"), "user_id")
        .where(~F.array_contains(F.col("_seen"), F.col("cand")))
        .drop("_seen")
    )
    pred = F.col("num").cast("double") / F.col("den")
    uw = Window.partitionBy("user_id").orderBy(pred.desc(), "cand")
    return (
        unseen.withColumn("rnk", F.row_number().over(uw))
        .where(F.col("rnk") <= n)
        .select(
            "user_id",
            F.col("cand").alias("item_id"),
            dround(pred, 6).alias("pred"),
            F.col("rnk").cast("long").alias("rnk"),
        )
    )
