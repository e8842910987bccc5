"""I-swing: the Swing item-similarity algorithm.

Swing (Yang et al., "Large Scale Product Graph Construction for
Recommendation in E-commerce", arXiv:2010.05525; deployed at Alibaba)
scores an item pair by the user PAIRS that co-interacted with both:
  s(i, j) = Σ_{(u,v): u,v ∈ U_i ∩ U_j} 1 / (α + |I_u ∩ I_v|)
Two items pushed together by many otherwise-dissimilar user pairs are
strong substitutes; pairs of power users who co-buy everything are
down-weighted by their overlap.

No reference file:line citations are possible (the /root/reference
checkout is empty — SURVEY.md §0); capability key follows SURVEY §3.M.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from recsys_spark_spark.catalog import checkpoint, table
from recsys_spark_spark.registry import query

SWING_ALPHA = 1          # smoothing; integer so 1e12/(α+k) is an exact ratio
SWING_USERS_PER_ITEM = 30  # deterministic per-item user cap (smallest ids)
SWING_TOP = 50

_SWING_ORACLE = f"""
WITH ui AS (
  SELECT DISTINCT o_custkey AS u, l_partkey AS i
  FROM orders JOIN lineitem ON o_orderkey = l_orderkey
),
sm AS MATERIALIZED (
  SELECT u, i FROM (
    SELECT u, i, ROW_NUMBER() OVER (PARTITION BY i ORDER BY u) AS rn FROM ui
  ) WHERE rn <= {SWING_USERS_PER_ITEM}
),
tri AS MATERIALIZED (
  SELECT a.u AS u1, b.u AS u2, a.i
  FROM sm a JOIN sm b ON a.i = b.i AND a.u < b.u
),
ov AS MATERIALIZED (
  SELECT u1, u2, CAST(ROUND(1e12 / ({SWING_ALPHA} + COUNT(*)), 0) AS BIGINT) AS w_s
  FROM tri GROUP BY 1, 2
),
pairs AS (
  SELECT t1.i AS item_i, t2.i AS item_j, o.w_s
  FROM tri t1
  JOIN tri t2 ON t1.u1 = t2.u1 AND t1.u2 = t2.u2 AND t1.i < t2.i
  JOIN ov o ON o.u1 = t1.u1 AND o.u2 = t1.u2
),
sw AS (
  SELECT item_i, item_j, CAST(SUM(w_s) AS BIGINT) AS s_s,
         CAST(COUNT(*) AS BIGINT) AS n_user_pairs
  FROM pairs GROUP BY 1, 2
)
SELECT item_i, item_j, n_user_pairs,
       ROUND(s_s / 1e12 * 1e6, 0) / 1e6 AS swing, rnk
FROM (
  SELECT item_i, item_j, n_user_pairs, s_s,
         CAST(ROW_NUMBER() OVER (ORDER BY s_s DESC, item_i, item_j) AS BIGINT) AS rnk
  FROM sw
) WHERE rnk <= {SWING_TOP}
"""


@query("q_cf_swing", oracle=_SWING_ORACLE)
def q_cf_swing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """I-swing (M215): top-{SWING_TOP} item pairs by Swing score — the
    user-pair-weighted substitute detector beside cosine (q_cf_cosine_sim)
    and Slope One: s(i,j) = Σ over user pairs common to both items of
    1/(α + |I_u ∩ I_v|), so items connected by many LOW-overlap user
    pairs (independent confirmations) outrank items co-bought by one
    clique of power users.

    Scale containment — the industrial Swing trick, made deterministic:
    each item keeps its {SWING_USERS_PER_ITEM} smallest user ids (the
    production version samples; id-order makes the cap a pure function
    of the data so the oracle stays exact). That bounds the per-item
    user-pair fan-out at C({SWING_USERS_PER_ITEM},2) = 435 INDEPENDENT
    of item popularity — under "10x users, same catalog" growth the
    triple table grows with the catalog, never quadratically with
    popularity (the uncapped Σ pop² was measured 2.5x the capped size
    already at sf0.1). All stages are keyed joins/aggregates: one
    item-keyed self-join (pairs per item), one (u1,u2)-keyed count
    (overlaps), one (u1,u2)-keyed self-join (item pairs per user pair,
    Σk² ≈ 3.8M rows at sf0.1), one (i,j)-keyed sum. Per-pair weights are
    pre-rounded picolevel integers (1e12/(α+k) — exact longs, order-free
    sums); the only global sort is the WindowGroupLimit top-{SWING_TOP}.
    """
    o = table(spark, sf_dir, "orders")
    l = table(spark, sf_dir, "lineitem")
    ui = (
        o.join(l, o.o_orderkey == l.l_orderkey)
        .select(F.col("o_custkey").alias("u"), F.col("l_partkey").alias("i"))
        .distinct()
    )
    wcap = Window.partitionBy("i").orderBy("u")
    sm = (
        ui.withColumn("rn", F.row_number().over(wcap))
        .where(F.col("rn") <= SWING_USERS_PER_ITEM)
        .select("u", "i")
    )
    a = sm.select(F.col("u").alias("u1"), "i")
    b = sm.select(F.col("u").alias("u2"), F.col("i").alias("i2"))
    # the triple table feeds both pair-join sides
    tri = checkpoint(
        a.join(b, (F.col("i") == F.col("i2")) & (F.col("u1") < F.col("u2")))
        .select("u1", "u2", "i")
    )
    # The original shape exchanged the 7.5M-row checkpointed triple table BY
    # (u1,u2) THREE times — once for the separate overlap-count aggregate and
    # once per side of the tri x tri self-join — and then probed a third join
    # to attach the overlap weight to every one of the Σk² pair rows (measured:
    # three identical 77.5 MB exchanges plus a 672 s-run join stage at sf0.1).
    # The overlap count now rides a WINDOW over the left join side: the
    # window's single (u1,u2) exchange both computes k (so w_s is a column, not
    # a join) and leaves the left side partitioned exactly as the pair join
    # needs, so only the right side still exchanges — 3 exchanges + 2 probes
    # per pair row become 2 exchanges + 1 probe. (A collect_list +
    # higher-order-function combination expansion was tried first and REJECTED:
    # nested transform/slice/named_struct is interpreted per element, not
    # codegen'd — measured 4,262 s CPU vs the join form's 498 s on the
    # identical pair mass.)
    kw = Window.partitionBy("u1", "u2")
    left = tri.withColumn(
        "w_s",
        F.round(F.lit(1e12) / (F.lit(SWING_ALPHA) + F.count(F.lit(1)).over(kw)), 0).cast(
            "long"
        ),
    )
    right = tri.select("u1", "u2", F.col("i").alias("j"))
    pairs = (
        left.join(right, ["u1", "u2"])
        .where(F.col("i") < F.col("j"))
        .select(F.col("i").alias("item_i"), F.col("j").alias("item_j"), "w_s")
    )
    sw = pairs.groupBy("item_i", "item_j").agg(
        F.sum("w_s").alias("s_s"), F.count(F.lit(1)).cast("long").alias("n_user_pairs")
    )
    wr = Window.orderBy(F.col("s_s").desc(), "item_i", "item_j")
    return (
        sw.withColumn("rnk", F.row_number().over(wr).cast("long"))
        .where(F.col("rnk") <= SWING_TOP)
        .select(
            "item_i",
            "item_j",
            "n_user_pairs",
            (F.round(F.col("s_s") / F.lit(1e12) * 1e6, 0) / 1e6).alias("swing"),
            "rnk",
        )
    )
