"""I10: ALS matrix factorization (implicit feedback) via Spark MLlib.

Hu/Koren/Volinsky (ICDM 2008) implicit-mode ALS on the purchase-count
interaction matrix; seed fixed for determinism. Iterative + approximate →
rows-only driver check (no DuckDB oracle; SURVEY.md §3.I I10).

Scale: MLlib ALS block-partitions the user×item matrix and shuffles factor
blocks between alternating solves — the standard distributed MF design.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from recsys_spark_spark.catalog import owned_persists
from recsys_spark_spark.cf.itemcf import interactions
from recsys_spark_spark.registry import query

RANK = 8
MAX_ITER = 8
SEED = 42
TOP_N = 5


@query("q_als_recommend")  # rows-only: iterative/approx, not DuckDB-expressible
def q_als_recommend(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.ml.recommendation import ALS

    ui = (
        interactions(spark, sf_dir)
        .select(
            F.col("user_id").cast("int").alias("user"),
            F.col("item_id").cast("int").alias("item"),
            F.col("cnt").cast("float").alias("rating"),
        )
    )
    als = ALS(
        rank=RANK,
        maxIter=MAX_ITER,
        seed=SEED,
        implicitPrefs=True,
        alpha=40.0,
        regParam=0.1,
        userCol="user",
        itemCol="item",
        ratingCol="rating",
        coldStartStrategy="drop",
    )
    with owned_persists(spark):  # the fit leaves its 2 factor RDDs persisted
        model = als.fit(ui)
    recs = model.recommendForAllUsers(TOP_N)
    return recs.select(
        F.col("user").cast("long").alias("user_id"),
        F.posexplode("recommendations").alias("pos", "rec"),
    ).select(
        "user_id",
        F.col("rec.item").cast("long").alias("item_id"),
        F.round(F.col("rec.rating").cast("double"), 4).alias("score"),
        (F.col("pos") + 1).cast("long").alias("rnk"),
    )
