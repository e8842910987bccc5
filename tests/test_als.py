"""I10 ALS quality gate — the "runs" → "right" upgrade (VERDICT round 3 #4).

The synthetic TPC-H-ish corpus has no real preference structure (partkeys are
near-uniform per customer), so ALS cannot beat a popularity/random baseline by
a wide margin and a skill threshold would be dishonest. What a seed-fixed run
CAN pin, and what this suite asserts:

- the factor matrices have the configured rank and cover every train user/item
  (coldStartStrategy drops nothing from the train slice),
- hit-rate@5 on the q_eval_metrics time-based holdout stays above a recorded
  floor (measured 37/750 = 0.0493 at sf0.001, seed 42; a broken pipeline —
  misjoined ids, empty factors, wrong explode — lands at ~0),
- the same seed reproduces the same recommendation set exactly (determinism
  contract the rows-only driver check relies on).
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from recsys_spark_spark.catalog import table
from recsys_spark_spark.cf import evaluate
from recsys_spark_spark.cf.als import MAX_ITER, RANK, SEED, TOP_N

SF = "/root/testdata/sf0.001"
# measured 0.04933 with (rank=8, iter=8, seed=42); floor leaves ~2x headroom
# for MLlib version-to-version numeric drift while still catching pipeline
# breakage (random-chance precision here is ~0.042, zero on a broken join)
HIT_RATE_FLOOR = 0.025


@pytest.fixture(scope="module")
def als_fit(spark):
    from pyspark.ml.recommendation import ALS

    train = evaluate._train_interactions(spark, SF).persist()
    ratings = train.select(
        F.col("user_id").cast("int").alias("user"),
        F.col("item_id").cast("int").alias("item"),
        F.col("cnt").cast("float").alias("rating"),
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
    model = als.fit(ratings)
    yield train, ratings, model
    train.unpersist()


def test_factor_matrices_have_rank_and_full_coverage(als_fit):
    train, ratings, model = als_fit
    n_users = ratings.select("user").distinct().count()
    n_items = ratings.select("item").distinct().count()
    assert model.rank == RANK
    assert model.userFactors.count() == n_users
    assert model.itemFactors.count() == n_items
    flens = (
        model.userFactors.select(F.size("features").alias("n")).distinct().collect()
    )
    assert [r.n for r in flens] == [RANK]


def test_hit_rate_at_5_above_recorded_floor(spark, als_fit):
    train, _, model = als_fit
    o = table(spark, SF, "orders").where(
        F.col("o_orderdate") >= F.lit(evaluate.CUTOFF).cast("timestamp")
    )
    l = table(spark, SF, "lineitem")
    test = (
        o.join(l, o.o_orderkey == l.l_orderkey)
        .select(
            F.col("o_custkey").cast("int").alias("user"),
            F.col("l_partkey").cast("int").alias("item"),
        )
        .distinct()
    )
    recs = model.recommendForAllUsers(TOP_N).select(
        "user", F.explode("recommendations.item").alias("item")
    )
    n_hits = recs.join(test, ["user", "item"]).count()
    n_recs = recs.count()
    assert n_recs > 0
    hit_rate = n_hits / n_recs
    assert hit_rate >= HIT_RATE_FLOOR, (
        f"ALS hit-rate@{TOP_N} collapsed to {hit_rate:.4f} "
        f"({n_hits}/{n_recs}); recorded seed-42 value is 0.0493"
    )


def test_same_seed_reproduces_recommendations(spark, als_fit):
    from pyspark.ml.recommendation import ALS

    train, ratings, model = als_fit
    again = (
        ALS(
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
        .fit(ratings)
        .recommendForAllUsers(TOP_N)
        .select("user", F.explode("recommendations.item").alias("item"))
    )
    first = model.recommendForAllUsers(TOP_N).select(
        "user", F.explode("recommendations.item").alias("item")
    )
    assert first.exceptAll(again).count() == 0
    assert again.exceptAll(first).count() == 0


def test_key_leaves_nothing_after_clear_cache(spark):
    """The fit's 2 factor RDDs go on the key's ledger: the key's output is
    materialized first, then they are released, so clearCache() leaves no
    persistent RDD and the rows equal those of an unreleased fit."""
    from recsys_spark_spark.cf import als
    from tests.conftest import persistent_ids

    spark.catalog.clearCache()
    before = persistent_ids(spark)
    got = als.q_als_recommend(spark, SF).collect()
    spark.catalog.clearCache()
    assert persistent_ids(spark) - before == set()
    assert len(got) == TOP_N * len({r.user_id for r in got}) > 0
    want = als.q_als_recommend.__wrapped__(spark, SF).collect()  # no ledger: the fit's RDDs stay
    kept = persistent_ids(spark) - before
    assert len(kept) == 2
    for i in kept:
        spark.sparkContext._jsc.getPersistentRDDs().get(i).unpersist(False)
    assert sorted(got) == sorted(want)
