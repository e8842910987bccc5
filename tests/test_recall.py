"""Candidate-recall gates for the approximate dedup/ANN paths (VERDICT r3 #6).

Each approximate path is measured against an exact ground truth computed
independently in the test (not against the path's own oracle), and the
measured recall is asserted above a recorded floor. Measured values at the
chosen parameters (bands/rows = 16 lanes x 4-lane bands; LSH: 8 tables at
dist<=0.2; BRP: 4 tables, bucketLength 2.0; IVF: 16 sign-bit cells,
Hamming-1 probe):

  banded MinHash vs bigram-Jaccard>=0.8 truth: 1.00 (sf0.001 and sf0.01)
  MLlib MinHashLSH vs word-Jaccard>=0.8 truth: 1.00 (sf0.001)
  BRP-LSH top-10 vs exact Euclidean top-10:    1.00 sf0.001 / 0.90 sf0.01
  IVF top-10 vs exact cosine top-10:           0.70 sf0.001 / 0.60 sf0.01

The IVF floor is intentionally the lowest: its Hamming-1 probe scans 5/16
cells by design (the partition-pruning trade documented in q_sim_ivf_knn);
raising recall means probing more cells, not a bug.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from recsys_spark_spark.catalog import table
from recsys_spark_spark.registry import load_all

SF_SMALL = "/root/testdata/sf0.001"
SF_GATE = "/root/testdata/sf0.01"


def _queries():
    qs, _ = load_all()
    return qs


def _bigram_jaccard_truth(spark, sf_dir: str, tau: float) -> set[tuple[int, int]]:
    """All-pairs distinct-bigram Jaccard >= tau, via shingle explode-join —
    exact, independent of the minhash code under test."""
    toks = table(spark, sf_dir, "documents").select("doc_id", F.split("text", " ").alias("t"))
    bigrams = F.when(
        F.size("t") >= 2,
        F.expr("transform(sequence(1, size(t) - 1), i -> concat(t[i-1], ' ', t[i]))"),
    ).otherwise(F.array().cast("array<string>"))
    sh = toks.select("doc_id", F.explode(F.array_distinct(bigrams)).alias("s"))
    sizes = sh.groupBy("doc_id").count()
    inter = (
        sh.select(F.col("doc_id").alias("d1"), "s")
        .join(sh.select(F.col("doc_id").alias("d2"), "s"), "s")
        .where(F.col("d1") < F.col("d2"))
        .groupBy("d1", "d2")
        .agg(F.count(F.lit(1)).alias("n_i"))
    )
    jac = (
        inter.join(sizes.select(F.col("doc_id").alias("d1"), F.col("count").alias("n1")), "d1")
        .join(sizes.select(F.col("doc_id").alias("d2"), F.col("count").alias("n2")), "d2")
        .select("d1", "d2", (F.col("n_i") / (F.col("n1") + F.col("n2") - F.col("n_i"))).alias("j"))
    )
    return {(r.d1, r.d2) for r in jac.where(F.col("j") >= tau).collect()}


def test_banded_minhash_candidate_recall(spark):
    """q_dedup_minhash_exact's (band, bucket) join must surface >=95% of true
    bigram-Jaccard>=0.8 pairs, and its candidate set must stay near-truth-
    sized (the O(n*bands) promise — a collapsing hash family would pass
    recall by flooding candidates)."""
    truth = _bigram_jaccard_truth(spark, SF_GATE, 0.8)
    assert truth, "fixture lost its near-dup pairs; recall gate is vacuous"
    cand = {(r.d1, r.d2) for r in _queries()["q_dedup_minhash_exact"](spark, SF_GATE).collect()}
    recall = len(truth & cand) / len(truth)
    assert recall >= 0.95, f"banded recall {recall:.3f} < 0.95 ({len(truth)} true pairs)"
    assert len(cand) <= 4 * len(truth) + 16, (
        f"candidate set {len(cand)} vs {len(truth)} true pairs — banding is flooding"
    )


def test_mllib_minhash_lsh_recall(spark):
    """The seeded MLlib path (rows-only for the driver) against the same
    independent truth, on word sets (MLlib tokenizes to words, not bigrams)."""
    wt = table(spark, SF_SMALL, "documents").select(
        "doc_id", F.explode(F.array_distinct(F.split(F.lower("text"), " "))).alias("w")
    )
    wsz = wt.groupBy("doc_id").count()
    wint = (
        wt.select(F.col("doc_id").alias("d1"), "w")
        .join(wt.select(F.col("doc_id").alias("d2"), "w"), "w")
        .where(F.col("d1") < F.col("d2"))
        .groupBy("d1", "d2")
        .agg(F.count(F.lit(1)).alias("n_i"))
    )
    wjac = (
        wint.join(wsz.select(F.col("doc_id").alias("d1"), F.col("count").alias("n1")), "d1")
        .join(wsz.select(F.col("doc_id").alias("d2"), F.col("count").alias("n2")), "d2")
        .select("d1", "d2", (F.col("n_i") / (F.col("n1") + F.col("n2") - F.col("n_i"))).alias("j"))
    )
    truth = {(r.d1, r.d2) for r in wjac.where(F.col("j") >= 0.8).collect()}
    assert truth
    got = {(r.d1, r.d2) for r in _queries()["q_dedup_minhash_lsh"](spark, SF_SMALL).collect()}
    recall = len(truth & got) / len(truth)
    assert recall >= 0.9, f"MLlib LSH recall {recall:.3f} < 0.9 ({len(truth)} true pairs)"


def _vocab64_corpus(tmp_path) -> str:
    """documents.parquet whose lowercase tokens number exactly 64, the
    widest vocabulary the bitmask distance takes (token 63 sets the sign
    bit). Each of four 16-token blocks gives two 15-token texts sharing 14
    tokens (Jaccard distance 0.125), each text in two exact copies."""
    import pandas as pd

    toks = [f"w{i:02d}" for i in range(64)]
    texts = [" ".join(toks[b + s:b + s + 15]) for b in range(0, 64, 16) for s in (0, 1)]
    rows = [t for t in texts for _ in range(2)]
    pd.DataFrame(
        {
            "doc_id": range(1, len(rows) + 1),
            "text": rows,
            "lang": "en",
            "source": "src0",
            "n_chars": [len(t) for t in rows],
        }
    ).to_parquet(tmp_path / "documents.parquet", index=False)
    return str(tmp_path)


@pytest.mark.parametrize("corpus", ["sf0.001", "vocab64"])
def test_minhash_lsh_matches_mllib_approx_join(spark, tmp_path, corpus):
    """The explicit banded-join + bitmask-distance implementation of
    q_dedup_minhash_lsh must emit EXACTLY the rows the original MLlib
    approxSimilarityJoin formulation emits (same seeded fit/transform,
    same rep-collapse + membership expansion). Guards the
    distinct-candidates-first banded join and the <=64-token bitmask
    Jaccard (bit_count over vocabulary masks == array_intersect over
    distinct-token sets), on the fixture and on a vocabulary of exactly
    64 tokens."""
    from pyspark.ml.feature import CountVectorizer, MinHashLSH, Tokenizer

    sf = SF_SMALL if corpus == "sf0.001" else _vocab64_corpus(tmp_path)
    d = table(spark, sf, "documents").select("doc_id", "text")
    g = d.groupBy("text").agg(
        F.min("doc_id").alias("doc_id"), F.count(F.lit(1)).alias("m")
    )
    toks = Tokenizer(inputCol="text", outputCol="tokens").transform(
        g.select("doc_id", "text")
    )
    model = CountVectorizer(
        inputCol="tokens", outputCol="features", binary=True, minDF=1.0
    ).fit(toks)
    assert corpus != "vocab64" or len(model.vocabulary) == 64
    vecs = model.transform(toks).select("doc_id", "features")
    lsh_model = MinHashLSH(
        inputCol="features", outputCol="hashes", numHashTables=8, seed=42
    ).fit(vecs)
    pairs = lsh_model.approxSimilarityJoin(vecs, vecs, 0.2, distCol="jaccard_dist")
    rep_pairs = pairs.where(F.col("datasetA.doc_id") < F.col("datasetB.doc_id")).select(
        F.col("datasetA.doc_id").alias("r1"),
        F.col("datasetB.doc_id").alias("r2"),
        F.round("jaccard_dist", 6).alias("jaccard_dist"),
    )
    mem = d.join(g.select("text", F.col("doc_id").alias("rep")), "text").select(
        "rep", "doc_id"
    )
    ma = mem.select(F.col("rep").alias("r1"), F.col("doc_id").alias("da"))
    mb = mem.select(F.col("rep").alias("r2"), F.col("doc_id").alias("db"))
    cross = (
        rep_pairs.join(ma, "r1")
        .join(mb, "r2")
        .select(
            F.least("da", "db").alias("d1"),
            F.greatest("da", "db").alias("d2"),
            "jaccard_dist",
        )
    )
    wa = mem.select("rep", F.col("doc_id").alias("d1"))
    wb = mem.select("rep", F.col("doc_id").alias("d2"))
    within = (
        wa.join(wb, "rep")
        .where(F.col("d1") < F.col("d2"))
        .select("d1", "d2", F.lit(0.0).alias("jaccard_dist"))
    )
    ref = {tuple(r) for r in cross.unionAll(within).collect()}
    got = {tuple(r) for r in _queries()["q_dedup_minhash_lsh"](spark, sf).collect()}
    assert corpus != "vocab64" or any(r[2] > 0 for r in ref), "no cross-class pair"
    assert ref and got == ref, (
        f"banded/bitmask path diverged from approxSimilarityJoin: "
        f"{len(got - ref)} extra, {len(ref - got)} missing of {len(ref)}"
    )


def _euclid_top10(spark, sf_dir: str) -> set[int]:
    e = table(spark, sf_dir, "embeddings")
    probe = F.broadcast(e.where(F.col("vec_id") == 0).select(F.col("embedding").alias("pv")))
    d2 = F.aggregate(
        F.zip_with(
            F.col("embedding"),
            F.col("pv"),
            lambda x, y: (x.cast("double") - y.cast("double"))
            * (x.cast("double") - y.cast("double")),
        ),
        F.lit(0.0),
        lambda a, x: a + x,
    )
    top = (
        e.where(F.col("vec_id") != 0)
        .crossJoin(probe)
        .select("vec_id", d2.alias("d2"))
        .orderBy("d2", "vec_id")
        .limit(10)
    )
    return {r.vec_id for r in top.collect()}


@pytest.mark.parametrize("sf_dir,floor", [(SF_SMALL, 0.9), (SF_GATE, 0.8)])
def test_brp_lsh_ann_recall_vs_exact_euclidean(spark, sf_dir, floor):
    """BucketedRandomProjectionLSH top-10 vs brute-force EUCLIDEAN top-10
    (same metric as the LSH — comparing against cosine would conflate metric
    choice with bucketing loss). Measured 1.0 / 0.9."""
    truth = _euclid_top10(spark, sf_dir)
    got = {r.vec_id for r in _queries()["q_sim_lsh_ann"](spark, sf_dir).collect()}
    recall = len(truth & got) / len(truth)
    assert recall >= floor, f"BRP-LSH recall {recall:.2f} < {floor} at {sf_dir}"


@pytest.mark.parametrize("sf_dir", [SF_SMALL, SF_GATE])
def test_ivf_recall_vs_exact_cosine(spark, sf_dir):
    """IVF sign-bit probe (5/16 cells) vs the exact cosine top-10. Measured
    0.7 / 0.6 — the recall cost of the partition-pruned scan; floor 0.5."""
    qs = _queries()
    truth = {r.vec_id for r in qs["q_sim_cosine_knn"](spark, sf_dir).collect()}
    got = {r.vec_id for r in qs["q_sim_ivf_knn"](spark, sf_dir).collect()}
    recall = len(truth & got) / len(truth)
    assert recall >= 0.5, f"IVF recall {recall:.2f} < 0.5 at {sf_dir}"
