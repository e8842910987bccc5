"""Property-based checks for the training-data layout operators — the REAL
registered queries run against hypothesis-generated corpora written as
temporary documents tables, compared to independent pure-Python references.

The DuckDB oracles prove parity on the fixture data; these prove the
*logic* on adversarial shapes the fixtures don't contain: empty documents,
single-char documents, documents exactly at a chunk boundary, token budgets
vs tiny documents, and exact-duplicate documents (which MinHash must pair
with estimate 1.0).
"""

from __future__ import annotations

import hashlib
import math
import os
import shutil
import uuid

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from recsys_spark_spark.catalog import TMP_DIR
from recsys_spark_spark.registry import load_all

QUERIES, _ = load_all()

TMP = os.path.join(TMP_DIR, "proptest")


def _spark():
    from recsys_spark_spark.session import get_spark

    return get_spark(app_name="recsys-spark-tests", shuffle_partitions=8)


def _write_docs(spark, texts):
    """Write a hypothesis corpus as a documents table; returns its sf_dir.
    A unique directory per example keeps catalog/table-handle and minhash
    signature memos from serving stale data."""
    sf_dir = os.path.join(TMP, uuid.uuid4().hex[:12])
    rows = [(i, t, "en", "src0", len(t)) for i, t in enumerate(texts)]
    df = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )
    df.coalesce(1).write.mode("overwrite").parquet(f"{sf_dir}/documents.parquet")
    return sf_dir


docs_strategy = st.lists(
    st.text(alphabet="ab c", min_size=0, max_size=300),
    min_size=1,
    max_size=10,
)


@settings(max_examples=6, deadline=None, suppress_health_check=list(HealthCheck))
@given(texts=docs_strategy)
def test_chunk_fixed_matches_python_reference(texts):
    """q_chunk_fixed (the registered query) must equal direct Python slicing,
    including zero-length documents (zero chunks, not an error)."""
    spark = _spark()
    from recsys_spark_spark.llm.chunking import CHUNK_CHARS, CHUNK_STRIDE

    sf_dir = _write_docs(spark, texts)
    try:
        out = QUERIES["q_chunk_fixed"](spark, sf_dir).toPandas()
        got = sorted(
            (int(r.doc_id), int(r.chunk_idx), int(r.start), int(r.chunk_len))
            for r in out.itertuples(index=False)
        )
        expect = sorted(
            (i, ci, s, len(t[s : s + CHUNK_CHARS]))
            for i, t in enumerate(texts)
            for ci, s in enumerate(range(0, len(t), CHUNK_STRIDE))
        )
        assert got == expect
    finally:
        shutil.rmtree(sf_dir, ignore_errors=True)


@settings(max_examples=6, deadline=None, suppress_health_check=list(HealthCheck))
@given(texts=docs_strategy)
def test_pack_sequences_matches_python_reference(texts):
    """q_pack_sequences (the registered query, with its real md5 bucketing)
    must equal a per-bucket running-sum Python reference."""
    spark = _spark()
    from recsys_spark_spark.llm.chunking import PACK_BUCKETS, PACK_BUDGET

    sf_dir = _write_docs(spark, texts)
    try:
        out = QUERIES["q_pack_sequences"](spark, sf_dir).toPandas()
        ref = {}
        cums = {}
        for i, t in enumerate(texts):
            bucket = (
                int(hashlib.md5(str(i).encode()).hexdigest()[:8], 16) % PACK_BUCKETS
            )
            n_tok = math.ceil(len(t) / 4)
            start = cums.get(bucket, 0)
            ref[i] = (bucket, n_tok, start, start // PACK_BUDGET)
            cums[bucket] = start + n_tok
        for r in out.itertuples(index=False):
            assert ref[int(r.doc_id)] == (
                int(r.bucket),
                int(r.n_tok),
                int(r.start_tok),
                int(r.seq_id),
            ), f"doc {r.doc_id}"
        assert len(out) == len(texts)
    finally:
        shutil.rmtree(sf_dir, ignore_errors=True)


@settings(max_examples=5, deadline=None, suppress_health_check=list(HealthCheck))
@given(texts=st.lists(st.text(alphabet="xy z", min_size=0, max_size=60), min_size=1, max_size=6))
def test_minhash_exact_pairs_duplicates_with_full_agreement(texts):
    """q_dedup_minhash_exact (the registered query) on a corpus that
    CONTAINS an exact duplicate pair: the duplicate pair must surface with
    est_jaccard 1.0 and all bands shared; every reported pair must satisfy
    d1 < d2, n_shared_bands in [1, BANDS], est_jaccard in [0, 1]."""
    spark = _spark()
    from recsys_spark_spark.llm.dedup import _MH_BAND, _MH_K

    n_bands = _MH_K // _MH_BAND
    # plant a guaranteed duplicate pair with at least one bigram
    base = ["x y x z", "x y x z"] + texts
    sf_dir = _write_docs(spark, base)
    try:
        out = QUERIES["q_dedup_minhash_exact"](spark, sf_dir).toPandas()
        assert (out["d1"] < out["d2"]).all()
        assert out.duplicated(["d1", "d2"]).sum() == 0
        assert out["n_shared_bands"].between(1, n_bands).all()
        assert out["est_jaccard"].between(0.0, 1.0).all()
        dup = out[(out["d1"] == 0) & (out["d2"] == 1)]
        assert len(dup) == 1, "planted duplicate pair not found"
        assert dup.iloc[0]["est_jaccard"] == 1.0
        assert dup.iloc[0]["n_shared_bands"] == n_bands
    finally:
        shutil.rmtree(sf_dir, ignore_errors=True)
