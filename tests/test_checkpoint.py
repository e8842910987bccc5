"""catalog.checkpoint: the one lineage cut, released by the query that made it.

Every checkpoint goes through ``catalog.checkpoint``; a registered query
releases its own once its output is materialized, so
``spark.catalog.clearCache()`` leaves nothing of the call behind.
"""

from __future__ import annotations

import pathlib

from recsys_spark_spark import catalog
from recsys_spark_spark.registry import load_all
from tests.conftest import SF_SMOKE, checkpoints_left, persistent_ids
from tools.check_oracles import compare, duck_connection

QUERIES, ORACLES = load_all()


def test_no_local_checkpoint_outside_catalog():
    """catalog.checkpoint is the engine's only localCheckpoint: a raw call
    elsewhere makes a checkpoint no query owns, so clearCache() misses it."""
    root = pathlib.Path(catalog.__file__).parent
    found = [
        f"{path.relative_to(root)}:{n}"
        for path in sorted(root.rglob("*.py"))
        if path != root / "catalog.py"
        for n, line in enumerate(path.read_text().splitlines(), 1)
        if ".localCheckpoint(" in line
    ]
    assert not found, found


def test_nested_query_frame_outlives_its_checkpoints(spark):
    """q_feature_store calls q_rfm_segmentation, which checkpoints: the
    inner call releases its own checkpoint, the outer frame still computes
    (count, then toPandas), and clearCache() leaves nothing behind."""
    spark.catalog.clearCache()
    before = persistent_ids(spark)
    df = QUERIES["q_feature_store"](spark, SF_SMOKE)
    assert checkpoints_left(spark, before) == []
    n = df.count()
    got = df.toPandas()
    assert len(got) == n
    con = duck_connection(SF_SMOKE)
    try:
        want = con.execute(ORACLES["q_feature_store"]).fetchdf()
    finally:
        con.close()
    assert not compare("q_feature_store", got, want)
    spark.catalog.clearCache()
    assert persistent_ids(spark) - before == set()


def test_checkpoint_outside_a_query_only_checkpoints(spark):
    """Called directly (as tests drive star_contract), checkpoint() owns
    nothing: the checkpoint stays until the caller drops it."""
    before = persistent_ids(spark)
    df = catalog.checkpoint(spark.range(5))
    left = checkpoints_left(spark, before)
    assert len(left) == 1 and df.count() == 5
    spark.sparkContext._jsc.getPersistentRDDs().get(left[0]).unpersist(False)
