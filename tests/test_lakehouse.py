"""Transaction-log-lite contracts (lakehouse.py): snapshot isolation, time
travel, vacuum retention, and the atomic-commit race guard — the mechanics
the q_table_time_travel oracle can't see from version totals alone."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from recsys_spark_spark import lakehouse as lh
from tests.conftest import SF_SMOKE

TBL = os.path.join(lh.TMP_DIR, "lakehouse_test_table")


def _seed(spark):
    df = spark.range(0, 100).select(
        F.col("id"), (F.col("id") % 5).alias("grp")
    )
    lh.create_table(df, TBL)
    return df


def test_versions_accumulate_and_stay_readable(spark):
    _seed(spark)
    lh.append_table(
        spark.range(100, 120).select("id", (F.col("id") % 5).alias("grp")), TBL
    )
    lh.overwrite_where(spark, TBL, F.col("grp") == 0, None)  # delete grp 0
    assert [c for c in lh._versions(TBL)] == [0, 1, 2]
    assert lh.read_version(spark, TBL, 0).count() == 100
    assert lh.read_version(spark, TBL, 1).count() == 120
    v2 = lh.read_version(spark, TBL, 2)
    assert v2.count() == 96  # 120 - 24 rows with grp==0
    assert v2.where(F.col("grp") == 0).count() == 0
    # latest == explicit latest version
    assert lh.read_version(spark, TBL).count() == 96


def test_update_rewrites_only_matching_rows(spark):
    _seed(spark)
    lh.overwrite_where(
        spark, TBL, F.col("grp") == 1, lambda m: m.withColumn("id", F.col("id") + 1000)
    )
    v1 = lh.read_version(spark, TBL, 1)
    assert v1.count() == 100
    assert v1.where(F.col("id") >= 1000).count() == 20
    # untouched rows identical to v0
    v0_rest = set(r.id for r in lh.read_version(spark, TBL, 0).where(F.col("grp") != 1).collect())
    v1_rest = set(r.id for r in v1.where(F.col("grp") != 1).collect())
    assert v0_rest == v1_rest


def test_vacuum_plan_respects_retention(spark):
    _seed(spark)
    lh.overwrite_where(spark, TBL, F.col("grp") == 0, None)  # v1 rewrites all
    lh.overwrite_where(spark, TBL, F.col("grp") == 1, None)  # v2 rewrites all
    # retaining from v0 -> nothing removable; from v2 -> v0+v1 files gone
    assert lh.vacuum_plan(TBL, 0) == []
    removable = lh.vacuum_plan(TBL, 2)
    assert removable
    live2 = set(lh.live_files(TBL, 2))
    assert not (set(removable) & live2)
    # every removable file belongs to some earlier version's live set
    ever = set(lh.live_files(TBL, 0)) | set(lh.live_files(TBL, 1))
    assert set(removable) <= ever
    # physically vacuuming then reading the retained version still works
    for f in removable:
        os.unlink(os.path.join(TBL, f))
    assert lh.read_version(spark, TBL, 2).count() == 60  # 100 - 2x20


def test_commit_race_is_refused(spark, monkeypatch):
    _seed(spark)
    # a concurrent writer claims version 1 AFTER this writer read the log
    # (simulated by pinning the stale version view) — the rename-commit must
    # refuse rather than overwrite the other writer's commit
    monkeypatch.setattr(lh, "_versions", lambda path: [0])
    os.makedirs(lh._log_dir(TBL), exist_ok=True)
    open(os.path.join(lh._log_dir(TBL), "00001.json"), "w").write("{}")
    with pytest.raises(RuntimeError, match="concurrent commit"):
        lh._commit(TBL, "append", ["data/x.parquet"], [])
    # and no temp debris is left behind
    assert not [f for f in os.listdir(lh._log_dir(TBL)) if f.endswith(".tmp")]


def test_commit_never_overwrites_a_published_version(monkeypatch, tmp_path):
    # the other writer publishes version 1 between this writer's log listing
    # and its publish, and no existence check sees it: the publish itself
    # must refuse, leaving the winner's commit byte-for-byte intact
    tbl = str(tmp_path / "tbl")
    os.makedirs(lh._log_dir(tbl))
    winner = tmp_path / "tbl" / "_log" / "00001.json"
    winner.write_text('{"version": 1, "op": "append", "add": ["data/w.parquet"], "remove": []}')
    before = winner.read_bytes()
    monkeypatch.setattr(lh, "_versions", lambda path: [0])
    monkeypatch.setattr(lh.os.path, "exists", lambda p: False)
    with pytest.raises(RuntimeError, match="concurrent commit"):
        lh._commit(tbl, "append", ["data/x.parquet"], [])
    monkeypatch.undo()
    assert winner.read_bytes() == before
    assert os.listdir(lh._log_dir(tbl)) == ["00001.json"]
