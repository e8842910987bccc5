"""Catalog tables are resolved on the driver: ``catalog.table`` starts no
Spark job, and every handle has exactly the schema an inferring
``spark.read.parquet`` gives (names, types, nullability), the ``events``
``ts`` fix-up applied on both sides."""

from __future__ import annotations

import datetime

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from recsys_spark_spark import catalog
from tests.conftest import SF_SMOKE
from tests.test_memo import _job_ids

SFS = tuple(SF_SMOKE.replace("sf0.001", sf) for sf in ("sf0.001", "sf0.01", "sf0.1"))


def _inferred(spark, monkeypatch, sf_dir, name):
    """`catalog._load` with an inferring read in place of `_read`."""
    with monkeypatch.context() as m:
        m.setattr(catalog, "_read", lambda spark_, path: spark_.read.parquet(path))
        return catalog._load(spark, sf_dir, name)


def _fields(df):
    return [(f.name, f.dataType, f.nullable) for f in df.schema]


def test_table_starts_no_job(spark, monkeypatch):
    monkeypatch.setattr(catalog, "_HANDLES", {})
    before = _job_ids(spark)
    tables = catalog.load_tables(spark, SFS[0])
    assert _job_ids(spark) - before == set()
    assert len(catalog._HANDLES) == len(catalog.TABLES)
    before = _job_ids(spark)
    spark.read.parquet(f"{SFS[0]}/region.parquet")
    assert _job_ids(spark) - before  # the counter sees the inference the catalog avoids
    assert tables["region"].count() == 5


@pytest.mark.parametrize("sf_dir", SFS, ids=lambda p: p.rsplit("/", 1)[-1])
def test_schema_equals_inference(spark, monkeypatch, sf_dir):
    for name in catalog.TABLES:
        got = catalog._load(spark, sf_dir, name)
        want = _inferred(spark, monkeypatch, sf_dir, name)
        assert got.schema == want.schema, name
        assert _fields(got) == _fields(want), name


def test_nanos_events_file(spark, monkeypatch, tmp_path):
    """A TIMESTAMP(NANOS) `events.ts` reads as a long under nanosAsLong on
    both sides, then becomes a µs timestamp."""
    ts = [datetime.datetime(2024, 1, 1, 0, 0, 0, 1), None, datetime.datetime(2024, 3, 9, 12, 30)]
    pq.write_table(
        pa.table({
            "event_id": pa.array([1, 2, 3], pa.int64()),
            "ts": pa.array(ts, pa.timestamp("ns")),
            "event_type": ["view", "buy", None],
        }),
        tmp_path / "events.parquet",
    )
    assert "timeUnit=nanoseconds" in str(pq.ParquetFile(tmp_path / "events.parquet").schema.column(1).logical_type)
    before = _job_ids(spark)
    got = catalog._load(spark, str(tmp_path), "events")
    assert _job_ids(spark) - before == set()
    want = _inferred(spark, monkeypatch, str(tmp_path), "events")
    assert _fields(got) == _fields(want)
    assert dict(got.dtypes)["ts"] == "timestamp"
    assert sorted(got.collect(), key=lambda r: r.event_id) == sorted(want.collect(), key=lambda r: r.event_id)


def test_directory_table_written_by_spark(spark, tmp_path):
    """A directory of Spark part files and `_SUCCESS`, no summary files:
    the one footer inference reads (mergeSchema=false) decides, also when
    the part files disagree."""
    path = str(tmp_path / "lineitem.parquet")
    spark.range(0, 30, 1, 3).select(
        "id", (F.col("id") % 7).cast("int").alias("k"), F.lit("x").alias("s")
    ).write.parquet(path)
    spark.range(30, 40, 1, 2).select("id", F.col("id").cast("double").alias("v")).write.mode("append").parquet(path)
    before = _job_ids(spark)
    got = catalog._read(spark, path)
    assert _job_ids(spark) - before == set()
    want = spark.read.parquet(path)
    assert _fields(got) == _fields(want)
    assert got.count() == 40
