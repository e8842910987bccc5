"""Replicates the driver's correctness gate locally at sf0.001 (fast).

Every registered query with a SQL oracle is compared against DuckDB on the
same parquet: row count, column names, exact order-insensitive values.
Every key, oracled or not, must also release what it checkpointed: no RDD
the call made is left persistent and locally checkpointed.
For the sf0.01 (driver-scale) version run
`python tools/check_oracles.py --sf <sf0.01 data dir> --out sweep.jsonl`.
"""

from __future__ import annotations

import pytest

from recsys_spark_spark.registry import load_all
from tests.conftest import SF_SMOKE, checkpoints_left, persistent_ids
from tools.check_oracles import compare, duck_connection

QUERIES, ORACLES = load_all()


@pytest.fixture(scope="module")
def duck():
    con = duck_connection(SF_SMOKE)
    yield con
    con.close()


@pytest.mark.parametrize("name", sorted(ORACLES))
def test_oracle_parity(name, spark, duck):
    before = persistent_ids(spark)
    sdf = QUERIES[name](spark, SF_SMOKE).toPandas()
    assert checkpoints_left(spark, before) == []
    ddf = duck.execute(ORACLES[name]).fetchdf()
    problems = compare(name, sdf, ddf)
    assert not problems, problems


@pytest.mark.parametrize("name", sorted(set(QUERIES) - set(ORACLES)))
def test_rows_only_queries_run(name, spark):
    before = persistent_ids(spark)
    df = QUERIES[name](spark, SF_SMOKE)
    assert df.count() >= 0
    assert checkpoints_left(spark, before) == []
    assert df.schema.fieldNames()
