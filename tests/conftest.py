from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from recsys_spark_spark.session import get_spark  # noqa: E402

SF_SMOKE = "/root/testdata/sf0.001"


@pytest.fixture(scope="session")
def spark():
    spark = get_spark(app_name="recsys-spark-tests", shuffle_partitions=8)
    yield spark
    # Session is shared process-wide; do not stop (other fixtures may hold it).


def persistent_ids(spark) -> set[int]:
    """Ids of the session's persistent RDDs, read with one py4j call."""
    text = str(spark.sparkContext._jsc.getPersistentRDDs().keySet().toString())
    return {int(i) for i in text.strip("[]").split(",") if i.strip()}


def checkpoints_left(spark, before: set[int]) -> list[int]:
    """Persistent, locally checkpointed RDDs not among `before`."""
    rdds = spark.sparkContext._jsc.getPersistentRDDs()
    return sorted(
        i for i in persistent_ids(spark) - before if rdds.get(i).rdd().isLocallyCheckpointed()
    )
