"""Session defaults sized to the host (recsys_spark_spark/session.py).

The default shuffle width is the session's core count and the default heap
is half the host's memory. The shared test session passes
``shuffle_partitions=8``, so the defaults are read from a fresh session in a
subprocess. Width 1 (a 1-core host) must not change any result.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

from recsys_spark_spark.registry import load_all
from recsys_spark_spark.session import driver_memory
from tests.conftest import SF_SMOKE
from tools.check_oracles import compare, duck_connection

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# Keys built on operators.sorts.value_buckets, whose bucket count is the
# session's shuffle width.
VALUE_BUCKET_KEYS = (
    "q_sort_multi",
    "q_window_ntile",
    "q_quantile_bins",
    "q_decile_lift",
    "q_rfm_segmentation",
    "q_stream_late_drop",
)

_PROBE = """
import json, sys
sys.path.insert(0, sys.argv[1])
from recsys_spark_spark.session import get_spark

def read(spark):
    return {
        "width": int(spark.conf.get("spark.sql.shuffle.partitions")),
        "cores": spark.sparkContext.defaultParallelism,
        "heap_conf": spark.sparkContext.getConf().get("spark.driver.memory"),
        "heap_max_b": spark._jvm.java.lang.Runtime.getRuntime().maxMemory(),
    }

spark = get_spark(app_name="session-default")
out = {"default": read(spark)}
spark.stop()
out["cpus32"] = read(get_spark(app_name="session-cpus32", cpus=32))
print("@@session " + json.dumps(out))
"""


def _mem_total_b() -> int:
    with open("/proc/meminfo") as f:
        return next(int(ln.split()[1]) for ln in f if ln.startswith("MemTotal:")) << 10


@pytest.fixture(scope="module")
def fresh_sessions():
    env = {k: v for k, v in os.environ.items() if k != "SPARK_DRIVER_MEMORY"}
    proc = subprocess.run(
        [sys.executable, "-c", _PROBE, REPO],
        cwd=REPO, env=env, capture_output=True, text=True, timeout=600,
    )
    assert proc.returncode == 0, proc.stdout[-2000:] + proc.stderr[-2000:]
    line = next(ln for ln in proc.stdout.splitlines() if ln.startswith("@@session "))
    return json.loads(line.split(" ", 1)[1])


def test_default_width_is_the_core_count(fresh_sessions):
    d = fresh_sessions["default"]
    assert d["width"] == d["cores"]


def test_32_cores_resolve_to_the_old_width_32(fresh_sessions):
    assert fresh_sessions["cpus32"]["cores"] == 32
    assert fresh_sessions["cpus32"]["width"] == 32


def test_default_heap_fits_the_host(fresh_sessions):
    d = fresh_sessions["default"]
    assert d["heap_conf"] == driver_memory()
    assert d["heap_max_b"] <= _mem_total_b()


@pytest.mark.parametrize(
    "mem_total_kb, heap",
    [(1_000_000, "1g"), (16_479_424, "7g"), (64 << 20, "32g"), (100, "1g")],
)
def test_driver_memory_is_half_of_mem_total_with_1g_floor(tmp_path, mem_total_kb, heap):
    meminfo = tmp_path / "meminfo"
    meminfo.write_text(f"MemFree:        123 kB\nMemTotal:       {mem_total_kb} kB\n")
    assert driver_memory(str(meminfo)) == heap


@pytest.fixture(scope="module")
def duck():
    con = duck_connection(SF_SMOKE)
    yield con
    con.close()


@pytest.fixture
def width_one(spark):
    old = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "1")
    try:
        yield spark
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old)


@pytest.mark.parametrize("name", VALUE_BUCKET_KEYS)
def test_value_bucket_keys_exact_at_width_one(name, width_one, duck):
    queries, oracles = load_all()
    sdf = queries[name](width_one, SF_SMOKE).toPandas()
    ddf = duck.execute(oracles[name]).fetchdf()
    assert len(ddf) > 0
    problems = compare(name, sdf, ddf)
    assert not problems, problems
