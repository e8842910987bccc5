"""Workload definitions shared by the benchmark runner, its measurement
worker and the expected-output snapshot script. Imports nothing heavy, so
the runner can validate its arguments before any Spark process starts.

Each workload is a tuple of registry keys. One pass runs every key once,
in an order shuffled by the workload seed; the engine sees only the keys.
"""

from __future__ import annotations

import os

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
# The sf0.01 copy of the repository's synthetic test tables (TESTDATA.md,
# seed 42): ten single-file parquet tables, 60k lineitem rows. The benchmark
# reads only files inside its own checkout, so it carries its inputs.
DATA_DIR = os.path.join(BENCH_DIR, "data")
# One parquet file per key: the key's DuckDB oracle (registry.ORACLES) run
# over DATA_DIR once by make_expected.py, so timed runs pay no DuckDB time.
EXPECTED_DIR = os.path.join(BENCH_DIR, "expected")

WORKLOADS: dict[str, tuple[str, ...]] = {
    # The flagship ItemCF recommender alone: almost all of a call is
    # execution (~15 stages, ~330 tasks at sf0.01), so AQE width and
    # candidate pruning show here.
    "cf_flagship": ("q_cf_recommend",),
    # The only keys whose cost is parquet writes, commits and read-back:
    # shuffle width decides the number of files written, and it is the
    # only workload that runs lakehouse and sinks.
    "lake_write": (
        "q_table_time_travel",
        "q_table_schema_evolution",
        "q_sink_upsert",
        "q_sink_merge",
        "q_sink_kv_export",
        "q_sink_parquet",
        "q_catalog_managed_table",
        "q_source_partitioned",
    ),
}
