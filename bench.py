"""Benchmark runner — driver contract (BASELINE.md / BENCH_r{N}.json).

Usage: python bench.py [name ...]

Runs the headline queries (or the named registry keys) at
$SPARK_GRAFT_SF_DIR (default: the sf0.1 test data, SF_DIR below) on
local[$SPARK_GRAFT_CPUS] and prints ONE JSON line:
    {"metric": "...", "value": N, "unit": "sec", "queries": {...}, "sf": ...}
The metric is ``headline_total_runtime`` for the headline set and
``total_runtime`` for named keys; the protocol is the same for both.

Timing discipline: one warm SparkSession for the whole run (local-mode JVM
startup would otherwise dominate at sf0.1), each query timed by ``run_one``
from the builder call to the end of its action. ``run_one`` is the one timing
loop the repo's measurement scripts share (tools/sf1_probe.py imports it).
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from recsys_spark_spark.registry import load_all  # noqa: E402
from recsys_spark_spark.session import get_spark  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

# Headline set: the flagship CF pipeline + one representative per operator
# family (scan, filter-agg, star join, wide agg, window, top-k, dedup, knn,
# text, streaming-twin). Kept deliberately small so the number is readable.
HEADLINE = (
    "q_cf_recommend",
    "q_scan_filter_pushdown",
    "q_filter_range",
    "q_join_multiway",
    "q_agg_groupby",
    "q_window_running",
    "q_topk_per_group",
    "q_dedup_exact",
    "q_sim_cosine_knn",
    "q_text_tfidf",
    "q_stream_session",
)

RUNS = 5
WALL_BUDGET_S = 120.0  # settle-pass budget, after the interleaved rounds

# Settle-pass weighting: the flagship is ~60% of the headline total, so a
# noise burst landing on its handful of samples is the entire gate exposure
# (one driver sample of 6.282 s against 4.1-4.5 s settled on the same plans).
# Extra samples are therefore allocated by runtime — a query's noise exposure
# in the total is proportional to its seconds, so the extra budget goes where
# the seconds are. Sub-floor queries (min < 0.3 s) have no headroom worth
# buying and get none; the wall budget still caps everything.
EXTRA_RUNS_BIG = 12  # queries with min >= 1 s (the flagship)
EXTRA_RUNS_SMALL = 3  # queries with 0.3 s <= min < 1 s
SETTLE_FLOOR_S = 0.3


def run_one(spark, fn, sf_dir: str, action: str = "toPandas") -> tuple[float, int | None]:
    """One timed end-to-end execution: ``(seconds, rows)``.

    Caches are cleared first, so every run recomputes from the parquet scans;
    the clock covers the builder call too, because a key that checkpoints
    does its work inside ``fn()``, not in the final action.

    ``action="toPandas"`` materializes the full result on the Python driver
    via Arrow and returns its row count. Arrow is the path any real Python
    consumer uses and the apples-to-apples twin of the DuckDB referent's
    columnar .df() fetch; legacy collect() deserializes one pickled Row object
    per row (~0.5 s of pure Python overhead on a 150k-row result — measured 5x
    the Arrow path, and none of it is engine work).

    ``action="noop"`` writes to the noop sink instead: every column of every
    row is computed distributed and nothing crosses to the driver, so it is
    engine time alone; rows is None.

    Deliberately NO explicit System.gc() between runs: a forced full GC
    clears the soft-referenced codegen class cache, so every subsequent run
    re-compiles and re-interprets its generated stages (measured 2-4x wall
    inflation). Steady-state behavior — warm JIT, incremental GC — is the
    honest thing to measure."""
    spark.catalog.clearCache()
    t0 = time.perf_counter()
    df = fn(spark, sf_dir)
    if action == "noop":
        df.write.format("noop").mode("overwrite").save()
        return time.perf_counter() - t0, None
    pdf = df.toPandas()
    return time.perf_counter() - t0, len(pdf)


def main() -> None:
    queries, _ = load_all()
    names = tuple(dict.fromkeys(sys.argv[1:])) or HEADLINE
    unknown = [n for n in names if n not in queries]
    if unknown:
        raise SystemExit(f"unknown query names: {' '.join(unknown)}")
    spark = get_spark(app_name="recsys-spark-bench")
    spark.sparkContext.setLogLevel("ERROR")

    def timed(name: str) -> float:
        return run_one(spark, queries[name], SF_DIR)[0]

    # Warm-engine protocol (BASELINE.md: warm session): untimed priming
    # passes through the SAME code path as the timed runs (collect, not
    # count — count can compile a column-pruned plan, and AQE finalizes
    # different stages for it, voiding the warm-up), then RUNS timed passes.
    #
    # Noise discipline: this host is a shared VM with documented 2-5x
    # wall-clock swings (BASELINE.md "M7 measured"; one driver bench caught a
    # 0.78 s query at 4.62 s). Two defenses:
    #   * INTERLEAVE — rounds run all queries round-robin, so a multi-second
    #     CPU-steal burst lands on one round of many queries instead of on
    #     all RUNS back-to-back samples of one query;
    #   * MIN over samples — external noise is strictly additive, so the
    #     minimum is the best estimator of machine capability; medians of
    #     sequential runs were observed to absorb entire noise windows.
    # TWO priming passes: one pass leaves the last-primed queries' post-AQE
    # stages still tiering in C2 when their first timed sample lands — a
    # single bench invocation showed tfidf/topk 30%+ above their min-of-3
    # floors. The second pass costs ~7 s and lets every generated stage reach
    # steady state before timing starts.
    for _ in range(2):
        for name in names:
            timed(name)

    samples: dict[str, list[float]] = {name: [] for name in names}
    for _ in range(RUNS):
        for name in names:
            samples[name].append(timed(name))

    # Settle pass: under the additive-noise model, the min is trustworthy
    # once at least two samples agree near it (the floor was reached twice);
    # a query whose samples are all scattered had every round land in a
    # noise burst, so it gets a few more samples. Also covers JIT tiering —
    # the first 1-2 timed runs can still be compiling post-AQE stages.
    # WALL_BUDGET caps the whole settle pass: during a sustained noise storm
    # every sample inflates 3-5x and more sampling cannot help — emit what we
    # have rather than risk the driver's patience.
    def extra_budget(s: list[float]) -> int:
        # agreement can also mean two samples hit the SAME sustained noise
        # plateau, so under the additive-noise model more samples are
        # strictly better — spend the extra budget where the seconds (and
        # therefore the gate exposure) are; sub-floor queries have no noise
        # headroom worth buying.
        m = min(s)
        if m < SETTLE_FLOOR_S:
            return 0
        return EXTRA_RUNS_BIG if m >= 1.0 else EXTRA_RUNS_SMALL

    # Longest queries first, so when the deadline cuts the pass short the
    # flagship has already banked its extra samples.
    deadline = time.perf_counter() + WALL_BUDGET_S
    for name in sorted(names, key=lambda n: -min(samples[n])):
        s = samples[name]
        for _ in range(extra_budget(s)):
            if time.perf_counter() > deadline:
                break
            s.append(timed(name))

    timings = {name: round(min(s), 3) for name, s in samples.items()}

    sf = SF_DIR.rstrip("/").rsplit("sf", 1)[-1]
    # Additive fields only (the driver contract keys are unchanged):
    #   cpus    — the session's RESOLVED core count (local[$SPARK_GRAFT_CPUS]
    #             via session.py), so a scaling check can see the env var
    #             was honored;
    #   sf_dir  — the resolved data directory;
    #   samples — per-query sample counts from the settle pass, so the
    #             flagship's deeper sampling is auditable.
    print(
        json.dumps(
            {
                "metric": "total_runtime" if sys.argv[1:] else "headline_total_runtime",
                "value": round(sum(timings.values()), 3),
                "unit": "sec",
                "queries": timings,
                "sf": float(sf),
                "cpus": spark.sparkContext.defaultParallelism,
                "sf_dir": SF_DIR,
                "samples": {name: len(s) for name, s in samples.items()},
            }
        )
    )


if __name__ == "__main__":
    main()
