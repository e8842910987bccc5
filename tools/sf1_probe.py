"""sf1 scale probe: measure, don't extrapolate.

Builds a 10x replica of /root/testdata/sf0.1 (disjoint user/order/doc/vec key
ranges per copy, shared item catalog — "10x the users, same catalog", which
makes co-occurrence denser, the adversarial direction for the CF flagship),
then runs each key at BOTH sf0.1 and sf1 in one session and diffs their
physical plan shapes.

What "scales" means here, concretely:
- wall-time grows sub-linearly vs the 10x data (fixed cost amortizes, cores
  saturate) and nothing blows up super-linearly;
- the PLAN is unchanged: same exchange count, same broadcast decisions — no
  AQE demotion of a broadcast to sort-merge, no new shuffle appearing only
  at the larger size.

Each key is timed with bench.run_one under both actions, the minimum of 2
runs each: the noop sink (every row computed distributed, none crosses to the
driver: engine time) and toPandas (engine time + Arrow materialization of the
full result). A key whose noop ratio stays low while its toPandas ratio is
~10x pays for an output that is itself 10x larger, not for a scaling defect.
A failed toPandas (a full-matrix output can exceed any driver result cap) is
recorded as the key's ``collect_error``; its noop numbers are kept.

Usage: python tools/sf1_probe.py --out FILE [name ...]
With no names every registered key is probed, in registry order. One entry
per key is written to FILE as soon as the key finishes; keys already in FILE
are skipped, so a killed probe resumes by rerunning the same command. The
replica lives in /tmp/sf1_probe_data (regenerated only if its _SUCCESS marker
is missing).
"""

from __future__ import annotations

import argparse
import json
import os
import re
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from pyspark.sql import functions as F  # noqa: E402

from bench import run_one  # noqa: E402
from recsys_spark_spark.registry import load_all  # noqa: E402
from recsys_spark_spark.session import get_spark  # noqa: E402

SRC = "/root/testdata/sf0.1"
DST = "/tmp/sf1_probe_data"
COPIES = 10
RUNS = 2
# key offsets chosen above every sf0.1 max key (orderkey<~1.6M, custkey<150k,
# event_id<100k, user_id<15k, doc_id<5k, vec_id<2k)
OFF = {
    "o_orderkey": 10_000_000,
    "o_custkey": 1_000_000,
    "event_id": 10_000_000,
    "user_id": 1_000_000,
    "doc_id": 1_000_000,
    "vec_id": 1_000_000,
}
PLAN_OPS = (
    "Exchange", "BroadcastHashJoin", "SortMergeJoin", "ShuffledHashJoin",
    "BroadcastNestedLoopJoin", "HashAggregate", "Window", "Sort",
    "TakeOrderedAndProject", "WindowGroupLimit",
)


def generate(spark) -> None:
    if os.path.exists(os.path.join(DST, "_SUCCESS")):
        return
    os.makedirs(DST, exist_ok=True)
    copies = F.broadcast(spark.range(0, COPIES).select(F.col("id").alias("_copy")))

    def rep(name: str, offsets: dict[str, int]):
        df = spark.read.parquet(f"{SRC}/{name}.parquet").crossJoin(copies)
        for col, off in offsets.items():
            df = df.withColumn(col, F.col(col) + F.col("_copy") * F.lit(off))
        df.drop("_copy").write.mode("overwrite").parquet(f"{DST}/{name}.parquet")

    # replicated fact/user tables: disjoint key universes per copy
    rep("orders", {"o_orderkey": OFF["o_orderkey"], "o_custkey": OFF["o_custkey"]})
    rep("lineitem", {"l_orderkey": OFF["o_orderkey"]})
    rep("customer", {"c_custkey": OFF["o_custkey"]})
    rep("events", {"event_id": OFF["event_id"], "user_id": OFF["user_id"]})
    rep("documents", {"doc_id": OFF["doc_id"]})
    rep("embeddings", {"vec_id": OFF["vec_id"]})
    # shared dimensions: copied once, unchanged
    for name in ("region", "nation", "supplier", "part"):
        spark.read.parquet(f"{SRC}/{name}.parquet").write.mode("overwrite").parquet(
            f"{DST}/{name}.parquet"
        )
    open(os.path.join(DST, "_SUCCESS"), "w").close()


def plan_digest(df) -> dict:
    """Operator counts of the formatted physical plan — the properties that
    must NOT change between sf0.1 and sf1."""
    plan = df._sc._jvm.PythonSQLUtils.explainString(df._jdf.queryExecution(), "formatted")
    return {op: len(re.findall(rf"\b{op}\b", plan)) for op in PLAN_OPS}


def ratio(d: dict) -> float | None:
    return round(d["sf1"] / d["sf0.1"], 2) if d.get("sf0.1") and "sf1" in d else None


def probe(spark, fn) -> dict:
    entry: dict = {"plan": {}, "noop_sec": {}, "collect_sec": {}, "rows": {}}
    for label, sf_dir in (("sf0.1", SRC), ("sf1", DST)):
        entry["plan"][label] = plan_digest(fn(spark, sf_dir))  # untimed
        entry["noop_sec"][label] = round(
            min(run_one(spark, fn, sf_dir, "noop")[0] for _ in range(RUNS)), 2
        )
        if "collect_error" in entry:
            continue
        try:
            runs = [run_one(spark, fn, sf_dir) for _ in range(RUNS)]
        except Exception as ex:  # noqa: BLE001 — a driver result cap, not the engine
            entry["collect_error"] = f"{label}: {type(ex).__name__}: {ex}"[:300]
            continue
        entry["collect_sec"][label] = round(min(s for s, _ in runs), 2)
        entry["rows"][label] = runs[0][1]
    entry["noop_ratio"] = ratio(entry["noop_sec"])
    entry["collect_ratio"] = ratio(entry["collect_sec"])
    entry["plan_unchanged"] = entry["plan"]["sf0.1"] == entry["plan"]["sf1"]
    return entry


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--out", required=True, help="JSON report; keys already in it are skipped")
    ap.add_argument("names", nargs="*", help="keys to probe (default: every registered key)")
    args = ap.parse_args()

    queries, _ = load_all()
    unknown = [n for n in args.names if n not in queries]
    if unknown:
        ap.error(f"unknown query names: {' '.join(unknown)}")
    report: dict = {"copies": COPIES, "queries": {}}
    if os.path.exists(args.out):
        with open(args.out) as f:
            report = json.load(f)
    todo = [n for n in (args.names or queries) if n not in report["queries"]]
    print(f"{len(todo)} keys to probe, {len(report['queries'])} already in {args.out}", flush=True)
    if not todo:
        return 0

    # 8g result cap: legitimately pair-shaped outputs (user-user sims) top
    # 1 GiB serialized at sf1 and killed whole probe batches at the 1g
    # default — a harness limit, not a query defect (the probe materializes
    # full results on the driver; production sinks write distributed).
    spark = get_spark(app_name="sf1-probe", extra_conf={"spark.driver.maxResultSize": "8g"})
    spark.sparkContext.setLogLevel("ERROR")
    t0 = time.time()
    generate(spark)
    report["gen_sec"] = round(time.time() - t0, 1)

    for name in todo:
        try:
            entry = probe(spark, queries[name])
        except Exception as ex:  # noqa: BLE001 — isolate per-query failures
            entry = {"error": f"{type(ex).__name__}: {ex}"[:300]}
        report["queries"][name] = entry
        print(name, json.dumps({k: v for k, v in entry.items() if k != "plan"}), flush=True)
        # written after EVERY key: a mid-batch crash (VM eviction, OOM) keeps
        # the finished entries, and the rerun resumes after them
        with open(args.out, "w") as f:
            json.dump(report, f, indent=2)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
