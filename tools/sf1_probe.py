"""One-off sf1 scale probe (VERDICT round 3 #5): measure, don't extrapolate.

Builds a 10x replica of /root/testdata/sf0.1 (disjoint user/order/doc/vec key
ranges per copy, shared item catalog — "10x the users, same catalog", which
makes co-occurrence denser, the adversarial direction for the CF flagship),
then runs the flagship + the most expensive headline queries at BOTH sf0.1
and sf1 in one session and diffs their physical plan shapes.

What "scales" means here, concretely:
- wall-time grows sub-linearly vs the 10x data (fixed cost amortizes, cores
  saturate) and nothing blows up super-linearly;
- the PLAN is unchanged: same exchange count, same broadcast decisions — no
  AQE demotion of a broadcast to sort-merge, no new shuffle appearing only
  at the larger size.

Usage: python tools/sf1_probe.py [--out SF1_PROBE.json]
The generated replica lives in /tmp/sf1_probe_data (regenerated only if its
_SUCCESS marker is missing). Results feed BASELINE.md's "sf1 probe" section.
"""

from __future__ import annotations

import argparse
import json
import os
import re
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from recsys_spark_spark.registry import load_all  # noqa: E402
from recsys_spark_spark.session import get_spark  # noqa: E402

SRC = "/root/testdata/sf0.1"
DST = "/tmp/sf1_probe_data"
COPIES = 10
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

PROBE_QUERIES = (
    "q_cf_recommend",
    "q_join_multiway",
    "q_topk_per_group",
    "q_text_tfidf",
    "q_sim_cosine_knn",
    "q_agg_groupby",
    # round-5 additions (VERDICT r4 #6): the new heavy operators —
    # banded minhash, interval join, iterative pagerank, DAU/WAU explode,
    # plus the round-5 distributed global rank and gap sessionization
    "q_dedup_minhash_exact",
    "q_join_interval",
    "q_graph_pagerank",
    "q_active_users",
    "q_sort_multi",
    "q_sessionize_batch",
    # round-5 session additions: the new pair-join recommender, the
    # densifying co-purchase triangle join (the adversarial query under
    # "10x users, same catalog" — support multiplies, edges densify),
    # the broadcast-seed k-means step, and the 20x bootstrap fan-out
    "q_cf_slope_one",
    "q_kmeans_step",
    "q_sample_bootstrap",
    "q_graph_triangles",
    # round-5 continuation additions: the densifying wedge join (link
    # prediction — same adversarial direction as triangles), the triple
    # distributed global rank (RFM), the distributed prefix sums (Pareto
    # cut + both KS ECDFs), the window-bounded attribution range join,
    # and the months^2 pair scan that must stay calendar-bounded flat
    "q_graph_jaccard",
    "q_rfm_segmentation",
    "q_part_abc",
    "q_stat_ks",
    "q_attribution_position",
    "q_stat_mann_kendall",
    # round-5 final-session additions: the restructured one-join
    # incremental co-occurrence (densifying, like triangles), the
    # sweep-line concurrency + rank prefix sums (bucket-offset primitive
    # under 10x), the K-pass Newton trainer, the iterative normalized
    # power iteration (densifying weighted edges), and the user-window
    # pattern/streak/asof chains
    "q_cf_incremental_cooc",
    "q_interval_concurrency",
    "q_stat_mannwhitney",
    "q_glm_logistic_newton",
    "q_graph_eigencentrality",
    "q_ts_decompose",
    "q_activity_streaks",
    "q_join_asof_nearest",
    "q_pattern_rising_runs",
    "q_feature_covariance",
    # round-6 additions (VERDICT r5 #6): the heavy never-probed operators —
    # the full survival curve (global event-time prefix products), the
    # 3-way feature-store composition, the source-pair contamination join,
    # the lakehouse merge/time-travel write paths, plus this round's new
    # queries and the post-fix eigencentrality re-entry
    "q_survival_km",
    "q_feature_store",
    "q_dedup_contamination",
    "q_sink_merge",
    "q_table_time_travel",
    "q_ts_changepoint",
    "q_stat_linreg_multi",
    "q_graph_degree_stats",
    "q_dq_kanonymity",
    "q_stat_theilsen",
    "q_cf_baseline_bias",
    # round-6 late-session additions: token-linear span explodes (the two
    # decontamination ops), the bitmap distinct rollup, the distributed
    # prefix-max lateness profile, the applyInPandas Holt fold, the
    # stream-static enrich and chained-agg batch twins, schema evolution,
    # and the XML round-trip
    "q_text_span_dedup",
    "q_text_contamination_ngram",
    "q_agg_bitmap_distinct",
    "q_dq_lateness_profile",
    "q_ts_holt",
    "q_stream_enrich",
    "q_stream_chained",
    "q_table_schema_evolution",
    "q_source_xml",
    "q_sql_group_by_all",
    # round-6 continuation-session additions: the star-contraction
    # component labeler (densifying edges, triangle direction), the
    # vocabulary-sized BPE merge chain + corpus tokenization join, the
    # prefix-filtered set-similarity self-join (exact-duplicate copies
    # across replicas make this the worst-case dup-pair direction), the
    # fixed-grid CMS sketch, the broadcast ADC scan, corpus RAKE, and the
    # two new sequential folds
    "q_graph_components",
    "q_text_bpe_train",
    "q_text_bpe_encode",
    "q_sim_setjoin_prefix",
    "q_cms_heavy_hitters",
    "q_sim_pq_adc",
    "q_text_rake",
    "q_stat_friedman",
    "q_ts_holt_winters",
    "q_stat_spearman",
    "q_stat_kruskal",
    # late round-6 additions: the capped user-pair Swing joins (the
    # query whose whole design is the 10x-users containment story), the
    # frontier BFS, the paired-rank window chain, and the light API/eval
    # queries for completeness
    "q_cf_swing",
    "q_graph_khop",
    "q_stat_wilcoxon",
    "q_stream_cms",
    "q_eval_calibration",
    "q_observe_metrics",
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
    """Operator-shape summary of the formatted physical plan — the properties
    that must NOT change between sf0.1 and sf1."""
    plan = df._sc._jvm.PythonSQLUtils.explainString(df._jdf.queryExecution(), "formatted")
    ops = re.findall(r"^\s*[*+\-:]*\s*\(?\d*\)?\s*([A-Za-z]+[A-Za-z ]*?)\s*(?:\(|$)", plan, re.M)
    counts = {}
    for key in ("Exchange", "BroadcastHashJoin", "SortMergeJoin", "ShuffledHashJoin",
                "BroadcastNestedLoopJoin", "HashAggregate", "Window", "Sort",
                "TakeOrderedAndProject", "WindowGroupLimit"):
        counts[key] = len(re.findall(rf"\b{key}\b", plan))
    return counts


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--out", default=None)
    ap.add_argument(
        "--queries",
        nargs="*",
        default=None,
        help="probe only these query names (default: full PROBE_QUERIES set)",
    )
    ap.add_argument(
        "--merge",
        action="store_true",
        help="merge this run's per-query entries into an existing --out file "
        "instead of replacing it (for incremental subset probes)",
    )
    args = ap.parse_args()

    # 8g result cap: legitimately pair-shaped outputs (user-user sims) top
    # 1 GiB serialized at sf1 and killed whole probe batches at the 1g
    # default — a harness limit, not a query defect (the probe materializes
    # full results on the driver; production sinks write distributed).
    spark = get_spark(
        app_name="sf1-probe",
        extra_conf={"spark.driver.maxResultSize": "8g"},
    )
    t0 = time.time()
    generate(spark)
    gen_s = round(time.time() - t0, 1)

    queries, _ = load_all()
    probe_set = tuple(args.queries) if args.queries else PROBE_QUERIES
    report: dict = {"gen_sec": gen_s, "copies": COPIES, "queries": {}}
    out = args.out or "SF1_PROBE.json"

    def flush() -> None:
        # write after EVERY query: a mid-batch crash (result-size cap, VM
        # eviction) must not lose the completed entries — the 30-query r7
        # batch died on query 10 and lost all 9 finished measurements
        merged = report
        if args.merge and os.path.exists(out):
            with open(out) as f:
                prior = json.load(f)
            prior["queries"].update(report["queries"])
            prior["gen_sec"] = report["gen_sec"]
            merged = prior
        with open(out, "w") as f:
            json.dump(merged, f, indent=2)

    def measure(fn, collect: bool) -> dict:
        entry: dict = {}
        for label, sf_dir in (("sf0.1", SRC), ("sf1", DST)):
            # time the query-construction call too: a key that checkpoints
            # (the star-contraction rounds) does its work inside fn(), not
            # in the final action — plan digest stays untimed
            t = time.time()
            df = fn(spark, sf_dir)
            build_s = time.time() - t
            entry.setdefault("plan", {})[label] = plan_digest(df)
            t = time.time()
            if collect:
                n = df.toPandas().shape[0]
            else:
                # driver-free materialization: the full plan executes
                # distributed, zero rows cross to the driver
                df.write.format("noop").mode("overwrite").save()
                n = None
            entry.setdefault("sec", {})[label] = round(build_s + time.time() - t, 2)
            entry.setdefault("rows", {})[label] = n
        return entry

    for name in probe_set:
        fn = queries[name]
        try:
            entry = measure(fn, collect=True)
        except Exception as ex:  # noqa: BLE001 — isolate per-query failures
            # full-matrix outputs (the UserCF sim table tops 10 GiB
            # serialized at sf1) exceed any sane collect cap — a harness
            # limit, not a query defect. Retry with the noop sink and mark
            # the entry so its timing basis is visible.
            print(
                f"{name}: collect failed ({type(ex).__name__}); retrying "
                f"with noop sink",
                flush=True,
            )
            try:
                entry = measure(fn, collect=False)
                entry["action"] = "noop"
            except Exception as ex2:  # noqa: BLE001
                print(f"{name}: FAILED {type(ex2).__name__}: {ex2}"[:300], flush=True)
                report["queries"][name] = {"error": f"{type(ex2).__name__}: {ex2}"[:300]}
                flush()
                continue
        entry["ratio"] = (
            round(entry["sec"]["sf1"] / entry["sec"]["sf0.1"], 2)
            if entry["sec"]["sf0.1"] > 0
            else None
        )
        entry["plan_unchanged"] = entry["plan"]["sf0.1"] == entry["plan"]["sf1"]
        report["queries"][name] = entry
        print(
            f"{name}: sf0.1={entry['sec']['sf0.1']}s sf1={entry['sec']['sf1']}s "
            f"ratio={entry['ratio']}x plan_unchanged={entry['plan_unchanged']}",
            flush=True,
        )
        if not entry["plan_unchanged"]:
            d1, d2 = entry["plan"]["sf0.1"], entry["plan"]["sf1"]
            print("  plan diff:", {k: (d1[k], d2[k]) for k in d1 if d1[k] != d2[k]}, flush=True)
        flush()

    print("written", out)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
