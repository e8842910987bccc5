"""SF1 tail probe — separate OUTPUT MASS from ENGINE TIME (VERDICT r8 #5).

The committed SF1_PROBE times every query with toPandas (the probe's
collect action), so a full-table projection whose OUTPUT is 10x bigger at
sf1 shows a ~10x "ratio" even when the engine work is a single codegen'd
scan that scales fine. This tool re-probes the tail keys with BOTH actions:

  * noop sink  (guide §1.4) — computes every column of every row
    distributed, zero rows cross to the driver: pure engine time;
  * toPandas   — the SF1_PROBE referent: engine time + Arrow
    materialization of the full result on the driver.

A key whose noop ratio is <= ~3x while its collect ratio is ~10x is
DOCUMENTED-AS-OUTPUT: the sf1 cost is driver materialization of an
output that is itself 10x larger (rows scale with the data), not a
scaling defect. A key whose noop ratio stays high needs plan work.

Usage: python tools/sf1_tail_probe.py [--out SF1_TAIL_PROBE_r09.json] [name...]
Requires the /tmp/sf1_probe_data replica (tools/sf1_probe.py generates it).
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from recsys_spark_spark.registry import load_all  # noqa: E402
from recsys_spark_spark.session import get_spark  # noqa: E402

SRC = "/root/testdata/sf0.1"
DST = "/tmp/sf1_probe_data"

# The SF1_PROBE tail (>= ~5x committed collect-ratio) minus keys already
# re-engineered (q_dedup_near_sql, r9 #4) or formally examined with a
# recorded disposition (q_udtf_table_arg is included anyway: its r8
# examination covered the row protocol, not the output split).
TAIL = (
    "q_cast_coalesce",
    "q_math_funcs",
    "q_scan_project",
    "q_udf_pandas",
    "q_udtf_table_arg",
    "q_item_transitions",
    "q_sample_bootstrap",
    "q_dedup_simhash",
    "q_cf_user_item",
    "q_multimodal_resize",
    "q_feature_hash",
    "q_text_perplexity",
    # storm-suspect cf/graph entries from the committed file (re-probe to
    # replace storm-inflated samples with quiet-host numbers)
    "q_cf_cosine_sim",
    "q_cf_iuf_sim",
)

RUNS = 2


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--out", default="SF1_TAIL_PROBE_r09.json")
    ap.add_argument("names", nargs="*", default=None)
    args = ap.parse_args()

    queries, _ = load_all()
    spark = get_spark(
        app_name="sf1-tail-probe",
        extra_conf={"spark.driver.maxResultSize": "8g"},
    )
    spark.sparkContext.setLogLevel("ERROR")
    if not os.path.exists(os.path.join(DST, "_SUCCESS")):
        raise SystemExit(f"{DST} replica missing — run tools/sf1_probe.py first")

    report: dict = {
        "_note": __doc__.split("\n\n")[0],
        "runs_per_cell": RUNS,
        "queries": {},
    }
    out = args.out

    def timed(fn, sf_dir: str, action: str) -> tuple[float, int | None]:
        best, rows = None, None
        for _ in range(RUNS):
            spark.catalog.clearCache()
            # the build is timed too: a key that checkpoints materializes its
            # output inside fn() (registry.query), not in the action below
            t0 = time.perf_counter()
            df = fn(spark, sf_dir)
            if action == "noop":
                df.write.format("noop").mode("overwrite").save()
            else:
                rows = df.toPandas().shape[0]
            dt = time.perf_counter() - t0
            best = dt if best is None else min(best, dt)
        return round(best, 2), rows

    for name in args.names or TAIL:
        fn = queries[name]
        entry: dict = {}
        try:
            for label, sf_dir in (("sf0.1", SRC), ("sf1", DST)):
                spark.sparkContext.setJobDescription(f"tail-probe {name} {label}")
                noop_s, _ = timed(fn, sf_dir, "noop")
                coll_s, rows = timed(fn, sf_dir, "collect")
                entry.setdefault("noop_sec", {})[label] = noop_s
                entry.setdefault("collect_sec", {})[label] = coll_s
                entry.setdefault("rows", {})[label] = rows
            entry["noop_ratio"] = (
                round(entry["noop_sec"]["sf1"] / entry["noop_sec"]["sf0.1"], 2)
                if entry["noop_sec"]["sf0.1"] > 0 else None
            )
            entry["collect_ratio"] = (
                round(entry["collect_sec"]["sf1"] / entry["collect_sec"]["sf0.1"], 2)
                if entry["collect_sec"]["sf0.1"] > 0 else None
            )
            entry["rows_ratio"] = (
                round(entry["rows"]["sf1"] / entry["rows"]["sf0.1"], 2)
                if entry["rows"]["sf0.1"] else None
            )
        except Exception as ex:  # noqa: BLE001 — isolate per-query failures
            entry = {"error": f"{type(ex).__name__}: {ex}"[:300]}
        report["queries"][name] = entry
        print(name, json.dumps(entry), flush=True)
        with open(out, "w") as f:
            json.dump(report, f, indent=1)

    print("written", out)


if __name__ == "__main__":
    main()
