"""Benchmark of the recsys_spark_spark engine: one command runs a named
workload, checks every output against its DuckDB oracle and prints every
metric by name with its unit.

Run from the repository root:

    python3 perfbench/run.py --workload cf_flagship --seed 1 --seconds 10 --trace 0

Stdout ends with one JSON line {"correct", "attempted", "failed", "metrics"}.
With --trace 0 the metrics are the end-to-end ones; with --trace 1 they are
the per-layer ones, from a run that also records spans (workload -> pass ->
key -> build/plan/execute/collect) and writes them, with every per-key
median, to perfbench/out/. The lines before it are a readable summary.

Every measurement runs in one worker process (worker.py), one client
issuing one call at a time. Set-up is timed here, from starting the worker
process to its report that the session exists and the ten table handles are
resolved. A set-up costs ~10 s and a run must stay near one minute, so a
run takes one sample; the median over runs steadies it instead.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import threading
import time
import uuid

from workloads import BENCH_DIR, DATA_DIR, EXPECTED_DIR, WORKLOADS

MARK = "@@perfbench "
# Every worker, and so every Spark JVM it starts, is killed if the run is
# still going after this many seconds.
DEADLINE_S = 170

END_TO_END = {
    "setup_s": "s",
    "cold_pass_s": "s",
    "query_p50_gmean_s": "s",
    "pass_p50_s": "s",
}
PER_LAYER = {
    "session.get_spark_s": "s",
    "catalog.table_resolve_s": "s",
    "registry.build_s": "s",
    "span.build_s": "s",
    "span.plan_s": "s",
    "span.execute_s": "s",
    "span.collect_s": "s",
    "catalyst.analysis_ms": "ms",
    "catalyst.optimization_ms": "ms",
    "catalyst.planning_ms": "ms",
    "exec.stages": "count",
    "exec.tasks": "count",
    "exec.task_s": "s",
    "exec.cpu_s": "s",
    "exec.input_rows": "count",
    "exec.shuffle_read_mb": "MB",
    "exec.shuffle_write_mb": "MB",
    "exec.spill_mb": "MB",
    "exec.heaviest_stage_tasks": "count",
    "exec.heaviest_stage_share": "1",
    "exec.core_util": "1",
    "arrow.transfer_s": "s",
    "arrow.rows_out": "count",
    "io.output_mb": "MB",
    "io.output_rows": "count",
    "catalog.persisted_after_reset": "count",
    "session.jvm_rss_peak_mb": "MB",
    "host.calib_s": "s",
    "trace.overhead_s": "s",
}


class WorkerError(Exception):
    pass


def run_worker(args, log, tmp: str) -> tuple[float, dict]:
    """Run the worker to completion; return (set-up seconds, its result)."""
    cmd = [sys.executable, os.path.join(BENCH_DIR, "worker.py"),
           "--workload", args.workload, "--seed", str(args.seed),
           "--seconds", str(args.seconds), "--trace", str(args.trace)]
    # Spark's shuffle and block files, the JVM's and Python's temporary
    # files: all inside the checkout, and removed after the run.
    jvm_opts = f"{os.environ.get('JAVA_TOOL_OPTIONS', '')} -Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    env = dict(os.environ, SPARK_LOCAL_DIRS=tmp, TMPDIR=tmp, JAVA_TOOL_OPTIONS=jvm_opts.strip())
    t0 = time.perf_counter()
    # Own process group, so a kill reaches the Spark JVM the worker starts.
    proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=log, text=True,
                            env=env, start_new_session=True)
    killer = threading.Timer(max(1.0, args.deadline - time.perf_counter()),
                             os.killpg, (proc.pid, signal.SIGKILL))
    killer.start()
    setup_s, result = None, None
    try:
        # The JVM inherits the worker's stdout, so EOF means both ended.
        for line in proc.stdout:
            if not line.startswith(MARK):
                continue
            msg = json.loads(line[len(MARK):])
            if msg["kind"] == "ready":
                setup_s = time.perf_counter() - t0
            elif msg["kind"] == "result":
                result = msg
        code = proc.wait()
    finally:
        killer.cancel()
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
    if code != 0 or setup_s is None or result is None:
        raise WorkerError(f"worker exited with code {code}")
    return setup_s, result


def fmt(metrics: dict, units: dict) -> dict:
    return {k: {"value": metrics[k], "unit": units[k]} for k in units}


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    args.deadline = time.perf_counter() + DEADLINE_S

    repo = os.getcwd()
    needed = [os.path.join(repo, "recsys_spark_spark", "registry.py"),
              os.path.join(repo, "tools", "check_oracles.py"),
              os.path.join(DATA_DIR, "lineitem.parquet")]
    needed += [os.path.join(EXPECTED_DIR, f"{k}.parquet") for k in WORKLOADS[args.workload]]
    missing = [p for p in needed if not os.path.isfile(p)]
    if missing:
        print(f"run from the repository root; missing: {missing}", file=sys.stderr)
        return 2

    run_id = uuid.uuid4().hex[:12]
    out_dir = os.path.join(BENCH_DIR, "out")
    os.makedirs(out_dir, exist_ok=True)
    stem = os.path.join(out_dir, f"{args.workload}-seed{args.seed}-trace{args.trace}-{run_id}")
    tmp = stem + ".tmp"
    os.makedirs(tmp)
    try:
        with open(stem + ".log", "w") as log:
            setup_s, result = run_worker(args, log, tmp)
    except WorkerError as e:
        print(f"{e}; see {stem}.log", file=sys.stderr)
        return 1
    finally:
        shutil.rmtree(tmp, ignore_errors=True)

    result["end_to_end"]["setup_s"] = setup_s
    record = {"run_id": run_id, "workload": args.workload, "seed": args.seed,
              "seconds": args.seconds, "trace": args.trace,
              **{k: v for k, v in result.items() if k != "kind"}}
    with open(stem + ".json", "w") as f:
        json.dump(record, f, indent=1)

    summary = {k: v for k, v in record.items() if k not in ("spans", "per_layer", "end_to_end")}
    print(json.dumps(summary))
    if args.trace:
        metrics = fmt(result["per_layer"], PER_LAYER)
    else:
        metrics = fmt(result["end_to_end"], END_TO_END)
    failed = result["failed"]
    print(json.dumps({"correct": failed == 0, "attempted": result["attempted"],
                      "failed": failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
