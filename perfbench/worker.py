"""Measurement process of the benchmark; run.py starts one per run.

It times the engine from outside, through its public surface only:
``session.get_spark`` and ``catalog.table`` for set-up, the
``registry.load_all()`` builders for each call (timed from the builder call
to the pandas result, so eager work inside a builder is counted),
``spark.catalog.clearCache()`` as the reset before every call, and Spark's
own status APIs for the per-layer counts.

One client issues one call at a time (closed loop) on the session
``get_spark`` returns, unchanged: no heap or conf override, so later session
right-sizing stays visible.

Protocol with run.py: every message is one stdout line starting with MARK
followed by a JSON object. ``ready`` is sent once the session exists and the
ten table handles are resolved; ``result`` carries the run's measurements.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import random
import sys
import time
import traceback
from contextlib import contextmanager
from statistics import fmean, median

from workloads import DATA_DIR, EXPECTED_DIR, WORKLOADS

MARK = "@@perfbench "

# Warm-up: the first pass in a fresh session runs 3x slower than later
# ones (JIT, codegen, first-call memo builds), and passes keep falling long
# after that. At sf0.01 on 4 cores a flagship call took 12.5 s cold, then
# 5.6, 4.6, 4.0, 4.0, 3.9 s, and settled near 3.3 s (+-7%) only from about
# the eighth call; lake_write passes fell from 12.8 s to ~4.5 s over ten
# passes. Warming until passes stop falling would cost more than a run may
# take, so the warm-up is a fixed WARM_PASSES passes after the cold one: it
# takes the steepest drop (the first pass after the cold one ran 30-60%
# above later ones), and a fixed count (not a time box) puts every run's
# timed passes at the same point of the curve.
WARM_PASSES = 1
# Timed passes run for --seconds, and at least this many. The spread
# between runs comes mostly from host slow spells that last part of a run;
# a median of five passes rides them out better than a median of three
# (re-reading runs made with three timed passes after two warm-up ones as
# one warm-up pass and more timed ones narrowed the lake_write spread from
# 0.26-0.30 to 0.19-0.25), at the cost of one pass per run.
MIN_TIMED = 5
# A traced run alternates untraced and traced passes, at least this many
# of each: the untraced ones give the per-key medians and registry.build_s
# of the run, the traced ones its spans and stage statistics.
MIN_TRACED = 2
# Fixed pure-Python CPU loop timed at the start and end of a run. It does
# not touch the engine: when two sets of runs disagree, a shift here shows
# the host, not the code, moved.
CALIB_N = 3_000_000


def emit(kind: str, **payload) -> None:
    print(MARK + json.dumps({"kind": kind, **payload}), flush=True)


def calib_s() -> float:
    t0 = time.perf_counter()
    acc = 0
    for i in range(CALIB_N):
        acc += i * i
    return time.perf_counter() - t0


class Tracer:
    """Spans held in memory and returned at the end of the run. Every span
    has an id, its parent's id, a name, and start/end seconds since the run
    started; all spans of a run share the run id kept by run.py. A disabled
    tracer records nothing."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self.origin = time.perf_counter()

    @contextmanager
    def span(self, name: str, parent: int | None, **attrs):
        if not self.enabled:
            yield None
            return
        rec = {"id": len(self.spans), "parent": parent, "name": name,
               "start": time.perf_counter() - self.origin, **attrs}
        self.spans.append(rec)
        try:
            yield rec["id"]
        finally:
            rec["end"] = time.perf_counter() - self.origin


class Stages:
    """Per-stage execution statistics from Spark's status store.

    They come from ``AppStatusStore.stageList``, which Py4J can only call
    with every argument given, so the Scala defaults
    ``stageList$default$4`` and ``stageList$default$5`` are fetched and
    passed explicitly. Verified under PySpark 4.1.2 with the UI disabled.
    The Python ``statusTracker()`` gives task counts only, no task time,
    shuffle bytes or spill. The store is fed by the listener bus, so it is
    drained before every read. Stage ids grow monotonically and one query
    runs at a time, so a window of ids brackets exactly one span's stages.
    """

    def __init__(self, spark):
        sc = spark.sparkContext._jsc.sc()
        self.store = sc.statusStore()
        self.bus = sc.listenerBus()
        self.d4 = getattr(self.store, "stageList$default$4")()
        self.d5 = getattr(self.store, "stageList$default$5")()

    def _list(self):
        self.bus.waitUntilEmpty()
        # Newest stage first.
        return self.store.stageList(None, False, False, self.d4, self.d5)

    def watermark(self) -> int:
        lst = self._list()
        return lst.apply(0).stageId() if lst.size() else -1

    def window(self, lo: int, hi: int) -> list[dict]:
        """Stages with lo < id <= hi that ran at least one task."""
        lst, out = self._list(), []
        for i in range(lst.size()):
            s = lst.apply(i)
            sid = s.stageId()
            if sid <= lo:
                break
            if sid > hi or s.numCompleteTasks() == 0:
                continue
            out.append({
                "id": sid,
                "tasks": s.numCompleteTasks(),
                "run_s": s.executorRunTime() / 1e3,
                "cpu_s": s.executorCpuTime() / 1e9,
                "input_rows": s.inputRecords(),
                "shuffle_read_b": s.shuffleReadBytes(),
                "shuffle_write_b": s.shuffleWriteBytes(),
                "spill_b": s.diskBytesSpilled(),
                "output_b": s.outputBytes(),
                "output_rows": s.outputRecords(),
            })
        return out


class Bench:
    def __init__(self, spark, queries, expected, compare, tracer: Tracer):
        self.spark = spark
        self.queries = queries
        self.expected = expected
        self.compare = compare
        self.tracer = tracer
        self.jsc = spark.sparkContext._jsc
        self.stages = Stages(spark) if tracer.enabled else None
        self.attempted = 0
        self.failed = 0
        self.persisted_max = 0

    def reset(self) -> bool:
        """clearCache() as the reset, then check it really emptied the
        cache: a persistent RDD left after it (a localCheckpoint memo) lets
        the next call skip work the first call paid. False if one is left;
        the caller then fails the call instead of timing it."""
        self.spark.catalog.clearCache()
        n = self.jsc.getPersistentRDDs().size()
        self.persisted_max = max(self.persisted_max, n)
        if n:
            print(f"{n} persistent RDDs left after clearCache()", file=sys.stderr)
        return n == 0

    def _ok(self, key: str, pdf) -> bool:
        problems = self.compare(key, pdf, self.expected[key])
        for p in problems:
            print(f"MISMATCH {key}: {p}", file=sys.stderr)
        return not problems

    def call(self, key: str, parent: int | None) -> dict | None:
        """One untraced call. None if the reset left persistent RDDs, or the
        call raised or its output mismatched: a failed call is never timed
        as a success."""
        self.attempted += 1
        if not self.reset():
            self.failed += 1
            return None
        with self.tracer.span(key, parent):
            try:
                t0 = time.perf_counter()
                df = self.queries[key](self.spark, DATA_DIR)
                t1 = time.perf_counter()
                pdf = df.toPandas()
                t2 = time.perf_counter()
            except Exception:
                traceback.print_exc()
                self.failed += 1
                return None
        if not self._ok(key, pdf):
            self.failed += 1
            return None
        return {"key": key, "wall_s": t2 - t0, "build_s": t1 - t0}

    def traced_call(self, key: str, parent: int | None) -> dict | None:
        """One call split into spans: build (the builder call), plan
        (Catalyst on the built DataFrame), execute (a noop sink: full
        execution, no transfer), then a rebuild and collect (toPandas). The
        collect runs on a freshly built DataFrame after another reset, so
        it repeats the execute's work from the same cold cache and
        collect - execute is the Arrow transfer. Both execute and collect
        plan their own query execution; the plan span measures that cost
        once, on its own.

        Each timed interval holds only the engine call it names: the
        status-store reads (listener-bus drain, stage list) and the phase
        reads run between intervals, and their cost is the call's
        overhead_s, the wall time outside every engine call."""
        tr, st = self.tracer, self.stages
        self.attempted += 1
        if not self.reset():
            self.failed += 1
            return None
        rec: dict = {"key": key}
        t_call = time.perf_counter()
        with tr.span(key, parent) as ks:
            try:
                w0 = st.watermark()
                t0 = time.perf_counter()
                with tr.span("build", ks):
                    df = self.queries[key](self.spark, DATA_DIR)
                t1 = time.perf_counter()
                w1 = st.watermark()
                t2 = time.perf_counter()
                with tr.span("plan", ks):
                    qe = df._jdf.queryExecution()
                    qe.executedPlan()
                t3 = time.perf_counter()
                with tr.span("execute", ks):
                    df.write.format("noop").mode("overwrite").save()
                t4 = time.perf_counter()
                # Catalyst phase times of the planned query execution, as
                # tracker().phases().apply(k).durationMs() (PySpark 4.1.2).
                phases = qe.tracker().phases()
                rec["catalyst_ms"] = {
                    p: phases.apply(p).durationMs() if phases.contains(p) else 0
                    for p in ("analysis", "optimization", "planning")
                }
                w2 = st.watermark()
                rec["build_stages"] = st.window(w0, w1)
                rec["exec_stages"] = st.window(w1, w2)
                t5 = time.perf_counter()
                if not self.reset():
                    self.failed += 1
                    return None
                t6 = time.perf_counter()
                with tr.span("rebuild", ks):
                    df = self.queries[key](self.spark, DATA_DIR)
                t7 = time.perf_counter()
                with tr.span("collect", ks):
                    pdf = df.toPandas()
                t8 = time.perf_counter()
            except Exception:
                traceback.print_exc()
                self.failed += 1
                return None
        if not self._ok(key, pdf):
            self.failed += 1
            return None
        engine_s = (t1 - t0) + (t3 - t2) + (t4 - t3) + (t6 - t5) + (t8 - t6)
        rec.update(build_s=t1 - t0, plan_s=t3 - t2, execute_s=t4 - t3,
                   collect_s=t8 - t7, rows=len(pdf), wall_s=t8 - t_call,
                   overhead_s=(t8 - t_call) - engine_s)
        return rec

    def run_pass(self, order: list[str], label: str, parent: int | None,
                 traced: bool = False) -> dict:
        """One pass over the keys. A pass with a failed call is not ok and
        is never timed as a complete one; its wall counts the calls that
        succeeded."""
        fn = self.traced_call if traced else self.call
        with self.tracer.span("pass", parent, kind=label) as ps:
            recs = [fn(k, ps) for k in order]
        calls = [r for r in recs if r is not None]
        return {"wall_s": sum(r["wall_s"] for r in calls), "calls": calls,
                "ok": len(calls) == len(recs)}


def setup(workload: str):
    """Set-up as a user pays it: engine import, session, table handles."""
    t0 = time.perf_counter()
    from recsys_spark_spark.catalog import TABLES, table
    from recsys_spark_spark.registry import load_all
    from recsys_spark_spark.session import get_spark

    queries, _ = load_all()
    t1 = time.perf_counter()
    spark = get_spark(app_name=f"perfbench-{workload}")
    t2 = time.perf_counter()
    for name in TABLES:
        table(spark, DATA_DIR, name)
    t3 = time.perf_counter()
    parts = {"registry.load_s": t1 - t0, "session.get_spark_s": t2 - t1,
             "catalog.table_resolve_s": t3 - t2}
    return spark, queries, parts


def layer_metrics(traced_pass: dict, cores: int) -> dict[str, float]:
    """Per-layer values of one traced pass (sums over its calls)."""
    calls = traced_pass["calls"]
    stages = [s for c in calls for s in c["build_stages"] + c["exec_stages"]]
    task_s = sum(s["run_s"] for s in stages)
    exec_task_s = sum(s["run_s"] for c in calls for s in c["exec_stages"])
    exec_wall = sum(c["execute_s"] for c in calls)
    heavy = max(stages, key=lambda s: s["run_s"], default=None)
    mb = 1 / (1024 * 1024)
    return {
        "span.build_s": sum(c["build_s"] for c in calls),
        "span.plan_s": sum(c["plan_s"] for c in calls),
        "span.execute_s": exec_wall,
        "span.collect_s": sum(c["collect_s"] for c in calls),
        "catalyst.analysis_ms": sum(c["catalyst_ms"]["analysis"] for c in calls),
        "catalyst.optimization_ms": sum(c["catalyst_ms"]["optimization"] for c in calls),
        "catalyst.planning_ms": sum(c["catalyst_ms"]["planning"] for c in calls),
        "exec.stages": len(stages),
        "exec.tasks": sum(s["tasks"] for s in stages),
        "exec.task_s": task_s,
        "exec.cpu_s": sum(s["cpu_s"] for s in stages),
        "exec.input_rows": sum(s["input_rows"] for s in stages),
        "exec.shuffle_read_mb": sum(s["shuffle_read_b"] for s in stages) * mb,
        "exec.shuffle_write_mb": sum(s["shuffle_write_b"] for s in stages) * mb,
        "exec.spill_mb": sum(s["spill_b"] for s in stages) * mb,
        "exec.heaviest_stage_tasks": heavy["tasks"] if heavy else 0,
        "exec.heaviest_stage_share": heavy["run_s"] / task_s if task_s else 0.0,
        "exec.core_util": exec_task_s / (exec_wall * cores) if exec_wall else 0.0,
        "arrow.transfer_s": sum(c["collect_s"] - c["execute_s"] for c in calls),
        "arrow.rows_out": sum(c["rows"] for c in calls),
        "io.output_mb": sum(s["output_b"] for s in stages) * mb,
        "io.output_rows": sum(s["output_rows"] for s in stages),
        "trace.overhead_s": sum(c["overhead_s"] for c in calls),
    }


def jvm_rss_peak_mb(spark) -> float:
    pid = spark._jvm.java.lang.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    return 0.0


def measure(args, spark, queries, setup_parts) -> dict:
    import pandas as pd

    sys.path.insert(0, os.path.join(os.getcwd(), "tools"))
    from check_oracles import compare

    keys = WORKLOADS[args.workload]
    expected = {k: pd.read_parquet(os.path.join(EXPECTED_DIR, f"{k}.parquet")) for k in keys}
    calib = [calib_s()]
    tracer = Tracer(enabled=bool(args.trace))
    bench = Bench(spark, queries, expected, compare, tracer)
    rng = random.Random(args.seed)

    def order() -> list[str]:
        ks = list(keys)
        rng.shuffle(ks)
        return ks

    with tracer.span(args.workload, None, seed=args.seed) as ws:
        cold = bench.run_pass(order(), "cold", ws)
        untimed = [cold["wall_s"]]  # cold + warm-up pass walls, in order
        for _ in range(WARM_PASSES):
            untimed.append(bench.run_pass(order(), "warm", ws)["wall_s"])

        timed, traced = [], []
        t_end = time.perf_counter() + args.seconds
        # The first failure ends the timed passes: the run is then wrong
        # whatever its times, and a reset that left a persistent RDD keeps
        # failing every later call.
        while bench.failed == 0:
            if args.trace:
                done = len(timed) >= MIN_TRACED and len(traced) >= MIN_TRACED
            else:
                done = len(timed) >= MIN_TIMED
            if done and time.perf_counter() >= t_end:
                break
            timed.append(bench.run_pass(order(), "timed", ws))
            if args.trace:
                traced.append(bench.run_pass(order(), "traced", ws, traced=True))
    calib.append(calib_s())
    timed = [p for p in timed if p["ok"]]
    traced = [p for p in traced if p["ok"]]

    if not timed or (args.trace and not traced):
        raise SystemExit("no timed pass completed without a failure")

    walls: dict[str, list[float]] = {k: [] for k in keys}
    for p in timed:
        for c in p["calls"]:
            walls[c["key"]].append(c["wall_s"])
    per_key = {k: median(v) for k, v in walls.items()}
    pass_p50 = median([p["wall_s"] for p in timed])
    e2e = {
        "cold_pass_s": cold["wall_s"],
        "query_p50_gmean_s": math.exp(fmean(math.log(v) for v in per_key.values())),
        "pass_p50_s": pass_p50,
    }
    layers = {
        "session.get_spark_s": setup_parts["session.get_spark_s"],
        "catalog.table_resolve_s": setup_parts["catalog.table_resolve_s"],
        "registry.build_s": median([sum(c["build_s"] for c in p["calls"]) for p in timed]),
        "catalog.persisted_after_reset": bench.persisted_max,
        "session.jvm_rss_peak_mb": jvm_rss_peak_mb(spark),
        "host.calib_s": fmean(calib),
    }
    if traced:
        per_pass = [layer_metrics(p, spark.sparkContext.defaultParallelism) for p in traced]
        for name in per_pass[0]:
            layers[name] = median([m[name] for m in per_pass])
    modules = {k: queries[k].__module__.removeprefix("recsys_spark_spark.") for k in keys}
    return {
        "attempted": bench.attempted,
        "failed": bench.failed,
        "end_to_end": e2e,
        "per_layer": layers,
        "per_key_p50_s": {f"{modules[k]}.{k}.p50_s": v for k, v in per_key.items()},
        "passes": {"untimed_s": untimed, "timed_s": [p["wall_s"] for p in timed],
                   "traced_s": [p["wall_s"] for p in traced]},
        "calib_s": calib,
        "setup_parts": setup_parts,
        "spans": tracer.spans,
    }


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), required=True)
    args = ap.parse_args()
    sys.path.insert(0, os.getcwd())

    spark, queries, setup_parts = setup(args.workload)
    emit("ready")
    try:
        spark.sparkContext.setLogLevel("ERROR")
        emit("result", **measure(args, spark, queries, setup_parts))
    finally:
        spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
