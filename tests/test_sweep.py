"""The oracle sweep's contract (tools/check_oracles.py).

Rows-only keys have no DuckDB oracle, so the sweep only proves that they
run; their accuracy is pinned by the gate tests mapped here. The gates are
referenced by attribute, so a renamed gate fails at import, and a new
rows-only key without a gate fails the key-set check.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import tests.test_als as als
import tests.test_hll as hll
import tests.test_multimodal as multimodal
import tests.test_recall as recall
from recsys_spark_spark.registry import load_all
from tests.conftest import SF_SMOKE

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

GATES = {
    "q_agg_approx": (hll.test_agg_approx_within_tolerance_of_exact,),
    "q_hll_mergeable": (hll.test_hll_union_of_partials_equals_direct_sketch,),
    "q_als_recommend": (
        als.test_hit_rate_at_5_above_recorded_floor,
        als.test_same_seed_reproduces_recommendations,
    ),
    "q_dedup_minhash_lsh": (recall.test_mllib_minhash_lsh_recall,),
    "q_sim_lsh_ann": (recall.test_brp_lsh_ann_recall_vs_exact_euclidean,),
    "q_multimodal_features": (multimodal.test_features_means_match_numpy,),
    "q_multimodal_frames": (multimodal.test_frames_fan_out_and_rms,),
    "q_multimodal_resize": (
        multimodal.test_resize_preserves_contracts,
        multimodal.test_resize_is_deterministic_across_runs,
    ),
}


def test_every_rows_only_key_has_a_gate():
    queries, oracles = load_all()
    assert set(GATES) == set(queries) - set(oracles)


def _sweep(out, *keys):
    proc = subprocess.run(
        [sys.executable, os.path.join(REPO, "tools", "check_oracles.py"),
         "--sf", SF_SMOKE, "--out", str(out), *keys],
        cwd=REPO, capture_output=True, text=True, timeout=600,
    )
    assert proc.returncode == 0, proc.stdout[-2000:] + proc.stderr[-2000:]
    ran = [line.split()[1] for line in proc.stdout.splitlines()
           if line.startswith(("ok ", "FAIL "))]
    return ran, out.read_text().splitlines()


def test_sweep_resumes_from_its_output(tmp_path):
    out = tmp_path / "sweep.jsonl"
    ran, first = _sweep(out, "q_filter_range")
    assert ran == ["q_filter_range"]
    ran, lines = _sweep(out, "q_filter_range", "q_agg_groupby")
    assert ran == ["q_agg_groupby"]
    assert len(lines) == 2 and lines[0] == first[0]
    rows = [json.loads(line) for line in lines]
    assert [r["key"] for r in rows] == ["q_filter_range", "q_agg_groupby"]
    assert all(r["ok"] and r["mode"] == "oracle" for r in rows)
