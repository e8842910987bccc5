"""bench.py's output contract: one JSON line, the named keys only."""

from __future__ import annotations

import json
import os
import subprocess
import sys

from tests.conftest import SF_SMOKE

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
FIELDS = {"metric", "value", "unit", "queries", "sf", "cpus", "sf_dir", "samples"}


def test_bench_times_the_named_keys():
    keys = ["q_filter_range", "q_distinct"]
    proc = subprocess.run(
        [sys.executable, os.path.join(REPO, "bench.py"), *keys],
        cwd=REPO, capture_output=True, text=True, timeout=600,
        env={**os.environ, "SPARK_GRAFT_SF_DIR": SF_SMOKE},
    )
    assert proc.returncode == 0, proc.stdout[-2000:] + proc.stderr[-2000:]
    lines = [line for line in proc.stdout.splitlines() if line.strip()]
    assert len(lines) == 1, proc.stdout[-2000:]
    out = json.loads(lines[0])
    assert set(out) == FIELDS
    assert out["metric"] == "total_runtime"
    assert set(out["queries"]) == set(keys)
    assert out["value"] == round(sum(out["queries"].values()), 3)
    assert out["sf_dir"] == SF_SMOKE
    assert set(out["samples"]) == set(keys)
    assert all(n >= 5 for n in out["samples"].values()), out["samples"]
