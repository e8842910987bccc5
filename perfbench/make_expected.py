"""Snapshot every workload key's DuckDB oracle result into perfbench/expected.

The benchmark compares each call's output with these files instead of
running DuckDB inside a timed run. Run from the repository root after the
data or an oracle changes:

    python3 perfbench/make_expected.py
"""

from __future__ import annotations

import os
import sys

from workloads import DATA_DIR, EXPECTED_DIR, WORKLOADS


def main() -> int:
    repo = os.getcwd()
    sys.path.insert(0, repo)
    sys.path.insert(0, os.path.join(repo, "tools"))
    from check_oracles import duck_connection

    from recsys_spark_spark.registry import load_all

    _, oracles = load_all()
    con = duck_connection(DATA_DIR)
    os.makedirs(EXPECTED_DIR, exist_ok=True)
    keys = sorted({k for keys in WORKLOADS.values() for k in keys})
    for key in keys:
        df = con.execute(oracles[key]).fetchdf()
        df.to_parquet(os.path.join(EXPECTED_DIR, f"{key}.parquet"), index=False)
        print(f"{key}: {len(df)} rows")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
