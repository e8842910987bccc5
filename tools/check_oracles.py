"""The oracle sweep: every registered query against its DuckDB oracle,
under the conditions of an external caller of ``__spark_entry__``.

Conditions, all set up in ``main()`` (importing this module for
``compare`` or ``duck_connection`` starts nothing and changes nothing):

- the process time zone is America/New_York (non-UTC, with DST), set
  before the JVM starts by re-executing the interpreter;
- ``__spark_entry__`` is imported cold in this process, and its
  ``queries()`` run in registration order;
- the session is ``SparkSession.builder.master("local[*]").getOrCreate()``
  with Spark's default confs (200 shuffle partitions, no time-zone pin).

One untimed trivial job runs right after the session starts, so the
session's first-job warm-up (scheduler, executor threads, class loading)
lands in no key's ``sec``: otherwise the first key of every run or resume
paid it (on 4 cores ``q_sql_recursive_walk`` took 12.2 s as a resume's
second key and 2.8 s mid-sweep). Table resolution runs no job, so nothing
else absorbs the warm-up.

Per key: ``clearCache()``, build the frame, ``toPandas()``. A key with an
oracle must match it exactly (``oracle_type_problems`` + ``compare``:
columns, row count, the order-insensitive multiset of values and the bit
patterns of every float); a rows-only key must run. Then ``clearCache()``
again, and the RDD ids in ``getPersistentRDDs()`` that were not there
before the key ran are recorded: the state the reset did not release.

Each key appends one JSON line to ``--out`` as soon as it finishes::

    {"key", "sf", "mode": "oracle" | "rows-only", "ok", "rows",
     "oracle_rows", "problem", "persisted_after_reset", "sec"}

``problem`` is the first problem found (null when ``ok``), ``sec`` the
key's wall time. A run skips every key that already has a row in
``--out``, so a killed sweep resumes where it stopped. A failure that
leaves the SparkContext stopped writes no row for its key and exits 2, so
the next run starts at that key. The summary names every registered key
that has no row. Exit 0 only when every requested key (all keys if none
are named) has a row and it is ok.

Usage:
    python tools/check_oracles.py --sf DATA_DIR --out SWEEP.jsonl [name ...]
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time
import traceback

import duckdb
import numpy as np
import pandas as pd

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from recsys_spark_spark.catalog import TABLES  # noqa: E402

SWEEP_TZ = "America/New_York"


def duck_connection(sf_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    _assert_cap_properties(con, sf_dir)
    return con


def _assert_cap_properties(con: duckdb.DuckDBPyConnection, sf_dir: str) -> None:
    """The capped CF paths (MAX_USER_HISTORY in capped_interactions /
    history_capped_edges, MAX_ITEM_AUDIENCE in audience_capped) are exact vs
    their UNCAPPED oracles only while no user/item in the data reaches the
    cap. The fixture SFs are guarded in tests/test_cf_property.py, but this
    harness accepts ANY --sf dir (ADVICE r7) — assert the property on the
    actual data under comparison so a hotter dataset fails loudly here
    instead of producing a confusing hash mismatch 40 queries in."""
    from recsys_spark_spark.cf.itemcf import MAX_ITEM_AUDIENCE, MAX_USER_HISTORY

    max_hist, max_aud = con.execute(
        """
        WITH ui AS (
          SELECT o_custkey AS u, l_partkey AS i
          FROM orders JOIN lineitem ON o_orderkey = l_orderkey
          GROUP BY 1, 2
        )
        SELECT (SELECT MAX(c) FROM (SELECT COUNT(*) c FROM ui GROUP BY u)),
               (SELECT MAX(c) FROM (SELECT COUNT(*) c FROM ui GROUP BY i))
        """
    ).fetchone()
    if max_hist >= MAX_USER_HISTORY or max_aud >= MAX_ITEM_AUDIENCE:
        raise SystemExit(
            f"{sf_dir}: cap property violated (max user history {max_hist} vs "
            f"cap {MAX_USER_HISTORY}, max item audience {max_aud} vs cap "
            f"{MAX_ITEM_AUDIENCE}) — capped CF queries are not oracle-exact "
            "on this data"
        )


def canonicalize(df: pd.DataFrame) -> pd.DataFrame:
    """Sort columns by name, normalize dtypes, sort rows → comparable frame."""
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        s = df[c]
        if pd.api.types.is_datetime64_any_dtype(s):
            df[c] = s.astype("datetime64[us]")
        elif s.dtype == object:
            df[c] = s.map(lambda v: str(v) if v is not None else None)
        elif pd.api.types.is_integer_dtype(s):
            df[c] = s.astype("Int64")
        elif pd.api.types.is_float_dtype(s):
            df[c] = s.astype("float64")
    return df.sort_values(list(df.columns), na_position="last").reset_index(drop=True)


# DuckDB output types the driver's typed hash cannot reconcile with Spark's:
# HUGEINT (int128, e.g. un-cast SUM(BIGINT)) and DECIMAL (e.g. un-cast
# SUM/AVG over DECIMAL) hash differently from Spark's int64/float64 even when
# every value is numerically equal. canonicalize() below widens all integer
# dtypes to Int64 and so MASKS this class of bug — check the declared DuckDB
# schema BEFORE normalization (this exact gap let q_catalog_managed_table go
# driver-red in round 3 while passing locally).
_BANNED_DUCK_TYPES = ("HUGEINT", "UHUGEINT", "DECIMAL")


def oracle_type_problems(con: duckdb.DuckDBPyConnection, sql: str) -> list[str]:
    """DESCRIBE the oracle and flag output types the driver hash can't match."""
    try:
        desc = con.execute(f"DESCRIBE {sql}").fetchall()
    except Exception as e:  # DESCRIBE can fail on some statements; non-fatal
        return [f"DESCRIBE failed ({e}); cannot audit oracle output types"]
    out = []
    for col, typ, *_ in desc:
        if any(b in typ.upper() for b in _BANNED_DUCK_TYPES):
            out.append(
                f"oracle col {col!r} has DuckDB type {typ} — the driver's typed "
                f"hash will mismatch Spark even on equal values; CAST the "
                f"outer expression to BIGINT/DOUBLE in the oracle SQL"
            )
    return out


def bit_problems(s: pd.DataFrame, d: pd.DataFrame) -> list[str]:
    """IEEE-754 bit-level multiset compare of every float column.

    Round-6 lesson (q_feature_covariance): the driver hashes VALUE BYTES, so
    -0.0 (DuckDB ROUND(double) output for tiny negatives) vs +0.0 (Spark's
    long-typed rlong) is a driver red even though every value-level compare —
    including this tool's multiset pass — calls them equal. Equal non-NaN,
    non-zero doubles have equal bit patterns, so a per-column sorted-bits
    compare diverges from the value compare exactly on signed zeros and NaN
    payloads — the driver-only failure classes. Run on canonicalized frames.
    """
    out = []
    for c in s.columns:
        if not pd.api.types.is_float_dtype(s[c]):
            continue
        sb = np.sort(s[c].to_numpy(dtype=np.float64).view(np.uint64))
        db = np.sort(d[c].to_numpy(dtype=np.float64).view(np.uint64))
        if len(sb) == len(db) and not np.array_equal(sb, db):
            i = int(np.argmax(sb != db))
            out.append(
                f"col {c!r}: float BIT multisets differ (values may compare "
                f"equal — signed zero / NaN payload): first diff "
                f"spark_bits={sb[i]:016x} duck_bits={db[i]:016x}"
            )
    return out


def compare(name: str, spark_df: pd.DataFrame, duck_df: pd.DataFrame) -> list[str]:
    problems: list[str] = []
    if sorted(spark_df.columns) != sorted(duck_df.columns):
        problems.append(f"columns differ: spark={sorted(spark_df.columns)} duck={sorted(duck_df.columns)}")
        return problems
    if len(spark_df) != len(duck_df):
        problems.append(f"row count differs: spark={len(spark_df)} duck={len(duck_df)}")
    s, d = canonicalize(spark_df), canonicalize(duck_df)
    if len(s) == len(d):
        problems.extend(bit_problems(s, d))
        for c in s.columns:
            sv, dv = s[c], d[c]
            eq = (sv.isna() & dv.isna()) | (sv == dv)
            bad = int((~eq.fillna(False)).sum())
            if bad:
                idx = (~eq.fillna(False)).idxmax()
                detail = f" e.g. row {idx}: spark={sv[idx]!r} duck={dv[idx]!r}"
                if pd.api.types.is_float_dtype(sv):
                    with np.errstate(invalid="ignore"):
                        md = float(np.nanmax(np.abs(sv.to_numpy(dtype=float) - dv.to_numpy(dtype=float))))
                    detail += f" maxdiff={md:g}"
                problems.append(f"col {c!r}: {bad} mismatching values;{detail}")
    return problems


def _stopped(spark) -> bool:
    try:
        return spark.sparkContext._jsc.sc().isStopped()
    except Exception:  # the JVM or its gateway is gone
        return True


def _persistent_ids(spark) -> set[int]:
    return {int(i) for i in spark.sparkContext._jsc.getPersistentRDDs().keySet()}


def _read_rows(path: str) -> dict[str, dict]:
    if not os.path.exists(path):
        return {}
    with open(path) as f:
        return {r["key"]: r for r in map(json.loads, filter(str.strip, f))}


def run_key(spark, con, sf: str, name: str, build, oracle: str | None) -> dict | None:
    """One key under the sweep's protocol; None if the SparkContext died."""
    t0 = time.time()
    spark.catalog.clearCache()
    before = _persistent_ids(spark)
    row = {"key": name, "sf": os.path.basename(sf.rstrip("/")),
           "mode": "rows-only" if oracle is None else "oracle", "ok": False,
           "rows": None, "oracle_rows": None, "problem": None}
    try:
        sdf = build(spark, sf).toPandas()
    except Exception as e:
        traceback.print_exc()
        if _stopped(spark):
            return None
        sdf = None
        row["problem"] = f"spark raised {type(e).__name__}: {str(e).strip()[:300]}"
    if sdf is not None:
        row["rows"] = len(sdf)
        problems: list[str] = []
        if oracle is not None:
            try:
                ddf = con.execute(oracle).fetchdf()
            except duckdb.Error as e:
                problems = [f"oracle raised {type(e).__name__}: {str(e).strip()[:300]}"]
            else:
                row["oracle_rows"] = len(ddf)
                problems = oracle_type_problems(con, oracle) + compare(name, sdf, ddf)
        row["ok"] = not problems
        row["problem"] = problems[0] if problems else None
    spark.catalog.clearCache()
    row["persisted_after_reset"] = sorted(_persistent_ids(spark) - before)
    row["sec"] = round(time.time() - t0, 2)
    return row


def main() -> int:
    ap = argparse.ArgumentParser(description="Oracle sweep; see the module docstring.")
    ap.add_argument("--sf", required=True, help="data directory, one <table>.parquet per table")
    ap.add_argument("--out", required=True, help="JSONL file: one row per key, appended")
    ap.add_argument("names", nargs="*", help="keys to run (default: all registered)")
    args = ap.parse_args()

    if os.environ.get("TZ") != SWEEP_TZ:  # the JVM reads TZ once, at start
        os.environ["TZ"] = SWEEP_TZ
        os.execv(sys.executable, [sys.executable, *sys.argv])
    time.tzset()

    from pyspark.sql import SparkSession

    import __spark_entry__ as entry

    queries, oracles = entry.queries(), entry.oracle_sql()
    unknown = [n for n in args.names if n not in queries]
    if unknown:
        ap.error(f"not registered: {unknown}")
    wanted = [n for n in queries if not args.names or n in args.names]
    done = _read_rows(args.out)
    todo = [n for n in wanted if n not in done]
    print(f"{len(wanted) - len(todo)} of {len(wanted)} keys already in {args.out}", flush=True)

    status = 0
    if todo:
        con = duck_connection(args.sf)
        spark = SparkSession.builder.master("local[*]").getOrCreate()
        spark.range(1).count()  # the first-job warm-up, outside every key's sec
        for name in todo:
            row = run_key(spark, con, args.sf, name, queries[name], oracles.get(name))
            if row is None:
                print(f"STOP {name}: the SparkContext is stopped; no row written", flush=True)
                status = 2
                break
            with open(args.out, "a") as f:
                f.write(json.dumps(row) + "\n")
            leak = f" persisted_after_reset={len(row['persisted_after_reset'])}" if row["persisted_after_reset"] else ""
            print(f"{'ok  ' if row['ok'] else 'FAIL'} {name} [{row['mode']}, {row['rows']} rows, "
                  f"{row['sec']}s]{leak}" + (f" -- {row['problem']}" if row["problem"] else ""), flush=True)

    rows = _read_rows(args.out)
    failed = [n for n in wanted if n in rows and not rows[n]["ok"]]
    print(f"\n{sum(1 for n in wanted if n in rows) - len(failed)}/{len(wanted)} requested keys ok"
          + (f"; failed: {failed}" if failed else ""))
    missing = [n for n in queries if n not in rows]
    if missing:
        print(f"{len(missing)} of {len(queries)} registered keys have no row: {missing}")
    extra = sorted(set(rows) - set(queries))
    if extra:
        print(f"rows for unregistered keys: {extra}")
    if status == 0 and (failed or any(n not in rows for n in wanted)):
        status = 1
    return status


if __name__ == "__main__":
    raise SystemExit(main())
