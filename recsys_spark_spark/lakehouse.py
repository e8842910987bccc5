"""Transaction-log-lite: a minimal multi-version parquet table format.

At 100 TB a real pipeline MERGEs into
Delta/Iceberg; neither ships in this container, so this module implements
the ESSENTIAL mechanism those formats share — an append-only commit log of
file-level add/remove actions over immutable parquet data files — small
enough to audit, real enough that every reader semantic (snapshot
isolation, time travel, vacuum planning) falls out of it:

- ``<table>/_log/<version>.json`` — one JSON commit per version:
  ``{"version", "op", "add", "remove", "schema"}``, the relative data-file
  paths added and removed, the operation name and the table schema
  (``df.schema.json()``, as Delta's ``metaData`` action records it).
  Commits are atomic: the entry is written to a temp file and published
  with ``os.link``, which fails with ``FileExistsError`` if the version
  already exists (POSIX, within a filesystem), so a writer that loses the
  race is refused and never overwrites the winner — the optimistic protocol
  Delta uses against a filesystem without a coordination service.
- ``<table>/data/…parquet`` — immutable data files written by Spark,
  partition-parallel. A new version never rewrites a live file in place;
  logical delete/update = remove old files + add rewritten ones.
- A reader at version v = ``spark.read.schema(schema at v).parquet(*live
  files at v)`` where live(v) folds the add/remove sets of commits 0..v and
  the schema is the one commit v records — snapshot reads never see a
  half-committed version, never run a footer-inference job, and ANY
  historical version stays readable until vacuumed (time travel).
- ``vacuum_plan(v)`` = files removed by some commit ≤ latest and not live
  at any version ≥ v — the deletion work-list with retention, computed
  from the log alone.

The log is metadata-sized (file-level, not row-level), so driver-side JSON
handling here matches what Delta/Iceberg drivers do; all DATA movement is
Spark jobs.
"""

from __future__ import annotations

import json
import os
import shutil
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from recsys_spark_spark.catalog import TMP_DIR, table
from recsys_spark_spark.functions.determinism import rlong
from recsys_spark_spark.registry import query


def _log_dir(path: str) -> str:
    return os.path.join(path, "_log")


def _versions(path: str) -> list[int]:
    d = _log_dir(path)
    if not os.path.isdir(d):
        return []
    return sorted(
        int(f[:-5]) for f in os.listdir(d) if f.endswith(".json")
    )


def _read_commit(path: str, version: int) -> dict:
    with open(os.path.join(_log_dir(path), f"{version:05d}.json")) as f:
        return json.load(f)


def _write_data(df: DataFrame, path: str) -> list[str]:
    """Write df as new immutable parquet files under data/<uuid>/, returning
    their table-relative paths. Each commit gets its own subdirectory so
    file sets of different versions can never collide."""
    sub = os.path.join("data", uuid.uuid4().hex[:12])
    full = os.path.join(path, sub)
    df.write.mode("overwrite").parquet(full)
    return sorted(
        os.path.join(sub, f)
        for f in os.listdir(full)
        if f.endswith(".parquet")
    )


def _commit(
    path: str, op: str, add: list[str], remove: list[str], schema: str | None = None
) -> int:
    """Atomically append the next commit: tmp file + ``os.link``, which
    refuses (rather than replaces) a version another writer committed first."""
    versions = _versions(path)
    version = versions[-1] + 1 if versions else 0
    os.makedirs(_log_dir(path), exist_ok=True)
    entry = {"version": version, "op": op, "add": add, "remove": remove, "schema": schema}
    tmp = os.path.join(_log_dir(path), f".{uuid.uuid4().hex}.tmp")
    with open(tmp, "w") as f:
        json.dump(entry, f)
    try:
        os.link(tmp, os.path.join(_log_dir(path), f"{version:05d}.json"))
    except FileExistsError:  # lost the race: another writer committed
        raise RuntimeError(f"concurrent commit at version {version}") from None
    finally:
        os.unlink(tmp)
    return version


def _snapshot(path: str, version: int | None) -> tuple[list[str], str | None]:
    """Fold the commit log up to `version` (latest if None) into the live
    file set and the schema that commit records — the reader's snapshot."""
    versions = _versions(path)
    if not versions:
        raise FileNotFoundError(f"no table log at {path}")
    if version is None:
        version = versions[-1]
    live: set[str] = set()
    schema = None
    for v in versions:
        if v > version:
            break
        c = _read_commit(path, v)
        live -= set(c["remove"])
        live |= set(c["add"])
        schema = c.get("schema")
    return sorted(live), schema


def live_files(path: str, version: int | None = None) -> list[str]:
    return _snapshot(path, version)[0]


def create_table(df: DataFrame, path: str) -> int:
    shutil.rmtree(path, ignore_errors=True)
    return _commit(path, "create", _write_data(df, path), [], df.schema.json())


def append_table(df: DataFrame, path: str) -> int:
    return _commit(path, "append", _write_data(df, path), [], df.schema.json())


def overwrite_where(
    spark: SparkSession, path: str, predicate, rewrite
) -> int:
    """Copy-on-write update/delete: rows matching `predicate` are dropped
    and replaced by `rewrite(matching_rows)` (None = pure delete); every
    live file is rewritten once. At 100 TB a file-pruning step (min/max
    stats per file, as in q_zorder_layout) would narrow the rewrite set;
    file-level granularity is the point of the log."""
    current = read_version(spark, path)
    keep = current.where(~predicate)
    parts = [keep]
    if rewrite is not None:
        parts.append(rewrite(current.where(predicate)))
    merged = parts[0] if len(parts) == 1 else parts[0].unionByName(parts[1])
    return _commit(
        path,
        "overwrite_where",
        _write_data(merged, path),
        live_files(path),
        merged.schema.json(),
    )


def read_version(
    spark: SparkSession, path: str, version: int | None = None
) -> DataFrame:
    """The table at `version` (latest if None), read with the schema its log
    records: no footer-inference job runs."""
    files, schema = _snapshot(path, version)
    if schema is None:
        raise ValueError(f"commit log at {path} records no schema for version {version}")
    return spark.read.schema(StructType.fromJson(json.loads(schema))).parquet(
        *(os.path.join(path, f) for f in files)
    )


def vacuum_plan(path: str, retain_from_version: int) -> list[str]:
    """Files safe to physically delete while keeping every version >=
    retain_from_version readable: all ever-added files minus the union of
    live sets of the retained versions."""
    versions = _versions(path)
    ever: set[str] = set()
    for v in versions:
        ever |= set(_read_commit(path, v)["add"])
    retained: set[str] = set()
    for v in versions:
        if v >= retain_from_version:
            retained |= set(live_files(path, v))
    return sorted(ever - retained)


# --------------------------------------------------------------------------
# M102: time travel over the versioned table
# --------------------------------------------------------------------------


@query(
    "q_table_time_travel",
    oracle="""
WITH v0 AS (
  SELECT c_custkey, CAST(ROUND(c_acctbal * 100, 0) AS BIGINT) AS bal_cents,
         c_mktsegment
  FROM customer
), v1 AS (
  SELECT * FROM v0 WHERE bal_cents >= 0
), v2 AS (
  SELECT c_custkey,
         CASE WHEN c_mktsegment = 'BUILDING' THEN bal_cents + 500
              ELSE bal_cents END AS bal_cents,
         c_mktsegment
  FROM v1
)
SELECT 0 AS version, COUNT(*) AS n_rows,
       CAST(SUM(bal_cents) AS BIGINT) AS total_cents FROM v0
UNION ALL
SELECT 1, COUNT(*), CAST(SUM(bal_cents) AS BIGINT) FROM v1
UNION ALL
SELECT 2, COUNT(*), CAST(SUM(bal_cents) AS BIGINT) FROM v2
""",
)
def q_table_time_travel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M102: snapshot isolation + time travel on the transaction-log-lite
    table format (lakehouse.py) — the Delta/Iceberg mechanism reduced to
    its commit-log essence. Three commits are made (create; copy-on-write
    DELETE of negative balances; copy-on-write UPDATE adding 500 cents to
    one segment), then ALL THREE versions are read back side-by-side from
    the same table directory and audited (rows + exact cent totals per
    version). The oracle states each version's content closed-form —
    proving historical reads reconstruct exactly the pre-mutation states,
    not approximations of them.

    Scale shape: the log is file-level metadata (driver JSON, same as any
    Delta driver); every data movement (initial write, each rewrite, the
    three snapshot reads) is a partition-parallel Spark job over immutable
    parquet. Copy-on-write rewrites are the honest cost model of
    update/delete on a lake; file pruning via min/max stats (q_zorder_layout)
    is the documented narrowing step at 100 TB."""
    path = os.path.join(TMP_DIR, "ttl_table")
    cust = table(spark, sf_dir, "customer").select(
        "c_custkey",
        rlong(F.col("c_acctbal") * 100).cast("long").alias("bal_cents"),
        "c_mktsegment",
    )
    create_table(cust, path)
    overwrite_where(spark, path, F.col("bal_cents") < 0, None)  # v1: delete
    overwrite_where(  # v2: update one segment
        spark,
        path,
        F.col("c_mktsegment") == "BUILDING",
        lambda m: m.withColumn("bal_cents", F.col("bal_cents") + 500),
    )
    audits = [
        read_version(spark, path, v)
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum("bal_cents").cast("long").alias("total_cents"),
        )
        .select(F.lit(v).cast("long").alias("version"), "n_rows", "total_cents")
        for v in (0, 1, 2)
    ]
    return audits[0].unionByName(audits[1]).unionByName(audits[2])


# --------------------------------------------------------------------------
# M194: schema evolution — widen a table in place, read old+new unified
# --------------------------------------------------------------------------


@query(
    "q_table_schema_evolution",
    oracle="""
WITH v1 AS (
  SELECT o_orderkey, o_custkey, o_totalprice FROM orders WHERE year(o_orderdate) < 1997
),
v2 AS (
  SELECT o_orderkey, o_custkey, o_totalprice, o_orderpriority
  FROM orders WHERE year(o_orderdate) >= 1997
),
unified AS (
  SELECT o_custkey, o_totalprice, CAST(NULL AS VARCHAR) AS o_orderpriority FROM v1
  UNION ALL
  SELECT o_custkey, o_totalprice, o_orderpriority FROM v2
)
SELECT COALESCE(o_orderpriority, '<pre-evolution>') AS priority,
       CAST(COUNT(*) AS BIGINT) AS n,
       CAST(SUM(CASE WHEN o_orderpriority IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_legacy,
       CAST(SUM(CAST(ROUND(o_totalprice * 100, 0) AS BIGINT)) AS BIGINT) AS rev_cents
FROM unified GROUP BY 1
""",
)
def q_table_schema_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M194: in-place schema evolution — the lakehouse ALTER TABLE ADD
    COLUMN path every long-lived table eventually takes. Writes the
    pre-1997 orders slice with the ORIGINAL 3-column schema, appends the
    1997+ slice with a NEW column (o_orderpriority), then reads the whole
    table with mergeSchema: old files surface the new column as NULL, new
    files carry values — no rewrite of existing data. The aggregate
    proves both generations read correctly through one unified schema
    (legacy rows counted via the NULL marker).

    Shape at 100 TB: schema widening is metadata-only for existing files
    (the property that makes parquet/lakehouse evolution free); readers
    pay only the merged-footer resolution. mergeSchema=true on the read
    is the explicit opt-in (schema inference across millions of footers
    is a listing cost — a real deployment records the merged schema in
    the catalog instead; the read here models that resolution). It is the
    engine's one deliberate footer inference over files it wrote itself:
    every other read-back passes the written schema (sinks.write_back,
    read_version), and tests/test_readback.py pins that."""
    path = os.path.join(TMP_DIR, "evo_table")
    shutil.rmtree(path, ignore_errors=True)
    o = table(spark, sf_dir, "orders")
    v1 = o.where(F.year("o_orderdate") < 1997).select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )
    v2 = o.where(F.year("o_orderdate") >= 1997).select(
        "o_orderkey", "o_custkey", "o_totalprice", "o_orderpriority"
    )
    v1.write.mode("overwrite").parquet(path)
    v2.write.mode("append").parquet(path)
    back = spark.read.option("mergeSchema", "true").parquet(path)
    return (
        back.groupBy(
            F.coalesce("o_orderpriority", F.lit("<pre-evolution>")).alias("priority")
        )
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum(F.when(F.col("o_orderpriority").isNull(), 1).otherwise(0))
            .cast("long")
            .alias("n_legacy"),
            F.sum(rlong(F.col("o_totalprice") * 100)).cast("long").alias("rev_cents"),
        )
    )
