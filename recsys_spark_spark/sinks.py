"""External-sink analogs — the reference's MySQL / Redis / Hive write paths
(SURVEY.md §1 [R:M]) re-expressed for a lake-native deployment.

No external DB *servers* exist in this sandbox, so each sink keeps the
*write-path semantics* testable against files — except the JDBC path itself,
which IS real: Spark bundles Apache Derby, so q_jdbc_roundtrip below drives
the genuine spark JDBC source/sink (DataFrameWriter.jdbc → embedded Derby →
partitioned JDBC read with pushed filters). The remaining analogs:

- keyed batch UPSERT (MySQL `INSERT .. ON DUPLICATE KEY UPDATE` shape): the
  idempotent merge a `foreachBatch` streaming sink or nightly batch publisher
  performs. At 100 TB the same code runs per partition against a real JDBC
  pool or an ACID table format; the merge itself is the engine-side work.
- key/value export (Redis shape): rows rendered to (key, value) strings,
  written partition-parallel. A real Redis loader maps each partition through
  a pipelined client; the render + partition layout here is the Spark side
  of that contract.
- managed catalog table (Hive shape): saveAsTable + spark.table round-trip
  through the session catalog / warehouse dir.
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from recsys_spark_spark.catalog import TMP_DIR, table
from recsys_spark_spark.registry import query


def write_back(df: DataFrame, path: str, *partition_by: str) -> DataFrame:
    """Write `df` as parquet to ``<path>.staging``, swap it in for `path`
    (the file-lake commit; `df` may itself read `path`) and return the
    read-back handle, read with the written schema so no footer-inference
    job runs. Spark's file source still makes every field nullable and puts
    partition columns last, as an inferring read does."""
    staging = path + ".staging"
    df.write.mode("overwrite").partitionBy(*partition_by).parquet(staging)
    shutil.rmtree(path, ignore_errors=True)
    os.rename(staging, path)
    return df.sparkSession.read.schema(df.schema).parquet(path)


def upsert_parquet(spark: SparkSession, target_dir: str, updates: DataFrame, key: str) -> DataFrame:
    """MERGE-shaped keyed upsert into a parquet target whose stored columns
    have the `updates` types (the target is read with `updates.schema`, not
    inferred): rows in `updates` replace target rows with the same key;
    unmatched target rows survive. Returns the merged table.

    Written as target-anti-join ∪ updates — one co-partitionable anti-join,
    no row-at-a-time path — and committed by write_back's staging swap (a
    real deployment uses an ACID table format or the DB's native upsert).
    """
    current = spark.read.schema(updates.schema).parquet(target_dir)
    merged = current.join(updates, [key], "left_anti").unionByName(updates)
    return write_back(merged, target_dir)


@query(
    "q_sink_upsert",
    oracle="""
SELECT c_custkey AS custkey, c_acctbal + 100 AS acctbal
FROM customer WHERE c_custkey % 2 = 0
UNION ALL
SELECT c_custkey, c_acctbal FROM customer
WHERE c_custkey % 3 = 0 AND c_custkey % 2 <> 0
""",
)
def q_sink_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sink-M1: keyed upsert round-trip. Seed the target with every third
    customer, upsert every second customer with +100 balance, read the merged
    state back. The oracle states the final table closed-form."""
    out = os.path.join(TMP_DIR, "upsert_target")
    cust = table(spark, sf_dir, "customer")
    seed = cust.where(F.col("c_custkey") % 3 == 0).select(
        F.col("c_custkey").alias("custkey"), F.col("c_acctbal").alias("acctbal")
    )
    seed.write.mode("overwrite").parquet(out)
    updates = cust.where(F.col("c_custkey") % 2 == 0).select(
        F.col("c_custkey").alias("custkey"),
        (F.col("c_acctbal") + 100).alias("acctbal"),
    )
    return upsert_parquet(spark, out, updates, "custkey")


@query(
    "q_sink_kv_export",
    oracle="""
WITH ui AS (
  SELECT o_custkey AS user_id, l_partkey AS item_id
  FROM orders JOIN lineitem ON o_orderkey = l_orderkey
  GROUP BY 1, 2
)
SELECT 'item:' || CAST(item_id AS VARCHAR) AS k,
       CAST(COUNT(*) AS VARCHAR) AS v
FROM ui GROUP BY item_id
""",
)
def q_sink_kv_export(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sink-M2: Redis-shaped key/value export of the item-audience table —
    rows rendered to string (key, value) pairs and round-tripped through a
    partition-parallel file write, exactly the layout a pipelined Redis
    loader consumes per partition (reference pushes CF results to Redis)."""
    from recsys_spark_spark.cf.itemcf import interactions, item_norms

    kv = item_norms(interactions(spark, sf_dir)).select(
        F.concat(F.lit("item:"), F.col("item_id").cast("string")).alias("k"),
        F.col("n_users").cast("string").alias("v"),
    )
    return write_back(kv, os.path.join(TMP_DIR, "kv_export"))


@query(
    "q_catalog_managed_table",
    oracle="""
SELECT c_mktsegment, COUNT(*) AS n, CAST(SUM(CAST(ROUND(c_acctbal * 100, 0) AS BIGINT)) AS BIGINT) AS bal_cents
FROM customer WHERE c_acctbal > 0 GROUP BY 1
""",
)
def q_catalog_managed_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sink-M3: Hive-shaped managed table — saveAsTable into the session
    catalog's warehouse, then read back by NAME via spark.table (not path)
    and aggregate. The catalog is the in-memory stand-in for a metastore;
    the code path (writer -> catalog entry -> resolved table scan) is the
    same one a Hive deployment exercises."""
    from recsys_spark_spark.functions.determinism import rlong

    # a fresh session's in-memory catalog forgets tables but the warehouse
    # dir persists on disk; clear both so overwrite can't trip on a stale path
    spark.sql("DROP TABLE IF EXISTS managed_customer")
    wh = spark.conf.get("spark.sql.warehouse.dir", "spark-warehouse")
    shutil.rmtree(
        os.path.join(wh.removeprefix("file:"), "managed_customer"), ignore_errors=True
    )
    cust = table(spark, sf_dir, "customer").where(F.col("c_acctbal") > 0)
    cust.write.mode("overwrite").saveAsTable("managed_customer")
    back = spark.table("managed_customer")
    return back.groupBy("c_mktsegment").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(rlong(F.col("c_acctbal") * 100)).alias("bal_cents"),
    )


@query(
    "q_source_partitioned",
    oracle="""
SELECT user_id, COUNT(*) AS n, SUM(CAST(ROUND(value * 1e6, 0) AS BIGINT)) / 1e6 AS sum_value
FROM events WHERE event_type = 'error'
GROUP BY 1
""",
)
def q_source_partitioned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sink-M4: hive-layout partitioned source round-trip — events written
    partitionBy(event_type), read back with a partition-column filter that
    becomes a PartitionFilter (directory pruning, the 100 TB layout
    contract: one directory listed, the rest of the lake never touched —
    tests/test_plans.py asserts the same plan shape). Writers are parallel
    per partition; the filtered read then aggregates only the pruned slice."""
    from recsys_spark_spark.functions.determinism import rlong

    # per-SF target (a shared dir would serve stale data when the same
    # session or a later one runs at a different scale factor)
    out = os.path.join(TMP_DIR, f"events_by_type_{os.path.basename(sf_dir.rstrip('/'))}")
    back = write_back(table(spark, sf_dir, "events"), out, "event_type")
    back = back.where(F.col("event_type") == "error")
    return back.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n"),
        (F.sum(rlong(F.col("value") * F.lit(1e6))) / F.lit(1e6)).alias("sum_value"),
    )


@query(
    "q_join_bucketed",
    oracle="""
SELECT o_orderpriority,
       COUNT(*) AS n,
       SUM(CAST(ROUND(l_extendedprice * (1 - l_discount) * 1e6, 0) AS BIGINT)) / 1e6 AS revenue
FROM orders JOIN lineitem ON o_orderkey = l_orderkey
GROUP BY 1
""",
)
def q_join_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sink-M5: bucketed co-located join — both fact tables written
    bucketBy(8, orderkey) + sortBy into the session catalog, then joined by
    NAME with a merge hint: the scan's bucket layout satisfies the join's
    clustering AND ordering, so the plan has no exchange and no sort on
    either side. This is the 100 TB technique for a join run repeatedly on
    the same key (the CF interaction build, nightly fact⋈fact): pay the
    shuffle once at write time, never again at read time. The merge hint
    opts out of broadcast so the *bucket* mechanism is what the plan (and
    tests/test_plans.py) demonstrates."""
    from recsys_spark_spark.functions.determinism import rlong

    tag = os.path.basename(sf_dir.rstrip("/")).replace(".", "_")
    to, tl = f"bucketed_orders_{tag}", f"bucketed_lineitem_{tag}"
    wh = spark.conf.get("spark.sql.warehouse.dir", "spark-warehouse").removeprefix("file:")
    for name, src, key, cols in (
        (to, "orders", "o_orderkey", ["o_orderkey", "o_orderpriority"]),
        (tl, "lineitem", "l_orderkey", ["l_orderkey", "l_extendedprice", "l_discount"]),
    ):
        spark.sql(f"DROP TABLE IF EXISTS {name}")
        shutil.rmtree(os.path.join(wh, name), ignore_errors=True)
        (
            table(spark, sf_dir, src)
            .select(*cols)
            .write.bucketBy(8, key)
            .sortBy(key)
            .mode("overwrite")
            .saveAsTable(name)
        )
    o = spark.table(to)
    l = spark.table(tl)
    return (
        o.join(l.hint("merge"), o.o_orderkey == l.l_orderkey)
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n"),
            (F.sum(rlong(F.col("l_extendedprice") * (1 - F.col("l_discount")) * F.lit(1e6))) / F.lit(1e6)).alias("revenue"),
        )
    )


@query(
    "q_jdbc_roundtrip",
    oracle="""
SELECT c_mktsegment, COUNT(*) AS n,
       CAST(SUM(CAST(ROUND(c_acctbal * 100, 0) AS BIGINT)) AS BIGINT) AS bal_cents
FROM customer WHERE c_nationkey < 10
GROUP BY 1
""",
)
def q_jdbc_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sink/Source-M5: REAL JDBC round-trip — the MySQL-shaped path run
    against an actual RDBMS (embedded Apache Derby, whose jars ship inside
    Spark). Writes `customer` through DataFrameWriter's JDBC sink, reads it
    back through the JDBC source as a PARTITIONED scan (4 range-partitions
    on c_custkey — the parallel-read contract a production MySQL/Postgres
    source uses) with the c_nationkey filter PUSHED into the database
    (PushedFilters in the scan; verified in tests/test_plans.py), then
    aggregates Spark-side.

    At 100 TB the JDBC side is the small operational store, never the lake:
    this query is the template for dimension syncs — partitioned pull,
    filter pushed to the DB, heavy lifting (joins/aggs) in Spark. The Derby
    database is in-memory and per-session+source (applicationId+sf_dir
    fingerprint): it lives only as long as the JVM, so nothing is left on
    disk, and the write runs fresh per invocation — no stale-cache class,
    and no cross-process embedded-Derby lock contention."""
    import hashlib

    fp = hashlib.md5(
        f"{spark.sparkContext.applicationId}:{sf_dir}".encode()
    ).hexdigest()[:10]
    url = f"jdbc:derby:memory:derby_{fp};create=true"
    opts = {"url": url, "driver": "org.apache.derby.jdbc.EmbeddedDriver"}

    cust = table(spark, sf_dir, "customer")
    (
        cust.write.format("jdbc")
        .options(**opts, dbtable="customer_jdbc")
        .mode("overwrite")
        .save()
    )
    lo, hi = cust.agg(F.min("c_custkey"), F.max("c_custkey")).first()
    back = (
        spark.read.format("jdbc")
        .options(
            **opts,
            dbtable="customer_jdbc",
            partitionColumn="c_custkey",
            lowerBound=str(lo),
            upperBound=str(hi + 1),
            numPartitions="4",
        )
        .load()
    )
    from recsys_spark_spark.functions.determinism import rlong

    return (
        back.where(F.col("c_nationkey") < 10)
        .groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(rlong(F.col("c_acctbal") * 100)).alias("bal_cents"),
        )
    )


# --------------------------------------------------------------------------
# Sink-M6: full MERGE INTO semantics (lakehouse upsert+delete+insert)
# --------------------------------------------------------------------------

MERGE_PURGE_N = 25  # matched customers with more than this many 1995 orders are deleted


def merge_into(
    target: DataFrame,
    source: DataFrame,
    key: str,
    matched_delete,
    matched_update: dict,
    insert_values: dict,
) -> DataFrame:
    """Engine-side MERGE INTO: one co-partitioned FULL OUTER join on the key,
    then per-row CASE routing — the exact semantics of
    ``MERGE INTO t USING s ON t.k = s.k
      WHEN MATCHED AND <delete> THEN DELETE
      WHEN MATCHED THEN UPDATE SET <update>
      WHEN NOT MATCHED THEN INSERT <insert>``.

    This is what Delta/Iceberg MERGE compiles to under the hood (join +
    rewrite); with no ACID table format in this container the transactional
    commit is write_back's staging swap, and THIS function is the
    engine work that would be identical on either. Columns named in
    matched_update / insert_values are expressions over the joined row; the
    target's other rows pass through untouched. One shuffle per side (both
    keyed on `key`); at 100 TB both sides arrive bucketed by the key and the
    join is exchange-free (q_join_bucketed's layout argument)."""
    t = target.alias("t")
    s = source.alias("s")
    joined = t.join(s, F.col(f"t.{key}") == F.col(f"s.{key}"), "full_outer")
    t_k, s_k = F.col(f"t.{key}"), F.col(f"s.{key}")
    matched = t_k.isNotNull() & s_k.isNotNull()
    # WHEN MATCHED AND delete-cond THEN DELETE
    kept = joined.where(~(matched & matched_delete))
    cols = []
    for name in target.columns:
        if name == key:
            cols.append(F.coalesce(t_k, s_k).alias(name))
            continue
        upd = matched_update.get(name, F.col(f"t.{name}"))
        ins = insert_values.get(name, F.lit(None))
        cols.append(
            F.when(matched, upd)
            .when(t_k.isNotNull(), F.col(f"t.{name}"))  # target-only: keep
            .otherwise(ins)  # source-only: insert
            .alias(name)
        )
    return kept.select(*cols)


@query(
    "q_sink_merge",
    oracle=f"""
WITH tgt AS (
  SELECT c_custkey AS custkey,
         CAST(ROUND(c_acctbal * 100, 0) AS BIGINT) AS bal_cents,
         CAST(0 AS BIGINT) AS n_orders
  FROM customer WHERE c_custkey % 2 = 0
), src AS (
  SELECT o_custkey AS custkey,
         CAST(SUM(CAST(ROUND(o_totalprice * 100, 0) AS BIGINT)) AS BIGINT) AS cents,
         COUNT(*) AS n
  FROM orders WHERE year(o_orderdate) = 1995
  GROUP BY 1
)
SELECT COALESCE(t.custkey, s.custkey) AS custkey,
       CASE WHEN t.custkey IS NOT NULL AND s.custkey IS NOT NULL
              THEN t.bal_cents + s.cents
            WHEN t.custkey IS NOT NULL THEN t.bal_cents
            ELSE s.cents END AS bal_cents,
       CASE WHEN t.custkey IS NOT NULL AND s.custkey IS NOT NULL THEN s.n
            WHEN t.custkey IS NOT NULL THEN t.n_orders
            ELSE s.n END AS n_orders
FROM tgt t FULL OUTER JOIN src s ON t.custkey = s.custkey
WHERE NOT (t.custkey IS NOT NULL AND s.custkey IS NOT NULL
           AND s.n > {MERGE_PURGE_N})
""",
)
def q_sink_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sink-M6: MERGE INTO round-trip — the lakehouse write path beyond
    q_sink_upsert's replace-only semantics. Target = balance snapshot
    seeded with even-keyed customers; source = per-customer 1995 order
    deltas. Matched heavy churners (> MERGE_PURGE_N orders) are DELETEd,
    other matches UPDATE (balance += delta cents, order count refreshed),
    unmatched source customers INSERT. The merged state is committed via
    the staging swap and read back; the oracle states the final table
    closed-form as the equivalent FULL OUTER JOIN + CASE."""
    from recsys_spark_spark.functions.determinism import rlong

    out = os.path.join(TMP_DIR, "merge_target")
    cust = table(spark, sf_dir, "customer")
    target = cust.where(F.col("c_custkey") % 2 == 0).select(
        F.col("c_custkey").alias("custkey"),
        rlong(F.col("c_acctbal") * 100).cast("long").alias("bal_cents"),
        F.lit(0).cast("long").alias("n_orders"),
    )
    o = table(spark, sf_dir, "orders")
    source = (
        o.where(F.year("o_orderdate") == 1995)
        .groupBy(F.col("o_custkey").alias("custkey"))
        .agg(
            F.sum(rlong(F.col("o_totalprice") * 100)).cast("long").alias("cents"),
            F.count(F.lit(1)).alias("n"),
        )
    )
    merged = merge_into(
        write_back(target, out),
        source,
        key="custkey",
        matched_delete=F.col("s.n") > MERGE_PURGE_N,
        matched_update={
            "bal_cents": F.col("t.bal_cents") + F.col("s.cents"),
            "n_orders": F.col("s.n"),
        },
        insert_values={"bal_cents": F.col("s.cents"), "n_orders": F.col("s.n")},
    )
    return write_back(merged, out)
