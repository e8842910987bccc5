"""3.M function-parity extras — argmax aggregates, window value functions,
canonicalized dedup, bigram language model.

Rounds out the scalar/window/aggregate surface with the remaining
widely-used primitives a reference user would reach for: `max_by`/`min_by`
(SQL argmax), `first_value`/`last_value`/`nth_value` window frames,
normalization-based near-exact dedup, and an n-gram conditional-probability
table (the classic statistical-LM building block).
"""

from __future__ import annotations

import datetime
import hashlib
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from recsys_spark_spark.catalog import TMP_DIR, checkpoint, table
from recsys_spark_spark.functions.determinism import rlong
from recsys_spark_spark.registry import query
from recsys_spark_spark.sinks import write_back


@query(
    "q_agg_argmax",
    oracle="""
SELECT c_mktsegment,
       arg_max(o_orderkey, o_totalprice) AS biggest_order,
       MAX(o_totalprice) AS biggest_total,
       arg_min(o_orderkey, o_totalprice) AS smallest_order,
       MIN(o_totalprice) AS smallest_total,
       COUNT(*) AS n_orders
FROM orders JOIN customer ON o_custkey = c_custkey
GROUP BY c_mktsegment
""",
)
def q_agg_argmax(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Argmax aggregation: per segment, WHICH order carries the extreme
    total (`max_by`/`min_by` ≡ DuckDB `arg_max`/`arg_min`) — the "top row
    per group without a window" primitive; one hash aggregate, no sort,
    mergeable partials, so it scales like any sum.

    o_totalprice values are unique per segment at every SF (checked by the
    exact oracle match itself — a duplicate max would make arg_max
    tie-nondeterministic across engines)."""
    o = table(spark, sf_dir, "orders")
    c = table(spark, sf_dir, "customer")
    j = o.join(c, o.o_custkey == c.c_custkey)
    return j.groupBy("c_mktsegment").agg(
        F.max_by("o_orderkey", "o_totalprice").alias("biggest_order"),
        F.max("o_totalprice").alias("biggest_total"),
        F.min_by("o_orderkey", "o_totalprice").alias("smallest_order"),
        F.min("o_totalprice").alias("smallest_total"),
        F.count(F.lit(1)).alias("n_orders"),
    )


@query(
    "q_window_first_last",
    oracle="""
SELECT o_orderkey, o_custkey,
       first_value(o_orderkey) OVER w AS first_order,
       last_value(o_orderkey) OVER w AS latest_order,
       nth_value(o_orderkey, 2) OVER w AS second_order
FROM orders
WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
""",
)
def q_window_first_last(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E7: first_value / last_value / nth_value over a running per-customer
    frame — each order row sees the customer's first, latest-so-far, and
    second order. Single per-key window sort; with an explicit ROWS frame
    `last_value` is the current row and `nth_value` is NULL until the frame
    holds ≥2 rows (identical semantics both engines)."""
    o = table(spark, sf_dir, "orders")
    w = (
        Window.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return o.select(
        "o_orderkey",
        "o_custkey",
        F.first("o_orderkey").over(w).alias("first_order"),
        F.last("o_orderkey").over(w).alias("latest_order"),
        F.nth_value("o_orderkey", 2).over(w).alias("second_order"),
    )


@query(
    "q_dedup_canonical",
    oracle="""
WITH canon AS (
  SELECT doc_id,
         md5(trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g'),
                                 ' +', ' ', 'g'))) AS canon_md5
  FROM documents
)
SELECT canon_md5, MIN(doc_id) AS keeper_doc_id, COUNT(*) AS n_variants,
       COUNT(*) > 1 AS is_dup_group
FROM canon
GROUP BY 1
""",
)
def q_dedup_canonical(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J1b: canonicalized dedup — lowercase, strip non-alphanumerics,
    collapse whitespace, THEN hash: catches the near-exact duplicates that
    differ only in case/punctuation/spacing, which byte-exact dedup (J1)
    misses and pair-wise Jaccard (J2) wastes a join on. The normalization is
    a per-row expression chain, so the whole dedup stays one shuffle on a
    16-byte key at any scale — same cost as J1. All canonical groups are
    emitted with an is_dup_group flag (the synthetic corpus happens to have
    no case/punct variants, so a groups-with->1 filter would be an
    empty-result oracle — a vacuous check); production keeps
    `WHERE is_dup_group` as the dedup work list."""
    d = table(spark, sf_dir, "documents")
    canon = F.md5(
        F.trim(
            F.regexp_replace(
                F.regexp_replace(F.lower(F.col("text")), "[^a-z0-9 ]", ""),
                " +",
                " ",
            )
        )
    )
    return (
        d.groupBy(canon.alias("canon_md5"))
        .agg(F.min("doc_id").alias("keeper_doc_id"), F.count(F.lit(1)).alias("n_variants"))
        .select("canon_md5", "keeper_doc_id", "n_variants", (F.col("n_variants") > 1).alias("is_dup_group"))
    )


@query(
    "q_text_bigram_lm",
    oracle="""
WITH toks AS (
  SELECT doc_id, string_split(text, ' ') AS t FROM documents
), big AS (
  SELECT t[i] AS w1, t[i+1] AS w2
  FROM toks, unnest(generate_series(1, len(t) - 1)) AS gs(i)
), pair_counts AS (
  SELECT w1, w2, COUNT(*) AS c12 FROM big GROUP BY 1, 2
), head_counts AS (
  SELECT w1, SUM(c12) AS c1 FROM pair_counts GROUP BY 1
)
SELECT w1, w2, c12, ROUND(c12 / c1, 6) AS p_next, rnk FROM (
  SELECT p.w1, p.w2, p.c12, h.c1,
         CAST(ROW_NUMBER() OVER (PARTITION BY p.w1 ORDER BY p.c12 DESC, p.w2) AS BIGINT) AS rnk
  FROM pair_counts p JOIN head_counts h ON h.w1 = p.w1
) WHERE rnk <= 3
""",
)
def q_text_bigram_lm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J8d: bigram language model — conditional next-token probabilities
    P(w2|w1) = c(w1,w2)/c(w1) with the top-3 continuations per head token
    (the classic count-based LM table; at scale this is the n-gram-count
    pipeline behind quality filters and perplexity scoring).

    Bigram extraction is a row-local array fan-out (duplicates KEPT —
    counts, not shingle sets, hence no array_distinct unlike J2b); both
    aggregates are keyed by token prefix with map-side partial combine; the
    per-head top-3 is a rank-pushdown-limited window. p_next is an exact
    integer ratio rounded identically on both sides."""
    d = table(spark, sf_dir, "documents")
    toks = d.select(F.split("text", " ").alias("t"))
    bigrams = F.when(
        F.size("t") >= 2,
        F.expr(
            "transform(sequence(1, size(t) - 1), i -> struct(t[i-1] AS w1, t[i] AS w2))"
        ),
    ).otherwise(F.expr("array()").cast("array<struct<w1:string,w2:string>>"))
    big = toks.select(F.explode(bigrams).alias("b")).select("b.w1", "b.w2")
    pair_counts = big.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("c12"))
    head_counts = pair_counts.groupBy("w1").agg(F.sum("c12").alias("c1"))
    w = Window.partitionBy("w1").orderBy(F.col("c12").desc(), "w2")
    return (
        pair_counts.join(head_counts, "w1")
        .withColumn("rnk", F.row_number().over(w).cast("long"))
        .where(F.col("rnk") <= 3)
        .select("w1", "w2", "c12", F.round(F.col("c12") / F.col("c1"), 6).alias("p_next"), "rnk")
    )


@query(
    "q_data_profile",
    oracle="""
SELECT 'o_orderkey' AS col, COUNT(*) AS n, COUNT(*) - COUNT(o_orderkey) AS n_null,
       COUNT(DISTINCT o_orderkey) AS n_distinct,
       CAST(MIN(o_orderkey) AS VARCHAR) AS min_s, CAST(MAX(o_orderkey) AS VARCHAR) AS max_s
FROM orders
UNION ALL
SELECT 'o_orderstatus', COUNT(*), COUNT(*) - COUNT(o_orderstatus),
       COUNT(DISTINCT o_orderstatus),
       CAST(MIN(o_orderstatus) AS VARCHAR), CAST(MAX(o_orderstatus) AS VARCHAR)
FROM orders
UNION ALL
SELECT 'o_totalprice', COUNT(*), COUNT(*) - COUNT(o_totalprice),
       COUNT(DISTINCT o_totalprice),
       CAST(ROUND(MIN(o_totalprice), 2) AS VARCHAR), CAST(ROUND(MAX(o_totalprice), 2) AS VARCHAR)
FROM orders
UNION ALL
SELECT 'o_orderpriority', COUNT(*), COUNT(*) - COUNT(o_orderpriority),
       COUNT(DISTINCT o_orderpriority),
       CAST(MIN(o_orderpriority) AS VARCHAR), CAST(MAX(o_orderpriority) AS VARCHAR)
FROM orders
""",
)
def q_data_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-profiling audit: per column — row count, null count, exact
    distinct cardinality, min/max (stringified for a uniform schema) — the
    table-health snapshot a pipeline runs before promoting a new partition.

    ONE aggregate over ONE scan computes every measure for every column
    (the multi-column COUNT(DISTINCT)s plan as a single Expand-based
    aggregate — rows multiply by #distinct-columns inside the stage, but
    the fact table is read once); the per-column layout is then a row-local
    explode of a 1-row struct array. A per-column UNION of aggregates would
    instead scan the table once per column (ReuseExchange cannot merge the
    branches — their distinct expansions differ). Numeric extremes are
    rounded before stringification so both engines print identically. At
    100 TB swap COUNT(DISTINCT) for approx_count_distinct (D3) when
    exactness isn't required."""
    o = table(spark, sf_dir, "orders")
    rounded = lambda c: F.round(c, 2)  # noqa: E731
    cols = [
        ("o_orderkey", None),
        ("o_orderstatus", None),
        ("o_totalprice", rounded),
        ("o_orderpriority", None),
    ]
    aggs = [F.count(F.lit(1)).alias("n")]
    for c, mm in cols:
        mn = mm(F.min(c)) if mm else F.min(c)
        mx = mm(F.max(c)) if mm else F.max(c)
        aggs += [
            (F.count(F.lit(1)) - F.count(c)).alias(f"__null_{c}"),
            F.countDistinct(c).alias(f"__dist_{c}"),
            mn.cast("string").alias(f"__min_{c}"),
            mx.cast("string").alias(f"__max_{c}"),
        ]
    wide = o.agg(*aggs)
    structs = F.array(
        *[
            F.struct(
                F.lit(c).alias("col"),
                F.col("n").alias("n"),
                F.col(f"__null_{c}").alias("n_null"),
                F.col(f"__dist_{c}").alias("n_distinct"),
                F.col(f"__min_{c}").alias("min_s"),
                F.col(f"__max_{c}").alias("max_s"),
            )
            for c, _ in cols
        ]
    )
    return wide.select(F.explode(structs).alias("p")).select("p.*")


@query(
    "q_fk_audit",
    oracle="""
SELECT 'orders->customer' AS fk, COUNT(*) AS n_orphans
FROM orders o WHERE NOT EXISTS (SELECT 1 FROM customer c WHERE c.c_custkey = o.o_custkey)
UNION ALL
SELECT 'lineitem->orders', COUNT(*)
FROM lineitem l WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_orderkey = l.l_orderkey)
UNION ALL
SELECT 'lineitem->part', COUNT(*)
FROM lineitem l WHERE NOT EXISTS (SELECT 1 FROM part p WHERE p.p_partkey = l.l_partkey)
""",
)
def q_fk_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Referential-integrity audit: orphan counts per foreign-key edge of the
    star schema (rows whose FK has no parent) — the constraint check a
    warehouse load runs since parquet enforces nothing.

    Each edge is a left-anti join + count; the dimension sides broadcast
    where small, the fact-fact edge shuffles on the join key once. A clean
    load reports zeros — the exact oracle proves the zeros are computed,
    not assumed."""
    o = table(spark, sf_dir, "orders")
    c = table(spark, sf_dir, "customer")
    l = table(spark, sf_dir, "lineitem")  # noqa: E741
    p = table(spark, sf_dir, "part")

    def orphans(fact: DataFrame, dim: DataFrame, fk, pk, label: str) -> DataFrame:
        return (
            fact.join(dim, fact[fk] == dim[pk], "left_anti")
            .agg(F.count(F.lit(1)).alias("n_orphans"))
            .select(F.lit(label).alias("fk"), "n_orphans")
        )

    return (
        orphans(o, c, "o_custkey", "c_custkey", "orders->customer")
        .unionByName(orphans(l, o, "l_orderkey", "o_orderkey", "lineitem->orders"))
        .unionByName(orphans(l, p, "l_partkey", "p_partkey", "lineitem->part"))
    )


_WALK_STEPS = 8

_WALK_LM_SQL = """
WITH toks AS (
  SELECT /*+ REPARTITION({par}) */ split(text, ' ') AS t FROM documents
), big AS (
  SELECT p.w1 AS w1, p.w2 AS w2
  FROM toks LATERAL VIEW explode(transform(sequence(1, size(t) - 1), i -> struct(t[i-1] AS w1, t[i] AS w2))) ex AS p
  WHERE size(t) >= 2
), counts AS (
  SELECT w1, w2, COUNT(*) AS c FROM big GROUP BY w1, w2
)
SELECT w1, w2, c FROM counts
"""

_WALK_BEST_SQL = """
SELECT w1, w2 FROM (
  SELECT w1, w2, ROW_NUMBER() OVER (PARTITION BY w1 ORDER BY c DESC, w2) AS rn
  FROM walk_counts
) WHERE rn = 1
"""

_WALK_SEED_SQL = """
SELECT w1 FROM walk_counts GROUP BY w1 ORDER BY SUM(c) DESC, w1 LIMIT 1
"""

_WALK_SQL_SPARK = f"""
WITH RECURSIVE walk(step, token) AS (
  SELECT CAST(0 AS BIGINT) AS step, w1 AS token FROM walk_seed
  UNION ALL
  SELECT r.step + CAST(1 AS BIGINT), b.w2
  FROM walk r JOIN walk_best b ON b.w1 = r.token WHERE r.step < {_WALK_STEPS}
)
SELECT step, token FROM walk
"""


@query(
    "q_sql_recursive_walk",
    oracle=f"""
WITH RECURSIVE toks AS (
  SELECT string_split(text, ' ') AS t FROM documents
), big AS (
  SELECT t[i] AS w1, t[i+1] AS w2
  FROM toks, unnest(generate_series(1, len(t) - 1)) AS gs(i)
), counts AS (
  SELECT w1, w2, COUNT(*) AS c FROM big GROUP BY 1, 2
), best AS (
  SELECT w1, w2 FROM (
    SELECT w1, w2, ROW_NUMBER() OVER (PARTITION BY w1 ORDER BY c DESC, w2) AS rn FROM counts
  ) WHERE rn = 1
), seed AS (
  SELECT w1 FROM counts GROUP BY w1 ORDER BY SUM(c) DESC, w1 LIMIT 1
), walk(step, token) AS (
  SELECT CAST(0 AS BIGINT) AS step, w1 AS token FROM seed
  UNION ALL
  SELECT r.step + CAST(1 AS BIGINT), b.w2 FROM walk r JOIN best b ON b.w1 = r.token WHERE r.step < {_WALK_STEPS}
)
SELECT step, token FROM walk
""",
)
def q_sql_recursive_walk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E2+J8e: SQL-mode recursive CTE (Spark 4's WITH RECURSIVE) doing greedy
    decoding over the bigram LM — from the corpus's most frequent head token,
    follow the argmax continuation for WALK_STEPS steps (the deterministic
    skeleton of count-LM text generation).

    The recursion is LINEAR (one row per level, bounded by the step counter),
    which is the shape Spark's recursive CTE executes well — each level is a
    tiny join against the precomputed best-continuation table. The cyclic
    walk (the corpus loops join→key→filter→…) is safe because the depth
    bound, not row dedup, terminates it: Spark 4.1 supports only UNION ALL in
    recursive CTEs, so an unbounded transitive closure over a cyclic graph
    cannot terminate — that is why the connected-components operator
    (llm/dedup.py) keeps its iterative min-label loop on the Spark side
    while only the DuckDB oracle states the fixpoint as a recursive CTE."""
    from recsys_spark_spark.catalog import register_views

    register_views(spark, sf_dir)
    # Two fixes:
    # 1. The bigram build (token explode + pair count) inherited the
    #    single-row-group documents scan's ONE task (a 9.9 s 1-task stage
    #    at sf0.1 — the SQL-mode twin of the committed catalog.spread fix):
    #    a REPARTITION hint sized to the session parallelism spreads it.
    # 2. Spark's recursive CTE re-evaluates every non-recursive CTE the
    #    recursion references ONCE PER LEVEL — measured 18 identical
    #    29k-row bigram-count stages for 9 walk levels (~2 per level, both
    #    ends of the per-level join). The corpus-sized LM is now built
    #    once, checkpointed, and exposed to the recursion as the
    #    walk_counts-derived walk_best/walk_seed views, so each level is a
    #    single tiny join against materialized vocabulary-sized state.
    #    The recursion itself — the declared Spark-4 WITH RECURSIVE
    #    surface — is unchanged.
    par = spark.sparkContext.defaultParallelism
    checkpoint(spark.sql(_WALK_LM_SQL.format(par=par))).createOrReplaceTempView(
        "walk_counts"
    )
    checkpoint(spark.sql(_WALK_BEST_SQL)).createOrReplaceTempView("walk_best")
    checkpoint(spark.sql(_WALK_SEED_SQL)).createOrReplaceTempView("walk_seed")
    return spark.sql(_WALK_SQL_SPARK)


def dpp_layout(sf_dir: str) -> str:
    """The partitioned fact layout q_join_dpp keeps for `sf_dir`."""
    digest = hashlib.md5(sf_dir.encode()).hexdigest()[:12]
    return os.path.join(TMP_DIR, f"dpp_fact_{digest}")


@query(
    "q_join_dpp",
    oracle="""
WITH fact AS (
  SELECT *, CAST(year(o_orderdate) AS INTEGER) AS o_year FROM orders
), dim AS (
  SELECT o_year FROM (
    SELECT CAST(year(o_orderdate) AS INTEGER) AS o_year, COUNT(*) AS cnt
    FROM orders WHERE o_orderpriority = '1-URGENT'
    GROUP BY 1 ORDER BY cnt DESC, o_year LIMIT 2
  )
)
SELECT f.o_year, COUNT(*) AS n_orders,
       SUM(CAST(ROUND(o_totalprice * 100, 0) AS BIGINT)) / 100.0 AS revenue
FROM fact f JOIN dim d ON f.o_year = d.o_year
GROUP BY f.o_year
""",
)
def q_join_dpp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A6: dynamic partition pruning — the runtime half of the 100 TB
    partition-layout story. The fact table is written partitioned by
    o_year; the dim side (the two busiest urgent-order years) is only known
    at RUNTIME, so static pruning can't help — Catalyst instead injects a
    dynamicpruningexpression into the fact scan's PartitionFilters, reusing
    the dim's broadcast to skip every non-matching partition directory
    before reading a byte of it (tests/test_plans.py pins the plan). At
    100 TB with date-partitioned facts this is the difference between
    scanning two partitions and scanning the lake whenever the partition
    set comes from a query rather than a literal."""
    # One layout per source dir: a shared fixed path would let a later
    # invocation for ANOTHER sf_dir overwrite the directory a still-lazy
    # earlier DataFrame reads from. The layout records the fingerprint of
    # the source parquet's mtime+size it was written from (as an empty
    # `_source_<fp>` file, which Spark's file listing skips); a regenerated
    # testdata set at the same path must NOT be served a stale layout while
    # the oracle reads the fresh file, so a changed fingerprint rewrites the
    # layout in place.
    src = os.path.join(sf_dir, "orders.parquet")
    if os.path.isdir(src):
        stats = sorted(
            (f, os.path.getmtime(p), os.path.getsize(p))
            for f in os.listdir(src)
            if os.path.isfile(p := os.path.join(src, f))
        )
    else:
        stats = [(src, os.path.getmtime(src), os.path.getsize(src))]
    fp = hashlib.md5(f"{sf_dir}:{stats}".encode()).hexdigest()[:12]
    out = dpp_layout(sf_dir)
    stamp = os.path.join(out, f"_source_{fp}")
    fact_src = table(spark, sf_dir, "orders").withColumn(
        "o_year", F.year("o_orderdate").cast("int")
    )
    if os.path.exists(stamp):
        fact = spark.read.schema(fact_src.schema).parquet(out)
    else:
        fact = write_back(fact_src, out, "o_year")
        open(stamp, "w").close()
    dim = (
        table(spark, sf_dir, "orders")
        .where(F.col("o_orderpriority") == "1-URGENT")
        .groupBy(F.year("o_orderdate").cast("int").alias("o_year"))
        .agg(F.count(F.lit(1)).alias("cnt"))
        .orderBy(F.col("cnt").desc(), "o_year")
        .limit(2)
        .select("o_year")
    )
    return (
        fact.join(F.broadcast(dim), "o_year")
        .groupBy("o_year")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            (F.sum(rlong(F.col("o_totalprice") * 100)) / F.lit(100.0)).alias("revenue"),
        )
    )


# --------------------------------------------------------------------------
# M91: SQL scripting (Spark 4 BEGIN..END compound statements)
# --------------------------------------------------------------------------


@query(
    "q_sql_scripting",
    oracle="""
WITH floor_bal AS (
  SELECT GREATEST(SUM(CAST(ROUND(c_acctbal * 100, 0) AS BIGINT)) // COUNT(*), 0) AS cents
  FROM customer
)
SELECT c_nationkey, COUNT(*) AS n_rich
FROM customer, floor_bal
WHERE c_mktsegment = 'BUILDING'
  AND CAST(ROUND(c_acctbal * 100, 0) AS BIGINT) > floor_bal.cents
GROUP BY c_nationkey
HAVING COUNT(*) > 3
""",
)
def q_sql_scripting(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M91: Spark 4 SQL scripting — a BEGIN..END compound statement with
    DECLAREd variables, a scalar-subquery SET, and a WHILE loop computing
    the HAVING threshold procedurally; the script's final SELECT is the
    result. The surface that replaces driver-side orchestration glue for
    multi-step SQL jobs (parameterized thresholds, iterative fixpoints)
    while every individual statement still compiles through Catalyst.

    Determinism discipline: the balance threshold is an exact integer
    (cent-sum // count) rather than AVG(double), so the comparison can
    never flip on summation-order low bits. DuckDB's `//` FLOORS while
    Spark's `DIV` TRUNCATES toward zero — they agree only on non-negative
    numerators, so both sides clamp with GREATEST(..., 0): for a negative
    cent-sum floor/trunc differ by at most one but both are ≤ 0, and the
    clamp maps either to exactly 0. The oracle states the same computation
    declaratively — proving the scripted control flow changes
    orchestration, not semantics."""
    table(spark, sf_dir, "customer").createOrReplaceTempView("customer")
    return spark.sql(
        """
        BEGIN
          DECLARE floor_cents BIGINT DEFAULT 0;
          DECLARE min_n INT DEFAULT 0;
          SET floor_cents = (
            SELECT GREATEST(SUM(CAST(ROUND(c_acctbal * 100, 0) AS BIGINT)) DIV COUNT(*), 0)
            FROM customer
          );
          WHILE min_n < 3 DO
            SET min_n = min_n + 1;
          END WHILE;
          SELECT c_nationkey, COUNT(*) AS n_rich
          FROM customer
          WHERE c_mktsegment = 'BUILDING'
            AND CAST(ROUND(c_acctbal * 100, 0) AS BIGINT) > floor_cents
          GROUP BY c_nationkey
          HAVING COUNT(*) > min_n;
        END
        """
    )


# --------------------------------------------------------------------------
# M112: correlated subqueries (scalar + EXISTS) in SQL mode
# --------------------------------------------------------------------------

# Shared SQL: the correlated scalar compares integer cents against an
# exact-integer-sum average (the division of two exact integers is the same
# IEEE double on both engines), so the boundary predicate can never flip on
# summation order. EXISTS adds the second decorrelation shape.
_CORRELATED_SQL = """
SELECT c.c_custkey, c.c_mktsegment,
       CAST(ROUND(c.c_acctbal * 100, 0) AS BIGINT) AS cents
FROM customer c
WHERE CAST(ROUND(c.c_acctbal * 100, 0) AS BIGINT) >
      (SELECT SUM(CAST(ROUND(c2.c_acctbal * 100, 0) AS BIGINT)) / COUNT(*)
       FROM customer c2
       WHERE c2.c_mktsegment = c.c_mktsegment)
  AND EXISTS (SELECT 1 FROM orders o
              WHERE o.o_custkey = c.c_custkey
                AND o.o_orderpriority = '1-URGENT')
"""


@query("q_sql_correlated", oracle=_CORRELATED_SQL)
def q_sql_correlated(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M112: correlated subqueries, SQL mode — customers above their own
    segment's average balance (correlated SCALAR subquery) who have placed
    an urgent order (correlated EXISTS). The decorrelation showcase: the
    same SQL text runs on both engines.

    Catalyst rewrites both correlations before planning — the scalar
    subquery becomes a per-segment aggregate joined back
    (RewriteCorrelatedScalarSubquery), EXISTS becomes a LEFT SEMI join
    (RewritePredicateSubquery) — so nothing executes per-row; the plan is
    two joins + one aggregate, exactly what you would hand-write, and it
    scales like any keyed join (plan-tested: no per-row subquery node
    survives). The integer-cents comparison keeps the boundary predicate
    deterministic (module comment)."""
    from recsys_spark_spark.catalog import register_views

    register_views(spark, sf_dir)
    return spark.sql(_CORRELATED_SQL)


# --------------------------------------------------------------------------
# M119: LATERAL correlated derived table, SQL mode
# --------------------------------------------------------------------------

_LATERAL_SQL = """
SELECT c.c_custkey, t.o_orderkey, t.o_totalprice
FROM customer c, LATERAL (
  SELECT o_orderkey, o_totalprice FROM orders
  WHERE o_custkey = c.c_custkey
  ORDER BY o_totalprice DESC, o_orderkey
  LIMIT 2
) t
"""


@query("q_sql_lateral", oracle=_LATERAL_SQL)
def q_sql_lateral(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M119: LATERAL correlated derived table — each customer's top-2
    most expensive orders, written as the SQL-standard lateral join both
    engines accept verbatim. The third decorrelation shape after
    q_sql_correlated's scalar/EXISTS: a correlated LIMIT, which Catalyst
    rewrites into a per-key window rank (DecorrelateInnerQuery), i.e. the
    exact plan q_topk_per_group hand-writes — per-row re-execution never
    survives. Tie-broken on (o_totalprice DESC, o_orderkey) so the top-2
    is total-order deterministic on both engines."""
    from recsys_spark_spark.catalog import register_views

    register_views(spark, sf_dir)
    return spark.sql(_LATERAL_SQL)


# --------------------------------------------------------------------------
# M121: Q21-shaped chained EXISTS / NOT EXISTS (the hardest decorrelation)
# --------------------------------------------------------------------------

_Q21_SHAPE_SQL = """
SELECT s.s_name, COUNT(*) AS numwait
FROM supplier s
JOIN lineitem l1 ON s.s_suppkey = l1.l_suppkey
JOIN orders o ON o.o_orderkey = l1.l_orderkey
WHERE CAST(l1.l_shipdate AS DATE) > CAST(o.o_orderdate AS DATE) + 60
  AND EXISTS (SELECT 1 FROM lineitem l2
              WHERE l2.l_orderkey = l1.l_orderkey
                AND l2.l_suppkey <> l1.l_suppkey)
  AND NOT EXISTS (SELECT 1 FROM lineitem l3
                  WHERE l3.l_orderkey = l1.l_orderkey
                    AND l3.l_suppkey <> l1.l_suppkey
                    AND CAST(l3.l_shipdate AS DATE) > CAST(o.o_orderdate AS DATE) + 60)
GROUP BY s.s_name
"""


@query("q_sql_q21_shape", oracle=_Q21_SHAPE_SQL)
def q_sql_q21_shape(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M121: TPC-H Q21's correlation pattern — per supplier, count orders
    where THIS supplier shipped late (> 60 days after the order date, the
    commitdate-free analog this schema supports) on a MULTI-supplier
    order (EXISTS peer) and was the ONLY late one (NOT EXISTS late peer).
    The benchmark's hardest decorrelation: two chained subqueries on the
    SAME fact table, the second correlated through TWO outer tables
    (l1.l_orderkey equality + o.o_orderdate in the inner predicate).

    Catalyst turns EXISTS into a left-semi and NOT EXISTS into a
    left-anti join, both keyed on l_orderkey with the extra predicates as
    join conditions — three shuffles of the fact table on one key plus a
    tiny supplier broadcast, no per-row re-execution (same decorrelation
    family as q_sql_correlated/q_sql_lateral, here with the non-equi
    correlated term riding the anti join's condition). Date arithmetic is
    integer day addition on both engines — no interval/timezone
    semantics in play."""
    from recsys_spark_spark.catalog import register_views

    register_views(spark, sf_dir)
    return spark.sql(_Q21_SHAPE_SQL)


# --------------------------------------------------------------------------
# M190: GROUP BY ALL / ORDER BY ALL — Spark 4 SQL ergonomics surface
# --------------------------------------------------------------------------


@query(
    "q_sql_group_by_all",
    oracle="""
SELECT o_orderstatus, o_orderpriority,
       CAST(year(o_orderdate) AS BIGINT) AS o_year,
       CAST(COUNT(*) AS BIGINT) AS n,
       CAST(SUM(CAST(ROUND(o_totalprice * 100, 0) AS BIGINT)) AS BIGINT) AS rev_cents
FROM orders
GROUP BY ALL
""",
)
def q_sql_group_by_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M190: GROUP BY ALL + ORDER BY ALL (Spark 3.4+/4 SQL ergonomics,
    originally DuckDB's) — every non-aggregate select item becomes a
    grouping key without restating the list, the idiom analysts actually
    type. Semantically identical to the explicit GROUP BY (the oracle
    states it explicitly via its own GROUP BY ALL — both engines resolve
    the same key set), so this pins Spark's resolution of the implicit
    key list against DuckDB's. ORDER BY ALL is dropped from the oracle
    side (the driver compare is order-insensitive) but exercised on the
    Spark side to cover its resolution path too.

    Shape: one map-side-combinable aggregate; the sort is output-sized."""
    table(spark, sf_dir, "orders").createOrReplaceTempView("orders")
    return spark.sql(
        """
        SELECT o_orderstatus, o_orderpriority,
               CAST(year(o_orderdate) AS BIGINT) AS o_year,
               CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(CAST(ROUND(o_totalprice * 100, 0) AS BIGINT)) AS BIGINT) AS rev_cents
        FROM orders
        GROUP BY ALL
        ORDER BY ALL
        """
    )


# --------------------------------------------------------------------------
# M196: SQL scalar function (CREATE FUNCTION ... RETURN expr)
# --------------------------------------------------------------------------


@query(
    "q_sql_scalar_function",
    oracle="""
SELECT l_returnflag,
       CAST(COUNT(*) AS BIGINT) AS n,
       CAST(SUM(CAST(ROUND(l_extendedprice * (1 - l_discount) * 100, 0) AS BIGINT)) AS BIGINT)
         AS net_cents
FROM lineitem
GROUP BY 1
""",
)
def q_sql_scalar_function(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M196: SQL-language scalar UDF (Spark 3.4+ `CREATE FUNCTION ...
    RETURNS ... RETURN <expr>`) — business logic named ONCE in the
    catalog and reused across queries, with none of a Python UDF's
    serialization cost: the body INLINES into the calling plan at
    analysis time, so the aggregate below runs entirely in whole-stage
    codegen as if the expression were written in place (the oracle states
    that inlined form — equality proves the inlining semantics). The
    function-catalog analog of A5's temp views.

    Shape: identical to the inline query — one map-side-combinable
    aggregate; the function definition is a catalog entry, not an
    operator."""
    table(spark, sf_dir, "lineitem").createOrReplaceTempView("lineitem")
    spark.sql(
        "CREATE OR REPLACE TEMPORARY FUNCTION net_cents(p DOUBLE, d DOUBLE) "
        "RETURNS BIGINT RETURN CAST(ROUND(p * (1 - d) * 100, 0) AS BIGINT)"
    )
    return spark.sql(
        """
        SELECT l_returnflag,
               CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(net_cents(l_extendedprice, l_discount)) AS BIGINT) AS net_cents
        FROM lineitem
        GROUP BY 1
        """
    )


# --------------------------------------------------------------------------
# M197: EXECUTE IMMEDIATE — parameterized SQL execution
# --------------------------------------------------------------------------


@query(
    "q_sql_execute_immediate",
    oracle="""
SELECT o_orderpriority,
       CAST(COUNT(*) AS BIGINT) AS n,
       CAST(SUM(CAST(ROUND(o_totalprice * 100, 0) AS BIGINT)) AS BIGINT) AS rev_cents
FROM orders
WHERE year(o_orderdate) = 1997 AND o_orderstatus = 'F'
GROUP BY 1
""",
)
def q_sql_execute_immediate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M197: EXECUTE IMMEDIATE with positional parameters (Spark 4) — the
    SQL-injection-safe dynamic-SQL surface: the query template is a
    string, the parameters bind server-side (`USING`), and the parameter
    marks behave as typed literals for Catalyst (constant folding,
    partition pruning all apply). The session-variable + scripting
    sibling of q_sql_scripting.

    Shape: identical to the static query — parameters are literals by
    the time the plan exists."""
    table(spark, sf_dir, "orders").createOrReplaceTempView("orders")
    return spark.sql(
        """
        EXECUTE IMMEDIATE
        'SELECT o_orderpriority,
                CAST(COUNT(*) AS BIGINT) AS n,
                CAST(SUM(CAST(ROUND(o_totalprice * 100, 0) AS BIGINT)) AS BIGINT) AS rev_cents
         FROM orders
         WHERE year(o_orderdate) = ? AND o_orderstatus = ?
         GROUP BY 1'
        USING 1997, 'F'
        """
    )


# --------------------------------------------------------------------------
# M211: parameterized spark.sql() with named parameter markers
# --------------------------------------------------------------------------


@query(
    "q_sql_named_params",
    oracle="""
SELECT c_mktsegment,
       CAST(COUNT(*) AS BIGINT) AS n_orders,
       CAST(SUM(CAST(ROUND(o_totalprice * 100, 0) AS BIGINT)) AS BIGINT) AS rev_cents
FROM orders JOIN customer ON o_custkey = c_custkey
WHERE o_orderdate >= DATE '1996-01-01'
  AND o_orderpriority IN ('1-URGENT', '2-HIGH')
GROUP BY 1
""",
)
def q_sql_named_params(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M211: parameterized SQL via spark.sql(query, args=...) (Spark
    3.4+) — named :param markers bound client-side as typed literals,
    the programmatic (PySpark-API) sibling of q_sql_execute_immediate's
    SQL-side USING binding. The injection-safe templating surface an
    application layer uses; Catalyst sees plain literals, so constant
    folding, pushdown and partition pruning are unaffected (the pushed
    date filter is visible in the scan).

    Array-typed parameters bind through array(); IN over the bound array
    compiles to the same predicate as a literal IN list."""
    table(spark, sf_dir, "orders").createOrReplaceTempView("orders")
    table(spark, sf_dir, "customer").createOrReplaceTempView("customer")
    return spark.sql(
        """
        SELECT c_mktsegment,
               CAST(COUNT(*) AS BIGINT) AS n_orders,
               CAST(SUM(CAST(ROUND(o_totalprice * 100, 0) AS BIGINT)) AS BIGINT) AS rev_cents
        FROM orders JOIN customer ON o_custkey = c_custkey
        WHERE o_orderdate >= :cutoff
          AND array_contains(:prios, o_orderpriority)
        GROUP BY 1
        """,
        args={
            "cutoff": datetime.date(1996, 1, 1),
            "prios": ["1-URGENT", "2-HIGH"],
        },
    )
