"""3.C — join strategies.

Physical-plan intent per query (asserted in tests/test_plans.py):
- C2/C10 broadcast the dims (BroadcastHashJoin) — never shuffle a 25-row table.
- C1/C6 shuffle on the join key (SMJ/shuffled-hash, AQE's call).
- C7 keeps an equi component so Spark never falls back to BNLJ.
- C8 implements as-of via union + last_value window — sort-based, linear, the
  scalable form (a per-row theta join would be quadratic per user).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from recsys_spark_spark.catalog import spread, table
from recsys_spark_spark.functions.determinism import osum, rlong
from recsys_spark_spark.registry import query


@query(
    "q_join_inner",
    oracle="""
SELECT o_orderkey, c_custkey, c_name, o_totalprice
FROM orders JOIN customer ON o_custkey = c_custkey
""",
)
def q_join_inner(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = table(spark, sf_dir, "orders")
    c = table(spark, sf_dir, "customer")
    return o.join(c, o.o_custkey == c.c_custkey).select(
        "o_orderkey", "c_custkey", "c_name", "o_totalprice"
    )


@query(
    "q_join_broadcast",
    oracle="""
SELECT c_custkey, c_name, n_name, r_name
FROM customer
JOIN nation ON c_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
""",
)
def q_join_broadcast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C2: snowflake dims broadcast explicitly — zero shuffle of customer."""
    c = table(spark, sf_dir, "customer")
    n = F.broadcast(table(spark, sf_dir, "nation"))
    r = F.broadcast(table(spark, sf_dir, "region"))
    return (
        c.join(n, c.c_nationkey == n.n_nationkey)
        .join(r, n.n_regionkey == r.r_regionkey)
        .select("c_custkey", "c_name", "n_name", "r_name")
    )


@query(
    "q_join_outer",
    oracle="""
SELECT c_custkey, COUNT(o_orderkey) AS n_orders
FROM customer LEFT JOIN orders ON c_custkey = o_custkey
GROUP BY 1
""",
)
def q_join_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C3: left outer join — customers with zero orders kept (count = 0)."""
    c = table(spark, sf_dir, "customer")
    o = table(spark, sf_dir, "orders")
    return (
        c.join(o, c.c_custkey == o.o_custkey, "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("n_orders"))
    )


@query(
    "q_join_semi",
    oracle="""
SELECT c_custkey, c_name FROM customer c
WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c.c_custkey AND o_orderstatus = 'O')
""",
)
def q_join_semi(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = table(spark, sf_dir, "customer")
    o = table(spark, sf_dir, "orders").where(F.col("o_orderstatus") == "O")
    return c.join(o, c.c_custkey == o.o_custkey, "left_semi").select("c_custkey", "c_name")


@query(
    "q_join_anti",
    oracle="""
SELECT c_custkey, c_name FROM customer c
WHERE NOT EXISTS (
  SELECT 1 FROM orders WHERE o_custkey = c.c_custkey AND o_totalprice > 300000
)
""",
)
def q_join_anti(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C5: anti join — the CF 'exclude already-seen items' primitive.
    Customers with no big-ticket (>300k) order."""
    c = table(spark, sf_dir, "customer")
    o = table(spark, sf_dir, "orders").where(F.col("o_totalprice") > 300000)
    return c.join(o, c.c_custkey == o.o_custkey, "left_anti").select("c_custkey", "c_name")


@query(
    "q_join_self_pairs",
    oracle="""
SELECT a.l_partkey AS part_a, b.l_partkey AS part_b, COUNT(*) AS n_pairs
FROM lineitem a JOIN lineitem b
  ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
GROUP BY 1, 2
""",
)
def q_join_self_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C6: basket co-occurrence — parts appearing on the same order.

    Same shape as CF item co-occurrence but keyed on orderkey; order baskets
    are naturally capped (≤7 lines) so no skew guard needed here.
    """
    l = table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    a = l.select("l_orderkey", F.col("l_partkey").alias("part_a"))
    b = l.select("l_orderkey", F.col("l_partkey").alias("part_b"))
    return (
        a.join(b, "l_orderkey")
        .where(F.col("part_a") < F.col("part_b"))
        .groupBy("part_a", "part_b")
        .agg(F.count(F.lit(1)).alias("n_pairs"))
    )


@query(
    "q_join_theta_range",
    oracle="""
WITH s AS (
  SELECT event_id, user_id, date_trunc('second', ts) AS s_sec
  FROM events WHERE event_type = 'signup'
), e AS (
  SELECT user_id, date_trunc('second', ts) AS e_sec
  FROM events WHERE event_type <> 'signup'
)
SELECT s.event_id AS signup_event_id, COUNT(e.user_id) AS n_followups
FROM s LEFT JOIN e
  ON s.user_id = e.user_id
 AND e.e_sec > s.s_sec
 AND e.e_sec <= s.s_sec + INTERVAL 1 HOUR
GROUP BY 1
""",
)
def q_join_theta_range(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C7: range join with an equi component (user_id) — events within 1h
    after each signup. Timestamps truncated to seconds on both sides: the
    events table is ns-precision and Spark truncates ns→µs on read
    (SURVEY.md §7.5), so sub-second comparisons would diverge from the oracle.
    """
    ev = table(spark, sf_dir, "events")
    s = ev.where(F.col("event_type") == "signup").select(
        "event_id", "user_id", F.date_trunc("second", "ts").alias("s_sec")
    )
    e = ev.where(F.col("event_type") != "signup").select(
        F.col("user_id").alias("e_user"), F.date_trunc("second", "ts").alias("e_sec")
    )
    return (
        s.join(
            e,
            (s.user_id == e.e_user)
            & (e.e_sec > s.s_sec)
            & (e.e_sec <= s.s_sec + F.expr("INTERVAL 1 HOUR")),
            "left",
        )
        .groupBy(F.col("event_id").alias("signup_event_id"))
        .agg(F.count("e_user").alias("n_followups"))
    )


@query(
    "q_join_asof",
    oracle="""
WITH ev AS (
  SELECT event_id, user_id, date_trunc('second', ts) AS sec,
         CASE WHEN event_type = 'click' THEN 0 ELSE 1 END AS tag
  FROM events WHERE event_type IN ('click', 'purchase')
), m AS (
  SELECT event_id, user_id, tag,
         LAST_VALUE(CASE WHEN tag = 0 THEN event_id END IGNORE NULLS)
           OVER (PARTITION BY user_id ORDER BY sec, tag, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS click_event_id
  FROM ev
)
SELECT event_id AS purchase_event_id, user_id, click_event_id
FROM m WHERE tag = 1
""",
)
def q_join_asof(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C8: as-of join — for each purchase, the latest click at-or-before it
    (per user, second granularity, ties broken by event_id).

    Implemented as union + last_value(ignore nulls) window: one sort per user
    partition, linear in events — the form that scales (native merge_asof
    exists only in pandas-on-Spark; a theta join would be quadratic).
    """
    ev = table(spark, sf_dir, "events").where(F.col("event_type").isin("click", "purchase"))
    tagged = ev.select(
        "event_id",
        "user_id",
        F.date_trunc("second", "ts").alias("sec"),
        F.when(F.col("event_type") == "click", F.lit(0)).otherwise(F.lit(1)).alias("tag"),
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("sec", "tag", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    carried = tagged.withColumn(
        "click_event_id",
        F.last(F.when(F.col("tag") == 0, F.col("event_id")), ignorenulls=True).over(w),
    )
    return carried.where(F.col("tag") == 1).select(
        F.col("event_id").alias("purchase_event_id"), "user_id", "click_event_id"
    )


@query(
    "q_join_cross",
    oracle="SELECT r_name, n_name FROM region CROSS JOIN nation",
)
def q_join_cross(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C9: cartesian product of two dims (BroadcastNestedLoopJoin)."""
    r = table(spark, sf_dir, "region")
    n = table(spark, sf_dir, "nation")
    return r.crossJoin(n).select("r_name", "n_name")


@query(
    "q_join_multiway",
    oracle=f"""
SELECT n_name, {osum("l_extendedprice * (1 - l_discount)")} AS revenue
FROM region
JOIN nation ON n_regionkey = r_regionkey
JOIN customer ON c_nationkey = n_nationkey
JOIN orders ON o_custkey = c_custkey
JOIN lineitem ON l_orderkey = o_orderkey
WHERE o_orderdate >= TIMESTAMP '1996-01-01' AND o_orderdate < TIMESTAMP '1997-01-01'
GROUP BY 1
""",
)
def q_join_multiway(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C10: TPC-H Q5-shaped star join — dims broadcast, facts shuffle once."""
    r = F.broadcast(table(spark, sf_dir, "region"))
    n = F.broadcast(table(spark, sf_dir, "nation"))
    c = table(spark, sf_dir, "customer")
    o = table(spark, sf_dir, "orders").where(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-01-01").cast("timestamp"))
    )
    l = table(spark, sf_dir, "lineitem")
    return (
        r.join(n, n.n_regionkey == r.r_regionkey)
        .join(c, c.c_nationkey == n.n_nationkey)
        .join(o, o.o_custkey == c.c_custkey)
        .join(l, l.l_orderkey == o.o_orderkey)
        .groupBy("n_name")
        .agg(
            (F.sum(rlong(F.col("l_extendedprice") * (1 - F.col("l_discount")) * F.lit(1e6))) / F.lit(1e6)).alias("revenue")
        )
    )


@query(
    "q_join_salted",
    oracle="""
SELECT c_mktsegment,
       COUNT(*) AS n_events,
       SUM(CAST(ROUND(value * 1e6, 0) AS BIGINT)) / 1e6 AS sum_value
FROM events JOIN customer ON user_id = c_custkey
GROUP BY 1
""",
)
def q_join_salted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C11: salted shuffle join — the manual skew-mitigation pattern.

    When one join key dominates (a hot user at 100 TB), a plain shuffle join
    sends its entire fan-in to one task. Salting splits each hot key into
    SALT synthetic sub-keys: the big (skewed) side gets a deterministic salt
    from a content hash, the small side is exploded SALT-fold, and the join
    runs on (key, salt) — every sub-key lands on a different task, bounding
    any task's share of a hot key at 1/SALT. Deterministic salt (xxhash64 of
    the row id, not rand()) keeps the query re-runnable and oracle-exact;
    semantics are identical to the plain join, which is exactly what the
    oracle states. AQE's skew-join split handles residual post-hoc skew;
    salting is the a-priori version that also works for aggregates.

    The hint keeps the exploded dim from auto-broadcasting (at real scale it
    may exceed the threshold; the demo pins the salted-shuffle shape so the
    plan is the one the technique produces).
    """
    SALT = 8
    ev = table(spark, sf_dir, "events").withColumn(
        "_salt", F.pmod(F.xxhash64("event_id"), F.lit(SALT))
    )
    cust = (
        table(spark, sf_dir, "customer")
        .select("c_custkey", "c_mktsegment")
        .withColumn("_salt", F.explode(F.array(*[F.lit(i) for i in range(SALT)])))
        .hint("shuffle_hash")
    )
    return (
        ev.join(
            cust,
            (ev.user_id == cust.c_custkey) & (ev._salt == cust._salt.cast("long")),
        )
        .groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            (F.sum(rlong(F.col("value") * F.lit(1e6))) / F.lit(1e6)).alias("sum_value"),
        )
    )


# --------------------------------------------------------------------------
# M68: interval-overlap join (banded, exact)
# --------------------------------------------------------------------------

_IV_GAP_S = 1800  # session gap, matches q_stream_session semantics
# Overlap-join band width (seconds). Exactness is width-invariant (see the
# q_join_interval docstring); the width only tunes candidate mass and must
# track the session-length scale: 300 s ≈ mean 43 s + tail, measured 9x
# fewer candidates than hour bands at sf0.1 AND sf1 with ~1.14x explode.
_IV_BAND_S = 300


@query(
    "q_join_interval",
    oracle=f"""
WITH ev AS (
  SELECT user_id, event_id, date_trunc('second', ts) AS sec FROM events
), flagged AS (
  SELECT user_id, sec, event_id,
         CASE WHEN lag(sec) OVER w IS NULL
                   OR date_diff('second', lag(sec) OVER w, sec) >= {_IV_GAP_S}
              THEN 1 ELSE 0 END AS is_new
  FROM ev WINDOW w AS (PARTITION BY user_id ORDER BY sec, event_id)
), numbered AS (
  SELECT user_id, sec,
         SUM(is_new) OVER (PARTITION BY user_id ORDER BY sec, event_id
                           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sn
  FROM flagged
), iv AS (
  SELECT user_id, MIN(sec) AS s, MAX(sec) AS e FROM numbered GROUP BY user_id, sn
), pairs AS (
  SELECT a.user_id AS user_a, b.user_id AS user_b, a.s AS s_a, b.s AS s_b,
         GREATEST(a.s, b.s) AS o_start,
         date_diff('second', GREATEST(a.s, b.s), LEAST(a.e, b.e)) AS o_sec
  FROM iv a JOIN iv b
    ON a.user_id < b.user_id AND a.s <= b.e AND b.s <= a.e
)
SELECT date_trunc('day', o_start) AS day,
       COUNT(*) AS n_pairs,
       CAST(SUM(o_sec) AS BIGINT) AS overlap_s
FROM pairs GROUP BY 1
""",
)
def q_join_interval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M68: interval-overlap join — which pairs of users had concurrently
    active sessions, per day. Sessions are the 30-min-gap intervals of
    q_stream_session; a pair overlaps iff s_a <= e_b AND s_b <= e_a.

    Scale shape: the naive overlap join is all-pairs O(n²). Here each
    interval is EXPLODED onto the fixed-width epoch bands it spans, the
    self-join is an equi-join on the band, and duplicate hits (a pair
    overlapping across several shared bands) are collapsed with one
    distinct. Banding is EXACT for ANY band width, not approximate: two
    overlapping intervals share at least the band containing their overlap
    start, so every true pair is found in >=1 common band. Candidates per
    band are bounded by concurrent-session count, never by table size — the
    shape that survives 100 TB of events.

    Band width is a pure performance knob (results are width-invariant —
    pinned by tests/test_interval_band.py) and must sit at the SESSION
    LENGTH scale, not a calendar unit: with hour bands the sf1 probe
    measured 42x more candidates than true overlaps (6.48M vs 154k at
    sf0.1; 652M vs 19.6M at the sf1 replica) because sessions average 43 s
    (p99 ~24 min), so nearly everything sharing an hour does NOT overlap in
    time. At _IV_BAND_S=300 s the candidate mass is 690k/73.9M (3.8x true
    pairs) — ~9x less join work at both SFs — while explode fan-out stays
    ~1.14 bands/interval (len/300+1). The true pair mass itself grows ~128x
    under "10x users, same window" (153k -> 19.6M concurrent pairs), which
    is genuine output, not join waste; the band join rides it sublinearly.
    The oracle states the same result via the plain quadratic join (DuckDB
    IEJoin handles sf-test sizes)."""
    # Explicit width on the sessionize exchange — the
    # events table is a single-row-group file and the ~1.4 MB user_id
    # exchange AQE-coalesces to ONE partition, so the whole
    # sessionize → interval → band-explode → overlap-probe chain ran
    # single-core (three 1-task stages, 28 s task time at sf0.1). The
    # scan side has no incoming partitioning, so the explicit-number
    # repartition survives compilation and the band join's probe stage
    # inherits the session's width; defaultParallelism scales with the
    # cluster.
    par = spark.sparkContext.defaultParallelism
    ev = (
        table(spark, sf_dir, "events")
        .withColumn("sec", F.date_trunc("second", "ts"))
        .repartition(par, "user_id")
    )
    order = Window.partitionBy("user_id").orderBy("sec", "event_id")
    prev = F.lag("sec").over(order)
    flagged = ev.withColumn(
        "is_new",
        F.when(
            prev.isNull()
            | ((F.unix_timestamp("sec") - F.unix_timestamp(prev)) >= _IV_GAP_S),
            1,
        ).otherwise(0),
    )
    cum = order.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    iv = (
        flagged.withColumn("sn", F.sum("is_new").over(cum))
        .groupBy("user_id", "sn")
        .agg(F.min("sec").alias("s"), F.max("sec").alias("e"))
        .select("user_id", "s", "e")
    )
    banded = iv.withColumn(
        "band",
        F.explode(
            F.sequence(
                (F.floor(F.unix_timestamp("s") / _IV_BAND_S) * _IV_BAND_S).cast("long"),
                (F.floor(F.unix_timestamp("e") / _IV_BAND_S) * _IV_BAND_S).cast("long"),
                F.lit(_IV_BAND_S),
            )
        ),
    )
    a = banded.alias("a")
    b = banded.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.user_id") < F.col("b.user_id"))
            & (F.col("a.s") <= F.col("b.e"))
            & (F.col("b.s") <= F.col("a.e")),
        )
        .select(
            F.col("a.user_id").alias("user_a"),
            F.col("b.user_id").alias("user_b"),
            F.col("a.s").alias("s_a"),
            F.col("b.s").alias("s_b"),
            F.greatest("a.s", "b.s").alias("o_start"),
            (
                F.unix_timestamp(F.least("a.e", "b.e"))
                - F.unix_timestamp(F.greatest("a.s", "b.s"))
            ).alias("o_sec"),
        )
        .distinct()  # a pair found in every shared hour band -> once
    )
    return pairs.groupBy(F.date_trunc("day", "o_start").alias("day")).agg(
        F.count(F.lit(1)).alias("n_pairs"),
        F.sum("o_sec").cast("long").alias("overlap_s"),
    )


# --------------------------------------------------------------------------
# M69: blocked fuzzy (edit-distance) join
# --------------------------------------------------------------------------

_FUZZY_MAX_DIST = 2


@query(
    "q_join_fuzzy",
    oracle=f"""
WITH p AS (
  SELECT p_partkey, p_name,
         string_split(p_name, ' ')[1] AS w1,
         substring(string_split(p_name, ' ')[2], 1, 1) AS c2
  FROM part
)
SELECT a.p_partkey AS key_a, b.p_partkey AS key_b,
       a.p_name AS name_a, b.p_name AS name_b,
       CAST(levenshtein(a.p_name, b.p_name) AS BIGINT) AS dist
FROM p a JOIN p b
  ON a.w1 = b.w1 AND a.c2 = b.c2 AND a.p_partkey < b.p_partkey
WHERE levenshtein(a.p_name, b.p_name) <= {_FUZZY_MAX_DIST}
""",
)
def q_join_fuzzy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M69: fuzzy string-similarity join — part-name pairs within
    Levenshtein distance 2, candidates blocked on (first word, first char
    of second word). The entity-resolution workhorse.

    Scale shape: edit distance has no equi decomposition, so the scalable
    form is block -> equi-join on the block key -> verify with the exact
    distance on candidates only. The block key deliberately trades recall
    for cost (an edit in the blocked characters escapes the block) — the
    same documented trade as q_dedup_near_sql vs q_dedup_near_bucketed;
    tightening recall = more block keys (e.g. deletion-neighborhoods),
    never an all-pairs join. Both engines implement classic Levenshtein, so
    the verify predicate is exact and engine-portable."""
    # part is one small parquet split, so without an exchange the broadcast
    # join's stream side — and with it EVERY candidate's Levenshtein verify
    # — runs in a single task (measured 44 s of 45 s query CPU in one
    # 1-task stage at sf0.1). The verify work
    # scales with candidate pairs, not input bytes, which scan splitting
    # cannot see. catalog.spread round-robins the probe side across the
    # session's parallelism (identity on an already-parallel scan at
    # cluster scale): row-deterministic verify, identical output.
    p = table(spark, sf_dir, "part").select(
        "p_partkey",
        "p_name",
        F.split("p_name", " ").getItem(0).alias("w1"),
        F.substring(F.split("p_name", " ").getItem(1), 1, 1).alias("c2"),
    )
    a = spread(spark, p).alias("a")
    b = p.alias("b")
    return (
        a.join(
            b,
            (F.col("a.w1") == F.col("b.w1"))
            & (F.col("a.c2") == F.col("b.c2"))
            & (F.col("a.p_partkey") < F.col("b.p_partkey")),
        )
        .select(
            F.col("a.p_partkey").alias("key_a"),
            F.col("b.p_partkey").alias("key_b"),
            F.col("a.p_name").alias("name_a"),
            F.col("b.p_name").alias("name_b"),
            # computed once here (Spark does not CSE across Filter/Project)
            F.levenshtein(F.col("a.p_name"), F.col("b.p_name"))
            .cast("long")
            .alias("dist"),
        )
        .where(F.col("dist") <= _FUZZY_MAX_DIST)
    )


# --------------------------------------------------------------------------
# M81: runtime bloom-filter pruned join
# --------------------------------------------------------------------------

from contextlib import contextmanager


_UNSET = object()  # sentinel: conf had no explicit session-level entry


@contextmanager
def pinned_confs(spark: SparkSession, confs: dict):
    """Set session confs for a scoped execution, restoring prior values
    (or unsetting) on exit — shared by q_join_bloom and its plan test.

    `spark.conf.get(k, None)` returns the EFFECTIVE default (not None) for
    confs the session never set, so restoring that value would permanently
    pin defaults (e.g. autoBroadcastJoinThreshold) as explicit session
    confs after the first use. The session-state `contains()` check
    distinguishes explicitly-set from defaulted confs so the latter are
    unset — not re-set to their captured default — on exit."""
    jconf = spark._jsparkSession.sessionState().conf()
    saved = {
        k: (spark.conf.get(k) if jconf.contains(k) else _UNSET) for k in confs
    }
    for k, v in confs.items():
        spark.conf.set(k, v)
    try:
        yield
    finally:
        for k, v in saved.items():
            if v is _UNSET:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


_BLOOM_CONFS = {
    "spark.sql.optimizer.runtime.bloomFilter.enabled": "true",
    # creation side (the selectively-filtered orders) must be under this cap
    "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold": "512MB",
    # at test SFs the fact side is tiny; zero the scan-size gate so the demo
    # exercises the same plan a 100 TB fact scan would get
    "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "0",
    # the filtered dim would broadcast at test SFs, which suppresses the
    # runtime filter (a broadcast join needs no bloom); pin the shuffle shape
    "spark.sql.autoBroadcastJoinThreshold": "-1",
}


def bloom_join_builder(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The lazy plan under test: selectively-filtered orders joined to the
    full lineitem fact. With the runtime-filter confs set, Catalyst builds a
    bloom filter over the dim's join keys and injects a might_contain()
    predicate into the FACT SCAN — rows that cannot join are dropped at the
    scan, before the shuffle (plan-asserted in tests/test_plans.py)."""
    o = table(spark, sf_dir, "orders").where(
        F.col("o_orderpriority") == "1-URGENT"
    )
    l = table(spark, sf_dir, "lineitem")
    return (
        l.join(o, l.l_orderkey == o.o_orderkey)
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_lineitems"),
            F.sum(rlong(F.col("l_extendedprice") * 100)).cast("long").alias("cents"),
        )
    )


@query(
    "q_join_bloom",
    oracle=f"""
SELECT o_orderpriority,
       COUNT(*) AS n_lineitems,
       CAST(SUM(CAST(ROUND(l_extendedprice * 100, 0) AS BIGINT)) AS BIGINT) AS cents
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
WHERE o_orderpriority = '1-URGENT'
GROUP BY 1
""",
)
def q_join_bloom(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M81: runtime bloom-filter semi-join reduction — the 100 TB mechanism
    for "filter the fact scan by the keys that survive the dim's
    predicate" when the dim is too big to broadcast and the key set too big
    for an IN-list (DPP's row-level sibling; q_join_dpp covers the
    partition-level case).

    The runtime-filter confs are session-scoped, so this query pins them
    for ITS OWN execution and restores the previous values immediately —
    injecting blooms into every other registered query's plan would change
    plans the plan-tests pin (the one-row aggregated result crosses back
    via createDataFrame; all values are exact integers, so the round-trip
    is lossless). The declared scale path is the conf'd plan itself:
    bloom_filter_agg on the dim, might_contain pushed into the fact scan."""
    with pinned_confs(spark, _BLOOM_CONFS):
        pdf = bloom_join_builder(spark, sf_dir).toPandas()
    return spark.createDataFrame(
        pdf,
        schema="o_orderpriority string, n_lineitems bigint, cents bigint",
    )


# --------------------------------------------------------------------------
# M85: regional-revenue star join (TPC-H Q5 shape)
# --------------------------------------------------------------------------


@query(
    "q_join_regional_revenue",
    oracle=f"""
SELECT n_name,
       {osum("l_extendedprice * (1 - l_discount)")} AS revenue,
       COUNT(*) AS n_items
FROM lineitem
JOIN orders   ON l_orderkey = o_orderkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN customer ON o_custkey = c_custkey
JOIN nation   ON s_nationkey = n_nationkey
JOIN region   ON n_regionkey = r_regionkey
WHERE c_nationkey = s_nationkey
  AND year(o_orderdate) = 1995
GROUP BY 1
""",
)
def q_join_regional_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M85: the TPC-H Q5 shape — revenue per supplier nation for orders
    whose customer is in the SAME nation (local commerce), one year of
    orders, through a 6-table join. The classic join-ordering stress test:
    two facts (lineitem, orders) and four dims, plus a non-equi residual
    (c_nationkey = s_nationkey) that links the two dim arms.

    Plan intent: orders is filtered by year BEFORE its join (pushed scan
    predicate); supplier/nation/region broadcast (true dims — fixed 25/5
    rows or sf×10k); customer is deliberately NOT hint-broadcast: it is a
    scaling table (sf×150k rows — multi-GB at 100 TB, and an explicit
    F.broadcast cannot be demoted by AQE), so it joins on o_custkey and
    AQE picks broadcast-vs-shuffle from its runtime size (at test SFs AQE
    still chooses broadcast on its own; at 100× it degrades safely to a
    keyed exchange). The fact-side shuffle key is l_orderkey = o_orderkey —
    the same shape as q_join_multiway, with the nation equality applied as
    a post-broadcast filter, never a shuffle of its own. At 100 TB both
    facts arrive partitioned by orderkey (bucketing twin: q_join_bucketed)
    and the exchange disappears."""
    li = table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey", "l_extendedprice", "l_discount"
    )
    o = table(spark, sf_dir, "orders").where(F.year("o_orderdate") == 1995)
    s = F.broadcast(table(spark, sf_dir, "supplier"))
    c = table(spark, sf_dir, "customer")
    n = F.broadcast(table(spark, sf_dir, "nation"))
    r = F.broadcast(table(spark, sf_dir, "region"))
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(c, F.col("o_custkey") == F.col("c_custkey"))
        .join(s, F.col("l_suppkey") == F.col("s_suppkey"))
        .where(F.col("c_nationkey") == F.col("s_nationkey"))
        .join(n, F.col("s_nationkey") == F.col("n_nationkey"))
        .join(r, F.col("n_regionkey") == F.col("r_regionkey"))
        .groupBy("n_name")
        .agg(
            (F.sum(rlong(rev * F.lit(1e6))) / F.lit(1e6)).alias("revenue"),
            F.count(F.lit(1)).alias("n_items"),
        )
    )


@query(
    "q_join_asof_nearest",
    oracle="""
WITH ev AS (
  SELECT event_id, user_id, date_trunc('second', ts) AS sec,
         CASE WHEN event_type = 'click' THEN 0 ELSE 1 END AS tag
  FROM events WHERE event_type IN ('click', 'purchase')
), m AS (
  SELECT event_id, user_id, tag, sec,
         LAST_VALUE(CASE WHEN tag = 0 THEN event_id END IGNORE NULLS)
           OVER wb AS prev_id,
         LAST_VALUE(CASE WHEN tag = 0 THEN sec END IGNORE NULLS)
           OVER wb AS prev_sec,
         FIRST_VALUE(CASE WHEN tag = 0 THEN event_id END IGNORE NULLS)
           OVER wf AS next_id,
         FIRST_VALUE(CASE WHEN tag = 0 THEN sec END IGNORE NULLS)
           OVER wf AS next_sec
  FROM ev
  WINDOW wb AS (PARTITION BY user_id ORDER BY sec, tag, event_id
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
         wf AS (PARTITION BY user_id ORDER BY sec, tag, event_id
                ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
)
SELECT event_id AS purchase_event_id, user_id,
       CASE WHEN next_id IS NULL
                 OR (prev_id IS NOT NULL
                     AND epoch(sec) - epoch(prev_sec)
                         <= epoch(next_sec) - epoch(sec))
            THEN prev_id ELSE next_id END AS nearest_click_id,
       CAST(CASE WHEN next_id IS NULL
                      OR (prev_id IS NOT NULL
                          AND epoch(sec) - epoch(prev_sec)
                              <= epoch(next_sec) - epoch(sec))
                 THEN epoch(sec) - epoch(prev_sec)
                 ELSE epoch(next_sec) - epoch(sec) END AS BIGINT) AS dist_s
FROM m WHERE tag = 1
""",
)
def q_join_asof_nearest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C8b: NEAREST-direction as-of join — for each purchase, the closest
    click in time (before OR after, per user; ties prefer the earlier
    click, pandas merge_asof direction='nearest' semantics). Completes the
    as-of family next to C8's backward join.

    Same scale argument as C8: one backward carry (last_value ignore
    nulls) and one forward carry (first_value over the mirrored frame) in
    a single user-partitioned sort — linear in events, where the naive
    form is a per-purchase range scan. A same-second click sorts before
    the purchase (tag ordering), so it lands in the backward carry with
    distance 0 — never double-counted by the forward frame, which starts
    AT the purchase row.

    Distances are exact integer seconds (epoch arithmetic on the
    UTC-pinned second-truncated timestamps)."""
    ev = table(spark, sf_dir, "events").where(
        F.col("event_type").isin("click", "purchase")
    )
    tagged = ev.select(
        "event_id",
        "user_id",
        F.date_trunc("second", "ts").alias("sec"),
        F.when(F.col("event_type") == "click", F.lit(0))
        .otherwise(F.lit(1))
        .alias("tag"),
    )
    order = [F.col("sec"), F.col("tag"), F.col("event_id")]
    wb = (
        Window.partitionBy("user_id")
        .orderBy(*order)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    wf = (
        Window.partitionBy("user_id")
        .orderBy(*order)
        .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    )
    click = F.when(F.col("tag") == 0, F.col("event_id"))
    click_sec = F.when(F.col("tag") == 0, F.col("sec"))
    m = tagged.select(
        "event_id",
        "user_id",
        "tag",
        "sec",
        F.last(click, ignorenulls=True).over(wb).alias("prev_id"),
        F.last(click_sec, ignorenulls=True).over(wb).alias("prev_sec"),
        F.first(click, ignorenulls=True).over(wf).alias("next_id"),
        F.first(click_sec, ignorenulls=True).over(wf).alias("next_sec"),
    )
    d_prev = F.unix_timestamp("sec") - F.unix_timestamp("prev_sec")
    d_next = F.unix_timestamp("next_sec") - F.unix_timestamp("sec")
    take_prev = F.col("next_id").isNull() | (
        F.col("prev_id").isNotNull() & (d_prev <= d_next)
    )
    return m.where(F.col("tag") == 1).select(
        F.col("event_id").alias("purchase_event_id"),
        "user_id",
        F.when(take_prev, F.col("prev_id"))
        .otherwise(F.col("next_id"))
        .alias("nearest_click_id"),
        F.when(take_prev, d_prev).otherwise(d_next).cast("long").alias("dist_s"),
    )


# --------------------------------------------------------------------------
# M219: tolerance-bounded as-of join (feature-store staleness limit)
# --------------------------------------------------------------------------

ASOF_TOLERANCE_S = 3600  # max staleness: 1 hour


@query(
    "q_join_asof_tolerance",
    oracle=f"""
WITH ev AS (
  SELECT event_id, user_id, date_trunc('second', ts) AS sec,
         CASE WHEN event_type = 'click' THEN 0 ELSE 1 END AS tag
  FROM events WHERE event_type IN ('click', 'purchase')
), m AS (
  SELECT event_id, user_id, tag, sec,
         LAST_VALUE(CASE WHEN tag = 0 THEN event_id END IGNORE NULLS)
           OVER (PARTITION BY user_id ORDER BY sec, tag, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS c_id,
         LAST_VALUE(CASE WHEN tag = 0 THEN sec END IGNORE NULLS)
           OVER (PARTITION BY user_id ORDER BY sec, tag, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS c_sec
  FROM ev
)
SELECT event_id AS purchase_event_id, user_id,
       CASE WHEN date_diff('second', c_sec, sec) <= {ASOF_TOLERANCE_S}
            THEN c_id END AS click_event_id,
       CASE WHEN date_diff('second', c_sec, sec) <= {ASOF_TOLERANCE_S}
            THEN CAST(date_diff('second', c_sec, sec) AS BIGINT) END AS staleness_s
FROM m WHERE tag = 1
""",
)
def q_join_asof_tolerance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M219: as-of join with a staleness TOLERANCE — the latest click
    at-or-before each purchase, nulled when older than
    {ASOF_TOLERANCE_S} s. The feature-store join contract (pandas
    merge_asof's `tolerance=`): joining a too-stale feature is worse
    than joining none, so the bound is part of the join semantics, not
    a post-filter the consumer must remember.

    Same linear carry as q_join_asof (one user-partitioned window, never
    a theta join) with the matched TIMESTAMP carried beside the id; the
    tolerance check is then ROW-LOCAL — bounding staleness costs zero
    extra exchanges at any scale. Purchases with no click in range keep
    a row with NULL feature columns (the train-time representation of
    'feature unavailable')."""
    ev = table(spark, sf_dir, "events").where(
        F.col("event_type").isin("click", "purchase")
    )
    tagged = ev.select(
        "event_id",
        "user_id",
        F.date_trunc("second", "ts").alias("sec"),
        F.when(F.col("event_type") == "click", F.lit(0)).otherwise(F.lit(1)).alias("tag"),
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("sec", "tag", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    carried = tagged.select(
        "event_id",
        "user_id",
        "sec",
        "tag",
        F.last(F.when(F.col("tag") == 0, F.col("event_id")), ignorenulls=True)
        .over(w)
        .alias("c_id"),
        F.last(F.when(F.col("tag") == 0, F.col("sec")), ignorenulls=True)
        .over(w)
        .alias("c_sec"),
    )
    stale = F.unix_timestamp("sec") - F.unix_timestamp("c_sec")
    ok = stale <= ASOF_TOLERANCE_S
    return carried.where(F.col("tag") == 1).select(
        F.col("event_id").alias("purchase_event_id"),
        "user_id",
        F.when(ok, F.col("c_id")).alias("click_event_id"),
        F.when(ok, stale.cast("long")).alias("staleness_s"),
    )
