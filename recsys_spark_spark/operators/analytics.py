"""3.M analytics extensions — the product-analytics layer a
recommender deployment runs beside the CF pipeline: cohort retention, event
funnels, value histograms, item-transition mining, and graph ranking over
the item co-occurrence graph.

Every query is exact-oracled (DuckDB), including PageRank: a fixed-iteration
power method with per-iteration scaled-integer rounding is a deterministic
function of the data, so the oracle unrolls the same five iterations as
chained CTEs — no seed, no convergence tolerance, no float drift.

No reference file:line citations are possible (the /root/reference checkout
is empty — SURVEY.md §0); capability keys follow SURVEY.md §3.M.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from recsys_spark_spark.catalog import checkpoint, memo, state_partitions, table
from recsys_spark_spark.functions.determinism import rlong
from recsys_spark_spark.registry import query

# --------------------------------------------------------------------------
# M61: cohort retention
# --------------------------------------------------------------------------

RETENTION_MAX_OFFSET = 6


@query(
    "q_cohort_retention",
    oracle=f"""
WITH fo AS (
  SELECT o_custkey AS user_id, date_trunc('month', MIN(o_orderdate)) AS cohort
  FROM orders GROUP BY 1
), act AS (
  SELECT DISTINCT o_custkey AS user_id, date_trunc('month', o_orderdate) AS m
  FROM orders
), j AS (
  SELECT f.cohort,
         (year(a.m) * 12 + month(a.m)) - (year(f.cohort) * 12 + month(f.cohort)) AS offs,
         a.user_id
  FROM act a JOIN fo f ON a.user_id = f.user_id
)
SELECT cohort AS cohort_month,
       CAST(offs AS BIGINT) AS month_offset,
       COUNT(DISTINCT user_id) AS n_active
FROM j WHERE offs <= {RETENTION_MAX_OFFSET}
GROUP BY 1, 2
""",
)
def q_cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M61: classic cohort-retention triangle — users grouped by first-order
    month, counted as active at each month offset (0..6). The standing
    product-analytics query next to any recommender.

    Scale shape: both building blocks (first-order month, distinct active
    months) are aggregates keyed by user; the join is user-keyed on the same
    partitioning, and the output is cohort×offset-sized (tiny). Month
    arithmetic is integer (year*12+month), identical in both engines — no
    interval/daylight semantics in play."""
    o = table(spark, sf_dir, "orders")
    mcol = F.date_trunc("month", F.col("o_orderdate"))
    fo = o.groupBy(F.col("o_custkey").alias("user_id")).agg(
        F.date_trunc("month", F.min("o_orderdate")).alias("cohort")
    )
    act = o.select(
        F.col("o_custkey").alias("user_id"), mcol.alias("m")
    ).distinct()
    mnum = lambda c: F.year(c) * 12 + F.month(c)  # noqa: E731
    j = act.join(fo, "user_id").select(
        "cohort", (mnum(F.col("m")) - mnum(F.col("cohort"))).alias("offs"), "user_id"
    )
    return (
        j.where(F.col("offs") <= RETENTION_MAX_OFFSET)
        .groupBy(
            F.col("cohort").alias("cohort_month"),
            F.col("offs").cast("long").alias("month_offset"),
        )
        .agg(F.countDistinct("user_id").alias("n_active"))
    )


# --------------------------------------------------------------------------
# M62: event funnel
# --------------------------------------------------------------------------


@query(
    "q_funnel_conversion",
    oracle="""
WITH v AS (
  SELECT user_id, MIN(ts) AS t_view FROM events WHERE event_type = 'view' GROUP BY 1
), c AS (
  SELECT e.user_id, MIN(e.ts) AS t_click
  FROM events e JOIN v ON e.user_id = v.user_id AND e.ts > v.t_view
  WHERE e.event_type = 'click' GROUP BY 1
), p AS (
  SELECT e.user_id, MIN(e.ts) AS t_purchase
  FROM events e JOIN c ON e.user_id = c.user_id AND e.ts > c.t_click
  WHERE e.event_type = 'purchase' GROUP BY 1
)
SELECT (SELECT COUNT(*) FROM v) AS n_view,
       (SELECT COUNT(*) FROM c) AS n_click_after_view,
       (SELECT COUNT(*) FROM p) AS n_purchase_after_click
""",
)
def q_funnel_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M62: strictly-ordered conversion funnel view → click → purchase —
    each stage counts users whose first qualifying event happens AFTER
    their previous stage's first event (not merely users who did both).

    Scale shape: three user-keyed min-aggregates chained by user-keyed
    joins — every stage rides one HashPartitioning(user_id); the result is
    one row. The stage predicate (e.ts > prior stage ts) is evaluated in
    the join, so no event ever needs a per-user sort."""
    ev = table(spark, sf_dir, "events")

    def first_after(event_type: str, prior: DataFrame, prior_col: str, out: str) -> DataFrame:
        e = ev.where(F.col("event_type") == event_type)
        return (
            e.join(prior, "user_id")
            .where(F.col("ts") > F.col(prior_col))
            .groupBy("user_id")
            .agg(F.min("ts").alias(out))
        )

    v = (
        ev.where(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_view"))
    )
    c = first_after("click", v, "t_view", "t_click")
    p = first_after("purchase", c, "t_click", "t_purchase")
    return (
        v.agg(F.count(F.lit(1)).alias("n_view"))
        .crossJoin(c.agg(F.count(F.lit(1)).alias("n_click_after_view")))
        .crossJoin(p.agg(F.count(F.lit(1)).alias("n_purchase_after_click")))
    )


# --------------------------------------------------------------------------
# M63: value histogram
# --------------------------------------------------------------------------

HIST_BIN_WIDTH = 25_000.0


@query(
    "q_histogram",
    oracle=f"""
SELECT CAST(FLOOR(o_totalprice / {HIST_BIN_WIDTH!r}) AS BIGINT) AS bin,
       COUNT(*) AS n,
       CAST(SUM(CAST(ROUND(o_totalprice * 100, 0) AS BIGINT)) AS BIGINT) AS sum_cents
FROM orders GROUP BY 1
""",
)
def q_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M63: fixed-width histogram of order value — the binning primitive
    behind every distribution dashboard (width_bucket semantics, floor-of-
    division form so both engines bin with the same double op).

    Scale shape: single map-side-combinable aggregate on a computed key;
    output is bin-count-sized. The scaled-integer sum keeps per-bin totals
    partition-order-independent."""
    o = table(spark, sf_dir, "orders")
    return (
        o.groupBy(
            F.floor(F.col("o_totalprice") / F.lit(HIST_BIN_WIDTH)).cast("long").alias("bin")
        )
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(rlong(F.col("o_totalprice") * 100)).alias("sum_cents"),
        )
    )


# --------------------------------------------------------------------------
# M64: item transition mining
# --------------------------------------------------------------------------

TRANSITIONS_TOP = 20


@query(
    "q_item_transitions",
    oracle=f"""
WITH uo AS (
  SELECT o_custkey AS u, o_orderkey AS k,
         ROW_NUMBER() OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey) AS rn
  FROM orders
), pairs AS (
  SELECT a.u, a.k AS k1, b.k AS k2 FROM uo a JOIN uo b ON a.u = b.u AND b.rn = a.rn + 1
), t AS (
  SELECT l1.l_partkey AS item_from, l2.l_partkey AS item_to, COUNT(*) AS n
  FROM pairs
  JOIN lineitem l1 ON l1.l_orderkey = pairs.k1
  JOIN lineitem l2 ON l2.l_orderkey = pairs.k2
  GROUP BY 1, 2
)
SELECT item_from, item_to, n, rnk FROM (
  SELECT item_from, item_to, n,
         CAST(ROW_NUMBER() OVER (ORDER BY n DESC, item_from, item_to) AS BIGINT) AS rnk
  FROM t
) WHERE rnk <= {TRANSITIONS_TOP}
""",
)
def q_item_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M64: first-order item transitions — for each user's consecutive order
    pair (n-th → n+1-th by order date), count item(from)→item(to) moves and
    rank the top transitions — the "customers who bought X next bought Y"
    table.

    Scale shape: the order sequence is a per-user window (rides the user
    partitioning), consecutive pairs a self-join on (user, rn) — both sides
    already partitioned; the item fan-out joins are orderkey-keyed; the
    final top-k is TakeOrderedAndProject. The per-user rn+1 self-join is
    O(orders), never O(orders^2). This is the Markov-chain statistic a
    sequential recommender trains on."""
    o = table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    uo = o.select(
        F.col("o_custkey").alias("u"),
        F.col("o_orderkey").alias("k"),
        F.row_number().over(w).alias("rn"),
    )
    nxt = uo.select(F.col("u"), F.col("k").alias("k2"), (F.col("rn") - 1).alias("rn"))
    pairs = uo.join(nxt, ["u", "rn"]).select(F.col("k").alias("k1"), "k2")
    l = table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    t = (
        pairs.join(l.select(F.col("l_orderkey").alias("k1"), F.col("l_partkey").alias("item_from")), "k1")
        .join(l.select(F.col("l_orderkey").alias("k2"), F.col("l_partkey").alias("item_to")), "k2")
        .groupBy("item_from", "item_to")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    wr = Window.orderBy(F.col("n").desc(), "item_from", "item_to")
    return (
        t.withColumn("rnk", F.row_number().over(wr).cast("long"))
        .where(F.col("rnk") <= TRANSITIONS_TOP)
    )


# --------------------------------------------------------------------------
# M65: PageRank over the item co-occurrence graph
# --------------------------------------------------------------------------

PR_ITERATIONS = 5
PR_DAMPING = 0.85
PR_TOP = 20

# MATERIALIZED is load-bearing at sf>=0.1: DuckDB inlines plain CTEs, so the
# ~20M-row edge self-join would be recomputed inside every unrolled
# iteration (6x the work and enough temp spill to fill the disk — observed
# as an IOException during an sf0.1 sweep). Materializing pins each
# building block to one evaluation; results are identical.
_PR_EDGES_SQL = """
ui AS MATERIALIZED (
  SELECT DISTINCT o_custkey AS u, l_partkey AS i
  FROM orders JOIN lineitem ON o_orderkey = l_orderkey
), edges AS MATERIALIZED (
  SELECT a.i AS src, b.i AS dst FROM ui a JOIN ui b ON a.u = b.u AND a.i <> b.i
  GROUP BY 1, 2
), deg AS MATERIALIZED (
  SELECT src, COUNT(*) AS outdeg FROM edges GROUP BY 1
), n AS (
  SELECT COUNT(*) AS n_nodes FROM deg
)"""


def _pr_oracle() -> str:
    """Unrolled power iteration: pr0 → pr1 → ... with per-iteration
    scaled-integer rounding, so every iteration's state is a BIGINT both
    engines agree on exactly."""
    steps = [
        f"pr0 AS MATERIALIZED (SELECT src AS node, CAST(ROUND(1e9 / n_nodes, 0) AS BIGINT) AS pr_s FROM deg, n)"
    ]
    for it in range(1, PR_ITERATIONS + 1):
        steps.append(
            f"""pr{it} AS MATERIALIZED (
  SELECT d.src AS node,
         CAST(ROUND((1 - {PR_DAMPING!r}) * 1e9 / n.n_nodes, 0) AS BIGINT)
         + COALESCE(s.in_s, 0) AS pr_s
  FROM deg d CROSS JOIN n
  LEFT JOIN (
    SELECT e.dst AS node,
           SUM(CAST(ROUND({PR_DAMPING!r} * p.pr_s / d2.outdeg, 0) AS BIGINT)) AS in_s
    FROM edges e
    JOIN pr{it - 1} p ON p.node = e.src
    JOIN deg d2 ON d2.src = e.src
    GROUP BY 1
  ) s ON s.node = d.src
)"""
        )
    return f"""
WITH {_PR_EDGES_SQL.strip()},
{", ".join(steps)}
SELECT node AS item_id, ROUND(pr_s / 1e9, 6) AS pagerank, rnk FROM (
  SELECT node, pr_s,
         CAST(ROW_NUMBER() OVER (ORDER BY pr_s DESC, node) AS BIGINT) AS rnk
  FROM pr{PR_ITERATIONS}
) WHERE rnk <= {PR_TOP}
"""


@query("q_graph_pagerank", oracle=_pr_oracle())
def q_graph_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M65: PageRank (Brin/Page 1998) over the item co-occurrence graph —
    "centrally important" items under random-walk semantics, the graph
    cousin of popularity. A fixed number of power iterations with
    per-iteration scaled-int rounding makes the result a deterministic
    function of the data, hence exact-oracled (the oracle unrolls the same
    iterations as chained CTEs).

    Scale shape (the Pregel-in-DataFrame pattern): edges are built once
    from one user-keyed self-join (distinct pairs, never a global cross
    join) and the rank vector is node-sized; each iteration is one
    src-keyed join (contributions) + one dst-keyed aggregate — 2 exchanges
    per iteration with a FIXED count of iterations, no driver-side state,
    no lineage blow-up at 5 steps. At 100 TB edges partition by src and
    every iteration reuses that partitioning; the damping base term is a
    broadcast scalar."""
    import math

    edges = _eig_edges(spark, sf_dir).select("src", "dst")
    # deg is node-sized but derives from an aggregate, so without
    # materialization every downstream reference re-aggregated the cached
    # 25.4M-row edge table; checkpointed once, every iteration reads the
    # 640k materialized rows instead.
    deg = checkpoint(edges.groupBy("src").agg(F.count(F.lit(1)).alias("outdeg")))
    n_nodes = deg.count()  # scalar: node count (items with >=1 edge)
    # half-away-from-zero like DuckDB ROUND / determinism.rlong — Python's
    # built-in round() is banker's and would diverge on .5 boundaries
    half_away = lambda v: int(math.floor(v + 0.5))  # noqa: E731 (positive v)
    base_s = F.lit(half_away((1 - PR_DAMPING) * 1e9 / n_nodes)).cast("long")
    pr = deg.select(
        F.col("src").alias("node"),
        F.lit(half_away(1e9 / n_nodes)).cast("long").alias("pr_s"),
    )
    # Broadcast the node-sized side of every per-iteration join (measured
    # before-plan: the compile-time shuffle join wrote the full 232.7 MB /
    # 25.4M-row edge exchange once per iteration — 5 duplicate exchanges,
    # 701 s CPU at sf0.1 — because AQE's runtime broadcast conversion only
    # fires after the edge-side map stage has already run). With explicit
    # broadcasts the persisted edge table is scanned in place and never
    # shuffled; only node-sized state (deg, pr, contrib — the
    # replicated-vertex-state pattern, catalog-scaled) moves. The
    # per-iteration checkpoint of node-sized pr truncates lineage so
    # each broadcast build is a node-sized local job instead of a re-run
    # of every earlier iteration (the eigencentrality 2^i lesson).
    # Per-SRC contribution value, computed on the NODE-sized side before the
    # broadcast (per-task work): every edge with the same
    # src carries the identical rlong(d·pr_s/outdeg), so evaluating the
    # division+rounding per edge row (25.4M times at sf0.1) and probing TWO
    # broadcast maps per row (deg, then pr) was pure per-edge overhead. The
    # value is now computed once per node (640k rows) in the broadcast-build
    # job, and the matvec stage is a single probe + long sum. The per-dst sum
    # adds the same multiset of longs in either form — exact associative
    # integer addition, result unchanged.
    degb = deg.select(F.col("src").alias("node"), "outdeg")
    for _ in range(PR_ITERATIONS):
        cs = pr.join(F.broadcast(degb), "node").select(
            F.col("node").alias("src"),
            rlong(F.lit(PR_DAMPING) * F.col("pr_s") / F.col("outdeg")).alias("c_s"),
        )
        contrib = (
            edges.join(F.broadcast(cs), "src")
            .groupBy(F.col("dst").alias("node"))
            .agg(F.sum("c_s").alias("in_s"))
        )
        pr = checkpoint(
            deg.select(F.col("src").alias("node"))
            .join(F.broadcast(contrib), "node", "left")
            .select(
                "node",
                (base_s + F.coalesce("in_s", F.lit(0))).alias("pr_s"),
            )
        )
    wr = Window.orderBy(F.col("pr_s").desc(), "node")
    return (
        pr.withColumn("rnk", F.row_number().over(wr).cast("long"))
        .where(F.col("rnk") <= PR_TOP)
        .select(
            F.col("node").alias("item_id"),
            F.round(F.col("pr_s") / F.lit(1e9), 6).alias("pagerank"),
            "rnk",
        )
    )


# --------------------------------------------------------------------------
# M70: daily + rolling-window distinct actives (DAU / WAU)
# --------------------------------------------------------------------------

ROLLING_DAYS = 7


@query(
    "q_active_users",
    oracle=f"""
WITH ud AS (
  SELECT DISTINCT user_id, date_trunc('day', ts) AS d FROM events
), contrib AS (
  SELECT ud.user_id, ud.d + to_days(CAST(gs.i AS INTEGER)) AS target
  FROM ud, generate_series(0, {ROLLING_DAYS - 1}) gs(i)
), dau AS (
  SELECT d, COUNT(DISTINCT user_id) AS dau FROM ud GROUP BY 1
), wau AS (
  SELECT target AS d, COUNT(DISTINCT user_id) AS wau FROM contrib GROUP BY 1
)
SELECT dau.d AS day, dau.dau, wau.wau
FROM dau JOIN wau ON dau.d = wau.d
""",
)
def q_active_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M70: DAU and rolling 7-day distinct actives per day — the
    standing engagement dashboard query. Rolling COUNT(DISTINCT) has no
    window-frame form in either engine, and the textbook self-range-join is
    O(days x users). The scalable shape used here: each distinct (user, day)
    row CONTRIBUTES to the 7 target days it can keep active, so the rolling
    distinct is a plain explode (x7, constant factor) + one keyed
    countDistinct — shuffle keyed by day, no range join, no re-scan. The
    oracle states the same contribution construction with generate_series.

    At 100 TB the (user, day) distinct table is the standing daily-activity
    silver table; the x7 explode is a map-side constant and the per-day
    distinct count is the only shuffle."""
    ev = table(spark, sf_dir, "events")
    ud = ev.select(
        "user_id", F.date_trunc("day", "ts").alias("d")
    ).distinct()
    contrib = ud.select(
        "user_id",
        F.explode(
            F.sequence(
                F.lit(0), F.lit(ROLLING_DAYS - 1)
            )
        ).alias("i"),
        "d",
    ).select("user_id", (F.col("d") + F.make_interval(days=F.col("i"))).alias("target"))
    dau = ud.groupBy(F.col("d")).agg(F.countDistinct("user_id").alias("dau"))
    # no pruning join needed: the final inner join with dau keeps exactly
    # the active days, dropping the d+1..d+6 targets past the data's range
    wau = contrib.groupBy("target").agg(F.countDistinct("user_id").alias("wau"))
    return dau.join(wau, dau.d == wau.target).select(
        dau.d.alias("day"), "dau", "wau"
    )


# --------------------------------------------------------------------------
# M80: join-key skew audit
# --------------------------------------------------------------------------


@query(
    "q_skew_audit",
    oracle="""
WITH per_key AS (
  SELECT l_partkey, COUNT(*) AS cnt FROM lineitem GROUP BY 1
), tot AS (
  SELECT CAST(SUM(cnt) AS BIGINT) AS total FROM per_key
)
SELECT CAST(length(bin(cnt)) AS BIGINT) AS log2_bucket,
       COUNT(*) AS n_keys,
       CAST(MAX(cnt) AS BIGINT) AS max_rows_per_key,
       CAST(SUM(cnt) AS BIGINT) AS rows_in_bucket,
       ROUND(SUM(cnt) / CAST(tot.total AS DOUBLE), 6) AS row_share
FROM per_key, tot
GROUP BY 1, tot.total
""",
)
def q_skew_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M80: join-key skew audit — the distribution of rows-per-key for the
    CF fan-out key (l_partkey), bucketed by power of two (bucket =
    bit-length of the per-key count). The operational report that decides
    WHEN the salted-join / AQE-skew machinery (q_join_salted) is needed: a
    heavy tail here (one bucket holding a large row_share with few keys)
    means an unsalted shuffle join will straggle.

    Scale shape: one keyed count with map-side combine (output is
    key-cardinality-sized), then a bucket rollup of that — the audit never
    touches raw rows twice; the grand total rides a 1-row broadcast."""
    li = table(spark, sf_dir, "lineitem")
    per_key = li.groupBy("l_partkey").agg(F.count(F.lit(1)).alias("cnt"))
    tot = F.broadcast(per_key.agg(F.sum("cnt").cast("long").alias("total")))
    return (
        per_key.crossJoin(tot)
        .groupBy(
            F.length(F.bin("cnt")).cast("long").alias("log2_bucket"),
            F.col("total"),
        )
        .agg(
            F.count(F.lit(1)).alias("n_keys"),
            F.max("cnt").cast("long").alias("max_rows_per_key"),
            F.sum("cnt").cast("long").alias("rows_in_bucket"),
            F.round(F.sum("cnt") / F.col("total").cast("double"), 6).alias("row_share"),
        )
        .drop("total")
    )


# --------------------------------------------------------------------------
# M83: last-touch attribution
# --------------------------------------------------------------------------


@query(
    "q_attribution_last_touch",
    oracle="""
WITH ev AS (
  SELECT event_id, user_id, event_type, date_trunc('second', ts) AS sec
  FROM events
), purchases AS (
  SELECT * FROM ev WHERE event_type = 'purchase'
)
SELECT p.event_id AS purchase_id, p.user_id, p.sec AS purchase_sec,
       t.event_id AS touch_id, t.event_type AS touch_type,
       CAST(date_diff('second', t.sec, p.sec) AS BIGINT) AS lag_s
FROM purchases p
LEFT JOIN LATERAL (
  SELECT e.event_id, e.event_type, e.sec
  FROM ev e
  WHERE e.user_id = p.user_id
    AND e.event_type IN ('view', 'click')
    AND (e.sec < p.sec OR (e.sec = p.sec AND e.event_id < p.event_id))
  ORDER BY e.sec DESC, e.event_id DESC LIMIT 1
) t ON TRUE
""",
)
def q_attribution_last_touch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M83: last-touch attribution — every purchase attributed to the
    user's most recent preceding marketing touch (view/click), with the
    touch-to-purchase lag. The revenue-attribution join of any funnel
    analysis.

    Scale shape: the oracle states the semantics as a per-purchase LATERAL
    top-1 (quadratic per user); the engine computes it as ONE pass — a
    running max over a struct (sec, event_id, type) of marketing touches,
    carried along each user's event stream by a window frame ending at the
    PREVIOUS row. Struct max is field-lexicographic, so the (sec,
    event_id) prefix makes the carried touch exactly the LATERAL's
    (ORDER BY sec DESC, event_id DESC LIMIT 1) — including same-second
    tie-breaks. One user-keyed sort at any scale, no self-join."""
    ev = table(spark, sf_dir, "events").select(
        "event_id", "user_id", "event_type", F.date_trunc("second", "ts").alias("sec")
    )
    touch = F.when(
        F.col("event_type").isin("view", "click"),
        F.struct(
            F.col("sec").alias("t_sec"),
            F.col("event_id").alias("t_id"),
            F.col("event_type").alias("t_type"),
        ),
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("sec", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    carried = ev.withColumn("last_touch", F.max(touch).over(w))
    return carried.where(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"),
        "user_id",
        F.col("sec").alias("purchase_sec"),
        F.col("last_touch.t_id").alias("touch_id"),
        F.col("last_touch.t_type").alias("touch_type"),
        (
            F.unix_timestamp("sec") - F.unix_timestamp("last_touch.t_sec")
        ).alias("lag_s"),
    )


# --------------------------------------------------------------------------
# M100: decile lift / gains analysis
# --------------------------------------------------------------------------


@query(
    "q_decile_lift",
    oracle="""
WITH scored AS (
  SELECT o_custkey AS custkey,
         CAST(SUM(CAST(ROUND(o_totalprice * 100, 0) AS BIGINT)) AS BIGINT) AS spend_cents,
         MAX(CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END) AS responded
  FROM orders GROUP BY 1
), ranked AS (
  SELECT spend_cents, responded,
         ROW_NUMBER() OVER (ORDER BY spend_cents DESC, custkey) AS pos,
         COUNT(*) OVER () AS n_total
  FROM scored
), deciles AS (
  SELECT CAST(((pos - 1) * 10) // n_total + 1 AS BIGINT) AS decile,
         COUNT(*) AS n_cust,
         CAST(SUM(responded) AS BIGINT) AS n_resp,
         CAST(SUM(spend_cents) AS BIGINT) AS spend_cents
  FROM ranked GROUP BY 1
), totals AS (
  SELECT SUM(n_cust) AS t_cust, SUM(n_resp) AS t_resp FROM deciles
), cum AS (
  SELECT d.decile, d.n_cust, d.n_resp, d.spend_cents,
         (SELECT COALESCE(SUM(d2.n_resp), 0) FROM deciles d2
          WHERE d2.decile <= d.decile) AS cum_resp
  FROM deciles d
)
SELECT decile, n_cust, n_resp, spend_cents,
       ROUND(n_resp * 1.0 / n_cust, 6) AS response_rate,
       ROUND((n_resp * t_cust) * 1.0 / (n_cust * t_resp), 6) AS lift,
       ROUND(cum_resp * 1.0 / t_resp, 6) AS cum_gain
FROM cum, totals
""",
)
def q_decile_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M100: decile lift & cumulative-gains table — the standard offline
    evaluation of a propensity score (here: customer spend as the score,
    'placed an URGENT order' as the response). Customers are ranked by
    score, cut into 10 equal-population deciles, and each decile reports
    response rate, lift over the base rate, and cumulative gain — the
    judge of whether a targeting model beats random at every depth.

    Scale shape: the global rank comes from operators.sorts.global_rank
    (value-bucketed distributed rank — no unpartitioned window); deciles
    are ``((pos-1)·10) DIV n`` with n from a 1-row broadcast; the decile
    table is 10 rows, so its cumulative sum is a triangular self-join
    bounded by 100 pairs, never by data. Ratios are single divisions of
    exact integer products, rounded once — identical IEEE doubles on both
    engines."""
    from recsys_spark_spark.operators.sorts import global_rank

    o = table(spark, sf_dir, "orders")
    scored = o.groupBy(F.col("o_custkey").alias("custkey")).agg(
        F.sum(rlong(F.col("o_totalprice") * 100)).cast("long").alias("spend_cents"),
        F.max(
            F.when(F.col("o_orderpriority") == "1-URGENT", 1).otherwise(0)
        ).alias("responded"),
    )
    ranked = global_rank(
        spark, scored, value_col="spend_cents", tiebreak="custkey", pos_col="pos"
    )
    n_total = scored.agg(F.count(F.lit(1)).alias("n_total"))
    deciles = (
        ranked.join(F.broadcast(n_total))
        .groupBy(
            F.expr("CAST(((pos - 1) * 10) DIV n_total + 1 AS BIGINT)").alias("decile")
        )
        .agg(
            F.count(F.lit(1)).alias("n_cust"),
            F.sum("responded").cast("long").alias("n_resp"),
            F.sum("spend_cents").cast("long").alias("spend_cents"),
        )
    )
    totals = deciles.agg(
        F.sum("n_cust").alias("t_cust"), F.sum("n_resp").alias("t_resp")
    )
    cum = (
        deciles.alias("d")
        .join(
            F.broadcast(deciles.alias("d2")),
            F.col("d2.decile") <= F.col("d.decile"),
        )
        .groupBy(
            F.col("d.decile").alias("decile"),
            F.col("d.n_cust").alias("n_cust"),
            F.col("d.n_resp").alias("n_resp"),
            F.col("d.spend_cents").alias("spend_cents"),
        )
        .agg(F.sum("d2.n_resp").alias("cum_resp"))
    )
    return cum.join(F.broadcast(totals)).select(
        "decile",
        "n_cust",
        "n_resp",
        "spend_cents",
        F.round(F.col("n_resp") * 1.0 / F.col("n_cust"), 6).alias("response_rate"),
        F.round(
            (F.col("n_resp") * F.col("t_cust")) * 1.0
            / (F.col("n_cust") * F.col("t_resp")),
            6,
        ).alias("lift"),
        F.round(F.col("cum_resp") * 1.0 / F.col("t_resp"), 6).alias("cum_gain"),
    )


# --------------------------------------------------------------------------
# M110: robust outlier detection (median + MAD, the 3-sigma-resistant rule)
# --------------------------------------------------------------------------

# |x - median| > MAD_K_X10000/10000 * MAD flags an outlier;
# 4.4478 = 3 * 1.4826 (the normal-consistency constant), kept as an exact
# integer ratio so the flag comparison is pure integer arithmetic.
MAD_K_X10000 = 44478


@query(
    "q_outlier_mad",
    oracle=f"""
WITH base AS (
  SELECT c_mktsegment,
         CAST(ROUND(c_acctbal * 100, 0) AS BIGINT) AS cents
  FROM customer
),
med AS (
  SELECT c_mktsegment,
         CAST(ROUND(2 * quantile_cont(cents, 0.5), 0) AS BIGINT) AS med2,
         COUNT(*) AS n_customers
  FROM base GROUP BY 1
),
dev AS (
  SELECT b.c_mktsegment, b.cents, m.med2, m.n_customers,
         ABS(2 * b.cents - m.med2) AS dev2
  FROM base b JOIN med m ON b.c_mktsegment = m.c_mktsegment
),
mad AS (
  SELECT c_mktsegment,
         CAST(ROUND(2 * quantile_cont(dev2, 0.5), 0) AS BIGINT) AS mad4
  FROM dev GROUP BY 1
)
SELECT d.c_mktsegment,
       MIN(d.n_customers) AS n_customers,
       ROUND(MIN(d.med2) / 200.0, 6) AS median_bal,
       ROUND(MIN(m.mad4) / 400.0, 6) AS mad_bal,
       CAST(SUM(CASE WHEN d.dev2 * 20000 > {MAD_K_X10000} * m.mad4
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers,
       ROUND(SUM(CASE WHEN d.dev2 * 20000 > {MAD_K_X10000} * m.mad4
                      THEN 1 ELSE 0 END) / CAST(MIN(d.n_customers) AS DOUBLE), 6)
         AS outlier_ratio
FROM dev d JOIN mad m ON d.c_mktsegment = m.c_mktsegment
GROUP BY 1
""",
)
def q_outlier_mad(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M110: robust per-segment outlier detection — median + MAD (median
    absolute deviation), the rule that survives the very outliers that
    poison mean/stddev z-scores: flag |x − med| > 3·1.4826·MAD. The
    data-quality audit cousin of q_data_profile / q_skew_audit.

    Exactness without float risk: balances become integer cents; medians
    are doubled into integers (interpolated midpoints are exact halves),
    deviations doubled again, and the flag comparison
    dev2·20000 > {MAD_K_X10000}·mad4 is pure integer arithmetic — the
    consistency constant 3·1.4826 enters as an exact integer ratio.

    Scale shape: two exact per-segment medians (sort-based aggregate,
    the q_agg_percentile_exact trade — fine for bounded-cardinality
    groups; swap percentile_approx at unbounded group size) with the tiny
    5-row median/MAD tables broadcast back; the flag pass is row-local."""
    c = table(spark, sf_dir, "customer")
    base = c.select(
        "c_mktsegment", rlong(F.col("c_acctbal") * 100).cast("long").alias("cents")
    )
    med = base.groupBy("c_mktsegment").agg(
        rlong(F.lit(2) * F.percentile("cents", 0.5)).cast("long").alias("med2"),
        F.count(F.lit(1)).alias("n_customers"),
    )
    dev = base.join(F.broadcast(med), "c_mktsegment").withColumn(
        "dev2", F.abs(F.lit(2) * F.col("cents") - F.col("med2"))
    )
    mad = dev.groupBy("c_mktsegment").agg(
        rlong(F.lit(2) * F.percentile("dev2", 0.5)).cast("long").alias("mad4")
    )
    flagged = dev.join(F.broadcast(mad), "c_mktsegment")
    is_out = F.when(
        F.col("dev2") * 20000 > F.lit(MAD_K_X10000) * F.col("mad4"), 1
    ).otherwise(0)
    return flagged.groupBy("c_mktsegment").agg(
        F.min("n_customers").alias("n_customers"),
        F.round(F.min("med2") / F.lit(200.0), 6).alias("median_bal"),
        F.round(F.min("mad4") / F.lit(400.0), 6).alias("mad_bal"),
        F.sum(is_out).alias("n_outliers"),
        F.round(
            F.sum(is_out) / F.min("n_customers").cast("double"), 6
        ).alias("outlier_ratio"),
    )


# --------------------------------------------------------------------------
# M111: triangle counting on the co-purchase graph
# --------------------------------------------------------------------------

# Edge rule: co-purchase support >= max(TRI_MIN_SUPPORT, |U|/TRI_USERS_PER_SUPPORT).
# The floor MUST scale with the user population: under "more users, same
# catalog" growth every pair's support grows linearly, so a fixed absolute
# floor stops pruning anything — measured on the sf1 probe replica (10x
# users): fixed >=3 left 12.7M edges (vs 9k at sf0.1) and the wedge join
# blew up, while the scaled floor (= 30 there) reproduces the same 9k-edge
# graph density at every population size.
TRI_MIN_SUPPORT = 3
TRI_USERS_PER_SUPPORT = 5000


@query(
    "q_graph_triangles",
    oracle=f"""
WITH ui AS (
  SELECT o_custkey AS user_id, l_partkey AS item_id
  FROM orders JOIN lineitem ON o_orderkey = l_orderkey
  GROUP BY 1, 2
),
thr AS (
  SELECT GREATEST({TRI_MIN_SUPPORT},
                  CAST(CEIL(COUNT(DISTINCT user_id) / {TRI_USERS_PER_SUPPORT}.0) AS BIGINT)) AS min_c
  FROM ui
),
e AS (
  SELECT a.item_id AS x, b.item_id AS y
  FROM ui a JOIN ui b ON a.user_id = b.user_id AND a.item_id < b.item_id
  GROUP BY 1, 2 HAVING COUNT(*) >= (SELECT min_c FROM thr)
),
tri AS (
  SELECT e1.x AS a, e1.y AS b, e2.y AS c
  FROM e e1
  JOIN e e2 ON e1.y = e2.x
  JOIN e e3 ON e3.x = e1.x AND e3.y = e2.y
),
verts AS (
  SELECT a AS item_id FROM tri
  UNION ALL SELECT b FROM tri
  UNION ALL SELECT c FROM tri
)
SELECT item_id, COUNT(*) AS n_triangles FROM verts GROUP BY 1
""",
)
def q_graph_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M111: per-item triangle counts on the co-purchase graph — the
    clustering-coefficient numerator, the classic cohesion signal for
    community detection over item relations (complements q_graph_pagerank's
    centrality and q_assoc_rules' pairwise lift).

    Edges are co-purchase pairs with support >= max({TRI_MIN_SUPPORT},
    |U|/{TRI_USERS_PER_SUPPORT}) — the POPULATION-SCALED floor (module
    comment: a fixed floor stops pruning under user growth; the sf1 probe
    measured a 1400x edge blow-up without it). The same capped pair
    generation as co-occurrence (MAX_USER_HISTORY bounds the fan-out);
    the scaled floor then bounds DEGREE, which is what controls the
    triangle join; the threshold itself is a 1-row broadcast, never a
    driver-side collect. Each triangle is enumerated exactly once via the
    total order a < b < c: wedges join on the shared middle vertex
    (one item-keyed exchange), closures join on the (x, y) edge pair —
    never an all-pairs product; per-vertex counts are a count-sized
    aggregate of the exploded corners."""
    # triangle_counts references the edge list THREE times (e1/e2/e3), and each
    # lazy reference re-derived the 13.1M-row co-occurrence pair shuffle.
    # thresholded_edges() is the identical rule (this query's own contract),
    # checkpointed — the pair join now runs once and the three join sides scan
    # the checkpointed rows. (a, b) is canonical a > b, i.e. (y, x) here.
    e = thresholded_edges(spark, sf_dir).select(
        F.col("b").alias("x"), F.col("a").alias("y")
    )
    return triangle_counts(e)


def triangle_counts(e: DataFrame) -> DataFrame:
    """Per-vertex triangle counts over an oriented edge list (x < y).

    Split from the registered query so tests can drive it with hand-built
    graphs (tests/test_new_ops_worked.py)."""
    e1 = e.select(F.col("x").alias("a"), F.col("y").alias("b"))
    e2 = e.select(F.col("x").alias("b2"), F.col("y").alias("c"))
    e3 = e.select(F.col("x").alias("a3"), F.col("y").alias("c3"))
    tri = (
        e1.join(e2, e1.b == e2.b2)
        .join(e3, (F.col("a") == F.col("a3")) & (F.col("c") == F.col("c3")))
        .select("a", "b", "c")
    )
    verts = (
        tri.select(F.col("a").alias("item_id"))
        .unionAll(tri.select(F.col("b").alias("item_id")))
        .unionAll(tri.select(F.col("c").alias("item_id")))
    )
    return verts.groupBy("item_id").agg(F.count(F.lit(1)).alias("n_triangles"))


# --------------------------------------------------------------------------
# M141: RFM customer segmentation
# --------------------------------------------------------------------------

RFM_TILES = 5


@query(
    "q_rfm_segmentation",
    oracle=f"""
WITH base AS (
  SELECT o_custkey AS c_custkey,
         date_diff('day', MAX(CAST(o_orderdate AS DATE)),
                   (SELECT MAX(CAST(o_orderdate AS DATE)) FROM orders)) AS r_days,
         COUNT(*) AS f_orders,
         CAST(SUM(CAST(ROUND(o_totalprice, 0) AS BIGINT)) AS BIGINT) AS m_dollars
  FROM orders GROUP BY 1
),
n AS (SELECT COUNT(*) AS n FROM base),
ranked AS (
  SELECT base.*, n.n,
         ROW_NUMBER() OVER (ORDER BY r_days ASC, c_custkey) AS pr,
         ROW_NUMBER() OVER (ORDER BY f_orders ASC, c_custkey) AS pf,
         ROW_NUMBER() OVER (ORDER BY m_dollars ASC, c_custkey) AS pm
  FROM base CROSS JOIN n
)
SELECT c_custkey, CAST(r_days AS BIGINT) AS r_days,
       CAST(f_orders AS BIGINT) AS f_orders, m_dollars,
       CAST({RFM_TILES + 1} - ((pr - 1) * {RFM_TILES} // n + 1) AS BIGINT) AS r_score,
       CAST((pf - 1) * {RFM_TILES} // n + 1 AS BIGINT) AS f_score,
       CAST((pm - 1) * {RFM_TILES} // n + 1 AS BIGINT) AS m_score
FROM ranked
""",
)
def q_rfm_segmentation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M141: RFM segmentation (Hughes 1994) — recency / frequency /
    monetary quintile scores per ordering customer, the classic
    marketing-segmentation table ("r5-f5-m5" = best customers). Scores
    are 1..{RFM_TILES}; recency is REVERSED (recent buyers score high).
    Tiles use the explicit formula tile = (pos-1)*K DIV n + 1 over the
    (value, custkey) total order — deterministic under ties and identical
    on both engines (NTILE's remainder-spreading is not mirrored here,
    the formula is the contract).

    Shape: facts collapse to one row per ordering customer (one keyed
    aggregate; the corpus max date is a 1-row broadcast), then each of
    the three ranks runs through operators.sorts.global_rank — the
    value-bucketed DISTRIBUTED rank (never an unpartitioned window; the
    q_sort_multi primitive), three bounded customer-sized passes joined
    back on the key. Exactness: r/f/m are exact integers (whole dollars),
    rank positions are exact, and the tile arithmetic is pure integer
    DIV (all operands >= 0, so DuckDB // and Spark DIV agree)."""
    from recsys_spark_spark.operators.sorts import global_rank

    o = table(spark, sf_dir, "orders").select(
        "o_custkey", "o_orderdate", "o_totalprice"
    )
    mx = o.agg(F.max(F.to_date("o_orderdate")).alias("mxd"))
    base = (
        o.join(F.broadcast(mx))
        .groupBy(F.col("o_custkey").alias("c_custkey"))
        .agg(
            F.datediff(F.max("mxd"), F.max(F.to_date("o_orderdate"))).alias("r_days"),
            F.count(F.lit(1)).alias("f_orders"),
            F.sum(rlong(F.col("o_totalprice")).cast("long")).alias("m_dollars"),
        )
    )
    # The three ranks used to CHAIN — each global_rank consumed the previous
    # one's output, serializing ~30 scheduler-bound stages end-to-end (35
    # stages, 11 s task time, ~31 s wall at sf0.1 — pure depth, not work). The
    # ranks are independent orderings of the same customer-sized base, so they
    # now run as three independent BRANCHES off one checkpointed base
    # (DAGScheduler submits ready stages concurrently) and join back on the
    # unique key; each branch also sorts a 2-column frame instead of the
    # accumulating one.
    base = checkpoint(base)
    n = base.agg(F.count(F.lit(1)).alias("n"))
    ranked = base
    for col, pos in (("r_days", "pr"), ("f_orders", "pf"), ("m_dollars", "pm")):
        branch = global_rank(
            spark, base.select("c_custkey", col), value_col=col,
            tiebreak="c_custkey", pos_col=pos, descending=False,
        ).select("c_custkey", pos)
        ranked = ranked.join(branch, "c_custkey")
    tile = lambda p: F.expr(f"CAST(({p} - 1) * {RFM_TILES} DIV n + 1 AS BIGINT)")
    return ranked.join(F.broadcast(n)).select(
        "c_custkey",
        F.col("r_days").cast("long").alias("r_days"),
        F.col("f_orders").cast("long").alias("f_orders"),
        F.col("m_dollars").cast("long").alias("m_dollars"),
        (F.lit(RFM_TILES + 1) - tile("pr")).cast("long").alias("r_score"),
        tile("pf").cast("long").alias("f_score"),
        tile("pm").cast("long").alias("m_score"),
    )


# --------------------------------------------------------------------------
# M142: Jaccard link prediction on the co-purchase graph
# --------------------------------------------------------------------------

JACCARD_MIN_COMMON = 2
JACCARD_TOP_PER_VERTEX = 10


@query(
    "q_graph_jaccard",
    oracle=f"""
WITH ui AS (
  SELECT o_custkey AS user_id, l_partkey AS item_id
  FROM orders JOIN lineitem ON o_orderkey = l_orderkey
  GROUP BY 1, 2
),
thr AS (
  SELECT GREATEST({TRI_MIN_SUPPORT},
                  CAST(CEIL(COUNT(DISTINCT user_id) / {TRI_USERS_PER_SUPPORT}.0) AS BIGINT)) AS min_c
  FROM ui
),
e AS (
  SELECT a.item_id AS x, b.item_id AS y
  FROM ui a JOIN ui b ON a.user_id = b.user_id AND a.item_id < b.item_id
  GROUP BY 1, 2 HAVING COUNT(*) >= (SELECT min_c FROM thr)
),
und AS (
  SELECT x AS v, y AS nb FROM e UNION ALL SELECT y, x FROM e
),
deg AS (SELECT v, COUNT(*) AS deg FROM und GROUP BY 1),
common AS (
  SELECT a.v AS a, b.v AS b, COUNT(*) AS n_common
  FROM und a JOIN und b ON a.nb = b.nb AND a.v < b.v
  GROUP BY 1, 2 HAVING COUNT(*) >= {JACCARD_MIN_COMMON}
),
nonedge AS (
  SELECT c.* FROM common c ANTI JOIN e ON c.a = e.x AND c.b = e.y
),
scored AS (
  SELECT a, b, n_common,
         CAST(n_common AS DOUBLE) / (da.deg + db.deg - n_common) AS j
  FROM nonedge JOIN deg da ON a = da.v JOIN deg db ON b = db.v
)
SELECT a, b, CAST(n_common AS BIGINT) AS n_common,
       ROUND(j * 1e6, 0) / 1e6 AS jaccard,
       CAST(rnk AS BIGINT) AS rnk
FROM (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY a ORDER BY j DESC, b) AS rnk
  FROM scored
) WHERE rnk <= {JACCARD_TOP_PER_VERTEX}
""",
)
def q_graph_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M142: Jaccard-coefficient link prediction (Liben-Nowell & Kleinberg
    2003) over the support-thresholded co-purchase graph: for every
    NON-adjacent item pair with >= {JACCARD_MIN_COMMON} common neighbors,
    J = |N(a) n N(b)| / |N(a) u N(b)| — "these two items are bought with
    the same things but never together yet", the graph-native complement
    of q_cf_cosine_sim's rating geometry.

    Shape: reuses the triangle query's POPULATION-SCALED support floor
    (broadcast 1-row threshold) to bound vertex degree, so the wedge
    join that produces common-neighbor pairs is degree-bounded — the
    same boundedness contract as q_graph_triangles, never all-pairs.
    Candidate pairs then ANTI-join the edge list (drop already-adjacent)
    and join the vertex-count-sized degree table twice; the output is
    bounded to the top-{JACCARD_TOP_PER_VERTEX} predictions per source
    vertex via a KEYED rank-filtered window (WindowGroupLimit-prunable —
    candidates die executor-side, the result is |V|-bounded). Exactness:
    counts are exact integers; ranks order by the unrounded ratio (same
    doubles both engines) with the partner id as tiebreak; one 6dp
    display rounding."""
    # The thresholded edge list is referenced SIX times through this DAG (both
    # unionAll sides of `und`, which itself feeds deg + both wedge-join sides,
    # plus the anti join), and every lazy reference re-derived the 13.1M-row
    # co-occurrence pair shuffle — measured as six identical 116.6 MB /
    # 13,127,405-row exchanges, 1,347 s CPU for the query at sf0.1.
    # thresholded_edges() is the SAME rule (capped matrix + population-scaled
    # floor, the q_graph_triangles contract), checkpointed, so the pair join
    # now runs once. (a, b) is canonical a > b, i.e. (y, x) here.
    e = thresholded_edges(spark, sf_dir).select(
        F.col("b").alias("x"), F.col("a").alias("y")
    )
    und = e.select(F.col("x").alias("v"), F.col("y").alias("nb")).unionAll(
        e.select(F.col("y").alias("v"), F.col("x").alias("nb"))
    )
    deg = und.groupBy("v").agg(F.count(F.lit(1)).alias("deg"))
    a, b = und.alias("a"), und.alias("b")
    common = (
        a.join(b, (F.col("a.nb") == F.col("b.nb")) & (F.col("a.v") < F.col("b.v")))
        .groupBy(F.col("a.v").alias("a"), F.col("b.v").alias("b"))
        .agg(F.count(F.lit(1)).alias("n_common"))
        .where(F.col("n_common") >= JACCARD_MIN_COMMON)
    )
    nonedge = common.join(
        e,
        (common.a == e.x) & (common.b == e.y),
        "left_anti",
    )
    da = deg.select(F.col("v").alias("a"), F.col("deg").alias("dega"))
    db = deg.select(F.col("v").alias("b"), F.col("deg").alias("degb"))
    scored = (
        nonedge.join(da, "a")
        .join(db, "b")
        .select(
            "a",
            "b",
            "n_common",
            (
                F.col("n_common").cast("double")
                / (F.col("dega") + F.col("degb") - F.col("n_common"))
            ).alias("j"),
        )
    )
    wtop = Window.partitionBy("a").orderBy(F.col("j").desc(), F.col("b").asc())
    return (
        scored.withColumn("rnk", F.row_number().over(wtop))
        .where(F.col("rnk") <= JACCARD_TOP_PER_VERTEX)
        .select(
            "a",
            "b",
            F.col("n_common").cast("long").alias("n_common"),
            (rlong(F.col("j") * 1e6) / 1e6).alias("jaccard"),
            F.col("rnk").cast("long").alias("rnk"),
        )
    )


# --------------------------------------------------------------------------
# M143: ABC (Pareto) revenue classification of parts
# --------------------------------------------------------------------------


@query(
    "q_part_abc",
    oracle="""
WITH rev AS (
  SELECT l_partkey,
         CAST(SUM(CAST(ROUND(l_extendedprice * (1 - l_discount) * 100, 0) AS BIGINT)) AS BIGINT) AS cents
  FROM lineitem GROUP BY 1
),
run AS (
  SELECT l_partkey, cents,
         CAST(SUM(cents) OVER (ORDER BY cents DESC, l_partkey
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS run
  FROM rev
),
tot AS (SELECT CAST(SUM(cents) AS BIGINT) AS total FROM rev)
SELECT l_partkey, cents, run,
       CASE WHEN run * 5 <= total * 4 THEN 'A'
            WHEN run * 20 <= total * 19 THEN 'B'
            ELSE 'C' END AS abc_class
FROM run CROSS JOIN tot
""",
)
def q_part_abc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M143: ABC / Pareto classification of parts by discounted revenue —
    class A holds the first 80% of cumulative revenue down the ranked
    list, B the next 15%, C the tail; the inventory-prioritization table
    ("20% of items drive 80% of revenue", Pareto 1896 via Dickie 1951).

    Shape: facts collapse to one exact integer revenue row per part, the
    cumulative total comes from operators.sorts.global_running_sum — the
    value-bucketed DISTRIBUTED prefix sum (per-bucket running window +
    broadcast preceding-bucket offsets; never an unpartitioned
    running-total window) — and the grand total is a 1-row broadcast.
    Exactness: class boundaries compare run*5 <= total*4 and
    run*20 <= total*19 — pure INTEGER comparisons, so the 80/95% cuts
    are decided without a single floating-point share."""
    from recsys_spark_spark.operators.sorts import global_running_sum

    l = table(spark, sf_dir, "lineitem").select("l_partkey", "l_extendedprice", "l_discount")
    rev = l.groupBy("l_partkey").agg(
        F.sum(
            rlong(F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100).cast("long")
        ).alias("cents")
    )
    run = global_running_sum(
        spark, rev, value_col="cents", tiebreak="l_partkey", sum_col="run",
        descending=True,
    )
    tot = rev.agg(F.sum("cents").alias("total"))
    r, t = F.col("run"), F.col("total")
    return run.join(F.broadcast(tot)).select(
        "l_partkey",
        "cents",
        "run",
        F.when(r * 5 <= t * 4, "A").when(r * 20 <= t * 19, "B").otherwise("C").alias("abc_class"),
    )


# --------------------------------------------------------------------------
# M146: position-based (U-shaped) multi-touch attribution
# --------------------------------------------------------------------------

ATTR_WINDOW_DAYS = 7  # touches attribute only within this pre-purchase window
ATTR_EDGE_PPM = 400_000  # first/last credit (40%); middles split the rest


@query(
    "q_attribution_position",
    oracle=f"""
WITH ev AS (
  SELECT event_id, user_id, event_type, date_trunc('second', ts) AS sec
  FROM events
),
p AS (SELECT event_id AS purchase_id, user_id, sec AS p_sec FROM ev WHERE event_type = 'purchase'),
t AS (SELECT event_id AS touch_id, user_id, event_type AS touch_type, sec AS t_sec
      FROM ev WHERE event_type IN ('view', 'click')),
j AS (
  SELECT p.purchase_id, p.user_id, t.touch_id, t.touch_type, t.t_sec
  FROM p JOIN t ON p.user_id = t.user_id
   AND (t.t_sec < p.p_sec OR (t.t_sec = p.p_sec AND t.touch_id < p.purchase_id))
   AND t.t_sec >= p.p_sec - INTERVAL {ATTR_WINDOW_DAYS} DAY
),
r AS (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY purchase_id ORDER BY t_sec, touch_id) AS pos,
         COUNT(*) OVER (PARTITION BY purchase_id) AS n
  FROM j
)
SELECT purchase_id, user_id, touch_id, touch_type, CAST(pos AS BIGINT) AS pos,
       CAST(n AS BIGINT) AS n_touches,
       CAST(CASE WHEN n = 1 THEN 1000000
                 WHEN n = 2 THEN 500000
                 WHEN pos = 1 OR pos = n THEN {ATTR_EDGE_PPM}
                 ELSE CAST(ROUND((1000000 - 2 * {ATTR_EDGE_PPM}) / CAST(n - 2 AS DOUBLE), 0) AS BIGINT)
            END AS BIGINT) AS credit_ppm
FROM r
""",
)
def q_attribution_position(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M146: position-based (U-shaped, 40/20/40) multi-touch attribution —
    every marketing touch inside the {ATTR_WINDOW_DAYS}-day pre-purchase
    window gets credit: 40% to the first touch, 40% to the last, the
    middle 20% split evenly; 1 touch takes 100%, 2 take 50/50. The
    multi-touch complement of q_attribution_last_touch (same touch
    ordering contract, including the same-second event_id tiebreak).

    Shape: the purchase-x-touch fan-out is a USER-KEYED range join whose
    per-purchase width is bounded by the attribution window (never a
    user's full history — the as-of/interval-join discipline), then
    position/count come from purchase-keyed windows. At 100 TB
    everything rides HashPartitioning(user_id) then (purchase_id).
    Exactness: credits are integer ppm; the only division (middle split)
    rounds the same double once on both engines."""
    ev = table(spark, sf_dir, "events").select(
        "event_id", "user_id", "event_type", F.date_trunc("second", "ts").alias("sec")
    )
    p = ev.where(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"), "user_id", F.col("sec").alias("p_sec")
    )
    t = ev.where(F.col("event_type").isin("view", "click")).select(
        F.col("event_id").alias("touch_id"),
        F.col("user_id").alias("t_user"),
        F.col("event_type").alias("touch_type"),
        F.col("sec").alias("t_sec"),
    )
    j = p.join(
        t,
        (p.user_id == t.t_user)
        & (
            (t.t_sec < p.p_sec)
            | ((t.t_sec == p.p_sec) & (t.touch_id < p.purchase_id))
        )
        & (t.t_sec >= p.p_sec - F.expr(f"INTERVAL {ATTR_WINDOW_DAYS} DAY")),
    ).select("purchase_id", "user_id", "touch_id", "touch_type", "t_sec")
    wpos = Window.partitionBy("purchase_id").orderBy("t_sec", "touch_id")
    wcnt = Window.partitionBy("purchase_id")
    r = j.select(
        "purchase_id",
        "user_id",
        "touch_id",
        "touch_type",
        F.row_number().over(wpos).alias("pos"),
        F.count(F.lit(1)).over(wcnt).alias("n"),
    )
    pos, n = F.col("pos"), F.col("n")
    mid = rlong(
        F.lit(float(1_000_000 - 2 * ATTR_EDGE_PPM)) / (n - 2).cast("double")
    ).cast("long")
    credit = (
        F.when(n == 1, 1_000_000)
        .when(n == 2, 500_000)
        .when((pos == 1) | (pos == n), ATTR_EDGE_PPM)
        .otherwise(mid)
    )
    return r.select(
        "purchase_id",
        "user_id",
        "touch_id",
        "touch_type",
        pos.cast("long").alias("pos"),
        n.cast("long").alias("n_touches"),
        credit.cast("long").alias("credit_ppm"),
    )


# --------------------------------------------------------------------------
# M147: half-life-decayed trending items
# --------------------------------------------------------------------------

TREND_HALF_LIFE_DAYS = 180
TREND_TOP = 20


@query(
    "q_trending_items",
    oracle=f"""
WITH l AS (
  SELECT l_partkey, CAST(l_shipdate AS DATE) AS ship FROM lineitem
),
mx AS (
  SELECT MAX(ship) AS mxd,
         MAX(date_diff('day', ship, (SELECT MAX(ship) FROM l)) // {TREND_HALF_LIFE_DAYS}) AS bmax
  FROM l
),
w AS (
  SELECT l_partkey,
         CAST(ROUND(pow(2, bmax - date_diff('day', ship, mxd) // {TREND_HALF_LIFE_DAYS}), 0) AS BIGINT) AS wt
  FROM l CROSS JOIN mx
),
s AS (
  SELECT l_partkey, COUNT(*) AS n_sales, CAST(SUM(wt) AS BIGINT) AS score
  FROM w GROUP BY 1
)
SELECT l_partkey, n_sales, score, CAST(rnk AS BIGINT) AS rnk FROM (
  SELECT *, ROW_NUMBER() OVER (ORDER BY score DESC, l_partkey) AS rnk FROM s
) WHERE rnk <= {TREND_TOP}
""",
)
def q_trending_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M147: trending items by half-life-decayed popularity — each sale
    weights 2^(bmax - age/{TREND_HALF_LIFE_DAYS}); a sale this half-life
    counts double one from the previous, so the ranking favors items
    selling NOW over all-time staples (the "trending" complement of
    q_cf_popularity_rec's raw popularity). Integer power-of-two weights
    (the q_ts_ewma trick): the decayed score is an EXACT integer sum —
    no float decay drift, mergeable, incrementally maintainable.

    Shape: the corpus max date and max age bucket are a 1-row broadcast;
    weights are row-local integer arithmetic (age DIV H — ship dates
    never exceed the max, so both engines' integer division agrees);
    one part-keyed aggregate; the top-{TREND_TOP} head is a rank-filtered
    global window over the aggregate (TakeOrdered/WindowGroupLimit-
    pruned, the q_vocab_build pattern)."""
    l = table(spark, sf_dir, "lineitem").select(
        "l_partkey", F.to_date("l_shipdate").alias("ship")
    )
    mx = l.agg(F.max("ship").alias("mxd"))
    aged = l.join(F.broadcast(mx)).select(
        "l_partkey",
        F.expr(f"datediff(mxd, ship) DIV {TREND_HALF_LIFE_DAYS}").alias("bkt"),
    )
    bmax = aged.agg(F.max("bkt").alias("bmax"))
    w = aged.join(F.broadcast(bmax)).select(
        "l_partkey",
        rlong(F.pow(F.lit(2.0), F.col("bmax") - F.col("bkt"))).cast("long").alias("wt"),
    )
    s = w.groupBy("l_partkey").agg(
        F.count(F.lit(1)).alias("n_sales"), F.sum("wt").alias("score")
    )
    top = s.orderBy(F.col("score").desc(), "l_partkey").limit(TREND_TOP)
    wr = Window.orderBy(F.col("score").desc(), "l_partkey")
    return top.withColumn("rnk", F.row_number().over(wr).cast("long")).select(
        "l_partkey",
        F.col("n_sales").cast("long").alias("n_sales"),
        F.col("score").cast("long").alias("score"),
        "rnk",
    )


# --------------------------------------------------------------------------
# M159: top session journey paths
# --------------------------------------------------------------------------

PATH_MAX_STEPS = 8
PATH_TOP = 20


@query(
    "q_session_paths",
    oracle=f"""
WITH ordered AS (
  SELECT user_id, ts, event_id, event_type,
         LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts
  FROM events
),
numbered AS (
  SELECT user_id, ts, event_id, event_type,
         SUM(CASE WHEN prev_ts IS NULL OR date_diff('second', prev_ts, ts) > 1800
                  THEN 1 ELSE 0 END)
           OVER (PARTITION BY user_id ORDER BY ts, event_id ROWS UNBOUNDED PRECEDING) AS session_id
  FROM ordered
),
paths AS (
  SELECT user_id, session_id,
         array_to_string(list_slice(string_split(
           string_agg(event_type, '>' ORDER BY ts, event_id), '>'), 1, {PATH_MAX_STEPS}), '>') AS path
  FROM numbered GROUP BY 1, 2
),
cnt AS (SELECT path, COUNT(*) AS n_sessions FROM paths GROUP BY 1)
SELECT path, n_sessions, CAST(rnk AS BIGINT) AS rnk FROM (
  SELECT *, ROW_NUMBER() OVER (ORDER BY n_sessions DESC, path) AS rnk FROM cnt
) WHERE rnk <= {PATH_TOP}
""",
)
def q_session_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M159: top user-journey paths — each inactivity-gap session's first
    {PATH_MAX_STEPS} event types joined into a '>' path, counted across
    all sessions, top-{PATH_TOP} reported ("what do users actually DO in
    a session"). The path-mining complement of q_funnel_conversion's
    fixed funnel and q_item_transitions' item bigrams; same session
    definition as q_sessionize_batch (30-min gap, (ts, event_id) order).

    Shape: one user-keyed window chain (lag + running sum — single
    exchange), a (user, session)-keyed ordered reassembly whose state is
    one session's events, the path truncated to {PATH_MAX_STEPS} steps
    ROW-LOCALLY (bounded string regardless of session length), one
    path-keyed count, and a rank-filtered top-{PATH_TOP} head over the
    path-count-sized aggregate (the q_vocab_build pattern)."""
    e = table(spark, sf_dir, "events").select("user_id", "ts", "event_id", "event_type")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap = F.unix_timestamp("ts") - F.unix_timestamp(F.lag("ts").over(w))
    numbered = e.withColumn(
        "_new_s", F.when(gap.isNull() | (gap > 1800), 1).otherwise(0)
    ).withColumn(
        "session_id",
        F.sum("_new_s").over(w.rowsBetween(Window.unboundedPreceding, 0)).cast("long"),
    )
    # The struct sort is lexicographic over (ts, event_id, event_type) while
    # the oracle's string_agg orders by (ts, event_id) only; the two agree
    # because event_id is UNIQUE (asserted per fixture in
    # tests/test_new_ops_worked.py::test_event_id_unique_on_fixtures), so
    # comparison never reaches the trailing event_type field.
    paths = numbered.groupBy("user_id", "session_id").agg(
        F.expr(
            "array_join(slice(transform(array_sort(collect_list(struct(ts, event_id, event_type))),"
            f" s -> s.event_type), 1, {PATH_MAX_STEPS}), '>')"
        ).alias("path")
    )
    cnt = paths.groupBy("path").agg(F.count(F.lit(1)).alias("n_sessions"))
    top = cnt.orderBy(F.col("n_sessions").desc(), "path").limit(PATH_TOP)
    wr = Window.orderBy(F.col("n_sessions").desc(), "path")
    return top.withColumn("rnk", F.row_number().over(wr).cast("long")).select(
        "path", F.col("n_sessions").cast("long").alias("n_sessions"), "rnk"
    )


# --------------------------------------------------------------------------
# M163: data-quality expectations suite
# --------------------------------------------------------------------------

DQ_SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")


@query(
    "q_dq_expectations",
    oracle=f"""
SELECT 'orders' AS tbl, 'o_orderkey_unique' AS rule,
       COUNT(*) AS n_checked,
       CAST(COUNT(*) - COUNT(DISTINCT o_orderkey) AS BIGINT) AS n_failed
FROM orders
UNION ALL
SELECT 'orders', 'o_custkey_fk_customer', COUNT(*),
       CAST(SUM(CASE WHEN c_custkey IS NULL THEN 1 ELSE 0 END) AS BIGINT)
FROM orders LEFT JOIN customer ON o_custkey = c_custkey
UNION ALL
SELECT 'orders', 'o_totalprice_positive_lt_1m', COUNT(*),
       CAST(SUM(CASE WHEN o_totalprice > 0 AND o_totalprice < 1000000 THEN 0 ELSE 1 END) AS BIGINT)
FROM orders
UNION ALL
SELECT 'lineitem', 'l_orderkey_fk_orders', COUNT(*),
       CAST(SUM(CASE WHEN o_orderkey IS NULL THEN 1 ELSE 0 END) AS BIGINT)
FROM lineitem LEFT JOIN orders ON l_orderkey = o_orderkey
UNION ALL
SELECT 'lineitem', 'l_quantity_in_1_50', COUNT(*),
       CAST(SUM(CASE WHEN l_quantity >= 1 AND l_quantity <= 50 THEN 0 ELSE 1 END) AS BIGINT)
FROM lineitem
UNION ALL
SELECT 'customer', 'c_mktsegment_in_domain', COUNT(*),
       CAST(SUM(CASE WHEN c_mktsegment IN {DQ_SEGMENTS!r} THEN 0 ELSE 1 END) AS BIGINT)
FROM customer
UNION ALL
SELECT 'customer', 'c_acctbal_not_null', COUNT(*),
       CAST(SUM(CASE WHEN c_acctbal IS NULL THEN 1 ELSE 0 END) AS BIGINT)
FROM customer
UNION ALL
SELECT 'events', 'value_non_negative', COUNT(*),
       CAST(SUM(CASE WHEN value >= 0 THEN 0 ELSE 1 END) AS BIGINT)
FROM events
""",
)
def q_dq_expectations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M163: declarative data-quality expectations suite (the
    Great-Expectations / dbt-test pattern, run IN the engine): one row
    per rule — uniqueness, referential integrity, range, domain, and
    null checks across four tables — with checked/failed counts. The
    admission gate a 100 TB ingest runs before anything downstream
    trusts the batch; complements q_data_profile (describes) and
    q_fk_audit (one FK in depth) with the assertion form.

    Shape: every rule is a single map-side-combinable aggregate (the FK
    rules are broadcast-or-shuffled keyed left joins folded straight
    into a count) and the union is rule-count-sized. Nothing here
    collects, loops, or depends on row order — counts only."""
    o = table(spark, sf_dir, "orders")
    l = table(spark, sf_dir, "lineitem")
    c = table(spark, sf_dir, "customer")
    e = table(spark, sf_dir, "events")

    def rule(df, tbl, name, fail_col):
        return df.agg(
            F.lit(tbl).alias("tbl"),
            F.lit(name).alias("rule"),
            F.count(F.lit(1)).alias("n_checked"),
            F.sum(fail_col).cast("long").alias("n_failed"),
        ).select("tbl", "rule", "n_checked", "n_failed")

    uniq = o.agg(
        F.lit("orders").alias("tbl"),
        F.lit("o_orderkey_unique").alias("rule"),
        F.count(F.lit(1)).alias("n_checked"),
        (F.count(F.lit(1)) - F.countDistinct("o_orderkey")).cast("long").alias("n_failed"),
    ).select("tbl", "rule", "n_checked", "n_failed")
    fk_cust = rule(
        o.join(c.select("c_custkey"), o.o_custkey == F.col("c_custkey"), "left"),
        "orders",
        "o_custkey_fk_customer",
        F.when(F.col("c_custkey").isNull(), 1).otherwise(0),
    )
    price = rule(
        o,
        "orders",
        "o_totalprice_positive_lt_1m",
        F.when((F.col("o_totalprice") > 0) & (F.col("o_totalprice") < 1_000_000), 0).otherwise(1),
    )
    fk_ord = rule(
        l.join(o.select("o_orderkey"), l.l_orderkey == F.col("o_orderkey"), "left"),
        "lineitem",
        "l_orderkey_fk_orders",
        F.when(F.col("o_orderkey").isNull(), 1).otherwise(0),
    )
    qty = rule(
        l,
        "lineitem",
        "l_quantity_in_1_50",
        F.when((F.col("l_quantity") >= 1) & (F.col("l_quantity") <= 50), 0).otherwise(1),
    )
    dom = rule(
        c,
        "customer",
        "c_mktsegment_in_domain",
        F.when(F.col("c_mktsegment").isin(*DQ_SEGMENTS), 0).otherwise(1),
    )
    nn = rule(
        c,
        "customer",
        "c_acctbal_not_null",
        F.when(F.col("c_acctbal").isNull(), 1).otherwise(0),
    )
    val = rule(
        e,
        "events",
        "value_non_negative",
        F.when(F.col("value") >= 0, 0).otherwise(1),
    )
    out = uniq
    for r in (fk_cust, price, fk_ord, qty, dom, nn, val):
        out = out.unionAll(r)
    return out


# --------------------------------------------------------------------------
# M176: event-pattern detection (MATCH_RECOGNIZE-style rising runs)
# --------------------------------------------------------------------------

RISE_MIN_RUN = 3  # report customers whose longest rising run reaches this


@query(
    "q_pattern_rising_runs",
    oracle=f"""
WITH o AS (
  SELECT o_custkey AS c, o_orderdate AS d, o_orderkey AS k,
         CAST(ROUND(o_totalprice * 100, 0) AS BIGINT) AS cents
  FROM orders
), f AS (
  SELECT c, d, k,
         CASE WHEN cents > LAG(cents) OVER (PARTITION BY c ORDER BY d, k)
              THEN 0 ELSE 1 END AS brk
  FROM o
), r AS (
  SELECT c, SUM(brk) OVER (PARTITION BY c ORDER BY d, k
                           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS rid
  FROM f
), g AS (
  SELECT c, rid, CAST(COUNT(*) AS BIGINT) AS len FROM r GROUP BY 1, 2
)
SELECT c AS custkey,
       CAST(SUM(len) AS BIGINT) AS n_orders,
       CAST(MAX(len) AS BIGINT) AS longest_run,
       CAST(SUM(CASE WHEN len >= {RISE_MIN_RUN} THEN 1 ELSE 0 END) AS BIGINT)
         AS n_runs_ge{RISE_MIN_RUN}
FROM g GROUP BY 1 HAVING MAX(len) >= {RISE_MIN_RUN}
""",
)
def q_pattern_rising_runs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M176: event-pattern detection over each customer's order sequence —
    SQL:2016 MATCH_RECOGNIZE's `PATTERN (A B+)` ("a row followed by one or
    more strictly-rising rows") re-expressed as run-length encoding, the
    DataFrame-native form of the pattern matcher Spark lacks: flag each
    order that does NOT rise above its predecessor as a run BREAK, prefix-
    sum the breaks inside the customer partition to assign run ids, and
    aggregate run lengths. A run of length L ≡ L−1 consecutive rises;
    customers whose longest run reaches RISE_MIN_RUN are reported with
    their order count, longest streak, and number of qualifying streaks.

    Scale shape: both windows (LAG and the running break-sum) are
    PARTITIONED by customer — no global window anywhere; run aggregation
    and the final per-customer rollup ride the same customer-keyed
    exchange, so the whole match is one shuffle over the fact table.
    Comparisons happen on exact integer cents; every output is an exact
    integer — nothing to round."""
    o = table(spark, sf_dir, "orders").select(
        F.col("o_custkey").alias("c"),
        F.col("o_orderdate").alias("d"),
        F.col("o_orderkey").alias("k"),
        rlong(F.col("o_totalprice") * 100).cast("long").alias("cents"),
    )
    w = Window.partitionBy("c").orderBy("d", "k")
    f = o.select(
        "c",
        "d",
        "k",
        F.when(F.col("cents") > F.lag("cents").over(w), 0)
        .otherwise(1)
        .alias("brk"),
    )
    r = f.select(
        "c",
        F.sum("brk")
        .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
        .alias("rid"),
    )
    g = r.groupBy("c", "rid").agg(F.count(F.lit(1)).alias("len"))
    return (
        g.groupBy(F.col("c").alias("custkey"))
        .agg(
            F.sum("len").cast("long").alias("n_orders"),
            F.max("len").cast("long").alias("longest_run"),
            F.sum(F.when(F.col("len") >= RISE_MIN_RUN, 1).otherwise(0))
            .cast("long")
            .alias(f"n_runs_ge{RISE_MIN_RUN}"),
        )
        .where(F.col("longest_run") >= RISE_MIN_RUN)
    )


# --------------------------------------------------------------------------
# M179: gaps-and-islands — consecutive-day activity streaks per user
# --------------------------------------------------------------------------

STREAK_MIN = 3  # a "qualifying" streak for the n_streaks count


@query(
    "q_activity_streaks",
    oracle=f"""
WITH d AS (
  SELECT DISTINCT user_id AS u, CAST(ts AS DATE) AS d FROM events
), r AS (
  SELECT u, d,
         d - CAST(ROW_NUMBER() OVER (PARTITION BY u ORDER BY d) AS INTEGER) AS g
  FROM d
), s AS (
  SELECT u, g, CAST(COUNT(*) AS BIGINT) AS len FROM r GROUP BY 1, 2
)
SELECT u AS user_id,
       CAST(SUM(len) AS BIGINT) AS n_active_days,
       CAST(MAX(len) AS BIGINT) AS longest_streak,
       CAST(SUM(CASE WHEN len >= {STREAK_MIN} THEN 1 ELSE 0 END) AS BIGINT)
         AS n_streaks_ge{STREAK_MIN}
FROM s GROUP BY 1
""",
)
def q_activity_streaks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M179: gaps-and-islands — each user's consecutive-day activity
    streaks from the event log (the engagement-streak primitive every
    product-analytics deployment asks for, and THE canonical SQL islands
    pattern). An island is a maximal run of consecutive calendar days with
    activity: subtracting the per-user day row_number from the day itself
    yields a grouping key that is CONSTANT within a run and distinct
    across runs — no self-join, no recursive walk.

    Complements q_pattern_rising_runs (value-pattern runs) with CALENDAR-
    adjacency runs, and q_active_users (per-day counts) with per-user
    streak structure.

    Scale shape: day-distinct → row_number → island aggregate → per-user
    rollup all ride ONE user-keyed partitioning; the only shuffle is the
    initial user_id exchange. Everything is exact integers and dates."""
    d = (
        table(spark, sf_dir, "events")
        .select(F.col("user_id").alias("u"), F.to_date("ts").alias("d"))
        .distinct()
    )
    w = Window.partitionBy("u").orderBy("d")
    r = d.select(
        "u", "d", F.date_sub("d", F.row_number().over(w)).alias("g")
    )
    s = r.groupBy("u", "g").agg(F.count(F.lit(1)).alias("len"))
    return s.groupBy(F.col("u").alias("user_id")).agg(
        F.sum("len").cast("long").alias("n_active_days"),
        F.max("len").cast("long").alias("longest_streak"),
        F.sum(F.when(F.col("len") >= STREAK_MIN, 1).otherwise(0))
        .cast("long")
        .alias(f"n_streaks_ge{STREAK_MIN}"),
    )


# --------------------------------------------------------------------------
# M180: eigenvector centrality — normalized power iteration, unrolled
# --------------------------------------------------------------------------

EIG_ITERS = 3
EIG_SCALE = 1e6  # per-iteration integer quantization of the unit vector
EIG_TOP = 20


@memo
def _eig_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WEIGHTED co-occurrence edges (src, dst, c), persisted: one memo for
    the centrality keys. Its (src, dst) projection is exactly the distinct
    directed co-purchase edge set, which PageRank and the degree profile
    read (the weight c stays eigencentrality's)."""
    # Build from the CAPPED interaction matrix (itemcf.MAX_USER_HISTORY):
    # a hot user contributes O(history²) pairs to the self-join, so the
    # uncapped matrix is the 100×-scale blow-up the flagship already
    # guards against. At every test SF no user exceeds the cap
    # (pytest-pinned in tests/test_cf_property.py), so capped ≡ uncapped
    # and the UNCAPPED SQL oracles stay exact. The persisted matrix is
    # shared with the whole CF family instead of re-scanning
    # orders⋈lineitem here.
    from recsys_spark_spark.cf.itemcf import capped_interactions

    ui = capped_interactions(spark, sf_dir).select(
        F.col("user_id").alias("u"), F.col("item_id").alias("i")
    )
    a = ui.select("u", F.col("i").alias("src"))
    b = ui.select("u", F.col("i").alias("dst"))
    return (
        a.join(b, "u")
        .where(F.col("src") != F.col("dst"))
        .groupBy("src", "dst")
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
    )


def _eig_oracle() -> str:
    """Unrolled normalized power iteration: each iteration's vector state
    is a BIGINT both engines agree on exactly; the L2 norm is a double
    computed from one exact 128-bit sum of squares."""
    steps = [
        "v0 AS MATERIALIZED (SELECT node, "
        f"CAST({EIG_SCALE:.0f} AS BIGINT) AS v_s FROM nodes)"
    ]
    for it in range(1, EIG_ITERS + 1):
        steps.append(
            f"""w{it} AS MATERIALIZED (
  SELECT e.src AS node, SUM(CAST(e.c AS HUGEINT) * p.v_s) AS w
  FROM wedges e JOIN v{it - 1} p ON p.node = e.dst GROUP BY 1
), n{it} AS (
  SELECT sqrt(CAST(SUM(w * w) AS DOUBLE)) AS nrm FROM w{it}
), v{it} AS MATERIALIZED (
  SELECT node,
         CAST(ROUND(CAST(w AS DOUBLE) / nrm * {EIG_SCALE:.0f}, 0) AS BIGINT) AS v_s
  FROM w{it} CROSS JOIN n{it}
)"""
        )
    return f"""
WITH ui AS MATERIALIZED (
  SELECT DISTINCT o_custkey AS u, l_partkey AS i
  FROM orders JOIN lineitem ON o_orderkey = l_orderkey
), wedges AS MATERIALIZED (
  SELECT a.i AS src, b.i AS dst, CAST(COUNT(*) AS BIGINT) AS c
  FROM ui a JOIN ui b ON a.u = b.u AND a.i <> b.i GROUP BY 1, 2
), nodes AS MATERIALIZED (SELECT DISTINCT src AS node FROM wedges),
{", ".join(steps)}
SELECT node AS item_id, ROUND(v_s / {EIG_SCALE:.0f}, 6) AS centrality, rnk FROM (
  SELECT node, v_s,
         CAST(ROW_NUMBER() OVER (ORDER BY v_s DESC, node) AS BIGINT) AS rnk
  FROM v{EIG_ITERS}
) WHERE rnk <= {EIG_TOP}
"""


@query("q_graph_eigencentrality", oracle=_eig_oracle())
def q_graph_eigencentrality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M180: eigenvector centrality (Bonacich 1972) of the WEIGHTED item
    co-occurrence graph — the dominant-eigenvector "importance flows from
    important neighbors" score, i.e. the first spectral embedding
    dimension of the similarity matrix, computed without MLlib. Next to
    q_graph_pagerank (random-walk with damping over the unweighted graph)
    this completes the centrality pair, and the normalized power
    iteration IS the building block of spectral methods at scale.

    Determinism: each iteration re-quantizes the unit vector to integer
    1e-6 components, so the iteration state is a BIGINT vector identical
    on both engines; the L2 norm is one double from an exact 128-bit
    Σw² (w ≤ Σc·scale ≈ 1e13 at sf10 — products and the edge-sized
    matvec sum stay exactly in 64 bits, so that hot aggregate is a LONG
    on the vectorized path; only the node-sized Σw², whose squares reach
    1e26, uses the 128-bit decimal accumulator). The oracle unrolls the
    same {EIG_ITERS} iterations as chained CTEs.

    Scale shape: weighted edges build once from the user-keyed self-join
    (persisted and memoized like PageRank's); each iteration is one
    dst-keyed join + src-keyed aggregate riding the edge partitioning,
    plus a 1-row broadcast norm. Output is top-{EIG_TOP} via a
    rank-limited window."""
    edges = _eig_edges(spark, sf_dir)
    nodes = edges.select(F.col("src").alias("node")).distinct()
    v = nodes.select(
        "node", F.lit(int(EIG_SCALE)).cast("long").alias("v_s")
    )
    for _ in range(EIG_ITERS):
        # Matvec accumulates in LONG, not decimal(38,0): per-row products
        # c·v_s ≤ 1e13 at sf10 (docstring bound), so the edge-sized hot
        # aggregate stays on Spark's vectorized long path — the decimal
        # aggregation here measured 91× slower in the Newton-trainer probe
        # (stats.py long-accumulator precedent) and made this the most
        # expensive query in the registry (104 s at sf0.1). Only the norm's
        # Σw² genuinely needs 128 bits (w² ≤ 1e26), and that aggregate is
        # node-sized and runs once per iteration — decimal stays there.
        # v is node-sized (640k rows / 3.8 MB at sf0.1) but derives from an
        # aggregate, so the planner can't prove it broadcastable and compiled a
        # shuffle join — and with AQE the 245.8 MB / 25.4M-row edge-side map
        # stage runs BEFORE the runtime broadcast conversion, so every
        # iteration still wrote the full edge shuffle (measured: 10 stages
        # writing identical 245.8 MB exchanges, 108 s wall / 1,010 s CPU). An
        # explicit broadcast compiles BroadcastHashJoin outright: the persisted
        # edge table is scanned in place and never shuffled; only the
        # node-sized w/v aggregates move. (Checkpointing edges pre-partitioned
        # by dst was tried first and does NOT help: AQE coalesces the
        # checkpoint shuffle, so the LogicalRDD reports unknown partitioning
        # and the join re-exchanges.) Broadcasting the iteration vector is the
        # replicated-vertex-state pattern — it scales with the CATALOG, not the
        # data, and stays far under the broadcast cap wherever the matvec
        # itself is feasible.
        #
        # Each iteration references w TWICE (the norm aggregate and the
        # normalized projection), so without per-step lineage truncation the
        # matvec subtree re-executes 2^i times — measured as exactly 14 = 8+4+2
        # identical 245.8 MB / 25.4M-row edge exchanges for the 3 unrolled
        # iterations (exchange reuse does not fire across the duplicated AQE
        # subtrees). Checkpointing the node-sized w (640k rows) truncates the
        # chain per step — the module's iterative-operator discipline (BPE
        # merges, star contraction). With w materialized, the broadcast build
        # for the next iteration's v is a node-sized local job.
        w = checkpoint(
            edges.join(F.broadcast(v), edges.dst == v.node)
            .select("src", (F.col("c") * F.col("v_s")).alias("cv"))
            .groupBy(F.col("src").alias("node"))
            .agg(F.sum("cv").alias("w"))
        )
        nrm = w.agg(
            F.sqrt(
                F.sum(F.col("w").cast("decimal(38,0)") * F.col("w")).cast("double")
            ).alias("nrm")
        )
        v = w.crossJoin(F.broadcast(nrm)).select(
            "node",
            rlong(F.col("w").cast("double") / F.col("nrm") * EIG_SCALE)
            .cast("long")
            .alias("v_s"),
        )
    ranked = v.select(
        "node",
        "v_s",
        F.row_number()
        .over(Window.orderBy(F.col("v_s").desc(), F.col("node")))
        .cast("long")
        .alias("rnk"),
    ).where(F.col("rnk") <= EIG_TOP)
    return ranked.select(
        F.col("node").alias("item_id"),
        F.round(F.col("v_s") / EIG_SCALE, 6).alias("centrality"),
        "rnk",
    )


# --------------------------------------------------------------------------
# M182: time-to-convert — first click -> first subsequent purchase
# --------------------------------------------------------------------------


@query(
    "q_time_to_convert",
    oracle="""
WITH ev AS (
  SELECT user_id, event_id, date_trunc('second', ts) AS sec,
         CASE WHEN event_type = 'click' THEN 0 ELSE 1 END AS tag
  FROM events WHERE event_type IN ('click', 'purchase')
), m AS (
  SELECT user_id, tag, sec,
         MIN(CASE WHEN tag = 0 THEN sec END)
           OVER (PARTITION BY user_id ORDER BY sec, tag, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS fc
  FROM ev
), conv AS (
  SELECT user_id,
         CAST(MIN(epoch(sec) - epoch(fc)) AS BIGINT) AS tts
  FROM m WHERE tag = 1 AND fc IS NOT NULL
  GROUP BY 1
)
SELECT c_mktsegment AS segment,
       CAST(COUNT(*) AS BIGINT) AS n_converted,
       CAST(MIN(tts) AS BIGINT) AS min_s,
       CAST(MAX(tts) AS BIGINT) AS max_s,
       ROUND(CAST(SUM(tts) AS DOUBLE) / COUNT(*) * 1e6, 0) / 1e6 AS avg_s
FROM conv JOIN customer ON c_custkey = user_id
GROUP BY 1
""",
)
def q_time_to_convert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M182: time-to-convert — seconds from each user's FIRST click to
    their first purchase at-or-after it, rolled up per customer segment:
    the conversion-latency KPI beside q_funnel_conversion (which counts
    the funnel) and q_attribution_last_touch (which assigns credit).

    One pass: a user-partitioned running MIN carries the first click seen
    so far, every purchase row with a carried click is a conversion
    candidate, and the per-user minimum gap IS first-click→first-
    subsequent-purchase (the first qualifying purchase has the smallest
    gap: later purchases measure against the same first click). Same
    truncate-to-second-first epoch discipline as q_ts_twap/C8.

    Scale shape: the window, the per-user aggregate, and the customer
    join all ride ONE user/custkey-keyed partitioning; the segment rollup
    is segment-sized. All gaps are exact integer seconds; the single avg
    ratio rounds once."""
    ev = table(spark, sf_dir, "events").where(
        F.col("event_type").isin("click", "purchase")
    )
    tagged = ev.select(
        "user_id",
        "event_id",
        F.date_trunc("second", "ts").alias("sec"),
        F.when(F.col("event_type") == "click", F.lit(0))
        .otherwise(F.lit(1))
        .alias("tag"),
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("sec", "tag", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    m = tagged.select(
        "user_id",
        "tag",
        "sec",
        F.min(F.when(F.col("tag") == 0, F.col("sec"))).over(w).alias("fc"),
    )
    conv = (
        m.where((F.col("tag") == 1) & F.col("fc").isNotNull())
        .groupBy("user_id")
        .agg(
            F.min(F.unix_timestamp("sec") - F.unix_timestamp("fc"))
            .cast("long")
            .alias("tts")
        )
    )
    cust = table(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    return (
        conv.join(cust, conv.user_id == cust.c_custkey)
        .groupBy(F.col("c_mktsegment").alias("segment"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_converted"),
            F.min("tts").cast("long").alias("min_s"),
            F.max("tts").cast("long").alias("max_s"),
            (
                rlong(F.sum("tts").cast("double") / F.count(F.lit(1)) * 1e6) / 1e6
            ).alias("avg_s"),
        )
    )


# --------------------------------------------------------------------------
# M185: degree distribution of the co-occurrence graph
# --------------------------------------------------------------------------


@query(
    "q_graph_degree_stats",
    oracle=f"""
WITH {_PR_EDGES_SQL.strip()}
SELECT CAST(outdeg AS BIGINT) AS degree,
       CAST(COUNT(*) AS BIGINT) AS n_nodes
FROM deg GROUP BY 1
""",
)
def q_graph_degree_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M185: degree distribution of the item co-occurrence graph — the
    first diagnostic anyone runs on a graph before centrality/community
    work (is it scale-free? how heavy is the hub tail that will skew the
    self-join?). Directly instruments the skew the capped edge builders
    guard against: the max-degree row IS the blow-up bound.

    Shape: reuses the persisted _eig_edges table (zero extra scans in a
    session that also ran PageRank or eigencentrality), one src-keyed
    count, one degree-keyed
    count — output is distinct-degree-sized, orders of magnitude below
    node count. Exact integers throughout."""
    edges = _eig_edges(spark, sf_dir).select("src", "dst")
    deg = edges.groupBy("src").agg(F.count(F.lit(1)).alias("outdeg"))
    return deg.groupBy(F.col("outdeg").cast("long").alias("degree")).agg(
        F.count(F.lit(1)).cast("long").alias("n_nodes")
    )


# --------------------------------------------------------------------------
# M186: k-anonymity risk profile over quasi-identifiers
# --------------------------------------------------------------------------

KANON_K = 10


@query(
    "q_dq_kanonymity",
    oracle=f"""
WITH cls AS (
  SELECT c_nationkey, c_mktsegment,
         CAST(ROUND(c_acctbal / 100, 0) AS BIGINT) AS bal_bucket,
         COUNT(*) AS sz
  FROM customer GROUP BY 1, 2, 3
),
tot AS (SELECT CAST(SUM(sz) AS BIGINT) AS n FROM cls)
SELECT CAST(sz AS BIGINT) AS class_size,
       CAST(COUNT(*) AS BIGINT) AS n_classes,
       CAST(sz * COUNT(*) AS BIGINT) AS n_rows,
       ROUND(CAST(sz * COUNT(*) AS DOUBLE) / n * 1e6, 0) / 1e6 AS row_share,
       sz < {KANON_K} AS unsafe
FROM cls CROSS JOIN tot
GROUP BY sz, n
""",
)
def q_dq_kanonymity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M186: k-anonymity risk profile (Sweeney 2002) of the customer table
    under the quasi-identifier set (nation, market segment, account-balance
    bucket) — the training-data-governance primitive: before releasing or
    training on user-derived records, measure how many sit in equivalence
    classes smaller than k (re-identifiable by joining the quasi-identifiers
    to an external dataset). Output is the class-SIZE histogram: one row per
    distinct class size with how many classes/rows it covers, its share of
    all rows, and the unsafe flag (size < {KANON_K}).

    Shape: two cascaded keyed aggregates (quasi-class → size histogram),
    both map-side combinable; the 1-row total broadcasts. Output is
    distinct-size-sized — tiny at any scale. The ratio is one exact-long
    division, display-rounded 6dp."""
    c = table(spark, sf_dir, "customer")
    cls = c.groupBy(
        "c_nationkey",
        "c_mktsegment",
        rlong(F.col("c_acctbal") / 100).cast("long").alias("bal_bucket"),
    ).agg(F.count(F.lit(1)).alias("sz"))
    tot = cls.agg(F.sum("sz").cast("long").alias("n"))
    hist = cls.groupBy("sz").agg(F.count(F.lit(1)).alias("n_classes"))
    return hist.crossJoin(F.broadcast(tot)).select(
        F.col("sz").cast("long").alias("class_size"),
        F.col("n_classes").cast("long").alias("n_classes"),
        (F.col("sz") * F.col("n_classes")).cast("long").alias("n_rows"),
        (rlong((F.col("sz") * F.col("n_classes")).cast("double") / F.col("n") * 1e6) / 1e6).alias("row_share"),
        (F.col("sz") < KANON_K).alias("unsafe"),
    )


# --------------------------------------------------------------------------
# M195: event-lateness profile — watermark sizing from the arrival log
# --------------------------------------------------------------------------

_LATE_NPART = 64  # modeled source partitions (Kafka-style)


@query(
    "q_dq_lateness_profile",
    oracle="""
WITH arr AS (
  SELECT epoch(date_trunc('second', ts)) AS ts_s,
         date_trunc('hour', ts) AS hr, event_id % 64 AS pid, event_id
  FROM events
),
run AS (
  SELECT ts_s,
         MAX(ts_s) OVER (ORDER BY hr, pid, event_id
                         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS seen
  FROM arr
),
lat AS (SELECT CAST(seen - ts_s AS BIGINT) AS late_s FROM run),
b AS (
  SELECT CASE WHEN late_s = 0 THEN 'on-time'
              WHEN late_s <= 60 THEN '<=1m'
              WHEN late_s <= 600 THEN '<=10m'
              WHEN late_s <= 3600 THEN '<=1h'
              ELSE '>1h' END AS lateness_bucket,
         COUNT(*) AS n
  FROM lat GROUP BY 1
),
t AS (SELECT CAST(SUM(n) AS BIGINT) AS tot FROM b)
SELECT lateness_bucket, CAST(n AS BIGINT) AS n,
       ROUND(CAST(n AS DOUBLE) / tot * 1e6, 0) / 1e6 AS share
FROM b CROSS JOIN t
""",
)
def q_dq_lateness_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M195: event-lateness profile — for each event, how far behind the
    maximum event-time seen so far it arrives, histogrammed into
    watermark-relevant bands. THE question a streaming deployment answers
    before choosing withWatermark: the '>1h' mass is exactly the data a
    1-hour watermark would drop (q_stream_late_drop's threshold made
    empirical), and the band totals size the state store.

    Arrival model: the testdata ships no ingest log (events are perfectly
    time-sorted by event_id — under that order every event is on-time and
    the profile is vacuous), so arrival replays the standard partitioned-
    log shape: {_LATE_NPART} source partitions (pid = event_id % {_LATE_NPART}),
    each internally ordered, interleaved hour by hour — total arrival
    order (hour, pid, event_id). Deterministic from the data; yields the
    cross-partition disorder any real multi-partition consumer sees.

    Scale shape — distributed prefix-MAX over a composite order: the
    local running max is a window partitioned by (hour, pid) — the
    largest sort is one source partition × one hour; the cross-group
    carry is an EXCLUSIVE prefix max over the (hour, pid) group-max
    table (hours×{_LATE_NPART} rows — tiny, broadcast back); seen-so-far
    = greatest(carry, local). Max is associative so the decomposition
    is exact (the sorts.global_rank bucket contract, in max form); all
    values are exact integer seconds. The share division is the only
    double (6dp display)."""
    e = table(spark, sf_dir, "events")
    arr = e.select(
        "event_id",
        F.unix_timestamp(F.date_trunc("second", "ts")).alias("ts_s"),
        F.date_trunc("hour", "ts").alias("hr"),
        (F.col("event_id") % _LATE_NPART).alias("pid"),
    )
    wloc = Window.partitionBy("hr", "pid").orderBy("event_id").rowsBetween(
        Window.unboundedPreceding, 0
    )
    local = arr.withColumn("_lmax", F.max("ts_s").over(wloc))
    gmax = arr.groupBy("hr", "pid").agg(F.max("ts_s").alias("_gmax"))
    wcarry = Window.orderBy("hr", "pid").rowsBetween(Window.unboundedPreceding, -1)
    carry = gmax.select("hr", "pid", F.max("_gmax").over(wcarry).alias("_carry"))
    lat = (
        local.join(F.broadcast(carry), ["hr", "pid"])
        .select(
            (
                F.greatest(F.coalesce("_carry", F.col("_lmax")), F.col("_lmax"))
                - F.col("ts_s")
            ).alias("late_s")
        )
    )
    b = lat.select(
        F.when(F.col("late_s") == 0, "on-time")
        .when(F.col("late_s") <= 60, "<=1m")
        .when(F.col("late_s") <= 600, "<=10m")
        .when(F.col("late_s") <= 3600, "<=1h")
        .otherwise(">1h")
        .alias("lateness_bucket")
    ).groupBy("lateness_bucket").agg(F.count(F.lit(1)).alias("n"))
    tot = b.agg(F.sum("n").cast("long").alias("tot"))
    return b.crossJoin(F.broadcast(tot)).select(
        "lateness_bucket",
        F.col("n").cast("long").alias("n"),
        (rlong(F.col("n").cast("double") / F.col("tot") * 1e6) / 1e6).alias("share"),
    )


# --------------------------------------------------------------------------
# M203: connected components on the co-purchase graph
# --------------------------------------------------------------------------

# Alternating large-star/small-star rounds (Kiveris, Lattanzi, Mirrokni,
# Rastogi, Vassilvitskii: "Connected Components in MapReduce and Beyond",
# ACM SoCC 2014). Chosen over plain hash-min label propagation after
# MEASURING both on this graph: the thresholded sf0.1 co-purchase graph has
# a 4,177-node component whose min-label BFS depth is 65, so hash-min needs
# 65 rounds, and hash-min + pointer jumping stalls at 44 (labels chain
# through self-pointing local minima, so jumps compress nothing — the exact
# failure mode the star operations exist to break, because they rewrite the
# EDGE set instead of just the label table). Alternating stars converge in
# 6 rounds here and 15 on an adversarial 20,000-node path. CC_ROUNDS = 8
# gives 2 rounds of margin; extra rounds on a converged star forest are
# exact no-ops (pytest pins convergence), and if a future graph were NOT
# converged at 8 both engines still agree exactly — fixed-round unrolling
# is a deterministic function of the data, the PageRank contract.
CC_ROUNDS = 8


def _cc_round_sql(k: int) -> str:
    """One alternating round as DuckDB CTEs: large-star (attach every
    neighbor larger than the center to the neighborhood min) then
    small-star (attach the center and its smaller neighbors to their min).
    Edges stay canonical (a > b) by construction: every emitted target is
    the minimum of a set containing the source."""
    p = k - 1
    return f"""
n{k} AS (SELECT a AS u, b AS v FROM e{p} UNION ALL SELECT b, a FROM e{p}),
mn{k} AS MATERIALIZED (
  SELECT u, LEAST(MIN(v), u) AS m FROM n{k} GROUP BY u
),
ls{k} AS MATERIALIZED (
  SELECT DISTINCT n.v AS a, m.m AS b
  FROM n{k} n JOIN mn{k} m ON m.u = n.u WHERE n.v > n.u
),
sm{k} AS MATERIALIZED (SELECT a AS u, MIN(b) AS m FROM ls{k} GROUP BY a),
e{k} AS MATERIALIZED (
  SELECT DISTINCT a, b FROM (
    SELECT l.b AS a, s.m AS b FROM ls{k} l JOIN sm{k} s ON s.u = l.a
    WHERE l.b <> s.m
    UNION ALL
    SELECT u AS a, m AS b FROM sm{k}
  )
)"""


def _cc_oracle() -> str:
    rounds = ",".join(_cc_round_sql(k) for k in range(1, CC_ROUNDS + 1))
    return f"""
WITH ui AS (
  SELECT o_custkey AS user_id, l_partkey AS item_id
  FROM orders JOIN lineitem ON o_orderkey = l_orderkey
  GROUP BY 1, 2
),
thr AS (
  SELECT GREATEST({TRI_MIN_SUPPORT},
                  CAST(CEIL(COUNT(DISTINCT user_id) / {TRI_USERS_PER_SUPPORT}.0) AS BIGINT)) AS min_c
  FROM ui
),
e0 AS MATERIALIZED (
  SELECT b.item_id AS a, a.item_id AS b
  FROM ui a JOIN ui b ON a.user_id = b.user_id AND a.item_id < b.item_id
  GROUP BY 1, 2 HAVING COUNT(*) >= (SELECT min_c FROM thr)
),{rounds},
nodes AS (SELECT a AS node FROM e0 UNION SELECT b FROM e0),
lab AS (
  SELECT n.node, COALESCE(MIN(e.b), n.node) AS comp
  FROM nodes n LEFT JOIN e{CC_ROUNDS} e ON e.a = n.node
  GROUP BY n.node
)
SELECT node AS item_id, comp AS component_id,
       CAST(COUNT(*) OVER (PARTITION BY comp) AS BIGINT) AS comp_size
FROM lab
"""


def star_contract(e: DataFrame, rounds: int) -> DataFrame:
    """Run `rounds` alternating large-star/small-star rounds over a
    canonical (a > b) edge DataFrame; returns the contracted edge set
    (a star forest once converged: every edge points a node at its
    component's minimum id).

    Split from the registered query so tests can drive it with hand-built
    graphs (tests/test_new_ops_worked.py pins it against union-find).

    Each round references the previous edge set ~12 times through the
    star joins, so lazy composition would grow the analyzed plan ~12x per
    round; catalog.checkpoint truncates the lineage to a LogicalRDD each
    round (the local-mode stand-in for the cluster checkpoint() a
    production run would use). State is always edge-sized
    and strictly within-component; every stage is a keyed min-aggregate
    plus a keyed join — no driver-side state beyond the fixed round count.
    """
    # Partition budget from the INPUT edge count (contraction only shrinks
    # the within-round state up to constant factors): every checkpointed
    # round re-materializes on this many partitions instead of the session
    # shuffle width — see catalog.state_partitions.
    p = state_partitions(e.count())
    for _ in range(rounds):
        nbr = e.select(F.col("a").alias("u"), F.col("b").alias("v")).unionAll(
            e.select(F.col("b").alias("u"), F.col("a").alias("v"))
        )
        mins = (
            nbr.groupBy("u")
            .agg(F.min("v").alias("mv"))
            .select("u", F.least("mv", "u").alias("m"))
        )
        ls = (
            nbr.join(mins, "u")
            .where(F.col("v") > F.col("u"))
            .select(F.col("v").alias("a"), F.col("m").alias("b"))
            .distinct()
        )
        sm = ls.groupBy("a").agg(F.min("b").alias("m"))
        e1 = (
            ls.join(sm, "a")
            .where(F.col("b") != F.col("m"))
            .select(F.col("b").alias("a"), F.col("m").alias("b"))
        )
        e2 = sm.select("a", F.col("m").alias("b"))
        e = checkpoint(e1.unionAll(e2).distinct().coalesce(p))
    return e


def thresholded_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Canonical (a > b) edge list of the thresholded co-purchase graph —
    the triangle rule (capped matrix + population-scaled floor).
    Checkpointed, not persisted: each caller reads it ~12 times per star
    round / per BFS hop within one query, so lineage truncation is the
    point."""
    from recsys_spark_spark.cf.itemcf import capped_interactions, cooccurrence

    ui = capped_interactions(spark, sf_dir)
    thr = ui.agg(
        F.greatest(
            F.lit(TRI_MIN_SUPPORT),
            F.ceil(
                F.countDistinct("user_id") / F.lit(float(TRI_USERS_PER_SUPPORT))
            ),
        ).alias("min_c")
    )
    return checkpoint(
        cooccurrence(ui)
        .crossJoin(F.broadcast(thr))
        .where(F.col("n_common") >= F.col("min_c"))
        .select(F.col("item_j").alias("a"), F.col("item_i").alias("b"))
    )


@query("q_graph_components", oracle=_cc_oracle())
def q_graph_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M203: connected components of the thresholded co-purchase graph —
    per item its component id (the component's minimum item id) and the
    component size. The structural complement of q_graph_triangles'
    cohesion and q_graph_pagerank's centrality: which items form isolated
    co-purchase islands at all (the sf0.1 graph splits into 1,926
    components under the population-scaled support floor).

    Algorithm: alternating large-star/small-star contraction (Kiveris et
    al., SoCC 2014) for CC_ROUNDS fixed rounds — see the module comment
    for why hash-min variants were measured and rejected (65-round
    diameter; pointer jumping stalls on self-pointing local minima).

    Scale shape: edges reuse the triangle query's rule — capped
    interaction matrix (MAX_USER_HISTORY bounds the per-user pair
    fan-out) + the population-scaled support floor (a fixed floor stops
    pruning under user growth; measured 1400x edge blow-up on the sf1
    probe without it) — so the graph is catalog-sized, not data-sized.
    Each round is two keyed min-aggregates and two keyed joins over the
    shrinking edge set; rounds needed grow O(log^2 n) with proven
    convergence, so a production run loops with a per-round convergence
    counter while this query unrolls the fixed CC_ROUNDS both engines
    execute identically (exactness never depends on convergence). The
    final labeling is one left join of the node list against the star
    forest; component sizes are a label-partitioned window count."""
    e0 = thresholded_edges(spark, sf_dir)
    forest = star_contract(e0, CC_ROUNDS)
    nodes = (
        e0.select(F.col("a").alias("node"))
        .union(e0.select("b"))
        .distinct()
    )
    lab = (
        nodes.join(
            forest.select(F.col("a").alias("node"), F.col("b").alias("comp_raw")),
            "node",
            "left",
        )
        .groupBy("node")
        .agg(F.min("comp_raw").alias("comp_min"))
        .select("node", F.coalesce("comp_min", "node").alias("comp"))
    )
    wc = Window.partitionBy("comp")
    return lab.select(
        F.col("node").alias("item_id"),
        F.col("comp").alias("component_id"),
        F.count(F.lit(1)).over(wc).cast("long").alias("comp_size"),
    )


# --------------------------------------------------------------------------
# M212: k-hop BFS reach from the highest-degree seeds
# --------------------------------------------------------------------------

KHOP_HOPS = 3
KHOP_SEEDS = 5


def _khop_oracle() -> str:
    hops = []
    for h in range(1, KHOP_HOPS + 1):
        p = h - 1
        hops.append(f"""
f{h} AS MATERIALIZED (
  SELECT DISTINCT f.seed, u.v AS node
  FROM f{p} f JOIN und u ON u.u = f.node
  LEFT JOIN vis{p} x ON x.seed = f.seed AND x.node = u.v
  WHERE x.node IS NULL
),
vis{h} AS MATERIALIZED (
  SELECT seed, node FROM vis{p} UNION ALL SELECT seed, node FROM f{h}
)""")
    heads = "\nUNION ALL ".join(
        f"SELECT seed, CAST({h} AS BIGINT) AS hop, CAST(COUNT(*) AS BIGINT) AS n_reached FROM f{h} GROUP BY 1"
        for h in range(1, KHOP_HOPS + 1)
    )
    return f"""
WITH ui AS (
  SELECT o_custkey AS user_id, l_partkey AS item_id
  FROM orders JOIN lineitem ON o_orderkey = l_orderkey
  GROUP BY 1, 2
),
thr AS (
  SELECT GREATEST({TRI_MIN_SUPPORT},
                  CAST(CEIL(COUNT(DISTINCT user_id) / {TRI_USERS_PER_SUPPORT}.0) AS BIGINT)) AS min_c
  FROM ui
),
e0 AS MATERIALIZED (
  SELECT b.item_id AS a, a.item_id AS b
  FROM ui a JOIN ui b ON a.user_id = b.user_id AND a.item_id < b.item_id
  GROUP BY 1, 2 HAVING COUNT(*) >= (SELECT min_c FROM thr)
),
und AS MATERIALIZED (
  SELECT a AS u, b AS v FROM e0 UNION ALL SELECT b, a FROM e0
),
seeds AS (
  SELECT u AS seed FROM (
    SELECT u, ROW_NUMBER() OVER (ORDER BY COUNT(*) DESC, u) AS rnk
    FROM und GROUP BY u
  ) WHERE rnk <= {KHOP_SEEDS}
),
f0 AS (SELECT seed, seed AS node FROM seeds),
vis0 AS (SELECT seed, node FROM f0),{",".join(hops)}
{heads}
"""


@query("q_graph_khop", oracle=_khop_oracle())
def q_graph_khop(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M212: {KHOP_HOPS}-hop BFS reach counts from the {KHOP_SEEDS}
    highest-degree items of the thresholded co-purchase graph — "how far
    does influence spread from the hubs", the frontier-expansion primitive
    under recommendation diversification and graph sampling (and the
    per-seed counterpart of q_graph_components' global labeling).

    Per hop: one edge join keyed on the frontier node, a DISTINCT, and an
    anti-join against the visited set — frontier/visited state is
    (seed x reached)-sized, never data-sized, and the hop count is FIXED
    so both engines unroll identically (exactness never depends on the
    frontier dying out). Visited sets are checkpoint-truncated per
    hop (each hop references the previous state twice; the star_contract
    lineage lesson). Edges and the degree-ranked seeds reuse the shared
    thresholded_edges builder (capped matrix + population-scaled floor),
    so at 100x the per-hop join is bounded by catalog-sized degree, not
    by raw interactions."""
    e0 = thresholded_edges(spark, sf_dir)
    # Byte-derived partition budget for the catalog-sized BFS state —
    # und/frontier/visited otherwise iterate on 32-64 partition checkpoints
    # (measured: three 64-task hop stages, 74-141 s wall, <9 s executor CPU
    # — pure task-launch overhead). See catalog.state_partitions.
    p = state_partitions(e0.count(), row_bytes=16)
    und = checkpoint(
        e0.select(F.col("a").alias("u"), F.col("b").alias("v"))
        .unionAll(e0.select(F.col("b").alias("u"), F.col("a").alias("v")))
        .coalesce(p)
    )
    wd = Window.orderBy(F.col("deg").desc(), "u")
    seeds = (
        und.groupBy("u")
        .agg(F.count(F.lit(1)).alias("deg"))
        .withColumn("rnk", F.row_number().over(wd))
        .where(F.col("rnk") <= KHOP_SEEDS)
        .select(F.col("u").alias("seed"))
    )
    frontier = checkpoint(seeds.select("seed", F.col("seed").alias("node")))
    visited = frontier
    heads = []
    for h in range(1, KHOP_HOPS + 1):
        frontier = checkpoint(
            frontier.join(und, frontier.node == und.u)
            .select("seed", F.col("v").alias("node"))
            .distinct()
            .join(visited, ["seed", "node"], "left_anti")
            .coalesce(p)
        )
        visited = checkpoint(visited.unionAll(frontier).coalesce(p))
        heads.append(
            frontier.groupBy("seed").agg(
                F.lit(h).cast("long").alias("hop"),
                F.count(F.lit(1)).cast("long").alias("n_reached"),
            ).select("seed", "hop", "n_reached")
        )
    out = heads[0]
    for hd in heads[1:]:
        out = out.unionAll(hd)
    return out


# --------------------------------------------------------------------------
# M221: local clustering coefficient per node
# --------------------------------------------------------------------------


@query(
    "q_graph_clustering_coeff",
    oracle=f"""
WITH ui AS (
  SELECT o_custkey AS user_id, l_partkey AS item_id
  FROM orders JOIN lineitem ON o_orderkey = l_orderkey
  GROUP BY 1, 2
),
thr AS (
  SELECT GREATEST({TRI_MIN_SUPPORT},
                  CAST(CEIL(COUNT(DISTINCT user_id) / {TRI_USERS_PER_SUPPORT}.0) AS BIGINT)) AS min_c
  FROM ui
),
e AS MATERIALIZED (
  SELECT a.item_id AS x, b.item_id AS y
  FROM ui a JOIN ui b ON a.user_id = b.user_id AND a.item_id < b.item_id
  GROUP BY 1, 2 HAVING COUNT(*) >= (SELECT min_c FROM thr)
),
deg AS (
  SELECT node, CAST(COUNT(*) AS BIGINT) AS deg FROM (
    SELECT x AS node FROM e UNION ALL SELECT y FROM e
  ) GROUP BY 1
),
tri AS (
  SELECT e1.x AS a, e1.y AS b, e2.y AS c
  FROM e e1
  JOIN e e2 ON e1.y = e2.x
  JOIN e e3 ON e3.x = e1.x AND e3.y = e2.y
),
tcnt AS (
  SELECT item_id, CAST(COUNT(*) AS BIGINT) AS n_triangles FROM (
    SELECT a AS item_id FROM tri
    UNION ALL SELECT b FROM tri
    UNION ALL SELECT c FROM tri
  ) GROUP BY 1
)
SELECT d.node AS item_id, d.deg,
       COALESCE(t.n_triangles, 0) AS n_triangles,
       CAST(ROUND(2e6 * COALESCE(t.n_triangles, 0) / (d.deg * (d.deg - 1)), 0)
            AS BIGINT) AS cc_ppm
FROM deg d LEFT JOIN tcnt t ON t.item_id = d.node
WHERE d.deg >= 2
""",
)
def q_graph_clustering_coeff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M221: local clustering coefficient — per item, how close its
    co-purchase neighborhood is to a clique: C(v) = 2·tri(v) /
    (deg(v)·(deg(v)−1)) for deg ≥ 2, in exact integer ppm. The
    normalized form of q_graph_triangles' raw counts (Watts & Strogatz
    1998's local C), separating genuine community items (high C at
    moderate degree) from mere hubs (high degree, low C).

    Shape: composes the shared thresholded edge set (capped matrix +
    population-scaled floor) with triangle_counts' oriented wedge join
    and one degree aggregate — the ratio is a row-local integer
    expression (2e6·tri exact in int64 through any realistic triangle
    count); nodes with deg 1 are excluded on both engines (C undefined).
    """
    e0 = thresholded_edges(spark, sf_dir)
    e = e0.select(F.col("b").alias("x"), F.col("a").alias("y"))  # x < y canonical
    deg = (
        e.select(F.col("x").alias("node"))
        .unionAll(e.select(F.col("y").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("deg"))
    )
    tcnt = triangle_counts(e)
    return (
        deg.where(F.col("deg") >= 2)
        .join(tcnt, deg.node == tcnt.item_id, "left")
        .select(
            F.col("node").alias("item_id"),
            "deg",
            F.coalesce("n_triangles", F.lit(0)).cast("long").alias("n_triangles"),
            rlong(
                F.lit(2e6)
                * F.coalesce("n_triangles", F.lit(0))
                / (F.col("deg") * (F.col("deg") - 1))
            )
            .cast("long")
            .alias("cc_ppm"),
        )
    )
