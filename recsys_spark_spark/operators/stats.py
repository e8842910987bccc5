"""3.M statistical testing & drift monitoring — the inference
layer an analytics deployment runs on top of the aggregates: two-sample
tests (Welch's t), independence tests (chi-square), distribution-drift
scores (PSI), inequality/concentration measures (Gini), and
non-parametric trend detection (Mann-Kendall). These are the queries a
data team points at 100 TB of fact data to answer "did the experiment
move the metric", "is this feature informative", "has the serving
distribution drifted from training", "how concentrated is revenue",
"is this series trending" — without sampling to a notebook.

Exactness discipline (the repo-wide scaled-integer-sum contract,
functions/determinism.py): every sufficient statistic (n, Σx, Σx²,
contingency counts, bin counts, rank products, sign sums) is an EXACT
integer aggregate in whole currency units — order-independent, so any
shuffle schedule and either engine produces bit-identical inputs to the
final closed-form expression, which is then evaluated over the same IEEE
doubles with the same operation tree on both engines and rounded once
for display. Whole dollars (not cents) keep Σx² < 2^63 through ~sf10
(sf0.1 measured Σx² = 1.25e16); beyond that the same statistics
two-level-aggregate into per-shard partials exactly (they are sums), so
the design scales — only the display literal would change.

No reference file:line citations are possible (the /root/reference
checkout is empty — SURVEY.md §0); capability keys follow SURVEY.md §3.M.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from recsys_spark_spark.catalog import table
from recsys_spark_spark.functions.determinism import rlong
from recsys_spark_spark.registry import query


def _dollars(col: str) -> F.Column:
    """Exact whole-dollar long from a double price column (|x| < 2^51)."""
    return rlong(F.col(col)).cast("long")


# Shared sufficient-statistics blocks — ONE definition each for the Spark
# side and the oracle side, so the tests that share them (t-test/ANOVA on
# dollars; two-proportion z/p-value on conversions) can never drift apart.

DOLLAR_SEG_CTES = """
WITH d AS (
  SELECT c_mktsegment AS segment, CAST(ROUND(o_totalprice, 0) AS BIGINT) AS x
  FROM orders JOIN customer ON o_custkey = c_custkey
),
seg AS (
  SELECT segment, COUNT(*) AS n, CAST(SUM(x) AS BIGINT) AS s1,
         CAST(SUM(x * x) AS BIGINT) AS s2
  FROM d GROUP BY 1
)"""

CONV_SEG_CTES = """
WITH d AS (
  SELECT c_mktsegment AS segment,
         CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END AS conv
  FROM orders JOIN customer ON o_custkey = c_custkey
),
seg AS (
  SELECT segment, COUNT(*) AS n, CAST(SUM(conv) AS BIGINT) AS pos
  FROM d GROUP BY 1
),
tot AS (SELECT SUM(n) AS tn, SUM(pos) AS tp FROM seg)"""


def _segment_dollar_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-segment (n, Σx, Σx²) of whole-dollar order totals — the Spark
    twin of DOLLAR_SEG_CTES, shared by q_stat_ttest and q_stat_anova."""
    o = table(spark, sf_dir, "orders").select("o_custkey", "o_totalprice")
    c = table(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    d = o.join(c, o.o_custkey == c.c_custkey).select(
        F.col("c_mktsegment").alias("segment"), _dollars("o_totalprice").alias("x")
    )
    return d.groupBy("segment").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("s1"),
        F.sum(F.col("x") * F.col("x")).alias("s2"),
    )


def _segment_conv_stats(spark: SparkSession, sf_dir: str):
    """(seg, tot) for the urgent-conversion flag — the Spark twin of
    CONV_SEG_CTES, shared by q_stat_twoprop and q_stat_pvalue. Also
    returns the pooled two-proportion z expression over the joined frame."""
    o = table(spark, sf_dir, "orders").select("o_custkey", "o_orderpriority")
    c = table(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    d = o.join(c, o.o_custkey == c.c_custkey).select(
        F.col("c_mktsegment").alias("segment"),
        F.when(F.col("o_orderpriority") == "1-URGENT", 1)
        .otherwise(0)
        .cast("long")
        .alias("conv"),
    )
    seg = d.groupBy("segment").agg(
        F.count(F.lit(1)).alias("n"), F.sum("conv").alias("pos")
    )
    tot = seg.agg(F.sum("n").alias("tn"), F.sum("pos").alias("tp"))
    p1 = F.col("pos").cast("double") / F.col("n")
    p2 = (F.col("tp") - F.col("pos")).cast("double") / (F.col("tn") - F.col("n"))
    pp = F.col("tp").cast("double") / F.col("tn")
    z = (p1 - p2) / F.sqrt(
        pp * (1 - pp) * (1.0 / F.col("n") + 1.0 / (F.col("tn") - F.col("n")))
    )
    return seg, tot, p1, p2, z


# --------------------------------------------------------------------------
# M130: Welch's two-sample t-test (segment vs rest)
# --------------------------------------------------------------------------


@query(
    "q_stat_ttest",
    oracle=DOLLAR_SEG_CTES
    + """,
tot AS (SELECT SUM(n) AS tn, SUM(s1) AS t1, SUM(s2) AS t2 FROM seg),
w AS (
  SELECT segment, n, tn - n AS nr,
         CAST(s1 AS DOUBLE) / n AS m1,
         CAST(t1 - s1 AS DOUBLE) / (tn - n) AS m2,
         (CAST(s2 AS DOUBLE) - CAST(s1 AS DOUBLE) * (CAST(s1 AS DOUBLE) / n)) / (n - 1) AS v1,
         (CAST(t2 - s2 AS DOUBLE) - CAST(t1 - s1 AS DOUBLE) * (CAST(t1 - s1 AS DOUBLE) / (tn - n))) / (tn - n - 1) AS v2
  FROM seg CROSS JOIN tot
)
SELECT segment, CAST(n AS BIGINT) AS n_seg, CAST(nr AS BIGINT) AS n_rest,
       ROUND((m1 - m2) * 1e6, 0) / 1e6 AS mean_diff,
       ROUND((m1 - m2) / sqrt(v1 / n + v2 / nr) * 1e6, 0) / 1e6 AS t_stat,
       ROUND(pow(v1 / n + v2 / nr, 2)
             / (pow(v1 / n, 2) / (n - 1) + pow(v2 / nr, 2) / (nr - 1)) * 1e6, 0) / 1e6 AS df_welch
FROM w
""",
)
def q_stat_ttest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M130: Welch's unequal-variance t-test of each market segment's mean
    order value against all OTHER segments (one-vs-rest A/B screen):
    t = (m1-m2)/sqrt(v1/n1+v2/n2) with Welch-Satterthwaite df (Welch,
    Biometrika 1947). The experimentation primitive: at 100 TB the raw
    observations never leave the executors — only (n, Σx, Σx²) per arm.

    Shape: ONE map-side-combinable keyed aggregate to 5 segment rows; the
    "rest" arm is the 1-row broadcast total minus the segment's own stats
    (no second scan, no self-join). Exactness: all sufficient statistics
    are exact integer sums in whole dollars; both engines evaluate the
    identical closed form on identical doubles and round once at 6dp."""
    seg = _segment_dollar_stats(spark, sf_dir)
    tot = seg.agg(
        F.sum("n").alias("tn"), F.sum("s1").alias("t1"), F.sum("s2").alias("t2")
    )
    w = seg.join(F.broadcast(tot)).select(
        "segment",
        "n",
        (F.col("tn") - F.col("n")).alias("nr"),
        (F.col("s1").cast("double") / F.col("n")).alias("m1"),
        ((F.col("t1") - F.col("s1")).cast("double") / (F.col("tn") - F.col("n"))).alias("m2"),
        (
            (
                F.col("s2").cast("double")
                - F.col("s1").cast("double") * (F.col("s1").cast("double") / F.col("n"))
            )
            / (F.col("n") - 1)
        ).alias("v1"),
        (
            (
                (F.col("t2") - F.col("s2")).cast("double")
                - (F.col("t1") - F.col("s1")).cast("double")
                * ((F.col("t1") - F.col("s1")).cast("double") / (F.col("tn") - F.col("n")))
            )
            / (F.col("tn") - F.col("n") - 1)
        ).alias("v2"),
    )
    se2 = F.col("v1") / F.col("n") + F.col("v2") / F.col("nr")
    md = F.col("m1") - F.col("m2")
    df_w = F.pow(se2, 2) / (
        F.pow(F.col("v1") / F.col("n"), 2) / (F.col("n") - 1)
        + F.pow(F.col("v2") / F.col("nr"), 2) / (F.col("nr") - 1)
    )
    return w.select(
        "segment",
        F.col("n").cast("long").alias("n_seg"),
        F.col("nr").cast("long").alias("n_rest"),
        (rlong(md * 1e6) / 1e6).alias("mean_diff"),
        (rlong(md / F.sqrt(se2) * 1e6) / 1e6).alias("t_stat"),
        (rlong(df_w * 1e6) / 1e6).alias("df_welch"),
    )


# --------------------------------------------------------------------------
# M131: chi-square test of independence (segment x urgent-priority)
# --------------------------------------------------------------------------


@query(
    "q_stat_chisq",
    oracle="""
WITH d AS (
  SELECT c_mktsegment AS segment,
         CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END AS label
  FROM orders JOIN customer ON o_custkey = c_custkey
),
obs AS (SELECT segment, label, COUNT(*) AS obs FROM d GROUP BY 1, 2),
rt AS (SELECT segment, COUNT(*) AS rt FROM d GROUP BY 1),
ct AS (SELECT label, COUNT(*) AS ct FROM d GROUP BY 1),
tot AS (SELECT COUNT(*) AS n FROM d)
SELECT o.segment, CAST(o.label AS BIGINT) AS label, CAST(o.obs AS BIGINT) AS obs,
       ROUND(CAST(rt AS DOUBLE) * ct / n * 1e6, 0) / 1e6 AS expected,
       ROUND(pow(o.obs - CAST(rt AS DOUBLE) * ct / n, 2)
             / (CAST(rt AS DOUBLE) * ct / n) * 1e9, 0) / 1e9 AS chi2_term
FROM obs o JOIN rt USING (segment) JOIN ct USING (label) CROSS JOIN tot
""",
)
def q_stat_chisq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M131: Pearson chi-square independence test, segment x urgent-flag —
    the categorical feature-relevance screen beside q_woe_iv: per cell
    chi2 term (O-E)^2/E with E = row_total x col_total / N; the table
    statistic is the SUM over these rows and df = (R-1)(C-1).

    Shape: one keyed aggregate to R*C cells, then three broadcast joins
    (R-row, C-row, 1-row) — nothing after the first shuffle exceeds the
    contingency table's size, at any data scale. Exactness: all four
    count tables are exact integers; E and the term evaluate the same
    operation tree on both engines, single display rounding (6dp/9dp)."""
    o = table(spark, sf_dir, "orders").select("o_custkey", "o_orderpriority")
    c = table(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    d = o.join(c, o.o_custkey == c.c_custkey).select(
        F.col("c_mktsegment").alias("segment"),
        F.when(F.col("o_orderpriority") == "1-URGENT", 1)
        .otherwise(0)
        .cast("long")
        .alias("label"),
    )
    obs = d.groupBy("segment", "label").agg(F.count(F.lit(1)).alias("obs"))
    rt = d.groupBy("segment").agg(F.count(F.lit(1)).alias("rt"))
    ct = d.groupBy("label").agg(F.count(F.lit(1)).alias("ct"))
    tot = d.agg(F.count(F.lit(1)).alias("n"))
    exp = F.col("rt").cast("double") * F.col("ct") / F.col("n")
    return (
        obs.join(F.broadcast(rt), "segment")
        .join(F.broadcast(ct), "label")
        .join(F.broadcast(tot))
        .select(
            "segment",
            "label",
            F.col("obs").cast("long").alias("obs"),
            (rlong(exp * 1e6) / 1e6).alias("expected"),
            (rlong(F.pow(F.col("obs") - exp, 2) / exp * 1e9) / 1e9).alias("chi2_term"),
        )
    )


# --------------------------------------------------------------------------
# M132: population stability index (training-vs-serving drift)
# --------------------------------------------------------------------------

PSI_BINS = 10
PSI_SPLIT_YEAR = 1998  # reference period: < split; current period: >= split


@query(
    "q_drift_psi",
    oracle=f"""
WITH d AS (
  SELECT CAST(ROUND(o_totalprice, 0) AS BIGINT) AS x,
         CASE WHEN year(o_orderdate) < {PSI_SPLIT_YEAR} THEN 1 ELSE 0 END AS is_ref
  FROM orders
),
mx AS (SELECT MAX(x) AS mx FROM d),
b AS (
  SELECT LEAST({PSI_BINS - 1}, CAST((x * {PSI_BINS}) // (mx + 1) AS BIGINT)) AS bin,
         is_ref
  FROM d CROSS JOIN mx
),
cnt AS (
  SELECT bin, SUM(is_ref) AS ref_cnt, SUM(1 - is_ref) AS cur_cnt
  FROM b GROUP BY 1
),
tot AS (SELECT SUM(ref_cnt) AS rn, SUM(cur_cnt) AS cn FROM cnt)
SELECT bin, CAST(ref_cnt AS BIGINT) AS ref_cnt, CAST(cur_cnt AS BIGINT) AS cur_cnt,
       ROUND(((cur_cnt + 0.5) / (cn + {PSI_BINS} * 0.5)
              - (ref_cnt + 0.5) / (rn + {PSI_BINS} * 0.5))
             * ln(((cur_cnt + 0.5) / (cn + {PSI_BINS} * 0.5))
                  / ((ref_cnt + 0.5) / (rn + {PSI_BINS} * 0.5))) * 1e9, 0) / 1e9 AS psi_term
FROM cnt CROSS JOIN tot
""",
)
def q_drift_psi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M132: population stability index of the order-value distribution,
    reference period (pre-1998) vs current (1998+): PSI = sum over bins of
    (p_cur - p_ref) * ln(p_cur / p_ref), the standard model-monitoring
    drift score (>0.25 = retrain). Haldane +0.5 smoothing keeps empty
    bins finite on both engines.

    Shape: value->bin is pure integer arithmetic against a broadcast
    1-row max (bin = x*B // (mx+1), exact — no doubles, no percentile
    sketch), then ONE keyed aggregate emits both periods' counts per bin
    (no per-period scan, no join between periods); totals are a broadcast
    1-row aggregate over the B-row table. Nothing after the first shuffle
    exceeds B rows at any scale. x >= 0 by data (order totals), so
    truncating and flooring integer division agree on both engines
    (guarded in tests)."""
    o = table(spark, sf_dir, "orders").select("o_totalprice", "o_orderdate")
    d = o.select(
        _dollars("o_totalprice").alias("x"),
        F.when(F.year("o_orderdate") < PSI_SPLIT_YEAR, 1)
        .otherwise(0)
        .cast("long")
        .alias("is_ref"),
    )
    mx = d.agg(F.max("x").alias("mx"))
    b = d.join(F.broadcast(mx)).select(
        F.least(
            F.lit(PSI_BINS - 1),
            F.expr(f"CAST((x * {PSI_BINS}) DIV (mx + 1) AS BIGINT)"),
        ).alias("bin"),
        "is_ref",
    )
    cnt = b.groupBy("bin").agg(
        F.sum("is_ref").alias("ref_cnt"),
        F.sum(F.lit(1) - F.col("is_ref")).alias("cur_cnt"),
    )
    tot = cnt.agg(F.sum("ref_cnt").alias("rn"), F.sum("cur_cnt").alias("cn"))
    smooth = PSI_BINS * 0.5
    pr = (F.col("ref_cnt") + 0.5) / (F.col("rn") + smooth)
    pc = (F.col("cur_cnt") + 0.5) / (F.col("cn") + smooth)
    return cnt.join(F.broadcast(tot)).select(
        "bin",
        F.col("ref_cnt").cast("long").alias("ref_cnt"),
        F.col("cur_cnt").cast("long").alias("cur_cnt"),
        (rlong((pc - pr) * F.log(pc / pr) * 1e9) / 1e9).alias("psi_term"),
    )


# --------------------------------------------------------------------------
# M133: Gini coefficient of customer revenue concentration
# --------------------------------------------------------------------------


@query(
    "q_gini_concentration",
    oracle="""
WITH rev AS (
  SELECT c_custkey,
         COALESCE(SUM(CAST(ROUND(o_totalprice, 0) AS BIGINT)), 0) AS rev
  FROM customer LEFT JOIN orders ON c_custkey = o_custkey
  GROUP BY 1
),
ranked AS (
  SELECT rev, ROW_NUMBER() OVER (ORDER BY rev ASC, c_custkey ASC) AS i FROM rev
),
s AS (
  SELECT COUNT(*) AS n, CAST(SUM(rev) AS BIGINT) AS total,
         CAST(SUM(i * rev) AS BIGINT) AS weighted
  FROM ranked
)
SELECT CAST(n AS BIGINT) AS n_customers, total AS total_rev,
       ROUND((2.0 * weighted / (CAST(n AS DOUBLE) * total)
              - (n + 1.0) / n) * 1e9, 0) / 1e9 AS gini
FROM s
""",
)
def q_gini_concentration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M133: Gini coefficient of lifetime-revenue concentration across ALL
    customers (zero-revenue customers included): the rank-weighted form
    G = 2*sum(i*x_i)/(n*sum(x)) - (n+1)/n over x sorted ascending — the
    inequality measure behind "top 1% of users drive X% of revenue".

    Shape: ranks come from operators.sorts.global_rank (value-bucketed
    distributed rank — never an unpartitioned window; the q_sort_multi /
    q_decile_lift primitive), then one mergeable aggregate folds
    (n, sum x, sum i*x) to a single row. Within tied revenue values
    sum(i*x) is invariant to tiebreak order (the tied ranks multiply the
    SAME x), so the arbitrary-but-deterministic c_custkey tiebreak cannot
    diverge the engines. Whole dollars keep sum(i*x) < 2^63 through
    ~sf10 (sf0.1: i <= 15e3, per-customer rev <= ~5e6 -> < 1e14)."""
    from recsys_spark_spark.operators.sorts import global_rank

    c = table(spark, sf_dir, "customer").select("c_custkey")
    o = table(spark, sf_dir, "orders").select("o_custkey", "o_totalprice")
    rev = (
        c.join(o, c.c_custkey == o.o_custkey, "left")
        .groupBy("c_custkey")
        .agg(F.coalesce(F.sum(_dollars("o_totalprice")), F.lit(0)).alias("rev"))
    )
    ranked = global_rank(
        spark, rev, value_col="rev", tiebreak="c_custkey", pos_col="i", descending=False
    )
    s = ranked.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("rev").alias("total"),
        F.sum(F.col("i") * F.col("rev")).alias("weighted"),
    )
    gini = (
        2.0 * F.col("weighted") / (F.col("n").cast("double") * F.col("total"))
        - (F.col("n") + 1.0) / F.col("n")
    )
    return s.select(
        F.col("n").cast("long").alias("n_customers"),
        F.col("total").cast("long").alias("total_rev"),
        (rlong(gini * 1e9) / 1e9).alias("gini"),
    )


# --------------------------------------------------------------------------
# M134: Mann-Kendall trend test on per-segment monthly revenue
# --------------------------------------------------------------------------


@query(
    "q_stat_mann_kendall",
    oracle="""
WITH m AS (
  SELECT c_mktsegment AS segment, date_trunc('month', o_orderdate) AS mon,
         CAST(SUM(CAST(ROUND(o_totalprice, 0) AS BIGINT)) AS BIGINT) AS rev
  FROM orders JOIN customer ON o_custkey = c_custkey
  GROUP BY 1, 2
),
pairs AS (
  SELECT a.segment,
         SUM(CASE WHEN b.rev > a.rev THEN 1 WHEN b.rev < a.rev THEN -1 ELSE 0 END) AS s
  FROM m a JOIN m b ON a.segment = b.segment AND a.mon < b.mon
  GROUP BY 1
),
n AS (SELECT segment, COUNT(*) AS n FROM m GROUP BY 1),
ties AS (
  SELECT segment,
         COALESCE(SUM(t * (t - 1) * (2 * t + 5)), 0) AS tie_adj
  FROM (SELECT segment, rev, COUNT(*) AS t FROM m GROUP BY 1, 2 HAVING COUNT(*) > 1)
  GROUP BY 1
),
w AS (
  SELECT p.segment, p.s, n.n,
         (CAST(n.n AS DOUBLE) * (n.n - 1) * (2 * n.n + 5) - COALESCE(tie_adj, 0)) / 18 AS var_s
  FROM pairs p JOIN n USING (segment) LEFT JOIN ties USING (segment)
)
SELECT segment, CAST(n AS BIGINT) AS n_months, CAST(s AS BIGINT) AS s_stat,
       ROUND(var_s * 1e6, 0) / 1e6 AS var_s,
       ROUND(CASE WHEN s > 0 THEN (s - 1) / sqrt(var_s)
                  WHEN s < 0 THEN (s + 1) / sqrt(var_s)
                  ELSE 0.0 END * 1e6, 0) / 1e6 AS z_stat
FROM w
""",
)
def q_stat_mann_kendall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M134: Mann-Kendall non-parametric trend test (Mann 1945, Kendall
    1975) on each segment's MONTHLY revenue series: S = sum over ordered
    pairs of sgn(x_j - x_i), Var(S) = [n(n-1)(2n+5) - tie term]/18,
    continuity-corrected z. The "is this KPI actually trending" screen —
    robust to outliers and needs no distributional assumption.

    Shape: the raw facts collapse FIRST to a per-(segment, month) exact
    integer series (one keyed aggregate; at any data scale this is
    segments x months rows — bounded by the calendar, ~80 months here),
    and only that bounded series self-joins for the O(n_months^2) pair
    scan, keyed on segment. The quadratic term never touches fact-scale
    data — same boundedness argument as q_graph_pagerank's edge cap.
    Exactness: S and the tie term are exact integer sums; var/z evaluate
    identical doubles both engines, rounded once at 6dp."""
    o = table(spark, sf_dir, "orders").select(
        "o_custkey", "o_totalprice", "o_orderdate"
    )
    c = table(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    m = (
        o.join(c, o.o_custkey == c.c_custkey)
        .groupBy(
            F.col("c_mktsegment").alias("segment"),
            F.date_trunc("month", "o_orderdate").alias("mon"),
        )
        .agg(F.sum(_dollars("o_totalprice")).alias("rev"))
    )
    a, b = m.alias("a"), m.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.segment") == F.col("b.segment"))
            & (F.col("a.mon") < F.col("b.mon")),
        )
        .groupBy(F.col("a.segment").alias("segment"))
        .agg(
            F.sum(
                F.when(F.col("b.rev") > F.col("a.rev"), 1)
                .when(F.col("b.rev") < F.col("a.rev"), -1)
                .otherwise(0)
            ).alias("s")
        )
    )
    n = m.groupBy("segment").agg(F.count(F.lit(1)).alias("n"))
    t = F.col("t")
    ties = (
        m.groupBy("segment", "rev")
        .agg(F.count(F.lit(1)).alias("t"))
        .where(t > 1)
        .groupBy("segment")
        .agg(F.sum(t * (t - 1) * (2 * t + 5)).alias("tie_adj"))
    )
    nn = F.col("n")
    w = (
        pairs.join(n, "segment")
        .join(ties, "segment", "left")
        .select(
            "segment",
            "s",
            "n",
            (
                (nn.cast("double") * (nn - 1) * (2 * nn + 5) - F.coalesce("tie_adj", F.lit(0)))
                / 18
            ).alias("var_s"),
        )
    )
    s = F.col("s")
    z = (
        F.when(s > 0, (s - 1) / F.sqrt("var_s"))
        .when(s < 0, (s + 1) / F.sqrt("var_s"))
        .otherwise(0.0)
    )
    return w.select(
        "segment",
        nn.cast("long").alias("n_months"),
        s.cast("long").alias("s_stat"),
        (rlong(F.col("var_s") * 1e6) / 1e6).alias("var_s"),
        (rlong(z * 1e6) / 1e6).alias("z_stat"),
    )


# --------------------------------------------------------------------------
# M137: Benford first-digit audit
# --------------------------------------------------------------------------

# One definition of the nine expected shares for BOTH engines: python-computed
# double literals embedded verbatim in the oracle SQL and the Spark plan, so
# no cross-engine log10 libm difference can ever enter the comparison.
import math as _math

BENFORD_P = {d: _math.log10(1.0 + 1.0 / d) for d in range(1, 10)}
_BENFORD_SQL_CASE = "CASE digit " + " ".join(
    f"WHEN {d} THEN {p!r}" for d, p in BENFORD_P.items()
) + " END"


@query(
    "q_audit_benford",
    oracle=f"""
WITH d AS (
  SELECT CAST(SUBSTR(CAST(CAST(ROUND(o_totalprice, 0) AS BIGINT) AS VARCHAR), 1, 1) AS BIGINT) AS digit
  FROM orders WHERE o_totalprice > 0
),
obs AS (SELECT digit, COUNT(*) AS obs FROM d GROUP BY 1),
tot AS (SELECT SUM(obs) AS n FROM obs)
SELECT digit, CAST(obs AS BIGINT) AS obs,
       ROUND(({_BENFORD_SQL_CASE}) * n * 1e6, 0) / 1e6 AS expected,
       ROUND(pow(obs - ({_BENFORD_SQL_CASE}) * n, 2)
             / (({_BENFORD_SQL_CASE}) * n) * 1e9, 0) / 1e9 AS chi2_term
FROM obs CROSS JOIN tot
""",
)
def q_audit_benford(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M137: Benford's-law first-digit audit of order totals — the classic
    fabricated-data / upstream-corruption screen (Benford 1938, Nigrini's
    forensic-accounting use): observed first-significant-digit counts vs
    N*log10(1+1/d), with per-digit chi-square terms (sum = the audit
    statistic, df=8).

    Shape: digit extraction is a row-local string op, then ONE keyed
    aggregate to <= 9 rows and a 1-row broadcast total — output-sized
    from the first shuffle on. Cross-engine exactness: the nine expected
    shares are PYTHON-computed double literals embedded in both plans
    (BENFORD_P), so no libm log10 difference can enter; obs counts are
    exact integers and the closed form evaluates identical doubles."""
    o = table(spark, sf_dir, "orders").where(F.col("o_totalprice") > 0)
    d = o.select(
        F.substring(_dollars("o_totalprice").cast("string"), 1, 1)
        .cast("long")
        .alias("digit")
    )
    obs = d.groupBy("digit").agg(F.count(F.lit(1)).alias("obs"))
    tot = obs.agg(F.sum("obs").alias("n"))
    p = F.col("digit")
    share = F.when(p == 1, F.lit(BENFORD_P[1]))
    for dd in range(2, 10):
        share = share.when(p == dd, F.lit(BENFORD_P[dd]))
    exp = share * F.col("n")
    return obs.join(F.broadcast(tot)).select(
        "digit",
        F.col("obs").cast("long").alias("obs"),
        (rlong(exp * 1e6) / 1e6).alias("expected"),
        (rlong(F.pow(F.col("obs") - exp, 2) / exp * 1e9) / 1e9).alias("chi2_term"),
    )


# --------------------------------------------------------------------------
# M140: two-proportion z-test (conversion-rate A/B)
# --------------------------------------------------------------------------


@query(
    "q_stat_twoprop",
    oracle=CONV_SEG_CTES
    + """
SELECT segment, CAST(n AS BIGINT) AS n_seg, CAST(pos AS BIGINT) AS conv_seg,
       ROUND(CAST(pos AS DOUBLE) / n * 1e6, 0) / 1e6 AS rate_seg,
       ROUND(CAST(tp - pos AS DOUBLE) / (tn - n) * 1e6, 0) / 1e6 AS rate_rest,
       ROUND((CAST(pos AS DOUBLE) / n - CAST(tp - pos AS DOUBLE) / (tn - n))
             / sqrt((CAST(tp AS DOUBLE) / tn) * (1 - CAST(tp AS DOUBLE) / tn)
                    * (1.0 / n + 1.0 / (tn - n))) * 1e6, 0) / 1e6 AS z_stat
FROM seg CROSS JOIN tot
""",
)
def q_stat_twoprop(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M140: pooled two-proportion z-test of each segment's urgent-order
    (conversion) rate vs the rest — THE conversion A/B primitive:
    z = (p1-p2)/sqrt(p(1-p)(1/n1+1/n2)) with p pooled. Complements
    q_stat_ttest (means) and q_stat_chisq (the squared-z analogue on the
    same table).

    Shape: one keyed aggregate to (n, conversions) per arm; the rest arm
    is broadcast-total minus own row — raw rows never leave the first
    aggregate, at any scale. Exactness: counts are exact integers; both
    engines evaluate one identical closed form, one 6dp rounding."""
    seg, tot, p1, p2, z = _segment_conv_stats(spark, sf_dir)
    return seg.join(F.broadcast(tot)).select(
        "segment",
        F.col("n").cast("long").alias("n_seg"),
        F.col("pos").cast("long").alias("conv_seg"),
        (rlong(p1 * 1e6) / 1e6).alias("rate_seg"),
        (rlong(p2 * 1e6) / 1e6).alias("rate_rest"),
        (rlong(z * 1e6) / 1e6).alias("z_stat"),
    )


# --------------------------------------------------------------------------
# M144: grouped OLS — discount elasticity of demand per brand
# --------------------------------------------------------------------------


@query(
    "q_price_elasticity",
    oracle="""
WITH d AS (
  SELECT p_brand,
         CAST(ROUND(l_discount * 100, 0) AS BIGINT) AS x,
         CAST(ROUND(l_quantity, 0) AS BIGINT) AS y
  FROM lineitem JOIN part ON l_partkey = p_partkey
),
s AS (
  SELECT p_brand, COUNT(*) AS n,
         CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy,
         CAST(SUM(x * y) AS BIGINT) AS sxy,
         CAST(SUM(x * x) AS BIGINT) AS sxx, CAST(SUM(y * y) AS BIGINT) AS syy
  FROM d GROUP BY 1
)
SELECT p_brand, CAST(n AS BIGINT) AS n_lines,
       ROUND((CAST(n AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy)
             / (CAST(n AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx) * 1e6, 0) / 1e6 AS slope_qty_per_pct,
       ROUND((CAST(sy AS DOUBLE) - ((CAST(n AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy)
             / (CAST(n AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx)) * sx) / n * 1e6, 0) / 1e6 AS intercept_qty,
       ROUND(pow(CAST(n AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy, 2)
             / ((CAST(n AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx)
                * (CAST(n AS DOUBLE) * syy - CAST(sy AS DOUBLE) * sy)) * 1e6, 0) / 1e6 AS r2
FROM s
""",
)
def q_price_elasticity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M144: per-brand OLS regression of quantity on discount percent —
    the demand-elasticity screen ("does discounting this brand move
    volume?"), and the grouped-regression operator itself: one keyed
    aggregate folds each group to the 6 OLS sufficient statistics
    (n, Σx, Σy, Σxy, Σx², Σy²), then slope/intercept/R² close in
    constant time per group. Completes the regression family: q_agg_corr
    (r), q_text_zipf (global fit) → per-group fit.

    Shape: one map-side-combinable aggregate; output is brand-count-sized
    regardless of fact volume, and the statistics are mergeable (sums),
    so the same plan two-level-aggregates at any scale. Exactness:
    discount percent (0..10) and quantity (1..50) are exact small
    integers — every sum < 2^63 through sf10000 — and both engines
    evaluate the identical closed form, one 6dp rounding."""
    l = table(spark, sf_dir, "lineitem").select("l_partkey", "l_discount", "l_quantity")
    p = table(spark, sf_dir, "part").select("p_partkey", "p_brand")
    d = l.join(p, l.l_partkey == p.p_partkey).select(
        "p_brand",
        rlong(F.col("l_discount") * 100).cast("long").alias("x"),
        rlong(F.col("l_quantity")).cast("long").alias("y"),
    )
    s = d.groupBy("p_brand").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
    )
    nd = F.col("n").cast("double")
    sxd, syd = F.col("sx").cast("double"), F.col("sy").cast("double")
    num = nd * F.col("sxy") - sxd * F.col("sy")
    denx = nd * F.col("sxx") - sxd * F.col("sx")
    deny = nd * F.col("syy") - syd * F.col("sy")
    slope = num / denx
    return s.select(
        "p_brand",
        F.col("n").cast("long").alias("n_lines"),
        (rlong(slope * 1e6) / 1e6).alias("slope_qty_per_pct"),
        (rlong((syd - slope * F.col("sx")) / F.col("n") * 1e6) / 1e6).alias("intercept_qty"),
        (rlong(F.pow(num, 2) / (denx * deny) * 1e6) / 1e6).alias("r2"),
    )


# --------------------------------------------------------------------------
# M149: exact two-sample Kolmogorov-Smirnov drift test
# --------------------------------------------------------------------------


@query(
    "q_stat_ks",
    oracle=f"""
WITH d AS (
  SELECT CAST(ROUND(o_totalprice, 0) AS BIGINT) AS x,
         CASE WHEN year(o_orderdate) < {PSI_SPLIT_YEAR} THEN 1 ELSE 0 END AS is_ref
  FROM orders
),
v AS (
  SELECT x, CAST(SUM(is_ref) AS BIGINT) AS c1, CAST(SUM(1 - is_ref) AS BIGINT) AS c2
  FROM d GROUP BY 1
),
c AS (
  SELECT x,
         CAST(SUM(c1) OVER (ORDER BY x ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum1,
         CAST(SUM(c2) OVER (ORDER BY x ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum2
  FROM v
),
tot AS (SELECT CAST(SUM(c1) AS BIGINT) AS n1, CAST(SUM(c2) AS BIGINT) AS n2 FROM v),
scored AS (
  SELECT x, ABS(cum1 * n2 - cum2 * n1) AS dnum, n1, n2
  FROM c CROSS JOIN tot
)
SELECT x AS x_at_max, CAST(dnum AS BIGINT) AS d_num,
       CAST(n1 AS BIGINT) AS n_ref, CAST(n2 AS BIGINT) AS n_cur,
       ROUND(CAST(dnum AS DOUBLE) / (CAST(n1 AS DOUBLE) * n2) * 1e9, 0) / 1e9 AS ks_stat
FROM scored ORDER BY dnum DESC, x ASC LIMIT 1
""",
)
def q_stat_ks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M149: exact two-sample Kolmogorov-Smirnov statistic between the
    pre/post-{PSI_SPLIT_YEAR} order-value distributions (same split as
    q_drift_psi — KS is its binning-free exact complement):
    D = max_x |F_ref(x) - F_cur(x)|, located at the reported x. The
    whole computation is INTEGER: the max runs over
    |cum1*n2 - cum2*n1|, so the supremum location and value are decided
    without a single float comparison; only the final display ratio
    divides.

    Shape: facts collapse to one row per DISTINCT value (keyed agg);
    both ECDFs come from ONE value-bucketed distributed prefix-sum pass
    (operators.sorts.ordered_prefix_sums — the multi-column form of the
    q_part_abc primitive; never an unpartitioned running window); the
    argmax is orderBy+limit 1 (TakeOrdered), ties broken by smallest x."""
    from recsys_spark_spark.operators.sorts import ordered_prefix_sums

    o = table(spark, sf_dir, "orders").select("o_totalprice", "o_orderdate")
    d = o.select(
        _dollars("o_totalprice").alias("x"),
        F.when(F.year("o_orderdate") < PSI_SPLIT_YEAR, 1)
        .otherwise(0)
        .cast("long")
        .alias("is_ref"),
    )
    v = d.groupBy("x").agg(
        F.sum("is_ref").alias("c1"),
        F.sum(F.lit(1) - F.col("is_ref")).alias("c2"),
    )
    c = ordered_prefix_sums(
        spark, v, order_col="x", tiebreak="x",
        sum_cols={"c1": "cum1", "c2": "cum2"}, descending=False,
    )
    tot = v.agg(F.sum("c1").alias("n1"), F.sum("c2").alias("n2"))
    scored = c.join(F.broadcast(tot)).select(
        "x",
        F.abs(F.col("cum1") * F.col("n2") - F.col("cum2") * F.col("n1")).alias("dnum"),
        "n1",
        "n2",
    )
    top = scored.orderBy(F.col("dnum").desc(), F.col("x").asc()).limit(1)
    return top.select(
        F.col("x").alias("x_at_max"),
        F.col("dnum").cast("long").alias("d_num"),
        F.col("n1").cast("long").alias("n_ref"),
        F.col("n2").cast("long").alias("n_cur"),
        (
            rlong(
                F.col("dnum").cast("double")
                / (F.col("n1").cast("double") * F.col("n2"))
                * 1e9
            )
            / 1e9
        ).alias("ks_stat"),
    )


# --------------------------------------------------------------------------
# M153: Kaplan-Meier survival curve (customer churn)
# --------------------------------------------------------------------------

KM_CHURN_QUIET_DAYS = 90  # last order this close to corpus end = censored


@query(
    "q_survival_km",
    oracle=f"""
WITH mx AS (SELECT MAX(CAST(o_orderdate AS DATE)) AS mxd FROM orders),
cust AS (
  SELECT o_custkey, c_mktsegment AS segment,
         date_diff('day', MIN(CAST(o_orderdate AS DATE)), MAX(CAST(o_orderdate AS DATE))) AS t,
         CASE WHEN date_diff('day', MAX(CAST(o_orderdate AS DATE)), mxd)
                   > {KM_CHURN_QUIET_DAYS} THEN 1 ELSE 0 END AS churned
  FROM orders JOIN customer ON o_custkey = c_custkey CROSS JOIN mx
  GROUP BY o_custkey, c_mktsegment, mxd
),
seg_n AS (SELECT segment, COUNT(*) AS n0 FROM cust GROUP BY 1),
ev AS (
  SELECT segment, t, CAST(SUM(churned) AS BIGINT) AS d, COUNT(*) AS c
  FROM cust GROUP BY 1, 2
),
risk AS (
  SELECT e.segment, e.t, e.d, n0,
         n0 - (CAST(SUM(c) OVER (PARTITION BY e.segment ORDER BY e.t
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) - c) AS n_risk
  FROM ev e JOIN seg_n USING (segment)
),
lnterm AS (
  SELECT segment, t, d, n_risk,
         CAST(ROUND(ln((n_risk - d) / CAST(n_risk AS DOUBLE)) * 1e9, 0) AS BIGINT) AS ln_nano
  FROM risk WHERE d > 0
),
surv AS (
  SELECT segment, t, d, n_risk,
         CAST(SUM(ln_nano) OVER (PARTITION BY segment ORDER BY t
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_nano
  FROM lnterm
)
SELECT segment, CAST(t AS BIGINT) AS t_days, CAST(d AS BIGINT) AS n_churned,
       CAST(n_risk AS BIGINT) AS n_at_risk,
       ROUND(exp(cum_nano / 1e9) * 1e6, 0) / 1e6 AS survival
FROM surv
""",
)
def q_survival_km(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M153: Kaplan-Meier survival estimate (Kaplan & Meier 1958) of
    customer lifetime per segment — time t = days from first to last
    order; a customer whose last order is within {KM_CHURN_QUIET_DAYS}
    days of corpus end is CENSORED (still alive), else churned at t.
    S(t) = prod over churn times <= t of (1 - d_i/n_i), with censored
    customers leaving the risk set silently — the churn curve that naive
    "retention = active/total" tables get wrong.

    Shape: facts collapse to one (t, churned) row per customer, then to
    one row per (segment, t) — calendar-bounded; the at-risk count and
    the survival product both ride SEGMENT-keyed ordered windows over
    that bounded series (n_risk = n0 - prior exits; the product as a
    cumulative sum of per-step ln terms). Exactness: d and n_risk are
    exact integers; each ln((n-d)/n) is nano-rounded to an INTEGER
    before the running sum (the q_text_perplexity pre-sum discipline) so
    the cumulative product is order-hazard-free; exp + one 6dp rounding
    at display."""
    o = table(spark, sf_dir, "orders").select(
        "o_custkey", F.to_date("o_orderdate").alias("day")
    )
    c = table(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    mx = o.agg(F.max("day").alias("mxd"))
    cust = (
        o.join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(mx))
        .groupBy("o_custkey", F.col("c_mktsegment").alias("segment"))
        .agg(
            F.datediff(F.max("day"), F.min("day")).alias("t"),
            F.when(
                F.datediff(F.max(F.col("mxd")), F.max("day")) > KM_CHURN_QUIET_DAYS, 1
            )
            .otherwise(0)
            .cast("long")
            .alias("churned"),
        )
    )
    seg_n = cust.groupBy("segment").agg(F.count(F.lit(1)).alias("n0"))
    ev = cust.groupBy("segment", "t").agg(
        F.sum("churned").alias("d"), F.count(F.lit(1)).alias("c")
    )
    wcum = (
        Window.partitionBy("segment")
        .orderBy("t")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    risk = ev.join(F.broadcast(seg_n), "segment").select(
        "segment",
        "t",
        "d",
        (F.col("n0") - (F.sum("c").over(wcum) - F.col("c"))).cast("long").alias("n_risk"),
    )
    lnterm = risk.where(F.col("d") > 0).select(
        "segment",
        "t",
        "d",
        "n_risk",
        rlong(
            F.log((F.col("n_risk") - F.col("d")) / F.col("n_risk").cast("double"))
            * 1e9
        )
        .cast("long")
        .alias("ln_nano"),
    )
    surv = lnterm.select(
        "segment",
        "t",
        "d",
        "n_risk",
        F.sum("ln_nano").over(wcum).cast("long").alias("cum_nano"),
    )
    return surv.select(
        "segment",
        F.col("t").cast("long").alias("t_days"),
        F.col("d").cast("long").alias("n_churned"),
        F.col("n_risk").cast("long").alias("n_at_risk"),
        (rlong(F.exp(F.col("cum_nano") / 1e9) * 1e6) / 1e6).alias("survival"),
    )


# --------------------------------------------------------------------------
# M156: two-sided p-values + Bonferroni verdicts for the conversion tests
# --------------------------------------------------------------------------

# Zelen & Severo normal-CDF polynomial (Abramowitz & Stegun 26.2.17,
# |eps| < 7.5e-8) — ONE set of double literals embedded in BOTH engines'
# plans, so the approximation is bit-identical across engines by
# construction (the q_audit_benford constant discipline).
_AS_P = 0.2316419
_AS_B = (0.319381530, -0.356563782, 1.781477937, -1.821255978, 1.330274429)
_INV_SQRT_2PI = 0.3989422804014327


def _phi_sql(z: str) -> str:
    """DuckDB upper-tail P(Z > z) for z >= 0 via A&S 26.2.17."""
    t = f"(1.0 / (1.0 + {_AS_P!r} * ({z})))"
    poly = " + ".join(f"{b!r} * pow({t}, {i + 1})" for i, b in enumerate(_AS_B))
    return f"({_INV_SQRT_2PI!r} * exp(-0.5 * ({z}) * ({z})) * ({poly}))"


def _phi_col(z):
    """Spark twin of :func:`_phi_sql` — same literals, same tree."""
    t = 1.0 / (1.0 + _AS_P * z)
    poly = None
    for i, b in enumerate(_AS_B):
        term = F.lit(b) * F.pow(t, float(i + 1))
        poly = term if poly is None else poly + term
    return F.lit(_INV_SQRT_2PI) * F.exp(-0.5 * z * z) * poly


BONF_M = 5  # five one-vs-rest comparisons share the alpha
ALPHA = 0.05


@query(
    "q_stat_pvalue",
    oracle=CONV_SEG_CTES
    + f""",
z AS (
  SELECT segment,
         (CAST(pos AS DOUBLE) / n - CAST(tp - pos AS DOUBLE) / (tn - n))
         / sqrt((CAST(tp AS DOUBLE) / tn) * (1 - CAST(tp AS DOUBLE) / tn)
                * (1.0 / n + 1.0 / (tn - n))) AS z
  FROM seg CROSS JOIN tot
),
p AS (
  SELECT segment, z, 2 * {_phi_sql("abs(z)")} AS p2
  FROM z
)
SELECT segment, ROUND(z * 1e6, 0) / 1e6 AS z_stat,
       ROUND(p2 * 1e9, 0) / 1e9 AS p_two_sided,
       CAST(CASE WHEN p2 < {ALPHA!r} THEN 1 ELSE 0 END AS BIGINT) AS significant,
       CAST(CASE WHEN p2 * {BONF_M} < {ALPHA!r} THEN 1 ELSE 0 END AS BIGINT) AS significant_bonferroni
FROM p
""",
)
def q_stat_pvalue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M156: two-sided p-values and multiple-testing verdicts for the
    one-vs-rest conversion z-tests (q_stat_twoprop's statistics carried
    to decisions): p = 2*P(Z > |z|) via the Zelen-Severo normal-CDF
    polynomial (A&S 26.2.17, |eps| < 7.5e-8 — far inside the 9dp display
    rounding), plus raw alpha=0.05 and Bonferroni (m={BONF_M}) verdicts.
    The polynomial's coefficients are ONE set of python double literals
    embedded in both engines' plans, so the approximation is identical
    across engines by construction.

    Shape: identical to q_stat_twoprop — one keyed aggregate + broadcast
    totals; the CDF is pure row-local arithmetic. The verdict compares
    the UNROUNDED p against alpha on both engines (same doubles), so the
    flags cannot straddle a display rounding."""
    seg, tot, _p1, _p2, z = _segment_conv_stats(spark, sf_dir)
    withz = seg.join(F.broadcast(tot)).select("segment", z.alias("z"))
    ptwo = 2 * _phi_col(F.abs(F.col("z")))
    return withz.select(
        "segment",
        (rlong(F.col("z") * 1e6) / 1e6).alias("z_stat"),
        (rlong(ptwo * 1e9) / 1e9).alias("p_two_sided"),
        F.when(ptwo < ALPHA, 1).otherwise(0).cast("long").alias("significant"),
        F.when(ptwo * BONF_M < ALPHA, 1)
        .otherwise(0)
        .cast("long")
        .alias("significant_bonferroni"),
    )


# --------------------------------------------------------------------------
# M157: one-way ANOVA across segments
# --------------------------------------------------------------------------


@query(
    "q_stat_anova",
    oracle=DOLLAR_SEG_CTES
    + """,
terms AS (
  SELECT n, s1, s2,
         CAST(ROUND(CAST(s1 AS DOUBLE) * s1 / n, 0) AS BIGINT) AS t_int
  FROM seg
),
s AS (
  SELECT COUNT(*) AS k, SUM(n) AS nt, CAST(SUM(s1) AS BIGINT) AS t1,
         CAST(SUM(s2) AS BIGINT) AS t2, CAST(SUM(t_int) AS BIGINT) AS tsum
  FROM terms
),
f AS (
  SELECT k, nt,
         tsum - CAST(t1 AS DOUBLE) * t1 / nt AS ssb,
         CAST(t2 AS DOUBLE) - tsum AS ssw,
         CAST(t2 AS DOUBLE) - CAST(t1 AS DOUBLE) * t1 / nt AS sst
  FROM s
)
SELECT CAST(k AS BIGINT) AS k_groups, CAST(nt AS BIGINT) AS n_total,
       CAST(k - 1 AS BIGINT) AS df_between, CAST(nt - k AS BIGINT) AS df_within,
       ROUND((ssb / (k - 1)) / (ssw / (nt - k)) * 1e6, 0) / 1e6 AS f_stat,
       ROUND(ssb / sst * 1e9, 0) / 1e9 AS eta_squared
FROM f
""",
)
def q_stat_anova(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M157: one-way ANOVA of order value across the market segments
    (Fisher): F = (SSB/(k-1)) / (SSW/(N-k)) with effect size
    eta² = SSB/SST — the k-group generalization of q_stat_ttest, deciding
    "does segment matter AT ALL" before pairwise tests.

    Shape: the same (n, Σx, Σx²) sufficient statistics per group, one
    broadcast-free second aggregate over k rows. Exactness: the one
    cross-group float sum (Σ_g s1_g²/n_g, whose addition order a hash
    aggregate cannot pin) is ROUNDED TO AN INTEGER PER GROUP before
    summation — the q_text_perplexity pre-sum discipline, here at unit
    scale (terms ~1e15, error ±0.5/group vs 6dp display of an O(1..100)
    F: nine orders of magnitude of headroom) — so every engine-side sum
    is exact and the closed form runs on identical doubles."""
    seg = _segment_dollar_stats(spark, sf_dir)
    terms = seg.select(
        "n",
        "s1",
        "s2",
        rlong(F.col("s1").cast("double") * F.col("s1") / F.col("n"))
        .cast("long")
        .alias("t_int"),
    )
    s = terms.agg(
        F.count(F.lit(1)).alias("k"),
        F.sum("n").alias("nt"),
        F.sum("s1").alias("t1"),
        F.sum("s2").alias("t2"),
        F.sum("t_int").alias("tsum"),
    )
    t1d = F.col("t1").cast("double")
    ssb = F.col("tsum") - t1d * F.col("t1") / F.col("nt")
    ssw = F.col("t2").cast("double") - F.col("tsum")
    sst = F.col("t2").cast("double") - t1d * F.col("t1") / F.col("nt")
    k, nt = F.col("k"), F.col("nt")
    return s.select(
        k.cast("long").alias("k_groups"),
        nt.cast("long").alias("n_total"),
        (k - 1).cast("long").alias("df_between"),
        (nt - k).cast("long").alias("df_within"),
        (rlong((ssb / (k - 1)) / (ssw / (nt - k)) * 1e6) / 1e6).alias("f_stat"),
        (rlong(ssb / sst * 1e9) / 1e9).alias("eta_squared"),
    )


# --------------------------------------------------------------------------
# M174: Mann-Whitney U — rank-sum test with exact tie correction
# --------------------------------------------------------------------------

MWU_GROUP_A = "1-URGENT"
MWU_GROUP_B = "5-LOW"


@query(
    "q_stat_mannwhitney",
    oracle=f"""
WITH d AS (
  SELECT CAST(ROUND(o_totalprice, 0) AS BIGINT) AS x,
         CASE WHEN o_orderpriority = '{MWU_GROUP_A}' THEN 1 ELSE 0 END AS g1
  FROM orders WHERE o_orderpriority IN ('{MWU_GROUP_A}', '{MWU_GROUP_B}')
), v AS (
  SELECT x, CAST(SUM(g1) AS BIGINT) AS c1, CAST(COUNT(*) AS BIGINT) AS nv
  FROM d GROUP BY 1
), c AS (
  SELECT x, c1, nv,
         CAST(SUM(nv) OVER (ORDER BY x ROWS BETWEEN UNBOUNDED PRECEDING
                            AND CURRENT ROW) AS BIGINT) AS cumn
  FROM v
), s AS (
  SELECT CAST(SUM(c1 * (2 * (cumn - nv) + nv + 1)) AS BIGINT) AS two_r1,
         CAST(SUM(nv * nv * nv - nv) AS BIGINT) AS tsum,
         CAST(SUM(c1) AS BIGINT) AS n1,
         CAST(SUM(nv) AS BIGINT) AS n
  FROM c
), u AS (
  SELECT n1, n - n1 AS n2, n, tsum,
         (CAST(two_r1 AS DOUBLE) - CAST(n1 AS DOUBLE) * (n1 + 1)) / 2 AS u1
  FROM s
), z AS (
  SELECT n1, n2, u1,
         (u1 - CAST(n1 AS DOUBLE) * n2 / 2)
         / sqrt((CAST(n1 AS DOUBLE) * n2 / 12.0)
                * ((CAST(n AS DOUBLE) + 1)
                   - CAST(tsum AS DOUBLE) / (CAST(n AS DOUBLE) * (n - 1)))) AS zs
  FROM u
)
SELECT n1 AS n_a, n2 AS n_b,
       ROUND(u1 * 1e6, 0) / 1e6 AS u_stat,
       ROUND(zs * 1e6, 0) / 1e6 AS z_stat,
       ROUND(2 * {_phi_sql('abs(zs)')} * 1e9, 0) / 1e9 AS p_two_sided
FROM z
""",
)
def q_stat_mannwhitney(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M174: Mann-Whitney U (Wilcoxon rank-sum) test of urgent- vs
    low-priority order values — the NON-PARAMETRIC complement to
    q_stat_ttest: does one distribution stochastically dominate the
    other, with no normality assumption. Average ranks for ties and the
    exact tie-correction term Σ(t³−t) in the variance, z via the same
    Abramowitz-Stegun Φ both engines share (_phi_sql/_phi_col).

    Exactness: ranks never materialize per row — per distinct VALUE, the
    average rank is (rows before) + (nv+1)/2, so 2·R₁ = Σ c1·(2·cum_before
    + nv + 1) is an exact integer aggregate over the value table, as are
    n₁, n and the tie term. One identical closed form on both engines.

    Shape: facts collapse to one row per distinct dollar value (keyed
    agg); the rank prefix comes from the same bucket-offset distributed
    prefix-sum pass as q_stat_ks (never an unpartitioned window); the
    closed form evaluates on ONE reduced row. Σ2R₁ ≤ 2n² keeps the
    integer path exact through ~sf10, the module-wide envelope."""
    from recsys_spark_spark.operators.sorts import ordered_prefix_sums

    o = table(spark, sf_dir, "orders").select("o_totalprice", "o_orderpriority")
    d = o.where(F.col("o_orderpriority").isin(MWU_GROUP_A, MWU_GROUP_B)).select(
        _dollars("o_totalprice").alias("x"),
        F.when(F.col("o_orderpriority") == MWU_GROUP_A, 1)
        .otherwise(0)
        .cast("long")
        .alias("g1"),
    )
    v = d.groupBy("x").agg(
        F.sum("g1").alias("c1"), F.count(F.lit(1)).alias("nv")
    )
    c = ordered_prefix_sums(
        spark, v, order_col="x", tiebreak="x", sum_cols={"nv": "cumn"},
        descending=False,
    )
    s = c.agg(
        F.sum(
            F.col("c1")
            * (2 * (F.col("cumn") - F.col("nv")) + F.col("nv") + 1)
        ).alias("two_r1"),
        F.sum(F.col("nv") * F.col("nv") * F.col("nv") - F.col("nv")).alias("tsum"),
        F.sum("c1").alias("n1"),
        F.sum("nv").alias("n"),
    )
    n1d = F.col("n1").cast("double")
    n2 = F.col("n") - F.col("n1")
    n2d = n2.cast("double")
    nd = F.col("n").cast("double")
    u1 = (F.col("two_r1").cast("double") - n1d * (F.col("n1") + 1)) / 2
    zs = (u1 - n1d * n2 / 2) / F.sqrt(
        (n1d * n2 / 12.0)
        * ((nd + 1) - F.col("tsum").cast("double") / (nd * (F.col("n") - 1)))
    )
    return s.select(
        F.col("n1").cast("long").alias("n_a"),
        n2.cast("long").alias("n_b"),
        (rlong(u1 * 1e6) / 1e6).alias("u_stat"),
        (rlong(zs * 1e6) / 1e6).alias("z_stat"),
        (rlong(2 * _phi_col(F.abs(zs)) * 1e9) / 1e9).alias("p_two_sided"),
    )


# --------------------------------------------------------------------------
# M175: covariance / correlation matrix — one-pass sufficient statistics
# --------------------------------------------------------------------------

# (name, source column) — all scaled x100 to exact integer hundredths
COV_FEATS = (
    ("qty", "l_quantity"),
    ("price", "l_extendedprice"),
    ("disc", "l_discount"),
    ("tax", "l_tax"),
)
_COV_PAIRS = [
    (COV_FEATS[i][0], COV_FEATS[j][0])
    for i in range(len(COV_FEATS))
    for j in range(i, len(COV_FEATS))
]


# Per-feature decimal exponent for the pre-quantized corr inputs. Chosen so
# each quantized variance integer round(var_hundredths * 10^e) lands around
# 1e13..1e15 — far below 2^53, so the integer→double cast is EXACT on both
# engines — with >=10x headroom (measured: var(qty·100)≈2.1e6 → e=8 gives
# 2.1e14; var(price·100)≈9.0e12 → e=2 gives 9.0e14; var(disc·100)≈8.4,
# var(tax·100)≈5.5 → e=12 gives ~1e13). Variance is intensive (does not grow
# with n), so the landing zone is SF-independent. All exponents are EVEN so
# every cross exponent (e_a+e_b)/2 is integral.
_COV_EXP = {"qty": 8, "price": 2, "disc": 12, "tax": 12}


def _cov_rdiv_sql(num: str, den: str) -> str:
    """Round-half-away-from-zero of ``num/den`` (den > 0) in EXACT integer
    arithmetic: both engines truncate integral division toward zero, so the
    classic (2|x| + d) / 2d trick on the absolute value is engine-free.
    The result is a true integer — no ROUND(double), hence no -0.0."""
    return (
        f"((CASE WHEN ({num}) < 0 THEN -1 ELSE 1 END)"
        f" * ((2 * ABS({num}) + ({den})) // (2 * ({den}))))"
    )


def _cov_cte_sql() -> str:
    """Shared CTEs: exact integer sufficient sums -> exact integer moment
    numerators m_ab = n*s_ab - s_a*s_b -> pre-quantized corr terms v_ab."""
    d = ", ".join(
        f"CAST(ROUND({src} * 100, 0) AS BIGINT) AS {nm}" for nm, src in COV_FEATS
    )
    s = (
        "SELECT CAST(COUNT(*) AS HUGEINT) AS n, "
        + ", ".join(f"CAST(SUM({nm}) AS HUGEINT) AS s_{nm}" for nm, _ in COV_FEATS)
        + ", "
        + ", ".join(
            f"SUM(CAST({a} AS HUGEINT) * {b}) AS s_{a}_{b}" for a, b in _COV_PAIRS
        )
        + " FROM d"
    )
    t = (
        "SELECT n, n * n AS n2, "
        + ", ".join(
            f"n * s_{a}_{b} - s_{a} * s_{b} AS m_{a}_{b}" for a, b in _COV_PAIRS
        )
        + " FROM s"
    )
    u = (
        "SELECT n, n2, "
        + ", ".join(f"m_{a}_{b}" for a, b in _COV_PAIRS)
        + ", "
        + ", ".join(
            _cov_rdiv_sql(
                f"m_{a}_{b} * CAST("
                f"{10 ** ((_COV_EXP[a] + _COV_EXP[b]) // 2)} AS HUGEINT)",
                "n2",
            )
            + f" AS v_{a}_{b}"
            for a, b in _COV_PAIRS
        )
        + " FROM t"
    )
    return (
        f"WITH d AS (SELECT {d} FROM lineitem), s AS ({s}), t AS ({t}),"
        f" u AS ({u})"
    )


_COV_ORACLE = _cov_cte_sql() + "\n" + "\nUNION ALL\n".join(
    f"SELECT '{a}' AS feat_x, '{b}' AS feat_y, CAST(n AS BIGINT) AS n_rows, "
    # cov_pop at 2dp: the rounded integer comes from pure integer arithmetic
    # (cov_hundredths = m/n2; original units /1e4; 2dp display *1e2), then one
    # exact small-integer -> double cast and one correctly-rounded division.
    f"CAST({_cov_rdiv_sql(f'm_{a}_{b}', 'n2 * 100')} AS DOUBLE) / 1e2"
    f" AS cov_pop, "
    # corr: every input is an exactly-double-representable integer, so the
    # mul/sqrt/div chain is IEEE-correctly-rounded and bit-identical across
    # engines; the final CAST..AS HUGEINT kills any ROUND()-produced -0.0.
    f"CAST(CAST(ROUND(CAST(v_{a}_{b} AS DOUBLE)"
    f" / sqrt(CAST(v_{a}_{a} AS DOUBLE) * CAST(v_{b}_{b} AS DOUBLE))"
    f" * 1e6, 0) AS HUGEINT) AS DOUBLE) / 1e6 AS corr FROM u"
    for a, b in _COV_PAIRS
)


@query("q_feature_covariance", oracle=_COV_ORACLE)
def q_feature_covariance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M175: population covariance/correlation MATRIX over the lineitem
    measures (quantity, extendedprice, discount, tax) in long format —
    the whitening/PCA/feature-selection precursor: which measures move
    together, computed without ever sampling to a notebook.

    Exactness — REBUILT after this key failed its driver hash check
    (hash_match=false with every local check green).
    Root cause, reproduced locally: the old form emitted the 2dp/6dp
    display values through DOUBLE closed forms rounded by DuckDB
    ROUND(double) — which returns **-0.0** for tiny negatives (e.g.
    cov(qty,disc) = -7.6e-4 at sf0.01 rounds to -0.0) — while Spark's
    long-typed rlong emits +0.0. Value-level compares call them equal;
    the driver's byte-level hash does not. The fix removes BOTH hazards
    (signed zero AND engine-arithmetic ulp drift) by construction:
    every emitted value is derived from exact integers.
      * sufficient sums: per-row integer hundredths, Σx and Σx·y as
        HUGEINT/DECIMAL(38,0) (per-row |x·y| ≤ 1e14 exact in 64 bits;
        accumulation needs the 128-bit width — Σprice² ≈ 6e21 at sf10);
      * moment numerators m_ab = n·Σxy − Σx·Σy: exact 128-bit integers
        (≈3.8e26 at sf1, ≤1e31 at sf100 — inside both engines' range);
      * cov_pop: round-half-away(m_ab / (n²·100)) via the integer
        (2|x|+d) div 2d identity — truncating integral division agrees
        between engines, the result is a small integer (≤ ~1e11, exact
        in a double), and one final /100.0 is correctly rounded. No
        ROUND(double) anywhere, hence no -0.0;
      * corr: pre-quantized integer terms v_ab = round(m_ab·10^e / n²)
        with per-feature exponents (_COV_EXP) that land every term in
        1e13..1e15 < 2^53 — so the int→double casts are EXACT and the
        remaining mul/sqrt/div chain is IEEE-correctly-rounded, i.e.
        bit-identical on identical inputs (quantization error ≤ 1e-13
        relative vs the 1e-6 display step); the oracle's final rounding
        passes through CAST(.. AS HUGEINT) to keep -0.0 out.

    Shape: ONE map-side-combined aggregate pass over the fact table (15
    exact sums), then a 10-row stack of the closed forms — the matrix
    costs one scan at any scale, vs k² covar_pop aggs for the naive
    per-pair loop."""
    li = table(spark, sf_dir, "lineitem")
    d = li.select(
        *[rlong(F.col(src) * 100).cast("long").alias(nm) for nm, src in COV_FEATS]
    )
    s = d.agg(
        F.count(F.lit(1)).alias("n"),
        *[F.sum(nm).cast("decimal(38,0)").alias(f"s_{nm}") for nm, _ in COV_FEATS],
        *[
            F.sum((F.col(a) * F.col(b)).cast("decimal(38,0)")).alias(f"s_{a}_{b}")
            for a, b in _COV_PAIRS
        ],
    )
    # exact integer moments (mirrors the oracle's t CTE; `div` below is
    # Spark's integral division — truncation toward zero, same as DuckDB //)
    nd = "CAST(n AS DECIMAL(38,0))"
    t = s.selectExpr(
        "n",
        f"{nd} * {nd} AS n2",
        *[
            f"{nd} * s_{a}_{b} - s_{a} * s_{b} AS m_{a}_{b}"
            for a, b in _COV_PAIRS
        ],
    )

    def _rdiv(num: str, den: str) -> str:
        return (
            f"((CASE WHEN ({num}) < 0 THEN -1 ELSE 1 END)"
            f" * ((2 * abs({num}) + ({den})) div (2 * ({den}))))"
        )

    u = t.selectExpr(
        "n",
        *[f"m_{a}_{b}" for a, b in _COV_PAIRS],
        *[
            _rdiv(
                f"m_{a}_{b} * CAST("
                f"{10 ** ((_COV_EXP[a] + _COV_EXP[b]) // 2)} AS DECIMAL(38,0))",
                "n2",
            )
            + f" AS v_{a}_{b}"
            for a, b in _COV_PAIRS
        ],
        "n2",
    )
    s = u
    for a, b in _COV_PAIRS:
        s = s.withColumn(
            f"cov_{a}_{b}",
            F.expr(_rdiv(f"m_{a}_{b}", "n2 * 100")).cast("double") / 100.0,
        ).withColumn(
            f"corr_{a}_{b}",
            rlong(
                F.col(f"v_{a}_{b}").cast("double")
                / F.sqrt(
                    F.col(f"v_{a}_{a}").cast("double")
                    * F.col(f"v_{b}_{b}").cast("double")
                )
                * 1e6
            )
            / 1e6,
        )
    stack_args = ", ".join(
        f"'{a}', '{b}', cov_{a}_{b}, corr_{a}_{b}" for a, b in _COV_PAIRS
    )
    return s.selectExpr(
        "CAST(n AS BIGINT) AS n_rows",
        f"stack({len(_COV_PAIRS)}, {stack_args})"
        " AS (feat_x, feat_y, cov_pop, corr)",
    ).select("feat_x", "feat_y", "n_rows", "cov_pop", "corr")


# --------------------------------------------------------------------------
# M177: logistic regression via distributed Newton steps (IRLS)
# --------------------------------------------------------------------------

GLM_STEPS = 2  # fixed Newton iterations from beta = 0 (deterministic unroll)
_GLM_Q = 1e10  # per-row quantization of the float sufficient statistics

# shared per-row expressions: y = is-returned flag, x = discount (exact 2dp)
_GLM_MU = "(1.0 / (1.0 + exp(-(b0 + b1 * x))))"
_GLM_W = f"({_GLM_MU} * (1.0 - {_GLM_MU}))"


def _glm_iter_sql(i: int) -> str:
    """One Newton iteration as SQL CTEs: exact-integer sums of the
    quantized per-row gradient/Hessian contributions, then the 2x2
    Cramer solve — the same op tree the Spark side builds."""
    s = f"""it{i} AS (
  SELECT b0, b1,
    CAST(SUM(CAST(ROUND((y - {_GLM_MU}) * {_GLM_Q:.0f}, 0) AS HUGEINT)) AS DOUBLE) / {_GLM_Q:.0f} AS g0,
    CAST(SUM(CAST(ROUND((y - {_GLM_MU}) * x * {_GLM_Q:.0f}, 0) AS HUGEINT)) AS DOUBLE) / {_GLM_Q:.0f} AS g1,
    CAST(SUM(CAST(ROUND({_GLM_W} * {_GLM_Q:.0f}, 0) AS HUGEINT)) AS DOUBLE) / {_GLM_Q:.0f} AS h00,
    CAST(SUM(CAST(ROUND({_GLM_W} * x * {_GLM_Q:.0f}, 0) AS HUGEINT)) AS DOUBLE) / {_GLM_Q:.0f} AS h01,
    CAST(SUM(CAST(ROUND({_GLM_W} * x * x * {_GLM_Q:.0f}, 0) AS HUGEINT)) AS DOUBLE) / {_GLM_Q:.0f} AS h11
  FROM d CROSS JOIN b{i - 1} GROUP BY b0, b1
), b{i} AS (
  SELECT b0 + (h11 * g0 - h01 * g1) / (h00 * h11 - h01 * h01) AS b0,
         b1 + (h00 * g1 - h01 * g0) / (h00 * h11 - h01 * h01) AS b1
  FROM it{i}
)"""
    return s


_GLM_ORACLE = (
    """
WITH d AS (
  SELECT CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END AS y,
         ROUND(l_discount * 100, 0) / 100 AS x
  FROM lineitem
), n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_rows FROM d),
b0 AS (SELECT 0.0 AS b0, 0.0 AS b1),
"""
    + ",\n".join(_glm_iter_sql(i) for i in range(1, GLM_STEPS + 1))
    + f"""
SELECT n_rows,
       ROUND(b0 * 1e6, 0) / 1e6 AS beta_intercept,
       ROUND(b1 * 1e6, 0) / 1e6 AS beta_discount
FROM b{GLM_STEPS} CROSS JOIN n
"""
)


@query("q_glm_logistic_newton", oracle=_GLM_ORACLE)
def q_glm_logistic_newton(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M177: logistic regression trained IN the engine — GLM_STEPS exact
    Newton-Raphson (IRLS) iterations for P(returned | discount) over
    lineitem, from beta = 0. Each iteration is ONE map-side-combined
    aggregate pass collecting the 5 sufficient statistics (gradient Σ(y−μ),
    Σ(y−μ)x and Hessian Σw, Σwx, Σwx² with w = μ(1−μ)), then a 2×2 Cramer
    solve on the single reduced row. THE "train on 100 TB without leaving
    the warehouse" primitive: the data never moves, the model is 2 floats.

    Fully lazy on the Spark side — each iteration's beta is a ONE-ROW
    DataFrame cross-broadcast into the next pass, so the whole K-step
    train is a single Catalyst plan with K fact-table scans and NO driver
    round-trip (contrast: MLlib's LogisticRegression collects per-step).

    Exactness: per-row μ is the same IEEE double tree on both engines;
    contributions quantize to integers at 1e-10 before summation (Σ exact,
    order-free; 128-bit accumulators — at sf10 Σw·Q ≈ 1.5e17). A last-ulp
    exp() divergence between libm and the JVM shifts an integer sum by ±1
    ≈ 1e-17 relative — absorbed by the single 1e-6 display rounding.
    Betas propagate as identical doubles computed from identical integer
    sums, so the unrolled oracle tracks the iteration bit-for-bit."""
    li = table(spark, sf_dir, "lineitem")
    d = li.select(
        F.when(F.col("l_returnflag") == "R", 1).otherwise(0).alias("y"),
        (rlong(F.col("l_discount") * 100) / 100).alias("x"),
    )
    beta = spark.range(1).select(
        F.lit(0.0).alias("b0"), F.lit(0.0).alias("b1")
    )
    q = F.lit(_GLM_Q)

    def qsum(col) -> F.Column:
        # LONG accumulator, not decimal(38,0): per-row |contribution·Q| ≤
        # 2.5e9, so the sum stays exact in 64 bits through ~sf100 (6e8 rows
        # → ≤ 1.5e18 < 2^63); the decimal path measured 91x slower at sf1
        # (non-vectorized aggregation) for headroom this query never uses.
        # Beyond that scale, two-level aggregate the same sums per shard.
        return F.sum(rlong(col * q)).cast("double") / q

    for _ in range(GLM_STEPS):
        mu = 1.0 / (1.0 + F.exp(-(F.col("b0") + F.col("b1") * F.col("x"))))
        w = mu * (1.0 - mu)
        it = (
            d.crossJoin(F.broadcast(beta))
            .groupBy("b0", "b1")
            .agg(
                qsum(F.col("y") - mu).alias("g0"),
                qsum((F.col("y") - mu) * F.col("x")).alias("g1"),
                qsum(w).alias("h00"),
                qsum(w * F.col("x")).alias("h01"),
                qsum(w * F.col("x") * F.col("x")).alias("h11"),
            )
        )
        det = F.col("h00") * F.col("h11") - F.col("h01") * F.col("h01")
        beta = it.select(
            (
                F.col("b0")
                + (F.col("h11") * F.col("g0") - F.col("h01") * F.col("g1")) / det
            ).alias("b0"),
            (
                F.col("b1")
                + (F.col("h00") * F.col("g1") - F.col("h01") * F.col("g0")) / det
            ).alias("b1"),
        )
    n = d.agg(F.count(F.lit(1)).cast("long").alias("n_rows"))
    return beta.crossJoin(F.broadcast(n)).select(
        "n_rows",
        (rlong(F.col("b0") * 1e6) / 1e6).alias("beta_intercept"),
        (rlong(F.col("b1") * 1e6) / 1e6).alias("beta_discount"),
    )


# --------------------------------------------------------------------------
# M183: multiple linear regression via normal equations (3x3 Cramer solve)
# --------------------------------------------------------------------------


@query(
    "q_stat_linreg_multi",
    oracle="""
WITH d AS (
  SELECT CAST(ROUND(l_quantity, 0) AS BIGINT) AS x1,
         CAST(ROUND(l_discount * 100, 0) AS BIGINT) AS x2,
         CAST(ROUND(l_extendedprice * 100, 0) AS BIGINT) AS y
  FROM lineitem
),
s AS (
  SELECT COUNT(*) AS n,
         CAST(SUM(x1) AS BIGINT) AS s1, CAST(SUM(x2) AS BIGINT) AS s2,
         CAST(SUM(y) AS BIGINT) AS sy,
         CAST(SUM(x1 * x1) AS BIGINT) AS s11,
         CAST(SUM(x2 * x2) AS BIGINT) AS s22,
         CAST(SUM(x1 * x2) AS BIGINT) AS s12,
         CAST(SUM(x1 * y) AS BIGINT) AS s1y,
         CAST(SUM(x2 * y) AS BIGINT) AS s2y
  FROM d
),
f AS (
  SELECT CAST(n AS DOUBLE) AS n, CAST(s1 AS DOUBLE) AS s1, CAST(s2 AS DOUBLE) AS s2,
         CAST(sy AS DOUBLE) AS sy, CAST(s11 AS DOUBLE) AS s11, CAST(s22 AS DOUBLE) AS s22,
         CAST(s12 AS DOUBLE) AS s12, CAST(s1y AS DOUBLE) AS s1y, CAST(s2y AS DOUBLE) AS s2y,
         CAST(n AS BIGINT) AS n_rows
  FROM s
)
SELECT n_rows,
       ROUND((sy * (s11 * s22 - s12 * s12) - s1 * (s1y * s22 - s12 * s2y) + s2 * (s1y * s12 - s11 * s2y))
             / (n * (s11 * s22 - s12 * s12) - s1 * (s1 * s22 - s12 * s2) + s2 * (s1 * s12 - s11 * s2)) * 1e4, 0) / 1e4
         AS beta_intercept_cents,
       ROUND((n * (s1y * s22 - s12 * s2y) - sy * (s1 * s22 - s12 * s2) + s2 * (s1 * s2y - s1y * s2))
             / (n * (s11 * s22 - s12 * s12) - s1 * (s1 * s22 - s12 * s2) + s2 * (s1 * s12 - s11 * s2)) * 1e4, 0) / 1e4
         AS beta_qty_cents,
       ROUND((n * (s11 * s2y - s1y * s12) - s1 * (s1 * s2y - s1y * s2) + sy * (s1 * s12 - s11 * s2))
             / (n * (s11 * s22 - s12 * s12) - s1 * (s1 * s22 - s12 * s2) + s2 * (s1 * s12 - s11 * s2)) * 1e4, 0) / 1e4
         AS beta_discpct_cents
FROM f
""",
)
def q_stat_linreg_multi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M183: multiple linear regression (2 regressors + intercept) fit
    in-engine by the normal equations — extended price (cents) on quantity
    and discount percent over all of lineitem. ONE map-side-combinable
    aggregate folds the fact table to the 9 OLS sufficient statistics
    (n, Σx1, Σx2, Σy, Σx1², Σx2², Σx1x2, Σx1y, Σx2y), then a 3×3 Cramer
    solve closes in constant time — the classic "ML on SQL engines"
    normal-equation pattern (the k-feature generalization of
    q_price_elasticity's single-regressor fit, and the linear-model
    sibling of q_glm_logistic_newton's 2×2 IRLS solve).

    Exactness: all three measures quantize to exact small integers
    (quantity ≤ 50, discount-pct ≤ 10, price-cents ≤ ~1.1e7), so every
    sufficient sum stays a 64-bit LONG through sf10 (largest: Σx1·y ≤
    3e16 at 6e7 rows — vectorized long path, no decimal). Cross-products
    of SUMS (e.g. Σx1²·Σx2² ~ 9e20) would overflow integers, so the
    Cramer determinants are computed in DOUBLE from identical long→double
    conversions of the same exact integers — both engines evaluate the
    same expression tree on the same inputs, one 4dp rounding at the end
    (cent-scale betas: 6dp would sit inside double noise at 1e7
    magnitudes, the q_feature_covariance display-rounding lesson).

    Shape: aggregate → 1-row closed form; partial aggregation makes the
    shuffle 9 longs per partition regardless of fact volume."""
    l = table(spark, sf_dir, "lineitem").select(
        rlong(F.col("l_quantity")).cast("long").alias("x1"),
        rlong(F.col("l_discount") * 100).cast("long").alias("x2"),
        rlong(F.col("l_extendedprice") * 100).cast("long").alias("y"),
    )
    s = l.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x1").alias("s1"),
        F.sum("x2").alias("s2"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x1") * F.col("x1")).alias("s11"),
        F.sum(F.col("x2") * F.col("x2")).alias("s22"),
        F.sum(F.col("x1") * F.col("x2")).alias("s12"),
        F.sum(F.col("x1") * F.col("y")).alias("s1y"),
        F.sum(F.col("x2") * F.col("y")).alias("s2y"),
    )
    n, s1, s2 = (F.col(c).cast("double") for c in ("n", "s1", "s2"))
    sy, s11, s22 = (F.col(c).cast("double") for c in ("sy", "s11", "s22"))
    s12, s1y, s2y = (F.col(c).cast("double") for c in ("s12", "s1y", "s2y"))
    det = n * (s11 * s22 - s12 * s12) - s1 * (s1 * s22 - s12 * s2) + s2 * (s1 * s12 - s11 * s2)
    det0 = sy * (s11 * s22 - s12 * s12) - s1 * (s1y * s22 - s12 * s2y) + s2 * (s1y * s12 - s11 * s2y)
    det1 = n * (s1y * s22 - s12 * s2y) - sy * (s1 * s22 - s12 * s2) + s2 * (s1 * s2y - s1y * s2)
    det2 = n * (s11 * s2y - s1y * s12) - s1 * (s1 * s2y - s1y * s2) + sy * (s1 * s12 - s11 * s2)
    return s.select(
        F.col("n").cast("long").alias("n_rows"),
        (rlong(det0 / det * 1e4) / 1e4).alias("beta_intercept_cents"),
        (rlong(det1 / det * 1e4) / 1e4).alias("beta_qty_cents"),
        (rlong(det2 / det * 1e4) / 1e4).alias("beta_discpct_cents"),
    )


# --------------------------------------------------------------------------
# M187: Theil-Sen robust trend estimator per event-type daily series
# --------------------------------------------------------------------------


@query(
    "q_stat_theilsen",
    oracle="""
WITH daily AS (
  SELECT event_type, CAST(ts AS DATE) AS day,
         CAST(SUM(CAST(ROUND(value * 1e4, 0) AS BIGINT)) AS BIGINT) AS y_s
  FROM events GROUP BY 1, 2
),
idx AS (
  SELECT event_type, day, y_s,
         CAST(date_diff('day', MIN(day) OVER (PARTITION BY event_type), day) AS BIGINT) AS x
  FROM daily
),
pairs AS (
  SELECT a.event_type,
         a.x AS x1, b.x AS x2,
         CAST(b.y_s - a.y_s AS DOUBLE) / CAST(b.x - a.x AS DOUBLE) / 1e4 AS slope
  FROM idx a JOIN idx b ON a.event_type = b.event_type AND a.x < b.x
),
ranked AS (
  SELECT event_type, slope,
         CAST(ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY slope, x1, x2) AS BIGINT) AS rn,
         CAST(COUNT(*) OVER (PARTITION BY event_type) AS BIGINT) AS np
  FROM pairs
)
SELECT event_type,
       CAST(np AS BIGINT) AS n_pairs,
       ROUND(AVG(slope) * 1e6, 0) / 1e6 AS ts_slope
FROM ranked
WHERE rn IN ((np + 1) // 2, (np + 2) // 2)
GROUP BY event_type, np
""",
)
def q_stat_theilsen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M187: Theil-Sen slope (Theil 1950 / Sen 1968) per event-type daily
    series — the median of all pairwise slopes, the robust trend estimate
    that tolerates ~29% outliers where OLS breaks on one. The natural
    companion to q_stat_mann_kendall (same O(days²) pair structure; MK
    answers "is there a monotone trend?", Theil-Sen answers "how steep?"),
    completing the robust-trend pair the way q_ts_changepoint completes
    CUSUM.

    Exactness: daily sums quantize to exact longs; each pairwise slope is
    ONE double division of exact integers (identical both engines); the
    median is picked BY RANK with a total-order tie-break (slope, x1, x2),
    so no floating aggregation is involved — the 1-2 middle elements are
    averaged (even count) with a single identical double op. One 6dp
    display rounding.

    Scale shape: the pair join is per-series and CALENDAR-bounded —
    days²/2 pairs per type regardless of event volume (the same bound
    q_stat_mann_kendall rides), and every window partitions by
    event_type. 100× more events changes the daily sums, not the pair
    count."""
    e = table(spark, sf_dir, "events")
    daily = e.groupBy("event_type", F.to_date("ts").alias("day")).agg(
        F.sum(rlong(F.col("value") * 1e4)).alias("y_s")
    )
    wp = Window.partitionBy("event_type")
    idx = daily.select(
        "event_type",
        "y_s",
        F.datediff("day", F.min("day").over(wp)).cast("long").alias("x"),
    )
    a = idx.select("event_type", F.col("x").alias("x1"), F.col("y_s").alias("y1"))
    b = idx.select("event_type", F.col("x").alias("x2"), F.col("y_s").alias("y2"))
    pairs = (
        a.join(b, "event_type")
        .where(F.col("x1") < F.col("x2"))
        .select(
            "event_type",
            "x1",
            "x2",
            (
                (F.col("y2") - F.col("y1")).cast("double")
                / (F.col("x2") - F.col("x1")).cast("double")
                / 1e4
            ).alias("slope"),
        )
    )
    wr = Window.partitionBy("event_type").orderBy("slope", "x1", "x2")
    ranked = pairs.select(
        "event_type",
        "slope",
        F.row_number().over(wr).cast("long").alias("rn"),
        F.count(F.lit(1)).over(wp).cast("long").alias("np"),
    )
    # floor division, matching DuckDB's `//`: odd np selects the single
    # middle rank, even np selects both middle ranks (then AVG of the two)
    mid = ranked.where(
        (F.col("rn") == F.floor((F.col("np") + 1) / 2))
        | (F.col("rn") == F.floor((F.col("np") + 2) / 2))
    )
    return mid.groupBy("event_type", "np").agg(
        (rlong(F.avg("slope") * 1e6) / 1e6).alias("ts_slope")
    ).select("event_type", F.col("np").alias("n_pairs"), "ts_slope")


# --------------------------------------------------------------------------
# M198: Spearman rank correlation (balance vs lifetime spend)
# --------------------------------------------------------------------------


@query(
    "q_stat_spearman",
    oracle=f"""
WITH spend AS (
  SELECT o_custkey,
         CAST(SUM(CAST(ROUND(o_totalprice, 0) AS BIGINT)) AS BIGINT) AS y
  FROM orders GROUP BY 1
), d AS (
  SELECT CAST(ROUND(c_acctbal, 0) AS BIGINT) AS x, COALESCE(y, 0) AS y
  FROM customer LEFT JOIN spend ON c_custkey = o_custkey
), vx AS (
  SELECT x, CAST(COUNT(*) AS BIGINT) AS nv FROM d GROUP BY 1
), rx AS (
  SELECT x, 2 * (SUM(nv) OVER (ORDER BY x ROWS BETWEEN UNBOUNDED PRECEDING
                               AND CURRENT ROW) - nv) + nv + 1 AS two_rx
  FROM vx
), vy AS (
  SELECT y, CAST(COUNT(*) AS BIGINT) AS nv FROM d GROUP BY 1
), ry AS (
  SELECT y, 2 * (SUM(nv) OVER (ORDER BY y ROWS BETWEEN UNBOUNDED PRECEDING
                               AND CURRENT ROW) - nv) + nv + 1 AS two_ry
  FROM vy
), j AS (
  SELECT two_rx, two_ry FROM d JOIN rx USING (x) JOIN ry USING (y)
), s AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(two_rx) AS BIGINT) AS sx,
         CAST(SUM(two_ry) AS BIGINT) AS sy,
         CAST(SUM(two_rx * two_rx) AS BIGINT) AS sxx,
         CAST(SUM(two_ry * two_ry) AS BIGINT) AS syy,
         CAST(SUM(two_rx * two_ry) AS BIGINT) AS sxy
  FROM j
), r AS (
  SELECT n,
         (CAST(n AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy)
         / sqrt((CAST(n AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx)
                * (CAST(n AS DOUBLE) * syy - CAST(sy AS DOUBLE) * sy)) AS rho
  FROM s
), z AS (
  SELECT n, rho,
         0.5 * ln((1 + rho) / (1 - rho)) * sqrt(CAST(n AS DOUBLE) - 3) AS zf
  FROM r
)
SELECT n AS n_customers,
       ROUND(rho * 1e6, 0) / 1e6 AS spearman_rho,
       ROUND(zf * 1e6, 0) / 1e6 AS fisher_z,
       ROUND(2 * {_phi_sql('abs(zf)')} * 1e9, 0) / 1e9 AS p_two_sided
FROM z
""",
)
def q_stat_spearman(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M198: Spearman rank correlation between customer account balance
    and lifetime order spend — the monotone-association complement to
    q_agg_corr's Pearson: "do high-balance customers spend more", robust
    to the heavy right tail of spend. Tie handling is the textbook
    average-rank form, so rho is exactly Pearson evaluated on average
    ranks (the definition both engines share).

    Exactness: ranks never materialize per row as doubles — per distinct
    VALUE the doubled average rank 2*rbar = 2*(rows before) + nv + 1 is
    an exact integer (the q_stat_mannwhitney identity), joined back to
    the row set by value, so every sufficient statistic (n, S2x, S2y,
    S2xx, S2yy, S2xy over the doubled ranks) is an exact integer sum —
    the 2x scale cancels in the correlation ratio. Bounds: 2r <= 2n ~
    3e5 at sf1, so S(2rx*2ry) <= 4n^3 ~ 1.4e16 < 2^63 through sf1 and
    two-level-aggregates exactly beyond. The closed form then divides
    exact integers in ONE identical double expression tree; the p-value
    is the Fisher z transform 0.5*ln((1+rho)/(1-rho))*sqrt(n-3) through
    the shared A&S Phi polynomial (_phi_sql/_phi_col).

    Shape: one keyed left join (orders collapse to per-customer spend
    first — shuffle sized by customers, not orders), two per-value
    aggregates whose rank prefixes ride the SAME distributed value-bucket
    prefix-sum primitive as q_stat_ks/q_stat_mannwhitney (never an
    unpartitioned window), two value-keyed rank joins, one 1-row
    reduction. Every stage is keyed or 1-row; nothing is data-sized on
    the driver."""
    from recsys_spark_spark.operators.sorts import ordered_prefix_sums

    o = table(spark, sf_dir, "orders").select("o_custkey", "o_totalprice")
    c = table(spark, sf_dir, "customer").select("c_custkey", "c_acctbal")
    spend = o.groupBy("o_custkey").agg(
        F.sum(rlong(F.col("o_totalprice")).cast("long")).alias("y")
    )
    d = (
        c.join(spend, c.c_custkey == spend.o_custkey, "left")
        .select(
            _dollars("c_acctbal").alias("x"),
            F.coalesce(F.col("y"), F.lit(0)).cast("long").alias("y"),
        )
    )
    vx = d.groupBy("x").agg(F.count(F.lit(1)).alias("nv"))
    rx = ordered_prefix_sums(
        spark, vx, order_col="x", tiebreak="x", sum_cols={"nv": "cum"}
    ).select(
        "x", (2 * (F.col("cum") - F.col("nv")) + F.col("nv") + 1).alias("two_rx")
    )
    vy = d.groupBy("y").agg(F.count(F.lit(1)).alias("nv"))
    ry = ordered_prefix_sums(
        spark, vy, order_col="y", tiebreak="y", sum_cols={"nv": "cum"}
    ).select(
        "y", (2 * (F.col("cum") - F.col("nv")) + F.col("nv") + 1).alias("two_ry")
    )
    j = d.join(rx, "x").join(ry, "y").select("two_rx", "two_ry")
    s = j.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("two_rx").alias("sx"),
        F.sum("two_ry").alias("sy"),
        F.sum(F.col("two_rx") * F.col("two_rx")).alias("sxx"),
        F.sum(F.col("two_ry") * F.col("two_ry")).alias("syy"),
        F.sum(F.col("two_rx") * F.col("two_ry")).alias("sxy"),
    )
    nd = F.col("n").cast("double")
    rho = (nd * F.col("sxy") - F.col("sx").cast("double") * F.col("sy")) / F.sqrt(
        (nd * F.col("sxx") - F.col("sx").cast("double") * F.col("sx"))
        * (nd * F.col("syy") - F.col("sy").cast("double") * F.col("sy"))
    )
    zf = 0.5 * F.log((1 + rho) / (1 - rho)) * F.sqrt(nd - 3)
    return s.select(
        F.col("n").cast("long").alias("n_customers"),
        (rlong(rho * 1e6) / 1e6).alias("spearman_rho"),
        (rlong(zf * 1e6) / 1e6).alias("fisher_z"),
        (rlong(2 * _phi_col(F.abs(zf)) * 1e9) / 1e9).alias("p_two_sided"),
    )


# --------------------------------------------------------------------------
# M199: Kruskal-Wallis H — k-group rank test across order priorities
# --------------------------------------------------------------------------


@query(
    "q_stat_kruskal",
    oracle="""
WITH d AS (
  SELECT o_orderpriority AS g, CAST(ROUND(o_totalprice, 0) AS BIGINT) AS x
  FROM orders
), v AS (
  SELECT x, CAST(COUNT(*) AS BIGINT) AS nv FROM d GROUP BY 1
), r AS (
  SELECT x, nv,
         2 * (SUM(nv) OVER (ORDER BY x ROWS BETWEEN UNBOUNDED PRECEDING
                            AND CURRENT ROW) - nv) + nv + 1 AS two_rbar
  FROM v
), vg AS (
  SELECT g, x, CAST(COUNT(*) AS BIGINT) AS cg FROM d GROUP BY 1, 2
), grp AS (
  SELECT g, CAST(SUM(cg * two_rbar) AS BIGINT) AS two_r,
         CAST(SUM(cg) AS BIGINT) AS ng
  FROM vg JOIN r USING (x) GROUP BY 1
), terms AS (
  SELECT g, ng,
         CAST(ROUND(CAST(two_r AS DOUBLE) * two_r / (4 * ng), 0)
              AS BIGINT) AS t_int
  FROM grp
), tie AS (
  SELECT CAST(SUM(nv * nv * nv - nv) AS BIGINT) AS tsum FROM v
), s AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS k, CAST(SUM(ng) AS BIGINT) AS n,
         CAST(SUM(t_int) AS BIGINT) AS rsum
  FROM terms
), h AS (
  SELECT k, n, tsum,
         12.0 / (CAST(n AS DOUBLE) * (n + 1)) * CAST(rsum AS DOUBLE)
         - 3 * (CAST(n AS DOUBLE) + 1) AS h_raw,
         1 - CAST(tsum AS DOUBLE)
             / (CAST(n AS DOUBLE) * n * n - CAST(n AS DOUBLE)) AS c
  FROM s CROSS JOIN tie
), adj AS (
  SELECT k, n, h_raw, h_raw / c AS h_adj FROM h
)
SELECT k AS k_groups, n AS n_total,
       ROUND(h_raw * 1e6, 0) / 1e6 AS h_stat,
       ROUND(h_adj * 1e6, 0) / 1e6 AS h_adj,
       ROUND(exp(-h_adj / 2) * (1 + h_adj / 2) * 1e9, 0) / 1e9 AS p_value
FROM adj
""",
)
def q_stat_kruskal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M199: Kruskal-Wallis H test of order value across the five order
    priorities — the k-group generalization of q_stat_mannwhitney and the
    non-parametric sibling of q_stat_anova: "does priority shift the
    value distribution at all", with no normality assumption. Average
    ranks for ties, the exact tie correction C = 1 - S(t^3-t)/(n^3-n),
    and the df=4 chi-square survival function in its CLOSED even-df form
    p = exp(-H/2)*(1 + H/2) — no polynomial approximation needed (the
    five priorities are a fixed k=5 vocabulary, so df=2k'=4 is exact by
    construction and asserted by the k_groups output column).

    Exactness: doubled per-value average ranks are exact integers (the
    Mann-Whitney identity), so each group's doubled rank sum 2R_g =
    S cg*(2*cum_before + nv + 1) is an exact integer (<= 2n^2 ~ 4.5e12 at
    sf1). The one cross-group float reduction, S_g R_g^2/n_g, follows the
    q_stat_anova pre-sum discipline: each group's term is rounded to a
    UNIT integer (R^2/n_g reaches ~6.7e17 at sf1, inside int64 through
    ~sf3; beyond that the one unit literal moves to 1e3, the ANOVA
    envelope note) BEFORE the k-row sum, so the doubles that both
    engines add arrive in identical, order-free form; the +-0.5/group
    quantization is ~1e-5 of H even at sf0.001, under display. n^3 is
    evaluated in doubles (identical tree) so the tie denominator never
    overflows at any SF.

    Shape: two keyed aggregates (per-value, per-(group,value)), the
    shared value-bucket distributed prefix sum for rank offsets, one
    value-keyed join, a k-row reduction and a 1-row cross join — stage
    sizes are distinct-values then k; nothing data-sized leaves its
    partition unkeyed."""
    from recsys_spark_spark.operators.sorts import ordered_prefix_sums

    o = table(spark, sf_dir, "orders").select("o_orderpriority", "o_totalprice")
    d = o.select(
        F.col("o_orderpriority").alias("g"), _dollars("o_totalprice").alias("x")
    )
    v = d.groupBy("x").agg(F.count(F.lit(1)).alias("nv"))
    r = ordered_prefix_sums(
        spark, v, order_col="x", tiebreak="x", sum_cols={"nv": "cum"}
    ).select(
        "x",
        "nv",
        (2 * (F.col("cum") - F.col("nv")) + F.col("nv") + 1).alias("two_rbar"),
    )
    vg = d.groupBy("g", "x").agg(F.count(F.lit(1)).alias("cg"))
    grp = (
        vg.join(r.select("x", "two_rbar"), "x")
        .groupBy("g")
        .agg(
            F.sum(F.col("cg") * F.col("two_rbar")).alias("two_r"),
            F.sum("cg").alias("ng"),
        )
    )
    terms = grp.select(
        "g",
        "ng",
        rlong(
            F.col("two_r").cast("double") * F.col("two_r") / (4 * F.col("ng"))
        ).alias("t_int"),
    )
    tie = v.agg(
        F.sum(F.col("nv") * F.col("nv") * F.col("nv") - F.col("nv")).alias("tsum")
    )
    s = terms.agg(
        F.count(F.lit(1)).alias("k"),
        F.sum("ng").alias("n"),
        F.sum("t_int").alias("rsum"),
    )
    nd = F.col("n").cast("double")
    h_raw = 12.0 / (nd * (F.col("n") + 1)) * F.col("rsum").cast("double") - 3 * (
        nd + 1
    )
    c = 1 - F.col("tsum").cast("double") / (nd * F.col("n") * F.col("n") - nd)
    withh = s.join(F.broadcast(tie)).select(
        "k", "n", h_raw.alias("h_raw"), (h_raw / c).alias("h_adj")
    )
    return withh.select(
        F.col("k").cast("long").alias("k_groups"),
        F.col("n").cast("long").alias("n_total"),
        (rlong(F.col("h_raw") * 1e6) / 1e6).alias("h_stat"),
        (rlong(F.col("h_adj") * 1e6) / 1e6).alias("h_adj"),
        (
            rlong(
                F.exp(-F.col("h_adj") / 2) * (1 + F.col("h_adj") / 2) * 1e9
            )
            / 1e9
        ).alias("p_value"),
    )


# --------------------------------------------------------------------------
# M207: Friedman test (repeated-measures ranks across blocks)
# --------------------------------------------------------------------------


@query(
    "q_stat_friedman",
    oracle="""
WITH cell AS (
  SELECT c_nationkey AS b, o_orderpriority AS g,
         CAST(SUM(CAST(ROUND(o_totalprice * 100, 0) AS BIGINT)) AS BIGINT) AS cents
  FROM orders JOIN customer ON o_custkey = c_custkey
  GROUP BY 1, 2
), fullb AS (
  SELECT b FROM cell GROUP BY 1 HAVING COUNT(*) = 5
), ranked AS (
  SELECT g,
         2 * RANK() OVER (PARTITION BY b ORDER BY cents)
           + COUNT(*) OVER (PARTITION BY b, cents) - 1 AS two_r
  FROM cell JOIN fullb USING (b)
), rs AS (
  SELECT g, CAST(SUM(two_r) AS BIGINT) AS r2 FROM ranked GROUP BY 1
), s AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS k, CAST(SUM(r2 * r2) AS BIGINT) AS sq,
         (SELECT CAST(COUNT(*) AS BIGINT) FROM fullb) AS n
  FROM rs
), q AS (
  SELECT n,
         12.0 * sq / (4.0 * n * k * (k + 1)) - 3.0 * n * (k + 1) AS q_stat
  FROM s
)
SELECT r.g AS o_orderpriority, q.n AS n_blocks, r.r2 AS rank_sum_2x,
       ROUND(r.r2 / (2.0 * q.n) * 1e6, 0) / 1e6 AS mean_rank,
       ROUND(q.q_stat * 1e6, 0) / 1e6 AS q_stat,
       ROUND(exp(-q.q_stat / 2) * (1 + q.q_stat / 2) * 1e9, 0) / 1e9 AS p_value
FROM rs r CROSS JOIN q
""",
)
def q_stat_friedman(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M207: Friedman test (Friedman 1937) of order priority across
    nation blocks — the repeated-measures companion to q_stat_kruskal:
    each nation is a block, its five priority revenue totals are ranked
    WITHIN the block (removing the between-nation scale), and Q asks
    whether any priority consistently ranks high/low across blocks.
    Doubled midranks keep tie handling exact-integer (the Mann-Whitney
    identity, shared with Kruskal/Spearman); blocks missing a priority
    are dropped on both engines, so the design is complete by
    construction. k = 5 priorities -> df = 4, so the chi-square survival
    is the closed even-df form exp(-Q/2)(1+Q/2), no approximation.

    Exactness: block cells are exact cent sums (BIGINT); per-block
    doubled midranks 2*RANK + ties - 1 are exact integers <= 2k; the
    per-treatment doubled rank sums and their squares stay below ~6e4
    regardless of SF (blocks = 25 nations always), so every float that
    feeds Q is an exactly-representable integer and both engines evaluate
    the identical expression tree.

    Shape: one (nation, priority)-keyed aggregate over the orders
    join, a k-per-block window rank (block-partitioned, never global),
    a k-row reduction, and a 1-row cross join onto the k output rows."""
    o = table(spark, sf_dir, "orders")
    c = table(spark, sf_dir, "customer")
    cell = (
        o.join(c, o.o_custkey == c.c_custkey)
        .groupBy(F.col("c_nationkey").alias("b"), F.col("o_orderpriority").alias("g"))
        .agg(F.sum(rlong(F.col("o_totalprice") * 100)).cast("long").alias("cents"))
    )
    fullb = cell.groupBy("b").agg(F.count(F.lit(1)).alias("nc")).where(
        F.col("nc") == 5
    ).select("b")
    wrk = Window.partitionBy("b").orderBy("cents")
    wtie = Window.partitionBy("b", "cents")
    ranked = cell.join(fullb, "b").select(
        "g",
        (
            2 * F.rank().over(wrk) + F.count(F.lit(1)).over(wtie) - 1
        ).cast("long").alias("two_r"),
    )
    rs = ranked.groupBy("g").agg(F.sum("two_r").cast("long").alias("r2"))
    nb = fullb.agg(F.count(F.lit(1)).cast("long").alias("n"))
    s = (
        rs.agg(
            F.count(F.lit(1)).cast("long").alias("k"),
            F.sum(F.col("r2") * F.col("r2")).cast("long").alias("sq"),
        )
        .crossJoin(F.broadcast(nb))
    )
    q = s.select(
        "n",
        (
            F.lit(12.0) * F.col("sq")
            / (F.lit(4.0) * F.col("n") * F.col("k") * (F.col("k") + 1))
            - F.lit(3.0) * F.col("n") * (F.col("k") + 1)
        ).alias("q_stat"),
    )
    return rs.crossJoin(F.broadcast(q)).select(
        F.col("g").alias("o_orderpriority"),
        F.col("n").alias("n_blocks"),
        F.col("r2").alias("rank_sum_2x"),
        (rlong(F.col("r2") / (F.lit(2.0) * F.col("n")) * 1e6) / 1e6).alias("mean_rank"),
        (rlong(F.col("q_stat") * 1e6) / 1e6).alias("q_stat"),
        (
            rlong(F.exp(-F.col("q_stat") / 2) * (1 + F.col("q_stat") / 2) * 1e9) / 1e9
        ).alias("p_value"),
    )


# --------------------------------------------------------------------------
# M209: Wilcoxon signed-rank test (paired first-vs-last order value)
# --------------------------------------------------------------------------


@query(
    "q_stat_wilcoxon",
    oracle=f"""
WITH seq AS (
  SELECT o_custkey, o_totalprice,
         ROW_NUMBER() OVER (PARTITION BY o_custkey
                            ORDER BY o_orderdate, o_orderkey) AS rn,
         COUNT(*) OVER (PARTITION BY o_custkey) AS m
  FROM orders
), pair AS (
  SELECT l.o_custkey,
         CAST(ROUND(l.o_totalprice * 100, 0) AS BIGINT)
           - CAST(ROUND(f.o_totalprice * 100, 0) AS BIGINT) AS dc
  FROM seq f JOIN seq l ON f.o_custkey = l.o_custkey AND l.rn = l.m
  WHERE f.rn = 1 AND f.m >= 2
), nz AS (
  SELECT abs(dc) AS ad, CASE WHEN dc > 0 THEN 1 ELSE 0 END AS pos
  FROM pair WHERE dc <> 0
), v AS (
  SELECT ad, CAST(SUM(pos) AS BIGINT) AS npos, CAST(COUNT(*) AS BIGINT) AS nv
  FROM nz GROUP BY 1
), c AS (
  SELECT ad, npos, nv,
         CAST(SUM(nv) OVER (ORDER BY ad ROWS BETWEEN UNBOUNDED PRECEDING
                            AND CURRENT ROW) AS BIGINT) AS cumn
  FROM v
), s AS (
  SELECT CAST(SUM(npos * (2 * (cumn - nv) + nv + 1)) AS BIGINT) AS two_wp,
         CAST(SUM(nv * nv * nv - nv) AS BIGINT) AS tsum,
         CAST(SUM(nv) AS BIGINT) AS n
  FROM c
), z AS (
  SELECT n, two_wp / 2.0 AS wp,
         CAST(n AS DOUBLE) * (n + 1) / 2.0 - two_wp / 2.0 AS wm,
         (two_wp / 2.0 - CAST(n AS DOUBLE) * (n + 1) / 4.0)
         / sqrt(CAST(n AS DOUBLE) * (n + 1) * (2 * n + 1) / 24.0
                - CAST(tsum AS DOUBLE) / 48.0) AS zs
  FROM s
)
SELECT n AS n_pairs,
       ROUND(wp * 1e6, 0) / 1e6 AS w_plus,
       ROUND(wm * 1e6, 0) / 1e6 AS w_minus,
       ROUND(zs * 1e6, 0) / 1e6 AS z_stat,
       ROUND(2 * {_phi_sql('abs(zs)')} * 1e9, 0) / 1e9 AS p_two_sided
FROM z
""",
)
def q_stat_wilcoxon(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M209: Wilcoxon signed-rank test (Wilcoxon 1945) on PAIRED samples —
    each repeat customer's first vs last order value (did spend shift
    over a customer's lifetime?). Completes the rank-test family:
    Mann-Whitney (independent two-group), Kruskal (k-group), Friedman
    (blocked k-treatment), Spearman (paired association) — this is the
    paired two-sample location test. Zero differences dropped, midranks
    on |d| with the exact tie correction Σ(t³−t)/48 in the variance,
    z through the shared Abramowitz-Stegun Φ (_phi_sql/_phi_col).

    Exactness: cent differences are exact BIGINTs; per-|d|-value doubled
    midranks come from the same value-table identity as Mann-Whitney, so
    2·W⁺ = Σ npos·(2·cum_before + nv + 1) is an exact integer (≤ 2n²,
    fine through ~sf10); n(n+1)(2n+1) exceeds 2^53 beyond ~sf3 but is
    evaluated in an IDENTICAL double tree on both engines (the Kruskal
    n³ precedent), so parity is by identical rounding, not magnitude.

    Shape: the pair extraction is a customer-partitioned window (never
    global); facts collapse to one row per distinct |d|; the rank prefix
    rides the value-bucket distributed prefix-sum (ordered_prefix_sums);
    the closed form evaluates on ONE reduced row."""
    from recsys_spark_spark.operators.sorts import ordered_prefix_sums

    o = table(spark, sf_dir, "orders").select(
        "o_custkey", "o_orderdate", "o_orderkey", "o_totalprice"
    )
    wseq = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    wcnt = Window.partitionBy("o_custkey")
    seq = o.select(
        "o_custkey",
        rlong(F.col("o_totalprice") * 100).cast("long").alias("cents"),
        F.row_number().over(wseq).alias("rn"),
        F.count(F.lit(1)).over(wcnt).alias("m"),
    )
    first = seq.where((F.col("rn") == 1) & (F.col("m") >= 2)).select(
        "o_custkey", F.col("cents").alias("c0")
    )
    last = seq.where(F.col("rn") == F.col("m")).select(
        "o_custkey", F.col("cents").alias("c1")
    )
    nz = (
        first.join(last, "o_custkey")
        .select((F.col("c1") - F.col("c0")).alias("dc"))
        .where(F.col("dc") != 0)
        .select(
            F.abs("dc").alias("ad"),
            F.when(F.col("dc") > 0, 1).otherwise(0).cast("long").alias("pos"),
        )
    )
    v = nz.groupBy("ad").agg(
        F.sum("pos").alias("npos"), F.count(F.lit(1)).alias("nv")
    )
    c = ordered_prefix_sums(
        spark, v, order_col="ad", tiebreak="ad", sum_cols={"nv": "cumn"},
        descending=False,
    )
    s = c.agg(
        F.sum(
            F.col("npos") * (2 * (F.col("cumn") - F.col("nv")) + F.col("nv") + 1)
        ).alias("two_wp"),
        F.sum(F.col("nv") * F.col("nv") * F.col("nv") - F.col("nv")).alias("tsum"),
        F.sum("nv").alias("n"),
    )
    nd = F.col("n").cast("double")
    wp = F.col("two_wp") / F.lit(2.0)
    wm = nd * (F.col("n") + 1) / F.lit(2.0) - F.col("two_wp") / F.lit(2.0)
    zs = (
        F.col("two_wp") / F.lit(2.0) - nd * (F.col("n") + 1) / F.lit(4.0)
    ) / F.sqrt(
        nd * (F.col("n") + 1) * (2 * F.col("n") + 1) / F.lit(24.0)
        - F.col("tsum").cast("double") / F.lit(48.0)
    )
    z = s.select(F.col("n").alias("n_pairs"), wp.alias("wp"), wm.alias("wm"), zs.alias("zs"))
    return z.select(
        "n_pairs",
        (rlong(F.col("wp") * 1e6) / 1e6).alias("w_plus"),
        (rlong(F.col("wm") * 1e6) / 1e6).alias("w_minus"),
        (rlong(F.col("zs") * 1e6) / 1e6).alias("z_stat"),
        (rlong(2 * _phi_col(F.abs(F.col("zs"))) * 1e9) / 1e9).alias("p_two_sided"),
    )


# --------------------------------------------------------------------------
# M216: Benjamini-Hochberg FDR step-up over the segment test family
# --------------------------------------------------------------------------


@query(
    "q_stat_bh_fdr",
    oracle=CONV_SEG_CTES
    + f""",
z AS (
  SELECT segment,
         (CAST(pos AS DOUBLE) / n - CAST(tp - pos AS DOUBLE) / (tn - n))
         / sqrt((CAST(tp AS DOUBLE) / tn) * (1 - CAST(tp AS DOUBLE) / tn)
                * (1.0 / n + 1.0 / (tn - n))) AS z
  FROM seg CROSS JOIN tot
),
p AS (
  SELECT segment, 2 * {_phi_sql("abs(z)")} AS p2 FROM z
),
ranked AS (
  SELECT segment, p2,
         CAST(ROW_NUMBER() OVER (ORDER BY p2, segment) AS BIGINT) AS r,
         CAST(COUNT(*) OVER () AS BIGINT) AS m
  FROM p
),
adj AS (
  SELECT segment, p2, r, m,
         LEAST(1.0, MIN(m * p2 / r) OVER (ORDER BY r DESC
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)) AS p_bh
  FROM ranked
)
SELECT segment, r AS p_rank,
       ROUND(p2 * 1e9, 0) / 1e9 AS p_raw,
       ROUND(p_bh * 1e9, 0) / 1e9 AS p_bh_adjusted,
       CAST(CASE WHEN p_bh <= {ALPHA!r} THEN 1 ELSE 0 END AS BIGINT) AS significant_fdr
FROM adj
""",
)
def q_stat_bh_fdr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M216: Benjamini-Hochberg step-up FDR control (Benjamini & Hochberg
    1995) over the one-vs-rest segment conversion tests — the modern
    replacement for q_stat_pvalue's Bonferroni column: adjusted
    p_(r) = min_{{s>=r}} (m·p_(s)/s), rejected at FDR alpha={ALPHA!r}.

    The suffix running-min is a window over the K-ROW test family (the
    segment vocabulary, k=5 regardless of SF) — same class as the k-row
    reductions every stats query ends in, never data-sized. Decisions
    compare the UNROUNDED adjusted p on both engines (identical doubles
    through the shared A&S Φ polynomial), so flags cannot straddle a
    display rounding. Shape: q_stat_twoprop's one keyed aggregate +
    broadcast totals, then k-row windows."""
    seg, tot, _p1, _p2, z = _segment_conv_stats(spark, sf_dir)
    withp = (
        seg.join(F.broadcast(tot))
        .select("segment", z.alias("z"))
        .select("segment", (2 * _phi_col(F.abs(F.col("z")))).alias("p2"))
    )
    wr = Window.orderBy("p2", "segment")
    ranked = withp.select(
        "segment",
        "p2",
        F.row_number().over(wr).cast("long").alias("r"),
        F.count(F.lit(1)).over(Window.partitionBy()).cast("long").alias("m"),
    )
    wsuf = Window.orderBy(F.col("r").desc()).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    adj = ranked.select(
        "segment",
        "p2",
        "r",
        F.least(
            F.lit(1.0), F.min(F.col("m") * F.col("p2") / F.col("r")).over(wsuf)
        ).alias("p_bh"),
    )
    return adj.select(
        "segment",
        F.col("r").alias("p_rank"),
        (rlong(F.col("p2") * 1e9) / 1e9).alias("p_raw"),
        (rlong(F.col("p_bh") * 1e9) / 1e9).alias("p_bh_adjusted"),
        F.when(F.col("p_bh") <= ALPHA, 1).otherwise(0).cast("long").alias(
            "significant_fdr"
        ),
    )


# --------------------------------------------------------------------------
# M218: Brown-Forsythe variance-homogeneity test (median-centered Levene)
# --------------------------------------------------------------------------


@query(
    "q_stat_brown_forsythe",
    oracle=f"""
WITH d AS (
  SELECT c_mktsegment AS segment, CAST(ROUND(o_totalprice, 0) AS BIGINT) AS x
  FROM orders JOIN customer ON o_custkey = c_custkey
),
med AS (
  SELECT segment, CAST(ROUND(2 * quantile_cont(x, 0.5), 0) AS BIGINT) AS med2
  FROM d GROUP BY 1
),
z AS (
  SELECT d.segment, ABS(2 * d.x - m.med2) AS z2
  FROM d JOIN med m ON d.segment = m.segment
),
seg AS (
  SELECT segment, COUNT(*) AS n, CAST(SUM(z2) AS BIGINT) AS s1,
         CAST(SUM(z2 * z2) AS BIGINT) AS s2
  FROM z GROUP BY 1
),
terms AS (
  SELECT n, s1, s2,
         CAST(ROUND(CAST(s1 AS DOUBLE) * s1 / n, 0) AS BIGINT) AS t_int
  FROM seg
),
s AS (
  SELECT COUNT(*) AS k, SUM(n) AS nt, CAST(SUM(s1) AS BIGINT) AS t1,
         CAST(SUM(s2) AS BIGINT) AS t2, CAST(SUM(t_int) AS BIGINT) AS tsum
  FROM terms
),
w AS (
  SELECT k, nt,
         ((tsum - CAST(t1 AS DOUBLE) * t1 / nt) / (k - 1))
         / ((CAST(t2 AS DOUBLE) - tsum) / (nt - k)) AS w_stat
  FROM s
)
SELECT CAST(k AS BIGINT) AS k_groups, CAST(nt AS BIGINT) AS n_total,
       ROUND(w_stat * 1e6, 0) / 1e6 AS w_stat,
       ROUND(exp(-(k - 1) * w_stat / 2) * (1 + (k - 1) * w_stat / 2) * 1e9, 0)
         / 1e9 AS p_chi2_approx
FROM w
""",
)
def q_stat_brown_forsythe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M218: Brown-Forsythe test (Brown & Forsythe 1974) — Levene's
    variance-homogeneity test with MEDIAN centers, the robust check of
    ANOVA's equal-variance assumption: one-way ANOVA on the absolute
    deviations z = |x − med_g|. Large W ⇒ spread differs across
    segments even if means don't. Completes the inference chain:
    q_stat_anova assumes homoskedasticity; this tests it.

    Exactness: medians doubled into exact integers (interpolated
    midpoints are exact halves — the q_outlier_mad discipline), so the
    doubled deviations z2 are exact BIGINTs and the per-group
    (n, Σz2, Σz2²) sufficient statistics are exact integer aggregates;
    the one cross-group float sum uses q_stat_anova's per-group unit
    rounding (Σz2² ≤ ~1.5e17 at sf1, inside int64 through ~sf5 — the
    module envelope). p is the even-df chi-square LARGE-N approximation
    (k−1)·W ~ χ²₄ = exp(−Q/2)(1+Q/2) — documented as approximate; the
    exact reference is F(k−1, N−k), which converges to it as N grows
    (N ≥ 15k at the smallest SF).

    Shape: one exact per-segment median (sort-based, bounded-cardinality
    groups), a broadcast of the 5-row median table, one keyed aggregate
    of sufficient statistics, and a k-row closed form."""
    o = table(spark, sf_dir, "orders")
    c = table(spark, sf_dir, "customer")
    d = o.join(c, o.o_custkey == c.c_custkey).select(
        F.col("c_mktsegment").alias("segment"),
        _dollars("o_totalprice").alias("x"),
    )
    med = d.groupBy("segment").agg(
        rlong(F.lit(2) * F.percentile("x", 0.5)).cast("long").alias("med2")
    )
    z = d.join(F.broadcast(med), "segment").select(
        "segment", F.abs(2 * F.col("x") - F.col("med2")).alias("z2")
    )
    seg = z.groupBy("segment").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("z2").alias("s1"),
        F.sum(F.col("z2") * F.col("z2")).alias("s2"),
    )
    terms = seg.select(
        "n",
        "s1",
        "s2",
        rlong(F.col("s1").cast("double") * F.col("s1") / F.col("n"))
        .cast("long")
        .alias("t_int"),
    )
    s = terms.agg(
        F.count(F.lit(1)).alias("k"),
        F.sum("n").alias("nt"),
        F.sum("s1").alias("t1"),
        F.sum("s2").alias("t2"),
        F.sum("t_int").alias("tsum"),
    )
    wst = (
        (F.col("tsum") - F.col("t1").cast("double") * F.col("t1") / F.col("nt"))
        / (F.col("k") - 1)
    ) / ((F.col("t2").cast("double") - F.col("tsum")) / (F.col("nt") - F.col("k")))
    w = s.select("k", "nt", wst.alias("w_stat"))
    q = (F.col("k") - 1) * F.col("w_stat")
    return w.select(
        F.col("k").cast("long").alias("k_groups"),
        F.col("nt").cast("long").alias("n_total"),
        (rlong(F.col("w_stat") * 1e6) / 1e6).alias("w_stat"),
        (rlong(F.exp(-q / 2) * (1 + q / 2) * 1e9) / 1e9).alias("p_chi2_approx"),
    )


# --------------------------------------------------------------------------
# M222: Cohen's kappa — chance-corrected agreement of two labelers
# --------------------------------------------------------------------------

_KAPPA_A_SQL = """CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH') THEN 'high'
       WHEN o_orderpriority = '3-MEDIUM' THEN 'mid' ELSE 'low' END"""
_KAPPA_B_SQL = """CASE WHEN o_totalprice >= 150000 THEN 'high'
       WHEN o_totalprice >= 50000 THEN 'mid' ELSE 'low' END"""


@query(
    "q_stat_cohens_kappa",
    oracle=f"""
WITH lab AS (
  SELECT {_KAPPA_A_SQL} AS a, {_KAPPA_B_SQL} AS b FROM orders
),
ra AS (SELECT a AS k, CAST(COUNT(*) AS BIGINT) AS r FROM lab GROUP BY 1),
cb AS (SELECT b AS k, CAST(COUNT(*) AS BIGINT) AS c FROM lab GROUP BY 1),
agg AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(CASE WHEN a = b THEN 1 ELSE 0 END) AS BIGINT) AS agree
  FROM lab
),
chance AS (
  SELECT CAST(SUM(ra.r * cb.c) AS BIGINT) AS cx
  FROM ra JOIN cb ON ra.k = cb.k
)
SELECT n, agree,
       ROUND(agree / CAST(n AS DOUBLE) * 1e6, 0) / 1e6 AS po,
       ROUND(cx / (CAST(n AS DOUBLE) * n) * 1e6, 0) / 1e6 AS pe,
       ROUND((agree / CAST(n AS DOUBLE) - cx / (CAST(n AS DOUBLE) * n))
             / (1 - cx / (CAST(n AS DOUBLE) * n)) * 1e6, 0) / 1e6 AS kappa
FROM agg CROSS JOIN chance
""",
)
def q_stat_cohens_kappa(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M222: Cohen's kappa (Cohen 1960) — chance-corrected agreement
    between two deterministic labelers of each order: priority class
    (urgent/medium/low collapsed to high/mid/low) vs price band (fixed
    150k/50k thresholds). κ = (p_o − p_e)/(1 − p_e) where p_e is the
    marginal-product chance agreement. The label-quality primitive of a
    training pipeline: raw agreement overstates consistency whenever
    marginals are skewed — κ is what you report when auditing weak/LLM
    labelers against a gold rater.

    Exactness: the confusion matrix, its diagonal and both marginals are
    exact integer aggregates; Σ row_k·col_k ≤ 3n² stays in int64 through
    sf100, and n² in the p_e denominator is evaluated in doubles (exact
    below 2^53 through ~sf10, identical tree beyond). One keyed
    aggregate + two 3-row marginal aggregates + a 1-row closed form.

    Shape: everything reduces to k=3 marginal rows before any float;
    the final expression is a broadcast-free 1-row cross join."""
    o = table(spark, sf_dir, "orders")
    lab = o.select(
        F.when(F.col("o_orderpriority").isin("1-URGENT", "2-HIGH"), "high")
        .when(F.col("o_orderpriority") == "3-MEDIUM", "mid")
        .otherwise("low")
        .alias("a"),
        F.when(F.col("o_totalprice") >= 150000, "high")
        .when(F.col("o_totalprice") >= 50000, "mid")
        .otherwise("low")
        .alias("b"),
    )
    ra = lab.groupBy(F.col("a").alias("k")).agg(F.count(F.lit(1)).alias("r"))
    cb = lab.groupBy(F.col("b").alias("k")).agg(F.count(F.lit(1)).alias("c"))
    agg = lab.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.when(F.col("a") == F.col("b"), 1).otherwise(0)).alias("agree"),
    )
    chance = ra.join(cb, "k").agg(
        F.sum(F.col("r") * F.col("c")).cast("long").alias("cx")
    )
    nd = F.col("n").cast("double")
    po = F.col("agree") / nd
    pe = F.col("cx") / (nd * F.col("n"))
    return agg.crossJoin(F.broadcast(chance)).select(
        F.col("n").cast("long").alias("n"),
        F.col("agree").cast("long").alias("agree"),
        (rlong(po * 1e6) / 1e6).alias("po"),
        (rlong(pe * 1e6) / 1e6).alias("pe"),
        (rlong((po - pe) / (1 - pe) * 1e6) / 1e6).alias("kappa"),
    )
