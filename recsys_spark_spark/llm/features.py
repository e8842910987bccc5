"""3.M feature engineering for training export — the hashing trick and
leakage-safe future-window labels.

Two staples of a training-data pipeline that sit between the relational
engine and the trainer:

- **Feature hashing** (Weinberger et al., ICML 2009): categorical and
  crossed features mapped straight to vector indices by a hash — no vocab
  build, no dictionary shuffle, no OOV handling; THE way to featurize at
  100 TB when q_vocab_build's exact dictionary is too heavy. Pure per-row
  expressions (row-local, shuffle-free after the dim join).
- **Future-window labels**: supervised labels defined over a time window
  strictly AFTER the example's timestamp (did the customer order again
  within N days?) — computed with a per-key LEAD over the event sequence,
  so label leakage is structurally impossible (only the next event is
  consulted, never the row's own features).

Both are exact-oracled: the hash is the engine-portable md5 bucket
(llm/sampling.py's trick), labels are pure date arithmetic.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from recsys_spark_spark.catalog import spread, table
from recsys_spark_spark.registry import query

HASH_DIM = 1024  # feature-vector dimensionality (hashing-trick buckets)
LABEL_DAYS = 90  # future window for the repeat-order label


def _hash_idx(col):
    """Engine-portable hash index 0..HASH_DIM-1 (first 8 md5 hex digits)."""
    return (
        F.conv(F.substring(F.md5(col), 1, 8), 16, 10).cast("long") % HASH_DIM
    )


_HASH_SQL = (
    "CAST(('0x' || substring(md5({expr}), 1, 8)) AS BIGINT) % " + str(HASH_DIM)
)


@query(
    "q_feature_hash",
    oracle=f"""
SELECT o_orderkey,
       {_HASH_SQL.format(expr="'seg=' || c_mktsegment")} AS f_segment,
       {_HASH_SQL.format(expr="'pri=' || o_orderpriority")} AS f_priority,
       {_HASH_SQL.format(expr="'seg_x_pri=' || c_mktsegment || '|' || o_orderpriority")} AS f_cross,
       CAST(ROUND(o_totalprice * 100, 0) AS BIGINT) AS f_price_cents,
       CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END AS label
FROM orders JOIN customer ON o_custkey = c_custkey
""",
)
def q_feature_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M103: hashing-trick featurization (Weinberger'09) — categorical
    (segment, priority) and CROSSED (segment x priority) features mapped
    to {HASH_DIM}-dim vector indices by the engine-portable md5 bucket,
    alongside an exact numeric feature and a binary label: one training
    row per order, ready for a linear/factorization trainer.

    Why this beats a vocabulary at 100 TB: no global dictionary build
    (q_vocab_build's shuffle), no OOV path, new categories hash to stable
    indices forever, and crosses cost one string concat — every feature is
    a row-local expression, so featurization is a map over the joined
    fact, and the only exchange is the orders⋈customer key join (which a
    bucketed layout removes, q_join_bucketed)."""
    # sf1 probe: 3 md5+conv per row on a 1-4-task
    # scan measured 8.9 s / 15.6× at sf1 — spread() the fact side across
    # the session before the broadcast join; identity at scale (guarded).
    o = spread(
        spark,
        table(spark, sf_dir, "orders").select(
            "o_orderkey", "o_custkey", "o_orderpriority", "o_totalprice"
        ),
    )
    c = table(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    from recsys_spark_spark.functions.determinism import rlong

    return o.join(c, o.o_custkey == c.c_custkey).select(
        "o_orderkey",
        _hash_idx(F.concat(F.lit("seg="), F.col("c_mktsegment"))).alias("f_segment"),
        _hash_idx(F.concat(F.lit("pri="), F.col("o_orderpriority"))).alias("f_priority"),
        _hash_idx(
            F.concat(
                F.lit("seg_x_pri="),
                F.col("c_mktsegment"),
                F.lit("|"),
                F.col("o_orderpriority"),
            )
        ).alias("f_cross"),
        rlong(F.col("o_totalprice") * 100).cast("long").alias("f_price_cents"),
        F.when(F.col("o_orderpriority") == "1-URGENT", 1)
        .otherwise(0)
        .cast("long")
        .alias("label"),
    )


@query(
    "q_label_future_window",
    oracle=f"""
WITH seq AS (
  SELECT o_orderkey, o_custkey, o_orderdate,
         LEAD(o_orderdate) OVER (PARTITION BY o_custkey
                                 ORDER BY o_orderdate, o_orderkey) AS next_date
  FROM orders
)
SELECT o_orderkey, o_custkey,
       strftime(o_orderdate, '%Y-%m-%d') AS order_day,
       CASE WHEN next_date IS NOT NULL
             AND date_diff('day', o_orderdate, next_date) <= {LABEL_DAYS}
            THEN 1 ELSE 0 END AS repeat_{LABEL_DAYS}d
FROM seq
""",
)
def q_label_future_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M104: leakage-safe future-window labels — for every order, did the
    same customer order again within {LABEL_DAYS} days? The supervised
    label of churn/repeat models, built so leakage is STRUCTURALLY
    impossible: the label consults only the next event's timestamp via a
    per-customer LEAD (one user-keyed window sort), never any feature of
    the current row, and the window faces strictly forward.

    Scale shape: one keyed exchange shared by the sort and the lead; the
    label is a date-difference expression. Joining these labels to
    q_feature_hash's features on o_orderkey completes a training set —
    both sides ride the same order-keyed layout."""
    o = table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderdate"
    )
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    seq = o.withColumn("next_date", F.lead("o_orderdate").over(w))
    return seq.select(
        "o_orderkey",
        "o_custkey",
        F.date_format("o_orderdate", "yyyy-MM-dd").alias("order_day"),
        F.when(
            F.col("next_date").isNotNull()
            & (F.datediff("next_date", "o_orderdate") <= LABEL_DAYS),
            1,
        )
        .otherwise(0)
        .cast("long")
        .alias(f"repeat_{LABEL_DAYS}d"),
    )


@query(
    "q_eval_auc",
    oracle="""
WITH b AS (
  SELECT CAST(ROUND(o_totalprice * 100, 0) AS BIGINT) AS cents,
         CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END AS label
  FROM orders
),
g AS (
  SELECT cents, COUNT(*) AS n, CAST(SUM(label) AS BIGINT) AS npos
  FROM b GROUP BY 1
),
cum AS (
  SELECT cents, n, npos,
         COALESCE(SUM(n) OVER (ORDER BY cents
                               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                  0) AS cbefore
  FROM g
),
tot AS (
  SELECT CAST(SUM(npos * (2 * cbefore + n + 1)) AS BIGINT) AS s2,
         CAST(SUM(npos) AS BIGINT) AS np,
         CAST(SUM(n) - SUM(npos) AS BIGINT) AS nn
  FROM cum
)
SELECT np AS n_pos, nn AS n_neg,
       (ROUND(CAST(s2 - np * (np + 1) AS DOUBLE) / (2.0 * np * nn) * 1e6, 0)
        / 1e6) AS auc
FROM tot
""",
)
def q_eval_auc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M122: exact ROC AUC by rank sum (Mann-Whitney U) — does order value
    predict urgency? The binary-classifier evaluation every training
    export (q_feature_hash / q_label_future_window) ends in, computed
    EXACTLY: tied scores get average ranks, doubled into integers
    (2·avgrank = min_pos + max_pos = 2·c_before + n + 1), so the U
    statistic is a pure integer sum and the single final division is the
    only float op.

    Scale shape: the per-score ranks come from the shared
    operators.sorts.global_rank (value-bucketed distributed rank — NOT an
    unpartitioned window; the oracle's global cumulative sum is the
    semantics statement, not the plan), then one score-keyed aggregate
    and a 1-row total. AUC over 100 TB of scores is two keyed exchanges."""
    from recsys_spark_spark.functions.determinism import rlong
    from recsys_spark_spark.operators.sorts import global_rank

    o = table(spark, sf_dir, "orders").select(
        "o_orderkey",
        rlong(F.col("o_totalprice") * 100).cast("long").alias("cents"),
        F.when(F.col("o_orderpriority") == "1-URGENT", 1)
        .otherwise(0)
        .cast("long")
        .alias("label"),
    )
    ranked = global_rank(spark, o, "cents", "o_orderkey", descending=False)
    g = ranked.groupBy("cents").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("label").alias("npos"),
        F.min("pos").alias("minp"),
        F.max("pos").alias("maxp"),
    )
    tot = g.agg(
        F.sum(F.col("npos") * (F.col("minp") + F.col("maxp"))).alias("s2"),
        F.sum("npos").alias("np"),
        (F.sum("n") - F.sum("npos")).alias("nn"),
    )
    from recsys_spark_spark.functions.determinism import dround

    return tot.select(
        F.col("np").alias("n_pos"),
        F.col("nn").alias("n_neg"),
        dround(
            (F.col("s2") - F.col("np") * (F.col("np") + 1)).cast("double")
            / (F.lit(2.0) * F.col("np") * F.col("nn")),
            6,
        ).alias("auc"),
    )


@query(
    "q_target_encode_loo",
    oracle="""
WITH lab AS (
  SELECT o_orderkey, c_mktsegment AS segment,
         CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END AS label
  FROM orders JOIN customer ON o_custkey = c_custkey
),
seg AS (
  SELECT segment, COUNT(*) AS cnt, SUM(label) AS pos FROM lab GROUP BY 1
)
SELECT l.o_orderkey, l.segment, CAST(l.label AS BIGINT) AS label,
       CAST(s.pos - l.label AS BIGINT) AS loo_num,
       CAST(s.cnt - 1 AS BIGINT) AS loo_den,
       CAST(ROUND(1e6 * (s.pos - l.label) / (s.cnt - 1), 0) AS BIGINT) AS enc_ppm
FROM lab l JOIN seg s ON l.segment = s.segment
""",
)
def q_target_encode_loo(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M128: leakage-safe leave-one-out target encoding — each training
    row's categorical (market segment) replaced by the positive rate of
    all OTHER rows in its category: enc = (pos_c - y) / (cnt_c - 1). The
    standard high-cardinality encoder (Micci-Barreca, SIGKDD Expl. 2001),
    built so the row's own label can never leak into its feature.

    Shape for 100 TB: one keyed aggregate produces the per-category
    (cnt, pos) table — category-count-sized, so it BROADCASTS back onto
    the fact rows; no second shuffle, no per-row window over the full
    fact. Exactness: numerator and denominator are exact integer counts;
    the published ppm is one half-away-from-zero rounding of the same
    integer-ratio double on both engines (rlong/ROUND pair)."""
    from recsys_spark_spark.functions.determinism import rlong

    o = table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderpriority"
    )
    c = table(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    lab = o.join(c, o.o_custkey == c.c_custkey).select(
        "o_orderkey",
        F.col("c_mktsegment").alias("segment"),
        F.when(F.col("o_orderpriority") == "1-URGENT", 1)
        .otherwise(0)
        .cast("long")
        .alias("label"),
    )
    seg = lab.groupBy("segment").agg(
        F.count(F.lit(1)).alias("cnt"), F.sum("label").alias("pos")
    )
    num = F.col("pos") - F.col("label")
    den = F.col("cnt") - 1
    return lab.join(F.broadcast(seg), "segment").select(
        "o_orderkey",
        "segment",
        "label",
        num.cast("long").alias("loo_num"),
        den.cast("long").alias("loo_den"),
        rlong(F.lit(1e6) * num / den).cast("long").alias("enc_ppm"),
    )


@query(
    "q_woe_iv",
    oracle="""
WITH lab AS (
  SELECT c_mktsegment AS segment,
         CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END AS label
  FROM orders JOIN customer ON o_custkey = c_custkey
),
seg AS (
  SELECT segment,
         SUM(label) AS pos, COUNT(*) - SUM(label) AS neg
  FROM lab GROUP BY 1
),
tot AS (SELECT SUM(pos) AS tp, SUM(neg) AS tn FROM seg)
SELECT s.segment, CAST(s.pos AS BIGINT) AS pos, CAST(s.neg AS BIGINT) AS neg,
       ROUND(ln(((s.pos + 0.5) * (t.tn + 0.5)) / ((s.neg + 0.5) * (t.tp + 0.5))), 6) AS woe,
       ROUND((s.pos / CAST(t.tp AS DOUBLE) - s.neg / CAST(t.tn AS DOUBLE))
             * ROUND(ln(((s.pos + 0.5) * (t.tn + 0.5)) / ((s.neg + 0.5) * (t.tp + 0.5))), 6), 9) AS iv_term
FROM seg s CROSS JOIN tot t
""",
)
def q_woe_iv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M129: weight of evidence + information value per category — the
    credit-scoring / feature-selection screen: WOE_c = ln(P(c|pos) /
    P(c|neg)) with Haldane 0.5 smoothing, IV term = (pos share - neg
    share) x WOE. Categories with |WOE| near 0 carry no signal; IV sums
    to the feature's overall predictive value.

    Shape: one keyed aggregate to category-sized stats, then a 1-row
    totals cross join (broadcast) — nothing after the first shuffle
    touches fact-scale data, so the plan is flat at 100 TB. Exactness:
    ln's argument is a ratio of exact products of integers+0.5 (exact in
    double far past sf100), so both engines evaluate ln on the SAME
    double (the q_text_pmi contract) and round once at 1e-6; the IV term
    multiplies the ALREADY-rounded WOE to keep the pair deterministic."""
    o = table(spark, sf_dir, "orders").select("o_custkey", "o_orderpriority")
    c = table(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    lab = o.join(c, o.o_custkey == c.c_custkey).select(
        F.col("c_mktsegment").alias("segment"),
        F.when(F.col("o_orderpriority") == "1-URGENT", 1)
        .otherwise(0)
        .cast("long")
        .alias("label"),
    )
    seg = lab.groupBy("segment").agg(
        F.sum("label").alias("pos"),
        (F.count(F.lit(1)) - F.sum("label")).alias("neg"),
    )
    tot = seg.agg(F.sum("pos").alias("tp"), F.sum("neg").alias("tn"))
    woe = F.round(
        F.log(
            ((F.col("pos") + 0.5) * (F.col("tn") + 0.5))
            / ((F.col("neg") + 0.5) * (F.col("tp") + 0.5))
        ),
        6,
    )
    return seg.crossJoin(F.broadcast(tot)).select(
        "segment",
        F.col("pos").cast("long").alias("pos"),
        F.col("neg").cast("long").alias("neg"),
        woe.alias("woe"),
        F.round(
            (
                F.col("pos") / F.col("tp").cast("double")
                - F.col("neg") / F.col("tn").cast("double")
            )
            * woe,
            9,
        ).alias("iv_term"),
    )


@query(
    "q_feature_scale",
    oracle="""
WITH d AS (
  SELECT c_custkey, c_mktsegment AS segment,
         CAST(ROUND(c_acctbal * 100, 0) AS BIGINT) AS cents
  FROM customer
),
s AS (
  SELECT segment, COUNT(*) AS n, CAST(SUM(cents) AS BIGINT) AS s1,
         CAST(SUM(cents * cents) AS BIGINT) AS s2,
         MIN(cents) AS lo, MAX(cents) AS hi
  FROM d GROUP BY 1
)
SELECT c_custkey, d.segment, cents,
       CAST(ROUND((cents - CAST(s1 AS DOUBLE) / n)
             / sqrt((CAST(s2 AS DOUBLE) - CAST(s1 AS DOUBLE) * (CAST(s1 AS DOUBLE) / n)) / (n - 1))
             * 1e6, 0) AS BIGINT) AS z_ppm,
       CAST(ROUND((cents - lo) * 1e6 / (hi - lo), 0) AS BIGINT) AS mm_ppm
FROM d JOIN s ON d.segment = s.segment
""",
)
def q_feature_scale(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M136: per-group feature scaling for training export — z-score
    (sample stddev) and min-max normalization of account balance WITHIN
    each market segment, the feature-store standardization step that
    must happen in the engine at 100 TB (a driver-side scaler cannot
    see the data).

    Shape: ONE keyed aggregate reduces each group to 5 sufficient
    statistics (n, Σx, Σx², min, max) — a segment-count-sized table that
    BROADCASTS back onto the facts; no window over the group, no second
    shuffle, and the group stats are mergeable so the same plan
    two-level-aggregates at any scale. Exactness: cents are exact
    integers (Σx² < 2^63 through ~sf1000: cents ≤ 1e6), both engines
    evaluate the identical mean/var closed form on identical doubles and
    round ONCE to ppm (rlong/ROUND pair)."""
    from recsys_spark_spark.functions.determinism import rlong

    d = table(spark, sf_dir, "customer").select(
        "c_custkey",
        F.col("c_mktsegment").alias("segment"),
        rlong(F.col("c_acctbal") * 100).cast("long").alias("cents"),
    )
    s = d.groupBy("segment").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("cents").alias("s1"),
        F.sum(F.col("cents") * F.col("cents")).alias("s2"),
        F.min("cents").alias("lo"),
        F.max("cents").alias("hi"),
    )
    mean = F.col("s1").cast("double") / F.col("n")
    sd = F.sqrt(
        (F.col("s2").cast("double") - F.col("s1").cast("double") * mean)
        / (F.col("n") - 1)
    )
    x = F.col("cents")
    return d.join(F.broadcast(s), "segment").select(
        "c_custkey",
        "segment",
        "cents",
        rlong((x - mean) / sd * 1e6).cast("long").alias("z_ppm"),
        rlong((x - F.col("lo")) * 1e6 / (F.col("hi") - F.col("lo"))).cast("long").alias("mm_ppm"),
    )


@query(
    "q_feature_store",
    oracle="""
WITH scale AS (
  SELECT c_custkey, c_mktsegment AS segment,
         CAST(ROUND(c_acctbal * 100, 0) AS BIGINT) AS cents
  FROM customer
),
stats AS (
  SELECT segment, COUNT(*) AS n, CAST(SUM(cents) AS BIGINT) AS s1,
         CAST(SUM(cents * cents) AS BIGINT) AS s2,
         MIN(cents) AS lo, MAX(cents) AS hi
  FROM scale GROUP BY 1
),
base AS (
  SELECT o_custkey AS c_custkey,
         date_diff('day', MAX(CAST(o_orderdate AS DATE)),
                   (SELECT MAX(CAST(o_orderdate AS DATE)) FROM orders)) AS r_days,
         COUNT(*) AS f_orders,
         CAST(SUM(CAST(ROUND(o_totalprice, 0) AS BIGINT)) AS BIGINT) AS m_dollars
  FROM orders GROUP BY 1
),
n AS (SELECT COUNT(*) AS n FROM base),
rfm AS (
  SELECT c_custkey, r_days, f_orders, m_dollars,
         CAST(6 - ((ROW_NUMBER() OVER (ORDER BY r_days ASC, c_custkey) - 1) * 5 // n + 1) AS BIGINT) AS r_score,
         CAST((ROW_NUMBER() OVER (ORDER BY f_orders ASC, c_custkey) - 1) * 5 // n + 1 AS BIGINT) AS f_score,
         CAST((ROW_NUMBER() OVER (ORDER BY m_dollars ASC, c_custkey) - 1) * 5 // n + 1 AS BIGINT) AS m_score
  FROM base CROSS JOIN n
),
gaps AS (
  SELECT o_custkey AS c_custkey,
         date_diff('day',
           lag(CAST(o_orderdate AS DATE)) OVER (PARTITION BY o_custkey ORDER BY CAST(o_orderdate AS DATE), o_orderkey),
           CAST(o_orderdate AS DATE)) AS gap
  FROM orders
),
cycle AS (
  SELECT c_custkey,
         ROUND(CAST(SUM(gap) AS DOUBLE) / COUNT(*) * 1e6, 0) / 1e6 AS mean_gap_days
  FROM gaps WHERE gap IS NOT NULL GROUP BY 1
)
SELECT s.c_custkey, s.segment, s.cents,
       CAST(ROUND((s.cents - CAST(t.s1 AS DOUBLE) / t.n)
             / sqrt((CAST(t.s2 AS DOUBLE) - CAST(t.s1 AS DOUBLE) * (CAST(t.s1 AS DOUBLE) / t.n)) / (t.n - 1))
             * 1e6, 0) AS BIGINT) AS z_ppm,
       CAST(ROUND((s.cents - t.lo) * 1e6 / (t.hi - t.lo), 0) AS BIGINT) AS mm_ppm,
       r.r_days, r.f_orders, r.m_dollars, r.r_score, r.f_score, r.m_score,
       c.mean_gap_days
FROM scale s
JOIN stats t ON s.segment = t.segment
LEFT JOIN rfm r ON s.c_custkey = r.c_custkey
LEFT JOIN cycle c ON s.c_custkey = c.c_custkey
""",
)
def q_feature_store(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M155: feature-store materialization — ONE wide per-customer training
    table composed from three registered operators in a single lazy plan:
    q_feature_scale's standardized balance (all customers), left-joined
    with q_rfm_segmentation's quintile scores (ordering customers) and
    q_purchase_cycle's mean inter-order gap (repeat customers). The
    export a trainer actually consumes; never-ordered customers carry
    NULL behavioral features by design (the imputation decision belongs
    to the trainer, not the warehouse).

    Shape: pure composition — Catalyst fuses the three sub-plans and the
    two customer-keyed left joins into one DAG; the sub-operators keep
    their own scale contracts (broadcast group stats, distributed global
    ranks, single keyed window). Engine side literally CALLS the three
    registered builders, so the composed plan can never drift from the
    operators it publishes."""
    from recsys_spark_spark.operators.analytics import q_rfm_segmentation
    from recsys_spark_spark.operators.temporal import q_purchase_cycle

    scale = q_feature_scale(spark, sf_dir)
    rfm = q_rfm_segmentation(spark, sf_dir)
    cycle = q_purchase_cycle(spark, sf_dir).select(
        F.col("o_custkey").alias("c_custkey"), "mean_gap_days"
    )
    return (
        scale.join(rfm, "c_custkey", "left")
        .join(cycle, "c_custkey", "left")
        .select(
            "c_custkey",
            "segment",
            "cents",
            "z_ppm",
            "mm_ppm",
            "r_days",
            "f_orders",
            "m_dollars",
            "r_score",
            "f_score",
            "m_score",
            "mean_gap_days",
        )
    )


WINSOR_LO_PCT = 5   # clamp below the 5th percentile
WINSOR_HI_PCT = 95  # and above the 95th


@query(
    "q_feature_winsorize",
    oracle=f"""
WITH d AS (
  SELECT c_custkey, c_mktsegment AS segment,
         CAST(ROUND(c_acctbal * 100, 0) AS BIGINT) AS cents
  FROM customer
),
ranked AS (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY segment ORDER BY cents, c_custkey) AS rn,
         COUNT(*) OVER (PARTITION BY segment) AS n
  FROM d
),
cuts AS (
  SELECT segment,
         MIN(CASE WHEN rn = CAST(CEIL(n * {WINSOR_LO_PCT} / 100.0) AS BIGINT) THEN cents END) AS lo,
         MIN(CASE WHEN rn = CAST(CEIL(n * {WINSOR_HI_PCT} / 100.0) AS BIGINT) THEN cents END) AS hi
  FROM ranked GROUP BY 1
)
SELECT c_custkey, d.segment, cents, lo, hi,
       CAST(LEAST(GREATEST(cents, lo), hi) AS BIGINT) AS cents_winsorized,
       CAST(CASE WHEN cents < lo OR cents > hi THEN 1 ELSE 0 END AS BIGINT) AS is_clamped
FROM d JOIN cuts ON d.segment = cuts.segment
""",
)
def q_feature_winsorize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M161: per-group winsorization — account balance clamped to the
    segment's [p{WINSOR_LO_PCT}, p{WINSOR_HI_PCT}] percentile-disc cuts,
    the robust-preprocessing step that tames outliers WITHOUT dropping
    rows (the complement of q_outlier_mad's detection: this repairs).
    Percentile-disc semantics — the value at rank ceil(n·p) of the
    (value, custkey) total order — keep the cut an actual data value and
    the whole definition integer-exact (no interpolation to diverge
    engines on).

    Shape: one SEGMENT-keyed ranked window over the group (partitioned,
    never global), cuts reduce to a segment-count-sized table that
    BROADCASTS back onto the rows for a row-local clamp. Exactness: rank
    positions and cut values are exact integers; ceil(n·p/100) uses the
    same double ceil on both engines (n·5/100 with n < 2^40 is exact in
    a double, so the ceil cannot straddle)."""
    from recsys_spark_spark.functions.determinism import rlong

    d = table(spark, sf_dir, "customer").select(
        "c_custkey",
        F.col("c_mktsegment").alias("segment"),
        rlong(F.col("c_acctbal") * 100).cast("long").alias("cents"),
    )
    wr = Window.partitionBy("segment").orderBy("cents", "c_custkey")
    wc = Window.partitionBy("segment")
    ranked = d.withColumn("rn", F.row_number().over(wr)).withColumn(
        "n", F.count(F.lit(1)).over(wc)
    )
    lo_rank = F.ceil(F.col("n") * WINSOR_LO_PCT / 100.0).cast("long")
    hi_rank = F.ceil(F.col("n") * WINSOR_HI_PCT / 100.0).cast("long")
    cuts = ranked.groupBy("segment").agg(
        F.min(F.when(F.col("rn") == lo_rank, F.col("cents"))).alias("lo"),
        F.min(F.when(F.col("rn") == hi_rank, F.col("cents"))).alias("hi"),
    )
    j = d.join(F.broadcast(cuts), "segment")
    return j.select(
        "c_custkey",
        "segment",
        "cents",
        "lo",
        "hi",
        F.least(F.greatest(F.col("cents"), F.col("lo")), F.col("hi"))
        .cast("long")
        .alias("cents_winsorized"),
        F.when((F.col("cents") < F.col("lo")) | (F.col("cents") > F.col("hi")), 1)
        .otherwise(0)
        .cast("long")
        .alias("is_clamped"),
    )


# --------------------------------------------------------------------------
# M213: calibration audit + Brier score of an empirical-rate predictor
# --------------------------------------------------------------------------

CALIB_SPLIT = "1998-01-01"  # train < split <= test (~45/55 at every SF)


@query(
    "q_eval_calibration",
    oracle=f"""
WITH o AS (
  SELECT c_mktsegment AS seg, o_orderpriority AS prio,
         CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END AS y,
         o_orderdate < TIMESTAMP '{CALIB_SPLIT}' AS is_train
  FROM orders JOIN customer ON o_custkey = c_custkey
), tr AS (
  SELECT seg, prio, CAST(COUNT(*) AS BIGINT) AS n_train,
         CAST(SUM(y) AS BIGINT) AS k_train
  FROM o WHERE is_train GROUP BY 1, 2
), te AS (
  SELECT seg, prio, CAST(COUNT(*) AS BIGINT) AS n_test,
         CAST(SUM(y) AS BIGINT) AS k_test
  FROM o WHERE NOT is_train GROUP BY 1, 2
)
SELECT tr.seg AS c_mktsegment, tr.prio AS o_orderpriority,
       tr.n_train, te.n_test,
       ROUND(CAST(tr.k_train AS DOUBLE) / tr.n_train * 1e6, 0) / 1e6 AS p_pred,
       ROUND(CAST(te.k_test AS DOUBLE) / te.n_test * 1e6, 0) / 1e6 AS p_obs,
       ROUND((te.n_test * (CAST(tr.k_train AS DOUBLE) / tr.n_train)
                        * (CAST(tr.k_train AS DOUBLE) / tr.n_train)
              - 2 * (CAST(tr.k_train AS DOUBLE) / tr.n_train) * te.k_test
              + te.k_test) / te.n_test * 1e6, 0) / 1e6 AS brier
FROM tr JOIN te ON tr.seg = te.seg AND tr.prio = te.prio
""",
)
def q_eval_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M213: calibration audit + per-cell Brier score of an empirical-rate
    predictor on a TEMPORAL split — train rates P(status='F') per
    (segment, priority) before {CALIB_SPLIT} are scored against the
    held-out tail. The reliability-diagram table (predicted vs observed
    rate per prediction cell) plus the proper scoring rule, completing
    the eval family (AUC ranks, hitrate recalls, this checks probability
    CALIBRATION — the property AUC cannot see).

    Exactness: counts are exact BIGINTs; p = k/n is one double division
    and the per-cell Brier uses the expansion Σ(p-y)² = n·p² - 2pk + k,
    so both engines evaluate the identical closed form on integer inputs
    — no per-row float accumulation anywhere. Shape: two keyed aggregates
    over the same join + one cell-keyed join of two 25-row tables; the
    temporal split is a pushed-down scan predicate, the 100 TB pattern
    for leakage-free backtests (never a random split of history)."""
    from recsys_spark_spark.functions.determinism import rlong

    o = table(spark, sf_dir, "orders")
    c = table(spark, sf_dir, "customer")
    base = o.join(c, o.o_custkey == c.c_custkey).select(
        F.col("c_mktsegment").alias("seg"),
        F.col("o_orderpriority").alias("prio"),
        F.when(F.col("o_orderstatus") == "F", 1).otherwise(0).cast("long").alias("y"),
        (F.col("o_orderdate") < F.lit(CALIB_SPLIT).cast("timestamp")).alias("is_train"),
    )
    tr = (
        base.where("is_train")
        .groupBy("seg", "prio")
        .agg(F.count(F.lit(1)).alias("n_train"), F.sum("y").alias("k_train"))
    )
    te = (
        base.where(~F.col("is_train"))
        .groupBy("seg", "prio")
        .agg(F.count(F.lit(1)).alias("n_test"), F.sum("y").alias("k_test"))
    )
    p = F.col("k_train").cast("double") / F.col("n_train")
    return tr.join(te, ["seg", "prio"]).select(
        F.col("seg").alias("c_mktsegment"),
        F.col("prio").alias("o_orderpriority"),
        "n_train",
        "n_test",
        (rlong(p * 1e6) / 1e6).alias("p_pred"),
        (rlong(F.col("k_test").cast("double") / F.col("n_test") * 1e6) / 1e6).alias(
            "p_obs"
        ),
        (
            rlong(
                (F.col("n_test") * p * p - 2 * p * F.col("k_test") + F.col("k_test"))
                / F.col("n_test")
                * 1e6
            )
            / 1e6
        ).alias("brier"),
    )
