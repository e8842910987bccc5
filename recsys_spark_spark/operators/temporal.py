"""3.M temporal / warehouse maintenance operators — gap-fill, SCD2, CDC diff.

Reference parity: the reference's nightly-batch shape (Hive in, Hive/MySQL out,
reconstructed — SURVEY.md §1 [R:M]) implies the standard warehouse maintenance
ops around the CF pipeline: filling calendar gaps in activity rollups, building
type-2 dimension history, and diffing consecutive snapshots for incremental
loads. Each is expressed as one declarative DataFrame plan:

- gap-fill: per-key `sequence()` explode + left join — keyed by user, so at
  100 TB it is partition-parallel with no global calendar table and no skew
  (each user's span is bounded by the data retention window).
- SCD2: gaps-and-islands (lag + running sum) in a single per-key window sort,
  then one keyed aggregation — the canonical two-shuffle history build.
- CDC diff: one co-partitioned full-outer hash join on the snapshot key; at
  scale both snapshots come bucketed by the key so the join is exchange-free
  (same layout argument as q_join_bucketed, operators/joins.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from recsys_spark_spark.catalog import memo, table
from recsys_spark_spark.functions.determinism import dround, rlong
from recsys_spark_spark.registry import query
from recsys_spark_spark.streaming.streams import SESSION_GAP_S


@query(
    "q_ts_gapfill",
    oracle="""
WITH base AS (SELECT user_id, CAST(ts AS DATE) AS day FROM events),
counts AS (SELECT user_id, day, COUNT(*) AS n FROM base GROUP BY 1, 2),
spans AS (SELECT user_id, MIN(day) AS d0, MAX(day) AS d1 FROM base GROUP BY 1),
days AS (
  SELECT user_id, CAST(unnest(generate_series(CAST(d0 AS TIMESTAMP), CAST(d1 AS TIMESTAMP), INTERVAL 1 DAY)) AS DATE) AS day
  FROM spans
)
SELECT d.user_id, strftime(d.day, '%Y-%m-%d') AS day_str,
       CAST(COALESCE(c.n, 0) AS BIGINT) AS n_events
FROM days d LEFT JOIN counts c ON d.user_id = c.user_id AND d.day = c.day
""",
)
def q_ts_gapfill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-series gap-fill: daily event counts per user with zero rows for
    every missing day inside each user's [first, last] activity span.

    The calendar is generated per key (`sequence(d0, d1, interval 1 day)` +
    explode), not as a global dimension: at 100 TB this stays keyed by
    user_id end-to-end — two hash aggregations and one left join, all on the
    same key, no cross-join against a date table, no driver state. Day is
    emitted as an ISO string because engines disagree on date dtypes across
    the Arrow boundary (SURVEY.md §7.5 timestamp pitfalls)."""
    e = table(spark, sf_dir, "events").select(
        "user_id", F.to_date("ts").alias("day")
    )
    counts = e.groupBy("user_id", "day").agg(F.count(F.lit(1)).alias("n"))
    spans = e.groupBy("user_id").agg(F.min("day").alias("d0"), F.max("day").alias("d1"))
    days = spans.select(
        "user_id", F.explode(F.expr("sequence(d0, d1, interval 1 day)")).alias("day")
    )
    return days.join(counts, ["user_id", "day"], "left").select(
        "user_id",
        F.date_format("day", "yyyy-MM-dd").alias("day_str"),
        F.coalesce("n", F.lit(0)).cast("long").alias("n_events"),
    )


@query(
    "q_scd2_events",
    oracle="""
WITH ordered AS (
  SELECT user_id, event_type, ts, event_id,
         LAG(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_type
  FROM events
),
flagged AS (
  SELECT user_id, event_type, ts, event_id,
         CASE WHEN prev_type IS NULL OR prev_type <> event_type THEN 1 ELSE 0 END AS chg
  FROM ordered
),
islands AS (
  SELECT user_id, event_type, ts,
         SUM(chg) OVER (PARTITION BY user_id ORDER BY ts, event_id
                        ROWS UNBOUNDED PRECEDING) AS island
  FROM flagged
)
SELECT user_id, event_type, CAST(island AS BIGINT) AS island,
       CAST(FLOOR(epoch(MIN(ts))) AS BIGINT) AS valid_from_s,
       CAST(FLOOR(epoch(MAX(ts))) AS BIGINT) AS valid_to_s,
       COUNT(*) AS n_events
FROM islands
GROUP BY user_id, event_type, island
""",
)
def q_scd2_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD type-2 history build: collapse each user's event stream into
    validity intervals — one row per maximal run of a constant event_type,
    with [valid_from, valid_to] bounds and the run length.

    Gaps-and-islands: lag() marks type changes, a running sum over the same
    (partition, order) numbers the runs, then one keyed aggregation emits the
    intervals. Both window passes share a single per-user sort (same
    partitionBy/orderBy → one Window physical node chain, no second
    exchange), and the groupBy keys are a superset of the window partition
    key, so the whole history build is TWO shuffles at any scale. Interval
    bounds are emitted as epoch seconds: events.ts is nanos in parquet and
    Spark truncates to micros, so raw timestamps can never be oracle-compared
    (SURVEY.md §7.5); flooring to seconds is engine-portable."""
    e = table(spark, sf_dir, "events").select("user_id", "event_type", "ts", "event_id")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    prev = F.lag("event_type").over(w)
    flagged = e.withColumn(
        "chg",
        F.when(prev.isNull() | (prev != F.col("event_type")), F.lit(1)).otherwise(F.lit(0)),
    )
    islands = flagged.withColumn(
        "island",
        F.sum("chg").over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)),
    )
    return (
        islands.groupBy("user_id", "event_type", "island")
        .agg(
            F.unix_timestamp(F.min("ts")).alias("valid_from_s"),
            F.unix_timestamp(F.max("ts")).alias("valid_to_s"),
            F.count(F.lit(1)).alias("n_events"),
        )
        .select(
            "user_id",
            "event_type",
            F.col("island").cast("long").alias("island"),
            "valid_from_s",
            "valid_to_s",
            "n_events",
        )
    )


@query(
    "q_ts_ffill",
    oracle="""
WITH base AS (
  SELECT event_id, user_id, event_type, ts,
         CASE WHEN event_type = 'error' THEN NULL ELSE value END AS v
  FROM events
)
SELECT event_id, user_id, event_type,
       v AS val_raw,
       last_value(v IGNORE NULLS) OVER (
         PARTITION BY user_id ORDER BY ts, event_id
         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
       ) AS val_ffill
FROM base
""",
)
def q_ts_ffill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Forward-fill: carry each user's last valid reading across invalid
    rows (error events null out `value`; `last(... ignorenulls)` over a
    running frame propagates the most recent non-null) — the standard
    sensor-stream repair step before resampling or feature extraction.

    One per-key window sort, no joins: at 100 TB the fill is keyed by
    user_id and partition-parallel; rows before a user's first valid reading
    stay NULL (both engines agree — no implicit default). `value` is copied,
    never recomputed, so float parity with the oracle is bit-exact."""
    e = table(spark, sf_dir, "events")
    v = F.when(F.col("event_type") == "error", F.lit(None).cast("double")).otherwise(
        F.col("value")
    )
    base = e.select("event_id", "user_id", "event_type", "ts", v.alias("v"))
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return base.select(
        "event_id",
        "user_id",
        "event_type",
        F.col("v").alias("val_raw"),
        F.last("v", ignorenulls=True).over(w).alias("val_ffill"),
    )


@query(
    "q_cdc_diff",
    oracle="""
WITH old AS (
  SELECT o_orderkey, o_orderstatus AS old_status, o_totalprice AS old_total, 1 AS in_old
  FROM orders WHERE o_orderkey % 10 <> 0
),
new AS (
  SELECT o_orderkey,
         CASE WHEN o_orderkey % 5 = 0 THEN 'R' ELSE o_orderstatus END AS new_status,
         CASE WHEN o_orderkey % 5 = 0 THEN o_totalprice + 10.0 ELSE o_totalprice END AS new_total,
         1 AS in_new
  FROM orders WHERE o_orderkey % 7 <> 0
)
SELECT COALESCE(old.o_orderkey, new.o_orderkey) AS o_orderkey,
       CASE WHEN in_old IS NULL THEN 'insert'
            WHEN in_new IS NULL THEN 'delete'
            ELSE 'update' END AS change_type,
       old_status, new_status, old_total, new_total
FROM old FULL OUTER JOIN new ON old.o_orderkey = new.o_orderkey
WHERE in_old IS NULL OR in_new IS NULL
   OR old_status <> new_status OR old_total <> new_total
""",
)
def q_cdc_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC snapshot diff: given yesterday's and today's snapshot of a keyed
    table, emit the change stream (insert / update / delete rows only) — the
    incremental-load primitive behind every MERGE-based warehouse sync.

    Snapshots are derived deterministically from `orders` by modulo rules
    (keys ≡0 mod 10 exist only in the new snapshot → inserts; ≡0 mod 7 only
    in the old → deletes; ≡0 mod 5 get a status/price rewrite → updates), so
    the oracle is exact. The diff itself is ONE full-outer hash join on the
    snapshot key plus a row-local classifier — no window, no global sort. At
    100 TB both snapshots would be written bucketed by the key, making the
    join exchange-free (the layout proven by q_join_bucketed); unchanged rows
    are dropped before any downstream shuffle, so the change stream is
    proportional to the delta, not the table."""
    o = table(spark, sf_dir, "orders")
    old = o.where(F.col("o_orderkey") % 10 != 0).select(
        "o_orderkey",
        F.col("o_orderstatus").alias("old_status"),
        F.col("o_totalprice").alias("old_total"),
        F.lit(1).alias("in_old"),
    )
    hot = F.col("o_orderkey") % 5 == 0
    new = o.where(F.col("o_orderkey") % 7 != 0).select(
        "o_orderkey",
        F.when(hot, F.lit("R")).otherwise(F.col("o_orderstatus")).alias("new_status"),
        F.when(hot, F.col("o_totalprice") + 10.0).otherwise(F.col("o_totalprice")).alias("new_total"),
        F.lit(1).alias("in_new"),
    )
    diff = old.join(new, "o_orderkey", "full")
    changed = (
        F.col("in_old").isNull()
        | F.col("in_new").isNull()
        | (F.col("old_status") != F.col("new_status"))
        | (F.col("old_total") != F.col("new_total"))
    )
    return diff.where(changed).select(
        "o_orderkey",
        F.when(F.col("in_old").isNull(), "insert")
        .when(F.col("in_new").isNull(), "delete")
        .otherwise("update")
        .alias("change_type"),
        "old_status",
        "new_status",
        "old_total",
        "new_total",
    )


@memo
def minute_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Finest rollup tier: per-minute event count + scaled-int value sum,
    persisted — the hour and day tiers re-aggregate these partials instead
    of rescanning events; a real hypertable materializes each tier the same
    way. The scaled-integer partial (functions/determinism.py discipline) is
    what makes the cascade EXACTLY mergeable: upper tiers sum longs, so any
    regrouping — minute→hour→day here, or partition-wise partials on a
    cluster — produces bit-identical results."""
    from recsys_spark_spark.functions.determinism import rlong

    e = table(spark, sf_dir, "events")
    return e.groupBy(F.date_trunc("minute", "ts").alias("minute_b")).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(rlong(F.col("value") * F.lit(1e6))).alias("sv"),
    )


@query(
    "q_ts_rollup_cascade",
    oracle="""
WITH minute AS (
  SELECT date_trunc('minute', ts) AS b, COUNT(*) AS n,
         SUM(CAST(ROUND(value * 1e6, 0) AS BIGINT)) AS sv
  FROM events GROUP BY 1
), hour AS (
  SELECT date_trunc('hour', b) AS b, CAST(SUM(n) AS BIGINT) AS n, CAST(SUM(sv) AS BIGINT) AS sv
  FROM minute GROUP BY 1
), day AS (
  SELECT date_trunc('day', b) AS b, CAST(SUM(n) AS BIGINT) AS n, CAST(SUM(sv) AS BIGINT) AS sv
  FROM hour GROUP BY 1
)
SELECT 'minute' AS resolution, strftime(b, '%Y-%m-%d %H:%M') AS bucket, n, sv / 1e6 AS sum_value FROM minute
UNION ALL
SELECT 'hour', strftime(b, '%Y-%m-%d %H:%M'), n, sv / 1e6 FROM hour
UNION ALL
SELECT 'day', strftime(b, '%Y-%m-%d %H:%M'), n, sv / 1e6 FROM day
""",
)
def q_ts_rollup_cascade(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hypertable-style continuous-aggregate cascade: minute → hour → day
    rollups where each coarser tier re-aggregates the FINER TIER'S PARTIALS
    (persisted minute tier; see minute_rollup) instead of rescanning the
    fact table — the downsampling layout behind time-series stores'
    continuous aggregates.

    Events are scanned once; the hour tier aggregates ~minutes rows and the
    day tier ~hours rows — both output-sized. Exact mergeability comes from
    the scaled-integer sum discipline: partials are longs, so
    minute→hour→day equals a direct events→day aggregation bit-for-bit (the
    oracle computes every tier through the same cascade). At 100 TB each
    tier is a materialized, date-partitioned table and refresh touches only
    the changed partitions."""
    minute = minute_rollup(spark, sf_dir)
    hour = minute.groupBy(F.date_trunc("hour", "minute_b").alias("hour_b")).agg(
        F.sum("n").alias("n"), F.sum("sv").alias("sv")
    )
    day = hour.groupBy(F.date_trunc("day", "hour_b").alias("day_b")).agg(
        F.sum("n").alias("n"), F.sum("sv").alias("sv")
    )

    def tier(df: DataFrame, bucket_col: str, label: str) -> DataFrame:
        return df.select(
            F.lit(label).alias("resolution"),
            F.date_format(bucket_col, "yyyy-MM-dd HH:mm").alias("bucket"),
            F.col("n"),
            (F.col("sv") / F.lit(1e6)).alias("sum_value"),
        )

    return (
        tier(minute, "minute_b", "minute")
        .unionByName(tier(hour, "hour_b", "hour"))
        .unionByName(tier(day, "day_b", "day"))
    )


# --------------------------------------------------------------------------
# M71: incremental aggregate maintenance (base + delta merge == recompute)
# --------------------------------------------------------------------------

INCR_CUTOFF = "1997-01-01"


@query(
    "q_incr_agg",
    oracle="""
SELECT date_trunc('month', o_orderdate) AS month,
       o_orderpriority AS priority,
       COUNT(*) AS n_orders,
       CAST(SUM(CAST(ROUND(o_totalprice * 100, 0) AS BIGINT)) AS BIGINT) AS cents
FROM orders
GROUP BY 1, 2
""",
)
def q_incr_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M71: incremental materialized-aggregate maintenance. The standing
    monthly rollup is computed as BASE (orders before the cutoff, the
    'already materialized' state) merged with DELTA (the new batch at/after
    the cutoff) by re-aggregating the union of partials — never by
    recomputing from raw history. The oracle states the direct recompute
    over all rows, so the green row IS the proof that the merge operator
    (sum of counts, sum of cent-sums) reconstructs the full aggregate
    exactly — the mergeability contract that makes the rollup maintainable
    at 100 TB (each refresh touches only the delta partitions; the base is
    output-sized, month x priority).

    All metrics are decomposable sums over exact integers (counts, cents),
    so merge order cannot drift the result."""
    o = table(spark, sf_dir, "orders")
    cents = rlong(F.col("o_totalprice") * 100)

    def rollup(df: DataFrame) -> DataFrame:
        return df.groupBy(
            F.date_trunc("month", "o_orderdate").alias("month"),
            F.col("o_orderpriority").alias("priority"),
        ).agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum(cents).cast("long").alias("cents"),
        )

    base = rollup(o.where(F.col("o_orderdate") < F.lit(INCR_CUTOFF)))
    delta = rollup(o.where(F.col("o_orderdate") >= F.lit(INCR_CUTOFF)))
    return (
        base.unionByName(delta)
        .groupBy("month", "priority")
        .agg(
            F.sum("n_orders").cast("long").alias("n_orders"),
            F.sum("cents").cast("long").alias("cents"),
        )
    )


# --------------------------------------------------------------------------
# M96: batch gap-sessionization (30-minute inactivity boundary)
# --------------------------------------------------------------------------


@query(
    "q_sessionize_batch",
    oracle=f"""
WITH ordered AS (
  SELECT user_id, ts, event_id, value,
         LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts
  FROM events
), flagged AS (
  SELECT user_id, ts, event_id, value,
         CASE WHEN prev_ts IS NULL
                OR date_diff('second', prev_ts, ts) >= {SESSION_GAP_S}
              THEN 1 ELSE 0 END AS new_s
  FROM ordered
), numbered AS (
  SELECT user_id, ts, value,
         SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
                          ROWS UNBOUNDED PRECEDING) AS session_id
  FROM flagged
)
SELECT user_id, CAST(session_id AS BIGINT) AS session_id,
       CAST(FLOOR(epoch(MIN(ts))) AS BIGINT) AS start_s,
       CAST(FLOOR(epoch(MAX(ts))) AS BIGINT) AS end_s,
       COUNT(*) AS n_events,
       CAST(SUM(CAST(ROUND(value * 100, 0) AS BIGINT)) AS BIGINT) AS value_cents
FROM numbered
GROUP BY 1, 2
""",
)
def q_sessionize_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M96: batch sessionization by inactivity gap — the gaps-and-islands
    form of what q_stream_session does with session_window: a session
    boundary opens wherever a user's gap to the previous event, in whole
    seconds, is SESSION_GAP_S or more (the streams.py session contract),
    sessions are numbered per user by a running sum of
    boundary flags, then one aggregation emits per-session span/volume.

    This is the BATCH twin with *event-chain* semantics (a session extends
    as long as consecutive events stay within the gap — unbounded total
    duration), the standard offline definition for training-data
    sessionization. Scale shape: one user-keyed window sort feeds both the
    lag and the running sum (same partitioning, one exchange), the final
    aggregate is keyed by (user, session) — a superset key, so no third
    full-data exchange is required beyond the hash agg's own; no global
    state, no driver loops. Epoch-second outputs dodge cross-engine
    timestamp dtypes (same discipline as q_scd2_events)."""
    e = table(spark, sf_dir, "events").select("user_id", "ts", "event_id", "value")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap = F.unix_timestamp("ts") - F.unix_timestamp(F.lag("ts").over(w))
    # two explicit window passes (lag, then running sum) rather than one
    # nested expression — same single exchange (identical window spec), but
    # no reliance on the analyzer's nested-window extraction
    flagged = e.withColumn(
        "_new_s", F.when(gap.isNull() | (gap >= SESSION_GAP_S), 1).otherwise(0)
    )
    numbered = flagged.withColumn(
        "session_id",
        F.sum("_new_s")
        .over(w.rowsBetween(Window.unboundedPreceding, 0))
        .cast("long"),
    ).drop("_new_s")
    return numbered.groupBy("user_id", "session_id").agg(
        F.unix_timestamp(F.min("ts")).alias("start_s"),
        F.unix_timestamp(F.max("ts")).alias("end_s"),
        F.count(F.lit(1)).alias("n_events"),
        F.sum(rlong(F.col("value") * 100)).cast("long").alias("value_cents"),
    )


# --------------------------------------------------------------------------
# M109: exponentially weighted moving average (bounded-memory smoothing)
# --------------------------------------------------------------------------

EWMA_LAGS = 8  # truncation depth: alpha=1/2 -> dropped tail weight 2^-8 < 0.4%


def _ewma_lag_terms(win):
    """(numerator, denominator) for the truncated alpha=1/2 EWMA.

    Weight of the value d steps back is 2^(EWMA_LAGS-1-d) — integer powers
    of two, so numerator and the present-weight denominator are EXACT
    integer sums over the lag chain; the only division is the final one.
    """
    num = F.lit(0).cast("long")
    den = F.lit(0).cast("long")
    for d in range(EWMA_LAGS):
        w = 1 << (EWMA_LAGS - 1 - d)
        lagged = F.lag("cents", d).over(win) if d else F.col("cents")
        num = num + F.coalesce(lagged * w, F.lit(0))
        den = den + F.when(lagged.isNotNull(), F.lit(w)).otherwise(F.lit(0))
    return num, den


_EWMA_SQL_NUM = " + ".join(
    f"COALESCE(LAG(cents, {d}) OVER w * {1 << (EWMA_LAGS - 1 - d)}, 0)"
    if d
    else f"cents * {1 << (EWMA_LAGS - 1 - d)}"
    for d in range(EWMA_LAGS)
)
_EWMA_SQL_DEN = " + ".join(
    f"CASE WHEN LAG(cents, {d}) OVER w IS NOT NULL THEN {1 << (EWMA_LAGS - 1 - d)} ELSE 0 END"
    if d
    else f"{1 << (EWMA_LAGS - 1 - d)}"
    for d in range(EWMA_LAGS)
)


@query(
    "q_ts_ewma",
    oracle=f"""
WITH base AS (
  SELECT o_orderkey, o_custkey, o_orderdate,
         CAST(ROUND(o_totalprice * 100, 0) AS BIGINT) AS cents
  FROM orders
)
SELECT o_orderkey, o_custkey,
       strftime(o_orderdate, '%Y-%m-%d') AS order_day, cents,
       (ROUND(CAST(({_EWMA_SQL_NUM}) AS DOUBLE) / ({_EWMA_SQL_DEN}) * 1e6, 0)
        / 1e6) AS ewma_cents
FROM base
WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
""",
)
def q_ts_ewma(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M109: per-customer EWMA of order totals — the streaming-friendly
    smoother (alpha = 1/2) truncated at {EWMA_LAGS} lags, so the state is
    bounded and the dropped tail weight is < 0.4%. The standard trend
    feature for spend forecasting / anomaly baselines.

    Exactness: truncated binary-exponential weights are integer powers of
    two, so numerator and present-weight denominator accumulate as exact
    integers over a LAG chain; the single final division is identical on
    both engines and displayed via the dround/oround multiply-form pair
    (plain ROUND(x, 6) diverged in the 7th decimal at sf0.1). Scale shape: ONE keyed window sort per customer serves
    all {EWMA_LAGS} lags (Spark collapses same-frame window functions into
    one physical Window); everything else is row-local arithmetic — one
    exchange total, skew-free (per-customer order counts are bounded)."""
    o = table(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_custkey",
        "o_orderdate",
        rlong(F.col("o_totalprice") * 100).cast("long").alias("cents"),
    )
    win = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    num, den = _ewma_lag_terms(win)
    return o.select(
        "o_orderkey",
        "o_custkey",
        F.date_format("o_orderdate", "yyyy-MM-dd").alias("order_day"),
        "cents",
        dround(num.cast("double") / den, 6).alias("ewma_cents"),
    )


@query(
    "q_ts_interp_linear",
    oracle="""
WITH valued AS (
  SELECT user_id, CAST(ts AS DATE) AS day,
         SUM(CAST(ROUND(value * 1e6, 0) AS BIGINT)) AS v_micro
  FROM events WHERE event_type <> 'error'
  GROUP BY 1, 2
),
spans AS (SELECT user_id, MIN(day) AS d0, MAX(day) AS d1 FROM valued GROUP BY 1),
spine AS (
  SELECT user_id,
         CAST(unnest(generate_series(CAST(d0 AS TIMESTAMP), CAST(d1 AS TIMESTAMP), INTERVAL 1 DAY)) AS DATE) AS day
  FROM spans
),
anchored AS (
  SELECT s.user_id, s.day, v.v_micro,
         last_value(v.v_micro IGNORE NULLS) OVER (
           PARTITION BY s.user_id ORDER BY s.day
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS prev_v,
         last_value(CASE WHEN v.v_micro IS NOT NULL THEN s.day END IGNORE NULLS) OVER (
           PARTITION BY s.user_id ORDER BY s.day
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS prev_d,
         first_value(v.v_micro IGNORE NULLS) OVER (
           PARTITION BY s.user_id ORDER BY s.day
           ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS next_v,
         first_value(CASE WHEN v.v_micro IS NOT NULL THEN s.day END IGNORE NULLS) OVER (
           PARTITION BY s.user_id ORDER BY s.day
           ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS next_d
  FROM spine s LEFT JOIN valued v ON s.user_id = v.user_id AND s.day = v.day
)
SELECT user_id, strftime(day, '%Y-%m-%d') AS day_str,
       CASE WHEN v_micro IS NULL THEN 1 ELSE 0 END AS is_interp,
       CAST(CASE WHEN v_micro IS NOT NULL THEN v_micro
            ELSE prev_v + CAST(ROUND(
                   (next_v - prev_v) * date_diff('day', prev_d, day)
                     / date_diff('day', prev_d, next_d), 0) AS BIGINT)
       END AS BIGINT) AS val_micro
FROM anchored
""",
)
def q_ts_interp_linear(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M127: linear interpolation of missing days — each user's daily value
    total on a dense calendar spine, with interior gaps filled by the
    straight line between the surrounding anchors (the resampling step
    between q_ts_gapfill's zero-fill and q_ts_ffill's carry-forward; pandas
    `interpolate(method='time')` semantics, here fully distributed).

    Shape: the spine is generated PER KEY (sequence + explode, as
    q_ts_gapfill) and every window is keyed by user_id — at 100 TB the
    whole plan is partition-parallel on one key with no global calendar
    and no skew (spans are bounded by the retention window). Anchors come
    from two keyed window passes (last/first ignorenulls over opposing
    unbounded frames); leading/trailing NULLs cannot occur because the
    spine spans exactly [first, last] valued day.

    Exactness: day values are exact integer micro-units; the interpolated
    value is prev + round((next-prev) * step / gap) where every operand is
    an exact integer < 2^53, so both engines divide the SAME doubles and
    round half-away-from-zero once (rlong/ROUND pair)."""
    e = table(spark, sf_dir, "events").where(F.col("event_type") != "error")
    valued = (
        e.select("user_id", F.to_date("ts").alias("day"),
                 rlong(F.col("value") * 1e6).cast("long").alias("vm"))
        .groupBy("user_id", "day")
        .agg(F.sum("vm").alias("v_micro"))
    )
    spans = valued.groupBy("user_id").agg(
        F.min("day").alias("d0"), F.max("day").alias("d1")
    )
    spine = spans.select(
        "user_id", F.explode(F.expr("sequence(d0, d1, interval 1 day)")).alias("day")
    )
    j = spine.join(valued, ["user_id", "day"], "left")
    back = (
        Window.partitionBy("user_id")
        .orderBy("day")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    fwd = (
        Window.partitionBy("user_id")
        .orderBy("day")
        .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    )
    vday = F.when(F.col("v_micro").isNotNull(), F.col("day"))
    a = j.select(
        "user_id",
        "day",
        "v_micro",
        F.last("v_micro", ignorenulls=True).over(back).alias("prev_v"),
        F.last(vday, ignorenulls=True).over(back).alias("prev_d"),
        F.first("v_micro", ignorenulls=True).over(fwd).alias("next_v"),
        F.first(vday, ignorenulls=True).over(fwd).alias("next_d"),
    )
    interp = F.col("prev_v") + rlong(
        (F.col("next_v") - F.col("prev_v"))
        * F.datediff("day", "prev_d")
        / F.datediff("next_d", "prev_d")
    ).cast("long")
    return a.select(
        "user_id",
        F.date_format("day", "yyyy-MM-dd").alias("day_str"),
        F.when(F.col("v_micro").isNull(), 1).otherwise(0).cast("long").alias("is_interp"),
        F.coalesce("v_micro", interp).cast("long").alias("val_micro"),
    )


# --------------------------------------------------------------------------
# M135: lag-k autocorrelation of the daily event-value series
# --------------------------------------------------------------------------

ACF_MAX_LAG = 7


@query(
    "q_ts_acf",
    oracle=f"""
WITH daily AS (
  SELECT event_type, CAST(ts AS DATE) AS day,
         CAST(SUM(CAST(ROUND(value * 100, 0) AS BIGINT)) AS BIGINT) AS v
  FROM events GROUP BY 1, 2
),
lags AS (SELECT unnest(range(1, {ACF_MAX_LAG + 1})) AS k),
pairs AS (
  SELECT a.event_type, l.k, a.v AS x, b.v AS y
  FROM daily a CROSS JOIN lags l
  JOIN daily b ON b.event_type = a.event_type
              AND b.day = a.day + l.k * INTERVAL 1 DAY
),
s AS (
  SELECT event_type, k, COUNT(*) AS n,
         CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy,
         CAST(SUM(x * y) AS BIGINT) AS sxy,
         CAST(SUM(x * x) AS BIGINT) AS sxx, CAST(SUM(y * y) AS BIGINT) AS syy
  FROM pairs GROUP BY 1, 2
)
SELECT event_type, CAST(k AS BIGINT) AS lag_days, CAST(n AS BIGINT) AS n_pairs,
       ROUND((CAST(n AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy)
             / sqrt((CAST(n AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx)
                    * (CAST(n AS DOUBLE) * syy - CAST(sy AS DOUBLE) * sy)) * 1e6, 0) / 1e6 AS acf
FROM s
""",
)
def q_ts_acf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M135: lag-1..{ACF_MAX_LAG} autocorrelation of each event type's
    daily value series — the seasonality/persistence screen (a weekly
    cycle shows as an acf peak at lag 7). Estimator: Pearson r over the
    calendar-aligned (x_t, x_{{t+k}}) pairs (pairwise-complete variant —
    days missing from the series drop only the pairs they touch).

    Shape: facts collapse FIRST to the per-(type, day) exact integer
    series (one keyed aggregate, calendar-bounded), the lag fan-out is a
    {ACF_MAX_LAG}-row broadcast cross, and the alignment is a keyed
    self-join on (type, day+k) — the quadratic-looking step only ever
    touches the bounded daily table, never fact-scale rows (the
    q_stat_mann_kendall boundedness argument). Exactness: per-row cent
    rounding then integer sums (never SUM(double)); the six sufficient
    statistics feed an identical closed form on both engines, one 6dp
    rounding. Integer products stay < 2^63 through ~sf1 (sf0.1: daily
    cents <= 3.7e6, sum of squares ~3e16); beyond, the cent scale or a
    per-shard two-level partial keeps the sums exact."""
    e = table(spark, sf_dir, "events").select(
        "event_type", F.to_date("ts").alias("day"),
        rlong(F.col("value") * 100).cast("long").alias("cents"),
    )
    daily = e.groupBy("event_type", "day").agg(F.sum("cents").alias("v"))
    lags = spark.range(1, ACF_MAX_LAG + 1).select(F.col("id").cast("int").alias("k"))
    a = daily.alias("a").join(F.broadcast(lags))
    b = daily.alias("b")
    pairs = a.join(
        b,
        (F.col("b.event_type") == F.col("a.event_type"))
        & (F.col("b.day") == F.date_add(F.col("a.day"), F.col("k"))),
    ).select(
        F.col("a.event_type").alias("event_type"),
        "k",
        F.col("a.v").alias("x"),
        F.col("b.v").alias("y"),
    )
    s = pairs.groupBy("event_type", "k").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
    )
    nd = F.col("n").cast("double")
    num = nd * F.col("sxy") - F.col("sx").cast("double") * F.col("sy")
    den = F.sqrt(
        (nd * F.col("sxx") - F.col("sx").cast("double") * F.col("sx"))
        * (nd * F.col("syy") - F.col("sy").cast("double") * F.col("sy"))
    )
    return s.select(
        "event_type",
        F.col("k").cast("long").alias("lag_days"),
        F.col("n").cast("long").alias("n_pairs"),
        (rlong(num / den * 1e6) / 1e6).alias("acf"),
    )


# --------------------------------------------------------------------------
# M139: CUSUM change-point screen on the daily event-value series
# --------------------------------------------------------------------------


@query(
    "q_ts_cusum",
    oracle="""
WITH daily AS (
  SELECT event_type, CAST(ts AS DATE) AS day,
         CAST(SUM(CAST(ROUND(value * 100, 0) AS BIGINT)) AS BIGINT) AS v
  FROM events GROUP BY 1, 2
),
st AS (
  SELECT event_type, COUNT(*) AS n, CAST(SUM(v) AS BIGINT) AS s1,
         CAST(SUM(v * v) AS BIGINT) AS s2
  FROM daily GROUP BY 1
),
z AS (
  SELECT d.event_type, d.day, st.n,
         CAST(ROUND((d.v - CAST(s1 AS DOUBLE) / st.n)
               / sqrt((CAST(s2 AS DOUBLE) - CAST(s1 AS DOUBLE) * (CAST(s1 AS DOUBLE) / st.n)) / (st.n - 1))
               * 1e6, 0) AS BIGINT) AS zu
  FROM daily d JOIN st ON d.event_type = st.event_type
),
c AS (
  SELECT event_type, day, n,
         CAST(SUM(zu) OVER (PARTITION BY event_type ORDER BY day
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cu
  FROM z
),
r AS (
  SELECT event_type, day, n, cu,
         ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY ABS(cu) DESC, day ASC) AS rn
  FROM c
)
SELECT event_type, CAST(n AS BIGINT) AS n_days,
       strftime(day, '%Y-%m-%d') AS peak_day,
       ROUND(cu / 1e6 * 1e6, 0) / 1e6 AS peak_cusum
FROM r WHERE rn = 1
""",
)
def q_ts_cusum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M139: CUSUM change-point screen (Page 1954) per event type — the
    running sum of standardized daily deviations; the |peak| location is
    the most likely mean-shift point and its height the shift evidence
    (the batch referent of q_stream_anomaly's online detector).

    Shape: facts collapse to the bounded per-(type, day) integer series,
    per-type (n, Σv, Σv²) come from ONE keyed aggregate joined back
    (type-count-sized, broadcast), and the scan statistic is a keyed
    running window over the bounded series — nothing unpartitioned,
    nothing fact-scale past the first shuffle. Exactness: each
    standardized deviation is micro-rounded to an INTEGER before the
    running sum (the q_text_perplexity pre-sum discipline), so the cusum
    is an exact integer at every row — no float accumulation-order
    hazard — and the peak argmax (ties broken by earliest day) is
    engine-independent."""
    e = table(spark, sf_dir, "events").select(
        "event_type", F.to_date("ts").alias("day"),
        rlong(F.col("value") * 100).cast("long").alias("cents"),
    )
    daily = e.groupBy("event_type", "day").agg(F.sum("cents").alias("v"))
    st = daily.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("v").alias("s1"),
        F.sum(F.col("v") * F.col("v")).alias("s2"),
    )
    mean = F.col("s1").cast("double") / F.col("n")
    sd = F.sqrt(
        (F.col("s2").cast("double") - F.col("s1").cast("double") * mean)
        / (F.col("n") - 1)
    )
    z = daily.join(F.broadcast(st), "event_type").select(
        "event_type",
        "day",
        "n",
        rlong((F.col("v") - mean) / sd * 1e6).cast("long").alias("zu"),
    )
    wrun = (
        Window.partitionBy("event_type")
        .orderBy("day")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    c = z.select(
        "event_type", "day", "n", F.sum("zu").over(wrun).cast("long").alias("cu")
    )
    wr = Window.partitionBy("event_type").orderBy(
        F.abs(F.col("cu")).desc(), F.col("day").asc()
    )
    return (
        c.withColumn("rn", F.row_number().over(wr))
        .where(F.col("rn") == 1)
        .select(
            "event_type",
            F.col("n").cast("long").alias("n_days"),
            F.date_format("day", "yyyy-MM-dd").alias("peak_day"),
            (rlong(F.col("cu") / 1e6 * 1e6) / 1e6).alias("peak_cusum"),
        )
    )


# --------------------------------------------------------------------------
# M145: day-of-week seasonal index
# --------------------------------------------------------------------------


@query(
    "q_seasonal_index",
    oracle="""
WITH daily AS (
  SELECT event_type, CAST(ts AS DATE) AS day,
         CAST(SUM(CAST(ROUND(value * 100, 0) AS BIGINT)) AS BIGINT) AS v
  FROM events GROUP BY 1, 2
),
dw AS (
  SELECT event_type, dayofweek(day) AS dow, COUNT(*) AS n_days,
         CAST(SUM(v) AS BIGINT) AS s
  FROM daily GROUP BY 1, 2
),
tot AS (
  SELECT event_type, CAST(SUM(s) AS BIGINT) AS ts, SUM(n_days) AS tn
  FROM dw GROUP BY 1
)
SELECT dw.event_type, CAST(dow AS BIGINT) AS dow, CAST(n_days AS BIGINT) AS n_days,
       ROUND((CAST(s AS DOUBLE) / n_days) / (CAST(ts AS DOUBLE) / tn) * 1e6, 0) / 1e6 AS seasonal_index
FROM dw JOIN tot ON dw.event_type = tot.event_type
""",
)
def q_seasonal_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M145: multiplicative day-of-week seasonal index per event type —
    mean daily value on each weekday divided by the overall mean daily
    value (index > 1 = that weekday runs hot). The decomposition step a
    forecaster divides out before trend fitting; complements q_ts_acf
    (which only detects the weekly cycle, this quantifies it). dow is
    Sunday=0..Saturday=6 on both engines (Spark's Sunday=1 dayofweek
    shifted by one).

    Shape: facts → bounded daily integer series → ONE 7-row-per-type
    keyed aggregate + type-count-sized totals joined back (broadcast-
    small). Exactness: integer sums; one identical ratio-of-means per
    row, one 6dp rounding."""
    e = table(spark, sf_dir, "events").select(
        "event_type", F.to_date("ts").alias("day"),
        rlong(F.col("value") * 100).cast("long").alias("cents"),
    )
    daily = e.groupBy("event_type", "day").agg(F.sum("cents").alias("v"))
    dw = daily.groupBy(
        "event_type", (F.dayofweek("day") - 1).cast("long").alias("dow")
    ).agg(F.count(F.lit(1)).alias("n_days"), F.sum("v").alias("s"))
    tot = dw.groupBy("event_type").agg(
        F.sum("s").alias("ts"), F.sum("n_days").alias("tn")
    )
    idx = (F.col("s").cast("double") / F.col("n_days")) / (
        F.col("ts").cast("double") / F.col("tn")
    )
    return dw.join(F.broadcast(tot), "event_type").select(
        "event_type",
        "dow",
        F.col("n_days").cast("long").alias("n_days"),
        (rlong(idx * 1e6) / 1e6).alias("seasonal_index"),
    )


# --------------------------------------------------------------------------
# M148: inter-purchase cycle time per customer
# --------------------------------------------------------------------------


@query(
    "q_purchase_cycle",
    oracle="""
WITH o AS (
  SELECT o_custkey, CAST(o_orderdate AS DATE) AS day, o_orderkey
  FROM orders
),
g AS (
  SELECT o_custkey,
         date_diff('day',
           lag(day) OVER (PARTITION BY o_custkey ORDER BY day, o_orderkey),
           day) AS gap
  FROM o
)
SELECT o_custkey, CAST(COUNT(*) AS BIGINT) AS n_gaps,
       CAST(MIN(gap) AS BIGINT) AS min_gap_days,
       CAST(MAX(gap) AS BIGINT) AS max_gap_days,
       ROUND(CAST(SUM(gap) AS DOUBLE) / COUNT(*) * 1e6, 0) / 1e6 AS mean_gap_days
FROM g WHERE gap IS NOT NULL
GROUP BY 1
""",
)
def q_purchase_cycle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M148: inter-purchase cycle time — per repeat customer, the count /
    min / max / mean of day gaps between consecutive orders (ordered by
    date with the order key as tiebreak). The replenishment-cadence
    feature behind churn prediction ("customer is N days past their
    usual cycle") and send-time optimization; pairs with
    q_rfm_segmentation's recency score.

    Shape: ONE customer-keyed window (lag) followed by a customer-keyed
    aggregate on the same partitioning — a single shuffle end to end at
    any scale. Exactness: gaps are exact integer day diffs; min/max/
    count/sum are exact; the mean is one identical division rounded once
    at 6dp."""
    o = table(spark, sf_dir, "orders").select(
        "o_custkey", F.to_date("o_orderdate").alias("day"), "o_orderkey"
    )
    wl = Window.partitionBy("o_custkey").orderBy("day", "o_orderkey")
    g = o.select(
        "o_custkey", F.datediff("day", F.lag("day").over(wl)).alias("gap")
    ).where(F.col("gap").isNotNull())
    return g.groupBy("o_custkey").agg(
        F.count(F.lit(1)).cast("long").alias("n_gaps"),
        F.min("gap").cast("long").alias("min_gap_days"),
        F.max("gap").cast("long").alias("max_gap_days"),
        (rlong(F.sum("gap").cast("double") / F.count(F.lit(1)) * 1e6) / 1e6).alias(
            "mean_gap_days"
        ),
    )


# --------------------------------------------------------------------------
# M160: per-series linear trend fit + forecast
# --------------------------------------------------------------------------

FORECAST_AHEAD_DAYS = 7


@query(
    "q_forecast_linear",
    oracle=f"""
WITH daily AS (
  SELECT event_type, CAST(ts AS DATE) AS day,
         CAST(SUM(CAST(ROUND(value * 100, 0) AS BIGINT)) AS BIGINT) AS v
  FROM events GROUP BY 1, 2
),
mn AS (SELECT event_type, MIN(day) AS d0 FROM daily GROUP BY 1),
idx AS (
  SELECT d.event_type, date_diff('day', d0, day) AS t, v
  FROM daily d JOIN mn USING (event_type)
),
s AS (
  SELECT event_type, COUNT(*) AS n,
         CAST(SUM(t) AS BIGINT) AS sx, CAST(SUM(v) AS BIGINT) AS sy,
         CAST(SUM(t * v) AS BIGINT) AS sxy, CAST(SUM(t * t) AS BIGINT) AS sxx,
         MAX(t) AS tmax
  FROM idx GROUP BY 1
),
f AS (
  SELECT event_type, n, tmax,
         (CAST(n AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy)
           / (CAST(n AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx) AS slope,
         (CAST(sy AS DOUBLE) - (CAST(n AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy)
           / (CAST(n AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx) * sx) / n AS icept
  FROM s
)
SELECT event_type, CAST(n AS BIGINT) AS n_days,
       ROUND(slope * 1e6, 0) / 1e6 AS slope_cents_per_day,
       ROUND(icept * 1e6, 0) / 1e6 AS intercept_cents,
       ROUND((icept + slope * (tmax + {FORECAST_AHEAD_DAYS})) * 1e6, 0) / 1e6 AS forecast_cents
FROM f
""",
)
def q_forecast_linear(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M160: per-series linear trend fit and {FORECAST_AHEAD_DAYS}-day-ahead
    point forecast — OLS of daily value on day index per event type, the
    capacity-planning baseline every dashboard draws (and the detrending
    step q_seasonal_index's indices divide into). Completes the
    regression family's time axis: q_price_elasticity fits y-on-x per
    group; this fits y-on-TIME per series.

    Shape: facts → bounded daily integer series → day indices against a
    per-type broadcast-joined min-date → one keyed aggregate to 5
    mergeable integer sums; slope/intercept/forecast close per group.
    Exactness: t (day index < 3k) and v (cents) are exact integers
    (Σt·v < 2^63 by orders of magnitude); identical closed form, one
    6dp display rounding."""
    e = table(spark, sf_dir, "events").select(
        "event_type", F.to_date("ts").alias("day"),
        rlong(F.col("value") * 100).cast("long").alias("cents"),
    )
    daily = e.groupBy("event_type", "day").agg(F.sum("cents").alias("v"))
    mn = daily.groupBy("event_type").agg(F.min("day").alias("d0"))
    idx = daily.join(F.broadcast(mn), "event_type").select(
        "event_type", F.datediff("day", "d0").cast("long").alias("t"), "v"
    )
    s = idx.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("t").alias("sx"),
        F.sum("v").alias("sy"),
        F.sum(F.col("t") * F.col("v")).alias("sxy"),
        F.sum(F.col("t") * F.col("t")).alias("sxx"),
        F.max("t").alias("tmax"),
    )
    nd = F.col("n").cast("double")
    sxd = F.col("sx").cast("double")
    num = nd * F.col("sxy") - sxd * F.col("sy")
    den = nd * F.col("sxx") - sxd * F.col("sx")
    slope = num / den
    icept = (F.col("sy").cast("double") - slope * F.col("sx")) / F.col("n")
    return s.select(
        "event_type",
        F.col("n").cast("long").alias("n_days"),
        (rlong(slope * 1e6) / 1e6).alias("slope_cents_per_day"),
        (rlong(icept * 1e6) / 1e6).alias("intercept_cents"),
        (
            rlong((icept + slope * (F.col("tmax") + FORECAST_AHEAD_DAYS)) * 1e6) / 1e6
        ).alias("forecast_cents"),
    )


# --------------------------------------------------------------------------
# M173: interval concurrency — sweep-line peak of simultaneously-open work
# --------------------------------------------------------------------------


@query(
    "q_interval_concurrency",
    oracle="""
WITH iv AS (
  SELECT CAST(o_orderdate AS DATE) AS s, CAST(l_shipdate AS DATE) AS e
  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
), deltas AS (
  SELECT s AS day, 1 AS delta FROM iv
  UNION ALL
  SELECT e + 1 AS day, -1 AS delta FROM iv
), daily AS (
  SELECT day, SUM(delta) AS d FROM deltas GROUP BY 1
), run AS (
  SELECT day, SUM(d) OVER (ORDER BY day) AS open_cnt FROM daily
)
SELECT date_trunc('month', day) AS month,
       CAST(COUNT(*) AS BIGINT) AS event_days,
       CAST(MAX(open_cnt) AS BIGINT) AS peak_open
FROM run GROUP BY 1
""",
)
def q_interval_concurrency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M173: sweep-line interval concurrency — for each month, the peak
    number of line items simultaneously "open" (ordered but not yet
    shipped: the [o_orderdate, l_shipdate] interval). THE
    resource-load/backlog primitive: warehouses size capacity off peak
    concurrent open work, not off daily throughput.

    Scale shape (why this beats the naive interval-x-calendar join): each
    interval becomes two delta events (+1 at start, -1 the day AFTER the
    end — half-open sweep), deltas pre-aggregate per DAY (one keyed
    aggregate; the only pass over the fact table), and the running
    concurrency is a prefix sum over the tiny day-level table via the
    bucket-offset primitive (operators.sorts.ordered_prefix_sums) — never
    an unpartitioned window, never an explode to one-row-per-open-day.
    100 TB of lineitem still collapses to ~date-range-sized input for the
    prefix step. Peak is evaluated on event days (the running count only
    changes there, and every interval start IS an event day, so the true
    global peak is never missed; a month's carry-in plateau with no events
    is reported under the month where it started).

    All counts are exact integers; month labels come from the UTC-pinned
    date columns on both engines."""
    from recsys_spark_spark.operators.sorts import ordered_prefix_sums

    o = table(spark, sf_dir, "orders").select(
        "o_orderkey", F.to_date("o_orderdate").alias("s")
    )
    l = table(spark, sf_dir, "lineitem").select(
        "l_orderkey", F.to_date("l_shipdate").alias("e")
    )
    iv = l.join(o, l.l_orderkey == o.o_orderkey).select("s", "e")
    deltas = iv.select(F.col("s").alias("day"), F.lit(1).alias("delta")).unionByName(
        iv.select(F.date_add("e", 1).alias("day"), F.lit(-1).alias("delta"))
    )
    daily = deltas.groupBy("day").agg(F.sum("delta").cast("long").alias("d"))
    run = ordered_prefix_sums(
        spark, daily, order_col="day", tiebreak="day", sum_cols={"d": "open_cnt"}
    )
    return run.groupBy(F.date_trunc("month", "day").alias("month")).agg(
        F.count(F.lit(1)).cast("long").alias("event_days"),
        F.max("open_cnt").cast("long").alias("peak_open"),
    )


# --------------------------------------------------------------------------
# M178: classical time-series decomposition (trend + seasonal + residual)
# --------------------------------------------------------------------------


@query(
    "q_ts_decompose",
    oracle="""
WITH e AS (
  SELECT event_type AS t, CAST(ts AS DATE) AS d,
         CAST(ROUND(value * 100, 0) AS BIGINT) AS cents
  FROM events
), daily AS (
  SELECT t, d, CAST(SUM(cents) AS BIGINT) AS v FROM e GROUP BY 1, 2
), tr AS (
  SELECT t, d, v,
         CAST(SUM(v) OVER w7 AS BIGINT) AS s7,
         CAST(COUNT(*) OVER w7 AS BIGINT) AS c7
  FROM daily
  WINDOW w7 AS (PARTITION BY t ORDER BY d
                ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)
), detr AS (
  SELECT t, d, v, CAST(s7 AS DOUBLE) / c7 AS trend,
         CAST(ROUND((v - CAST(s7 AS DOUBLE) / c7) * 1e4, 0) AS BIGINT) AS dq,
         CAST(dayofweek(d) AS BIGINT) AS dow
  FROM tr
), sea AS (
  SELECT t, dow, CAST(SUM(dq) AS BIGINT) AS sdq, CAST(COUNT(*) AS BIGINT) AS m
  FROM detr GROUP BY 1, 2
), joined AS (
  SELECT detr.t, detr.d, detr.v,
         ROUND(detr.trend * 1e4, 0) / 1e4 AS trend_cents,
         ROUND(CAST(sea.sdq AS DOUBLE) / sea.m / 1e4 * 1e4, 0) / 1e4
           AS seasonal_cents
  FROM detr JOIN sea ON detr.t = sea.t AND detr.dow = sea.dow
)
SELECT t AS event_type, d AS day, v AS v_cents, trend_cents, seasonal_cents,
       ROUND((v - trend_cents - seasonal_cents) * 1e4, 0) / 1e4
         AS residual_cents
FROM joined
""",
)
def q_ts_decompose(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M178: classical additive decomposition of each event type's daily
    revenue series — trend (7-day centered row-frame moving average),
    day-of-week seasonal (mean of the detrended series per weekday), and
    residual — the anomaly-detection/forecast-prep primitive next to
    q_seasonal_index (which indexes raw values; this one detrends first,
    the textbook order).

    Exactness: the trend is a ratio of two exact integer window sums (Σv,
    count over the 7-row frame); the detrended term quantizes to integer
    1e-4 cents BEFORE the seasonal mean, so the per-weekday aggregate is
    an exact integer sum (order-free) divided once; residual subtracts the
    ROUNDED components from the exact daily integer — every engine pair
    evaluates identical double trees. Edge days average their partial
    frame (c7 < 7) — same on both engines.

    Scale shape: one keyed day-level aggregate over the fact table, then
    ALL windows partitioned by series (event_type) — the per-series row
    count is bounded by the date range, not data volume; the seasonal
    table (types × 7) broadcasts back. At 100 TB nothing after the first
    aggregate grows."""
    e = table(spark, sf_dir, "events").select(
        F.col("event_type").alias("t"),
        F.to_date("ts").alias("d"),
        rlong(F.col("value") * 100).cast("long").alias("cents"),
    )
    daily = e.groupBy("t", "d").agg(F.sum("cents").cast("long").alias("v"))
    w7 = Window.partitionBy("t").orderBy("d").rowsBetween(-3, 3)
    tr = daily.select(
        "t",
        "d",
        "v",
        F.sum("v").over(w7).cast("long").alias("s7"),
        F.count(F.lit(1)).over(w7).cast("long").alias("c7"),
    )
    trend = F.col("s7").cast("double") / F.col("c7")
    detr = tr.select(
        "t",
        "d",
        "v",
        trend.alias("trend"),
        rlong((F.col("v") - trend) * 1e4).cast("long").alias("dq"),
        (F.dayofweek("d") - 1).cast("long").alias("dow"),
    )
    sea = detr.groupBy("t", "dow").agg(
        F.sum("dq").cast("long").alias("sdq"), F.count(F.lit(1)).cast("long").alias("m")
    )
    joined = detr.join(F.broadcast(sea), ["t", "dow"]).select(
        "t",
        "d",
        "v",
        (rlong(F.col("trend") * 1e4) / 1e4).alias("trend_cents"),
        (
            rlong(F.col("sdq").cast("double") / F.col("m") / 1e4 * 1e4) / 1e4
        ).alias("seasonal_cents"),
    )
    return joined.select(
        F.col("t").alias("event_type"),
        F.col("d").alias("day"),
        F.col("v").alias("v_cents"),
        "trend_cents",
        "seasonal_cents",
        (
            rlong(
                (F.col("v") - F.col("trend_cents") - F.col("seasonal_cents")) * 1e4
            )
            / 1e4
        ).alias("residual_cents"),
    )


# --------------------------------------------------------------------------
# M181: time-weighted average (TWAP) — duration-weighted event values
# --------------------------------------------------------------------------


@query(
    "q_ts_twap",
    oracle="""
WITH e AS (
  SELECT event_type AS t, CAST(ts AS DATE) AS day, event_id,
         date_trunc('second', ts) AS sec,
         CAST(ROUND(value * 100, 0) AS BIGINT) AS cents
  FROM events
), seg AS (
  SELECT t, day, cents,
         CAST(epoch(COALESCE(
                 LEAD(sec) OVER (PARTITION BY t, day ORDER BY sec, event_id),
                 CAST(day + 1 AS TIMESTAMP)))
              - epoch(sec) AS BIGINT) AS dur_s
  FROM e
)
SELECT t AS event_type, day,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       CAST(SUM(dur_s) AS BIGINT) AS span_s,
       ROUND(CAST(SUM(cents * dur_s) AS DOUBLE) / SUM(dur_s) * 1e6, 0) / 1e6
         AS twap_cents
FROM seg GROUP BY 1, 2
""",
)
def q_ts_twap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M181: time-weighted average value (TWAP) per event type and day —
    each observation holds until the next one (the last holds until
    midnight), so sparse bursts don't dominate the average the way a
    plain mean lets them: the IoT/finance aggregation for irregularly
    sampled series. Weighting starts at the day's first observation
    (the observed span), ends at day close.

    Exactness: timestamps truncate to SECONDS before any arithmetic —
    flooring each endpoint first and subtracting fractional epochs then
    truncating disagree on sub-second offsets (measured 0.3–2 cent TWAP
    drift), so both engines share the truncate-first convention (the C8
    as-of discipline); durations are then exact integer seconds; values
    exact cents; Σ(cents·dur) stays in 64 bits (≤ 1e6 · 86400 per row)
    and the single ratio is rounded once. LEAD is total-ordered by
    (second, event_id).

    Scale shape: ONE (type, day)-partitioned window (bounded partitions:
    a day of one type) then a keyed aggregate on the same key — one
    shuffle end to end, no global window, no self-join."""
    e = table(spark, sf_dir, "events").select(
        F.col("event_type").alias("t"),
        F.to_date("ts").alias("day"),
        "event_id",
        F.date_trunc("second", "ts").alias("sec"),
        rlong(F.col("value") * 100).cast("long").alias("cents"),
    )
    w = Window.partitionBy("t", "day").orderBy("sec", "event_id")
    nxt = F.coalesce(
        F.lead("sec").over(w),
        F.date_add("day", 1).cast("timestamp"),
    )
    seg = e.select(
        "t",
        "day",
        "cents",
        (F.unix_timestamp(nxt) - F.unix_timestamp("sec")).cast("long").alias("dur_s"),
    )
    return seg.groupBy(F.col("t").alias("event_type"), "day").agg(
        F.count(F.lit(1)).cast("long").alias("n_events"),
        F.sum("dur_s").cast("long").alias("span_s"),
        (
            rlong(
                F.sum(F.col("cents") * F.col("dur_s")).cast("double")
                / F.sum("dur_s")
                * 1e6
            )
            / 1e6
        ).alias("twap_cents"),
    )


# --------------------------------------------------------------------------
# M184: change-point detection — best single mean-shift split per series
# --------------------------------------------------------------------------


@query(
    "q_ts_changepoint",
    oracle="""
WITH daily AS (
  SELECT event_type, CAST(ts AS DATE) AS day,
         CAST(SUM(CAST(ROUND(value * 1e4, 0) AS BIGINT)) AS BIGINT) AS y_s
  FROM events GROUP BY 1, 2
),
pre AS (
  SELECT event_type, day, y_s,
         CAST(ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY day) AS BIGINT) - 1 AS k,
         CAST(COALESCE(SUM(y_s) OVER (PARTITION BY event_type ORDER BY day
              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS sl,
         CAST(SUM(y_s) OVER (PARTITION BY event_type) AS BIGINT) AS stot,
         CAST(COUNT(*) OVER (PARTITION BY event_type) AS BIGINT) AS m
  FROM daily
),
scored AS (
  SELECT event_type, day, k, m - k AS kr, sl, stot - sl AS sr,
         CAST(sl AS DOUBLE) * CAST(sl AS DOUBLE) / CAST(k AS DOUBLE)
         + CAST(stot - sl AS DOUBLE) * CAST(stot - sl AS DOUBLE) / CAST(m - k AS DOUBLE) AS b
  FROM pre WHERE k >= 1 AND m - k >= 1
)
SELECT event_type, day AS change_day,
       CAST(k AS BIGINT) AS days_before, CAST(kr AS BIGINT) AS days_after,
       ROUND(CAST(sl AS DOUBLE) / CAST(k AS DOUBLE) / 1e4 * 1e6, 0) / 1e6 AS mean_before,
       ROUND(CAST(sr AS DOUBLE) / CAST(kr AS DOUBLE) / 1e4 * 1e6, 0) / 1e6 AS mean_after
FROM (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY b DESC, day) AS rnk
  FROM scored
) WHERE rnk = 1
""",
)
def q_ts_changepoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M184: single change-point detection per event-type daily series —
    the first step of binary segmentation (Scott & Knott 1974 / the CUSUM
    family's offline cousin): the split day that minimizes total
    within-segment SSE, i.e. maximizes the between-segment term
    B(k) = S_l²/k + S_r²/(m−k) (Σy² is constant across candidate splits,
    so SSE-argmin ≡ B-argmax — which removes Σy² from the computation
    entirely and with it the only sum that would overflow int64 at scale).
    Complements q_ts_cusum (online drift score) with the offline
    "where did the level shift?" answer.

    Exactness: daily sums quantize to exact longs (1e-4); prefix sums are
    windowed BIGINT sums (order-free); B and the reported means are
    doubles computed from identical long→double conversions with an
    identical expression tree on both engines, so the per-series argmax
    ranks identical values. One 6dp display rounding.

    Shape: one keyed day-aggregate, then all windows ride the SAME
    event_type partitioning (prefix sum, series totals, final rank) —
    a fixed handful of day-count-sized rows per series regardless of
    event volume; no joins, no global window."""
    e = table(spark, sf_dir, "events")
    daily = e.groupBy(
        "event_type", F.to_date("ts").alias("day")
    ).agg(F.sum(rlong(F.col("value") * 1e4)).alias("y_s"))
    wo = Window.partitionBy("event_type").orderBy("day")
    wp = Window.partitionBy("event_type")
    pre = daily.select(
        "event_type",
        "day",
        (F.row_number().over(wo).cast("long") - 1).alias("k"),
        F.coalesce(
            F.sum("y_s").over(wo.rowsBetween(Window.unboundedPreceding, -1)),
            F.lit(0),
        ).alias("sl"),
        F.sum("y_s").over(wp).alias("stot"),
        F.count(F.lit(1)).over(wp).cast("long").alias("m"),
    )
    kd = F.col("k").cast("double")
    krd = (F.col("m") - F.col("k")).cast("double")
    sld = F.col("sl").cast("double")
    srd = (F.col("stot") - F.col("sl")).cast("double")
    scored = pre.where((F.col("k") >= 1) & (F.col("m") - F.col("k") >= 1)).select(
        "event_type",
        "day",
        "k",
        (F.col("m") - F.col("k")).alias("kr"),
        "sl",
        (F.col("stot") - F.col("sl")).alias("sr"),
        (sld * sld / kd + srd * srd / krd).alias("b"),
    )
    wr = Window.partitionBy("event_type").orderBy(F.col("b").desc(), "day")
    return (
        scored.withColumn("rnk", F.row_number().over(wr))
        .where(F.col("rnk") == 1)
        .select(
            "event_type",
            F.col("day").alias("change_day"),
            F.col("k").alias("days_before"),
            F.col("kr").alias("days_after"),
            (rlong(F.col("sl").cast("double") / F.col("k").cast("double") / 1e4 * 1e6) / 1e6).alias("mean_before"),
            (rlong(F.col("sr").cast("double") / F.col("kr").cast("double") / 1e4 * 1e6) / 1e6).alias("mean_after"),
        )
    )


# --------------------------------------------------------------------------
# M193: Holt double exponential smoothing — applyInPandas, recursive oracle
# --------------------------------------------------------------------------

_HOLT_ALPHA = 0.5   # exactly representable; l-update halves are exact merges
_HOLT_BETA = 0.3    # literal on BOTH engines (never derived as 1-0.7)
_HOLT_BETA1 = 0.7   # literal 1-beta — same parsed double on both engines
_HOLT_H = 7         # forecast horizon (days)


@query(
    "q_ts_holt",
    oracle=f"""
WITH RECURSIVE daily AS (
  SELECT event_type, CAST(ts AS DATE) AS day,
         SUM(CAST(ROUND(value * 1e4, 0) AS BIGINT)) / 1e4 AS y
  FROM events GROUP BY 1, 2
),
idx AS (
  SELECT event_type, y,
         CAST(ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY day) - 1 AS BIGINT) AS x,
         CAST(COUNT(*) OVER (PARTITION BY event_type) AS BIGINT) AS m
  FROM daily
),
rec AS (
  SELECT d0.event_type, CAST(0 AS BIGINT) AS x, d0.m,
         d0.y AS l, d1.y - d0.y AS b
  FROM idx d0 JOIN idx d1 ON d1.event_type = d0.event_type AND d1.x = 1
  WHERE d0.x = 0 AND d0.m >= 2
  UNION ALL
  SELECT r.event_type, r.x + 1, r.m,
         {_HOLT_ALPHA!r} * d.y + {_HOLT_ALPHA!r} * (r.l + r.b) AS l,
         {_HOLT_BETA!r} * (({_HOLT_ALPHA!r} * d.y + {_HOLT_ALPHA!r} * (r.l + r.b)) - r.l)
           + {_HOLT_BETA1!r} * r.b AS b
  FROM rec r JOIN idx d ON d.event_type = r.event_type AND d.x = r.x + 1
)
SELECT event_type, CAST(m AS BIGINT) AS n_days,
       ROUND(l * 1e6, 0) / 1e6 AS level,
       ROUND(b * 1e6, 0) / 1e6 AS trend,
       ROUND((l + {_HOLT_H} * b) * 1e6, 0) / 1e6 AS forecast_{_HOLT_H}d
FROM rec WHERE x = m - 1
""",
)
def q_ts_holt(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M193: Holt's double exponential smoothing (Holt 1957) per event-type
    daily series — level + trend state folded sequentially, the
    short-horizon forecasting workhorse between EWMA (level only,
    q_ts_ewma) and full decomposition (q_ts_decompose). An inherently
    SEQUENTIAL recursion, so this is the showcase for the custom-operator
    tier the SURVEY prescribes when composition runs out: a grouped
    applyInPandas fold (Arrow batch per series, deterministic loop)
    exact-checked against a DuckDB RECURSIVE CTE unrolling the same
    recurrence — the only registry entry pairing a pandas loop with a
    recursive-SQL oracle.

    Determinism across a pandas loop and a SQL recursion: daily y values
    are exact-long-derived doubles; both sides evaluate the IDENTICAL
    expression tree (alpha*y + alpha*(l+b); beta*(l_new-l) + beta1*b)
    with the same parsed double literals in the same order per step, so
    the float state is bit-identical at every t. One 6dp half-away
    display rounding, replicated in the pandas fold by the floor(+0.5)
    form (python round() is banker's and would diverge).

    Shape: series partition by event_type — each Arrow group is one
    small daily series (calendar-bounded); one exchange total. At 100 TB
    the daily pre-aggregate has already reduced events to days×types."""
    import pandas as pd

    e = table(spark, sf_dir, "events")
    daily = e.groupBy("event_type", F.to_date("ts").alias("day")).agg(
        (F.sum(rlong(F.col("value") * 1e4)) / F.lit(1e4)).alias("y")
    )
    wp = Window.partitionBy("event_type")
    idx = daily.select(
        "event_type",
        "y",
        F.datediff("day", F.min("day").over(wp)).cast("long").alias("x"),
    )

    def holt(pdf: pd.DataFrame) -> pd.DataFrame:
        import math

        pdf = pdf.sort_values("x")
        y = pdf["y"].to_numpy(dtype=float)
        m = len(y)
        if m < 2:
            return pd.DataFrame(
                columns=["event_type", "n_days", "level", "trend", f"forecast_{_HOLT_H}d"]
            )
        l, b = y[0], y[1] - y[0]
        for t in range(1, m):
            l_new = _HOLT_ALPHA * y[t] + _HOLT_ALPHA * (l + b)
            b = _HOLT_BETA * (l_new - l) + _HOLT_BETA1 * b
            l = l_new

        def r6(v: float) -> float:  # half-away-from-zero at 6dp, like ROUND
            return math.copysign(math.floor(abs(v) * 1e6 + 0.5), v) / 1e6

        return pd.DataFrame(
            {
                "event_type": [pdf["event_type"].iloc[0]],
                "n_days": [m],
                "level": [r6(l)],
                "trend": [r6(b)],
                f"forecast_{_HOLT_H}d": [r6(l + _HOLT_H * b)],
            }
        )

    schema = f"event_type string, n_days long, level double, trend double, forecast_{_HOLT_H}d double"
    return idx.groupBy("event_type").applyInPandas(holt, schema)


# --------------------------------------------------------------------------
# H11: ANSI interval types — day-time interval arithmetic + aggregation
# --------------------------------------------------------------------------


@query(
    "q_interval_types",
    oracle="""
WITH lag AS (
  SELECT o_orderpriority,
         CAST(year(o_orderdate) AS BIGINT) AS o_year,
         date_diff('day', o_orderdate, s.first_ship) AS lag_days
  FROM orders JOIN (
    SELECT l_orderkey, MIN(l_shipdate) AS first_ship FROM lineitem GROUP BY 1
  ) s ON l_orderkey = o_orderkey
)
SELECT o_orderpriority, o_year,
       CAST(COUNT(*) AS BIGINT) AS n,
       CAST(SUM(lag_days) AS BIGINT) AS total_lag_days,
       CAST(MAX(lag_days) AS BIGINT) AS max_lag_days,
       CAST(MIN(lag_days) AS BIGINT) AS min_lag_days
FROM lag GROUP BY 1, 2
""",
)
def q_interval_types(spark: SparkSession, sf_dir: str) -> DataFrame:
    """H11: ANSI day-time INTERVAL types (Spark 3.2+) — order-to-first-ship
    lag computed as timestamp SUBTRACTION (yielding a DayTimeIntervalType
    column), then aggregated with interval SUM/MAX/MIN per (priority,
    year) and extracted back to exact day counts. Pins the type-system
    surface the old CalendarIntervalType could not aggregate or compare —
    real warehouses express SLA math this way.

    Exactness: timestamps are day-aligned so every interval is a whole
    number of days (microsecond-exact integers underneath); SUM/MAX/MIN
    over them are exact integer ops, and extraction divides by exact
    86400e6. Bound: day-time intervals cap near 1.06e8 days — the
    per-(priority, year) grouping keeps Σ well under it through sf100
    (~6e7 days/group at sf100; a coarser grouping would overflow first —
    that, not precision, is the scale limit, and it is documented here).

    Shape: one orderkey-keyed min-ship aggregate, one join, one grouped
    aggregate — all map-side combinable."""
    o = table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderdate", "o_orderpriority"
    )
    l = table(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
    first_ship = l.groupBy("l_orderkey").agg(F.min("l_shipdate").alias("first_ship"))
    lag = (
        o.join(first_ship, o.o_orderkey == first_ship.l_orderkey)
        .select(
            "o_orderpriority",
            F.year("o_orderdate").cast("long").alias("o_year"),
            (F.col("first_ship") - F.col("o_orderdate")).alias("lag_iv"),  # day-time interval
        )
    )
    agg = lag.groupBy("o_orderpriority", "o_year").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("lag_iv").alias("sum_iv"),
        F.max("lag_iv").alias("max_iv"),
        F.min("lag_iv").alias("min_iv"),
    )
    # CAST(day-time interval AS BIGINT) yields total SECONDS (probed on
    # this Spark build); timestamps are day-aligned so /86400 is exact.
    day_s = F.lit(86400).cast("long")
    return agg.select(
        "o_orderpriority",
        "o_year",
        "n",
        (F.col("sum_iv").cast("long") / day_s).cast("long").alias("total_lag_days"),
        (F.col("max_iv").cast("long") / day_s).cast("long").alias("max_lag_days"),
        (F.col("min_iv").cast("long") / day_s).cast("long").alias("min_lag_days"),
    )


# --------------------------------------------------------------------------
# M208: Holt-Winters additive triple exponential smoothing
# --------------------------------------------------------------------------

_HW_ALPHA = 0.5    # level gain — exactly representable
_HW_BETA = 0.3     # trend gain (literal on both engines)
_HW_BETA1 = 0.7    # literal 1-beta
_HW_GAMMA = 0.25   # seasonal gain — exactly representable
_HW_GAMMA1 = 0.75  # literal 1-gamma — exactly representable
_HW_M = 7          # season length (weekly on the daily series)

# l_new appears in three update expressions; the oracle repeats the same
# inline expression the pandas fold computes once — identical float tree.
_HW_LNEW = (
    f"{_HW_ALPHA!r} * (d.y - r.sv[1]) + {_HW_ALPHA!r} * (r.l + r.b)"
)


@query(
    "q_ts_holt_winters",
    oracle=f"""
WITH RECURSIVE daily AS (
  SELECT event_type, CAST(ts AS DATE) AS day,
         SUM(CAST(ROUND(value * 1e4, 0) AS BIGINT)) AS y4
  FROM events GROUP BY 1, 2
),
idx AS (
  SELECT event_type, y4, y4 / 1e4 AS y,
         CAST(ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY day) - 1 AS BIGINT) AS x,
         CAST(COUNT(*) OVER (PARTITION BY event_type) AS BIGINT) AS m
  FROM daily
),
init AS (
  SELECT event_type, MIN(m) AS m,
         SUM(CASE WHEN x < {_HW_M} THEN y4 ELSE 0 END) AS s0_4,
         SUM(CASE WHEN x >= {_HW_M} AND x < {2 * _HW_M} THEN y4 ELSE 0 END) AS s1_4,
         list(y ORDER BY x) FILTER (x < {_HW_M}) AS head
  FROM idx GROUP BY 1
),
rec AS (
  SELECT event_type, CAST({_HW_M - 1} AS BIGINT) AS x, m,
         s0_4 / {_HW_M}e4 AS l,
         (s1_4 / {_HW_M}e4 - s0_4 / {_HW_M}e4) / {_HW_M}.0 AS b,
         list_transform(head, e -> e - s0_4 / {_HW_M}e4) AS sv
  FROM init WHERE m >= {2 * _HW_M}
  UNION ALL
  SELECT r.event_type, r.x + 1, r.m,
         {_HW_LNEW} AS l,
         {_HW_BETA!r} * (({_HW_LNEW}) - r.l) + {_HW_BETA1!r} * r.b AS b,
         list_append(r.sv[2:],
                     {_HW_GAMMA!r} * (d.y - ({_HW_LNEW}))
                       + {_HW_GAMMA1!r} * r.sv[1]) AS sv
  FROM rec r JOIN idx d ON d.event_type = r.event_type AND d.x = r.x + 1
)
SELECT event_type, CAST(m AS BIGINT) AS n_days, h.h,
       ROUND(l * 1e6, 0) / 1e6 AS level,
       ROUND(b * 1e6, 0) / 1e6 AS trend,
       ROUND((l + h.h * b + sv[h.h]) * 1e6, 0) / 1e6 AS forecast
FROM rec CROSS JOIN generate_series(1, {_HW_M}) h(h)
WHERE x = m - 1
""",
)
def q_ts_holt_winters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M208: Holt-Winters additive triple exponential smoothing
    (Winters 1960) per event-type daily series — level + trend +
    weekly-seasonal state folded sequentially, emitting the next
    {_HW_M} daily forecasts. Completes the smoothing ladder: EWMA
    (level, q_ts_ewma) -> Holt (+trend, q_ts_holt) -> this (+season).

    Same custom-operator contract as q_ts_holt: a grouped applyInPandas
    fold (one Arrow group per series) exact-checked against a DuckDB
    RECURSIVE CTE that carries the seasonal queue as a LIST column
    (sv[1] is s_{{t-m}}; each step pops the head and appends s_t).

    Determinism: daily y are exact-long-derived (1e4-scaled sums), the
    init means use the INTEGER sums (order-free) divided once, and every
    per-step float op is the identical expression tree with identical
    parsed literals on both engines, so the (l, b, s) state is
    bit-identical at every t. Series shorter than two seasons emit
    nothing on both engines.

    Shape: one (type, day) pre-aggregate reduces events to days x types
    before any sequential work; the fold is per-series Arrow-local (one
    exchange); output is {_HW_M} rows per series."""
    import pandas as pd

    e = table(spark, sf_dir, "events")
    daily = e.groupBy("event_type", F.to_date("ts").alias("day")).agg(
        F.sum(rlong(F.col("value") * 1e4)).cast("long").alias("y4")
    )
    wp = Window.partitionBy("event_type")
    idx = daily.select(
        "event_type",
        "y4",
        (F.col("y4") / F.lit(1e4)).alias("y"),
        F.datediff("day", F.min("day").over(wp)).cast("long").alias("x"),
    )

    def hw(pdf: pd.DataFrame) -> pd.DataFrame:
        import math

        pdf = pdf.sort_values("x")
        y4 = pdf["y4"].to_numpy()
        y = pdf["y"].to_numpy(dtype=float)
        m = len(y)
        cols = ["event_type", "n_days", "h", "level", "trend", "forecast"]
        if m < 2 * _HW_M:
            return pd.DataFrame(columns=cols)
        s0_4 = int(y4[:_HW_M].sum())
        s1_4 = int(y4[_HW_M : 2 * _HW_M].sum())
        l = s0_4 / float(_HW_M * 10**4)
        b = (s1_4 / float(_HW_M * 10**4) - s0_4 / float(_HW_M * 10**4)) / float(_HW_M)
        sv = [y[i] - l for i in range(_HW_M)]
        for t in range(_HW_M, m):
            s_used = sv[0]
            l_new = _HW_ALPHA * (y[t] - s_used) + _HW_ALPHA * (l + b)
            b = _HW_BETA * (l_new - l) + _HW_BETA1 * b
            s_new = _HW_GAMMA * (y[t] - l_new) + _HW_GAMMA1 * s_used
            l = l_new
            sv = sv[1:] + [s_new]

        def r6(v: float) -> float:
            return math.copysign(math.floor(abs(v) * 1e6 + 0.5), v) / 1e6

        et = pdf["event_type"].iloc[0]
        return pd.DataFrame(
            [
                (et, m, h, r6(l), r6(b), r6(l + h * b + sv[h - 1]))
                for h in range(1, _HW_M + 1)
            ],
            columns=cols,
        )

    schema = "event_type string, n_days long, h long, level double, trend double, forecast double"
    return idx.groupBy("event_type").applyInPandas(hw, schema)


# --------------------------------------------------------------------------
# M223: Croston's method — intermittent-demand forecasting per part
# --------------------------------------------------------------------------

_CR_A = 0.25   # smoothing gain (exactly representable)
_CR_A1 = 0.75  # literal 1-alpha
_CR_SBA = 0.875  # Syntetos-Boylan bias correction 1 - alpha/2 (exact)


@query(
    "q_ts_croston",
    oracle=f"""
WITH RECURSIVE d AS (
  SELECT l_partkey AS part, CAST(o_orderdate AS DATE) AS day,
         CAST(SUM(l_quantity) AS BIGINT) AS q
  FROM orders JOIN lineitem ON o_orderkey = l_orderkey
  GROUP BY 1, 2
),
idx AS (
  SELECT part, q,
         CAST(ROW_NUMBER() OVER (PARTITION BY part ORDER BY day) - 1 AS BIGINT) AS x,
         CAST(COUNT(*) OVER (PARTITION BY part) AS BIGINT) AS m,
         CAST(date_diff('day', LAG(day) OVER (PARTITION BY part ORDER BY day), day)
              AS BIGINT) AS g
  FROM d
),
rec AS (
  SELECT d0.part, CAST(0 AS BIGINT) AS x, d0.m,
         CAST(d0.q AS DOUBLE) AS z, CAST(d1.g AS DOUBLE) AS p
  FROM idx d0 JOIN idx d1 ON d1.part = d0.part AND d1.x = 1
  WHERE d0.x = 0 AND d0.m >= 2
  UNION ALL
  SELECT r.part, r.x + 1, r.m,
         {_CR_A!r} * d.q + {_CR_A1!r} * r.z AS z,
         {_CR_A!r} * d.g + {_CR_A1!r} * r.p AS p
  FROM rec r JOIN idx d ON d.part = r.part AND d.x = r.x + 1
)
SELECT part AS l_partkey, m AS n_occurrences,
       ROUND(z * 1e6, 0) / 1e6 AS size_level,
       ROUND(p * 1e6, 0) / 1e6 AS interval_level,
       ROUND(z / p * 1e6, 0) / 1e6 AS croston_rate,
       ROUND({_CR_SBA!r} * (z / p) * 1e6, 0) / 1e6 AS sba_rate
FROM rec WHERE x = m - 1
""",
)
def q_ts_croston(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M223: Croston's method (Croston 1972) with the Syntetos-Boylan
    bias correction — demand-rate forecasts for INTERMITTENT series,
    where Holt/Holt-Winters mis-smooth the zeros: per part, demand
    SIZES and inter-demand INTERVALS are smoothed as two separate EWMA
    states updated only on demand days; the rate forecast is z/p and
    SBA multiplies by (1 − α/2). Parts order every few weeks here —
    the canonical spare-parts/long-tail-item shape.

    Init convention (documented, both engines identical): z starts at
    the first demand size, p at the first interval, and BOTH states
    update at every subsequent occurrence — Croston's literature has no
    canonical init, so the fixed convention IS the contract. Updates use
    the multiply form α·x + (1−α)·s with exact binary literals, so the
    float state is bit-identical per step across the pandas fold and the
    recursive CTE (the q_ts_holt contract); demand sizes and day gaps
    are exact integers.

    Shape: the corpus reduces to one (part, day)-keyed integer aggregate
    before any sequential work; the fold is per-part Arrow-local (one
    exchange across ~catalog-many short series); output one row per part
    with ≥ 2 demand days."""
    import pandas as pd

    o = table(spark, sf_dir, "orders")
    l = table(spark, sf_dir, "lineitem")
    d = (
        o.join(l, o.o_orderkey == l.l_orderkey)
        .groupBy(
            F.col("l_partkey").alias("part"), F.to_date("o_orderdate").alias("day")
        )
        .agg(F.sum("l_quantity").cast("long").alias("q"))
    )

    # The original
    # d.groupBy("part").applyInPandas(...) invoked the Python function once
    # per part — ~20k tiny Arrow batches, each paying pandas
    # DataFrame/sort/to_datetime construction (measured 12 ms/part: a
    # 244 s-task-time stage whose executor CPU was 6.5 s — all of it
    # JVM-side waiting on the per-group Python protocol). The fold now
    # streams whole partitions through ONE mapInPandas iterator:
    # rows arrive hash-partitioned by part and sorted by (part, day), the
    # function slices parts on group boundaries inside each batch (carrying
    # a possibly-split trailing part over to the next batch), and the
    # per-step float math is executed on the identical numpy slices in the
    # identical order — bit-identical state to the per-group form. The
    # explicit numPartitions = defaultParallelism keeps the compute-bound
    # stage at session parallelism (AQE's byte-based coalescing shrank this
    # ~10 MB exchange to 8 partitions, blind to per-row Python cost) and is
    # exempt from AQE coalescing, scale-adaptively: on a cluster,
    # defaultParallelism IS the core count.
    import numpy as np

    cols = [
        "l_partkey", "n_occurrences", "size_level", "interval_level",
        "croston_rate", "sba_rate",
    ]

    def fold_chunk(pdf: pd.DataFrame) -> list[tuple]:
        import math

        parts = pdf["part"].to_numpy()
        qs = pdf["q"].to_numpy()
        dts = pd.to_datetime(pdf["day"]).to_numpy()
        bounds = np.flatnonzero(np.r_[True, parts[1:] != parts[:-1], True])

        def r6(v: float) -> float:
            return math.copysign(math.floor(abs(v) * 1e6 + 0.5), v) / 1e6

        out = []
        for s, e in zip(bounds[:-1], bounds[1:]):
            m = e - s
            if m < 2:
                continue
            q = qs[s:e]
            days = dts[s:e]
            gaps = ((days[1:] - days[:-1]) / pd.Timedelta(days=1)).astype(int)
            z, p = float(q[0]), float(gaps[0])
            for i in range(1, m):
                z = _CR_A * q[i] + _CR_A1 * z
                p = _CR_A * gaps[i - 1] + _CR_A1 * p
            rate = z / p
            out.append(
                (int(parts[s]), int(m), r6(z), r6(p), r6(rate), r6(_CR_SBA * rate))
            )
        return out

    def croston_stream(batches):
        buf = None
        for pdf in batches:
            if buf is not None and len(buf):
                pdf = pd.concat([buf, pdf], ignore_index=True)
            if not len(pdf):
                continue
            parts = pdf["part"].to_numpy()
            # hold back the trailing part — its rows may continue in the
            # next batch of this partition's sorted stream
            cut = int(np.searchsorted(parts, parts[-1], side="left"))
            buf = pdf.iloc[cut:]
            rows = fold_chunk(pdf.iloc[:cut])
            if rows:
                yield pd.DataFrame(rows, columns=cols)
        if buf is not None and len(buf):
            rows = fold_chunk(buf)
            if rows:
                yield pd.DataFrame(rows, columns=cols)

    schema = (
        "l_partkey long, n_occurrences long, size_level double, "
        "interval_level double, croston_rate double, sba_rate double"
    )
    return (
        d.repartition(spark.sparkContext.defaultParallelism, "part")
        .sortWithinPartitions("part", "day")
        .mapInPandas(croston_stream, schema)
    )
