"""3.K — the registered batch keys of the streaming operators.

One builder per operator, run both ways: each key here applies its
streams.py builder to the static catalog table, so the DuckDB oracle checks
the same query that tests/test_streaming.py runs incrementally. Spark drops
withWatermark from a batch plan (EliminateEventTimeWatermark), which is
what makes one builder serve both modes.

Four keys keep a batch form of their own:
- q_stream_dedup: dropDuplicatesWithinWatermark is refused on a batch frame
  (AnalysisException), so the key is the plain exact-id dedup;
- q_stream_anomaly and q_stream_profile: applyInPandasWithState runs only
  on streams, so the keys fold the same counters with window functions and
  aggregates;
- q_stream_late_drop: the key is the per-row watermark reference, a
  stricter reading than the stream's batch-boundary watermark on purpose.

Event time is truncated to seconds wherever it feeds a session or a state
counter: the source is ns-precision and Spark reads µs (SURVEY.md §7.5).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from recsys_spark_spark.catalog import table
from recsys_spark_spark.functions.determinism import rlong
from recsys_spark_spark.registry import query
from recsys_spark_spark.streaming import streams


def events_with_sec(spark: SparkSession, sf_dir: str) -> DataFrame:
    return table(spark, sf_dir, "events").withColumn("sec", F.date_trunc("second", "ts"))


@query(
    "q_stream_tumbling",
    oracle="""
SELECT date_trunc('hour', ts) AS window_start, event_type,
       COUNT(*) AS n,
       SUM(CAST(ROUND(value * 1e6, 0) AS BIGINT)) / 1e6 AS sum_value
FROM events
GROUP BY 1, 2
""",
)
def q_stream_tumbling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K1: tumbling 1h windows per event type (F.window ≡ date_trunc for
    epoch-aligned hours)."""
    return streams.stream_tumbling(table(spark, sf_dir, "events"))


@query(
    "q_stream_sliding",
    oracle="""
WITH slid AS (
  SELECT time_bucket(INTERVAL 15 MINUTE, ts) - (gs.k * INTERVAL 15 MINUTE) AS window_start,
         event_type
  FROM events CROSS JOIN generate_series(0, 3) gs(k)
)
SELECT window_start, event_type, COUNT(*) AS n
FROM slid
GROUP BY 1, 2
""",
)
def q_stream_sliding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K2: sliding 1h windows every 15 min — each event lands in 4 windows
    (oracle expands the 4 covering window starts explicitly)."""
    return streams.stream_sliding(table(spark, sf_dir, "events"))


SESSION_ORACLE = f"""
WITH ev AS (
  SELECT user_id, event_id, date_trunc('second', ts) AS sec FROM events
), flagged AS (
  SELECT user_id, event_id, sec,
         CASE WHEN date_diff('second',
                LAG(sec) OVER (PARTITION BY user_id ORDER BY sec, event_id), sec)
                >= {streams.SESSION_GAP_S}
              OR LAG(sec) OVER (PARTITION BY user_id ORDER BY sec, event_id) IS NULL
              THEN 1 ELSE 0 END AS is_new
  FROM ev
), numbered AS (
  SELECT user_id, event_id, sec,
         SUM(is_new) OVER (PARTITION BY user_id ORDER BY sec, event_id
                           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_no
  FROM flagged
)
SELECT user_id, MIN(sec) AS session_start,
       COUNT(*) AS n_events,
       CAST(date_diff('second', MIN(sec), MAX(sec)) AS BIGINT) AS duration_s
FROM numbered
GROUP BY user_id, session_no
"""


@query("q_stream_session", oracle=SESSION_ORACLE)
def q_stream_session(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K3: session windows per user. The oracle is the classic lag +
    cumulative-sum sessionization: a gap of 30 min or more between
    consecutive events (by second, then event_id) starts a new session."""
    return streams.stream_session(table(spark, sf_dir, "events"))


@query(
    "q_stream_dedup",
    oracle="""
SELECT event_type, COUNT(*) AS n
FROM (SELECT DISTINCT ON (event_id) event_id, event_type FROM events ORDER BY event_id)
GROUP BY 1
""",
)
def q_stream_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K5 batch form: exact-id dedup (event_id is unique in the source, so
    this is the identity — the streaming test proves duplicates injected into
    the stream are dropped within the watermark by streams.stream_dedup)."""
    ev = table(spark, sf_dir, "events")
    return ev.dropDuplicates(["event_id"]).groupBy("event_type").agg(F.count(F.lit(1)).alias("n"))


ANOMALY_ORACLE = """
WITH ev AS (
  SELECT user_id, event_id, date_trunc('second', ts) AS sec,
         CASE WHEN event_type = 'error' THEN 1 ELSE 0 END AS is_err
  FROM events
), seq AS (
  SELECT user_id, event_id, sec, is_err,
         ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY sec, event_id) AS rn_all,
         ROW_NUMBER() OVER (PARTITION BY user_id, is_err ORDER BY sec, event_id) AS rn_grp
  FROM ev
), runs AS (
  SELECT user_id, COUNT(*) AS run_len
  FROM seq WHERE is_err = 1
  GROUP BY user_id, rn_all - rn_grp
)
SELECT user_id,
       COUNT(*) AS n_error_runs,
       CAST(MAX(run_len) AS BIGINT) AS max_run_len,
       CAST(SUM(CASE WHEN run_len >= 3 THEN 1 ELSE 0 END) AS BIGINT) AS n_anomalies
FROM runs GROUP BY 1
"""


@query("q_stream_anomaly", oracle=ANOMALY_ORACLE)
def q_stream_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K6 batch form: consecutive-error runs per user (gaps-and-islands);
    an 'anomaly' is a run of ≥3 consecutive errors. streams.stream_anomaly
    keeps the run counter in per-user state via applyInPandasWithState."""
    ev = events_with_sec(spark, sf_dir).select(
        "user_id",
        "event_id",
        "sec",
        F.when(F.col("event_type") == "error", 1).otherwise(0).alias("is_err"),
    )
    w_all = Window.partitionBy("user_id").orderBy("sec", "event_id")
    w_grp = Window.partitionBy("user_id", "is_err").orderBy("sec", "event_id")
    seq = ev.withColumn("rn_all", F.row_number().over(w_all)).withColumn(
        "rn_grp", F.row_number().over(w_grp)
    )
    runs = (
        seq.where(F.col("is_err") == 1)
        .groupBy("user_id", (F.col("rn_all") - F.col("rn_grp")).alias("island"))
        .agg(F.count(F.lit(1)).alias("run_len"))
    )
    return runs.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_error_runs"),
        F.max("run_len").cast("long").alias("max_run_len"),
        F.sum(F.when(F.col("run_len") >= 3, 1).otherwise(0)).cast("long").alias("n_anomalies"),
    )


@query(
    "q_stream_late_drop",
    oracle="""
WITH arr AS (
  SELECT ts,
         MAX(ts) OVER (ORDER BY event_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS wm_high
  FROM events
)
SELECT date_trunc('hour', ts) AS window_start, COUNT(*) AS n
FROM arr
WHERE ts >= wm_high - INTERVAL 10 MINUTE
GROUP BY 1
""",
)
def q_stream_late_drop(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K4 batch form: per-row watermark reference semantics — arrival order is
    event_id order, the high-watermark is the running max event time, and a
    row whose ts trails the watermark by more than the 10-min delay is
    dropped before the tumbling count. This is the *strictest* (per-row)
    reading of Structured Streaming's watermark, which advances it only at
    batch boundaries — so the stream can only ever keep MORE rows than this
    key drops; the injected-late-row pytest (tests/test_streaming.py) covers
    the real engine behavior.

    The global prefix max is DISTRIBUTED (no unpartitioned
    window): arrival order is value-bucketed on event_id
    (operators.sorts.value_buckets — the same primitive as global_rank),
    the running max runs per bucket, and each bucket's carry-in is the max
    of all PRIOR buckets' maxima via a triangular join over the
    buckets-sized table; wm_high = greatest(local running max, carry-in).
    Prefix max is associative, so the split is exact for any boundary set —
    the classic parallel-prefix decomposition."""
    from recsys_spark_spark.operators.sorts import value_buckets

    ev = table(spark, sf_dir, "events").select("event_id", "ts")
    b = value_buckets(spark, ev, "event_id")
    w_in = (
        Window.partitionBy("_bkt")
        .orderBy("event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    local = b.withColumn("_wm_local", F.max("ts").over(w_in))
    bmax = b.groupBy("_bkt").agg(F.max("ts").alias("_bmax"))
    carry = (
        bmax.alias("a")
        .join(bmax.alias("b"), F.col("b._bkt") < F.col("a._bkt"), "left")
        .groupBy(F.col("a._bkt").alias("_bkt"))
        .agg(F.max("b._bmax").alias("_carry"))
    )
    arr = local.join(F.broadcast(carry), "_bkt").select(
        "ts", F.greatest("_wm_local", "_carry").alias("wm_high")
    )
    kept = arr.where(F.col("ts") >= F.col("wm_high") - F.expr("INTERVAL 10 MINUTES"))
    return (
        kept.groupBy(F.window("ts", "1 hour").alias("w"))
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.col("w.start").alias("window_start"), "n")
    )


@query(
    "q_stream_join",
    oracle="""
SELECT a.event_id AS click_id, b.event_id AS error_id, a.user_id,
       a.ts AS click_ts, b.ts AS error_ts
FROM events a JOIN events b
  ON a.user_id = b.user_id
 AND a.event_type = 'click' AND b.event_type = 'error'
 AND b.ts >= a.ts AND b.ts < a.ts + INTERVAL 5 MINUTE
""",
)
def q_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K7: interval self-join — clicks matched to same-user errors within
    the next 5 minutes. In batch the watermarks fall away and the
    range-condition join is keyed on user_id (the equi-part shuffles, the
    interval predicate filters within the hash match — no cartesian)."""
    return streams.stream_stream_join(table(spark, sf_dir, "events"))


@query(
    "q_stream_profile",
    oracle="""
SELECT user_id,
       COUNT(*) AS n_events,
       SUM(CAST(ROUND(value * 1e6, 0) AS BIGINT)) / 1e6 AS sum_value,
       CAST(FLOOR(epoch(MAX(date_trunc('second', ts)))) AS BIGINT) AS last_event_s
FROM events
GROUP BY user_id
""",
)
def q_stream_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K6b batch form: per-user running activity profile (event count,
    order-independent scaled-int value sum, last-seen second).
    streams.stream_profile folds the same three counters through
    applyInPandasWithState, asserted equivalent in tests/test_streaming.py.
    State is one fixed-width tuple per user: bounded, partitioned by key,
    RocksDB-backed at scale."""
    ev = events_with_sec(spark, sf_dir)
    return ev.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        (F.sum(rlong(F.col("value") * F.lit(1e6))) / F.lit(1e6)).alias("sum_value"),
        F.unix_timestamp(F.max("sec")).alias("last_event_s"),
    )


@query(
    "q_stream_enrich",
    oracle="""
SELECT date_trunc('hour', ts) AS window_start, c_mktsegment AS segment,
       COUNT(*) AS n,
       SUM(CAST(ROUND(value * 1e6, 0) AS BIGINT)) / 1e6 AS sum_value
FROM events JOIN customer ON user_id = c_custkey
GROUP BY 1, 2
""",
)
def q_stream_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K8: stream-static enrichment — the most common real streaming
    topology (join the event stream to a slowly-changing dimension, then
    window-aggregate by a dimension attribute): events ⋈ customer on
    user_id, tumbling 1h windows per market segment.

    Shape at 100 TB: the dim side broadcasts per micro-batch (or bucketed
    joins for a huge dim); the aggregate state is windows × segments —
    tiny, mergeable scaled-int sums."""
    return streams.stream_enrich(
        table(spark, sf_dir, "events"), table(spark, sf_dir, "customer")
    )


@query(
    "q_stream_chained",
    oracle="""
WITH q AS (
  SELECT time_bucket(INTERVAL 15 MINUTE, ts) AS w15, event_type, COUNT(*) AS n
  FROM events GROUP BY 1, 2
)
SELECT date_trunc('hour', w15) AS window_start, event_type,
       CAST(MAX(n) AS BIGINT) AS max_quarter_n,
       CAST(SUM(n) AS BIGINT) AS total_n
FROM q GROUP BY 1, 2
""",
)
def q_stream_chained(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K9: CHAINED windowed aggregations — 15-min tumbling counts
    re-aggregated into hourly max/total per event type, both stages
    stateful in the streaming form (multiple stateful operators in one
    append-mode query), the pattern behind every multi-resolution rollup
    topology.

    Shape: stage-1 state is 15-min windows × types; stage-2 state is
    hours × types — both tiny, both keyed the same way (the hourly
    grouping is a coarsening of the quarter key)."""
    return streams.stream_chained(table(spark, sf_dir, "events"))


# --- K-cms: incremental Count-Min sketch maintenance ----------------------


def _cms_oracle() -> str:
    from recsys_spark_spark.operators.aggregates import _CMS_VALUES, CMS_P, CMS_W

    return f"""
WITH h(j, a, b) AS (VALUES {_CMS_VALUES})
SELECT h.j, ((h.a * e.user_id + h.b) % {CMS_P}) % {CMS_W} AS bucket,
       COUNT(*) AS cnt
FROM events e CROSS JOIN h
GROUP BY 1, 2
"""


@query("q_stream_cms", oracle=_cms_oracle())
def q_stream_cms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K-cms: the Count-Min cell table of the events user_id stream — the
    sketch q_cms_heavy_hitters maintains over lineitem, here kept
    incrementally over an event stream. CMS cells are plain keyed SUMS
    (linear), so micro-batch deltas fold into exactly the batch sketch,
    state bounded by d x w cells regardless of stream length (no watermark
    needed, keys are sketch coordinates, not event keys)."""
    return streams.stream_cms(table(spark, sf_dir, "events"))
