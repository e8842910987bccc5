"""Incremental execution ≡ batch execution of the same builder.

The events table is replayed through a file-stream source in 4 time-ordered
chunks, and each streams.py builder's streaming result must equal its
registered q_stream_* key on the same data. Most keys are the builder itself
applied to the catalog table, so the tests check one thing: the stream
computes what the batch computes, and the DuckDB oracle checks the batch.

Four keys keep a batch form of their own: q_stream_dedup
(dropDuplicatesWithinWatermark is refused on a batch frame),
q_stream_anomaly and q_stream_profile (keyed state runs only on streams)
and q_stream_late_drop (the per-row watermark reference). The first three
tests compare the stream with that form; the late-drop test asserts that
rows behind the watermark are dropped.
"""

from __future__ import annotations

import datetime
import os
import shutil
import uuid

import pytest

from pyspark.sql import functions as F

from recsys_spark_spark.catalog import TMP_DIR, table
from recsys_spark_spark.registry import load_all
from recsys_spark_spark.streaming import streams
from tests.conftest import SF_SMOKE

QUERIES, _ = load_all()

TMP = os.path.join(TMP_DIR, "streamtest")
EVENTS_SCHEMA = (
    "event_id long, ts timestamp, user_id long, event_type string, value double, props string"
)


@pytest.fixture(scope="module")
def stream_src(spark):
    """events parquet rewritten (µs timestamps) as 4 time-ordered chunk files."""
    src = f"{TMP}/src-{uuid.uuid4().hex[:8]}"
    shutil.rmtree(src, ignore_errors=True)
    os.makedirs(src)
    ev = table(spark, SF_SMOKE, "events").orderBy("ts")
    bounds = ev.select(
        F.percentile_approx("ts", [0.25, 0.5, 0.75], 10000).alias("q")
    ).first()["q"]
    lo = None
    for i, hi in enumerate([*bounds, None]):
        chunk = ev
        if lo is not None:
            chunk = chunk.where(F.col("ts") > F.lit(lo))
        if hi is not None:
            chunk = chunk.where(F.col("ts") <= F.lit(hi))
        chunk.coalesce(1).write.mode("append").parquet(src)
        lo = hi
    yield src
    shutil.rmtree(src, ignore_errors=True)


def run_stream(spark, stream_src, fn, mode, name):
    events = (
        spark.readStream.schema(EVENTS_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(stream_src)
    )
    q = (
        fn(events)
        .writeStream.format("memory")
        .queryName(name)
        .outputMode(mode)
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    return spark.table(name)


def as_multiset(df):
    cols = sorted(df.columns)
    return sorted(tuple(row[c] for c in cols) for row in df.select(*cols).collect())


def test_tumbling_stream_equals_batch(spark, stream_src):
    got = run_stream(spark, stream_src, streams.stream_tumbling, "complete", "t_tumbling")
    want = QUERIES["q_stream_tumbling"](spark, SF_SMOKE)
    assert as_multiset(got) == as_multiset(want)


def test_sliding_stream_equals_batch(spark, stream_src):
    got = run_stream(spark, stream_src, streams.stream_sliding, "complete", "t_sliding")
    want = QUERIES["q_stream_sliding"](spark, SF_SMOKE)
    assert as_multiset(got) == as_multiset(want)


def test_session_stream_equals_batch(spark, stream_src):
    got = run_stream(spark, stream_src, streams.stream_session, "complete", "t_session")
    want = QUERIES["q_stream_session"](spark, SF_SMOKE)
    assert as_multiset(got) == as_multiset(want)


def test_session_gap_boundary_starts_new_session(spark):
    """One user, consecutive gaps of 1799 s, 1800 s and 1801 s: a gap of
    exactly 30 minutes starts a new session, as in the q_stream_session
    oracle, so the sessions are {e0, e1}, {e2} and {e3}. The stream reads
    one event per micro-batch; the batch runs the builder on the frame."""
    t0 = datetime.datetime(2024, 1, 6, 22, 16, 14)
    offsets = [0, 1799, 1799 + 1800, 1799 + 1800 + 1801]
    ev = spark.createDataFrame(
        [
            (i, t0 + datetime.timedelta(seconds=o), 511, "click", 1.0, "{}")
            for i, o in enumerate(offsets)
        ],
        EVENTS_SCHEMA,
    )
    want = [
        (1799, 2, t0, 511),
        (0, 1, t0 + datetime.timedelta(seconds=offsets[2]), 511),
        (0, 1, t0 + datetime.timedelta(seconds=offsets[3]), 511),
    ]
    src = f"{TMP}/gap-{uuid.uuid4().hex[:8]}"
    try:
        for i in range(len(offsets)):
            ev.where(F.col("event_id") == i).coalesce(1).write.mode("append").parquet(src)
        got = run_stream(spark, src, streams.stream_session, "complete", "t_session_gap")
        assert as_multiset(got) == sorted(want)
        assert as_multiset(streams.stream_session(ev)) == sorted(want)
    finally:
        shutil.rmtree(src, ignore_errors=True)


def test_dedup_stream_drops_injected_duplicates(spark, stream_src):
    """K5: duplicate a chunk into the source — stream output must still equal
    the batch key computed on the original (duplicates dropped by id)."""
    dup_src = f"{TMP}/dup-{uuid.uuid4().hex[:8]}"
    shutil.rmtree(dup_src, ignore_errors=True)
    spark.read.parquet(stream_src).coalesce(1).write.mode("overwrite").parquet(dup_src)
    # re-append the same rows (same event_ids) as a later file → duplicates
    spark.read.parquet(stream_src).coalesce(1).write.mode("append").parquet(dup_src)
    got = run_stream(spark, dup_src, streams.stream_dedup, "complete", "t_dedup")
    want = QUERIES["q_stream_dedup"](spark, SF_SMOKE)
    assert as_multiset(got) == as_multiset(want)
    shutil.rmtree(dup_src, ignore_errors=True)


def test_anomaly_stateful_stream_equals_batch(spark, stream_src):
    """K6: per-user error-run counters folded through keyed state must match
    the gaps-and-islands batch key. Counters are monotonic → take the
    per-user max across update-mode emissions."""
    got = run_stream(spark, stream_src, streams.stream_anomaly, "update", "t_anomaly")
    final = (
        got.groupBy("user_id")
        .agg(
            F.max("n_error_runs").alias("n_error_runs"),
            F.max("max_run_len").alias("max_run_len"),
            F.max("n_anomalies").alias("n_anomalies"),
        )
        .where(F.col("n_error_runs") > 0)
    )
    want = QUERIES["q_stream_anomaly"](spark, SF_SMOKE)
    assert as_multiset(final) == as_multiset(want)


def test_watermark_drops_late_rows(spark):
    """K4: a file of rows far older than the watermark arrives after the
    watermark advanced — append-mode output must not change."""
    src = f"{TMP}/late-{uuid.uuid4().hex[:8]}"
    shutil.rmtree(src, ignore_errors=True)
    os.makedirs(src)
    ev = table(spark, SF_SMOKE, "events")
    on_time = ev.orderBy("ts")
    on_time.coalesce(1).write.mode("append").parquet(src)

    events = (
        spark.readStream.schema(EVENTS_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    q = (
        streams.stream_late_data_drop(events)
        .writeStream.format("memory")
        .queryName("t_late")
        .outputMode("append")
        .start()
    )
    try:
        q.processAllAvailable()
        counts_before = {
            r["window_start"]: r["n"] for r in spark.table("t_late").collect()
        }
        assert counts_before, "watermark should have finalized most windows"
        # inject rows 10 days older than the max event time → dropped
        late = ev.where(F.col("ts") < F.expr("timestamp'2024-01-02 00:00:00'"))
        late.coalesce(1).write.mode("append").parquet(src)
        q.processAllAvailable()
        counts_after = {
            r["window_start"]: r["n"] for r in spark.table("t_late").collect()
        }
        for w, n in counts_before.items():
            assert counts_after[w] == n, f"late rows leaked into window {w}"
    finally:
        q.stop()
        shutil.rmtree(src, ignore_errors=True)


def test_foreachbatch_upsert_sink(spark, stream_src):
    """Production publish path: stream -> foreachBatch -> keyed parquet upsert
    (sinks.upsert_parquet, the MySQL-shaped MERGE). Replaying per-user event
    counts through incremental upserts must converge to the batch answer —
    the idempotent-merge property a real JDBC/foreachBatch sink relies on."""
    import os as _os
    import uuid as _uuid

    from recsys_spark_spark.sinks import upsert_parquet

    target = f"{TMP}/upsert-{_uuid.uuid4().hex[:8]}"
    shutil.rmtree(target, ignore_errors=True)
    # seed an empty target with the right schema
    spark.createDataFrame([], "user_id long, n long").write.parquet(target)

    src_df = table(spark, SF_SMOKE, "events")

    def publish(batch_df, batch_id):
        # per-batch partial counts merged with the running totals by key —
        # read-modify-write through the same upsert the batch sink uses
        batch_counts = batch_df.groupBy("user_id").agg(F.count(F.lit(1)).alias("n"))
        current = batch_df.sparkSession.read.parquet(target)
        merged = (
            current.unionByName(batch_counts)
            .groupBy("user_id")
            .agg(F.sum("n").alias("n"))
        )
        upsert_parquet(batch_df.sparkSession, target, merged, "user_id")

    events = (
        spark.readStream.schema(EVENTS_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(stream_src)
    )
    q = events.writeStream.foreachBatch(publish).start()
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    got = as_multiset(spark.read.parquet(target))
    want = as_multiset(src_df.groupBy("user_id").agg(F.count(F.lit(1)).alias("n")))
    assert got == want
    shutil.rmtree(target, ignore_errors=True)


def test_profile_stateful_stream_equals_batch(spark, stream_src):
    """K6b: the per-user profile fold through keyed state must converge to
    the batch key."""
    got = run_stream(spark, stream_src, streams.stream_profile, "update", "t_profile")
    # emissions per user have strictly increasing n_events → the row with
    # the max n_events is the final state (works even for negative values)
    from pyspark.sql.window import Window as W

    wlast = W.partitionBy("user_id").orderBy(F.col("n_events").desc())
    final = (
        got.withColumn("rn", F.row_number().over(wlast))
        .where(F.col("rn") == 1)
        .drop("rn")
    )
    want = QUERIES["q_stream_profile"](spark, SF_SMOKE)
    assert as_multiset(final) == as_multiset(want)


def test_stream_stream_join_equals_batch(spark, stream_src):
    """K7: watermarked stream-stream interval join emits exactly the batch
    interval-join rows (append mode) once all input is processed."""
    got = run_stream(spark, stream_src, streams.stream_stream_join, "append", "t_ssjoin")
    want = QUERIES["q_stream_join"](spark, SF_SMOKE)
    assert as_multiset(got) == as_multiset(want)


def test_stream_static_enrich_equals_batch(spark, stream_src):
    """K8: stream-static dim join + windowed agg emits exactly the batch
    key's rows in complete mode once all files are processed."""
    customers = table(spark, SF_SMOKE, "customer")
    got = run_stream(
        spark,
        stream_src,
        lambda ev: streams.stream_enrich(ev, customers),
        "complete",
        "t_enrich",
    )
    want = QUERIES["q_stream_enrich"](spark, SF_SMOKE)
    assert as_multiset(got) == as_multiset(want)


def test_chained_windowed_aggs_equal_batch(spark, stream_src):
    """K9: two chained stateful windowed aggregations in one append-mode
    query emit exactly the batch key's rows once a far-future sentinel
    advances the watermark past every real window. The sentinel's own
    rows stay in state (its windows never close) and so never surface."""
    import shutil as _sh
    import uuid as _uuid

    src = f"{TMP}/src-chained-{_uuid.uuid4().hex[:8]}"
    _sh.rmtree(src, ignore_errors=True)
    os.makedirs(src)
    ev = table(spark, SF_SMOKE, "events")
    ev.coalesce(1).write.mode("append").parquet(src)
    sentinel = spark.createDataFrame(
        [(-1, None, -1, "_wm_sentinel", 0.0, "{}")],
        EVENTS_SCHEMA,
    ).withColumn(
        "ts",
        F.lit(ev.agg(F.max("ts")).first()[0]) + F.expr("INTERVAL 6 HOURS"),
    )
    sentinel.coalesce(1).write.mode("append").parquet(src)
    try:
        got = run_stream(spark, src, streams.stream_chained, "append", "t_chained")
        want = QUERIES["q_stream_chained"](spark, SF_SMOKE)
        assert as_multiset(got) == as_multiset(want)
    finally:
        _sh.rmtree(src, ignore_errors=True)


def test_cms_stream_equals_batch(spark, stream_src):
    """K-cms: the sketch folded over micro-batches must equal the batch
    sketch cell-for-cell (linearity is what makes this exact)."""
    got = run_stream(spark, stream_src, streams.stream_cms, "complete", "t_cms")
    want = QUERIES["q_stream_cms"](spark, SF_SMOKE)
    assert as_multiset(got) == as_multiset(want)
