"""Invariants for the round-5 operators beyond their exact oracles: the
layout properties (z-order locality, compaction packing), merge semantics,
exact stratification quotas, session gap laws, and lift-table laws."""

from __future__ import annotations

import math

from pyspark.sql import functions as F

from recsys_spark_spark.catalog import table
from recsys_spark_spark.operators.layout import TARGET_BYTES
from recsys_spark_spark.operators.temporal import SESSION_GAP_S
from recsys_spark_spark.llm.sampling import STRAT_PCT
from recsys_spark_spark.registry import load_all
from tests.conftest import SF_SMOKE

QUERIES, ORACLES = load_all()


def test_zorder_tightens_both_envelopes(spark):
    """The point of z-ordering: per-file min/max envelopes are narrow on
    BOTH dimensions simultaneously. A linear sort on custkey would leave
    every file's date envelope at full span; assert the z-layout keeps the
    AVERAGE envelope well under full span on both dims."""
    rows = QUERIES["q_zorder_layout"](spark, SF_SMOKE).collect()
    assert rows
    o = table(spark, SF_SMOKE, "orders")
    span = o.agg(
        (F.max("o_custkey") - F.min("o_custkey")).alias("ck_span"),
        F.datediff(F.max("o_orderdate"), F.min("o_orderdate")).alias("d_span"),
    ).first()
    avg_ck = sum(r.max_ck - r.min_ck for r in rows) / len(rows)
    from datetime import date

    def d(s: str) -> date:
        return date.fromisoformat(s)

    avg_d = sum((d(r.max_day) - d(r.min_day)).days for r in rows) / len(rows)
    # each of the 64 z-buckets covers a 2D cell: with 8x8 macro cells the
    # expected envelope is ~1/8 of each span; allow generous slack (1/2)
    assert avg_ck <= 0.5 * span.ck_span, (avg_ck, span.ck_span)
    assert avg_d <= 0.5 * span.d_span, (avg_d, span.d_span)


def test_compaction_bins_are_contiguous_and_bounded(spark):
    rows = QUERIES["q_compact_files_plan"](spark, SF_SMOKE).collect()
    assert rows
    by_type: dict[str, list] = {}
    for r in rows:
        by_type.setdefault(r.event_type, []).append(r)
    for et, bins in by_type.items():
        bins.sort(key=lambda r: r.bin_id)
        # bins are dense 0..k and date-contiguous (first_day of bin i+1
        # follows last_day of bin i)
        assert [b.bin_id for b in bins] == list(range(len(bins))), et
        for a, b in zip(bins, bins[1:]):
            assert a.last_day <= b.first_day, (et, a, b)
        # sequential first-fit: every bin except the last crosses the
        # target once the next file would be added, i.e. total assigned
        # bytes per bin stay under target + one file's size
        total = sum(b.total_bytes for b in bins)
        assert len(bins) >= math.ceil(total / (2 * TARGET_BYTES)), et


def test_merge_semantics(spark):
    from recsys_spark_spark.sinks import MERGE_PURGE_N

    out = {r.custkey: r for r in QUERIES["q_sink_merge"](spark, SF_SMOKE).collect()}
    o = table(spark, SF_SMOKE, "orders")
    src = {
        r.custkey: r
        for r in o.where(F.year("o_orderdate") == 1995)
        .groupBy(F.col("o_custkey").alias("custkey"))
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    tgt_keys = {
        r.c_custkey
        for r in table(spark, SF_SMOKE, "customer")
        .where(F.col("c_custkey") % 2 == 0)
        .collect()
    }
    for k, s in src.items():
        if k in tgt_keys and s.n > MERGE_PURGE_N:
            assert k not in out, f"churner {k} not deleted"
        elif k in tgt_keys:
            assert out[k].n_orders == s.n, f"update missed for {k}"
        else:
            assert k in out and out[k].n_orders == s.n, f"insert missed for {k}"
    # target-only rows survive untouched
    for k in tgt_keys - set(src):
        assert out[k].n_orders == 0, k


def test_stratified_sample_exact_quota(spark):
    got = QUERIES["q_stratified_sample_exact"](spark, SF_SMOKE).collect()
    per_lang: dict[str, int] = {}
    for r in got:
        per_lang[r.lang] = per_lang.get(r.lang, 0) + 1
    counts = {
        r.lang: r.n
        for r in table(spark, SF_SMOKE, "documents")
        .groupBy("lang")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    assert set(per_lang) == set(counts)
    for lang, n in counts.items():
        assert per_lang[lang] == math.ceil(n * STRAT_PCT / 100), (lang, n)


def test_sessionize_gap_law(spark):
    """Within a session consecutive events are < GAP apart; across
    consecutive sessions of the same user the start is >= GAP after the
    previous session's end (whole seconds, the streams.py session rule)."""
    sess = sorted(
        QUERIES["q_sessionize_batch"](spark, SF_SMOKE).collect(),
        key=lambda r: (r.user_id, r.session_id),
    )
    assert sess
    for a, b in zip(sess, sess[1:]):
        if a.user_id != b.user_id:
            continue
        assert b.session_id == a.session_id + 1
        assert b.start_s - a.end_s >= SESSION_GAP_S, (a, b)
    # event counts fold back to the full table
    n_events = sum(r.n_events for r in sess)
    assert n_events == table(spark, SF_SMOKE, "events").count()


def test_sessionize_gap_boundary_starts_new_session(spark, tmp_path):
    """One user, consecutive gaps of 1799 s, 1800 s and 1801 s: a gap of
    exactly SESSION_GAP_S starts a new session, as in q_stream_session, so
    the sessions are {e0, e1}, {e2} and {e3} — in the builder and in its
    DuckDB oracle."""
    import calendar
    import datetime

    import duckdb
    import pyarrow as pa
    import pyarrow.parquet as pq

    t0 = datetime.datetime(2024, 1, 6, 22, 16, 14)
    offsets = [0, 1799, 1799 + 1800, 1799 + 1800 + 1801]
    pq.write_table(
        pa.table(
            {
                "event_id": pa.array(range(4), pa.int64()),
                "ts": pa.array(
                    [t0 + datetime.timedelta(seconds=o) for o in offsets],
                    pa.timestamp("us"),
                ),
                "user_id": pa.array([511] * 4, pa.int64()),
                "event_type": ["click"] * 4,
                "value": [1.0] * 4,
                "props": ["{}"] * 4,
            }
        ),
        tmp_path / "events.parquet",
    )
    s0 = calendar.timegm(t0.timetuple())
    # (user_id, session_id, start_s, end_s, n_events, value_cents)
    want = [
        (511, 1, s0, s0 + 1799, 2, 200),
        (511, 2, s0 + offsets[2], s0 + offsets[2], 1, 100),
        (511, 3, s0 + offsets[3], s0 + offsets[3], 1, 100),
    ]
    got = QUERIES["q_sessionize_batch"](spark, str(tmp_path)).collect()
    assert sorted(tuple(r) for r in got) == want
    con = duckdb.connect()
    con.execute(f"CREATE VIEW events AS SELECT * FROM '{tmp_path}/events.parquet'")
    assert sorted(con.execute(ORACLES["q_sessionize_batch"]).fetchall()) == want


def test_decile_lift_laws(spark):
    rows = sorted(
        QUERIES["q_decile_lift"](spark, SF_SMOKE).collect(), key=lambda r: r.decile
    )
    assert [r.decile for r in rows] == list(range(1, 11))
    # equal-population deciles (within 1), cum_gain monotone to 1.0,
    # population-weighted lift averages to 1
    sizes = [r.n_cust for r in rows]
    assert max(sizes) - min(sizes) <= 1, sizes
    gains = [r.cum_gain for r in rows]
    assert all(a <= b for a, b in zip(gains, gains[1:])), gains
    assert abs(gains[-1] - 1.0) < 1e-9
    t_cust = sum(sizes)
    t_resp = sum(r.n_resp for r in rows)
    wavg = sum(r.lift * r.n_cust for r in rows) / t_cust
    assert abs(wavg - 1.0) < 1e-3, wavg
    assert t_resp > 0
