"""Property check: the banded interval-overlap join (q_join_interval) is
EXACT — the hour-band explode + equi-join + distinct must equal the naive
quadratic overlap join, computed here as an independent pure-Python
reference over hypothesis-generated event streams. Adversarial shapes the
fixture lacks: gaps of exactly the session threshold, events on exact hour
boundaries, same-second ties, single-event (zero-length) sessions, and
sessions spanning multiple hour bands."""

from __future__ import annotations

import datetime as dt
import os
import shutil
import uuid
from collections import defaultdict

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from recsys_spark_spark.catalog import TMP_DIR
from recsys_spark_spark.operators.joins import _IV_GAP_S
from recsys_spark_spark.registry import load_all

QUERIES, _ = load_all()

TMP = os.path.join(TMP_DIR, "proptest_iv")
BASE = 1_700_000_000 - (1_700_000_000 % 86400)  # a UTC day boundary


def _spark():
    from recsys_spark_spark.session import get_spark

    return get_spark(app_name="recsys-spark-tests", shuffle_partitions=8)


def _reference(events):
    """events: list of (event_id, epoch_sec, user_id). Returns
    {day_epoch: (n_pairs, overlap_s)} via naive sessionize + all-pairs."""
    per_user = defaultdict(list)
    for eid, sec, uid in events:
        per_user[uid].append((sec, eid))
    intervals = []
    for uid, evs in per_user.items():
        evs.sort()
        start = prev = evs[0][0]
        for sec, _ in evs[1:]:
            if sec - prev >= _IV_GAP_S:
                intervals.append((uid, start, prev))
                start = sec
            prev = sec
        intervals.append((uid, start, prev))
    agg = defaultdict(lambda: [0, 0])
    for i, (ua, sa, ea) in enumerate(intervals):
        for ub, sb, eb in intervals[i + 1 :]:
            if ua == ub:
                continue
            if sa <= eb and sb <= ea:
                o_start = max(sa, sb)
                o_sec = min(ea, eb) - o_start
                day = o_start - (o_start % 86400)
                a = agg[day]
                a[0] += 1
                a[1] += o_sec
    return {d: tuple(v) for d, v in agg.items()}


events_strategy = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=3 * 86400),  # offset within 3 days
        st.integers(min_value=1, max_value=4),  # user_id
    ),
    min_size=1,
    max_size=40,
).map(
    # exercise exact-gap and hour-boundary collisions: snap half the offsets
    # to multiples of the session gap or the hour
    lambda offs: [
        (i, BASE + (o - o % (_IV_GAP_S if i % 3 == 0 else 3600) if i % 2 == 0 else o), u)
        for i, (o, u) in enumerate(offs)
    ]
)


@settings(max_examples=6, deadline=None, suppress_health_check=list(HealthCheck))
@given(events=events_strategy)
def test_banded_interval_join_equals_naive_quadratic(events):
    spark = _spark()
    sf_dir = os.path.join(TMP, uuid.uuid4().hex[:12])
    rows = [
        (
            eid,
            dt.datetime.utcfromtimestamp(sec),
            uid,
            "view",
            1.0,
            "{}",
        )
        for eid, sec, uid in events
    ]
    df = spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string",
    )
    df.coalesce(1).write.mode("overwrite").parquet(f"{sf_dir}/events.parquet")
    try:
        got = {
            int(r["day"].timestamp()): (r["n_pairs"], r["overlap_s"])
            for r in QUERIES["q_join_interval"](spark, sf_dir).toPandas().to_dict("records")
        }
        assert got == _reference(events)
    finally:
        shutil.rmtree(sf_dir, ignore_errors=True)
