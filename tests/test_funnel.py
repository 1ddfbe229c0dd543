"""Unit tests for operators/funnel.py — windowed conversion funnels
and retention cohorts on hand-built event streams."""

from __future__ import annotations

import datetime as dt

from pyspark.sql import Row

from ironman_medallion_lakehouse_spark.operators import funnel as FU


def _ev(user, kind, minute):
    return Row(
        user_id=user,
        event_type=kind,
        ts=dt.datetime(2024, 1, 1, 0, 0) + dt.timedelta(minutes=minute),
    )


def test_funnel_hand_computed(spark):
    events = spark.createDataFrame(
        [
            # user 1 converts fully: view@0, click@10, purchase@20
            _ev(1, "view", 0), _ev(1, "click", 10), _ev(1, "purchase", 20),
            # user 2 clicks but purchase is outside the window
            _ev(2, "view", 0), _ev(2, "click", 30), _ev(2, "purchase", 300),
            # user 3 clicks BEFORE the view — does not qualify
            _ev(3, "click", 0), _ev(3, "view", 10),
            # user 4 never views — not in the funnel at all
            _ev(4, "click", 0), _ev(4, "purchase", 5),
        ]
    )
    out = {
        r.user_id: r
        for r in FU.funnel_stages(
            events, ["view", "click", "purchase"], window_seconds=3600
        ).collect()
    }
    assert set(out) == {1, 2, 3}
    assert out[1].t_purchase is not None
    assert out[2].t_click is not None and out[2].t_purchase is None
    assert out[3].t_click is None
    # earliest QUALIFYING click, not earliest overall: user 3's minute-0
    # click precedes the view and is skipped


def test_funnel_picks_earliest_qualifying(spark):
    events = spark.createDataFrame(
        [
            _ev(1, "view", 0),
            _ev(1, "click", 5),
            _ev(1, "click", 15),  # later click must not win
        ]
    )
    row = FU.funnel_stages(events, ["view", "click"], 3600).collect()[0]
    assert row.t_click.minute == 5


def test_funnel_strictly_after(spark):
    # click at the same instant as the view does NOT qualify
    events = spark.createDataFrame([_ev(1, "view", 0), _ev(1, "click", 0)])
    row = FU.funnel_stages(events, ["view", "click"], 3600).collect()[0]
    assert row.t_click is None


def test_retention_hand_computed(spark):
    jan1 = dt.datetime(2024, 1, 1, 12, 0)  # a Monday
    events = spark.createDataFrame(
        [
            # user 1: first week 0, active weeks 0 and 2
            Row(user_id=1, event_type="view", ts=jan1),
            Row(user_id=1, event_type="view", ts=jan1 + dt.timedelta(days=14)),
            # user 2: first week 0, active week 0 only (two events same week)
            Row(user_id=2, event_type="view", ts=jan1 + dt.timedelta(days=1)),
            Row(user_id=2, event_type="view", ts=jan1 + dt.timedelta(days=2)),
            # user 3: joins in week 1
            Row(user_id=3, event_type="view", ts=jan1 + dt.timedelta(days=7)),
        ]
    )
    got = {
        (r.cohort_week.date(), r.week_offset): r.n_users
        for r in FU.retention_cohorts(events).collect()
    }
    w0 = dt.date(2024, 1, 1)
    w1 = dt.date(2024, 1, 8)
    assert got[(w0, 0)] == 2          # users 1 and 2 in cohort week 0
    assert got[(w0, 2)] == 1          # user 1 returns two weeks later
    assert got[(w1, 0)] == 1          # user 3's own cohort
    assert (w0, 1) not in got         # nobody from cohort 0 active week 1


def test_daily_anomalies_flags_planted_spike(spark):
    """29 quiet days (1 event) + one 50-event spike: the spike day
    must be the only anomaly, with a large positive z."""
    from datetime import datetime, timedelta

    from pyspark.sql import Row

    from ironman_medallion_lakehouse_spark.operators.funnel import (
        daily_count_anomalies,
    )

    rows, eid = [], 0
    base = datetime(2024, 1, 1)
    for d in range(30):
        n = 50 if d == 15 else 1
        for i in range(n):
            rows.append(
                Row(event_id=eid, user_id=1, event_type="click",
                    ts=base + timedelta(days=d, minutes=i))
            )
            eid += 1
    out = daily_count_anomalies(spark.createDataFrame(rows)).collect()
    flagged = [r for r in out if r.is_anomaly]
    assert len(flagged) == 1
    assert flagged[0].day.day == 16 and flagged[0].n_events == 50
    assert flagged[0].z > 5


def test_daily_anomalies_constant_series_zero_z(spark):
    """σ = 0 must give z = 0 everywhere, not a division blow-up."""
    from datetime import datetime, timedelta

    from pyspark.sql import Row

    from ironman_medallion_lakehouse_spark.operators.funnel import (
        daily_count_anomalies,
    )

    rows = [
        Row(event_id=d, user_id=1, event_type="view",
            ts=datetime(2024, 1, 1) + timedelta(days=d))
        for d in range(10)
    ]
    out = daily_count_anomalies(spark.createDataFrame(rows)).collect()
    assert all(r.z == 0.0 and not r.is_anomaly for r in out)


def test_trending_recency_beats_volume(spark):
    """3 recent occurrences of A outscore 5 month-old occurrences of
    B at a 7-day half-life (5·0.5^(30/7) ≈ 0.26 < 3)."""
    from datetime import datetime, timedelta

    from pyspark.sql import Row
    from pyspark.sql import functions as F

    from ironman_medallion_lakehouse_spark.operators.funnel import trending_items

    ref = datetime(2024, 1, 31)
    rows = [
        Row(event_id=i, ts=ref - timedelta(hours=1), item_id="A") for i in range(3)
    ] + [
        Row(event_id=10 + i, ts=ref - timedelta(days=30), item_id="B")
        for i in range(5)
    ]
    out = trending_items(
        spark.createDataFrame(rows), F.col("item_id"), "2024-01-31 00:00:00"
    ).collect()
    assert out[0].item == "A" and out[1].item == "B"
    assert out[0].score > out[1].score
    assert out[0].n_raw == 3 and out[1].n_raw == 5


def test_trending_partitioning_invariance(spark):
    from datetime import datetime, timedelta
    import random

    from pyspark.sql import Row
    from pyspark.sql import functions as F

    from ironman_medallion_lakehouse_spark.operators.funnel import trending_items

    rng = random.Random(3)
    ref = datetime(2024, 1, 31)
    rows = [
        Row(event_id=i, ts=ref - timedelta(hours=rng.randrange(1, 700)),
            item_id=f"i{rng.randrange(8)}")
        for i in range(300)
    ]
    df = spark.createDataFrame(rows)
    o1 = [tuple(r) for r in trending_items(df.repartition(1), F.col("item_id"), "2024-01-31 00:00:00").collect()]
    o2 = [tuple(r) for r in trending_items(df.repartition(13), F.col("item_id"), "2024-01-31 00:00:00").collect()]
    assert o1 == o2
