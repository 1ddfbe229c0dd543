"""Structured Streaming parity: the streaming tumbling-window query
must produce the same aggregates as the batch F.window plan."""

from __future__ import annotations

from pyspark.sql import Row
from pyspark.sql import functions as F

from ironman_medallion_lakehouse_spark.streaming.event_windows import (
    streaming_tumbling_counts,
    tumbling_counts,
)


def test_streaming_matches_batch(spark, tmp_path):
    rows = [
        Row(event_id=i, ts=f"2024-01-01 {h:02d}:{i % 60:02d}:00", user_id=i % 5,
            event_type=t, value=float(i))
        for i, (h, t) in enumerate(
            [(0, "click"), (0, "view"), (0, "click"), (1, "click"), (1, "error"),
             (2, "view"), (2, "view"), (2, "click"), (3, "signup"), (3, "click")]
        )
    ]
    events = spark.createDataFrame(rows).withColumn("ts", F.col("ts").cast("timestamp"))
    src = str(tmp_path / "events_src")
    events.write.mode("overwrite").parquet(src)

    batch = {
        (r.window_start, r.event_type): r.n_events
        for r in tumbling_counts(events, "1 hour").collect()
    }

    stored = spark.read.parquet(src)
    query, sink = streaming_tumbling_counts(
        spark, src, stored.schema, duration="1 hour", sink_name="t_sink"
    )
    try:
        query.processAllAvailable()
        streamed = {
            (r.window_start, r.event_type): r.n_events
            for r in spark.table(sink).collect()
        }
    finally:
        query.stop()

    assert streamed == batch
    assert len(batch) > 0


def test_native_session_window_streaming_matches_batch(spark, tmp_path):
    """session_window sessionization: the streaming query (watermark +
    native session state) must produce exactly the batch sessions."""
    from ironman_medallion_lakehouse_spark.streaming.event_windows import (
        session_counts_native,
        streaming_session_counts,
    )

    rows = [
        # user 1: two sessions (events 3 min apart, then a 2 h jump)
        Row(event_id=1, ts="2024-01-01 00:00:00", user_id=1, event_type="a", value=1.0),
        Row(event_id=2, ts="2024-01-01 00:03:00", user_id=1, event_type="a", value=1.0),
        Row(event_id=3, ts="2024-01-01 02:10:00", user_id=1, event_type="a", value=1.0),
        # user 2: one long chained session crossing multiple gaps
        Row(event_id=4, ts="2024-01-01 00:00:00", user_id=2, event_type="b", value=1.0),
        Row(event_id=5, ts="2024-01-01 00:25:00", user_id=2, event_type="b", value=1.0),
        Row(event_id=6, ts="2024-01-01 00:50:00", user_id=2, event_type="b", value=1.0),
    ]
    events = spark.createDataFrame(rows).withColumn("ts", F.col("ts").cast("timestamp"))
    src = str(tmp_path / "sess_src")
    events.write.mode("overwrite").parquet(src)

    batch = {
        (r.user_id, r.session_start, r.session_end): r.n_events
        for r in session_counts_native(events, "30 minutes").collect()
    }
    # sanity: user 1 has 2 sessions, user 2's chain merged into 1
    assert len([k for k in batch if k[0] == 1]) == 2
    assert len([k for k in batch if k[0] == 2]) == 1
    assert batch[[k for k in batch if k[0] == 2][0]] == 3

    stored = spark.read.parquet(src)
    query, sink = streaming_session_counts(
        spark, src, stored.schema, gap="30 minutes", sink_name="s_sink"
    )
    try:
        # append mode: nothing emits until the watermark passes a
        # session's end — after batch 1 the watermark is still behind
        # every session (max ts 02:10 − 2 h horizon), so the sink must
        # be EMPTY (this is the state-bounding semantics; complete
        # mode would have shown everything immediately).
        query.processAllAvailable()
        assert spark.table(sink).count() == 0
        # a late "ticker" event a day ahead pushes the watermark past
        # all session ends; the no-data flush then emits each closed
        # session exactly once and drops its state
        ticker = [
            Row(event_id=99, ts="2024-01-02 12:00:00", user_id=99,
                event_type="t", value=0.0),
        ]
        spark.createDataFrame(ticker).withColumn(
            "ts", F.col("ts").cast("timestamp")
        ).coalesce(1).write.mode("append").parquet(src)
        query.processAllAvailable()
        streamed = {
            (r.user_id, r.session_start, r.session_end): r.n_events
            for r in spark.table(sink).collect()
            if r.user_id != 99  # ticker's own session is still open
        }
    finally:
        query.stop()

    assert streamed == batch


def test_stream_stream_interval_join_matches_batch_range_join(spark, tmp_path):
    """Stream-stream inner join with two-sided interval condition:
    must emit exactly the pairs the batch binned range join (q75's
    operator) produces on the same data — the streaming twin
    contract. Watermarks on both sides bound the join state."""
    from ironman_medallion_lakehouse_spark.operators.rangejoin import (
        range_join_within,
    )
    from ironman_medallion_lakehouse_spark.streaming.event_windows import (
        streaming_interval_join,
    )

    rows = [
        # u1: purchase at 10:00; errors at 09:30 (in), 10:59 (in), 11:30 (out)
        Row(event_id=1, ts="2024-01-01 10:00:00", user_id=1, event_type="purchase", value=1.0),
        Row(event_id=2, ts="2024-01-01 09:30:00", user_id=1, event_type="error", value=1.0),
        Row(event_id=3, ts="2024-01-01 10:59:00", user_id=1, event_type="error", value=1.0),
        Row(event_id=4, ts="2024-01-01 11:30:00", user_id=1, event_type="error", value=1.0),
        # u2: error in-window but different user than the purchase
        Row(event_id=5, ts="2024-01-01 10:05:00", user_id=2, event_type="error", value=1.0),
        Row(event_id=6, ts="2024-01-01 12:00:00", user_id=2, event_type="purchase", value=1.0),
        # boundary: exactly +1h from purchase 6
        Row(event_id=7, ts="2024-01-01 13:00:00", user_id=2, event_type="error", value=1.0),
    ]
    events = spark.createDataFrame(rows).withColumn(
        "ts", F.col("ts").cast("timestamp")
    )
    src = str(tmp_path / "ssj_src")
    events.write.mode("overwrite").parquet(src)

    purchases = events.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"), "user_id", F.col("ts").alias("pts")
    )
    errors = events.filter(F.col("event_type") == "error").select(
        F.col("event_id").alias("error_id"), "user_id", F.col("ts").alias("ets")
    )
    batch = {
        (r.purchase_id, r.error_id)
        for r in range_join_within(
            purchases, errors, on=["user_id"], left_ts="pts", right_ts="ets",
            window_seconds=3600,
        ).collect()
    }
    assert batch == {(1, 2), (1, 3), (6, 7)}

    stored = spark.read.parquet(src)
    query, sink = streaming_interval_join(
        spark, src, stored.schema, sink_name="ssj_sink"
    )
    try:
        query.processAllAvailable()
        streamed = {
            (r.purchase_id, r.error_id) for r in spark.table(sink).collect()
        }
    finally:
        query.stop()
    assert streamed == batch


def test_streaming_distinct_sketch_matches_batch(spark, tmp_path):
    """The HLL sketch aggregate is mergeable, so the windowed distinct
    estimate under incremental streaming execution equals the batch
    estimate exactly; at these cardinalities the low-range coupon path
    makes both equal the TRUE distinct count."""
    from ironman_medallion_lakehouse_spark.streaming.event_windows import (
        streaming_tumbling_distinct,
        tumbling_distinct_users,
    )

    rows = [
        Row(event_id=i, ts=f"2024-01-01 {h:02d}:{i % 60:02d}:00",
            user_id=i % 7, event_type=t, value=float(i))
        for i, (h, t) in enumerate(
            [(0, "click")] * 6 + [(0, "view")] * 3 + [(1, "click")] * 5
            + [(2, "view")] * 4
        )
    ]
    events = spark.createDataFrame(rows).withColumn("ts", F.col("ts").cast("timestamp"))
    src = str(tmp_path / "dist_src")
    events.write.mode("overwrite").parquet(src)

    batch = {
        (r.window_start, r.event_type): r.n_users_exact
        for r in tumbling_distinct_users(events, "1 hour").collect()
    }
    assert all(
        r.hll_within_tol
        for r in tumbling_distinct_users(events, "1 hour").collect()
    )

    stored = spark.read.parquet(src)
    query, sink = streaming_tumbling_distinct(
        spark, src, stored.schema, duration="1 hour", sink_name="d_sink"
    )
    try:
        query.processAllAvailable()
        streamed = {
            (r.window_start, r.event_type): int(r.n_users_approx)
            for r in spark.table(sink).collect()
        }
    finally:
        query.stop()

    assert streamed == batch  # exact in the coupon regime
    # 4 (window, type) panels; distinct users bounded by the i%7 key space
    assert len(batch) == 4 and max(batch.values()) <= 7
