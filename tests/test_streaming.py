"""Structured Streaming parity: the stream-stream interval join must
emit exactly the pairs of the batch range join."""

from __future__ import annotations

from pyspark.sql import Row
from pyspark.sql import functions as F


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
