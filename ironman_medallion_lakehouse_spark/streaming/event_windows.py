"""Event-time operators over the events table.

The reference has no streaming surface (SURVEY §2.9); these are
beyond-reference extensions. The batch forms (tumbling windows via
F.window, gap sessionization via lag/sum windows or the native
session_window) are the oracle-checkable semantics the suite runs;
``streaming_interval_join`` is the one Structured Streaming query
here (a stream-stream join, pinned pair-for-pair to the batch range
join).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def tumbling_counts(events: DataFrame, duration: str = "1 hour") -> DataFrame:
    """Tumbling event-time window counts (F.window). Window start is
    alignment-identical to date_trunc for hour/day durations."""
    return (
        events.groupBy(F.window("ts", duration).alias("w"), F.col("event_type"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,4)")).cast("double").alias("sum_value"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )


def sessionize(events: DataFrame, gap_seconds: int = 1800) -> DataFrame:
    """Gap-based sessionization: a new session starts when the time
    since the user's previous event exceeds gap_seconds.

    Classic two-window composition (lag → boundary flag → running sum).
    Both windows share the same (user_id, ts) partitioning, so Spark
    plans ONE shuffle and reuses the sort."""
    by_user = Window.partitionBy("user_id").orderBy(
        F.col("ts").asc(), F.col("event_id").asc()
    )
    ts_sec = F.col("ts").cast("long")
    prev = F.lag(ts_sec).over(by_user)
    new_session = F.when(
        prev.isNull() | ((ts_sec - prev) > gap_seconds), 1
    ).otherwise(0)
    with_sessions = events.withColumn(
        "session_seq", F.sum(new_session).over(by_user)
    )
    return with_sessions.groupBy("user_id").agg(
        F.max("session_seq").alias("n_sessions"),
        F.count(F.lit(1)).alias("n_events"),
        F.min("ts").alias("first_ts"),
        F.max("ts").alias("last_ts"),
    )


def session_counts_native(events: DataFrame, gap: str = "30 minutes") -> DataFrame:
    """Sessionization via Spark's NATIVE ``session_window`` — the
    engine-managed gap-merge (one aggregate, no explicit lag/sum
    window composition). Output grain is (user_id, session): start =
    first event time, end = last event time + gap, n_events.

    Exactly the same session semantics as ``sessionize``'s two-window
    form — an oracle replays it with the lag → flag → running-sum
    construction and ``max(ts) + gap`` — but this form also runs
    UNCHANGED under Structured Streaming with a watermark (session
    windows are a native streaming state format; the lag/sum form is
    batch-only because arbitrary window functions aren't supported on
    streams). Batch plan: one shuffle on user_id, sessions merged
    inside the aggregation."""
    return (
        events.groupBy(F.session_window("ts", gap).alias("w"), F.col("user_id"))
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            "user_id",
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "n_events",
        )
    )


def streaming_interval_join(
    spark,
    source_path: str,
    schema,
    left_type: str = "purchase",
    right_type: str = "error",
    window_seconds: int = 3600,
    watermark: str = "2 hours",
    sink_name: str = "interval_join_sink",
):
    """Stream-stream interval join — the streaming twin of the batch
    binned range join (q75): purchases paired with same-user errors
    within ±window, both sides unbounded streams. One file-source
    stream filtered two ways (at scale: two Kafka topics), watermarks
    on BOTH event-time columns + the two-sided interval condition let
    Spark bound the join state (each side buffers only watermark +
    window worth of rows — the stream-stream join state eviction
    contract). Append mode: a pair is emitted exactly once.

    Returns (query, sink_name); caller runs processAllAvailable() then
    reads spark.table(sink_name). Output: (purchase_id, error_id,
    user_id) — proven pair-for-pair equal to the batch range join in
    tests/test_streaming.py."""
    stream = spark.readStream.schema(schema).format("parquet").load(source_path)
    purchases = (
        stream.filter(F.col("event_type") == left_type)
        .select(
            F.col("event_id").alias("purchase_id"),
            F.col("user_id"),
            F.col("ts").alias("pts"),
        )
        .withWatermark("pts", watermark)
    )
    errors = (
        stream.filter(F.col("event_type") == right_type)
        .select(
            F.col("event_id").alias("error_id"),
            F.col("user_id").alias("e_user_id"),
            F.col("ts").alias("ets"),
        )
        .withWatermark("ets", watermark)
    )
    cond = (
        (purchases["user_id"] == errors["e_user_id"])
        & (errors["ets"] >= purchases["pts"] - F.expr(f"INTERVAL {window_seconds} SECONDS"))
        & (errors["ets"] <= purchases["pts"] + F.expr(f"INTERVAL {window_seconds} SECONDS"))
    )
    joined = purchases.join(errors, cond).select(
        "purchase_id", "error_id", "user_id"
    )
    query = (
        joined.writeStream.format("memory")
        .queryName(sink_name)
        .outputMode("append")
        .start()
    )
    return query, sink_name


def tumbling_distinct_users(
    events: DataFrame,
    duration: str = "1 hour",
    lg_k: int = 12,
    tolerance: float = 0.02,
) -> DataFrame:
    """Distinct users per tumbling event-time window — the streaming
    dashboard's "unique visitors per hour" panel — computed BOTH ways:
    exact ``count_distinct`` (the verifiable truth, batch-only: exact
    distinct is not incrementally mergeable) and an HLL sketch
    estimate (``hll_sketch_agg`` — mergeable, so the IDENTICAL
    expression runs under Structured Streaming with a watermark, and
    stored per-window sketches roll up to day/week panels without
    rescanning events; q82's rollup contract). ``hll_within_tol``
    attests the sketch against the exact arm; at dashboard
    cardinalities HLL's low-range coupon path is exact, and at 100 TB
    the sketch column is the only one the streaming job keeps."""
    return (
        events.groupBy(F.window("ts", duration).alias("w"), F.col("event_type"))
        .agg(
            F.count_distinct(F.col("user_id")).alias("n_users_exact"),
            F.hll_sketch_estimate(
                F.hll_sketch_agg(F.col("user_id"), F.lit(lg_k))
            ).alias("_est"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            "event_type",
            "n_users_exact",
            (
                F.abs(F.col("_est") - F.col("n_users_exact"))
                <= F.lit(float(tolerance)) * F.col("n_users_exact")
            ).alias("hll_within_tol"),
        )
    )
