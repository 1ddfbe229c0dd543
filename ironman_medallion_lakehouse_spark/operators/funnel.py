"""Event-sequence analytics over the events table: conversion funnels
and retention cohorts.

Beyond-reference extensions (BASELINE.json north star: the event-
analytics queries an engine serving product teams must answer).

- ``funnel_stages``: the windowed conversion funnel — for an ordered
  list of stages (view → click → purchase), each user's earliest
  qualifying timestamp per stage, where stage i+1 must occur within
  ``window_seconds`` AFTER the user's stage-i timestamp. The
  conversion window is what makes a funnel a funnel: without it any
  co-occurrence across a month counts as a "conversion".
- ``retention_cohorts``: the classic cohort-retention matrix — users
  grouped by the week of their first event, counted in each later
  week they were active.

100 TB design: every frame here is USER-cardinality, not event-
cardinality — stage 1 collapses the event stream to one row per user
immediately, and each later stage joins events against that compact
frame. All shuffles hash on the same ``user_id`` key, so the stage
joins and aggregations share co-partitioning; no events-side
all-to-all beyond the per-stage aggregate. Retention's distinct
(user, week) pre-aggregation bounds the second shuffle at
users × active-weeks. Neither op sorts globally, collects, or leaves
codegen.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def funnel_stages(
    events: DataFrame,
    stages: list[str],
    window_seconds: int = 3600,
    user_col: str = "user_id",
    ts_col: str = "ts",
    type_col: str = "event_type",
) -> DataFrame:
    """(user, t_<stage0>, t_<stage1>, …): earliest qualifying timestamp
    per stage, NULL once the funnel is abandoned. A user enters the
    funnel at their EARLIEST stage-0 event; stage i+1 qualifies if it
    lands in (t_i, t_i + window] — strictly after, the standard
    "caused by" reading. Only users who entered stage 0 appear."""
    if not stages:
        raise ValueError("stages must be non-empty")
    ts = F.col(ts_col)

    cur = (
        events.filter(F.col(type_col) == stages[0])
        .groupBy(user_col)
        .agg(F.min(ts_col).alias(f"t_{stages[0]}"))
    )
    for prev, stage in zip(stages, stages[1:]):
        nxt = (
            events.filter(F.col(type_col) == stage)
            .join(cur.select(user_col, f"t_{prev}"), user_col)
            .filter(
                (ts > F.col(f"t_{prev}"))
                & (
                    ts
                    <= F.col(f"t_{prev}")
                    + F.expr(f"INTERVAL {int(window_seconds)} SECOND")
                )
            )
            .groupBy(user_col)
            .agg(F.min(ts_col).alias(f"t_{stage}"))
        )
        cur = cur.join(nxt, user_col, "left")
    return cur


def retention_cohorts(
    events: DataFrame,
    user_col: str = "user_id",
    ts_col: str = "ts",
) -> DataFrame:
    """(cohort_week, week_offset, n_users): users bucketed by the ISO
    week of their first event, counted distinct in each week they were
    active. ``week_offset`` 0 is the cohort week itself (so row 0 is
    the cohort's size); offsets are exact multiples of 7 days /
    7 — engine-portable without week-epoch conventions."""
    week = F.date_trunc("week", F.col(ts_col))
    first = (
        events.groupBy(user_col)
        .agg(F.min(ts_col).alias("_first_ts"))
        .select(
            user_col,
            F.date_trunc("week", F.col("_first_ts")).alias("cohort_week"),
        )
    )
    active = events.select(user_col, week.alias("active_week")).distinct()
    return (
        active.join(first, user_col)
        .groupBy(
            "cohort_week",
            (F.datediff(F.col("active_week"), F.col("cohort_week")) / F.lit(7))
            .cast("bigint")
            .alias("week_offset"),
        )
        .agg(F.count_distinct(user_col).alias("n_users"))
    )


def top_event_paths(
    events: DataFrame,
    n: int = 3,
    k: int = 10,
    user_col: str = "user_id",
    type_col: str = "event_type",
    ts_col: str = "ts",
    tiebreak_col: str = "event_id",
) -> DataFrame:
    """Sequential pattern mining over per-user event streams: count
    every length-``n`` consecutive event-type sequence (path n-gram)
    across all users and return the ``k`` most frequent — the
    "common journeys" query behind funnel design (which 3-step paths
    actually happen, vs the one the funnel assumes).

    (path, n_occurrences) with path = types joined by '>'.

    Plan: ONE window shuffle on user_id (lead(1..n-1) share the same
    sort), one map-side-combined count on the path string, then
    TakeOrderedAndProject. Per-user ordering ties on ts are broken by
    the unique event id, so the mined paths are deterministic —
    engine-exact. Skew note: a hot user is one window partition, but
    the window state is O(n) rows (lead buffers), not the partition;
    the path-count shuffle keys are low-cardinality but combine
    map-side to one row per path per task."""
    from pyspark.sql import Window

    w = Window.partitionBy(user_col).orderBy(
        F.col(ts_col).asc(), F.col(tiebreak_col).asc()
    )
    steps = [F.col(type_col)] + [
        F.lead(type_col, i).over(w) for i in range(1, n)
    ]
    seq = events.select(*[s.alias(f"_e{i}") for i, s in enumerate(steps)])
    complete = seq
    for i in range(n):
        complete = complete.filter(F.col(f"_e{i}").isNotNull())
    path = F.concat_ws(">", *[F.col(f"_e{i}") for i in range(n)])
    return (
        complete.select(path.alias("path"))
        .groupBy("path")
        .agg(F.count(F.lit(1)).alias("n_occurrences"))
        .orderBy(F.col("n_occurrences").desc(), F.col("path").asc())
        .limit(k)
    )


def daily_count_anomalies(
    events: DataFrame,
    z_threshold: float = 2.0,
    type_col: str = "event_type",
    ts_col: str = "ts",
) -> DataFrame:
    """Volume anomaly detection: per event type, flag days whose event
    count deviates ≥ ``z_threshold`` standard deviations from that
    type's own daily mean — the monitoring query behind every ingest
    dashboard (traffic spikes, crawler outages, bot bursts).

    (event_type, day, n_events, z, is_anomaly), z UNROUNDED (r13, the
    no-final-round rule): every input is an exact-integer double, so
    the fixed ±,×,÷,√ expression is the identical IEEE double on both
    engines — the flag boundary compares on that exact value.

    Determinism: daily counts are integers, so Σx and Σx² are EXACT
    integer aggregates (order-free without any decimal machinery);
    mean and the sample variance (Σx² − (Σx)²/n)/(n−1) are then fixed
    scalar double expressions both engines evaluate identically —
    clamped at 0 before the sqrt (the subtraction can go epsilon-
    negative in doubles). Constant series (σ = 0) get z = 0, not a
    division blow-up.

    Plan: one grouped count (types × days rows), one tiny per-type
    stats aggregate broadcast back — two map-side-combined shuffles
    over low-cardinality keys; nothing scales with raw event volume
    beyond the first count."""
    daily = events.groupBy(
        F.col(type_col), F.date_trunc("day", F.col(ts_col)).alias("day")
    ).agg(F.count(F.lit(1)).alias("n_events"))
    stats = daily.groupBy(type_col).agg(
        F.count(F.lit(1)).alias("_n"),
        F.sum("n_events").alias("_s1"),
        F.sum(F.col("n_events") * F.col("n_events")).alias("_s2"),
    )
    joined = daily.join(F.broadcast(stats), type_col)
    n = F.col("_n").cast("double")
    mean = F.col("_s1").cast("double") / n
    var = F.greatest(
        (F.col("_s2").cast("double") - F.col("_s1").cast("double") * F.col("_s1").cast("double") / n)
        / (n - F.lit(1.0)),
        F.lit(0.0),
    )
    std = F.sqrt(var)
    z = F.when(std == 0, F.lit(0.0)).otherwise(
        (F.col("n_events").cast("double") - mean) / std
    )
    return joined.select(
        F.col(type_col),
        "day",
        "n_events",
        z.alias("z"),
        (F.abs(z) >= F.lit(z_threshold)).alias("is_anomaly"),
    )


def trending_items(
    events: DataFrame,
    item: F.Column,
    reference_ts: str,
    half_life_days: float = 7.0,
    k: int = 20,
    ts_col: str = "ts",
) -> DataFrame:
    """Exponentially time-decayed item counts — the "trending now"
    query: each occurrence contributes 0.5^(age/half_life), so an
    item's score is its recency-weighted frequency and yesterday's
    spike outranks last month's sustained volume. (item, score,
    n_raw) for the top ``k`` by decayed score.

    ``item`` is any Column (an id, a type, a JSON-extracted field) —
    the caller picks the trending dimension.

    Plan: map-only contribution per event + ONE map-side-combined
    grouped sum + TakeOrderedAndProject. Nothing rescans history to
    re-age scores: with score_t = score·0.5^(Δ/half_life), a stored
    score decays by pure multiplication at read time — the decayed
    counter is mergeable across partitions AND across time
    checkpoints (store fine-grained, roll up coarse, the sketch-store
    discipline).

    Determinism: the only transcendental is pow(0.5, age) on doubles
    derived from exact integer-second ages; each contribution is
    rounded into DECIMAL(18,9) before the (exact, order-free) sum —
    last-ulp pow wobble across engines vanishes at the 9th decimal
    (q98 policy), and the tie-break is the item itself. The score is
    that exact decimal sum cast to double, UNROUNDED (r13): the
    scaled sum stays far under 2^53 at suite scale, so the cast is
    engine-exact."""
    ref = F.lit(reference_ts).cast("timestamp").cast("long")
    age_days = (ref - F.col(ts_col).cast("long")).cast("double") / F.lit(86400.0)
    contrib = F.pow(F.lit(0.5), age_days / F.lit(float(half_life_days))).cast(
        "decimal(18,9)"
    )
    return (
        events.select(item.alias("item"), contrib.alias("_c"))
        .groupBy("item")
        .agg(
            F.sum("_c").cast("double").alias("score"),
            F.count(F.lit(1)).alias("n_raw"),
        )
        .orderBy(F.col("score").desc(), F.col("item").asc())
        .limit(k)
    )
