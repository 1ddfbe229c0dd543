"""Time-series regularization — calendar spines and gap filling.

Beyond-reference extension (BASELINE.json north star: the reporting
layer over event data). Aggregated event data is sparse in time —
days with no qualifying events simply produce no row — but dashboards,
forecasting inputs, and window features need a REGULAR series: one row
per calendar period, gaps made explicit, carry-forward semantics where
the metric is a level (inventory, price, last-known score) rather than
a flow.

``daily_spine_locf`` builds the dense calendar with a ``sequence()``
explode (map-only — the spine costs nothing against a 100 TB fact),
left-joins the sparse daily frame, flags synthesized rows, and fills
level metrics with last-observation-carried-forward via
``last(ignorenulls)`` over an ordered window — one sort of the
horizon-sized spine that Catalyst shares across every filled column.
Rows before the first observation stay NULL (there is nothing to
carry); flows (counts, sums) are zero-filled instead of carried, which
is the semantically correct default for additive metrics.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def daily_spine_locf(
    daily: DataFrame,
    start: str,
    end: str,
    day_col: str = "day",
    carry_cols: list[str] | None = None,
    zero_cols: list[str] | None = None,
) -> DataFrame:
    """Dense daily series over [start, end] (inclusive, day-truncated
    timestamps): one row per day, ``was_missing`` marking
    synthesized rows, ``zero_cols`` zero-filled (flows) and
    ``carry_cols`` LOCF-filled (levels; NULL before the first
    observation). ``start``/``end`` are explicit literals — deriving
    them from the data would make the output shape depend on which
    rows happen to exist, the opposite of a reporting spine."""
    carry_cols = carry_cols or []
    zero_cols = zero_cols or []
    spark = daily.sparkSession
    spine = spark.range(1).select(
        F.explode(
            F.sequence(
                F.lit(start).cast("timestamp"),
                F.lit(end).cast("timestamp"),
                F.expr("INTERVAL 1 DAY"),
            )
        ).alias(day_col)
    )
    joined = spine.join(daily, [day_col], "left")
    missing = F.col(carry_cols[0]).isNull() if carry_cols else F.lit(False)
    if zero_cols:
        missing = F.col(zero_cols[0]).isNull()
    # bounded-serial: one row per day of the spine
    w = Window.orderBy(day_col).rowsBetween(Window.unboundedPreceding, Window.currentRow)
    out = joined.withColumn("was_missing", missing)
    for c in zero_cols:
        out = out.withColumn(c, F.coalesce(F.col(c), F.lit(0)))
    for c in carry_cols:
        out = out.withColumn(c, F.last(c, ignorenulls=True).over(w))
    return out


def time_weighted_average(
    df: DataFrame,
    value_col: str,
    end_ts: str,
    group_cols: list[str],
    ts_col: str = "ts",
    tiebreak_col: str = "event_id",
) -> DataFrame:
    """Time-weighted average (TWAP) per group: each observation's
    value holds until the NEXT observation (or the window end), and
    the average weights by that holding duration — the correct mean
    for sampled LEVELS (price, queue depth, sensor reading), where
    the arithmetic mean over-weights bursts of samples.

    (groups..., n_obs, twap), twap = Σ v·dur / Σ dur UNROUNDED (r13,
    the no-final-round rule — both sums are exact decimals/integers
    whose scaled magnitude fits the double mantissa, so the one IEEE
    divide is engine-exact); groups whose observations all sit
    at/after ``end_ts`` (total duration 0) emit NULL.

    Holding intervals are CLAMPED to the window end on both sides:
    dur = max(min(next, end) − min(ts, end), 0), so an observation
    whose successor falls after ``end_ts`` is weighted only up to the
    window end, never by time outside [.., end] (ADVICE r5 — the
    unclamped lead extended straddling intervals past the stated
    close-out).

    Plan: one lead window per group (unique-tiebreak ordering), one
    grouped aggregate — both shuffles on the same group key, so
    Catalyst shares the partitioning. Determinism: durations are
    exact integer seconds, values enter as DECIMAL(18,4), so Σ v·dur
    is an exact decimal sum — engine- and partition-exact."""
    w = Window.partitionBy(*group_cols).orderBy(
        F.col(ts_col).asc(), F.col(tiebreak_col).asc()
    )
    end = F.lit(end_ts).cast("timestamp").cast("long")
    t = F.col(ts_col).cast("long")
    nxt = F.coalesce(F.lead(t, 1).over(w), end)
    dur = F.greatest(F.least(nxt, end) - F.least(t, end), F.lit(0))
    v = F.col(value_col).cast("decimal(18,4)")
    per = df.select(
        *group_cols,
        (v * dur).alias("_vw"),
        dur.alias("_w"),
    )
    return per.groupBy(*group_cols).agg(
        F.count(F.lit(1)).alias("n_obs"),
        F.when(F.sum("_w") == 0, F.lit(None))
        .otherwise(
            F.sum("_vw").cast("double") / F.sum("_w").cast("double")
        )
        .alias("twap"),
    )
