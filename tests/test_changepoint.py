"""Sequential control charts (operators/experiment.py): CUSUM
change-point detection via the prefix-sum identity and the EWMA
control chart via a per-row prefix fold. Each is pinned against a
pure-Python recursion (the textbook definition) on series with and
without a planted level shift; the q142 battery arms pin the
cross-engine replay."""

from __future__ import annotations

import math
import random

import pytest
from pyspark.sql import Row

from ironman_medallion_lakehouse_spark.operators.experiment import (
    cusum_changepoint,
    ewma_control,
    series_params,
)


def _series(spark, xs):
    return spark.createDataFrame(
        [Row(t=i + 1, x=float(x)) for i, x in enumerate(xs)]
    )


def _py_params(xs, n, k_sd=0.5, h_sd=4.0):
    base = xs[:n]
    mu = sum(base) / len(base)
    sxx = sum(x * x for x in base)
    sd = math.sqrt((sxx - sum(base) ** 2 / len(base)) / (len(base) - 1))
    return mu, sd, k_sd * sd, h_sd * sd


def _py_cusum(xs, mu, k, h):
    s, s_max, alarm = 0.0, 0.0, None
    for i, x in enumerate(xs, start=1):
        s = max(0.0, s + x - mu - k)
        s_max = max(s_max, s)
        if alarm is None and s > h:
            alarm = i
    return s_max, alarm


def _py_ewma(xs, mu, sd, lam=0.2, L=3.0):
    e, alarm = mu, None
    for i, x in enumerate(xs, start=1):
        e = lam * x + (1.0 - lam) * e
        lim = L * sd * math.sqrt(lam / (2.0 - lam) * (1.0 - (1.0 - lam) ** (2 * i)))
        if alarm is None and abs(e - mu) > lim:
            alarm = i
    return e, alarm


def _seeded(seed, n=40, shift_at=None, shift=0.0):
    rng = random.Random(seed)
    xs = [100.0 + rng.randint(-8, 8) for _ in range(n)]
    if shift_at is not None:
        xs = [x + (shift if i + 1 > shift_at else 0.0) for i, x in enumerate(xs)]
    return xs


@pytest.mark.parametrize("seed", [0, 1, 2])
@pytest.mark.parametrize("shift", [0.0, 25.0])
def test_cusum_matches_recursion(spark, seed, shift):
    xs = _seeded(seed, shift_at=25 if shift else None, shift=shift)
    sdf = _series(spark, xs)
    params = series_params(sdf, "t", "x", baseline_n=10)
    row = cusum_changepoint(sdf, "t", "x", params).collect()[0]
    mu, _, k, h = _py_params(xs, 10)
    s_max, alarm = _py_cusum(xs, mu, k, h)
    assert row.n_points == len(xs)
    assert row.s_max == pytest.approx(round(s_max, 6), abs=1e-6)
    assert row.alarm_t == alarm
    if shift:
        # a planted shift guarantees an alarm (possibly an earlier
        # false alarm on a noisy seed — chart semantics are FIRST alarm)
        assert alarm is not None


@pytest.mark.parametrize("seed", [0, 1, 2])
@pytest.mark.parametrize("shift", [0.0, 12.0])
def test_ewma_matches_recursion(spark, seed, shift):
    xs = _seeded(seed, shift_at=25 if shift else None, shift=shift)
    sdf = _series(spark, xs)
    params = series_params(sdf, "t", "x", baseline_n=10)
    row = ewma_control(sdf, "t", "x", params).collect()[0]
    mu, sd, _, _ = _py_params(xs, 10)
    e_last, alarm = _py_ewma(xs, mu, sd)
    assert row.n_points == len(xs)
    assert row.ewma_last == pytest.approx(round(e_last, 6), abs=1e-6)
    assert row.alarm_t == alarm
    if shift:
        assert alarm is not None


def test_ewma_catches_small_persistent_shift_cusum_scale(spark):
    """The textbook division of labor: a small persistent shift
    (~0.75 sd) trips EWMA while the 4-sd CUSUM decision interval
    stays quiet — the reason the battery carries both charts."""
    rng = random.Random(7)
    xs = [100.0 + rng.gauss(0.0, 4.0) for _ in range(30)]
    xs += [103.0 + rng.gauss(0.0, 4.0) for _ in range(60)]
    sdf = _series(spark, xs)
    params = series_params(sdf, "t", "x", baseline_n=30)
    ew = ewma_control(sdf, "t", "x", params).collect()[0]
    mu, sd, k, h = _py_params(xs, 30)
    assert ew.alarm_t is not None and ew.alarm_t > 30
    # python recursion agrees on both charts for this series
    s_max, cu_alarm = _py_cusum(xs, mu, k, h)
    cu = cusum_changepoint(sdf, "t", "x", params).collect()[0]
    assert cu.alarm_t == cu_alarm
    assert cu.s_max == pytest.approx(round(s_max, 6), abs=1e-6)


def test_single_point_and_empty_guards(spark):
    one = _series(spark, [5.0])
    params = spark.createDataFrame(
        [Row(mu=5.0, sd=1.0, k=0.5, h=4.0)]
    )
    row = cusum_changepoint(one, "t", "x", params).collect()[0]
    assert row.n_points == 1 and row.alarm_t is None and row.s_max == 0.0
    ew = ewma_control(one, "t", "x", params).collect()[0]
    assert ew.n_points == 1
    assert ew.ewma_last == pytest.approx(5.0)


def test_ewma_closed_form_plan_is_linear_and_fallback_guards(spark):
    """VERDICT r8 directive 5: the closed form's plan carries NO
    collect_list / per-prefix fold (O(T) shape), stays equal to the
    textbook recursion, and the overflow guard routes long-horizon /
    high-lambda charts to the range-safe fold (whose plan DOES fold)."""
    xs = _seeded(3, n=60, shift_at=30, shift=12.0)
    sdf = _series(spark, xs)
    params = series_params(sdf, "t", "x", baseline_n=10)
    out = ewma_control(sdf, "t", "x", params)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "collect_list" not in plan and "aggregate(" not in plan
    mu, sd, _, _ = _py_params(xs, 10)
    e_last, alarm = _py_ewma(xs, mu, sd)
    row = out.collect()[0]
    assert row.ewma_last == pytest.approx(round(e_last, 6), abs=1e-6)
    assert row.alarm_t == alarm

    # lam=0.999: d^-T overflows past T ~ 87; T=100 must take the fold
    # fallback and still match the recursion
    fb = ewma_control(
        _series(spark, _seeded(4, n=100)), "t", "x", params, lam=0.999
    )
    fb_plan = fb._jdf.queryExecution().executedPlan().toString()
    assert "collect_list" in fb_plan
    e_last2, alarm2 = _py_ewma(_seeded(4, n=100), mu, sd, lam=0.999)
    row2 = fb.collect()[0]
    assert row2.ewma_last == pytest.approx(round(e_last2, 6), abs=1e-6)
    assert row2.alarm_t == alarm2


def test_ewma_extreme_magnitude_raises_not_inf(spark):
    """A series of extreme magnitude overflows the closed form's
    d^(−j)·x terms below the length cap (T=400 at λ=0.2 selects the
    closed form); the chart must raise at evaluation time, never
    silently emit inf/NaN EWMA values."""
    from pyspark.errors import PySparkRuntimeError, SparkRuntimeException

    sdf = _series(spark, [1e300] * 400)
    params = spark.createDataFrame([(0.0, 1.0)], "mu double, sd double")
    out = ewma_control(sdf, "t", "x", params)
    with pytest.raises((PySparkRuntimeError, SparkRuntimeException, Exception)) as ei:
        out.collect()
    assert "overflow" in str(ei.value).lower()
