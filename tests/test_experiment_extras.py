"""r8 battery-fold operators (operators/experiment.py): Wasserstein-1
drift distance, Jensen-Shannon divergence, the A&S normal-CDF p-value
polynomial, Benjamini-Hochberg FDR adjustment, and the delta-method
ratio-metric z-test. Each is pinned against a pure-Python textbook
computation; the q142/q143 battery arms pin the cross-engine replay."""

from __future__ import annotations

import math
import random

import pytest
from pyspark.sql import Row

from ironman_medallion_lakehouse_spark.operators.experiment import (
    bh_adjust,
    binned_counts_from_value_counts,
    delta_method_ratio_test,
    js_from_bin_counts,
    normal_p_two_sided,
    normal_p_two_sided_sql,
    per_value_counts,
    wasserstein_from_value_counts,
)


def _two_sample_df(spark, xs_a, xs_b):
    rows = [Row(g="a", v=float(x)) for x in xs_a] + [
        Row(g="b", v=float(x)) for x in xs_b
    ]
    return spark.createDataFrame(rows)


def _py_wasserstein(xs_a, xs_b):
    """Textbook 1-D W1: integrate |F_a - F_b| over the sorted union."""
    vs = sorted(set(xs_a) | set(xs_b))
    na, nb = len(xs_a), len(xs_b)
    total, ca, cb = 0.0, 0, 0
    for v, nv in zip(vs, vs[1:]):
        ca += sum(1 for x in xs_a if x == v)
        cb += sum(1 for x in xs_b if x == v)
        total += abs(ca / na - cb / nb) * (nv - v)
    return total


class TestWasserstein:
    def test_matches_pure_python(self, spark):
        rng = random.Random(7)
        xs_a = [round(rng.uniform(0, 50), 2) for _ in range(200)]
        xs_b = [round(rng.uniform(10, 70), 2) for _ in range(150)]
        df = _two_sample_df(spark, xs_a, xs_b)
        pv = per_value_counts(df, "v", "g", "a", "b")
        row = wasserstein_from_value_counts(pv).collect()[0]
        assert row["n_a"] == 200 and row["n_b"] == 150
        assert row["w1"] == pytest.approx(_py_wasserstein(xs_a, xs_b), abs=1e-5)

    def test_pure_shift_reads_the_shift(self, spark):
        # equal-sized samples differing by a constant shift: W1 == shift
        xs = [float(i) for i in range(100)]
        df = _two_sample_df(spark, xs, [x + 7.5 for x in xs])
        pv = per_value_counts(df, "v", "g", "a", "b")
        assert wasserstein_from_value_counts(pv).collect()[0]["w1"] == pytest.approx(
            7.5, abs=1e-6
        )

    def test_identical_distributions_zero(self, spark):
        xs = [1.0, 2.0, 2.0, 5.0]
        pv = per_value_counts(_two_sample_df(spark, xs, xs), "v", "g", "a", "b")
        assert wasserstein_from_value_counts(pv).collect()[0]["w1"] == 0.0

    def test_single_point_mass(self, spark):
        pv = per_value_counts(
            _two_sample_df(spark, [3.0, 3.0], [3.0]), "v", "g", "a", "b"
        )
        row = wasserstein_from_value_counts(pv).collect()[0]
        assert row["w1"] == 0.0 and row["n_a"] == 2 and row["n_b"] == 1


def _py_js(xs_a, xs_b, edges):
    nb = len(edges) + 1

    def counts(xs):
        c = [0] * nb
        for x in xs:
            c[sum(1 for e in edges if x >= e)] += 1
        return c

    ca, cb = counts(xs_a), counts(xs_b)
    na, nbn = len(xs_a), len(xs_b)
    js = 0.0
    for i in range(nb):
        p = (ca[i] + 0.5) / (na + 0.5 * nb)
        q = (cb[i] + 0.5) / (nbn + 0.5 * nb)
        m = (p + q) / 2
        js += 0.5 * p * math.log(p / m) + 0.5 * q * math.log(q / m)
    return js


def _js_divergence(df, value_col, group_col, group_a, group_b, edges):
    """Binned JS as the q142 battery computes it: per-value counts,
    binned into exact per-bin counts, then the JS finisher."""
    pv = per_value_counts(df, value_col, group_col, group_a, group_b)
    per_bin = binned_counts_from_value_counts(pv, edges)
    return js_from_bin_counts(per_bin, len(edges) + 1)


class TestJsDivergence:
    EDGES = [10.0, 20.0, 40.0]

    def test_matches_pure_python(self, spark):
        rng = random.Random(11)
        xs_a = [rng.uniform(0, 60) for _ in range(300)]
        xs_b = [rng.uniform(15, 80) for _ in range(250)]
        df = _two_sample_df(spark, xs_a, xs_b)
        row = _js_divergence(df, "v", "g", "a", "b", self.EDGES).collect()[0]
        assert row["js"] == pytest.approx(_py_js(xs_a, xs_b, self.EDGES), abs=1e-5)

    def test_symmetric_and_bounded(self, spark):
        xs_a = [1.0] * 50
        xs_b = [50.0] * 50  # fully separated: JS near its ln 2 ceiling
        df = _two_sample_df(spark, xs_a, xs_b)
        ab = _js_divergence(df, "v", "g", "a", "b", self.EDGES).collect()[0]
        ba = _js_divergence(df, "v", "g", "b", "a", self.EDGES).collect()[0]
        assert ab["js"] == ba["js"]
        assert 0.6 < ab["js"] <= math.log(2) + 1e-9

    def test_identical_zero(self, spark):
        xs = [5.0, 15.0, 25.0, 45.0]
        row = _js_divergence(
            _two_sample_df(spark, xs, xs), "v", "g", "a", "b", self.EDGES
        ).collect()[0]
        assert row["js"] == 0.0

    def test_empty_bin_stays_finite_where_psi_spikes(self, spark):
        # all of b's mass in one bin: JS stays ≤ ln 2; no inf/NaN
        df = _two_sample_df(spark, [5.0, 15.0, 25.0, 45.0], [45.0] * 40)
        row = _js_divergence(df, "v", "g", "a", "b", self.EDGES).collect()[0]
        assert row["js"] is not None and row["js"] <= math.log(2) + 1e-9


class TestNormalP:
    def test_against_erfc(self, spark):
        zs = [0.0, 0.1, 0.5, 1.0, 1.644854, 1.959964, 2.575829, 3.5, -2.0, 11.2]
        df = spark.createDataFrame([Row(z=float(z)) for z in zs])
        got = {
            r["z"]: r["p"]
            for r in df.select("z", normal_p_two_sided("z").alias("p")).collect()
        }
        for z in zs:
            exact = math.erfc(abs(z) / math.sqrt(2))
            assert got[z] == pytest.approx(exact, abs=2e-7), z

    def test_sql_mirror_matches_column(self, spark):
        # the generated SQL replays the identical expression in Spark SQL
        df = spark.createDataFrame([Row(z=float(z)) for z in (0.3, 1.7, 2.9)])
        df.createOrReplaceTempView("zt")
        sql = spark.sql(
            f"SELECT z, {normal_p_two_sided_sql('z')} AS p FROM zt"
        ).collect()
        col = df.select("z", normal_p_two_sided("z").alias("p")).collect()
        assert {r["z"]: r["p"] for r in sql} == {r["z"]: r["p"] for r in col}


def _py_bh(ps):
    """Textbook BH step-up: p_adj_(i) = min_{j>=i}(p_(j)*m/j), clamped."""
    m = len(ps)
    order = sorted(range(m), key=lambda i: ps[i])
    adj = [0.0] * m
    running = float("inf")
    for pos in range(m - 1, -1, -1):
        i = order[pos]
        running = min(running, ps[i] * m / (pos + 1))
        adj[i] = min(1.0, running)
    return adj


class TestBhAdjust:
    def test_matches_pure_python(self, spark):
        ps = [0.01, 0.04, 0.03, 0.2, 0.9, 0.004]
        rows = [Row(test=f"t{i}", p_value=p) for i, p in enumerate(ps)]
        out = {
            r["test"]: (r["p_adj"], r["bh_reject"])
            for r in bh_adjust(spark.createDataFrame(rows)).collect()
        }
        expect = _py_bh(ps)
        for i, p in enumerate(ps):
            assert out[f"t{i}"][0] == pytest.approx(expect[i], abs=1e-6)
            assert out[f"t{i}"][1] == (expect[i] <= 0.05)

    def test_null_p_passes_through_and_not_counted(self, spark):
        rows = [
            Row(test="a", p_value=0.01),
            Row(test="b", p_value=None),
            Row(test="c", p_value=0.03),
        ]
        out = {r["test"]: r for r in bh_adjust(spark.createDataFrame(rows)).collect()}
        assert out["b"]["p_adj"] is None and out["b"]["bh_reject"] is None
        # m = 2 (the non-null rows): a: min(0.01*2/1, 0.03*2/2)=0.02
        assert out["a"]["p_adj"] == pytest.approx(0.02, abs=1e-9)
        assert out["c"]["p_adj"] == pytest.approx(0.03, abs=1e-9)

    def test_monotone_in_p(self, spark):
        rng = random.Random(3)
        ps = sorted(rng.random() for _ in range(9))
        rows = [Row(test=f"t{i}", p_value=p) for i, p in enumerate(ps)]
        out = bh_adjust(spark.createDataFrame(rows)).collect()
        by_p = sorted(out, key=lambda r: r["p_value"])
        adjs = [r["p_adj"] for r in by_p]
        assert adjs == sorted(adjs)  # step-up adjustment is monotone


def _py_delta_ratio(units_a, units_b, ci_z=1.959964):
    def side(units):
        n = len(units)
        su = sum(u for u, _ in units)
        sw = sum(w for _, w in units)
        mu, mw = su / n, sw / n
        vu = (sum(u * u for u, _ in units) - n * mu * mu) / (n - 1)
        vw = (sum(w * w for _, w in units) - n * mw * mw) / (n - 1)
        cuw = (sum(u * w for u, w in units) - n * mu * mw) / (n - 1)
        r = su / sw
        vr = (vu + r * r * vw - 2 * r * cuw) / (n * mw * mw)
        return r, vr

    ra, vra = side(units_a)
    rb, vrb = side(units_b)
    se = math.sqrt(vra + vrb)
    return ra, rb, (ra - rb) / se, (ra - rb - ci_z * se, ra - rb + ci_z * se)


def _ratio_df(spark, units_a, units_b):
    rows = [Row(g="a", u=float(u), w=float(w)) for u, w in units_a] + [
        Row(g="b", u=float(u), w=float(w)) for u, w in units_b
    ]
    return spark.createDataFrame(rows)


class TestDeltaRatio:
    def test_matches_pure_python(self, spark):
        rng = random.Random(5)
        ua = [(round(rng.uniform(0, 90), 2), float(rng.randint(0, 3))) for _ in range(120)]
        ub = [(round(rng.uniform(5, 110), 2), float(rng.randint(0, 3))) for _ in range(140)]
        row = delta_method_ratio_test(
            _ratio_df(spark, ua, ub), "u", "w", "g", "a", "b"
        ).collect()[0]
        ra, rb, z, (lo, hi) = _py_delta_ratio(ua, ub)
        assert row["n_a"] == 120 and row["n_b"] == 140
        assert row["ratio_a"] == pytest.approx(ra, abs=1e-6)
        assert row["ratio_b"] == pytest.approx(rb, abs=1e-6)
        assert row["z_stat"] == pytest.approx(z, abs=1e-5)
        assert row["ci_lo"] == pytest.approx(lo, abs=1e-5)
        assert row["ci_hi"] == pytest.approx(hi, abs=1e-5)

    def test_planted_effect_direction(self, spark):
        # b's numerators scaled up 1.5×: ratio_b > ratio_a, z decisively < 0
        rng = random.Random(9)
        base = [(round(rng.uniform(10, 20), 2), 1.0 + (i % 2)) for i in range(200)]
        ub = [(round(u * 1.5, 2), w) for u, w in base]
        row = delta_method_ratio_test(
            _ratio_df(spark, base, ub), "u", "w", "g", "a", "b"
        ).collect()[0]
        assert row["ratio_b"] > row["ratio_a"]
        assert row["z_stat"] < -5
        assert row["ci_hi"] < 0  # CI on the diff excludes zero

    def test_null_regime_ci_covers_zero(self, spark):
        rng = random.Random(13)
        ua = [(round(rng.uniform(10, 20), 2), 1.0 + (i % 3 == 0)) for i in range(400)]
        ub = [(round(rng.uniform(10, 20), 2), 1.0 + (i % 3 == 0)) for i in range(400)]
        row = delta_method_ratio_test(
            _ratio_df(spark, ua, ub), "u", "w", "g", "a", "b"
        ).collect()[0]
        assert row["ci_lo"] < 0 < row["ci_hi"]

    def test_degenerate_guard(self, spark):
        # single unit per side: stat/CI NULL, ratios still reported
        row = delta_method_ratio_test(
            _ratio_df(spark, [(4.0, 2.0)], [(3.0, 1.0)]), "u", "w", "g", "a", "b"
        ).collect()[0]
        assert row["ratio_a"] == 2.0 and row["ratio_b"] == 3.0
        assert row["z_stat"] is None and row["ci_lo"] is None
