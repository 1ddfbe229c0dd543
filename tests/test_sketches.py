"""HLL sketch operators: estimates within the sketch's error bound,
and rollups by sketch UNION agree with sketches built from raw data."""

from __future__ import annotations

from pyspark.sql import functions as F

from ironman_medallion_lakehouse_spark.operators.sketches import (
    distinct_sketches,
    quantile_sketches,
    rollup_distinct,
    rollup_quantiles,
    rollup_theta,
    theta_sketches,
)


def _events(spark):
    # 4 days × 3 countries, overlapping user populations
    return (
        spark.range(0, 20000)
        .withColumn("day", (F.col("id") % 4).cast("int"))
        .withColumn("country", (F.col("id") % 3).cast("int"))
        .withColumn("user_id", (F.col("id") * 7919) % 5000)
    )


def test_estimates_within_error_bound(spark):
    df = _events(spark)
    sk = distinct_sketches(df, ["day", "country"], "user_id")
    est = {
        (r.day, r.country): r.approx_distinct
        for r in rollup_distinct(sk, ["day", "country"]).collect()
    }
    exact = {
        (r.day, r.country): r.n
        for r in df.groupBy("day", "country")
        .agg(F.countDistinct("user_id").alias("n"))
        .collect()
    }
    assert set(est) == set(exact)
    for key, n in exact.items():
        assert abs(est[key] - n) <= max(0.05 * n, 2.0), key


def test_rollup_by_union_matches_direct_sketch(spark):
    """Merging fine-grained sketches must agree with sketching the raw
    data at the coarse grain — union preserves the error bound (mode
    transitions allow a small epsilon, but no error compounding)."""
    df = _events(spark)
    fine = distinct_sketches(df, ["day", "country"], "user_id")
    via_union = {
        r.day: r.approx_distinct for r in rollup_distinct(fine, ["day"]).collect()
    }
    direct = {
        r.day: r.approx_distinct
        for r in rollup_distinct(
            distinct_sketches(df, ["day"], "user_id"), ["day"]
        ).collect()
    }
    assert set(via_union) == set(direct)
    for day, d in direct.items():
        assert abs(via_union[day] - d) <= 0.03 * d, day
    # global rollup (empty grouping) also within bound of the exact count
    total = rollup_distinct(fine, []).collect()[0].approx_distinct
    exact_total = df.select(F.countDistinct("user_id")).collect()[0][0]
    assert abs(total - exact_total) <= 0.05 * exact_total


def test_kll_quantile_rollup_tracks_exact_quantiles(spark):
    """KLL sketches stored at (day, country) answer per-day quantiles
    by merge; estimates stay within the sketch's rank-error bound of
    exact percentiles. Values are skewed (id^1.3) so the median isn't
    trivially the midpoint."""
    df = _events(spark).withColumn(
        "latency", F.pow(F.col("id") % 1000, F.lit(1.3))
    )
    fine = quantile_sketches(df, ["day", "country"], "latency")
    rolled = {
        r.day: (r.q_0_5, r.q_0_99)
        for r in rollup_quantiles(fine, ["day"], [0.5, 0.99]).collect()
    }
    exact = {
        r.day: (r.p50, r.p99)
        for r in df.groupBy("day")
        .agg(
            F.expr("percentile(latency, 0.5)").alias("p50"),
            F.expr("percentile(latency, 0.99)").alias("p99"),
        )
        .collect()
    }
    # rank error ~1.7% at k=200 → compare by rank: the estimated
    # quantile's exact rank must be within 3% of the requested rank
    for day in exact:
        vals = sorted(
            r.latency for r in df.filter(F.col("day") == day).collect()
        )
        for est, prob in ((rolled[day][0], 0.5), (rolled[day][1], 0.99)):
            rank = sum(v <= est for v in vals) / len(vals)
            assert abs(rank - prob) <= 0.03, (day, prob, rank)
    # single-sketch coarse group (rollup at the fine grain itself)
    same_grain = rollup_quantiles(fine, ["day", "country"], [0.5])
    assert same_grain.count() == 12


def test_theta_union_and_intersection_rollups(spark):
    """Theta union matches countDistinct within bound; intersection
    over day-sketches estimates the users active on EVERY day."""
    df = _events(spark)
    fine = theta_sketches(df, ["day"], "user_id")
    union_est = rollup_theta(fine, [], "union").collect()[0].approx_distinct
    exact_union = df.select(F.countDistinct("user_id")).collect()[0][0]
    assert abs(union_est - exact_union) <= 0.05 * exact_union

    inter_est = (
        rollup_theta(fine, [], "intersection").collect()[0].approx_distinct
    )
    days = df.select("day").distinct().count()
    per_day = [
        {r.user_id for r in df.filter(F.col("day") == d).select("user_id").distinct().collect()}
        for d in range(days)
    ]
    exact_inter = len(set.intersection(*per_day))
    assert abs(inter_est - exact_inter) <= max(0.06 * exact_inter, 3.0)


def test_cms_estimate_dominates_and_bounds_error(spark):
    """CMS point queries: est >= exact always; error bounded by the
    corpus size over the width (collision overflow only)."""
    from pyspark.sql import Row

    from ironman_medallion_lakehouse_spark.operators import sketches as SK

    rows = []
    for i in range(200):
        rows.append(Row(grp="a" if i % 2 else "b", item=f"tok{i % 17}"))
    rows += [Row(grp="a", item="hot")] * 300
    df = spark.createDataFrame(rows)
    fine = SK.cms_sketch(df, ["grp"], "item")
    glob = SK.cms_rollup(fine, [])
    est = {r.item: r.est_count for r in SK.cms_estimate(glob, ["hot", "tok3", "absent"]).collect()}
    exact = {"hot": 300, "tok3": 200 // 17 + (1 if 3 < 200 % 17 else 0), "absent": 0}
    n_total = 500
    for item, ex in exact.items():
        assert est[item] >= ex, (item, est[item], ex)
        assert est[item] <= ex + (4 * n_total) // 256 + 1, (item, est[item], ex)


def test_cms_rollup_equals_direct_build(spark):
    """Merged counters must equal a direct global build — the
    mergeability property that makes store-fine/answer-coarse exact
    sketch algebra."""
    from pyspark.sql import Row

    from ironman_medallion_lakehouse_spark.operators import sketches as SK

    df = spark.createDataFrame(
        [Row(grp=f"g{i % 3}", item=f"w{i % 11}") for i in range(120)]
    )
    via_rollup = {
        (r.depth, r.cell): r.cnt
        for r in SK.cms_rollup(SK.cms_sketch(df, ["grp"], "item"), []).collect()
    }
    direct = {
        (r.depth, r.cell): r.cnt
        for r in SK.cms_sketch(df.withColumn("_g", F.lit(1)), ["_g"], "item")
        .drop("_g")
        .collect()
    }
    assert via_rollup == direct


def test_bloom_no_false_negatives_and_rollup_merge(spark):
    """Every inserted item must probe true in its group (no false
    negatives — the bloom guarantee); OR-ing the per-group word masks
    must equal a direct build on the union (the sketch is mergeable);
    and output is deterministic under repartitioning (order-independent
    bit math)."""
    from pyspark.sql import Row

    from ironman_medallion_lakehouse_spark.operators import sketches as SK

    df = spark.createDataFrame(
        [Row(grp="x", item=f"doc-{i}") for i in range(40)]
        + [Row(grp="y", item=f"other-{i}") for i in range(40)]
    )
    sk = SK.bloom_sketch(df, ["grp"], "item")
    probes = df.select("item").distinct()
    got = {
        (r.grp, r.item): r.maybe_present
        for r in SK.bloom_might_contain(sk, probes, ["grp"]).collect()
    }
    for i in range(40):
        assert got[("x", f"doc-{i}")] is True  # no false negatives
        assert got[("y", f"other-{i}")] is True

    # rollup == direct build on the union, word for word
    rolled = {
        (r.word, r.mask)
        for r in sk.groupBy("word").agg(F.bit_or("mask").alias("mask")).collect()
    }
    direct = {
        (r.word, r.mask)
        for r in SK.bloom_sketch(df.repartition(7), [], "item").collect()
    }
    assert rolled == direct


def test_bloom_definite_absence(spark):
    """With a sparse filter, items far from the inserted set must read
    absent — and a 'maybe' verdict never flips across rebuilds."""
    from pyspark.sql import Row

    from ironman_medallion_lakehouse_spark.operators import sketches as SK

    df = spark.createDataFrame([Row(grp="g", item=f"present-{i}") for i in range(5)])
    sk = SK.bloom_sketch(df, ["grp"], "item")
    probes = spark.createDataFrame(
        [Row(item=f"absent-{i}") for i in range(20)]
    )
    rows = SK.bloom_might_contain(sk, probes, ["grp"]).collect()
    # 5 items * 3 bits in 4096 -> false-positive odds ~(15/4096)^3 per
    # probe; all 20 absent probes must read false
    assert all(r.maybe_present is False for r in rows)


# ------------------------------------------------- bloom-pruned join

def test_bloom_join_equals_plain_join(spark):
    """Pre-filtering is semantics-free: output ≡ plain inner join,
    keys absent from the small side never appear."""
    from pyspark.sql import Row

    from ironman_medallion_lakehouse_spark.operators.sketches import (
        bloom_filtered_join,
    )

    big = spark.createDataFrame(
        [Row(k=i % 200, payload=i) for i in range(2000)]
    )
    small = spark.createDataFrame(
        [Row(sk=3, name="a"), Row(sk=77, name="b"), Row(sk=150, name="c")]
    )
    got = sorted(
        (r.k, r.payload, r.name)
        for r in bloom_filtered_join(big, small, "k", "sk").collect()
    )
    want = sorted(
        (r.k, r.payload, r.name)
        for r in big.join(small, big["k"] == small["sk"]).collect()
    )
    assert got == want
    assert len(got) == 30  # 3 keys x 10 rows each


def test_bloom_join_filter_sits_before_join(spark):
    """The membership predicate must be a map-side Filter on the big
    side (md5 position math in the plan), not a post-join filter."""
    from pyspark.sql import Row

    from ironman_medallion_lakehouse_spark.operators.sketches import (
        bloom_filtered_join,
    )

    big = spark.createDataFrame([Row(k=i, payload=i) for i in range(100)])
    small = spark.createDataFrame([Row(sk=5, name="x")])
    plan = bloom_filtered_join(big, small, "k", "sk")._jdf.queryExecution().optimizedPlan().toString()
    join_pos = plan.index("Join")
    assert "md5" in plan
    assert plan.index("md5") > join_pos  # big side is a child of the join


def test_pairwise_overlap_hand_computed(spark):
    """A={x,y,z}, B={y,z,w}, C={q}: AB inter=2 union=4 J=0.5; AC/BC
    inter=0. Zero-overlap pairs still appear (size cross join), and the
    exact-mode theta arm agrees on every pair."""
    from ironman_medallion_lakehouse_spark.operators.sketches import pairwise_overlap

    rows = [("A", i) for i in "xyz"] + [("B", i) for i in "yzw"] + [("C", "q")]
    df = spark.createDataFrame(rows, "g string, i string")
    out = {(r.src_a, r.src_b): r for r in pairwise_overlap(df, "g", "i").collect()}
    assert set(out) == {("A", "B"), ("A", "C"), ("B", "C")}
    ab = out[("A", "B")]
    assert (ab.n_a, ab.n_b, ab.n_inter, ab.union_size, ab.jaccard) == (3, 3, 2, 4, 0.5)
    assert all(r.theta_within_tol for r in out.values())
    assert out[("A", "C")].n_inter == 0


def test_pairwise_overlap_duplicate_items_count_once(spark):
    from ironman_medallion_lakehouse_spark.operators.sketches import pairwise_overlap

    rows = [("A", "x")] * 5 + [("B", "x")] * 3 + [("B", "y")]
    df = spark.createDataFrame(rows, "g string, i string")
    r = pairwise_overlap(df, "g", "i").collect()[0]
    assert (r.n_a, r.n_b, r.n_inter) == (1, 2, 1)
