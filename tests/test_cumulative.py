"""partitioned_running_sum: the two-pass range-partitioned cumulative
sum must be value-identical to the naive single-partition window for
any data, and its plan must not funnel the DATA through one task
(VERDICT r6 item 4)."""

from __future__ import annotations

import random
from decimal import Decimal

import pytest
from pyspark.sql import Row, Window
from pyspark.sql import functions as F

from ironman_medallion_lakehouse_spark.operators.cumulative import (
    partitioned_running_sum,
)
from tests.plan_text import formatted_plan


def _naive(df, order_by, value_col, out_col):
    # bounded-serial: test-only reference implementation
    w = Window.orderBy(*order_by).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    return df.withColumn(out_col, F.sum(value_col).over(w))


def _rows(n, seed, negatives=True):
    rng = random.Random(seed)
    lo = -500 if negatives else 0
    return [
        Row(k=i, v=Decimal(rng.randint(lo, 1000)) / 100)
        for i in rng.sample(range(10 * n), n)
    ]


@pytest.mark.parametrize("num_partitions", [1, 3, 8, 64])
def test_matches_naive_window(spark, num_partitions):
    df = spark.createDataFrame(_rows(500, seed=num_partitions)).withColumn(
        "v", F.col("v").cast("decimal(18,4)")
    )
    order = [F.col("v").desc(), F.col("k").asc()]
    got = partitioned_running_sum(
        df, order, "v", "cum", num_partitions=num_partitions
    )
    want = _naive(df, order, "v", "cum")
    key = lambda r: (r.k, str(r.cum))
    assert sorted(map(key, got.collect())) == sorted(map(key, want.collect()))


def test_total_col_and_empty_and_single_row(spark):
    df = spark.createDataFrame(_rows(7, seed=1)).withColumn(
        "v", F.col("v").cast("decimal(18,4)")
    )
    out = partitioned_running_sum(
        df, [F.col("k").asc()], "v", "cum", num_partitions=3, total_col="t"
    ).collect()
    grand = sum((r.v for r in df.collect()), Decimal(0))
    assert all(r.t == grand for r in out)
    last = max(out, key=lambda r: r.k)
    assert last.cum == grand

    one = partitioned_running_sum(
        df.limit(1), [F.col("k").asc()], "v", "cum", num_partitions=3
    ).collect()
    assert len(one) == 1 and one[0].cum == one[0].v

    empty = partitioned_running_sum(
        df.filter(F.lit(False)), [F.col("k").asc()], "v", "cum", num_partitions=3
    )
    assert empty.count() == 0


def test_skewed_duplicate_keys_deterministic(spark):
    """Ties on the ordering value: a total order via the tiebreaker
    keeps results deterministic even when the range partitioner splits
    a tie-run across partitions."""
    rows = [Row(k=i, v=Decimal(1)) for i in range(200)]
    df = spark.createDataFrame(rows).withColumn("v", F.col("v").cast("decimal(18,4)"))
    order = [F.col("v").desc(), F.col("k").asc()]
    got = partitioned_running_sum(df, order, "v", "cum", num_partitions=8).collect()
    assert sorted((r.k, int(r.cum)) for r in got) == [(i, i + 1) for i in range(200)]


def test_q125_plan_has_no_data_sized_serial_section(spark):
    """q125's plan: the only SinglePartition exchange feeds the
    one-row-per-partition offsets frame; the data path goes through
    rangepartitioning + pid-hash windows. AQE reuses the range exchange
    at runtime so the scan/aggregate pipeline executes once."""
    from ironman_medallion_lakehouse_spark import suite

    df = suite.queries()["q125_abc_analysis"](spark, "/root/testdata/sf0.001")
    plan = formatted_plan(df)
    assert plan.count("SinglePartition") == 1
    assert "rangepartitioning" in plan
    df.collect()
    executed = df._jdf.queryExecution().executedPlan().toString()
    assert "ReusedExchange" in executed


def test_property_matches_pure_python_reference(spark):
    """Property (hypothesis): for arbitrary decimal values (incl.
    negatives and heavy ties) and arbitrary partition counts, the
    range-partitioned running sum equals an independent pure-Python
    prefix sum over the same total order."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    @settings(max_examples=6, deadline=None)
    @given(
        st.lists(
            st.tuples(st.integers(0, 10_000), st.integers(-500, 500)),
            min_size=1,
            max_size=60,
            unique_by=lambda t: t[0],
        ),
        st.sampled_from([1, 2, 5, 16]),
    )
    def prop(rows, nparts):
        df = spark.createDataFrame(
            [Row(k=k, v=Decimal(v) / 10) for k, v in rows]
        ).withColumn("v", F.col("v").cast("decimal(18,4)"))
        got = {
            r.k: r.cum
            for r in partitioned_running_sum(
                df, [F.col("v").desc(), F.col("k").asc()], "v", "cum",
                num_partitions=nparts,
            ).collect()
        }
        ordered = sorted(rows, key=lambda t: (-t[1], t[0]))
        acc = Decimal(0)
        for k, v in ordered:
            acc += Decimal(v) / 10
            assert got[k] == acc

    prop()
