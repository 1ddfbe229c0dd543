"""Quality expectations: fused single-pass checks and quarantine
routing."""

from __future__ import annotations

from pyspark.sql import Row
from pyspark.sql import functions as F

from ironman_medallion_lakehouse_spark.operators.quality import (
    Expectation,
    check,
    quarantine,
)
from tests.plan_text import formatted_plan


def _df(spark):
    return spark.createDataFrame(
        [
            Row(k="a", age=30, status="Finisher"),
            Row(k="b", age=None, status="DNF"),
            Row(k="c", age=250, status="Finisher"),
            Row(k="c", age=40, status="WAT"),
        ]
    )


def _expectations():
    # built lazily: Column construction needs an active Spark JVM
    return [
        Expectation.non_null("age"),
        Expectation.satisfies("age_in_range", F.col("age").between(0, 120)),
        Expectation.in_set("status", ["Finisher", "DNF", "DNS", "DQ"]),
        Expectation.satisfies("k_lowercase", F.col("k").rlike(r"^[a-z]+$")),
    ]


def test_check_counts(spark):
    report = check(_df(spark), _expectations())
    assert report.total_rows == 4
    assert report.violations["non_null(age)"] == 1
    assert report.violations["age_in_range"] == 1  # a NULL age is no violation
    assert report.violations["in_set(status)"] == 1
    assert report.violations["k_lowercase"] == 0
    assert not report.passed


def test_check_is_single_pass(spark):
    # all expectations fuse into one aggregate over ONE file scan
    df = spark.read.parquet("/root/testdata/sf0.001/customer.parquet")
    checks = [
        Expectation.non_null("c_name"),
        Expectation.satisfies("acctbal_in_range", F.col("c_acctbal").between(-100000, 100000)),
        Expectation.in_set("c_mktsegment", ["BUILDING", "MACHINERY", "AUTOMOBILE", "HOUSEHOLD", "FURNITURE"]),
    ]
    agg_plan = df.agg(
        F.count(F.lit(1)),
        *[F.sum(F.when(e.violation, 1).otherwise(0)) for e in checks],
    )
    plan = formatted_plan(agg_plan)
    assert plan.count("Location: InMemoryFileIndex") == 1  # one scan, all checks


def test_quarantine_routing(spark):
    clean, bad = quarantine(_df(spark), _expectations())
    assert {r.k for r in clean.collect()} == {"a"}
    bad_rows = bad.collect()
    assert len(bad_rows) == 3
    assert all(r.has_data_issue for r in bad_rows)
