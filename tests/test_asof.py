"""as_of_join edge cases: inclusive equal-ts match, no-match NULLs,
per-key isolation, latest-of-several selection."""

from __future__ import annotations

from pyspark.sql import Row
from pyspark.sql import functions as F

from ironman_medallion_lakehouse_spark.operators.asof import as_of_join
from tests.plan_text import formatted_plan


def _ts(s):
    return F.lit(s).cast("timestamp")


def _frames(spark):
    left = spark.createDataFrame(
        [
            Row(k="a", lid=1, ts="2024-01-01 10:00:00"),
            Row(k="a", lid=2, ts="2024-01-01 12:00:00"),
            Row(k="a", lid=3, ts="2024-01-01 08:00:00"),  # before any right row
            Row(k="b", lid=4, ts="2024-01-01 11:00:00"),
        ]
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    right = spark.createDataFrame(
        [
            Row(k="a", rid=100, ts="2024-01-01 09:00:00"),
            Row(k="a", rid=200, ts="2024-01-01 10:00:00"),  # equal-ts with lid=1
            Row(k="a", rid=300, ts="2024-01-01 11:30:00"),
            Row(k="b", rid=900, ts="2024-01-01 10:59:00"),
        ]
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    return left, right


def test_asof_semantics(spark):
    left, right = _frames(spark)
    out = {
        r.lid: (r.rid_asof, str(r.ts_asof) if r.ts_asof else None)
        for r in as_of_join(left, right, on=["k"], right_payload=["rid"]).collect()
    }
    assert out[1] == (200, "2024-01-01 10:00:00")  # equal ts is inclusive
    assert out[2] == (300, "2024-01-01 11:30:00")  # latest preceding, not first
    assert out[3] == (None, None)  # left-outer: no preceding right row
    assert out[4] == (900, "2024-01-01 10:59:00")  # keys don't leak across groups


def test_asof_preserves_left_rowcount(spark):
    left, right = _frames(spark)
    assert as_of_join(left, right, on=["k"], right_payload=["rid"]).count() == left.count()


def test_asof_single_shuffle(spark):
    left, right = _frames(spark)
    joined = as_of_join(left, right, on=["k"], right_payload=["rid"])
    plan = formatted_plan(joined)
    # union-tag-window: exactly one hash-partitioning shuffle (the
    # window); formatted explain prints each node twice (tree + detail)
    assert plan.count("hashpartitioning") == 1


def test_asof_null_payload_from_matched_row(spark):
    """A right row whose payload is legitimately NULL must win the
    as-of match and deliver that NULL — per-column last(ignorenulls)
    would skip it and mix fields across right rows (r2 ADVICE)."""
    left = spark.createDataFrame(
        [Row(k="a", lid=1, ts="2024-01-01 12:00:00")]
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    right = spark.createDataFrame(
        [
            Row(k="a", rid=100, label="old", ts="2024-01-01 10:00:00"),
            Row(k="a", rid=None, label="newest", ts="2024-01-01 11:00:00"),
        ]
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    row = as_of_join(
        left, right, on=["k"], right_payload=["rid", "label"]
    ).collect()[0]
    # ALL fields come from the 11:00 row — rid stays NULL, not 100
    assert row.rid_asof is None
    assert row.label_asof == "newest"
    assert str(row.ts_asof) == "2024-01-01 11:00:00"
