"""range_join_within: boundary inclusion, bin-edge pairs, no
duplicates from replication, key isolation."""

from __future__ import annotations

from pyspark.sql import Row
from pyspark.sql import functions as F

from ironman_medallion_lakehouse_spark.operators.rangejoin import range_join_within


def _frames(spark):
    # timestamps as epoch-second longs cast to timestamp for clarity
    def ts(sec):
        return sec

    left = spark.createDataFrame(
        [
            Row(k="a", lid=1, lts=1000),
            Row(k="a", lid=2, lts=5000),
            Row(k="b", lid=3, lts=1000),
        ]
    ).withColumn("lts", F.timestamp_seconds("lts"))
    right = spark.createDataFrame(
        [
            Row(k="a", rid=10, rts=1100),   # within 3600 of lid=1 and lid=2
            Row(k="a", rid=11, rts=4600),   # exactly 3600 from lid=1 → inclusive
            Row(k="a", rid=12, rts=9999),   # matches nothing
            Row(k="b", rid=13, rts=1050),   # other key
        ]
    ).withColumn("rts", F.timestamp_seconds("rts"))
    return left, right


def test_range_join_semantics(spark):
    left, right = _frames(spark)
    out = range_join_within(
        left, right, on=["k"], left_ts="lts", right_ts="rts", window_seconds=3600
    )
    pairs = {(r.lid, r.rid) for r in out.collect()}
    # lid=1 @1000: rid=10 (Δ100) and rid=11 (Δ3600, inclusive boundary)
    # lid=2 @5000: rid=11 (Δ400) only — rid=10 is Δ3900, outside
    assert pairs == {(1, 10), (1, 11), (2, 11), (3, 13)}


def test_range_join_no_duplicate_pairs(spark):
    left, right = _frames(spark)
    out = range_join_within(
        left, right, on=["k"], left_ts="lts", right_ts="rts", window_seconds=3600
    )
    rows = [(r.lid, r.rid) for r in out.collect()]
    assert len(rows) == len(set(rows))  # bin replication never double-pairs


def test_range_join_matches_naive(spark):
    left, right = _frames(spark)
    naive = left.join(right, "k").filter(
        F.abs(F.col("lts").cast("long") - F.col("rts").cast("long")) <= 3600
    )
    fast = range_join_within(
        left, right, on=["k"], left_ts="lts", right_ts="rts", window_seconds=3600
    )
    assert {(r.lid, r.rid) for r in naive.collect()} == {
        (r.lid, r.rid) for r in fast.collect()
    }
