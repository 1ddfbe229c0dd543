"""Physical-plan regression tests for the round-6 shapes: the scale
claims in each entry's docstring must actually appear in the plan."""

from __future__ import annotations

import re

from ironman_medallion_lakehouse_spark import suite
from ironman_medallion_lakehouse_spark.session import load_tables
from tests.plan_text import formatted_plan

SF = "/root/testdata/sf0.001"


def _plan(spark, name: str) -> str:
    return formatted_plan(suite.queries()[name](spark, SF))


def _n_key_shuffles(plan: str) -> int:
    """Key-partitioned Exchanges in the detail section (one entry per
    node). load_tables deliberately round-robin-repartitions the tiny
    documents file for CPU parallelism — that REPARTITION_BY_NUM
    Exchange is a test-data artifact, not an operator shuffle, so only
    hashpartitioning/rangepartitioning exchanges count."""
    return len(re.findall(r"Arguments: (?:hash|range)partitioning", plan))


def test_hash_split_is_map_only_before_report(spark):
    """q136's claim: split assignment is purely map-side — the ONLY
    Exchange in the plan is the reporting aggregate's shuffle, and no
    Python appears anywhere (pure Column md5 arithmetic)."""
    plan = _plan(spark, "q136_hash_split")
    assert _n_key_shuffles(plan) == 1
    assert "Python" not in plan and "BatchEval" not in plan


def test_split_column_itself_adds_no_shuffle(spark):
    """hash_split without the aggregate: zero Exchanges — the split
    column rides the scan."""
    from ironman_medallion_lakehouse_spark.operators.sampling import hash_split

    t = load_tables(spark, SF, "documents")
    df = hash_split(t["documents"], "doc_id", {"a": 0.5, "b": 0.5})
    plan = formatted_plan(df)
    assert _n_key_shuffles(plan) == 0


def test_window_distinct_single_shuffle(spark):
    """q139: one grouped aggregate — exactly one Exchange (on the
    window/type keys); both the exact and sketch arms ride it with
    partial aggregation."""
    plan = _plan(spark, "q139_window_distinct_users")
    # distinct-agg planning may add a second Exchange for the exact
    # count_distinct expansion; the sketch arm must NOT add more
    assert _n_key_shuffles(plan) <= 2
    assert "Python" not in plan


def test_gumbel_topk_is_takeordered(spark):
    """q137: log-domain A-ES top-k plans as TakeOrderedAndProject —
    per-partition heaps, never a global Sort+Limit."""
    plan = _plan(spark, "q137_gumbel_topk")
    assert "TakeOrderedAndProject" in plan
    assert "Python" not in plan


def test_pairwise_overlap_sketch_arm_broadcasts(spark):
    """q135: the S-row sketch/size frames join via broadcast (cross
    join of tiny aggregates + broadcast estimate join) — the only
    sort-merge-join-eligible shape is the exact item self-join."""
    plan = _plan(spark, "q135_source_overlap")
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan
