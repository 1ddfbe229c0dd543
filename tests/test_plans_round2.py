"""Physical-plan regression tests for the round-2 query shapes: the
scale properties each docstring claims (broadcast dims, equi-join
rewrites instead of θ-joins, top-k without global sort, Expand-based
multi-level aggregation) must actually appear in the plan."""

from __future__ import annotations

from ironman_medallion_lakehouse_spark import suite
from tests.plan_text import formatted_plan

SF = "/root/testdata/sf0.001"


def _plan(spark, name: str) -> str:
    return formatted_plan(suite.queries()[name](spark, SF))


def test_shipping_priority_topk_and_pushdown(spark):
    # TPC-H Q3 shape: top-10 must not global-sort, and the selective
    # per-table filters must reach the scans
    plan = _plan(spark, "q66_shipping_priority")
    assert "TakeOrderedAndProject" in plan
    assert "EqualTo(c_mktsegment,BUILDING)" in plan or "c_mktsegment" in plan
    assert "PushedFilters:" in plan


def test_regional_volume_broadcasts_dims(spark):
    # TPC-H Q5 shape: supplier/nation/region are explicit broadcasts;
    # the salted two-phase aggregate shows up as >=2 HashAggregates.
    # (q67 lost its driver slot to q80_catalog_sql in round 3 but the
    # plan contract stays enforced here.)
    from ironman_medallion_lakehouse_spark.suite_more import q67_regional_volume

    plan = formatted_plan(q67_regional_volume(spark, SF))
    assert plan.count("BroadcastHashJoin") >= 3
    assert plan.count("HashAggregate") >= 2


def test_range_join_is_equi_not_theta(spark):
    # bin-replicate-refine rewrite: the ±1h window must plan as an
    # equi-join (SortMergeJoin/ShuffledHashJoin/BroadcastHashJoin on
    # (user_id, bin)), never a nested-loop θ-join
    plan = _plan(spark, "q75_range_join")
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_asof_join_no_theta_join(spark):
    # union-tag-window as-of: no range θ-join, and the window stage
    # adds at most one exchange beyond the sources
    plan = _plan(spark, "q60_asof_join")
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "WindowExec" in plan or "Window" in plan


def test_lsh_pairs_are_bucketed_equi_join(spark):
    # banding turns candidate generation into an equi-join on the band
    # hash — all-pairs would appear as a nested-loop join
    plan = _plan(spark, "q43_minhash_lsh_pairs")
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_cosine_topk_take_ordered(spark):
    # brute-force ANN: broadcast 1-row query, TakeOrderedAndProject
    # top-k — no global sort, no shuffle of the corpus
    plan = _plan(spark, "q45_cosine_topk")
    assert "TakeOrderedAndProject" in plan


def test_grouping_battery_uses_expand(spark):
    # rollup/cube/grouping-sets each plan as Expand + single aggregate,
    # not as unioned re-scans per grouping set
    plan = _plan(spark, "q61_grouping_battery")
    assert "Expand" in plan


def test_moving_average_single_window_sort(spark):
    # daily agg then one global-ordered frame window: exactly one
    # aggregate exchange + one window exchange (formatted plans list
    # each node in both the tree and the detail section → ×2).
    # (q68 lost its driver slot to q84_sequence_packing in round 3 but
    # the plan contract stays enforced here.)
    from ironman_medallion_lakehouse_spark.suite_more import q68_moving_average

    plan = formatted_plan(q68_moving_average(spark, SF))
    assert plan.count("Exchange") <= 4


def test_sequence_packing_no_global_sort_window(spark):
    # the packing prefix sum must be range-partitioned + range-local
    # window — a Window whose partition spec is empty (global orderBy)
    # would serialize the corpus through one task
    # (the range repartition itself is frozen behind the localCheckpoint,
    # so the visible plan starts at the checkpointed RDD)
    plan = _plan(spark, "q84_sequence_packing")
    assert "hashpartitioning(_rid" in plan
    # a partition-less window would require a SinglePartition exchange
    assert "SinglePartition" not in plan


def test_winnowing_pairs_are_equi_join(spark):
    # r4 q85: fingerprint explode → df-cut → self equi-join on the
    # hash; never an all-pairs nested-loop
    plan = _plan(spark, "q85_winnowing_pairs")
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_session_window_native_single_shuffle(spark):
    # r4 q87: the engine-managed session merge is one aggregate over
    # one user_id exchange — no window-function sort stage, no join
    plan = _plan(spark, "q87_session_window_native")
    assert "SessionWindow" in plan or "session_window" in plan
    assert "Join" not in plan
