"""Physical-plan regression tests for the round-7 shapes (VERDICT r6
items 3-4): the single-partition serial sections the verdict flagged
must shrink to bounded inputs, and every remaining global-order window
in the suite must be documented."""

from __future__ import annotations

import re

from ironman_medallion_lakehouse_spark import suite
from tests.plan_text import formatted_plan

SF = "/root/testdata/sf0.001"


def _plan(spark, name: str) -> str:
    return formatted_plan(suite.queries()[name](spark, SF))


def test_ks_window_runs_over_distinct_values(spark):
    """VERDICT r6 item 3: the KS global running-sum window must consume
    the per-distinct-value aggregate, not the raw observation rows —
    the groupBy(v) collapses rows AND absorbs ties, so exactly one
    Window node remains (the old shape had a second PARTITION BY v
    tie-absorption window over raw rows). Asserted on the operator
    itself (q142 grew PSI/KLL arms in r7c, so the ENTRY's plan now
    legitimately carries their extra scans)."""
    from ironman_medallion_lakehouse_spark.operators.experiment import ks_two_sample
    from ironman_medallion_lakehouse_spark.session import load_tables

    ev = load_tables(spark, SF, "events")["events"]
    plan = formatted_plan(ks_two_sample(ev, "value", "event_type", "click", "view"))
    # exactly one Window node in the whole plan
    windows = re.findall(r"\(\d+\) Window\b", plan)
    assert len(windows) == 1, f"expected 1 Window node, plan has {len(windows)}"
    # a keyed hash aggregate on v sits below it (the pre-aggregation);
    # partial_sum proves map-side combine before the shuffle
    assert re.search(r"Keys \[1\]: \[v#\d+\]", plan), "groupBy(v) missing"
    assert "partial_sum" in plan, "pre-aggregation lost its partial phase"
    # the totals ride the same single-partition sort as full-frame
    # window sums — no crossJoin(broadcast(totals)) subtree duplication
    scans = re.findall(r"\(\d+\) Scan parquet", plan)
    assert len(scans) == 1, f"pipeline evaluated {len(scans)} times"
    assert plan.count("SinglePartition") == 1


def test_mann_whitney_window_runs_over_distinct_values(spark):
    """r7c: mann_whitney_u inherits the KS discipline — the groupBy(v)
    pre-aggregation feeds the one global window, so the serial section
    sees distinct values, with map-side partial combine below it."""
    from ironman_medallion_lakehouse_spark.operators.experiment import mann_whitney_u
    from ironman_medallion_lakehouse_spark.session import load_tables

    ev = load_tables(spark, SF, "events")["events"]
    plan = formatted_plan(mann_whitney_u(ev, "value", "event_type", "click", "view"))
    windows = re.findall(r"\(\d+\) Window\b", plan)
    assert len(windows) == 1, f"expected 1 Window node, plan has {len(windows)}"
    assert re.search(r"Keys \[1\]: \[v#\d+\]", plan), "groupBy(v) missing"
    assert "partial_sum" in plan, "pre-aggregation lost its partial phase"
    scans = re.findall(r"\(\d+\) Scan parquet", plan)
    assert len(scans) == 1, f"pipeline evaluated {len(scans)} times"
    assert plan.count("SinglePartition") == 1


def test_poisson_bootstrap_no_data_sized_shuffle(spark):
    """r7c: the bootstrap's only exchanges are the pre-expansion
    repartition of the SLIM base (1/(R+2) of expanded volume) and the
    R-key aggregate — nothing shuffles the exploded frame itself, and
    the weight aggregation is map-side combined."""
    from ironman_medallion_lakehouse_spark.operators.experiment import (
        poisson_bootstrap_mean_diff,
    )
    from ironman_medallion_lakehouse_spark.session import load_tables

    o = load_tables(spark, SF, "orders")["orders"]
    from pyspark.sql import functions as F

    ov = o.select(
        F.when(F.col("o_orderkey") % 2 == 0, F.lit("a")).otherwise(F.lit("b")).alias("g"),
        "o_totalprice",
        "o_orderkey",
    )
    plan = formatted_plan(
        poisson_bootstrap_mean_diff(
            ov, "o_totalprice", "g", "a", "b", key_col="o_orderkey", replicates=8
        )
    )
    assert "partial_sum" in plan  # map-side combine on the rep keys
    assert "Generate" in plan  # the (R+2)x explode is present
    # bounded exchange census: the pre-expansion RoundRobin repartition
    # of the slim base, the rep-key hash aggregate, and the final
    # single-partition gather of the (R+2)-row frame — nothing shuffles
    # the exploded volume itself
    ex = re.findall(
        r"Exchange (hashpartitioning|RoundRobinPartitioning|"
        r"rangepartitioning|SinglePartition)",
        plan,
    )
    assert len(ex) <= 3, f"unexpected exchanges: {ex}"


def test_poisson_bootstrap_tolerates_auto_shuffle_partitions(spark):
    """ADVICE r7 item 4: platforms that set
    spark.sql.shuffle.partitions to a non-numeric value (e.g. 'auto'
    under Databricks AQE) must not crash the pre-expansion repartition
    — it falls back to the input's own parallelism. Open-source Spark
    refuses to SET a non-numeric value, so the vendor behavior is
    exercised through a duck-typed stub."""
    from ironman_medallion_lakehouse_spark.session import shuffle_width

    class _Conf:
        def __init__(self, val):
            self._val = val

        def get(self, key, default=None):
            return self._val

    class _Stub:
        def __init__(self, val, nparts):
            self.sparkSession = type(
                "S", (), {"conf": _Conf(val)}
            )()
            self.rdd = type("R", (), {"getNumPartitions": lambda s: nparts})()

    assert shuffle_width(_Stub("64", 4)) == 64
    assert shuffle_width(_Stub("auto", 4)) == 32  # floor kicks in
    assert shuffle_width(_Stub("auto", 96)) == 96
    # and the real session path still resolves numerically
    df = spark.range(10)
    assert shuffle_width(df) == int(
        spark.conf.get("spark.sql.shuffle.partitions")
    )
