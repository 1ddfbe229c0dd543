"""Physical-plan regression tests for the round-8 shapes (VERDICT r7
items 4-5): q143's eight arms must read ONE materialized base instead
of re-scanning orders per arm."""

from __future__ import annotations

import re

from ironman_medallion_lakehouse_spark import suite
from tests.plan_text import formatted_plan

SF = "/root/testdata/sf0.001"


def test_q143_arms_share_one_materialized_base(spark):
    """VERDICT r7 item 4: the battery previously scanned orders once
    per arm (six scans). With the localCheckpoint'ed base, the entry's
    plan contains ZERO parquet scans — every arm (including the two
    planted-effect rows) reads the materialized RDD."""
    df = suite.queries()["q143_ab_test_battery"](spark, SF)
    plan = formatted_plan(df)
    scans = re.findall(r"\(\d+\) Scan parquet", plan)
    assert len(scans) == 0, f"arms re-scan parquet: {len(scans)} scans"
    assert "ExistingRDD" in plan, "expected the checkpointed base as source"
    # thirteen rows in the union (r8c added the delta-method ratio
    # row and the three QTE quartile rows; r9 the winsorized-t row)
    assert df.count() == 13
