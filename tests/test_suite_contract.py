"""The `__spark_entry__` contract's suite accessors: every registered entry, in
registration order, each with a DuckDB oracle. No Spark needed."""

from ironman_medallion_lakehouse_spark import suite

SUITE_SIZE = 120


def test_queries_in_registration_order():
    names = list(suite.queries())
    assert names == list(suite.QUERIES)
    assert len(names) == SUITE_SIZE
    assert names[0] == "q01_pricing_summary"


def test_every_entry_has_an_oracle():
    oracles = suite.oracle_sql()
    assert set(oracles) == set(suite.queries())
    assert list(oracles) == list(suite.QUERIES)
    assert len(oracles) == SUITE_SIZE
