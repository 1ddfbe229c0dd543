"""The one plan dumper the tests share."""

from __future__ import annotations


def formatted_plan(df) -> str:
    """``EXPLAIN FORMATTED`` text of ``df``'s physical plan."""
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )
