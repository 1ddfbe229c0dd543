"""Data-quality expectations — the reference's inline audits as an API.

The reference enforces correctness with ad-hoc notebook checks
(SURVEY §5.1): duplicate-key counts (02_bronze.ipynb:254), non-empty
layer asserts (03_silver.ipynb:346), null audits (03:367-447),
derived-value reconciliation (03:524-528), and a quarantine flag
instead of row deletion (has_data_issue, 03:469-486). This module
makes those patterns first-class and composable:

- each Expectation evaluates to (name, violation_count, total) in ONE
  pass — expectations over the same DataFrame are fused into a single
  aggregate job, not one action per check;
- ``violation_counts`` gives the same counts as named aggregates, so a
  writer can observe them while it writes (``TableStore``'s
  ``observe=``) instead of scanning afterwards: ``pipeline.run`` audits
  silver that way and calls ``check`` only when the table's log holds
  no observed totals;
- ``quarantine`` splits pass/fail rows by a predicate (flag-don't-drop
  generalized to physically routing rows).

The bronze duplicate-key audit is ``plans.bronze.duplicate_key_count``,
a function of the NULL-name count the bronze commit logs.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


@dataclass(frozen=True)
class Expectation:
    name: str
    violation: Column  # boolean Column: True = row violates

    @staticmethod
    def non_null(col: str) -> "Expectation":
        return Expectation(f"non_null({col})", F.col(col).isNull())

    @staticmethod
    def in_set(col: str, values: list) -> "Expectation":
        c = F.col(col)
        return Expectation(
            f"in_set({col})", c.isNotNull() & ~c.isin(values)
        )

    @staticmethod
    def satisfies(name: str, predicate: Column) -> "Expectation":
        """Custom rule: predicate True = row OK."""
        return Expectation(name, ~predicate)


@dataclass
class QualityReport:
    total_rows: int
    violations: dict[str, int]

    @property
    def passed(self) -> bool:
        return all(v == 0 for v in self.violations.values())


def violation_counts(expectations: list[Expectation]) -> dict[str, Column]:
    """Each expectation's name → an aggregate counting the rows that
    violate it (a NULL verdict is no violation); 0 over no rows."""
    return {e.name: F.count(F.when(e.violation, 1)) for e in expectations}


def check(df: DataFrame, expectations: list[Expectation]) -> QualityReport:
    """Evaluate all expectations in ONE aggregate pass (the reference
    runs one count() action per audit — at 100 TB that's one full scan
    per check; fusing them is the difference)."""
    counts = violation_counts(expectations)
    row = df.agg(
        F.count(F.lit(1)).alias("__total"),
        *[agg.alias(f"__v{i}") for i, agg in enumerate(counts.values())],
    ).collect()[0]
    return QualityReport(
        total_rows=row["__total"],
        violations={name: row[f"__v{i}"] for i, name in enumerate(counts)},
    )


def quarantine(
    df: DataFrame, expectations: list[Expectation], flag_col: str = "has_data_issue"
) -> tuple[DataFrame, DataFrame]:
    """Route rows violating ANY expectation to a quarantine frame
    (reference keeps them flagged in place, 03_silver.ipynb:469-486;
    this generalizes to physical routing). Returns (clean, quarantined);
    quarantined rows carry the flag column for lineage."""
    any_violation = None
    for e in expectations:
        any_violation = e.violation if any_violation is None else (any_violation | e.violation)
    flagged = df.withColumn(flag_col, F.coalesce(any_violation, F.lit(False)))
    return (
        flagged.filter(~F.col(flag_col)).drop(flag_col),
        flagged.filter(F.col(flag_col)),
    )
