"""Silver layer: typed, cleansed, flagged race results.

Reference: notebooks_databricks/03_silver.ipynb. All transformations
are pure Column expressions (no UDFs) so the whole layer stays inside
whole-stage codegen. The layer is a single narrow (shuffle-free) plan
over the bronze scan — at 100 TB it is embarrassingly parallel.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import IntegerType

from ironman_medallion_lakehouse_spark.functions.scalar import (
    parse_time_to_seconds,
    split_person_name,
)

INTEGER_COLUMNS = [
    "rank",
    "div_rank",
    "gender_rank",
    "overall_rank",
    "bib",
    "points",
    "swim_div_rank",
    "swim_gender_rank",
    "swim_overall_rank",
    "bike_div_rank",
    "bike_gender_rank",
    "bike_overall_rank",
    "run_div_rank",
    "run_gender_rank",
    "run_overall_rank",
]  # 03_silver.ipynb:196-216

TIME_COLUMNS = [
    ("swim_time", "swim_time_seconds"),
    ("bike_time", "bike_time_seconds"),
    ("run_time", "run_time_seconds"),
    ("finish_time", "finish_time_seconds"),
    ("transition_1", "transition_1_seconds"),
    ("transition_2", "transition_2_seconds"),
]  # 03_silver.ipynb:238-249

FINAL_COLUMNS = [
    "row_key", "year",
    "athlete_name", "first_name", "last_name", "country", "bib",
    "division", "source_gender",
    "designation", "is_finisher", "is_dnf", "is_dns", "is_dq", "has_data_issue",
    "rank", "div_rank", "gender_rank", "overall_rank", "points",
    "swim_time", "swim_time_seconds", "swim_div_rank", "swim_gender_rank", "swim_overall_rank",
    "transition_1", "transition_1_seconds",
    "bike_time", "bike_time_seconds", "bike_div_rank", "bike_gender_rank", "bike_overall_rank",
    "transition_2", "transition_2_seconds",
    "run_time", "run_time_seconds", "run_div_rank", "run_gender_rank", "run_overall_rank",
    "finish_time", "finish_time_seconds", "calculated_total_seconds",
    "source_file", "load_timestamp", "load_date",
]  # 03_silver.ipynb:581-594 (45-column contract)


def build_silver(bronze_df: DataFrame) -> DataFrame:
    """bronze → silver, preserving the reference's exact semantics:

    - 15 rank/bib/points columns cast to int (:196-216);
    - 6 H:MM:SS columns parsed to *_seconds (:238-249, formula :133-139);
    - country upper+trim, athlete_name trim, designation/division
      upper+trim (:252-255);
    - boolean flags from designation — is_dq matches only 'DQ' (:257-260);
    - calculated_total_seconds = plain sum of the 5 segment columns,
      NULL if any segment is NULL (no coalesce — :261-268);
    - first/last name split on a single space, last NULL for
      single-token names (:298-305);
    - has_data_issue = finisher with NULL rank or any NULL segment
      seconds (:469-486) — rows are flagged, never dropped (quarantine
      not deletion);
    - 45-column contract with defensive subset select (:615).
    """
    cols = set(bronze_df.columns)
    # three projections, as each stage reads columns the one before it
    # derives: typed and trimmed → flags, segment sum and name parts →
    # has_data_issue
    df = bronze_df.withColumns(
        {
            **{c: F.col(c).cast(IntegerType()) for c in INTEGER_COLUMNS if c in cols},
            **{dst: parse_time_to_seconds(F.col(src)) for src, dst in TIME_COLUMNS if src in cols},
            "country": F.upper(F.trim(F.col("country"))),
            "athlete_name": F.trim(F.col("athlete_name")),
            "designation": F.upper(F.trim(F.col("designation"))),
            "division": F.upper(F.trim(F.col("division"))),
        }
    )

    d = F.upper(F.col("designation"))
    first_name, last_name = split_person_name("athlete_name")
    df = df.withColumns(
        {
            "is_finisher": F.when(d == "FINISHER", True).otherwise(False),
            "is_dnf": F.when(d == "DNF", True).otherwise(False),
            "is_dns": F.when(d == "DNS", True).otherwise(False),
            "is_dq": F.when(d == "DQ", True).otherwise(False),
            "calculated_total_seconds": F.col("swim_time_seconds")
            + F.col("transition_1_seconds")
            + F.col("bike_time_seconds")
            + F.col("transition_2_seconds")
            + F.col("run_time_seconds"),
            "first_name": first_name,
            "last_name": last_name,
        }
    )

    df = df.withColumn(
        "has_data_issue",
        F.when(
            (F.col("is_finisher") == True)  # noqa: E712
            & (
                F.col("rank").isNull()
                | F.col("swim_time_seconds").isNull()
                | F.col("bike_time_seconds").isNull()
                | F.col("run_time_seconds").isNull()
                | F.col("finish_time_seconds").isNull()
            ),
            True,
        ).otherwise(False),
    )

    existing = [c for c in FINAL_COLUMNS if c in df.columns]
    return df.select(existing)

