"""Gold fact table: fact_race_results — silver + 3 dim FK lookups.

Reference: 04d_gold_fact_race_results.ipynb. The three dim joins (J1-J3)
are left equi-joins against small dimensions. Broadcast strategy
(r5, VERDICT r4 item 4): when the caller reads dims through the
tablestore, it passes frames from ``TableStore.read_hinted`` — the
broadcast decision then comes from the size of the dim version's
files in its manifest (cannot go stale, survives a dim outgrowing
the threshold) and ``explicit_broadcast=False`` keeps this module
from overriding it. The default (``explicit_broadcast=True``)
force-broadcasts for callers joining ad-hoc frames with no manifest,
where Spark's compressed-bytes estimate is the only alternative.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ironman_medallion_lakehouse_spark.functions.scalar import athlete_natural_key, surrogate_key

FACT_COLUMNS = [
    "fact_key",
    "athlete_key",
    "division_key",
    "country_key",
    "year",
    "source_gender",
    "designation",
    "bib",
    "is_finisher",
    "is_dnf",
    "is_dns",
    "is_dq",
    "has_data_issue",
    "rank",
    "div_rank",
    "gender_rank",
    "overall_rank",
    "points",
    "swim_time_seconds",
    "swim_div_rank",
    "swim_gender_rank",
    "swim_overall_rank",
    "transition_1_seconds",
    "bike_time_seconds",
    "bike_div_rank",
    "bike_gender_rank",
    "bike_overall_rank",
    "transition_2_seconds",
    "run_time_seconds",
    "run_div_rank",
    "run_gender_rank",
    "run_overall_rank",
    "finish_time_seconds",
    "row_key",
]  # 04d:252-287 (34-column contract)


def build_fact(
    silver_df: DataFrame,
    dim_athletes: DataFrame,
    dim_divisions: DataFrame,
    dim_countries: DataFrame,
    explicit_broadcast: bool = True,
) -> DataFrame:
    """silver → fact with FK resolution (04d:140-230):

    - athlete_key via natural-key left join (J1, :175-187);
    - division_key via division left join (J2, :192-201);
    - country_key via country left join (J3, :208-217);
    - fact_key = abs(hash(row_key)) (:224);
    - 34-column contract (:252-287). FKs stay NULL on no match — the
      unmatched-FK audits live in ``fk_audit`` below, not inline.

    ``explicit_broadcast=False`` leaves the join strategy to hints the
    dim frames already carry (``TableStore.read_hinted`` attaches one
    when the dim's manifest size fits the broadcast threshold) — a dim
    that outgrew the threshold then falls back to a shuffle join
    instead of being force-broadcast into executor OOM.
    """
    maybe_b = F.broadcast if explicit_broadcast else (lambda df: df)
    fact = silver_df.withColumn(
        "athlete_natural_key", athlete_natural_key("athlete_name", "country")
    )

    athletes_keys = dim_athletes.select(
        F.col("athlete_key"), F.col("athlete_natural_key").alias("dim_athlete_natural_key")
    )
    fact = fact.join(
        maybe_b(athletes_keys),
        fact["athlete_natural_key"] == athletes_keys["dim_athlete_natural_key"],
        "left",
    ).drop("dim_athlete_natural_key")

    division_keys = dim_divisions.select(
        F.col("division_key"), F.col("division").alias("dim_division")
    )
    fact = fact.join(
        maybe_b(division_keys),
        fact["division"] == division_keys["dim_division"],
        "left",
    ).drop("dim_division")

    country_keys = dim_countries.select(
        F.col("country_key"), F.col("country").alias("dim_country")
    )
    fact = fact.join(
        maybe_b(country_keys),
        fact["country"] == country_keys["dim_country"],
        "left",
    ).drop("dim_country")

    fact = fact.withColumn("fact_key", surrogate_key("row_key"))
    return fact.select(FACT_COLUMNS)


def fk_audit(fact: DataFrame) -> dict[str, int]:
    """Referential-integrity audit (04d:189-222): unmatched FK counts.

    The reference additionally conditions division/country on the
    natural attribute being present (:203-205, :219-221), but runs the
    audit BEFORE the 34-column projection drops those attributes; on
    the stored fact the null-FK count is the observable signal (a
    null-attribute row shows up here as an expected unmatched FK).
    ``pipeline.run`` reads the same counts from the fact's log
    (``TableStore.null_count``) and scans with this only when a file's
    footer records no null count.
    """
    agg = fact.agg(
        F.sum(F.when(F.col("athlete_key").isNull(), 1).otherwise(0)).alias("athletes"),
        F.sum(
            F.when(F.col("division_key").isNull(), 1).otherwise(0)
        ).alias("divisions"),
        F.sum(
            F.when(F.col("country_key").isNull(), 1).otherwise(0)
        ).alias("countries"),
    ).collect()[0]
    return {"athletes": agg[0] or 0, "divisions": agg[1] or 0, "countries": agg[2] or 0}
