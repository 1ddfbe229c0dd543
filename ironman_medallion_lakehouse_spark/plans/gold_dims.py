"""Gold dimensions: dim_athletes, dim_countries, dim_divisions.

Reference: 04a/04b/04c notebooks. All three dims derive from silver
with shapes that stay cheap at scale: the athlete argmax is one window
shuffle keyed by natural key; countries/divisions are distinct-domain
extractions whose outputs are tiny (→ broadcast on the fact side).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ironman_medallion_lakehouse_spark.functions.scalar import (
    athlete_natural_key,
    literal_lookup,
    parse_division,
    surrogate_key,
)
from ironman_medallion_lakehouse_spark.plans.country_mapping import COUNTRY_MAPPING


def build_dim_athletes(silver_df: DataFrame) -> DataFrame:
    """04a_gold_dim_athletes.ipynb: one row per natural key; attributes
    from the latest record (W2 argmax: row_number over natural key
    ORDER BY year DESC, load_timestamp DESC NULLS LAST → rn=1,
    :155-168); athlete_key = abs(hash(name_country)) (:185-195) —
    computed from the *raw* name while the natural key strips
    punctuation, a latent reference collision reproduced as-is
    (SURVEY §7 risk 4)."""
    # the window partitions by the key COLUMN: its output is then
    # partitioned as the SCD-1 merge on that key needs, with no shuffle
    w = Window.partitionBy("athlete_natural_key").orderBy(
        F.col("year").desc(), F.col("load_timestamp").desc_nulls_last()
    )
    latest = (
        silver_df.select(
            athlete_natural_key("athlete_name", "country").alias("athlete_natural_key"),
            "athlete_name",
            "first_name",
            "last_name",
            "country",
            "year",
            "load_timestamp",
        )
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
    )
    return latest.select(
        surrogate_key(F.concat_ws("_", F.col("athlete_name"), F.col("country"))).alias(
            "athlete_key"
        ),
        "athlete_natural_key",
        "athlete_name",
        "first_name",
        "last_name",
        "country",
        F.current_timestamp().alias("created_at"),
        F.current_timestamp().alias("updated_at"),
    )


def build_dim_countries(spark: SparkSession, silver_df: DataFrame) -> DataFrame:
    """04b_gold_dim_countries.ipynb: distinct non-null countries (A4,
    :130-140) enriched from the static 92-row code map (J4, :255-266),
    fallbacks name=code / continent='Unknown' (:310-322),
    athlete_count = countDistinct(athlete_name) per country (A3/J5,
    :340-374), country_key = abs(hash(country)) (:324).

    The reference LEFT JOINs the map as a broadcast table; here it is
    one map literal looked up per country (``literal_lookup``), which
    gives the same rows — a code missing from the map looks up NULL —
    without a broadcast job or a join to plan. The reference also joins
    the distinct countries to their athlete counts; the count's own
    group-by yields every distinct country (0 for a country whose
    athlete names are all NULL, the reference's coalesced value), so
    one aggregation over silver gives the same rows. ``spark`` is
    unused and kept for callers."""
    mapped = literal_lookup(
        F.col("country"),
        {code: {"name": name, "continent": continent} for code, name, continent in COUNTRY_MAPPING},
    )
    counts = (
        silver_df.filter(F.col("country").isNotNull())
        .groupBy("country")
        .agg(F.countDistinct("athlete_name").alias("athlete_count"))
    )
    return counts.select(
        surrogate_key("country").alias("country_key"),
        "country",
        F.coalesce(mapped["name"], F.col("country")).alias("country_name"),
        F.coalesce(mapped["continent"], F.lit("Unknown")).alias("continent"),
        "athlete_count",
        F.current_timestamp().alias("created_at"),
        F.current_timestamp().alias("updated_at"),
    )


def build_dim_divisions(silver_df: DataFrame) -> DataFrame:
    """04c_gold_dim_divisions.ipynb: distinct divisions; gender from
    M/F prefix else UNKNOWN (:146-151); is_professional = contains
    'PRO' (:153-156); age bounds via regexp_extract r"(\\d+\\-\\d+)"
    then split-cast (:178-205); human description (:222-243);
    division_key = abs(hash(division)) (:260-270)."""
    division = F.col("division")
    attrs = parse_division(division)
    d = (
        silver_df.select("division").filter(division.isNotNull()).distinct()
    ).select(
        "division",
        attrs["gender"].alias("gender"),
        # the flag is never NULL here (NULL divisions are filtered out);
        # coalesce records the column as non-nullable
        F.coalesce(attrs["is_professional"], F.lit(False)).alias("is_professional"),
        attrs["age_group_start"].alias("age_group_start"),
        attrs["age_group_end"].alias("age_group_end"),
    )
    gender_word = F.when(F.col("gender") == "M", F.lit("Male")).otherwise(F.lit("Female"))
    description = (
        F.when(
            F.col("is_professional") == True,  # noqa: E712
            F.concat(gender_word, F.lit(" Professional")),
        )
        .when(
            F.col("age_group_start").isNotNull(),
            F.concat(
                gender_word,
                F.lit(" Age "),
                F.col("age_group_start"),
                F.lit(" to "),
                F.col("age_group_end"),
            ),
        )
        .otherwise(division)
    )
    return d.select(
        surrogate_key("division").alias("division_key"),
        "division",
        description.alias("division_description"),
        "gender",
        "is_professional",
        "age_group_start",
        "age_group_end",
        F.current_timestamp().alias("created_at"),
        F.current_timestamp().alias("updated_at"),
    )
