"""Gold dimension plans against their reference forms."""

from __future__ import annotations

from collections import Counter

from pyspark.sql import functions as F

from ironman_medallion_lakehouse_spark.functions.scalar import surrogate_key
from ironman_medallion_lakehouse_spark.plans import gold_dims
from ironman_medallion_lakehouse_spark.plans.country_mapping import COUNTRY_MAPPING


def _broadcast_join_oracle(spark, silver_df):
    """dim_countries as the reference builds it: the code map as a
    table, broadcast LEFT JOINed to the distinct countries, which are
    then LEFT JOINed to their athlete counts."""
    countries = silver_df.select("country").filter(F.col("country").isNotNull()).distinct()
    mapping = spark.createDataFrame(COUNTRY_MAPPING, ["country_code", "country_name", "continent"])
    enriched = (
        countries.alias("c")
        .join(F.broadcast(mapping).alias("m"), F.col("c.country") == F.col("m.country_code"),
              "left")
        .select(F.col("c.country"), F.col("m.country_name"), F.col("m.continent"))
        .withColumn("country_name", F.coalesce(F.col("country_name"), F.col("country")))
        .withColumn("continent", F.coalesce(F.col("continent"), F.lit("Unknown")))
        .withColumn("country_key", surrogate_key("country"))
    )
    athlete_counts = (
        silver_df.filter(F.col("country").isNotNull())
        .groupBy("country")
        .agg(F.countDistinct("athlete_name").alias("athlete_count"))
    )
    return (
        enriched.join(athlete_counts, on="country", how="left")
        .withColumn("athlete_count", F.coalesce(F.col("athlete_count"), F.lit(0)))
        .withColumn("created_at", F.current_timestamp())
        .withColumn("updated_at", F.current_timestamp())
        .select("country_key", "country", "country_name", "continent", "athlete_count",
                "created_at", "updated_at")
    )


def test_country_codes_are_unique():
    codes = Counter(code for code, _name, _continent in COUNTRY_MAPPING)
    assert [c for c, n in codes.items() if n > 1] == []


def test_dim_countries_lookup_equals_broadcast_join(spark):
    """Mapped, unmapped and lowercase codes (the lookup, like the
    join, matches case-sensitively), a NULL country, a code with a
    quote in it and a country with no named athlete give the rows and
    schema of the join form."""
    silver = spark.createDataFrame(
        [("FR", "A"), ("FR", "B"), ("FR", "A"), ("US", "C"), ("XX", "D"), ("fr", "E"),
         (None, "F"), ("O'", "G"), ("", "H"), ("ZZ", None)],
        "country string, athlete_name string",
    )
    got = gold_dims.build_dim_countries(spark, silver)
    want = _broadcast_join_oracle(spark, silver)
    assert got.schema == want.schema
    stamps = ("created_at", "updated_at")
    rows = sorted(tuple(r) for r in got.drop(*stamps).collect())
    assert rows == sorted(tuple(r) for r in want.drop(*stamps).collect())
    by_code = {r.country: (r.country_name, r.continent, r.athlete_count) for r in got.collect()}
    assert by_code["FR"] == ("France", "Europe", 2)
    assert by_code["XX"] == ("XX", "Unknown", 1)
    assert by_code["fr"] == ("fr", "Unknown", 1)
    assert by_code["ZZ"] == ("ZZ", "Unknown", 0)
    assert None not in by_code
