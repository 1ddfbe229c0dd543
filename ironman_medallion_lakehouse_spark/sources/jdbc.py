"""S12: external relational extract via spark.read.jdbc.

Reference: ``ironman_airflow/dags/ironman_dag.py:60-88`` — an Airflow
task that extracts Postgres tables to CSV and lands them on S3 before
any Spark involvement. The Spark-native equivalent skips the CSV hop
entirely: ``spark.read.jdbc`` pulls the table straight into a
DataFrame, and the bronze layer's lineage metadata is stamped on read
(same columns plans/bronze.py adds to file landings), so downstream
layers cannot tell which transport a table arrived by.

Scale notes (the part the Airflow CSV hop gets wrong at 100 TB):

- **Partitioned pulls.** A bare ``read.jdbc(url, table)`` is a single
  connection on a single executor. ``partition_column`` /
  ``num_partitions`` (+ optional explicit bounds) turn the extract
  into ``num_partitions`` parallel range queries — the standard
  Spark-JDBC parallel ingest. Bounds default to a one-row MIN/MAX
  probe pushed to the database, not a full scan.
- **Pushdown.** ``predicate`` lands in the generated WHERE clause on
  the database side; column pruning happens via the usual projection
  (Spark's JDBC source prunes SELECT lists).
- **No driver staging.** Rows stream executor-side from the database;
  nothing passes through the driver (the Airflow DAG's CSV tempfile
  is a single-node bottleneck by construction).

Tests run against an in-process embedded Derby database (the one JDBC
engine shipped with Spark itself), so the path is exercised without
any external service; a production deployment only swaps the URL and
driver class.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def jdbc_extract(
    spark: SparkSession,
    url: str,
    table: str,
    driver: str | None = None,
    partition_column: str | None = None,
    num_partitions: int = 8,
    lower_bound: int | None = None,
    upper_bound: int | None = None,
    predicate: str | None = None,
) -> DataFrame:
    """Read ``table`` over JDBC, optionally as parallel range scans.

    When ``partition_column`` is given and bounds are not, the bounds
    come from one MIN/MAX aggregate pushed to the database (a
    one-row result — not a table scan). The probe applies the same
    ``predicate`` as the extract, so bounds are tight on the filtered
    rows — unfiltered bounds would yield skewed or empty range
    partitions (ADVICE r4).

    ``table``, ``predicate``, and ``partition_column`` are interpolated
    into SQL pushed to the database; they are pipeline-config literals
    (sources.yml), NEVER end-user input — callers exposing this surface
    must validate identifiers first."""
    reader = spark.read.format("jdbc").option("url", url).option("dbtable", table)
    if driver:
        reader = reader.option("driver", driver)
    if predicate:
        reader = reader.option("dbtable", f"(SELECT * FROM {table} WHERE {predicate}) src")
    if partition_column:
        if lower_bound is None or upper_bound is None:
            probe = (
                spark.read.format("jdbc")
                .option("url", url)
                .option(
                    "dbtable",
                    # ANSI-quoted: engines with case-folding identifier
                    # rules (Derby, Postgres) must see the exact stored
                    # name, which Spark's JDBC writer quotes on create
                    f'(SELECT MIN("{partition_column}") mn, '
                    f'MAX("{partition_column}") mx FROM {table}'
                    + (f" WHERE {predicate}" if predicate else "")
                    + ") b",
                )
            )
            if driver:
                probe = probe.option("driver", driver)
            row = probe.load().collect()[0]
            lower_bound = int(row["MN"] if "MN" in row else row["mn"])
            upper_bound = int(row["MX"] if "MX" in row else row["mx"])
        reader = (
            reader.option("partitionColumn", partition_column)
            .option("lowerBound", str(lower_bound))
            .option("upperBound", str(upper_bound))
            .option("numPartitions", str(num_partitions))
        )
    return reader.load()


def jdbc_land_to_bronze(
    spark: SparkSession,
    url: str,
    table: str,
    driver: str | None = None,
    **extract_kwargs,
) -> DataFrame:
    """S12 end-to-end: JDBC extract + the bronze lineage stamp
    (source_file ≡ the JDBC coordinates, load_timestamp/load_date as
    in plans/bronze.read_csv_with_metadata) — the landing contract is
    transport-independent.

    Kept with no package caller: it is the only implementation of SURVEY
    §2.1 S12 (the Airflow DAG's JDBC extract landed as bronze);
    tests/test_jdbc.py runs it against embedded Derby."""
    df = jdbc_extract(spark, url, table, driver=driver, **extract_kwargs)
    return (
        df.withColumn("source_file", F.lit(f"jdbc:{table}@{url}").cast("string"))
        .withColumn("load_timestamp", F.current_timestamp())
        .withColumn("load_date", F.current_date())
    )
