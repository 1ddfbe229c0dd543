"""Bronze layer: CSV landing → all-string table + lineage + row_key.

Reference: notebooks_databricks/02_bronze.ipynb. Operators: S1 (csv
scan), S2 (dash→null), S3 (metadata columns), U1 (unionByName fold),
W1 (dedup-rank window), row_key concat. The whole layer is one lazy
DataFrame graph — no intermediate actions (the reference's per-file
``count()`` calls are notebook narration, not semantics; SURVEY §7.5).

Scale: each CSV is an independent scan partition; the only shuffle is
the W1 window over (year, source_gender, athlete_name_clean), whose
cardinality is bounded by athletes-per-race — naturally well
distributed. The bronze table is written partitioned by ``year`` so
downstream year filters become partition pruning.
"""

from __future__ import annotations

import csv
import os
from collections import Counter

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.types import IntegerType, StringType, StructField, StructType

from ironman_medallion_lakehouse_spark.config import FileSpec


def csv_header(spark: SparkSession, file_path: str) -> list[str] | None:
    """The column names Spark's ``header=true`` CSV read gives
    ``file_path``, taken on the driver from the file's first non-blank
    line instead of by a Spark job: a UTF-8 BOM is dropped, an empty
    name becomes ``_c<i>``, and a name that occurs more than once
    (ignoring case unless spark.sql.caseSensitive) gets its index
    appended — Spark's ``CSVDataSource.makeSafeHeader``. None when
    ``file_path`` is not a local file (a directory, a glob, a remote
    URI): Spark then reads the header itself."""
    if not os.path.isfile(file_path):
        return None
    with open(file_path, encoding="utf-8-sig") as fh:
        first = next((line for line in fh if line.strip()), "")
    row = next(csv.reader([first]), [])
    case_sensitive = str(spark.conf.get("spark.sql.caseSensitive", "false")).lower() == "true"
    fold = (lambda n: n) if case_sensitive else str.lower
    seen = Counter(fold(n) for n in row if n)
    return [
        f"_c{i}" if not n else f"{n}{i}" if seen[fold(n)] > 1 else n
        for i, n in enumerate(row)
    ]


def read_csv_with_metadata(
    spark: SparkSession, file_path: str, year: int, gender: str
) -> DataFrame:
    """S1+S2+S3 (02_bronze.ipynb:131-152): header'd all-string CSV read,
    literal "-" normalized to NULL in every column, then lineage
    metadata (year, source_gender, source_file, load_timestamp,
    load_date). A local file's header is read on the driver
    (``csv_header``) and passed as an all-string schema, so planning
    the read runs no Spark job."""
    reader = spark.read.option("header", "true").option("inferSchema", "false")
    header = csv_header(spark, file_path)
    if header is not None:
        reader = reader.schema(StructType([StructField(c, StringType()) for c in header]))
    df = reader.csv(file_path)
    df = df.select(
        *[
            F.when(F.col(c) == "-", F.lit(None)).otherwise(F.col(c)).alias(c)
            for c in df.columns
        ]
    )
    return (
        df.withColumn("year", F.lit(year).cast(IntegerType()))
        .withColumn("source_gender", F.lit(gender).cast("string"))
        .withColumn("source_file", F.lit(file_path).cast("string"))
        .withColumn("load_timestamp", F.current_timestamp())
        .withColumn("load_date", F.current_date())
    )


def with_row_key(df: DataFrame) -> DataFrame:
    """W1 dedup-rank + row_key (02_bronze.ipynb:205-231).

    athlete_name_clean = lower(strip-non-alnum(name)); dup_rank =
    row_number over (year, source_gender, athlete_name_clean ORDER BY
    rank asc_nulls_last, bib asc_nulls_last) — note rank/bib are still
    *strings* at bronze, so this is lexicographic order, exactly as the
    reference computes it; row_key = year_gender_clean_duprank.
    """
    df = df.withColumn(
        "athlete_name_clean",
        F.lower(F.regexp_replace(F.col("athlete_name"), "[^a-zA-Z0-9]", "")),
    )
    w = Window.partitionBy("year", "source_gender", "athlete_name_clean").orderBy(
        F.col("rank").asc_nulls_last(), F.col("bib").asc_nulls_last()
    )
    df = df.withColumn("dup_rank", F.row_number().over(w))
    return df.withColumn(
        "row_key",
        F.concat(
            F.col("year").cast("string"),
            F.lit("_"),
            F.col("source_gender"),
            F.lit("_"),
            F.col("athlete_name_clean"),
            F.lit("_"),
            F.col("dup_rank").cast("string"),
        ),
    )


def build_bronze(spark: SparkSession, source_dir: str, files: list[FileSpec]) -> DataFrame:
    """Full bronze plan: per-file ingest → unionByName fold with
    missing-column tolerance (02_bronze.ipynb:184-186) → row_key."""
    if not files:
        raise ValueError("no files to process")
    dfs = [read_csv_with_metadata(spark, f.path(source_dir), f.year, f.gender) for f in files]
    bronze = dfs[0]
    for df in dfs[1:]:
        bronze = bronze.unionByName(df, allowMissingColumns=True)
    return with_row_key(bronze).drop("athlete_name_clean", "dup_rank")


def duplicate_key_count(bronze: DataFrame) -> int:
    """Key-uniqueness audit (02_bronze.ipynb:254): count of row_keys
    appearing more than once. Must be 0.

    Every non-NULL row_key is unique by construction: year and gender
    are fixed per file, athlete_name_clean is alphanumeric (no ``_``,
    so the key splits back into its parts) and dup_rank is a
    row_number within (year, gender, clean). row_key is NULL exactly
    when athlete_name is, and the NULL keys form one group. So the
    audit is 1 when two or more rows have a NULL athlete_name, else 0:
    one narrow scan of athlete_name, without the W1 window's shuffle
    or a group-by over the keys."""
    nulls = bronze.agg(F.count(F.when(F.col("athlete_name").isNull(), 1))).collect()[0][0]
    return 1 if nulls >= 2 else 0
