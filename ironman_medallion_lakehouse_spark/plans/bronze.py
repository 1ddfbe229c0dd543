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

from pyspark.sql import Column, DataFrame, DataFrameReader, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.types import IntegerType, StringType, StructField, StructType

from ironman_medallion_lakehouse_spark.config import FileSpec
from ironman_medallion_lakehouse_spark.functions.scalar import (
    literal_lookup,
    normalize_dash_to_null,
)


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


def _csv_reader(spark: SparkSession, header: list[str] | None) -> DataFrameReader:
    """A header'd CSV reader; an all-string schema of ``header`` when
    it is known, so planning the read runs no Spark job."""
    reader = spark.read.option("header", "true").option("inferSchema", "false")
    if header is None:
        return reader
    return reader.schema(StructType([StructField(c, StringType()) for c in header]))


def _with_lineage(df: DataFrame, year: Column, gender: Column, source_file: Column) -> DataFrame:
    """S2+S3: literal "-" normalized to NULL in every CSV column, then
    the lineage columns (year, source_gender, source_file,
    load_timestamp, load_date)."""
    return normalize_dash_to_null(df).withColumns(
        {
            "year": year.cast(IntegerType()),
            "source_gender": gender.cast("string"),
            "source_file": source_file.cast("string"),
            "load_timestamp": F.current_timestamp(),
            "load_date": F.current_date(),
        }
    )


def read_csv_with_metadata(
    spark: SparkSession, file_path: str, year: int, gender: str
) -> DataFrame:
    """S1+S2+S3 (02_bronze.ipynb:131-152): header'd all-string CSV read,
    literal "-" normalized to NULL in every column, then lineage
    metadata (year, source_gender, source_file, load_timestamp,
    load_date). A local file's header is read on the driver
    (``csv_header``) and passed as an all-string schema, so planning
    the read runs no Spark job."""
    df = _csv_reader(spark, csv_header(spark, file_path)).csv(file_path)
    return _with_lineage(df, F.lit(year), F.lit(gender), F.lit(file_path))


def _read_csv_group(
    spark: SparkSession, header: list[str], lineage: dict[str, dict[str, str | int]]
) -> DataFrame:
    """``read_csv_with_metadata`` for many local files that share
    ``header``, as one CSV scan: ``lineage`` maps each file's qualified
    URI (what ``input_file_name()`` returns for its rows) to its year,
    source_gender and source_file, looked up in one map literal."""
    df = _csv_reader(spark, header).csv([f["source_file"] for f in lineage.values()])
    meta = literal_lookup(F.input_file_name(), lineage)
    return _with_lineage(df, meta["year"], meta["source_gender"], meta["source_file"])


def _qualified_uri(spark: SparkSession, path: str) -> str:
    """``path`` as Spark's file scan names it: Hadoop's qualified URI."""
    jvm_path = spark._jvm.org.apache.hadoop.fs.Path(path)
    fs = jvm_path.getFileSystem(spark._jsc.hadoopConfiguration())
    return fs.makeQualified(jvm_path).toUri().toString()


def with_row_key(df: DataFrame) -> DataFrame:
    """W1 dedup-rank + row_key (02_bronze.ipynb:205-231), one projection.

    athlete_name_clean = lower(strip-non-alnum(name)); dup_rank =
    row_number over (year, source_gender, athlete_name_clean ORDER BY
    rank asc_nulls_last, bib asc_nulls_last) — note rank/bib are still
    *strings* at bronze, so this is lexicographic order, exactly as the
    reference computes it; row_key = year_gender_clean_duprank. Only
    row_key is added: the clean name and dup_rank are not bronze
    columns.
    """
    clean = F.lower(F.regexp_replace(F.col("athlete_name"), "[^a-zA-Z0-9]", ""))
    w = Window.partitionBy(F.col("year"), F.col("source_gender"), clean).orderBy(
        F.col("rank").asc_nulls_last(), F.col("bib").asc_nulls_last()
    )
    return df.withColumn(
        "row_key",
        F.concat(
            F.col("year").cast("string"),
            F.lit("_"),
            F.col("source_gender"),
            F.lit("_"),
            clean,
            F.lit("_"),
            F.row_number().over(w).cast("string"),
        ),
    )


def build_bronze(spark: SparkSession, source_dir: str, files: list[FileSpec]) -> DataFrame:
    """Full bronze plan: ingest → unionByName fold with missing-column
    tolerance (02_bronze.ipynb:184-186) → row_key.

    The local files that share a header are read by one CSV scan
    (``_read_csv_group``) rather than one scan each: the plan the
    first run of a fresh JVM analyses, optimizes and compiles is then
    as big as the number of distinct headers, not of files. A path that
    is not a local file (a directory of parts, a glob) keeps its own
    ``read_csv_with_metadata`` scan. The groups and those scans are
    folded in order of first appearance, so the columns come out in the
    order the per-file fold gives them. A file listed twice raises
    ValueError: its rows would be ingested twice."""
    if not files:
        raise ValueError("no files to process")
    # header tuple → its group's lineage, or a file's URI → its own frame
    parts: dict[object, object] = {}
    seen: set[str] = set()
    for f in files:
        path = f.path(source_dir)
        uri = _qualified_uri(spark, path)
        if uri in seen:
            raise ValueError(f"landing file listed more than once: {path}")
        seen.add(uri)
        header = csv_header(spark, path)
        if header is None:
            parts[uri] = read_csv_with_metadata(spark, path, f.year, f.gender)
            continue
        parts.setdefault(tuple(header), {})[uri] = {
            "year": f.year, "source_gender": f.gender, "source_file": path,
        }
    frames = [
        _read_csv_group(spark, list(key), part) if isinstance(key, tuple) else part
        for key, part in parts.items()
    ]
    bronze = frames[0]
    for df in frames[1:]:
        bronze = bronze.unionByName(df, allowMissingColumns=True)
    return with_row_key(bronze)


def duplicate_key_count(null_names: int) -> int:
    """Key-uniqueness audit (02_bronze.ipynb:254): count of row_keys
    appearing more than once among ``null_names`` NULL athlete names
    and the other rows of one ingest. Must be 0.

    Every non-NULL row_key is unique by construction: year and gender
    are fixed per file, athlete_name_clean is alphanumeric (no ``_``,
    so the key splits back into its parts) and dup_rank is a
    row_number within (year, gender, clean). row_key is NULL exactly
    when athlete_name is, and the NULL keys form one group. So the
    audit is 1 when two or more rows have a NULL athlete_name, else 0.
    ``pipeline.run`` takes that count from the null counts the bronze
    commit logs for the files it added: an insert-only merge on
    row_key inserts every NULL-keyed source row (a left anti join
    never matches NULL), so the count is the ingested rows' own."""
    return 1 if null_names >= 2 else 0
