"""Bronze plan: the driver-side CSV header against Spark's own header
inference, the one-scan-per-header read against per-file reads, and the
key audit read from the bronze commit against its group-by definition."""

from __future__ import annotations

import csv
import os
import tempfile
from collections import Counter

import pytest
from hypothesis import example, given, settings
from hypothesis import strategies as st
from pyspark.sql import Window
from pyspark.sql import functions as F

from ironman_medallion_lakehouse_spark.config import FileSpec
from ironman_medallion_lakehouse_spark.plans import bronze as bronze_plan
from ironman_medallion_lakehouse_spark.sources.tablestore import TableStore

ADVERSARIAL_HEADERS = {
    "duplicate": "rank,athlete_name,rank,bib\n",
    "case_only_duplicate": "Name,name,NAME,bib\n",
    "empty_name": "rank,,bib,\n",
    "quoted_comma": '"last, first",rank,"bib"\n',
    "utf8_bom": "\ufeffrank,athlete_name,bib\n",
    "all_at_once": '\ufeff"a,b",A,,a,"A"\n',
    "leading_blank_line": "\nrank,athlete_name\n",
    "non_ascii": "Zoë,zoë,名前\n",
}


@pytest.mark.parametrize("header", list(ADVERSARIAL_HEADERS.values()), ids=list(ADVERSARIAL_HEADERS))
def test_csv_header_matches_spark_inference(spark, tmp_path, header):
    path = str(tmp_path / "f.csv")
    with open(path, "w", encoding="utf-8", newline="") as fh:
        fh.write(header + "1,2,3,4\n")
    inferred = spark.read.option("header", "true").option("inferSchema", "false").csv(path)
    assert bronze_plan.csv_header(spark, path) == inferred.columns
    df = bronze_plan.read_csv_with_metadata(spark, path, 2024, "M")
    assert df.columns[: len(inferred.columns)] == inferred.columns
    assert df.count() == 1  # the header line is not read as data


def test_csv_directory_header_is_read_by_spark(spark, tmp_path):
    """A directory of CSV parts is not a local file: csv_header
    declines it and Spark reads the header, as before."""
    path = str(tmp_path / "parts")
    spark.createDataFrame([("1", "a"), ("2", "b")], "k string, v string").repartition(2) \
        .write.option("header", "true").csv(path)
    assert bronze_plan.csv_header(spark, path) is None
    df = bronze_plan.read_csv_with_metadata(spark, path, 2024, "M")
    assert df.columns[:2] == ["k", "v"]
    assert sorted(r.k for r in df.collect()) == ["1", "2"]


def test_building_bronze_runs_no_spark_job(spark, landing_dir):
    sc = spark.sparkContext
    group = "bronze-plan-build"
    sc.setJobGroup(group, "build the bronze plan")
    try:
        bronze_plan.build_bronze(spark, landing_dir, [
            FileSpec(2023, "M", "2023_men.csv"), FileSpec(2023, "F", "2023_women.csv")])
    finally:
        sc.setJobGroup(None, None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    assert list(sc.statusTracker().getJobIdsForGroup(group)) == []


def _group_by_oracle(bronze) -> int:
    """The audit's definition: row_keys appearing more than once."""
    return bronze.groupBy("row_key").count().filter(F.col("count") > 1).count()


NAMES = st.sampled_from([
    "", "-", "!!", "...", "-.-", "John Smith", "john smith", "JOHN SMITH", "John  Smith",
    "O'Brien", "OBrien", "José", "Jose", "Zoë", "李明", "李", "Lucy-Anne", "lucyanne",
])


def _write_landing(root: str, year: int, files) -> list[FileSpec]:
    """One CSV per (gender, names) entry of ``files`` under year=<year>/."""
    specs = []
    os.makedirs(os.path.join(root, f"year={year}"), exist_ok=True)
    for i, (gender, names) in enumerate(files):
        spec = FileSpec(year, gender, f"f{i}.csv")
        with open(spec.path(root), "w", encoding="utf-8", newline="") as fh:
            w = csv.writer(fh)
            w.writerow(["rank", "athlete_name", "bib"])
            w.writerows([str(r % 3), n, str(r)] for r, n in enumerate(names))
        specs.append(spec)
    return specs


def _logged_audit(store, version: int) -> int:
    """The audit as the pipeline takes it: from the NULL-name count of
    the files that ``version``'s commit added to bronze."""
    nulls = store.added_null_count("bronze.t", ["athlete_name"], version)
    return bronze_plan.duplicate_key_count(nulls["athlete_name"])


FILES = st.lists(
    st.tuples(st.sampled_from(["M", "F"]), st.lists(NAMES, max_size=8)),
    min_size=1, max_size=3,
)


@settings(max_examples=8, deadline=None)
@example(files=[("M", ["", "-", "John Smith", "john smith"]), ("F", ["!!", "..."])],
         history=[("M", ["-", "John Smith"])])
@given(files=FILES, history=FILES)
def test_duplicate_key_count_matches_group_by(spark, files, history):
    """The audit read from the log equals the group-by over the ingested
    bronze: for a full load, and for an insert-only append of the same
    names onto a table that already holds ``history`` (and, on a second
    append, those very names): a NULL row_key never matches in the
    anti-join, so every NULL-named row of the source is inserted."""
    with tempfile.TemporaryDirectory() as root:
        store = TableStore(spark, os.path.join(root, "wh"))
        bronze = bronze_plan.build_bronze(spark, root, _write_landing(root, 2024, files))
        want = _group_by_oracle(bronze)
        store.save_overwrite(bronze, "bronze.t", partition_by=["year"])
        assert _logged_audit(store, store.version("bronze.t")) == want

        old = bronze_plan.build_bronze(spark, root, _write_landing(root, 2023, history))
        store.save_overwrite(old, "bronze.t", partition_by=["year"])
        for _ in range(2):
            store.merge_insert_only(bronze, "bronze.t", ["row_key"], txn=("app", _))
            assert _logged_audit(store, store.version("bronze.t")) == want


def _per_file_oracle(spark, source_dir, files):
    """build_bronze as one scan per file: each file read on its own,
    the frames folded by unionByName, then the W1 window's columns
    added one at a time and dropped."""
    dfs = [bronze_plan.read_csv_with_metadata(spark, f.path(source_dir), f.year, f.gender)
           for f in files]
    df = dfs[0]
    for other in dfs[1:]:
        df = df.unionByName(other, allowMissingColumns=True)
    df = df.withColumn(
        "athlete_name_clean",
        F.lower(F.regexp_replace(F.col("athlete_name"), "[^a-zA-Z0-9]", "")),
    )
    w = Window.partitionBy("year", "source_gender", "athlete_name_clean").orderBy(
        F.col("rank").asc_nulls_last(), F.col("bib").asc_nulls_last()
    )
    df = df.withColumn("dup_rank", F.row_number().over(w))
    df = df.withColumn("row_key", F.concat(
        F.col("year").cast("string"), F.lit("_"), F.col("source_gender"), F.lit("_"),
        F.col("athlete_name_clean"), F.lit("_"), F.col("dup_rank").cast("string")))
    return df.drop("athlete_name_clean", "dup_rank")


def _write_csv(path, header, rows):
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w", encoding="utf-8", newline="") as fh:
        csv.writer(fh).writerows([header, *rows])


def test_bronze_one_scan_per_header_equals_per_file_reads(spark, tmp_path):
    """Files sharing a header are read by one scan and looked up by
    path: the result equals the per-file fold in rows, column order
    and types, for awkward file names, two header groups listed out of
    order, "-" and empty cells, and a directory of parts."""
    root = str(tmp_path / "land ing")
    full = ["rank", "athlete_name", "bib", "country"]
    other = ["bib", "athlete_name", "rank"]  # reordered, no country
    layout = [
        (FileSpec(2023, "M", "men 2023.csv"), full,
         [["1", "Ann Lee", "7", "US"], ["2", "Ann Lee", "8", "-"], ["-", "", "9", ""]]),
        (FileSpec(2023, "F", "wo%20men.csv"), other, [["3", "Zoë Ö", "1"], ["4", "-", "-"]]),
        (FileSpec(2024, "F", "é-ü.csv"), full, [["5", "Bo", "2", "DE"]]),
        (FileSpec(2024, "M", "it's.csv"), other, [["6", "Cy", "3"]]),
    ]
    for spec, header, rows in layout:
        _write_csv(spec.path(root), header, rows)
    parts = FileSpec(2025, "M", "parts")
    spark.createDataFrame([("5", "Di", "4", "FR"), ("-", "Ed", "", "IT")], ", ".join(
        f"{c} string" for c in full)).repartition(2).write.option("header", "true") \
        .csv(parts.path(root))
    files = [spec for spec, _h, _r in layout] + [parts]

    got = bronze_plan.build_bronze(spark, root, files)
    want = _per_file_oracle(spark, root, files)
    assert got.columns == want.columns
    assert [f.dataType for f in got.schema] == [f.dataType for f in want.schema]
    drop = ("load_timestamp", "load_date")  # each plan stamps its own clock
    rows = Counter(tuple(r) for r in got.drop(*drop).collect())
    assert rows == Counter(tuple(r) for r in want.drop(*drop).collect())
    assert sum(rows.values()) == 9
    assert got.filter(F.col("year").isNull() | F.col("source_file").isNull()).count() == 0
    assert {r.source_file for r in got.select("source_file").distinct().collect()} == {
        f.path(root) for f in files}


def test_bronze_rejects_a_file_listed_twice(spark, landing_dir):
    spec = FileSpec(2023, "M", "2023_men.csv")
    with pytest.raises(ValueError, match="more than once"):
        bronze_plan.build_bronze(spark, landing_dir, [spec, FileSpec(2023, "F", "2023_men.csv")])
