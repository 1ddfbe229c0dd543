"""Bronze plan: the driver-side CSV header against Spark's own header
inference, and the key audit against its group-by definition."""

from __future__ import annotations

import csv
import os
import tempfile

import pytest
from hypothesis import example, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from ironman_medallion_lakehouse_spark.config import FileSpec
from ironman_medallion_lakehouse_spark.plans import bronze as bronze_plan

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


@settings(max_examples=8, deadline=None)
@example(files=[("M", ["", "-", "John Smith", "john smith"]), ("F", ["!!", "..."])])
@given(
    files=st.lists(
        st.tuples(st.sampled_from(["M", "F"]), st.lists(NAMES, max_size=8)),
        min_size=1, max_size=3,
    )
)
def test_duplicate_key_count_matches_group_by(spark, files):
    with tempfile.TemporaryDirectory() as root:
        specs = []
        for i, (gender, names) in enumerate(files):
            os.makedirs(os.path.join(root, "year=2024"), exist_ok=True)
            spec = FileSpec(2024, gender, f"f{i}.csv")
            with open(spec.path(root), "w", encoding="utf-8", newline="") as fh:
                w = csv.writer(fh)
                w.writerow(["rank", "athlete_name", "bib"])
                w.writerows([str(r % 3), n, str(r)] for r, n in enumerate(names))
            specs.append(spec)
        bronze = bronze_plan.build_bronze(spark, root, specs)
        assert bronze_plan.duplicate_key_count(bronze) == _group_by_oracle(bronze)
