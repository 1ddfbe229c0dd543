"""Shared fixtures: a session-scoped SparkSession and synthetic landing CSVs.

The CSV fixtures follow FIXTURES.md §1: 30-column raw schema with a
clean finisher, a DNF with "-" times, an empty country, duplicate
(year, gender, name) pairs (exercises the W1 dedup window), punctuated
names, a >60s segment-sum discrepancy, and a single-token name.
"""

from __future__ import annotations

import csv
import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from ironman_medallion_lakehouse_spark.session import get_spark  # noqa: E402

RAW_COLUMNS = [
    "rank", "athlete_name", "country", "div_rank", "gender_rank", "overall_rank",
    "designation", "bib", "division", "points", "swim_time", "swim_time_detail",
    "swim_div_rank", "swim_gender_rank", "swim_overall_rank", "transition_1",
    "transition_1_detail", "bike_time", "bike_time_detail", "bike_div_rank",
    "bike_gender_rank", "bike_overall_rank", "transition_2", "transition_2_detail",
    "run_time", "run_time_detail", "run_div_rank", "run_gender_rank",
    "run_overall_rank", "finish_time",
]


def _row(**kw) -> dict[str, str]:
    base = {c: "-" for c in RAW_COLUMNS}
    base.update(kw)
    return base


def _men_2023() -> list[dict[str, str]]:
    return [
        _row(rank="1", athlete_name="Sam Laidlow", country="FR", div_rank="1",
             gender_rank="1", overall_rank="1", designation="Finisher", bib="3",
             division="MPRO", points="5000", swim_time="0:47:50", transition_1="0:03:06",
             bike_time="4:04:36", transition_2="0:02:55", run_time="2:41:59",
             finish_time="8:06:22", swim_div_rank="2", bike_div_rank="1", run_div_rank="3"),
        _row(rank="2", athlete_name="Patrick Lange", country="DE", designation="Finisher",
             bib="7", division="MPRO", points="4800", swim_time="0:50:00",
             transition_1="0:03:00", bike_time="4:10:00", transition_2="0:03:00",
             run_time="2:35:00", finish_time="7:41:00"),
        # duplicate name pair → dup_rank 1 & 2
        _row(rank="10", athlete_name="John Smith", country="US", designation="Finisher",
             bib="101", division="M35-39", swim_time="1:00:00", transition_1="0:05:00",
             bike_time="5:00:00", transition_2="0:05:00", run_time="3:30:00",
             finish_time="9:40:00"),
        _row(rank="11", athlete_name="John Smith", country="US", designation="Finisher",
             bib="102", division="M40-44", swim_time="1:01:00", transition_1="0:05:00",
             bike_time="5:01:00", transition_2="0:05:00", run_time="3:31:00",
             finish_time="9:43:00"),
        # DNF with "-" everywhere after the bike
        _row(athlete_name="Magnus Ditlev", country="DK", designation="DNF", bib="12",
             division="MPRO", swim_time="0:48:00", transition_1="0:03:00",
             bike_time="4:05:00"),
        # DNS: everything "-"
        _row(athlete_name="Unknown Starter", country="NO", designation="DNS", bib="55",
             division="M30-34"),
        # DQ row
        _row(athlete_name="Bad Actor", country="IT", designation="DQ", bib="66",
             division="M25-29", swim_time="0:55:00", bike_time="4:40:00",
             run_time="3:00:00", finish_time="8:45:00"),
        # >60s discrepancy between segment sum and finish_time
        _row(rank="40", athlete_name="Timo Drift", country="NL", designation="Finisher",
             bib="200", division="M45-49", swim_time="1:10:00", transition_1="0:06:00",
             bike_time="5:30:00", transition_2="0:06:00", run_time="4:00:00",
             finish_time="11:00:00"),
        # punctuation + non-ASCII name, single-token name
        _row(rank="50", athlete_name="Lucy-Anne O'Brien", country="IE",
             designation="Finisher", bib="300", division="M50-54", swim_time="1:15:00",
             transition_1="0:07:00", bike_time="6:00:00", transition_2="0:07:00",
             run_time="4:30:00", finish_time="11:59:00"),
        _row(rank="60", athlete_name="Ironman", country="", designation="Finisher",
             bib="400", division="M55-59", swim_time="1:20:00", transition_1="0:08:00",
             bike_time="6:30:00", transition_2="0:08:00", run_time="5:00:00",
             finish_time="13:06:00"),
        # finisher with missing rank → has_data_issue
        _row(athlete_name="Glitch Row", country="SE", designation="Finisher", bib="500",
             division="M60-64", swim_time="1:25:00", transition_1="0:09:00",
             bike_time="7:00:00", transition_2="0:09:00", run_time="5:30:00",
             finish_time="14:13:00"),
    ]


def _women_2023() -> list[dict[str, str]]:
    return [
        _row(rank="1", athlete_name="Lucy Charles-Barclay", country="GB", div_rank="1",
             designation="Finisher", bib="1", division="FPRO", points="5000",
             swim_time="0:48:14", transition_1="0:02:49", bike_time="4:32:29",
             transition_2="0:02:54", run_time="2:57:38", finish_time="8:24:04"),
        _row(rank="2", athlete_name="Anne Haug", country="DE", designation="Finisher",
             bib="2", division="FPRO", swim_time="0:52:00", transition_1="0:03:00",
             bike_time="4:40:00", transition_2="0:03:00", run_time="2:48:00",
             finish_time="8:26:00"),
        _row(athlete_name="Solveig Løvseth", country="NO", designation="DNF", bib="21",
             division="FPRO", swim_time="0:50:00"),
        _row(rank="30", athlete_name="Maja Nielsen", country="DK", designation="Finisher",
             bib="150", division="F30-34", swim_time="1:05:00", transition_1="0:05:00",
             bike_time="5:10:00", transition_2="0:05:00", run_time="3:40:00",
             finish_time="10:05:00"),
    ]


def _men_2024() -> list[dict[str, str]]:
    return [
        # same natural key as 2023 Sam Laidlow → exercises SCD-1 argmax
        _row(rank="4", athlete_name="Sam Laidlow", country="FR", designation="Finisher",
             bib="3", division="MPRO", swim_time="0:49:00", transition_1="0:03:00",
             bike_time="4:15:00", transition_2="0:03:00", run_time="2:50:00",
             finish_time="8:00:00"),
        _row(rank="1", athlete_name="Patrick Lange", country="DE", designation="Finisher",
             bib="1", division="MPRO", swim_time="0:51:00", transition_1="0:03:00",
             bike_time="4:05:00", transition_2="0:02:30", run_time="2:30:00",
             finish_time="7:31:30"),
        _row(rank="12", athlete_name="New Guy", country="BR", designation="Finisher",
             bib="77", division="M18-24", swim_time="1:02:00", transition_1="0:04:00",
             bike_time="5:05:00", transition_2="0:04:00", run_time="3:20:00",
             finish_time="9:35:00"),
    ]


def _women_2024() -> list[dict[str, str]]:
    return [
        _row(rank="1", athlete_name="Laura Philipp", country="DE", designation="Finisher",
             bib="14", division="FPRO", swim_time="0:55:00", transition_1="0:03:00",
             bike_time="4:30:00", transition_2="0:03:00", run_time="2:45:00",
             finish_time="8:16:00"),
        _row(athlete_name="Late Scratch", country="US", designation="DNS", bib="90",
             division="F40-44"),
    ]


FIXTURE_FILES = {
    (2023, "M", "2023_men.csv"): _men_2023,
    (2023, "F", "2023_women.csv"): _women_2023,
    (2024, "M", "2024_men.csv"): _men_2024,
    (2024, "F", "2024_women.csv"): _women_2024,
}


@pytest.fixture(scope="session")
def spark():
    s = get_spark(app_name="tests", master="local[4]", shuffle_partitions=4)
    s.sparkContext.setLogLevel("ERROR")
    yield s


@pytest.fixture(scope="session")
def landing_dir(tmp_path_factory) -> str:
    root = tmp_path_factory.mktemp("landing")
    for (year, _gender, filename), rows_fn in FIXTURE_FILES.items():
        d = root / f"year={year}"
        d.mkdir(exist_ok=True)
        with open(d / filename, "w", newline="") as fh:
            w = csv.DictWriter(fh, fieldnames=RAW_COLUMNS)
            w.writeheader()
            w.writerows(rows_fn())
    return str(root)


@pytest.fixture()
def file_specs():
    from ironman_medallion_lakehouse_spark.config import FileSpec

    return [
        FileSpec(year=year, gender=gender, filename=filename)
        for (year, gender, filename) in FIXTURE_FILES
    ]
