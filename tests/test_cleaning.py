"""remove_frequent_lines (operators/cleaning): the C4-family
corpus-level boilerplate line rule. Pins: cross-document counting
(a line unique within its doc still drops when the corpus repeats
it), trimmed matching with original text preserved, order-stable
reassembly, all-boilerplate docs (kept-empty vs dropped), max_count
threshold semantics, and determinism under repartition."""

from __future__ import annotations

import pytest
from pyspark.sql import Row

from ironman_medallion_lakehouse_spark.operators.cleaning import (
    remove_frequent_lines,
)

BANNER = "Accept all cookies"
NAV = "Home | About | Contact"

DOCS = [
    (0, f"{NAV}\nAlpha unique content line\n{BANNER}"),
    (1, f"{NAV}\nBeta body text here\n  {BANNER}  \nmore beta text"),
    (2, f"{BANNER}\n{NAV}"),  # pure boilerplate page
    (3, "Gamma standalone document"),
]


def _df(spark, docs=DOCS):
    return spark.createDataFrame([Row(doc_id=i, text=t) for i, t in docs])


def test_cross_document_boilerplate_removed_in_order(spark):
    got = {
        r.doc_id: r
        for r in remove_frequent_lines(_df(spark), max_count=1).collect()
    }
    # each boilerplate line appears 3x (> 1) across the corpus
    assert got[0].text == "Alpha unique content line"
    assert got[1].text == "Beta body text here\nmore beta text"
    assert got[0].n_lines == 3 and got[0].n_removed == 2
    assert got[1].n_lines == 4 and got[1].n_removed == 2
    assert got[3].text == "Gamma standalone document" and got[3].n_removed == 0


def test_trimmed_match_original_text_survives(spark):
    """Doc 1's banner is indented ('  BANNER  ') yet still counts with
    the clean copies; a KEPT indented line keeps its original form."""
    docs = DOCS + [(4, f"  kept indented line\n{BANNER}")]
    got = {
        r.doc_id: r for r in remove_frequent_lines(_df(spark, docs)).collect()
    }
    assert got[4].text == "  kept indented line"
    assert got[1].n_removed == 2  # the indented banner dropped too


def test_all_boilerplate_doc_kept_empty(spark):
    kept = {
        r.doc_id: r for r in remove_frequent_lines(_df(spark)).collect()
    }
    assert kept[2].text == "" and kept[2].n_removed == 2


def test_max_count_threshold(spark):
    """max_count=3 tolerates the 3x boilerplate; nothing is removed."""
    got = remove_frequent_lines(_df(spark), max_count=3).collect()
    assert all(r.n_removed == 0 for r in got)
    with pytest.raises(ValueError, match="max_count"):
        remove_frequent_lines(_df(spark), max_count=0)


def test_deterministic_under_repartition(spark):
    a = sorted(map(tuple, remove_frequent_lines(_df(spark)).collect()))
    b = sorted(
        map(
            tuple,
            remove_frequent_lines(_df(spark).repartition(8)).collect(),
        )
    )
    assert a == b
