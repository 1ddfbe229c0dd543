"""End-to-end curation pipeline (training_pipeline.curate): the
oracled stage operators composed — gate → dedup survivors → mixture
sample → chunk → pack. Runs on the real sf0.001 documents fixture plus
planted rows that each stage must act on."""

from __future__ import annotations

from pyspark.sql import Row
from pyspark.sql import functions as F

from ironman_medallion_lakehouse_spark.session import load_tables
from ironman_medallion_lakehouse_spark.training_pipeline import curate

SF = "/root/testdata/sf0.001"


def test_curate_end_to_end(spark):
    docs = load_tables(spark, SF, "documents")["documents"].select(
        "doc_id", "text", "lang"
    )
    # plant: a too-short doc (gate drops), an exact near-dup pair
    # (dedup keeps the min id), all with ids above the fixture range
    extra = spark.createDataFrame(
        [
            Row(doc_id=900001, text="too short", lang="en"),
            Row(doc_id=900002, text="planted duplicate content row with plenty of words "
                                    "so the quality gate keeps it around for deduplication "
                                    "stage testing purposes here", lang="en"),
            Row(doc_id=900003, text="planted duplicate content row with plenty of words "
                                    "so the quality gate keeps it around for deduplication "
                                    "stage testing purposes here", lang="en"),
        ]
    )
    res = curate(spark, docs.unionByName(extra), min_words=10)
    # stage monotonicity + planted behaviors
    assert res.n_input == docs.count() + 3
    assert res.n_quality_kept < res.n_input  # the short doc (at least) dropped
    assert res.n_dedup_survivors < res.n_quality_kept  # planted dup collapsed
    assert res.n_sampled == res.n_dedup_survivors  # no rates given -> no-op
    assert res.n_chunks >= res.n_sampled  # every kept doc yields >= 1 chunk
    assert res.n_packs >= 1

    out = res.chunks
    assert out.count() == res.n_chunks
    # survivor of the planted pair is the min id; its twin is gone
    ids = {r.doc_id for r in out.select("doc_id").distinct().collect()}
    assert 900002 in ids and 900003 not in ids and 900001 not in ids
    # pack coordinates are consistent: offsets within budget, packs contiguous
    assert out.filter(F.col("start_offset") >= 2048).count() == 0
    assert out.filter(F.col("end_pack") < F.col("start_pack")).count() == 0


def test_curate_sample_rates_apply(spark):
    docs = load_tables(spark, SF, "documents")["documents"].select(
        "doc_id", "text", "lang"
    )
    full = curate(spark, docs, min_words=5)
    sampled = curate(spark, docs, min_words=5, sample_rates={"en": 1.0})
    # only English kept; everything else (de/es/zh/fr) dropped by the mixture
    assert 0 < sampled.n_sampled < full.n_sampled

