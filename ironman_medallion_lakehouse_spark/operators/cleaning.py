"""Corpus-level text cleaning: the removal side of the repetition
signals.

``functions/text`` MEASURES repetition (duplicate_line_fraction,
top-n-gram coverage) and ``contamination`` measures cross-document
duplication; this module REMOVES the standard offender — boilerplate
lines repeated across the corpus (nav menus, cookie banners, share
bars), the C4 / CCNet / RefinedWeb line-dedup rule that runs before
document-level dedup so near-identical pages stop matching on their
chrome instead of their content.

No reference counterpart (training-data extension).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def remove_frequent_lines(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_count: int = 1,
) -> DataFrame:
    """Drop every line that occurs (exactly, after trim) more than
    ``max_count`` times ACROSS THE CORPUS, from every document — the
    C4-family boilerplate rule. Returns one row per input document:

        (id, <text_col> cleaned, n_lines, n_removed)

    with the surviving lines rejoined by '\\n' in their original
    order. A document whose every line was boilerplate keeps an empty
    string (the quality gate downstream drops it). Lines
    compare TRIMMED (indentation/trailing whitespace doesn't protect
    a cookie banner) but the ORIGINAL line text is what survives into
    the cleaned document.

    Scale: one posexplode to (doc, pos, line) — the exploded frame is
    **persist()'ed (MEMORY_AND_DISK)** before the count aggregate is
    derived from it, so the corpus really is split/exploded ONCE even
    though two consumers read it (the count branch and the join probe;
    without the materialization Catalyst re-evaluates the explode per
    consumer — ADVICE r8 item 3). Then one vocabulary-of-lines
    grouped count (map-side combined; boilerplate lines collapse to
    one row each — the count table is distinct-lines-sized, not
    corpus-sized), one equi-join attaching counts back (probe-side
    frequency skew is harmless, the build side has one row per
    distinct line), and one per-doc reassembly via
    array_sort(collect_list(struct(pos, line))) — grouped by the
    document key, so the sort is per-doc-lines-sized, never global.

    Storage/fault contract (ADVICE r9): persist — unlike the earlier
    eager localCheckpoint — is LAZY (no job runs until the result is
    consumed), keeps lineage (an executor loss recomputes the lost
    blocks instead of failing the query), and its blocks are
    LRU-evictable and clearable (``spark.catalog.clearCache()`` or an
    unpersistRDD sweep, as bench.py does between queries). The blocks
    otherwise live for the session — callers running many corpora
    through this in one session should clear between calls. Fully
    deterministic (exact strings, integer positions) — replays
    verbatim in SQL with string_agg(... ORDER BY pos)."""
    from pyspark import StorageLevel

    if max_count < 1:
        raise ValueError(f"max_count must be >= 1, got {max_count}")
    lines = (
        docs.select(
            F.col(id_col),
            F.posexplode(F.split(F.col(text_col), "\n")).alias("_pos", "_line"),
        )
        .withColumn("_key", F.trim(F.col("_line")))
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    counts = lines.groupBy("_key").agg(F.count(F.lit(1)).alias("_c"))
    tagged = lines.join(counts, "_key").select(
        id_col,
        "_pos",
        "_line",
        (F.col("_c") > int(max_count)).alias("_drop"),
    )
    rebuilt = tagged.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("n_lines"),
        F.sum(F.col("_drop").cast("int")).alias("n_removed"),
        F.concat_ws(
            "\n",
            F.transform(
                F.array_sort(
                    F.collect_list(
                        F.when(
                            ~F.col("_drop"),
                            F.struct(F.col("_pos"), F.col("_line")),
                        )
                    )
                ),
                lambda s: s["_line"],
            ),
        ).alias(text_col),
    )
    return rebuilt.select(id_col, text_col, "n_lines", "n_removed")
