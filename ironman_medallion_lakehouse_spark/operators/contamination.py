"""Benchmark decontamination + cross-document duplicate-span coverage.

Beyond-reference extensions (BASELINE.json north star: the operations a
large-scale training-data pipeline needs). Two n-gram-overlap families:

- ``benchmark_overlap``: flag training documents that share word
  n-grams with a held-out benchmark/eval set — the decontamination
  step every serious pretraining run performs (GPT-3 appendix C,
  The Pile §6.3, Llama 2 §A.6 all describe exactly this 8-to-13-gram
  collision test). Output per training doc: how many of its distinct
  n-grams appear anywhere in the benchmark, and the contaminated flag.

- ``duplicate_span_coverage``: per-document fraction of token
  positions covered by an n-gram that also occurs in ANOTHER document
  — the corpus-level duplicate-text measure behind exact-substring
  dedup (Lee et al. 2022, "Deduplicating Training Data Makes Language
  Models Better"): a 50-token doc whose first 20 tokens are a verbatim
  copy of some other doc scores 20/50 even though the doc as a whole
  is not a near-duplicate. MinHash (q43/q83) finds *documents* that
  are similar; this finds *spans* that are copied.

100 TB design:
- N-grams travel as 60-bit BIGINT hashes (``token_hash_raw`` over the
  joined gram text), never strings: the shuffle moves 8 bytes per
  gram, and the equi-joins are long-key hash joins.
- ``benchmark_overlap``: the benchmark side is tiny by construction
  (eval sets are thousands of docs, not billions) → its distinct-gram
  set is explicitly ``F.broadcast``; the training side is one
  map-only shingle pass + a broadcast-hash semi-join + one partial
  aggregation. Zero all-to-all shuffles of corpus data.
- ``duplicate_span_coverage``: two shuffles total — one to count
  distinct docs per gram hash (map-side combined; output is
  vocabulary-of-grams sized), one to re-aggregate covered positions
  per doc. The position-explosion step is bounded by n × (occurrences
  of *duplicated* grams only) — on a mostly-clean corpus that is a
  small fraction of total tokens. A mega-duplicated gram (boilerplate)
  is one hash row on the build side of the join, not a skew key.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ironman_medallion_lakehouse_spark.functions.text import words
from ironman_medallion_lakehouse_spark.operators.dedup import token_hash_raw


def _gram_hash_at(toks: Column, start: Column, n: int) -> Column:
    """60-bit hash of the n-gram of ``toks`` starting at 1-based
    ``start`` — md5 over the space-joined window, the engine-portable
    form (DuckDB: ``('0x' || substr(md5(array_to_string(w[s:s+n-1],
    ' ')), 1, 15))::UBIGINT``)."""
    return token_hash_raw(F.concat_ws(" ", F.slice(toks, start, n)))


def positional_ngram_hashes(
    docs: DataFrame, n: int, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """(id, n_tokens, start, gram) — one row per n-gram occurrence,
    ``start`` 1-based; docs shorter than ``n`` tokens yield no rows
    (and are handled by callers via a left join back to ``docs``).
    Pure Column: let-bound tokenization, sequence() of starts,
    posexplode — map-only, no Python, no shuffle."""
    from ironman_medallion_lakehouse_spark.functions.text import _let

    def grams(toks: Column) -> Column:
        # sequence(1, 0) is DESCENDING in Spark, not empty, and
        # optimizer rewrites can evaluate this projection even for rows
        # the size filter rejects — so the start list must be guarded
        # to empty itself, not rely on the row filter
        starts = F.when(
            F.size(toks) >= n, F.sequence(F.lit(1), F.size(toks) - F.lit(n - 1))
        ).otherwise(F.array().cast("array<int>"))
        return F.struct(
            F.size(toks).cast("bigint").alias("n_tokens"),
            F.transform(
                starts, lambda s: _gram_hash_at(toks, s, n)
            ).alias("grams"),
        )

    toks = words(text_col)
    per_doc = docs.filter(F.size(toks) >= n).select(
        F.col(id_col), _let(toks, grams).alias("g")
    )
    return per_doc.select(
        F.col(id_col),
        F.col("g.n_tokens").alias("n_tokens"),
        F.posexplode("g.grams").alias("pos0", "gram"),
    ).select(
        F.col(id_col),
        "n_tokens",
        (F.col("pos0") + 1).cast("bigint").alias("start"),
        "gram",
    )


def benchmark_overlap(
    docs: DataFrame,
    benchmark: DataFrame,
    n: int = 8,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Decontamination report: (id, n_grams, n_overlap, contaminated)
    for every training doc. ``n_grams`` counts the doc's DISTINCT
    n-gram hashes; ``n_overlap`` counts how many of those also occur
    anywhere in ``benchmark``; ``contaminated`` = n_overlap > 0. Docs
    shorter than ``n`` tokens report (0, 0, false) — nothing to
    collide on. The benchmark gram set is broadcast (see module
    docstring)."""
    doc_grams = (
        positional_ngram_hashes(docs, n, text_col, id_col)
        .select(id_col, "gram")
        .distinct()
    )
    bench_grams = (
        positional_ngram_hashes(benchmark, n, text_col, id_col)
        .select("gram")
        .distinct()
    )
    hits = (
        doc_grams.join(F.broadcast(bench_grams), "gram", "inner")
        .groupBy(id_col)
        .agg(F.count(F.lit(1)).alias("n_overlap"))
    )
    totals = doc_grams.groupBy(id_col).agg(F.count(F.lit(1)).alias("n_grams"))
    return (
        docs.select(id_col)
        .join(totals, id_col, "left")
        .join(hits, id_col, "left")
        .select(
            F.col(id_col),
            F.coalesce("n_grams", F.lit(0)).cast("bigint").alias("n_grams"),
            F.coalesce("n_overlap", F.lit(0)).cast("bigint").alias("n_overlap"),
            (F.coalesce("n_overlap", F.lit(0)) > 0).alias("contaminated"),
        )
    )


def duplicate_span_coverage(
    docs: DataFrame,
    n: int = 8,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """(id, n_tokens, covered_tokens, dup_fraction): per-doc fraction
    of token positions lying inside at least one n-gram that also
    occurs in a DIFFERENT document. A gram repeated only within the
    same doc does not count (self-repetition is q47's Gopher signals;
    this op measures cross-document copying). ``dup_fraction`` is the
    exact rational covered/total rounded to 4 decimals. Docs shorter
    than ``n`` tokens report 0 coverage."""
    grams = positional_ngram_hashes(docs, n, text_col, id_col)

    # grams seen in ≥2 distinct docs: group on the 60-bit hash; output
    # is gram-vocabulary sized, map-side combined
    dup_grams = (
        grams.select("gram", id_col)
        .distinct()
        .groupBy("gram")
        .agg(F.count(F.lit(1)).alias("ndocs"))
        .filter(F.col("ndocs") >= 2)
        .select("gram")
    )

    # positions covered by a duplicated gram occurrence: explode each
    # surviving occurrence into its n positions, then count distinct
    covered = (
        grams.join(dup_grams, "gram", "inner")
        .select(
            F.col(id_col),
            F.explode(
                F.sequence(F.col("start"), F.col("start") + F.lit(n - 1))
            ).alias("pos"),
        )
        .groupBy(id_col)
        .agg(F.count_distinct("pos").alias("covered_tokens"))
    )

    toks = words(text_col)
    totals = docs.select(
        F.col(id_col), F.size(toks).cast("bigint").alias("n_tokens")
    )
    return (
        totals.join(covered, id_col, "left")
        .select(
            F.col(id_col),
            "n_tokens",
            F.coalesce("covered_tokens", F.lit(0)).cast("bigint").alias(
                "covered_tokens"
            ),
            # No final round: covered/n_tokens is a single IEEE divide of
            # exact integer counts — bit-identical on any engine unrounded,
            # but ROUND could land on a representable half-boundary and
            # split engines (the r11 q98 class).
            (
                F.coalesce("covered_tokens", F.lit(0)).cast("double")
                / F.greatest(F.col("n_tokens"), F.lit(1)).cast("double")
            ).alias("dup_fraction"),
        )
    )
