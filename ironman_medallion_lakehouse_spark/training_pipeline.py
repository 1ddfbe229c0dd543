"""End-to-end training-data curation — the engine's operators composed
into the pipeline a 100 TB corpus actually runs:

    quality gate → near-dup grouping (survivors) → mixture control
    (explicit per-stratum rates) → sliding-window chunking →
    sequence packing

Each stage is the SAME operator the suite oracles individually (q89,
q83, q93, q95, q84), so correctness of the composition reduces to
correctness of the stages plus this module's glue — which the e2e test
covers. Stage costs at scale (see SCALING.md): the gate is a map-only
pass at scan speed, dedup is the contracted LSH pipeline, sampling is
a zero-shuffle filter, chunking is map-only, packing is the two-level
prefix sum. Nothing here adds a shuffle the stages don't already own.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ironman_medallion_lakehouse_spark.functions import text as T
from ironman_medallion_lakehouse_spark.operators.chunking import chunk_documents
from ironman_medallion_lakehouse_spark.operators.dedup import near_dedup_groups
from ironman_medallion_lakehouse_spark.operators.packing import pack_sequences
from ironman_medallion_lakehouse_spark.operators.sampling import stratified_sample

# chunk_index fits comfortably below this for any chunkable document;
# the uid keys pack ordering after chunking
_CHUNK_UID_BASE = 1 << 20


@dataclass
class CurationResult:
    # per-stage counts are None when curate(counts=False): a consumer
    # that only reads ``chunks`` (the q153 entry) skips the six count/
    # collect driver actions entirely — they are monitoring output,
    # not inputs to any stage
    n_input: int | None
    n_quality_kept: int | None
    n_dedup_survivors: int | None
    n_sampled: int | None
    n_chunks: int | None
    n_packs: int | None
    chunks: DataFrame  # (doc_id, chunk_index, chunk_uid, n_tokens, pack coords)


def curate(
    spark: SparkSession,
    docs: DataFrame,
    min_words: int = 20,
    max_top_bigram: float = 0.30,
    min_stopword_ratio: float = 0.0,
    dedup_threshold: float = 0.9,
    dedup_bands: int = 16,
    sample_rates: dict[str, float] | None = None,
    strata_col: str = "lang",
    chunk_size: int = 128,
    chunk_overlap: int = 32,
    pack_budget: int = 2048,
    counts: bool = True,
) -> CurationResult:
    """Run the full curation pipeline over a documents frame
    (doc_id, text, lang, ...). Returns per-stage counts and the packed
    chunk table.

    ``counts=False`` (r15) skips the six per-stage count/collect
    actions (they become None in the result): the ``chunks`` frame is
    identical — counts are monitoring output, read by operators-report
    consumers, never by a downstream stage. A chunks-only consumer
    saves six driver-blocking jobs per invocation."""
    n_input = docs.count() if counts else None

    # 1. quality gate — one narrow map-only pass (the q89 signals)
    gated = docs.filter(
        (T.n_words("text") >= min_words)
        & (T.top_bigram_fraction("text") < max_top_bigram)
        & (T.stopword_ratio("text", "en") >= min_stopword_ratio)
    )
    # dedup + chunking read this twice; don't recompute the gate
    gated = gated.localCheckpoint(eager=True)
    n_quality = gated.count() if counts else None

    # 2. near-dup grouping; keep the min-id survivor of each cluster
    groups = near_dedup_groups(
        gated, threshold=dedup_threshold, bands=dedup_bands
    )
    survivors = gated.join(
        groups.filter("is_survivor").select("doc_id"), "doc_id", "left_semi"
    )
    survivors = survivors.localCheckpoint(eager=True)
    n_survivors = survivors.count() if counts else None

    # 3. mixture control — explicit per-stratum rates (the GIVEN
    #    mixture, q93), deterministic
    if sample_rates is not None:
        sampled = stratified_sample(
            survivors, strata_col, sample_rates, "doc_id"
        ).localCheckpoint(eager=True)
    else:
        sampled = survivors
    n_sampled = sampled.count() if counts else None

    # 4. sliding-window chunking (map-only)
    chunks = chunk_documents(
        sampled, chunk_size=chunk_size, overlap=chunk_overlap
    ).withColumn(
        "chunk_uid",
        F.col("doc_id") * _CHUNK_UID_BASE + F.col("chunk_index"),
    )

    # 5. pack chunks into fixed-budget training sequences
    packed = pack_sequences(
        chunks,
        budget=pack_budget,
        id_col="chunk_uid",
        tokens=F.col("n_tokens"),
    )
    out = chunks.join(
        packed.select("chunk_uid", "start_pack", "start_offset", "end_pack"),
        "chunk_uid",
    )
    out = out.localCheckpoint(eager=True)
    if counts:
        n_chunks = out.count()
        n_packs = out.agg(F.max("end_pack")).collect()[0][0]
        n_packs = int(n_packs) + 1 if n_packs is not None else 0
    else:
        n_chunks = n_packs = None

    return CurationResult(
        n_input=n_input,
        n_quality_kept=n_quality,
        n_dedup_survivors=n_survivors,
        n_sampled=n_sampled,
        n_chunks=n_chunks,
        n_packs=n_packs,
        chunks=out,
    )
