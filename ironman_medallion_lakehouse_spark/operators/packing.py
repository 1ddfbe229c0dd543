"""Sequence packing for training-data batches.

Beyond-reference extension (BASELINE.json north star). LLM training
consumes fixed-length token windows; the standard high-throughput
packing is *concatenate-then-chunk* (GPT-style): lay every document's
tokens end-to-end in a deterministic order and cut at every
``budget``-token boundary, letting documents straddle chunk borders
(the trainer masks attention across the seams). Packing is therefore a
global exclusive prefix sum over token counts — which is where the
scale trap lives: a naive ``Window.orderBy(id)`` with no partition key
drags the entire corpus into ONE task.

This implementation is the classic two-level distributed prefix sum:

1. range-repartition by the pack order key (each range is one task,
   ranges are ordered by the partitioner's contract);
2. per-range exclusive cumsum via a window PARTITIONED by range id —
   parallel across ranges, never global;
3. per-range token totals (one tiny aggregate, ≤ #ranges rows) are
   collected, prefix-folded on the driver, and rejoined as a literal
   map — O(ranges) driver state, same bounded pattern as the z-order
   quantile step.

Every document then knows its absolute token offset, so chunk ids are
pure arithmetic. Total cost at 100 TB: one range shuffle + one
range-local window — no global sort, no single-task bottleneck.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# Above this many ranges the per-range base offsets are attached via a
# broadcast join against a tiny (rid, base) frame instead of a
# create_map literal — a literal map is embedded in the plan tree, and
# a plan with O(10⁴⁺) literals costs real analysis/codegen time (and
# ultimately hits JVM constant-pool limits). O(10³) is comfortably
# inside literal territory.
MAP_LITERAL_MAX_RANGES = 1024


def pack_sequences(
    docs: DataFrame,
    budget: int,
    id_col: str = "doc_id",
    text_col: str = "text",
    tokens: Column | None = None,
    num_ranges: int | None = None,
) -> DataFrame:
    """Assign concat-then-chunk pack coordinates to every document:
    (id, n_tokens, start_pack, start_offset, end_pack, n_packs).

    ``start_pack``/``start_offset`` locate the document's first token
    in the virtual concatenated stream (ordered by ``id_col``);
    ``end_pack`` is the chunk holding its last token — a document
    spanning a boundary has end_pack > start_pack and is split across
    those chunks with attention masking downstream. Zero-token
    documents occupy no span (end_pack = start_pack, n_packs = 1 by
    convention).

    ``tokens`` overrides the default whitespace token count with any
    Column (e.g. a real tokenizer's count column). Deterministic given
    the id order — the DuckDB oracle replays it with one window
    cumsum.
    """
    if budget <= 0:
        raise ValueError(f"budget must be positive, got {budget}")
    from pyspark.sql import Window

    from ironman_medallion_lakehouse_spark.functions.text import (
        whitespace_token_count,
    )
    from ironman_medallion_lakehouse_spark.session import shuffle_width

    n_tok = (tokens if tokens is not None else whitespace_token_count(text_col)).cast(
        "bigint"
    )
    nr = num_ranges or shuffle_width(docs)
    d = (
        docs.select(F.col(id_col), n_tok.alias("n_tokens"))
        .repartitionByRange(nr, F.col(id_col))
        .withColumn("_rid", F.spark_partition_id())
        # freeze the range assignment: the per-range totals and the
        # window below must see identical _rid values
        .localCheckpoint(eager=True)
    )
    w = (
        Window.partitionBy("_rid")
        .orderBy(F.col(id_col).asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    per_range = {
        r["_rid"]: r["s"]
        for r in d.groupBy("_rid").agg(F.sum("n_tokens").alias("s")).collect()
    }
    prefix: dict[int, int] = {}
    acc = 0
    for rid in sorted(per_range):  # ranges are ordered by key range
        prefix[rid] = acc
        acc += per_range[rid] or 0
    if len(prefix) <= MAP_LITERAL_MAX_RANGES:
        offset = (
            F.create_map(*[F.lit(x) for kv in sorted(prefix.items()) for x in kv])
            if prefix
            else F.create_map()
        )
        excl = (
            F.sum("n_tokens").over(w) - F.col("n_tokens") + offset[F.col("_rid")]
        ).alias("_excl")
        out = d.select(F.col(id_col), "n_tokens", excl)
    else:
        # join-based fallback for very high range counts: same values,
        # the base offsets travel as a broadcast dim instead of plan
        # literals
        base_df = docs.sparkSession.createDataFrame(
            [(int(k), int(v)) for k, v in sorted(prefix.items())],
            "_rid int, _base bigint",
        )
        excl = (F.sum("n_tokens").over(w) - F.col("n_tokens") + F.col("_base")).alias(
            "_excl"
        )
        out = d.join(F.broadcast(base_df), "_rid").select(
            F.col(id_col), "n_tokens", excl
        )
    # integer `div`, not floor(double /): token offsets pass 2^53 at
    # corpus scale, where double floor division silently rounds
    start = F.expr(f"_excl div {budget}")
    end = F.expr(f"(_excl + greatest(n_tokens, 1L) - 1L) div {budget}")
    return out.select(
        F.col(id_col),
        "n_tokens",
        start.alias("start_pack"),
        (F.col("_excl") % budget).cast("bigint").alias("start_offset"),
        end.alias("end_pack"),
        (end - start + 1).alias("n_packs"),
    )
