"""Document chunking — sliding token windows for training-sequence
prep (beyond-reference, BASELINE.json north star).

The step between raw documents and sequence packing
(operators/packing.py): long documents are split into overlapping
token-window chunks (size ``chunk_size``, stride ``chunk_size −
overlap``), each chunk carrying its index, token count, and a
deterministic content hash. Chunks then flow into the packing
operator to fill fixed-length training sequences.

100 TB design: pure Column expressions — the token array is let-bound
(SCALING.md HOF discipline) so the split runs once per row, the start
offsets come from ``sequence()``, and one ``posexplode`` emits the
chunk rows map-side. Zero shuffles, zero Python; output cardinality
is Σ ceil(dl/stride) — linear in corpus token count.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ironman_medallion_lakehouse_spark.functions.text import _let, words


def chunk_documents(
    docs: DataFrame,
    chunk_size: int = 128,
    overlap: int = 32,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """(id, chunk_index, start_token, n_tokens, chunk_hash) — one row
    per sliding window. Windows start every ``chunk_size − overlap``
    tokens; the final window may be shorter (never empty). Token-less
    documents yield no chunks, matching the tokenizer-stage contract
    elsewhere (minhash, BM25)."""
    if overlap >= chunk_size:
        raise ValueError(
            f"overlap ({overlap}) must be smaller than chunk_size "
            f"({chunk_size}); equal or larger loops forever at scale"
        )
    step = chunk_size - overlap

    def chunks(toks: Column) -> Column:
        def one(s: Column) -> Column:
            piece = F.slice(toks, s, chunk_size)
            return F.struct(
                ((s - 1) / F.lit(step)).cast("bigint").alias("chunk_index"),
                s.cast("bigint").alias("start_token"),
                F.size(piece).cast("bigint").alias("n_tokens"),
                F.md5(F.concat_ws(" ", piece)).alias("chunk_hash"),
            )

        return F.transform(F.sequence(F.lit(1), F.size(toks), F.lit(step)), one)

    return (
        docs.select(
            F.col(id_col),
            _let(words(text_col), chunks).alias("_chunks"),
        )
        .filter(F.size("_chunks") > 0)
        .select(F.col(id_col), F.explode("_chunks").alias("c"))
        .select(id_col, "c.chunk_index", "c.start_token", "c.n_tokens", "c.chunk_hash")
    )
