"""Streaming ingest into the lakehouse: readStream → foreachBatch →
TableStore merge.

Beyond-reference extension (the reference lands batch files only —
SURVEY §2.9): ``streaming_dedup_ingest`` is the crawl-ingest gate. A
file-source stream (Kafka at scale — same plan downstream of the
source) feeds ``foreachBatch``, and each micro-batch MERGEs into
manifest-versioned TableStore tables:

- ``merge_insert_only`` per batch gives **idempotent** ingest: a
  replayed micro-batch (restart between sink write and checkpoint
  commit — Structured Streaming's at-least-once foreachBatch contract)
  re-offers the same keys and the anti-join drops them, upgrading the
  path to exactly-once table state.
- Each batch commit is one TableStore version, so the table's CDC feed
  (``table_changes``) doubles as the stream's downstream change log.

``two_sided_cusum`` is the batch volume-shift chart the q145 battery
runs.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from ironman_medallion_lakehouse_spark.sources.tablestore import ConcurrentCommitError


_COMMIT_RETRIES = 5


def streaming_dedup_ingest(
    spark,
    store,
    source_path: str,
    schema,
    checkpoint_dir: str,
    corpus_table: str = "corpus.documents",
    sig_table: str = "corpus.doc_signatures",
    hash_table: str = "corpus.doc_hashes",
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 128,
    bands: int = 16,
    threshold: float = 0.9,
    drift_reference=None,
    drift_max_d: float = 0.2,
    drift_table: str = "corpus.refused_batches",
):
    """The streaming crawl-ingest GATE — the training-data pipeline's
    front door, composed from this repo's own operators: every
    micro-batch is classified against the EXISTING corpus
    (operators/dedup.dedup_incoming: exact normalized-hash match +
    MinHash-LSH near-dup), only ``kept`` documents are admitted via an
    exactly-once insert-only merge, and their MinHash signatures AND
    normalized-text md5 hashes are merged into companion tables in the
    same batch — so every later batch reads precomputed corpus
    signatures (``corpus_sigs=``) and hashes (``corpus_hashes=``)
    instead of re-hashing the corpus on either arm. Per-batch cost:
    O(batch) signature/hash work + O(bucket hits) join, independent
    of corpus size (true for BOTH arms since the r7 stored-hash fix —
    before it, the exact arm re-md5'd the whole corpus per batch).

    Exactly-once state: foreachBatch may replay a batch after restart;
    a replayed document is then an exact dup of itself in the corpus,
    classifies ``exact_dup``, and both merges are key-idempotent — the
    table state converges either way. Intra-batch near-duplicates are
    deliberately NOT resolved here (both admitted if neither matches
    the corpus); run ``near_dedup_groups`` over the corpus for
    periodic retro-compaction — the gate's job is bounding per-batch
    work, the batch's own dups are one batch's worth by definition.

    ``drift_reference`` (optional) adds the DISTRIBUTION-DRIFT arm
    (q142's two-sample KS test) in front of dedup: a static reference
    frame of docs (e.g. a sample of the accepted corpus) whose
    document lengths define the expected distribution. Each
    micro-batch's length distribution is KS-tested against it; if the
    exact D statistic exceeds ``drift_max_d`` the WHOLE batch is
    refused and a quarantine row (batch_id, n_docs, d_stat, ks_stat)
    is merged into ``drift_table`` for operator review — a scraper
    regression or a source-mix flip shows up as a distribution jump
    long before any per-document filter fires, and admitting such a
    batch silently shifts the training mixture. Batch-idempotent like
    the other arms: a replayed refused batch recomputes the same D and
    re-merges the same keyed quarantine row. Cost: one groupBy over
    the batch + reference lengths (the q142 pre-aggregated shape — the
    serial section is the distinct-value domain).

    A merge that loses a commit race (``ConcurrentCommitError``) is
    retried up to 5 times.

    Returns the streaming query; caller drives it."""
    from ironman_medallion_lakehouse_spark.operators import dedup as D
    from ironman_medallion_lakehouse_spark.operators.experiment import ks_two_sample

    signal = F.length(F.col(text_col)).cast("double").alias("_sig")
    ref_vals = None
    if drift_reference is not None:
        # reference lengths computed ONCE at stream start (the
        # reference sample is static)
        ref_vals = drift_reference.select(
            signal, F.lit("ref").alias("_side")
        ).localCheckpoint(eager=True)

    def _retrying(fn) -> None:
        for attempt in range(_COMMIT_RETRIES + 1):
            try:
                fn()
                return
            except ConcurrentCommitError:
                if attempt == _COMMIT_RETRIES:
                    raise

    def _gate_batch(batch_df, batch_id: int) -> None:
        batch_df = batch_df.dropDuplicates([id_col])
        if ref_vals is not None:
            both = batch_df.select(signal, F.lit("new").alias("_side")).unionByName(ref_vals)
            rows = ks_two_sample(both, "_sig", "_side", "new", "ref").collect()
            ks = rows[0] if rows else None  # empty batch -> no test, admit
            if ks is not None and ks.n_a > 0 and ks.d_stat is not None and ks.d_stat > drift_max_d:
                refused = batch_df.sparkSession.createDataFrame(
                    [(int(batch_id), int(ks.n_a), float(ks.d_stat), float(ks.ks_stat))],
                    "batch_id long, n_docs long, d_stat double, ks_stat double",
                )
                _retrying(
                    lambda: store.merge_insert_only(refused, drift_table, keys=["batch_id"])
                )
                return  # whole batch quarantined; nothing admitted
        batch_df = batch_df.localCheckpoint(eager=True)
        if store.table_exists(corpus_table):
            corpus = store.read(corpus_table).select(id_col, text_col)
            corpus_sigs = store.read(sig_table)
            # stored exact-hash table: without it the exact arm would
            # re-md5 the WHOLE corpus every batch (r7 fix — the
            # O(batch) claim was false for that arm at scale)
            corpus_hashes = (
                store.read(hash_table) if store.table_exists(hash_table) else None
            )
            status = D.dedup_incoming(
                batch_df.select(id_col, text_col),
                corpus,
                text_col,
                id_col,
                k=k,
                bands=bands,
                threshold=threshold,
                corpus_sigs=corpus_sigs,
                corpus_hashes=corpus_hashes,
            )
            kept = batch_df.join(
                status.filter(F.col("status") == "kept").select(id_col), id_col
            )
        else:
            kept = batch_df  # bootstrap batch founds the corpus
        kept = kept.localCheckpoint(eager=True)  # read by both merges below
        _retrying(lambda: store.merge_insert_only(kept, corpus_table, keys=[id_col]))
        sigs = D.minhash_signatures(D.token_sets(kept, text_col, id_col), id_col, k=k)
        _retrying(lambda: store.merge_insert_only(sigs, sig_table, keys=[id_col]))
        hashes = D.exact_hash_frame(kept, text_col, id_col)
        _retrying(lambda: store.merge_insert_only(hashes, hash_table, keys=[id_col]))

    stream = spark.readStream.schema(schema).format("parquet").load(source_path)
    return (
        stream.writeStream.foreachBatch(_gate_batch)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("update")
        .start()
    )


def two_sided_cusum(
    series,
    t_col: str,
    x_col: str,
    baseline_n: int = 10,
    k_sd: float = 0.5,
    h_sd: float = 4.0,
):
    """TWO-SIDED Page chart over an ordered (t, x) series — a volume
    monitor's level-shift screen (q145's ``volmon_*`` arms). Upper chart =
    ``experiment.cusum_changepoint`` on the series; lower chart = the
    upper chart on the REFLECTED series (x → −x, baseline parameters
    re-estimated on the reflection — the textbook
    S⁻ = max(0, S⁻ + mu − k − x) identity). Each side estimates its
    params from its own first ``baseline_n`` points. ONE row:

        (n_points, up_smax, up_alarm_t, down_smax, down_alarm_t)

    alarm_t NULL when that side never crosses its decision interval.
    Cost: two chart passes over a horizon-sized series (one row per
    time point / micro-batch) — bounded regardless of data volume."""
    from ironman_medallion_lakehouse_spark.operators.experiment import (
        cusum_changepoint,
        series_params,
    )

    def _params(s):
        return series_params(
            s, t_col, x_col, baseline_n=baseline_n, k_sd=k_sd, h_sd=h_sd
        )

    up = cusum_changepoint(series, t_col, x_col, _params(series)).select(
        "n_points",
        F.col("s_max").alias("up_smax"),
        F.col("alarm_t").alias("up_alarm_t"),
    )
    refl = series.select(
        F.col(t_col), (-F.col(x_col)).cast("double").alias(x_col)
    )
    down = cusum_changepoint(refl, t_col, x_col, _params(refl)).select(
        F.col("s_max").alias("down_smax"),
        F.col("alarm_t").alias("down_alarm_t"),
    )
    return up.crossJoin(F.broadcast(down))
