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
    commit_retries: int = 5,
    benchmark=None,
    decontaminate_n: int = 8,
    drift_reference=None,
    drift_signal=None,
    drift_max_d: float = 0.2,
    drift_table: str = "corpus.refused_batches",
    drift_test: str = "ks",
    drift_psi_edges: list[float] | None = None,
    drift_max_psi: float = 0.25,
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

    ``benchmark`` (optional) adds the DECONTAMINATION arm (q99's
    8-gram collision test) in front of dedup: a static frame of
    held-out eval documents whose distinct n-gram hashes are computed
    ONCE at stream start (eval sets are static; re-shingling them per
    batch would be corpus-independent but still wasteful) and
    broadcast into each batch — any crawl doc sharing an n-gram with
    the benchmark is rejected before it can enter the corpus. This is
    the production ordering: leaking eval data into the corpus is
    unrecoverable downstream, so the gate refuses it at the door.

    ``drift_reference`` (optional) adds the DISTRIBUTION-DRIFT arm
    (q142's two-sample KS test) in front of everything: a static
    reference frame of docs (e.g. a sample of the accepted corpus)
    whose ``drift_signal`` values (default: document length — the
    classic batch screen; pass any Column over the doc row, e.g. a
    quality score) define the expected distribution. Each micro-batch's
    signal distribution is KS-tested against it; if the exact D
    statistic exceeds ``drift_max_d`` the WHOLE batch is refused and a
    quarantine row (batch_id, d_stat, ks_stat, n rows) is merged into
    ``drift_table`` for operator review — a scraper regression or a
    source-mix flip shows up as a distribution jump long before any
    per-document filter fires, and admitting such a batch silently
    shifts the training mixture. Batch-idempotent like the other arms:
    a replayed refused batch recomputes the same D and re-merges the
    same keyed quarantine row. Cost: one groupBy over the batch +
    reference signal values (the q142 pre-aggregated shape — the
    serial section is the distinct-value domain).

    ``drift_test`` picks the screen: ``"ks"`` (exact two-sample KS,
    above), ``"psi"`` (Population Stability Index over the fixed
    ``drift_psi_edges`` literal bins, refusing when psi >
    ``drift_max_psi`` — the q142 battery's binned arm; it has NO
    serial section at all, the better fit when the signal is genuinely
    high-cardinality continuous, at the price of choosing bins up
    front), or ``"kll"`` (the fully sketched form: the reference side
    is collapsed ONCE at stream start to a KLL quantile grid and its
    raw values never touched again — per-batch cost is the batch's own
    sketch aggregate, and the D̂ threshold is compared like KS's exact
    D with the sketch's ~0.02 error band in mind). Quarantine rows:
    PSI (batch_id, n_docs, psi); KLL (batch_id, n_docs, d_kll).

    Returns the streaming query; caller drives it."""
    from ironman_medallion_lakehouse_spark.operators import contamination as CO
    from ironman_medallion_lakehouse_spark.operators import dedup as D
    from ironman_medallion_lakehouse_spark.operators.experiment import (
        kll_quantile_grid,
        ks_kll_from_grids,
        ks_two_sample,
        psi_drift,
    )

    if drift_test not in ("ks", "psi", "kll"):
        raise ValueError(
            f"drift_test must be 'ks', 'psi' or 'kll', got {drift_test!r}"
        )
    if drift_test == "psi" and drift_reference is not None and not drift_psi_edges:
        raise ValueError("drift_test='psi' requires drift_psi_edges")

    bench_grams = None
    if benchmark is not None:
        bench_grams = (
            CO.positional_ngram_hashes(benchmark, decontaminate_n, text_col, id_col)
            .select("gram")
            .distinct()
            .localCheckpoint(eager=True)
        )

    signal = (
        F.length(F.col(text_col)) if drift_signal is None else drift_signal
    )
    ref_vals = None
    ref_grid = None
    if drift_reference is not None and drift_test == "kll":
        # the sketched reference: one grid row, values never re-read
        ref_grid = kll_quantile_grid(
            drift_reference.select(signal.cast("double").alias("_sig")), "_sig"
        )
    elif drift_reference is not None:
        # reference signal values computed ONCE at stream start (the
        # reference sample is static; the bench_grams precedent)
        ref_vals = (
            drift_reference.select(
                signal.cast("double").alias("_sig"), F.lit("ref").alias("_side")
            )
            .localCheckpoint(eager=True)
        )

    def _retrying(fn) -> None:
        for attempt in range(commit_retries + 1):
            try:
                fn()
                return
            except ConcurrentCommitError:
                if attempt == commit_retries:
                    raise

    def _gate_batch(batch_df, batch_id: int) -> None:
        batch_df = batch_df.dropDuplicates([id_col])
        if ref_grid is not None:
            cur = kll_quantile_grid(
                batch_df.select(signal.cast("double").alias("_sig")), "_sig"
            )
            rows = ks_kll_from_grids(ref_grid, cur).collect()
            r = rows[0] if rows else None  # null d (empty batch) -> admit
            if r is not None and r.d_kll is not None and r.d_kll > drift_max_d:
                refused = batch_df.sparkSession.createDataFrame(
                    [(int(batch_id), int(batch_df.count()), float(r.d_kll))],
                    "batch_id long, n_docs long, d_kll double",
                )
                _retrying(
                    lambda: store.merge_insert_only(
                        refused, drift_table, keys=["batch_id"]
                    )
                )
                return  # whole batch quarantined; nothing admitted
        if ref_vals is not None:
            both = batch_df.select(
                signal.cast("double").alias("_sig"), F.lit("new").alias("_side")
            ).unionByName(ref_vals)
            refused = None
            if drift_test == "psi":
                rows = psi_drift(
                    both, "_sig", "_side", "new", "ref", bin_edges=drift_psi_edges
                ).collect()
                r = rows[0] if rows else None  # empty batch -> no test, admit
                if (
                    r is not None
                    and r.n_a > 0
                    and r.psi is not None
                    and r.psi > drift_max_psi
                ):
                    refused = batch_df.sparkSession.createDataFrame(
                        [(int(batch_id), int(r.n_a), float(r.psi))],
                        "batch_id long, n_docs long, psi double",
                    )
            else:
                rows = ks_two_sample(both, "_sig", "_side", "new", "ref").collect()
                ks = rows[0] if rows else None  # empty batch -> no test, admit
                if (
                    ks is not None
                    and ks.n_a > 0
                    and ks.d_stat is not None
                    and ks.d_stat > drift_max_d
                ):
                    refused = batch_df.sparkSession.createDataFrame(
                        [
                            (
                                int(batch_id),
                                int(ks.n_a),
                                float(ks.d_stat),
                                float(ks.ks_stat),
                            )
                        ],
                        "batch_id long, n_docs long, d_stat double, ks_stat double",
                    )
            if refused is not None:
                _retrying(
                    lambda: store.merge_insert_only(
                        refused, drift_table, keys=["batch_id"]
                    )
                )
                return  # whole batch quarantined; nothing admitted
        if bench_grams is not None:
            dirty = (
                CO.positional_ngram_hashes(
                    batch_df, decontaminate_n, text_col, id_col
                )
                .join(F.broadcast(bench_grams), "gram", "left_semi")
                .select(id_col)
                .distinct()
            )
            batch_df = batch_df.join(dirty, id_col, "left_anti")
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
        sigs = D.minhash_signatures(kept, text_col, id_col, k=k)
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
