"""Streaming → TableStore ingest: the crawl-ingest gate's idempotent
micro-batch merges and its drift arm."""

from __future__ import annotations

from pyspark.sql import Row

from ironman_medallion_lakehouse_spark.sources.tablestore import TableStore


def test_streaming_dedup_ingest_gate(spark, tmp_path):
    """The crawl-ingest gate end-to-end: batch 1 founds the corpus;
    batch 2 brings an exact dup (case/whitespace-mangled), a near dup
    (one token changed), and a novel doc — only the novel doc is
    admitted, and the signatures table tracks exactly the corpus."""
    from ironman_medallion_lakehouse_spark.streaming.ingest import (
        streaming_dedup_ingest,
    )

    src = str(tmp_path / "docs_src")
    store = TableStore(spark, str(tmp_path / "wh"))
    b1 = spark.createDataFrame([
        Row(doc_id=1, text="the quick brown fox jumps over the lazy dog again and again today"),
        Row(doc_id=2, text="entirely different content about spark shuffles and partitions here"),
    ])
    b1.coalesce(1).write.mode("append").parquet(src)
    query = streaming_dedup_ingest(
        spark, store, src, b1.schema, str(tmp_path / "ckpt"),
        bands=16, threshold=0.8,
    )
    try:
        query.processAllAvailable()
        assert store.read("corpus.documents").count() == 2
        assert store.read("corpus.doc_signatures").count() == 2

        spark.createDataFrame([
            Row(doc_id=10, text="  THE QUICK   brown fox jumps over the lazy dog again and again today "),
            Row(doc_id=11, text="the quick brown fox jumps over the lazy dog again and again tomorrow"),
            Row(doc_id=12, text="totally novel text with no overlap whatsoever in any token plane"),
        ]).coalesce(1).write.mode("append").parquet(src)
        query.processAllAvailable()
        admitted = {r.doc_id for r in store.read("corpus.documents").collect()}
        assert admitted == {1, 2, 12}  # exact dup 10 and near dup 11 rejected
        # signature table tracks the admitted set exactly (next batch's
        # band join reads these precomputed rows)
        assert {r.doc_id for r in store.read("corpus.doc_signatures").collect()} == {1, 2, 12}
    finally:
        query.stop()


def test_streaming_gate_refuses_drifted_batch(spark, tmp_path):
    """The drift arm (q142's KS test at the door): a batch whose
    document-length distribution matches the reference flows through; a
    batch of drastically shorter docs is refused WHOLE — quarantine
    row recorded, corpus untouched — and a later conforming batch is
    admitted again. The recorded D must equal ks_two_sample run
    directly on the same frames (the gate is the operator, not a
    reimplementation)."""
    from pyspark.sql import functions as F

    from ironman_medallion_lakehouse_spark.operators.experiment import ks_two_sample
    from ironman_medallion_lakehouse_spark.streaming.ingest import (
        streaming_dedup_ingest,
    )

    src = str(tmp_path / "docs_src")
    store = TableStore(spark, str(tmp_path / "wh"))
    length = F.length(F.col("text"))

    def doc(i, nw):
        # fixed-width words: a doc's length is 11·nw − 1 whatever its id
        return Row(doc_id=i, text=" ".join(f"w{i:04d}t{j:03d}" for j in range(nw)))

    # reference distribution: 40-60-word docs
    reference = spark.createDataFrame([doc(900 + i, 40 + i % 21) for i in range(30)])

    b1 = spark.createDataFrame([doc(i, 45 + i % 10) for i in range(1, 9)])
    b1.coalesce(1).write.mode("append").parquet(src)
    query = streaming_dedup_ingest(
        spark, store, src, b1.schema, str(tmp_path / "ckpt"),
        bands=16, threshold=0.8,
        drift_reference=reference, drift_max_d=0.5,
    )
    try:
        query.processAllAvailable()
        assert store.read("corpus.documents").count() == 8  # conforming: admitted
        assert not store.table_exists("corpus.refused_batches")

        # drifted batch: 3-5-word docs (scraper regression shape)
        b2 = spark.createDataFrame([doc(100 + i, 3 + i % 3) for i in range(8)])
        b2.coalesce(1).write.mode("append").parquet(src)
        query.processAllAvailable()
        admitted = {r.doc_id for r in store.read("corpus.documents").collect()}
        assert admitted == set(range(1, 9))  # nothing from the drifted batch
        refused = store.read("corpus.refused_batches").collect()
        assert len(refused) == 1 and refused[0].n_docs == 8
        # the gate's D is EXACTLY the operator's D on the same data
        both = b2.select(
            length.cast("double").alias("_sig"), F.lit("new").alias("_side")
        ).unionByName(
            reference.select(
                length.cast("double").alias("_sig"), F.lit("ref").alias("_side")
            )
        )
        want = ks_two_sample(both, "_sig", "_side", "new", "ref").collect()[0]
        assert refused[0].d_stat == want.d_stat
        assert want.d_stat > 0.5

        # recovery: a conforming batch after the refusal is admitted —
        # spread across the reference range (a narrow 4-doc batch
        # concentrated at 50-53 words legitimately scores D≈0.63 vs a
        # 40-60 reference: small-sample KS is jumpy by construction)
        b3 = spark.createDataFrame(
            [doc(200 + i, 40 + (3 * i) % 21) for i in range(8)]
        )
        b3.coalesce(1).write.mode("append").parquet(src)
        query.processAllAvailable()
        admitted = {r.doc_id for r in store.read("corpus.documents").collect()}
        assert set(range(200, 208)) <= admitted
        assert store.read("corpus.refused_batches").count() == 1
    finally:
        query.stop()


def test_streaming_gate_drift_refusal_replay_idempotent(spark, tmp_path):
    """The refusal path's exactly-once story, exercised at the actual
    failure point: foreachBatch replays a batch when the process dies
    AFTER the sink's side-effects but BEFORE the checkpoint commit —
    simulated by deleting the checkpoint's commits/<n> marker for the
    refused batch and restarting. The replayed batch recomputes the
    same D and re-merges the SAME keyed quarantine row (batch_id), so
    the table converges: still one refusal row, corpus untouched; a
    conforming batch after the replay is admitted normally."""
    import os

    from ironman_medallion_lakehouse_spark.streaming.ingest import (
        streaming_dedup_ingest,
    )

    src = str(tmp_path / "docs_src")
    ckpt = str(tmp_path / "ckpt")
    store = TableStore(spark, str(tmp_path / "wh"))

    def doc(i, nw):
        return Row(doc_id=i, text=" ".join(f"w{i:04d}t{j:03d}" for j in range(nw)))

    def start():
        return streaming_dedup_ingest(
            spark, store, src, b1.schema, ckpt,
            bands=16, threshold=0.8,
            drift_reference=reference, drift_max_d=0.5,
        )

    reference = spark.createDataFrame([doc(900 + i, 40 + i % 21) for i in range(30)])
    b1 = spark.createDataFrame([doc(i, 45 + i % 10) for i in range(1, 9)])
    b1.coalesce(1).write.mode("append").parquet(src)
    query = start()
    try:
        query.processAllAvailable()  # batch 0 admitted (bootstrap)
        b2 = spark.createDataFrame([doc(100 + i, 3 + i % 3) for i in range(8)])
        b2.coalesce(1).write.mode("append").parquet(src)
        query.processAllAvailable()  # batch 1 refused
        refused = store.read("corpus.refused_batches").collect()
        assert len(refused) == 1 and refused[0].batch_id == 1
        d_first = refused[0].d_stat
    finally:
        query.stop()
    query.awaitTermination()  # fully release the checkpoint before restart

    # crash window: side-effects landed, commit marker didn't (the
    # Hadoop checksum sidecar must go too or the replay's atomic
    # rewrite fails as FileAlreadyExists)
    os.remove(os.path.join(ckpt, "commits", "1"))
    crc = os.path.join(ckpt, "commits", ".1.crc")
    if os.path.exists(crc):
        os.remove(crc)

    query = start()
    try:
        query.processAllAvailable()  # batch 1 REPLAYS (same id, same files)
        refused = store.read("corpus.refused_batches").collect()
        assert len(refused) == 1  # keyed merge converged, no second row
        assert refused[0].batch_id == 1 and refused[0].d_stat == d_first
        admitted = {r.doc_id for r in store.read("corpus.documents").collect()}
        assert admitted == set(range(1, 9))  # replay admitted nothing

        # recovery after the replay
        b3 = spark.createDataFrame([doc(200 + i, 40 + (3 * i) % 21) for i in range(8)])
        b3.coalesce(1).write.mode("append").parquet(src)
        query.processAllAvailable()
        admitted = {r.doc_id for r in store.read("corpus.documents").collect()}
        assert set(range(200, 208)) <= admitted
        assert store.read("corpus.refused_batches").count() == 1
    finally:
        query.stop()
