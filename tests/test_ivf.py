"""Materialized IVF index: deterministic k-means codebook, cell-
partitioned assignment, manifest-pruned probes (the r1 scale finding:
probes must read only nprobe partitions, never the corpus)."""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from ironman_medallion_lakehouse_spark.operators.similarity import (
    IvfIndex,
    cosine,
    kmeans_centroids,
)
from ironman_medallion_lakehouse_spark.sources.tablestore import TableStore

SF = "/root/testdata/sf0.001"


def _emb(spark):
    return spark.read.parquet(os.path.join(SF, "embeddings.parquet"))


def test_kmeans_is_deterministic(spark):
    emb = _emb(spark)
    a = kmeans_centroids(emb, n_cells=4, n_iter=3).collect()
    b = kmeans_centroids(emb.repartition(7), n_cells=4, n_iter=3).collect()
    sa = {r.centroid_id: list(r.centroid) for r in a}
    sb = {r.centroid_id: list(r.centroid) for r in b}
    # bit-identical across runs AND input partitionings (decimal means)
    assert sa == sb


def test_probe_reads_only_nprobe_partitions(spark, tmp_path):
    emb = _emb(spark)
    store = TableStore(spark, str(tmp_path / "wh"))
    idx = IvfIndex(store, "ann.ivf")
    idx.build(emb, n_cells=4, n_iter=2)

    manifest = store._latest_manifest(idx.assign_table)
    total_files = len(manifest.files)
    query = [float(x) for x in emb.orderBy("vec_id").first().embedding]
    cells = idx.probe_cells(query, nprobe=2)
    assert len(cells) == 2

    probed = store.read_partitions(idx.assign_table, "centroid_id", [str(c) for c in cells])
    scanned = probed.inputFiles()
    # only files under the two probed centroid_id=<c>/ dirs are scanned
    assert 0 < len(scanned) < total_files
    for path in scanned:
        assert any(f"centroid_id={c}" in path for c in cells)


def test_probe_matches_bruteforce_within_cells(spark, tmp_path):
    emb = _emb(spark)
    store = TableStore(spark, str(tmp_path / "wh"))
    idx = IvfIndex(store, "ann.ivf")
    idx.build(emb, n_cells=4, n_iter=2)

    query = [float(x) for x in emb.orderBy("vec_id").first().embedding]
    cells = idx.probe_cells(query, nprobe=2)
    got = [(r.vec_id, round(r.cosine_sim, 9)) for r in idx.probe(query, k=5, nprobe=2).collect()]

    # expected: exact cosine top-5 over the union of the probed cells
    qcol = F.array(*[F.lit(x) for x in query])
    member_ids = {
        r.vec_id
        for r in store.read(idx.assign_table)
        .filter(F.col("centroid_id").isin(cells))
        .select("vec_id")
        .collect()
    }
    expected = [
        (r.vec_id, round(r.sim, 9))
        for r in emb.filter(F.col("vec_id").isin(list(member_ids)))
        .select("vec_id", cosine(F.col("embedding"), qcol).alias("sim"))
        .orderBy(F.col("sim").desc(), F.col("vec_id").asc())
        .limit(5)
        .collect()
    ]
    assert got == expected


def test_index_covers_corpus_once(spark, tmp_path):
    emb = _emb(spark)
    store = TableStore(spark, str(tmp_path / "wh"))
    idx = IvfIndex(store, "ann.ivf")
    idx.build(emb, n_cells=4, n_iter=2)
    n = emb.count()
    assert store.read(idx.assign_table).count() == n
    assert store.read(idx.assign_table).select("vec_id").distinct().count() == n


def test_incremental_add_matches_frozen_codebook_assignment(spark, tmp_path):
    """IvfIndex.add: build on half the corpus, add the other half —
    the assignment table must equal assigning EVERY vector against the
    frozen codebook (consistency of build-time and add-time
    assignment), the add must be replay-idempotent, and probes must
    now surface added vectors."""
    from ironman_medallion_lakehouse_spark.operators.similarity import (
        _assign_to_centroids,
    )

    emb = _emb(spark)
    half1 = emb.filter(F.col("vec_id") % 2 == 0)
    half2 = emb.filter(F.col("vec_id") % 2 == 1)
    store = TableStore(spark, str(tmp_path / "wh"))
    idx = IvfIndex(store, "ann.ivf")
    idx.build(half1, n_cells=4, n_iter=2)
    n_before = store.read(idx.assign_table).count()

    idx.add(half2)
    table = {
        r.vec_id: r.centroid_id for r in store.read(idx.assign_table).collect()
    }
    assert len(table) == emb.count() > n_before

    cents = store.read(idx.centroids_table)
    want = {
        r.vec_id: r.centroid_id
        for r in _assign_to_centroids(emb, cents, "vec_id", "embedding")
        .select("vec_id", "centroid_id")
        .collect()
    }
    assert table == want  # frozen-codebook consistency, both halves

    idx.add(half2)  # replay: key-idempotent, nothing inserted
    assert store.read(idx.assign_table).count() == len(table)

    # an added vector is findable: probe with an added vector itself
    target = half2.limit(1).collect()[0]
    got = idx.probe(list(target.embedding), k=1, nprobe=1)
    assert got.collect()[0].vec_id == target.vec_id


def test_rebuild_defaults_to_build_geometry(spark, tmp_path):
    """ADVICE r7 item 2: build() persists its geometry (n_cells,
    n_iter, column names) in <name>_meta; rebuild() keeps it instead
    of silently reverting to the constructor defaults."""
    emb = _emb(spark)
    store = TableStore(spark, str(tmp_path / "wh"))
    idx = IvfIndex(store, "ann.ivf")
    idx.build(emb, n_cells=5, n_iter=3)
    assert idx.build_params() == {
        "n_cells": 5,
        "n_iter": 3,
        "id_col": "vec_id",
        "vec_col": "embedding",
    }
    idx.rebuild()  # must keep the 5-cell geometry
    assert store.read(idx.centroids_table).count() == 5
    assert idx.build_params()["n_cells"] == 5


def test_rebuild_restores_pruning_under_drift_with_recall_floor(spark, tmp_path):
    """VERDICT r8 directive 7 — the ANN maintenance story, measured:
    a drifted add() batch (a TIGHT cluster around a direction the
    frozen codebook never saw — the "new topic" corpus-growth shape)
    crowds ONE stale cell alongside that cell's base members, so a
    drifted query scans batch + unrelated base rows. rebuild()
    re-clusters: the drifted cluster earns its own cell (every
    drifted vector plus only its genuinely-nearest base vectors), so
    the probed-candidate count strictly drops, while recall holds the
    1.0 >= 0.9 documented floor on BOTH sides of the rebuild
    (assignment is the same function for query and corpus, stale or
    fresh). Deterministic end to end (decimal k-means, fixed corpus).
    The 8x latency/recall twin of this scenario was the r9 scale
    probe's ivf arm (in git history; SCALING.md round 9)."""
    emb = _emb(spark).select("vec_id", "embedding")
    store = TableStore(spark, str(tmp_path / "wh"))
    idx = IvfIndex(store, "ann.ivf")
    idx.build(emb, n_cells=8, n_iter=4)

    # drifted batch: 25 % of the corpus collapsed toward one unseen
    # unit direction (0.05x + e_0) — tight (pairwise cosine ~0.999),
    # cast back to the stored array<float> element type
    dim = len(emb.first().embedding)
    ucol = F.array(*([F.lit(1.0)] + [F.lit(0.0)] * (dim - 1)))
    drifted = emb.filter(F.col("vec_id") % 4 == 0).select(
        (F.col("vec_id") + 100_000).alias("vec_id"),
        F.zip_with(
            F.transform(F.col("embedding"), lambda x: x * 0.05),
            ucol,
            lambda a, b: a + b,
        )
        .cast("array<float>")
        .alias("embedding"),
    )
    idx.add(drifted)

    dr = drifted.orderBy("vec_id").limit(3).collect()
    queries = [(int(r.vec_id), [float(x) for x in r.embedding]) for r in dr]
    drift_ids = {r.vec_id for r in drifted.select("vec_id").collect()}

    def recall_and_candidates(nprobe=1, k=10):
        recalls, cands, probed_ids = [], [], set()
        allv = emb.unionByName(drifted)
        for qid, q in queries:
            got = {
                r.vec_id
                for r in idx.probe(q, k=k, nprobe=nprobe, exclude_ids=[qid]).collect()
            }
            qcol = F.array(*[F.lit(x) for x in q])
            want = {
                r.vec_id
                for r in allv.filter(F.col("vec_id") != qid)
                .select("vec_id", cosine(F.col("embedding"), qcol).alias("s"))
                .orderBy(F.col("s").desc(), F.col("vec_id").asc())
                .limit(k)
                .collect()
            }
            recalls.append(len(got & want) / k)
            cells = idx.probe_cells(q, nprobe=nprobe)
            members = store.read_partitions(
                idx.assign_table, "centroid_id", [str(c) for c in cells]
            )
            cands.append(members.count())
            probed_ids |= {r.vec_id for r in members.select("vec_id").collect()}
        return min(recalls), max(cands), probed_ids

    n_drift = drifted.count()
    rec_before, cand_before, _ = recall_and_candidates()
    # the stale codebook still answers (same assignment function both
    # sides) but the tight batch + a stale cell's base members are all
    # scanned together
    assert rec_before >= 0.9
    assert cand_before >= n_drift

    idx.rebuild()
    rec_after, cand_after, probed_after = recall_and_candidates()
    assert rec_after >= 0.9  # the documented recall floor
    # pruning restored: fewer candidates, and the probed cell is the
    # DEDICATED cluster cell — every drifted vector, plus only the
    # base vectors genuinely nearest the new direction
    assert cand_after < cand_before
    assert drift_ids <= probed_after
    assert len(probed_after - drift_ids) < cand_before - n_drift
