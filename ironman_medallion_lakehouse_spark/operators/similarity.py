"""Similarity search over embedding columns (array<float>).

Beyond-reference extension (BASELINE.json north star):

- **cosine_topk**: brute-force baseline — exact, one broadcast of the
  query vector, one pass over the table, TakeOrderedAndProject top-k.
  Linear scan; correct at any scale but O(n) per query.
- **IvfIndex (+ kmeans_centroids)**: the scale path — IVF coarse
  quantization, materialized. A deterministic Lloyd k-means codebook
  is computed-then-frozen; the vector→cell assignment is written once
  through the TableStore partitioned by centroid_id, so a probe ranks
  cells against the tiny frozen codebook and scans only the nprobe
  matching partition directories (manifest-level pruning — the other
  cells' files never enter the scan). ~nprobe/n_cells of the corpus
  per query, built O(corpus) once.
With ``n_iter=0`` the codebook IS the deterministic first-k seed
vectors, which a DuckDB oracle can replicate exactly (q46) — the same
IvfIndex code path serves both the oracle check and production (the
r2 ad-hoc ``ivf_topk``/``ivf_assign`` forms, which re-derived the
assignment per query and collected the query's cell, are gone).

All arithmetic is done in DOUBLE with an ordered left fold
(F.aggregate), matching DuckDB's list_dot_product on DOUBLE[] casts —
bit-identical, so cosine scores themselves are comparable against the
oracle, not just ids.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def dot(a: Column, b: Column) -> Column:
    """Ordered left-fold dot product in double precision."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def norm(a: Column) -> Column:
    return F.sqrt(
        F.aggregate(
            F.transform(a, lambda x: x.cast("double") * x.cast("double")),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
    )


def cosine(a: Column, b: Column) -> Column:
    return dot(a, b) / (norm(a) * norm(b))


def cosine_topk(
    embeddings: DataFrame,
    query_id: int,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact top-k by cosine similarity to the row with id = query_id.

    The 1-row query side is crossJoin(broadcast(...)) — no shuffle of
    the corpus; the final top-k is TakeOrderedAndProject (per-partition
    heaps, no global sort)."""
    q = embeddings.filter(F.col(id_col) == query_id).select(
        F.col(vec_col).alias("_qvec")
    )
    scored = (
        embeddings.crossJoin(F.broadcast(q))
        .filter(F.col(id_col) != query_id)
        .select(
            F.col(id_col),
            cosine(F.col(vec_col), F.col("_qvec")).alias("cosine_sim"),
        )
    )
    return scored.orderBy(F.col("cosine_sim").desc(), F.col(id_col).asc()).limit(k)


def _assign_to_centroids(
    embeddings: DataFrame,
    centroids: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Argmin assignment of every vector to the nearest centroid in a
    (centroid_id, centroid) DataFrame: broadcast centroids × corpus,
    one window per vector id. Ties break on centroid_id asc."""
    from pyspark.sql import Window

    scored = embeddings.crossJoin(
        F.broadcast(centroids.select("centroid_id", F.col("centroid").alias("_cvec")))
    ).select(
        F.col(id_col),
        F.col("centroid_id"),
        cosine(F.col(vec_col), F.col("_cvec")).alias("_sim"),
    )
    w = Window.partitionBy(id_col).orderBy(
        F.col("_sim").desc(), F.col("centroid_id").asc()
    )
    return (
        scored.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .select(id_col, "centroid_id", F.col("_sim").alias("centroid_sim"))
    )


def signlsh_hyperplanes(n_bits: int, dim: int) -> list[list[float]]:
    """Deterministic pseudo-random hyperplanes from md5 — the same
    one-source-of-truth pattern as ``dedup.minhash_coeffs``: the suite
    oracle embeds the identical double literals, so both engines see
    bit-identical geometry."""
    import hashlib

    return [
        [
            int.from_bytes(hashlib.md5(f"hp-{i}-{j}".encode()).digest()[:8], "big")
            / 2**64
            - 0.5
            for j in range(dim)
        ]
        for i in range(n_bits)
    ]


def signlsh_buckets(
    embeddings: DataFrame,
    hyperplanes: list[list[float]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Random-hyperplane (sign) LSH bucket per vector: bit i is
    sign(⟨v, r_i⟩), bucket = Σ bit_i·2^i — the Charikar construction
    whose collision probability is 1 − θ/π per bit. Map-only Column
    math; at 100 TB the bucketed corpus is materialized partitioned by
    bucket (the IVF pattern) so probes prune partitions."""
    bits = []
    for i, hp in enumerate(hyperplanes):
        arr = F.array(*[F.lit(x) for x in hp])
        bits.append(F.when(dot(F.col(vec_col), arr) > 0, 1 << i).otherwise(0))
    bucket = bits[0]
    for b in bits[1:]:
        bucket = bucket + b
    return embeddings.select(
        F.col(id_col), F.col(vec_col), bucket.cast("bigint").alias("bucket")
    )


def signlsh_topk(
    embeddings: DataFrame,
    query_id: int,
    k: int = 10,
    n_bits: int = 6,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """LSH-bucketed approximate top-k by cosine — the bucketed ANN
    scale path beside IVF (IvfIndex): hash the corpus once with
    ``signlsh_buckets``, probe the query's bucket plus every neighbor
    at Hamming distance 1 of it (multiprobe — recall without extra
    tables), brute-force cosine only inside the probed buckets.
    Candidate cost is (1 + n_bits)/2^n_bits of the corpus in
    expectation instead of a full scan; everything stays declarative —
    the probe set is a broadcast frame of 1 + n_bits rows, never a
    collect. Approximate by construction (a true neighbor outside the
    probed radius is missed; on weakly-clustered corpora with tiny
    angular gaps use IVF) and fully deterministic, so an oracle
    replays it exactly."""
    hps = signlsh_hyperplanes(n_bits, dim)
    b = signlsh_buckets(embeddings, hps, id_col, vec_col)
    q = b.filter(F.col(id_col) == query_id).select(
        F.col(vec_col).alias("_qvec"), F.col("bucket").alias("_qb")
    )
    masks = [0] + [1 << i for i in range(n_bits)]
    probes = q.select(
        F.explode(
            F.array(*[F.col("_qb").bitwiseXOR(m) for m in masks])
        ).alias("bucket")
    )
    cand = b.join(F.broadcast(probes), "bucket").filter(F.col(id_col) != query_id)
    scored = cand.crossJoin(F.broadcast(q.select("_qvec"))).select(
        F.col(id_col), cosine(F.col(vec_col), F.col("_qvec")).alias("cosine_sim")
    )
    return scored.orderBy(F.col("cosine_sim").desc(), F.col(id_col).asc()).limit(k)


def semantic_dedup(
    embeddings: DataFrame,
    centroids: DataFrame,
    threshold: float,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """SemDeDup (Abbas et al. 2023, arXiv:2303.09540): cluster the
    embedding space, then inside each cluster drop every vector that
    has a same-cluster neighbor with cosine ≥ ``threshold`` and a
    smaller id (the min-id representative of each within-cluster
    similarity neighborhood survives). Returns
    (id, cluster_id, kept) for the whole corpus.

    This is the scale path for embedding-level dedup: the global
    all-pairs O(n²) becomes Σ_c m_c² over clusters, and k (number of
    centroids) is the knob that bounds m_c as the corpus grows —
    SemDeDup's published setting is k ≈ 11k clusters for ~100M
    embeddings. The within-cluster pairing is one equi-join on
    cluster_id (skew bounded by the clustering), assignment is a
    broadcast of k centroids; pairs crossing cluster boundaries are
    deliberately missed (the paper's documented approximation —
    ``cosine_neardup_pairs`` is the lossless alternative when exact
    recall matters). ``centroids`` is caller-supplied — a
    ``kmeans_centroids`` fit, or any deterministic frame
    (centroid_id, centroid) when replayability is required."""
    assign = _assign_to_centroids(embeddings, centroids, id_col, vec_col)
    memb = embeddings.select(id_col, vec_col).join(
        assign.select(id_col, "centroid_id"), id_col
    )
    a = memb.select(
        "centroid_id",
        F.col(id_col).alias("_ida"),
        F.col(vec_col).alias("_va"),
    )
    b = memb.select(
        "centroid_id",
        F.col(id_col).alias("_idb"),
        F.col(vec_col).alias("_vb"),
    )
    dropped = (
        a.join(b, "centroid_id")
        .filter(F.col("_ida") < F.col("_idb"))
        .filter(cosine(F.col("_va"), F.col("_vb")) >= F.lit(threshold))
        .select(F.col("_idb").alias(id_col))
        .distinct()
        .withColumn("_drop", F.lit(True))
    )
    return memb.join(dropped, id_col, "left").select(
        F.col(id_col),
        F.col("centroid_id").alias("cluster_id"),
        F.coalesce(~F.col("_drop"), F.lit(True)).alias("kept"),
    )


def kmeans_centroids(
    embeddings: DataFrame,
    n_cells: int = 8,
    n_iter: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Deterministic Lloyd k-means codebook: (centroid_id, centroid).

    - Init: the first n_cells vectors by id (reproducible seed); each
      cell is labeled by its seed row's id, so with ``n_iter=0`` the
      codebook is exactly those rows and a SQL oracle can replicate
      the whole assignment (q46).
    - Assign: broadcast argmin with centroid_id-asc tiebreak.
    - Update: per-dimension mean via posexplode + DECIMAL(28,12)
      accumulation — order-insensitive, so the codebook is
      bit-identical across runs and partitionings. Cells that lose all
      members keep their previous centroid.

    Centroids live on the driver between iterations (n_cells × dim
    doubles — bounded and tiny; the same driver-residency every
    k-means implementation uses, incl. MLlib). The corpus is only ever
    streamed: one assignment pass + one mean pass per iteration."""
    spark = embeddings.sparkSession
    init = [
        (int(row[0]), [float(x) for x in row[1]])
        for row in embeddings.select(id_col, vec_col)
        .orderBy(F.col(id_col).asc())
        .limit(n_cells)
        .collect()
    ]
    schema = "centroid_id bigint, centroid array<double>"
    cents = spark.createDataFrame(init, schema)
    for _ in range(n_iter):
        assigned = _assign_to_centroids(embeddings, cents, id_col, vec_col)
        means = (
            embeddings.join(assigned.select(id_col, "centroid_id"), id_col)
            .select("centroid_id", F.posexplode(F.col(vec_col)).alias("pos", "val"))
            .groupBy("centroid_id", "pos")
            .agg(
                (F.sum(F.col("val").cast("decimal(28,12)")) / F.count(F.lit(1)))
                .cast("double")
                .alias("mv")
            )
            .groupBy("centroid_id")
            .agg(F.array_sort(F.collect_list(F.struct("pos", "mv"))).alias("_pairs"))
            .select(
                "centroid_id",
                F.transform(F.col("_pairs"), lambda s: s["mv"]).alias("centroid"),
            )
        )
        updated = (
            cents.alias("old")
            .join(means.alias("new"), "centroid_id", "left")
            .select(
                "centroid_id",
                F.coalesce(F.col("new.centroid"), F.col("old.centroid")).alias("centroid"),
            )
        )
        cents = spark.createDataFrame(
            [(r.centroid_id, [float(x) for x in r.centroid]) for r in updated.collect()],
            schema,
        )
    return cents


class IvfIndex:
    """Materialized IVF index over a TableStore (the r1 scale finding:
    ivf_topk recomputed the full-corpus assignment per query and
    collected the query's cell — at 100 TB assignment must be built
    once and partitioned by cell).

    ``build`` runs deterministic k-means, freezes the codebook into
    ``<name>_centroids``, and writes the vector→cell assignment WITH
    the vectors into ``<name>_assign`` partitioned by ``centroid_id``.
    ``probe`` ranks cells against the frozen codebook (tiny broadcast
    read) and scans ONLY the nprobe matching partition directories via
    TableStore.read_partitions — manifest-level pruning, so the other
    cells' files never enter the scan."""

    def __init__(self, store, name: str = "ann.ivf"):
        self.store = store
        self.name = name

    @property
    def assign_table(self) -> str:
        return f"{self.name}_assign"

    @property
    def centroids_table(self) -> str:
        return f"{self.name}_centroids"

    @property
    def meta_table(self) -> str:
        return f"{self.name}_meta"

    def build(
        self,
        embeddings: DataFrame,
        n_cells: int = 8,
        n_iter: int = 5,
        id_col: str = "vec_id",
        vec_col: str = "embedding",
    ) -> None:
        cents = kmeans_centroids(embeddings, n_cells, n_iter, id_col, vec_col)
        self.store.save_overwrite(cents, self.centroids_table)
        assigned = _assign_to_centroids(embeddings, cents, id_col, vec_col)
        self.store.save_overwrite(
            embeddings.join(assigned.select(id_col, "centroid_id"), id_col).select(
                id_col, vec_col, "centroid_id"
            ),
            self.assign_table,
            partition_by=["centroid_id"],
        )
        # Persist the build geometry so rebuild() can default to it
        # (ADVICE r7 item 2: a recall-maintenance rebuild must not
        # silently change cell count because the caller forgot a kwarg).
        spark = embeddings.sparkSession
        meta = spark.createDataFrame(
            [(int(n_cells), int(n_iter), id_col, vec_col)],
            "n_cells int, n_iter int, id_col string, vec_col string",
        )
        self.store.save_overwrite(meta, self.meta_table)

    def build_params(self) -> dict | None:
        """The persisted build geometry (``None`` for a pre-meta index)."""
        if not self.store.table_exists(self.meta_table):
            return None
        r = self.store.read(self.meta_table).collect()[0]
        return {
            "n_cells": r.n_cells,
            "n_iter": r.n_iter,
            "id_col": r.id_col,
            "vec_col": r.vec_col,
        }

    def add(
        self,
        embeddings: DataFrame,
        id_col: str = "vec_id",
        vec_col: str = "embedding",
    ) -> None:
        """Incrementally add vectors to an EXISTING index — the
        streaming-corpus maintenance path (new crawl embeddings land
        daily; rebuilding a 100 TB index per batch is not an option).

        New vectors are assigned against the FROZEN codebook (the
        FAISS IVF contract: the codebook never moves between rebuilds,
        so build-time and add-time assignments are consistent) and
        insert-only-MERGED into the cell-partitioned assignment table:
        the anti-join scans only the partitions the batch touches
        (O(touched cells), never the index), appends files, and is
        key-idempotent — a replayed batch inserts nothing. Centroids
        drift as the corpus grows; re-``build`` when probe recall
        degrades (the stored assignment carries the vectors, so a
        rebuild is one read + re-cluster, no external source needed)."""
        cents = self.store.read(self.centroids_table)
        assigned = _assign_to_centroids(embeddings, cents, id_col, vec_col)
        rows = embeddings.join(
            assigned.select(id_col, "centroid_id"), id_col
        ).select(id_col, vec_col, "centroid_id")
        self.store.merge_insert_only(rows, self.assign_table, keys=[id_col])

    def rebuild(self) -> None:
        """Re-cluster from the index's OWN stored vectors (the
        assignment table carries them) — run when enough ``add``
        batches have drifted the corpus away from the frozen codebook
        that probe recall degrades. One read + k-means + two
        overwrites; no external vector source needed.

        The geometry persisted at build time (``<name>_meta``: cell
        count, iterations, column names) is reused, so a
        recall-maintenance rebuild keeps the index's shape. A pre-meta
        index (built before the meta table existed) falls back to the
        historical defaults."""
        saved = self.build_params() or {}
        id_col = saved.get("id_col", "vec_id")
        vec_col = saved.get("vec_col", "embedding")
        vectors = self.store.read(self.assign_table).select(id_col, vec_col)
        self.build(
            vectors,
            n_cells=saved.get("n_cells", 8),
            n_iter=saved.get("n_iter", 5),
            id_col=id_col,
            vec_col=vec_col,
        )

    def probe_cells(self, query_vec: list[float], nprobe: int = 2) -> list[int]:
        """The nprobe cell ids nearest the query vector — one pass over
        the tiny frozen codebook, collected (bounded by n_cells)."""
        cents = self.store.read(self.centroids_table)
        qcol = F.array(*[F.lit(float(x)) for x in query_vec])
        ranked = (
            cents.select(
                "centroid_id", cosine(F.col("centroid"), qcol).alias("_s")
            )
            .orderBy(F.col("_s").desc(), F.col("centroid_id").asc())
            .limit(nprobe)
        )
        return [r.centroid_id for r in ranked.collect()]

    def probe(
        self,
        query_vec: list[float],
        k: int = 10,
        nprobe: int = 2,
        id_col: str = "vec_id",
        vec_col: str = "embedding",
        exclude_ids: list | None = None,
    ) -> DataFrame:
        """Top-k cosine neighbors from the ``nprobe`` nearest cells —
        a partition-pruned read of the assignment table.
        ``exclude_ids`` drops known ids (typically the query vector
        itself in query-by-example) BEFORE the top-k, so the list
        never comes up short."""
        cells = self.probe_cells(query_vec, nprobe)
        candidates = self.store.read_partitions(
            self.assign_table, "centroid_id", [str(c) for c in cells]
        )
        if exclude_ids:
            candidates = candidates.filter(~F.col(id_col).isin(list(exclude_ids)))
        qcol = F.array(*[F.lit(float(x)) for x in query_vec])
        return (
            candidates.select(
                F.col(id_col), cosine(F.col(vec_col), qcol).alias("cosine_sim")
            )
            .orderBy(F.col("cosine_sim").desc(), F.col(id_col).asc())
            .limit(k)
        )


def _blocking_directions(
    embeddings: DataFrame,
    w: float,
    id_col: str,
    vec_col: str,
    max_axes: int,
    min_bins: float,
) -> list[list[float]]:
    """Choose the unit directions the near-dup blocker bins on — FROM
    THE DATA, not the first coordinates — with NO corpus-size-bounded
    sampling anywhere (the r3 form collected a ≤1024-vector sample to
    the driver; fine, but a cap is a cap).

    Why principal directions: coordinates of unit vectors concentrate
    as ~N(0, 1/dim), so at dim ≥ 64 a raw coordinate spans only 2-4
    bins of width w≈0.14 and per-block products approach n² (the r2
    scale finding). Projections onto the top principal directions
    don't concentrate — for any corpus with structure (clusters,
    topics) their spread is O(1) regardless of dim, because that's
    where the variance lives.

    Method, fully distributed:
    1. split rows by id-hash parity into FIT and EVAL halves
       (deterministic, exchangeable);
    2. exact covariance of the FIT half's unit vectors in one
       mapInPandas pass — each Arrow batch reduces to (count, Σv,
       Σvvᵀ) with numpy, so driver state is O(batches·dim²), the
       treeAggregate shape, never O(rows);
    3. eigendecomposition of the dim×dim covariance on the driver
       (O(dim³), data-independent);
    4. candidate-direction projection spread (p02–p98) measured on the
       HELD-OUT half with one percentile_approx aggregation — the
       eigenbasis maximizes its own half's variance, so in-sample
       spread is biased high and an isotropic corpus would look
       separable.
    Axes are kept while spread/w ≥ ``min_bins`` (each kept axis
    multiplies pruning by ~spread/w but costs 3× replication), at most
    ``max_axes``; if none qualify (isotropic corpus — nothing prunes
    that), the single widest direction keeps the plan an equi-join.

    Exactness never depends on this choice: the per-direction bound
    |⟨a,u⟩ − ⟨b,u⟩| = |⟨a−b, u⟩| ≤ ‖a−b‖ ≤ w holds for EVERY unit
    direction u, so any selection here only changes speed, not the
    pair set."""
    import numpy as np
    import pandas as pd
    from pyspark.sql.types import ArrayType, DoubleType, LongType, StructField, StructType

    from ironman_medallion_lakehouse_spark.session import ensure_package_on_executors

    ensure_package_on_executors(embeddings.sparkSession)

    first = embeddings.select(F.col(vec_col)).filter(F.col(vec_col).isNotNull()).first()
    if first is None:
        return [[1.0]]
    dim = len(first[0])
    e1 = [1.0] + [0.0] * (dim - 1)

    base = (
        embeddings.filter(F.col(vec_col).isNotNull())
        .select(F.col(id_col).alias("_id"), F.col(vec_col).alias("_v"))
        .withColumn("_n", F.nullif(norm(F.col("_v")), F.lit(0.0)))
        .filter(F.col("_n").isNotNull())
        .select(
            "_id",
            F.transform("_v", lambda x: x.cast("double") / F.col("_n")).alias("_u"),
        )
    )
    fit = base.filter(F.pmod(F.xxhash64(F.col("_id")), F.lit(2)) == 0)
    ev = base.filter(F.pmod(F.xxhash64(F.col("_id")), F.lit(2)) == 1)
    # tiny corpora: halving leaves too little signal on either side —
    # fit and evaluate on everything (overfit is harmless at small n,
    # the same rationale the sampled version used)
    n_fit, n_ev = fit.limit(40).count(), ev.limit(40).count()
    if n_fit < 20 or n_ev < 20:
        fit = ev = base
        if fit.limit(2).count() < 2:
            return [e1]

    partial_schema = StructType(
        [
            StructField("n", LongType()),
            StructField("s", ArrayType(DoubleType())),
            StructField("o", ArrayType(DoubleType())),
        ]
    )

    def cov_partials(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            V = np.stack([np.asarray(u, dtype=np.float64) for u in pdf["_u"]])
            yield pd.DataFrame(
                {
                    "n": [len(V)],
                    "s": [V.sum(axis=0).tolist()],
                    "o": [(V.T @ V).ravel().tolist()],
                }
            )

    parts = fit.select("_u").mapInPandas(cov_partials, partial_schema).collect()
    if not parts:
        return [e1]
    n = sum(p["n"] for p in parts)
    s = np.sum([np.asarray(p["s"]) for p in parts], axis=0)
    o = np.sum([np.asarray(p["o"]) for p in parts], axis=0).reshape(dim, dim)
    mu = s / n
    cov = o / n - np.outer(mu, mu)
    eigvals, eigvecs = np.linalg.eigh(cov)  # ascending
    # a few spare candidates beyond max_axes so a low-spread top PC can
    # be passed over in favor of a wider lower one
    n_cand = min(dim, max(max_axes * 2, max_axes + 2))
    cand = eigvecs[:, ::-1][:, :n_cand].T  # rows = directions, by eigenvalue desc

    proj_cols = [
        dot(F.col("_u"), F.array(*[F.lit(float(x)) for x in u])).alias(f"_p{i}")
        for i, u in enumerate(cand)
    ]
    spread_row = (
        ev.select(*proj_cols)
        .agg(
            *[
                F.percentile_approx(f"_p{i}", F.array(F.lit(0.02), F.lit(0.98)), 10000).alias(
                    f"_q{i}"
                )
                for i in range(len(cand))
            ]
        )
        .collect()[0]
    )
    spread = np.array(
        [float(spread_row[f"_q{i}"][1] - spread_row[f"_q{i}"][0]) for i in range(len(cand))]
    )
    order = np.argsort(-spread)
    keep = [i for i in order if spread[i] / w >= min_bins][:max_axes]
    if not keep:
        keep = [int(order[0])]
    return [[float(x) for x in cand[i]] for i in keep]


def _neardup_candidates(
    embeddings: DataFrame,
    threshold: float,
    id_col: str,
    vec_col: str,
    directions: list[list[float]],
) -> DataFrame:
    """The blocked equi-join candidate set (pre-refine): every pair
    with cosine ≥ threshold is present (recall 1 by the projection
    bound), plus block-collision false positives the refine filter
    drops. Exposed separately so tests can assert the candidate count
    is pruned, not ~n²/2."""
    w = max(float((2.0 - 2.0 * threshold) ** 0.5), 1e-9)
    n_axes = len(directions)
    offsets = [[]]
    for _ in range(n_axes):
        offsets = [o + [d] for o in offsets for d in (-1, 0, 1)]

    def bins(df, side):
        # project onto each blocking direction, normalized — norm
        # computed ONCE per row (Spark doesn't hoist lambda-invariant
        # aggregates, so don't unit-normalize the whole array). The
        # ORIGINAL vector is carried for the refine filter so scores
        # are bit-identical to an unblocked scorer.
        df = df.withColumn("_n", F.nullif(norm(F.col(vec_col)), F.lit(0.0)))
        for i, u in enumerate(directions):
            ucol = F.array(*[F.lit(float(x)) for x in u])
            df = df.withColumn(
                f"_b{i}",
                F.floor(dot(F.col(vec_col), ucol) / F.col("_n") / F.lit(w)),
            )
        return df.select(
            F.col(id_col).alias(f"id_{side}"),
            F.col(vec_col).alias(f"v_{side}"),
            *[F.col(f"_b{i}") for i in range(n_axes)],
        )

    left = bins(embeddings, "a")
    right = bins(embeddings, "b")
    right = right.withColumn(
        "_off", F.explode(F.array(*[F.array(*[F.lit(d) for d in o]) for o in offsets]))
    )
    for i in range(n_axes):
        right = right.withColumn(f"_b{i}", F.col(f"_b{i}") + F.element_at("_off", i + 1))
    cond = F.col("id_a") < F.col("id_b")
    for i in range(n_axes):
        cond = cond & (left[f"_b{i}"] == right[f"_b{i}"])
    return left.join(right, cond).select("id_a", "id_b", "v_a", "v_b")


def cosine_neardup_pairs(
    embeddings: DataFrame,
    threshold: float = 0.99,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_axes: int = 3,
    min_bins: float = 3.0,
) -> DataFrame:
    """Exact cosine near-duplicate pairs as a blocked EQUI-join —
    recall 1.0, never an all-pairs θ-join, dimension-robust.

    The bound that makes blocking lossless: on unit vectors,
    cos(a,b) ≥ t  ⟹  ‖a−b‖ ≤ w = sqrt(2−2t), so the projections of a
    and b onto ANY unit direction u differ by at most w. Binning each
    chosen direction's projection at width w therefore puts every
    qualifying pair in the same-or-adjacent bin per axis. One side is
    replicated to its 3^n_axes neighbor-bin combinations (the
    bin-replicate-refine rewrite of operators/rangejoin.py,
    generalized) and the join is an equi-join on the bin tuple — each
    true pair meets on exactly one offset combination, so no distinct
    is needed. The exact cosine filter then drops false candidates.

    The directions and their count are chosen FROM THE DATA
    (``_blocking_directions``): top principal directions of the FULL
    corpus via a distributed covariance pass (driver state O(dim²),
    never a row sample), keeping only axes whose held-out projection
    spread covers ≥ ``min_bins`` bins — raw first-coordinates binning
    (the r2 design) degenerates at dim ≥ 64 because unit-vector
    coordinates concentrate as ~N(0, 1/dim), while principal
    projections keep O(1) spread on any structured corpus at any dim.

    Scale: shuffle keys are bin tuples; cost is sum of per-block
    products instead of n². Unlike sign-LSH banding, recall is
    provably 1, so the same function is the verification baseline AND
    the scale path.

    Edge cases: threshold=1.0 gives w=0 — clamped to a tiny positive
    width (the |Δ| ≤ 0 ≤ w bound still holds, exact duplicates share a
    bin). Zero-norm vectors have no direction (cosine undefined): their
    bins go NULL via nullif, and NULL join keys match nothing, so they
    produce no pairs instead of a division error.
    """
    w = max(float((2.0 - 2.0 * threshold) ** 0.5), 1e-9)
    directions = _blocking_directions(
        embeddings, w, id_col, vec_col, max_axes, min_bins
    )
    return (
        _neardup_candidates(embeddings, threshold, id_col, vec_col, directions)
        .filter(cosine(F.col("v_a"), F.col("v_b")) >= threshold)
        .select("id_a", "id_b")
    )


# ---------------------------------------------------------------------------
# Product quantization (PQ) with asymmetric-distance (ADC) scoring
# ---------------------------------------------------------------------------

def pq_random_codebooks(n_sub: int, sub_dim: int, k_codes: int) -> list:
    """Deterministic md5-seeded PQ codebooks, one list of ``k_codes``
    ``sub_dim``-vectors per subspace — the ``signlsh_hyperplanes`` /
    ``minhash_coeffs`` one-source-of-truth pattern, so a DuckDB oracle
    embeds the identical double literals. Production would instead fit
    each subspace's codebook with ``kmeans_centroids`` on a sample
    (the operators below accept ANY codebook nested list)."""
    import hashlib

    return [
        [
            [
                int.from_bytes(
                    hashlib.md5(f"pq-{m}-{c}-{d}".encode()).digest()[:8], "big"
                )
                / 2**64
                - 0.5
                for d in range(sub_dim)
            ]
            for c in range(k_codes)
        ]
        for m in range(n_sub)
    ]


def _code_norm2(code: list) -> float:
    """⟨code, code⟩ as the exact left-fold double Python computes —
    embedded as the same literal in both engines."""
    acc = 0.0
    for x in code:
        acc += float(x) * float(x)
    return acc


def pq_assign(
    embeddings: DataFrame,
    codebooks: list,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(id, code_0 … code_{m-1}): per-subspace nearest-code index
    (Jégou, Douze & Schmid 2011, "Product Quantization for Nearest
    Neighbor Search"). The argmin drops the ‖sub‖² term common to all
    codes of a subspace: argmin_c ‖sub−c‖² = argmin_c (‖c‖² − 2⟨sub,c⟩).
    Ties break to the LOWEST code index (np.argmin's first-occurrence
    rule ≡ the oracle's first-index-of-min).

    Implementation note — why Arrow-batched mapInPandas and not pure
    Column math: the distance grid is m·k dot products per row (128
    at the q102 shape). As an F.aggregate fold it runs INTERPRETED
    (the SCALING.md HOF policy — measured ~15 s for 5k rows at
    sf0.1); fully unrolled it exceeds janino's 64 KB method limit,
    which silently drops the WHOLE stage out of codegen (~26 s). So
    this is one of the repo's justified vectorized-numeric Python
    sites (with simhash's bit-majority and the covariance partials):
    zero-copy Arrow batches, numpy elementwise ops, no shuffle.

    Cross-engine determinism: accumulation is an explicit loop over
    the sub-dimension (acc += v_d·c_d), i.e. the same left
    association as DuckDB's list_dot_product — never np.dot/@, whose
    BLAS kernels reorder the sum.

    100 TB design: a map-only one-time ENCODE pass (the IVF-build
    analogue, not a per-query cost) that compresses float32[64] to
    m=8 small codes (32×) — the point of PQ: the quantized corpus
    rides in executor RAM and ADC scans never touch the raw vectors."""
    import numpy as np
    from pyspark.sql.types import LongType, StructField, StructType

    n_sub = len(codebooks)
    sub_dim = len(codebooks[0][0])
    codes_arr = [np.array(book, dtype=np.float64) for book in codebooks]  # (k, d)
    norms = [
        np.array([_code_norm2(code) for code in book], dtype=np.float64)
        for book in codebooks
    ]
    schema = StructType(
        [StructField(id_col, LongType())]
        + [StructField(f"code_{m}", LongType()) for m in range(n_sub)]
    )

    def encode(batches):
        for pdf in batches:
            import pandas as pd

            if len(pdf) == 0:
                # an empty Arrow batch would collapse np.array to 1-D
                # and break the column indexing below
                continue
            v = np.array(
                [np.asarray(x, dtype=np.float64) for x in pdf[vec_col]]
            )
            out = {id_col: pdf[id_col].astype("int64")}
            for m in range(n_sub):
                off = m * sub_dim
                acc = np.zeros((len(pdf), len(codes_arr[m])))
                for d in range(sub_dim):
                    # ordered accumulation == the engines' left fold
                    acc += v[:, off + d, None] * codes_arr[m][None, :, d]
                score = norms[m][None, :] - 2.0 * acc
                out[f"code_{m}"] = np.argmin(score, axis=1).astype("int64")
            yield pd.DataFrame(out)

    return embeddings.select(id_col, vec_col).mapInPandas(encode, schema)


def pq_adc_topk(
    embeddings: DataFrame,
    codebooks: list,
    query_id: int,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Top-k by asymmetric PQ distance to the ``query_id`` row:
    ADC(v) = Σ_m ‖q_sub_m − code(v)_m‖², a per-subspace lookup into a
    query-specific table of m·k precomputed distances.

    Plan shape: quantization is a map-only encode (see ``pq_assign``);
    the query row is collected ONCE (one row of dim floats — the
    IvfIndex.probe_cells precedent) and the LUT becomes m literal
    arrays, so scoring is element_at + a decimal sum inside codegen,
    and the final top-k is TakeOrderedAndProject. Per-cell distances
    are cast to DECIMAL(18,10) before the Σ_m so the total is
    accumulation-order-independent and engine-exact (the repo's dsum
    discipline). LUT doubles are computed with the same ordered
    accumulation as the engines' left fold.

    Output: (rnk, id) — the (rank, id) float discipline; distances
    order the heap but never leave the plan."""
    from pyspark.sql import Window

    n_sub = len(codebooks)
    k_codes = len(codebooks[0])
    sub_dim = len(codebooks[0][0])

    qrow = embeddings.filter(F.col(id_col) == query_id).select(vec_col).collect()
    if not qrow:
        raise ValueError(f"query_id {query_id} not found in embeddings")
    qv = [float(x) for x in qrow[0][0]]

    # LUT cell (m, c): ‖q_m‖² − 2⟨q_m, code⟩ + ‖code‖², every term the
    # exact left-fold double both engines compute
    lut: list[list[float]] = []
    for m in range(n_sub):
        off = m * sub_dim
        qself = 0.0
        for d in range(sub_dim):
            qself += qv[off + d] * qv[off + d]
        row = []
        for code in codebooks[m]:
            dotqc = 0.0
            for d in range(sub_dim):
                dotqc += qv[off + d] * float(code[d])
            row.append(qself - 2.0 * dotqc + _code_norm2(code))
        lut.append(row)

    assigned = pq_assign(embeddings, codebooks, id_col, vec_col)
    cells = [
        F.element_at(
            F.array(*[F.lit(v) for v in lut[m]]),
            (F.col(f"code_{m}") + 1).cast("int"),
        ).cast("decimal(18,10)")
        for m in range(n_sub)
    ]
    total = cells[0]
    for cexp in cells[1:]:
        total = total + cexp
    scored = assigned.filter(F.col(id_col) != query_id).select(
        F.col(id_col), total.alias("_adc")
    )
    # bounded-serial: ranks the <=k-row TakeOrderedAndProject frame
    w = Window.orderBy(F.col("_adc").asc(), F.col(id_col).asc())
    return (
        scored.orderBy(F.col("_adc").asc(), F.col(id_col).asc())
        .limit(k)
        .select(
            F.row_number().over(w).cast("bigint").alias("rnk"), F.col(id_col)
        )
    )


# ---------------------------------------------------------------------------
# scalar quantization — int8 symmetric (the compression path beside PQ)
# ---------------------------------------------------------------------------

def sq8_encode(
    embeddings: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Symmetric int8 scalar quantization of an embedding column:
    (id, scale, codes array<int>) with code_i = round(x_i/scale·127),
    scale = max|x_i| per vector — the 4× compression every vector
    store ships (FAISS SQ8 / Milvus / pgvector halfvec-style) and the
    cheap sibling of PQ (q102): no codebook to train, exact per-dim
    reconstruction bound scale/127.

    Map-only: two linear HOFs per row (an abs-max and the code
    transform) — O(dim) each, inside the SCALING.md HOF policy (the
    interpreted-HOF trap is QUADRATIC folds; linear per-row transforms
    of a 64-wide array are fine and keep the op shuffle-free at any
    scale). The ``greatest(…, 1e-12)`` guard makes the zero vector
    encode to zeros instead of NaN.

    Kept with no package caller: tests/test_training_ops3.py checks its
    codes beside ``sq8_recon_stats``, the aggregate q108 runs."""
    v = F.transform(F.col(vec_col), lambda x: x.cast("double"))
    scale = F.greatest(
        F.array_max(F.transform(v, lambda x: F.abs(x))), F.lit(1e-12)
    )
    return (
        embeddings.select(F.col(id_col), v.alias("_v"), scale.alias("_scale"))
        .select(
            F.col(id_col),
            F.col("_scale").alias("scale"),
            F.transform(
                F.col("_v"),
                lambda x: F.round(x / F.col("_scale") * 127).cast("int"),
            ).alias("codes"),
        )
    )


def sq8_recon_stats(
    embeddings: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Per-vector int8 reconstruction audit: (id, scale_r, code_0,
    codes_sig, mean_abs_err) where codes_sig is md5 over the
    comma-joined code array (so the oracle certifies EVERY code, not a
    sample, through one scalar column) and mean_abs_err averages
    |dequant(code) − x| — the quality metric that decides whether SQ8
    is enough or the index needs PQ/float.

    Shape: ONE scan — encode, signature, and the error explode all
    derive from the same row, so there is no self-join anywhere; the
    DECIMAL(18,9)-rounded errors are summed with map-side combine (the
    explode never leaves the stage), and the decimal rounding makes
    the mean partition- and engine-exact (q98 policy)."""
    v = F.transform(F.col(vec_col), lambda x: x.cast("double"))
    scale = F.greatest(
        F.array_max(F.transform(v, lambda x: F.abs(x))), F.lit(1e-12)
    )
    enc = embeddings.select(
        F.col(id_col), v.alias("_v"), scale.alias("scale")
    ).select(
        F.col(id_col),
        "scale",
        "_v",
        F.transform(
            F.col("_v"), lambda x: F.round(x / F.col("scale") * 127).cast("int")
        ).alias("codes"),
    )
    sig = F.md5(
        F.concat_ws(",", F.transform(F.col("codes"), lambda c: c.cast("string")))
    )
    joined = enc.select(
        F.col(id_col),
        F.col("scale"),
        sig.alias("codes_sig"),
        F.element_at(F.col("codes"), 1).alias("code_0"),
        F.posexplode(F.col("_v")),
    )
    err = F.abs(
        F.round(F.col("col") / F.col("scale") * 127) / 127 * F.col("scale")
        - F.col("col")
    ).cast("decimal(18,9)")
    return (
        joined.select(
            F.col(id_col), "scale", "codes_sig", "code_0", err.alias("_e")
        )
        .groupBy(id_col, "scale", "codes_sig", "code_0")
        .agg(F.sum("_e").alias("_se"), F.count(F.lit(1)).alias("_n"))
        .select(
            F.col(id_col),
            F.round(F.col("scale"), 6).alias("scale_r"),
            F.col("code_0"),
            F.col("codes_sig"),
            F.round(F.col("_se").cast("double") / F.col("_n"), 6).alias(
                "mean_abs_err"
            ),
        )
    )


# ---------------------------------------------------------------------------
# Johnson-Lindenstrauss random projection (dimensionality reduction)
# ---------------------------------------------------------------------------

def jl_signs(in_dim: int, out_dim: int, salt: str = "jl") -> list[list[int]]:
    """Deterministic Rademacher ±1 sign matrix from md5(i:j:salt) —
    the Achlioptas 2003 database-friendly JL construction (signs
    instead of Gaussians: same distance-preservation guarantee, integer
    multiplies). Python-side, like ``minhash_coeffs``: ONE source of
    truth both the Spark plan and the DuckDB oracle embed as
    literals."""
    import hashlib

    return [
        [
            1
            if int(hashlib.md5(f"{i}:{j}:{salt}".encode()).hexdigest()[:8], 16) % 2
            == 0
            else -1
            for j in range(out_dim)
        ]
        for i in range(in_dim)
    ]


def jl_project(
    embeddings: DataFrame,
    out_dim: int = 16,
    salt: str = "jl",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    in_dim: int | None = None,
) -> DataFrame:
    """Project an embedding column to ``out_dim`` dimensions with a
    seeded Rademacher matrix:  proj_j = (Σ_i x_i·s_ij) / √out_dim —
    the classic JL sketch that preserves pairwise distances within
    (1±ε) for out_dim = O(ln n / ε²), the preprocessing step that
    makes 100 TB ANN/clustering affordable (4× fewer bytes per vector
    here; compose with SQ8/PQ for more).

    Output: (id, proj_0 … proj_{out_dim-1}), each rounded to 6
    decimals. Plan: ONE posexplode (×in_dim rows, collapsed by
    map-side combine) joined to a broadcast in_dim-row sign table,
    then out_dim conditional decimal sums in ONE groupBy — no
    quadratic HOF folds (the q102 lesson), no shuffle beyond the
    grouped aggregate, which re-hashes the id key the table is often
    already partitioned by.

    Determinism: x_i·(±1) is an exact double; each term is rounded
    into DECIMAL(18,9) before the (exact, order-free) sum, and the
    final /√out_dim divides by the SAME Python double literal the
    oracle embeds — partition- and engine-exact at 6 decimals.

    ``in_dim`` defaults to the width of the first vector (vectors must
    be uniform-width — ragged inputs would silently drop terms, so the
    explode join is inner and the sign table authoritative)."""
    import math

    spark = embeddings.sparkSession
    if in_dim is None:
        in_dim = len(
            embeddings.select(F.col(vec_col)).limit(1).collect()[0][0]
        )
    signs = jl_signs(in_dim, out_dim, salt)
    sdf = spark.createDataFrame(
        [(i, *signs[i]) for i in range(in_dim)],
        ["pos"] + [f"s_{j}" for j in range(out_dim)],
    )
    ex = embeddings.select(
        F.col(id_col),
        F.posexplode(F.transform(F.col(vec_col), lambda x: x.cast("double"))),
    )
    joined = ex.join(F.broadcast(sdf), "pos")
    root = math.sqrt(float(out_dim))
    # One double→decimal cast per exploded row, signs applied as a
    # conditional decimal NEGATE (r14 optimization): the original form
    # paid out_dim double-multiplies + out_dim decimal casts per row.
    # Provably value-identical: s_ij ∈ {−1, +1}, x·(+1) = x and
    # x·(−1) = −x are exact in IEEE, and Spark's decimal cast rounds
    # HALF_UP (away from zero — odd-symmetric), so
    # cast(−x) ≡ −cast(x) and Σ cast(x·s) ≡ Σ (s>0 ? t : −t) with
    # t = cast(x) — the same exact decimal terms in the same exact sum.
    term = F.col("col").cast("decimal(18,9)")
    g = joined.withColumn("_t", term).groupBy(id_col).agg(
        *[
            F.sum(
                F.when(F.col(f"s_{j}") > 0, F.col("_t")).otherwise(-F.col("_t"))
            ).alias(f"d_{j}")
            for j in range(out_dim)
        ]
    )
    return g.select(
        F.col(id_col),
        *[
            F.round(F.col(f"d_{j}").cast("double") / F.lit(root), 6).alias(
                f"proj_{j}"
            )
            for j in range(out_dim)
        ],
    )


def knn_graph(
    embeddings: DataFrame,
    hyperplanes: list[list[float]],
    k: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Approximate k-NN GRAPH construction — every vector's top-k
    cosine neighbors among its sign-LSH bucket mates: (src, rnk, dst).
    The corpus-wide batch sibling of the single-query ANN paths
    (q45/q46/q96/q102) and the substrate for graph-based semantic
    dedup, label propagation, and HNSW-style index seeding.

    Plan: one map-only bucketing pass (Charikar hyperplanes — pass the
    ``signlsh_hyperplanes`` output so an oracle can replay the
    geometry), one bucket equi-self-join (Σ m_b² pairs, never n² —
    the q92 shape), one cosine per candidate pair, one per-src window
    for the top-k cut. The join and the window shuffle on uniformly
    distributed keys (md5-seeded buckets, then src ids). Approximate
    by construction: neighbors outside the bucket are missed
    (collision probability (1−θ/π)^bits), and a vector alone in its
    bucket emits no rows — raise recall with fewer bits or by probing
    neighbor buckets (the q96 multiprobe dial) at (1+bits)× join
    cost.

    Skew: a hot bucket contributes m² pairs — the LSH-bucket twin of
    ``lsh_candidate_pairs``'s mega-buckets; at corpus scale cap it the
    same way (drop or split buckets above a ceiling) before the
    self-join. Determinism: ties in cosine break on the neighbor id,
    so the graph is engine-exact (ids only in the output — the q59
    float discipline)."""
    from pyspark.sql import Window

    b = signlsh_buckets(embeddings, hyperplanes, id_col, vec_col)
    a = b.select(
        F.col(id_col).alias("src"), F.col(vec_col).alias("_va"), "bucket"
    )
    bb = b.select(
        F.col(id_col).alias("dst"), F.col(vec_col).alias("_vb"), "bucket"
    )
    pairs = a.join(bb, "bucket").filter(F.col("src") != F.col("dst"))
    scored = pairs.select(
        "src", "dst", cosine(F.col("_va"), F.col("_vb")).alias("_sim")
    )
    w = Window.partitionBy("src").orderBy(
        F.col("_sim").desc(), F.col("dst").asc()
    )
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= k)
        .select("src", F.col("rnk").cast("bigint").alias("rnk"), "dst")
    )


def feature_hash_vectors(
    docs: DataFrame,
    dim: int = 16,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """The hashing trick (Weinberger et al. 2009): every document
    becomes an L2-normalized ``dim``-vector of SIGNED hashed unigram
    counts — f_j = Σ_{tok: h(tok)=j} s(tok)·count(tok), s ∈ {±1} from
    an independent hash (the sign unbiases E[⟨φ(a),φ(b)⟩] toward the
    true token-overlap kernel). The zero-training featurizer that
    turns raw text into vectors the rest of the toolbox consumes —
    kNN graph (q114), JL (q110), SQ8/PQ compression, cosine ANN —
    without any embedding model in the loop.

    Output: (id, n_tokens, f_0 … f_{dim-1}) as unrounded doubles;
    all-empty docs (norm 0) emit zero vectors.

    Plan: one explode + ONE grouped aggregate with ``dim``
    conditional integer sums (map-side combined — the q110 shape);
    the norm is an exact integer sum-of-squares under a deterministic
    sqrt, so components are engine-exact WITHOUT a display round
    (integer sums → one sqrt → one IEEE divide, no decimal absorb
    anywhere upstream — pre-gated bit-exact vs DuckDB at
    sf0.001/0.01/0.1 by the r13 rounds probe, now in git history)."""
    from ironman_medallion_lakehouse_spark.functions.text import words
    from ironman_medallion_lakehouse_spark.operators.dedup import token_hash_raw

    tf = docs.select(
        F.col(id_col), F.explode(words(text_col)).alias("tok")
    ).select(
        F.col(id_col),
        F.pmod(token_hash_raw(F.col("tok")), F.lit(dim)).alias("_b"),
        F.when(
            F.pmod(
                F.conv(
                    F.substring(F.md5(F.concat(F.col("tok"), F.lit("#sign"))), 1, 8),
                    16,
                    10,
                ).cast("bigint"),
                F.lit(2),
            )
            == 0,
            F.lit(1),
        )
        .otherwise(F.lit(-1))
        .alias("_s"),
    )
    g = tf.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("n_tokens"),
        *[
            F.sum(F.when(F.col("_b") == j, F.col("_s")).otherwise(F.lit(0)))
            .alias(f"_f{j}")
            for j in range(dim)
        ],
    )
    norm2 = None
    for j in range(dim):
        term = F.col(f"_f{j}") * F.col(f"_f{j}")
        norm2 = term if norm2 is None else norm2 + term
    nrm = F.sqrt(norm2.cast("double"))
    return g.select(
        F.col(id_col),
        F.col("n_tokens"),
        *[
            F.when(nrm == 0, F.lit(0.0))
            .otherwise(F.col(f"_f{j}").cast("double") / nrm)
            .alias(f"f_{j}")
            for j in range(dim)
        ],
    )


def embedding_mean_drift(
    reference: DataFrame,
    current: DataFrame,
    vec_col: str = "embedding",
) -> DataFrame:
    """Embedding-space drift screen: has the CURRENT batch's embedding
    distribution moved relative to a REFERENCE sample? The linear-time
    mean-embedding statistic (the first moment of MMD with a linear
    kernel — Gretton et al. 2012's cheapest special case): ONE row

        (n_ref, n_cur, mean_cosine, norm_ratio)

    where mean_cosine = cos(μ_ref, μ_cur) and norm_ratio =
    ‖μ_cur‖/‖μ_ref‖. A topical/domain shift rotates the mean
    (cosine drops); a quality/length regime shift often shows up as a
    norm change first. Complements the scalar-signal screens (q142's
    KS/PSI): those watch one projected signal, this watches the full
    representation space at one-aggregate cost.

    Determinism + scale: per-dimension DECIMAL(28,12) sums via ONE
    posexplode + groupBy(side, dim) with map-side partial combine —
    the kmeans_centroids accumulation discipline, order- and
    partitioning-insensitive; the two mean vectors (2 × dim rows) then
    collapse through exact dot/norm sums and one fixed double cosine,
    rounded to 6 decimals. Mergeable: the dimension sums are plain
    sums, so a streaming gate can keep the reference side's
    (dim, Σ, n) frame materialized and pay only the batch's pass —
    the corpus_sigs/corpus_hashes precedent. NULL cosine when either
    mean is the zero vector.

    Caveat (measured on this repo's synthetic embeddings): the cosine
    screen assumes a NON-CENTERED embedding space — real encoder
    outputs have means far from the origin, so the sample mean's
    direction is stable; for a centered/whitened space the mean is
    ≈ 0 and the cosine of two noisy near-zero means is arbitrary.
    There, watch norm_ratio and per-dimension mean shifts (the `s`/`n`
    sums this operator already computes) instead."""
    def _sums(df: DataFrame, side: str) -> DataFrame:
        return (
            df.filter(F.col(vec_col).isNotNull())
            .select(F.posexplode(F.col(vec_col)).alias("pos", "val"))
            .groupBy("pos")
            .agg(
                F.sum(F.col("val").cast("decimal(28,12)")).alias("s"),
                F.count(F.lit(1)).alias("n"),
            )
            .select(F.lit(side).alias("side"), "pos", "s", "n")
        )

    both = _sums(reference, "ref").unionByName(_sums(current, "cur"))
    means = both.select(
        "side",
        "pos",
        (F.col("s").cast("double") / F.col("n").cast("double")).alias("m"),
        "n",
    )
    row = (
        means.groupBy("pos")
        .pivot("side", ["ref", "cur"])
        .agg(F.first("m").alias("m"), F.first("n").alias("n"))
    )
    agg = row.agg(
        F.max("ref_n").cast("bigint").alias("n_ref"),
        F.max("cur_n").cast("bigint").alias("n_cur"),
        F.sum(
            (F.col("ref_m") * F.col("cur_m")).cast("decimal(28,12)")
        ).alias("_dot"),
        F.sum((F.col("ref_m") * F.col("ref_m")).cast("decimal(28,12)")).alias("_na"),
        F.sum((F.col("cur_m") * F.col("cur_m")).cast("decimal(28,12)")).alias("_nb"),
    )
    na = F.sqrt(F.col("_na").cast("double"))
    nb = F.sqrt(F.col("_nb").cast("double"))
    ok = (F.col("_na") > 0) & (F.col("_nb") > 0)
    return agg.select(
        "n_ref",
        "n_cur",
        F.when(ok, F.round(F.col("_dot").cast("double") / (na * nb), 6)).alias(
            "mean_cosine"
        ),
        F.when(ok, F.round(nb / na, 6)).alias("norm_ratio"),
    )
