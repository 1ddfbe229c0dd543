"""Connected components over candidate-pair graphs — the grouping
stage of a near-duplicate pipeline.

Beyond-reference extension (BASELINE.json north star). Pairwise
near-dup detection (LSH banding, winnowing, embedding blocking) emits
EDGES; deduplication needs GROUPS: if A~B and B~C, then {A, B, C} is
one duplicate cluster even though (A, C) was never scored. Connected
components closes that transitivity gap and yields one canonical
survivor per cluster.

Algorithm: min-neighbor star contraction (the Borůvka/Kiveris family
— "Connected Components in MapReduce and Beyond"). Each round:
(1) every current super-node adopts the minimum of itself and its
neighbors, (1b) the adoption forest is pointer-jumped to fixpoint —
O(log depth) self-joins of a one-row-per-super-node frame — so every
pointer goes straight to its star's root, (2) the node→root mapping
composes through the jumped adoption, (3) the CURRENT edge frame is
contracted in place — each endpoint replaced by its root, self-loops
dropped. Dense duplicate clusters (near-cliques) collapse to a single
super-node in ONE round, monotone chains collapse in one contract
round after ⌈log₂ n⌉ tiny jumps, and the contracted frame all but
vanishes after the first iteration. Two structural differences from
the r4 form: contraction maps the shrinking current frame, not the
full ORIGINAL edge set per round (measured at sf0.1, rounds 1-2 fell
from ~0.85 s each over 1.9M re-joined edge rows to ~0.1 s over 606-
and 6-row frames), and pointer acceleration moved from the global
node→root mapping (one extra full-size self-join + checkpoint per
round) to the per-round star map, where the frames are smallest.
Hash-min label propagation (the r3 implementation) was worse than
both: diameter-many rounds over the full edge set (measured 8+
rounds × ~0.6 s at sf0.1). Per-round frames are localCheckpoint-ed
so the iterative plan never accumulates lineage (the classic
iterative-Spark failure mode).

At 100 TB scale the mapping frame is one row per *paired* document
(far smaller than the corpus — most documents share no pair), the
original edge frame is the refined pair set (materialized once), and
every per-round join shuffles on uniformly-hashed ids — or broadcasts
outright once contraction shrinks a side under the broadcast
threshold, which AQE decides at runtime.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _jump_to_fixpoint(m: DataFrame) -> DataFrame:
    """Path-compress an adoption map (_n → _m) until idempotent:
    m ← m∘m squares pointer depth per step, so a depth-d forest takes
    ⌈log₂ d⌉ self-joins. The frame is one row per super-node (small);
    values always stay inside the domain, so the left join's coalesce
    is a safety net, not a semantic branch."""
    while True:
        m2 = (
            m.alias("x")
            .join(m.alias("y"), F.col("x._m") == F.col("y._n"), "left")
            .select(
                F.col("x._n").alias("_n"),
                F.coalesce(F.col("y._m"), F.col("x._m")).alias("_m"),
            )
            .localCheckpoint(eager=True)
        )
        changed = (
            m2.alias("a")
            .join(m.alias("b"), F.col("a._n") == F.col("b._n"))
            .filter(F.col("a._m") != F.col("b._m"))
        )
        if changed.isEmpty():
            return m2
        m = m2


def _union_find_local(edges: list[tuple], spark, id_type) -> DataFrame:
    """Driver-side union-find for a SMALL edge list (gated by
    ``small_graph_threshold`` in connected_components): O(E·α) with
    path compression, labels = component minimum — identical output
    contract to the distributed path. ``id_type`` pins the output
    schema to the input's id type (inference would widen int32 ids to
    bigint and break on an empty edge set)."""
    import pandas as pd
    from pyspark.sql.types import StructField, StructType

    schema = StructType(
        [StructField("node", id_type), StructField("component", id_type)]
    )
    parent: dict = {}

    def find(x):
        r = x
        while parent[r] != r:
            r = parent[r]
        while parent[x] != r:
            parent[x], x = r, parent[x]
        return r

    for s, d in edges:
        if s not in parent:
            parent[s] = s
        if d not in parent:
            parent[d] = d
        rs, rd = find(s), find(d)
        if rs != rd:
            parent[rs] = rd
    comp_min: dict = {}
    for n in parent:
        r = find(n)
        if r not in comp_min or n < comp_min[r]:
            comp_min[r] = n
    nodes = list(parent)
    # a pandas frame goes through Arrow in one batch; a list of tuples
    # is pickled row by row through a Python worker
    labels = pd.DataFrame(
        {"node": nodes, "component": [comp_min[find(n)] for n in nodes]}
    )
    return spark.createDataFrame(labels, schema)


def connected_components(
    pairs: DataFrame,
    src_col: str = "id_a",
    dst_col: str = "id_b",
    max_iterations: int = 50,
    small_graph_threshold: int = 500_000,
) -> DataFrame:
    """(node, component) for every node appearing in ``pairs``, where
    ``component`` is the minimum node id in the node's connected
    component — a deterministic, engine-independent group id (the
    DuckDB oracle reproduces it with a recursive-CTE reachability
    closure).

    Undirected semantics: each pair is an edge both ways. Nodes that
    appear in no pair are absent (callers keep unpaired docs as
    implicit singleton groups — see ``dedup_groups_from_pairs``).

    Invariant: after round t, ``mapping`` (the composition of the
    per-round adoptions) sends every original node to its super-node
    in the t-times-contracted graph, and the round-t edge frame is
    exactly the image of the original edges under that composition
    (self-loops dropped — a self-loop stays a self-loop under any
    further contraction, so dropping early is safe). The component
    minimum adopts itself forever (it is the min of any neighborhood
    containing it), so at fixpoint (no surviving edges) every node's
    root IS its component minimum.

    Raises after ``max_iterations`` non-converged rounds rather than
    returning a silently-partial labeling.

    ``small_graph_threshold`` (r5): edge counts at or below it are
    solved with driver-side union-find instead — O(E·α) in one pass,
    versus ~6-10 fixed-overhead Spark jobs per contraction round. The
    default is 500k edges (ADVICE r5 lowered it from 2M): the local
    path holds ~2 Python ints per edge plus a dict-based union-find
    over up to 2·E nodes, realistically ~100-200 MB of driver heap at
    500k — bounded and broadcast-order, but a dict of Python objects,
    not a flat 32 MB buffer. The edge list is pulled through Arrow
    (``toPandas`` → int lists), not ``collect()``'s per-Row objects.
    Pass 0 to force the distributed path (the structural tests do).
    """
    # materialize the INPUT pairs once, before building the symmetric
    # union: the union's two branches each re-read their child, so an
    # unmaterialized `pairs` (typically an expensive LSH→refine
    # lineage) would be computed twice here and once more per round
    e = (
        pairs.select(F.col(src_col).alias("s"), F.col(dst_col).alias("d"))
        .filter(F.col("s") != F.col("d"))
        .localCheckpoint(eager=True)
    )
    # Hybrid (r5): below the threshold, solve on the driver with
    # union-find — the iterative distributed path costs ~6-10 Spark
    # jobs PER ROUND in fixed scheduling overhead, which dominates
    # end-to-end time once the pair graph is small (measured at sf0.1:
    # 4.6 s of round overhead for a 29k-edge graph vs ~0.3 s local).
    # The gate bounds driver state explicitly (500k edges ≈ low
    # hundreds of MB of dict-based union-find state — ADVICE r5
    # corrected the old 2M/"32 MB" sizing, which ignored Python object
    # overhead). Transfer is Arrow-batched columns unpacked to plain
    # int lists — never collect()'s per-Row objects. At 100 TB a
    # billion-edge pair graph takes the distributed branch below.
    n_edges = e.count()
    if n_edges <= small_graph_threshold:
        spark = pairs.sparkSession
        pdf = e.toPandas()
        return _union_find_local(
            list(zip(pdf["s"].tolist(), pdf["d"].tolist())),
            spark,
            e.schema["s"].dataType,
        )
    # cheap view over the checkpoint — no second materialization needed
    cur = e.unionByName(e.select(F.col("d").alias("s"), F.col("s").alias("d")))
    mapping = None
    for _ in range(max_iterations):
        # (1) star step: each current super-node adopts min(self,
        # neighbors). groupBy has map-side partial aggregation, so
        # duplicate edges never inflate the shuffle. m shrinks with
        # the contracted graph and AQE broadcasts it in the joins
        # below once it is small.
        m = (
            cur.groupBy("s")
            .agg(F.min("d").alias("_md"))
            .select(F.col("s").alias("_n"), F.least(F.col("s"), F.col("_md")).alias("_m"))
        )
        m = m.localCheckpoint(eager=True)  # read 3x below (compose + 2 contract sides)
        # (1b) pointer-jump the adoption forest to its fixpoint so
        # every pointer goes straight to its star's root. Without
        # this, a monotone chain (1-2-…-n, where node i adopts i−1)
        # contracts by only ONE node per round — linear rounds. Each
        # jump squares pointer depth, so fixpoint takes O(log depth)
        # self-joins of the m frame, which is one row per CURRENT
        # super-node — tiny next to the edge frame, and a near-clique
        # corpus confirms fixpoint on the first jump.
        m = _jump_to_fixpoint(m)
        # (2) compose the global mapping through the adoption. Round 0
        # needs no identity-mapping materialization: every node appears
        # as an edge source (symmetric union), so m IS the round-0
        # mapping. The mapping frame is one row per paired node —
        # small, and only joined against m (also small).
        if mapping is None:
            mapping = m.select(F.col("_n").alias("node"), F.col("_m").alias("root"))
        else:
            mapping = (
                mapping.join(m, mapping["root"] == m["_n"], "left")
                .select("node", F.coalesce(F.col("_m"), F.col("root")).alias("root"))
                .localCheckpoint(eager=True)
            )
        # (3) contract the CURRENT frame in place: each endpoint
        # replaced by its adopted root, self-loops dropped — dense
        # clusters vanish after one round, and every later round's
        # cost is proportional to the SURVIVING edges, not the input
        # (the r4 form re-joined the full original edge set per round)
        cur = (
            cur.join(m.select(F.col("_n").alias("s"), F.col("_m").alias("_rs")), "s")
            .join(m.select(F.col("_n").alias("d"), F.col("_m").alias("_rd")), "d")
            .select(F.col("_rs").alias("s"), F.col("_rd").alias("d"))
            .filter(F.col("s") != F.col("d"))
            .distinct()
            .localCheckpoint(eager=True)
        )
        if cur.isEmpty():
            return mapping.select("node", F.col("root").alias("component"))
    raise RuntimeError(
        f"connected_components did not converge in {max_iterations} rounds; "
        "the contracted graph still has edges — raise max_iterations "
        "(star contraction needs O(log n) rounds worst-case)"
    )


def pagerank(
    edges: DataFrame,
    src_col: str = "src",
    dst_col: str = "dst",
    iterations: int = 5,
    damping: float = 0.85,
) -> DataFrame:
    """Fixed-iteration PageRank over a directed edge frame:
    (node, rank) after ``iterations`` rounds of

        rank_i(v) = (1-d)/N + d * Σ_{(u,v)∈E} rank_{i-1}(u) / outdeg(u)

    — the power-iteration form of Brin & Page 1998, run a FIXED number
    of rounds so the result is a deterministic function of the graph
    (convergence-threshold stopping would make the answer depend on
    float noise; pipelines that want convergence just pass a larger
    ``iterations``). Nodes are every endpoint of ``edges``
    (duplicates collapse; self-loops participate like any edge).
    Dangling mass is NOT redistributed: a node with no out-edges
    contributes nothing, matching the plain formula the oracle states.

    Determinism (the repo policy, see SCALING.md "floating point"):
    ranks live in DECIMAL(28,10) and per-edge contributions are
    rounded into DECIMAL(28,14) BEFORE the incoming-edge sum, so the
    only order-sensitive reduction is an exact decimal sum —
    partition- and engine-independent. The scalar double math
    ((1-d)/N + d·S) is a fixed left-to-right expression both engines
    evaluate identically.

    Scale shape: the rank frame is one row per node — |V| rows
    against |E| edges, exactly CC's mapping-vs-edges asymmetry. Each
    round is two joins that shuffle on the SAME key (src), then one
    map-side-combined groupBy(dst); AQE broadcasts the rank frame
    outright once |V| fits the threshold. Per-round frames are
    localCheckpoint-ed so 50 iterations never accumulate lineage.
    The degree frame and N are computed once, outside the loop.
    """
    e = (
        edges.select(F.col(src_col).alias("src"), F.col(dst_col).alias("dst"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    nodes = (
        e.select(F.col("src").alias("node"))
        .unionByName(e.select(F.col("dst").alias("node")))
        .distinct()
        .localCheckpoint(eager=True)
    )
    deg = e.groupBy("src").agg(F.count(F.lit(1)).alias("outdeg"))
    n = nodes.count()  # one scalar — bounded driver state
    if n == 0:
        # empty edge frame: no nodes, empty result with the contract
        # schema (node type preserved, rank decimal) instead of a
        # divide-by-zero on the uniform prior
        return nodes.select(
            "node", F.lit(None).cast("decimal(28,10)").alias("rank")
        )
    base = (1.0 - damping) / float(n)
    ranks = nodes.select(
        "node", F.lit(1.0 / float(n)).cast("decimal(28,10)").alias("rank")
    )
    for _ in range(iterations):
        contrib = (
            e.join(ranks, e["src"] == ranks["node"])
            .join(deg, "src")
            .select(
                "dst",
                (F.col("rank").cast("double") / F.col("outdeg"))
                .cast("decimal(28,14)")
                .alias("c"),
            )
        )
        sums = contrib.groupBy("dst").agg(F.sum("c").alias("s"))
        ranks = (
            nodes.join(sums, nodes["node"] == sums["dst"], "left")
            .select(
                "node",
                (
                    F.lit(base)
                    + F.lit(damping)
                    * F.coalesce(
                        F.col("s"), F.lit(0).cast("decimal(38,14)")
                    ).cast("double")
                )
                .cast("decimal(28,10)")
                .alias("rank"),
            )
            .localCheckpoint(eager=True)
        )
    return ranks


def dedup_groups_from_pairs(
    docs: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    src_col: str = "id_a",
    dst_col: str = "id_b",
) -> DataFrame:
    """Per-document duplicate-group assignment from a pair set:
    (id, group_id, group_size, is_survivor).

    Paired documents get their connected component's min id as
    ``group_id``; unpaired documents are singleton groups of
    themselves. The survivor policy is min-id — deterministic and
    consistent with ``exact_dedup``'s tiebreak, so downstream
    ``filter(is_survivor)`` yields exactly one kept row per cluster.
    The docs side is one broadcast-or-shuffle left join against the
    (small) component labeling; group sizes are a window count over
    the group key.

    Kept with no package caller: it is the un-contracted grouping that
    tests/test_training_ops.py checks ``dedup.near_dedup_groups``
    against.
    """
    from pyspark.sql import Window

    comp = connected_components(pairs, src_col, dst_col)
    assigned = (
        docs.select(F.col(id_col))
        .join(comp, docs[id_col] == comp["node"], "left")
        .select(
            F.col(id_col),
            F.coalesce(F.col("component"), F.col(id_col)).alias("group_id"),
        )
    )
    w = Window.partitionBy("group_id")
    return assigned.select(
        F.col(id_col),
        "group_id",
        F.count(F.lit(1)).over(w).alias("group_size"),
        (F.col(id_col) == F.col("group_id")).alias("is_survivor"),
    )


def triangle_stats(
    edges: DataFrame,
    src_col: str = "src",
    dst_col: str = "dst",
) -> DataFrame:
    """Triangle counting + global clustering coefficient for an
    undirected graph (edges in either/both directions; self-loops and
    duplicates ignored): ONE row
    (n_nodes, n_edges, n_wedges, n_triangles, global_clustering),
    clustering = 3·triangles / wedges (0 when wedge-free).

    The third graph algorithm beside connected components and
    PageRank — the density/cohesion probe (spam-farm detection in link
    graphs, community strength) and the classic MapReduce-scale
    benchmark. Algorithm: degree-ordered orientation (Schank/
    Suri-Vassilvitskii): orient every canonical edge from the
    (degree, id)-smaller endpoint to the larger, which (a) counts
    each triangle exactly once at its smallest corner and (b) bounds
    every node's out-degree at O(√m), so the wedge self-join
    generates O(m^1.5) candidates instead of Σ deg² — the difference
    between a star node costing d² and costing nothing at 100 TB.
    The closing-edge check is a broadcast-or-shuffle semi-join on the
    oriented edge set. Wedge count is the exact Σ d(d−1)/2 — one
    aggregate over the degree frame.

    Determinism: every output is an exact integer except clustering
    = an exact-integer ratio, UNROUNDED (r13) — one IEEE
    multiply+divide, identical on both engines."""
    canon = (
        edges.select(
            F.least(F.col(src_col), F.col(dst_col)).alias("u"),
            F.greatest(F.col(src_col), F.col(dst_col)).alias("v"),
        )
        .filter(F.col("u") != F.col("v"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    deg = (
        canon.select(F.col("u").alias("node"))
        .unionByName(canon.select(F.col("v").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("deg"))
        .localCheckpoint(eager=True)  # read 3x: bounds check, rank, wedge count
    )
    # one sortable rank value: degree-major, id-minor via bit-packing
    # deg·2³² + node. The packing is only an ORDER if every id sits in
    # [0, 2³²) and is integral — outside that domain it would silently
    # corrupt the orientation and miscount triangles (ADVICE r5:
    # scale probes already offset ids by 1e9 per replica, approaching
    # the bound), so the domain is VALIDATED, not assumed: integral
    # type at plan time, id bounds with one min/max aggregate over the
    # |V|-row degree frame (trivial next to the wedge join it guards).
    from pyspark.sql.types import ByteType, IntegerType, LongType, ShortType

    node_type = deg.schema["node"].dataType
    if not isinstance(node_type, (ByteType, ShortType, IntegerType, LongType)):
        raise ValueError(
            f"triangle_stats requires integral node ids for the degree-order "
            f"rank packing; got {node_type.simpleString()}"
        )
    bounds = deg.agg(
        F.min("node").alias("lo"), F.max("node").alias("hi")
    ).collect()[0]
    if bounds.lo is not None and (bounds.lo < 0 or bounds.hi >= (1 << 32)):
        raise ValueError(
            f"triangle_stats node ids must lie in [0, 2^32) for the rank "
            f"packing deg*2^32 + node; got range [{bounds.lo}, {bounds.hi}]"
        )
    rank = deg.select(
        "node",
        (F.col("deg").cast("long") * F.lit(1 << 32) + F.col("node")).alias("rnk"),
    )
    ra = rank.select(F.col("node").alias("u"), F.col("rnk").alias("_ru"))
    rb = rank.select(F.col("node").alias("v"), F.col("rnk").alias("_rv"))
    oriented = (
        canon.join(ra, "u")
        .join(rb, "v")
        .select(
            F.when(F.col("_ru") < F.col("_rv"), F.col("u")).otherwise(F.col("v")).alias("a"),
            F.when(F.col("_ru") < F.col("_rv"), F.col("v")).otherwise(F.col("u")).alias("b"),
            F.when(F.col("_ru") < F.col("_rv"), F.col("_rv")).otherwise(F.col("_ru")).alias("rb"),
        )
        .localCheckpoint(eager=True)
    )
    e1 = oriented.select(F.col("a"), F.col("b").alias("x"), F.col("rb").alias("rx"))
    e2 = oriented.select(F.col("a"), F.col("b").alias("y"), F.col("rb").alias("ry"))
    wedges = e1.join(e2, "a").filter(F.col("rx") < F.col("ry"))
    closed = wedges.join(
        oriented.select(F.col("a").alias("x"), F.col("b").alias("y")),
        ["x", "y"],
        "left_semi",
    )
    tri = closed.agg(F.count(F.lit(1)).alias("n_triangles"))
    counts = deg.agg(
        F.count(F.lit(1)).alias("n_nodes"),
        F.sum(F.col("deg") * (F.col("deg") - 1) / 2).cast("bigint").alias("n_wedges"),
    )
    n_edges = canon.agg(F.count(F.lit(1)).alias("n_edges"))
    return (
        counts.crossJoin(n_edges)
        .crossJoin(tri)
        .select(
            "n_nodes",
            "n_edges",
            "n_wedges",
            "n_triangles",
            # unrounded (r13, no-final-round rule): 3·triangles/wedges
            # is one IEEE multiply+divide of exact-integer doubles —
            # identical on both engines, no round needed
            F.when(F.col("n_wedges") == 0, F.lit(0.0))
            .otherwise(
                F.lit(3.0) * F.col("n_triangles").cast("double")
                / F.col("n_wedges").cast("double")
            )
            .alias("global_clustering"),
        )
    )
