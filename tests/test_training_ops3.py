"""Round-5 continuation operators: PageRank (operators/graph.py),
DSIR importance weights (operators/sampling.py), int8 scalar
quantization (operators/similarity.py), containment refine
(operators/dedup.py). Cross-engine value agreement is pinned by the
suite oracles (q106-q109); these tests pin the algebraic properties
and edge cases the oracles can't see."""

from __future__ import annotations

import math

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from ironman_medallion_lakehouse_spark.operators.dedup import (
    containment_refine,
    token_sets,
)
from ironman_medallion_lakehouse_spark.operators.graph import pagerank
from ironman_medallion_lakehouse_spark.operators.sampling import dsir_logweights
from ironman_medallion_lakehouse_spark.operators.similarity import (
    sq8_encode,
    sq8_recon_stats,
)


# ------------------------------------------------------------ pagerank

def _edges(spark, pairs):
    return spark.createDataFrame([Row(src=a, dst=b) for a, b in pairs])


def test_pagerank_symmetric_cycle_is_uniform(spark):
    """On a directed cycle every node has in=out=1, so rank stays at
    the uniform 1/N fixpoint for any iteration count."""
    ranks = pagerank(_edges(spark, [(1, 2), (2, 3), (3, 1)]), iterations=4)
    vals = {r.node: float(r.rank) for r in ranks.collect()}
    assert set(vals) == {1, 2, 3}
    for v in vals.values():
        assert abs(v - 1 / 3) < 1e-9


def test_pagerank_sink_hub_ordering_and_mass(spark):
    """Star into a hub: the hub must outrank the spokes; spokes (no
    in-edges) sit at the (1-d)/N floor. Dangling mass (the hub has no
    out-edges) is deliberately NOT redistributed — total mass < 1,
    matching the plain power-iteration formula the oracle states."""
    ranks = pagerank(_edges(spark, [(1, 9), (2, 9), (3, 9)]), iterations=5)
    vals = {r.node: float(r.rank) for r in ranks.collect()}
    n = 4
    floor = 0.15 / n
    assert vals[9] > vals[1] == vals[2] == vals[3]
    assert abs(vals[1] - floor) < 1e-9
    assert sum(vals.values()) < 1.0


def test_pagerank_duplicate_edges_collapse(spark):
    """Edge multiplicity must not change the result (distinct)."""
    once = pagerank(_edges(spark, [(1, 2), (2, 1), (1, 3)]), iterations=3)
    dup = pagerank(
        _edges(spark, [(1, 2), (1, 2), (2, 1), (1, 3), (1, 3)]), iterations=3
    )
    assert sorted(map(tuple, once.collect())) == sorted(map(tuple, dup.collect()))


def test_pagerank_partitioning_invariance(spark):
    """Decimal-rounded contributions make the result independent of
    the input's partition layout (the determinism contract)."""
    pairs = [(i, (i * 7) % 23) for i in range(23)] + [(i, (i + 1) % 23) for i in range(23)]
    e1 = _edges(spark, pairs).repartition(1)
    e2 = _edges(spark, pairs).repartition(17)
    r1 = sorted(map(tuple, pagerank(e1, iterations=4).collect()))
    r2 = sorted(map(tuple, pagerank(e2, iterations=4).collect()))
    assert r1 == r2


# ---------------------------------------------------------------- DSIR

def _docs(spark, rows):
    return spark.createDataFrame(
        [Row(doc_id=i, text=t, source=s) for i, (t, s) in enumerate(rows)]
    )


def test_dsir_tilts_toward_target_vocabulary(spark):
    """Docs made of target-slice tokens must outweigh docs made of
    raw-only tokens; a doc mixing both lands between."""
    target = "alpha beta gamma delta"
    raw = "zeta eta theta iota"
    docs = _docs(
        spark,
        [(target, "tgt")] * 4
        + [(raw, "raw")] * 4
        + [("alpha beta zeta eta", "raw")],
    )
    out = dsir_logweights(docs, F.col("source") == "tgt", n_buckets=64)
    w = {r.doc_id: r.log_weight for r in out.collect()}
    assert w[0] > w[8] > w[4]
    assert w[0] > 0 > w[4]


def test_dsir_weight_scales_with_length(spark):
    """log w is a sum over tokens: doubling a doc's tokens doubles its
    weight (same bucket profile, twice the counts)."""
    docs = _docs(
        spark,
        [("alpha beta", "tgt"), ("alpha beta alpha beta", "raw"),
         ("zeta eta", "raw")],
    )
    out = dsir_logweights(docs, F.col("source") == "tgt", n_buckets=64)
    w = {r.doc_id: r.log_weight for r in out.collect()}
    # unrounded contract (r13): log_weight is the exact decimal sum
    # Σ cnt·lr cast to double, so doubling the counts doubles the
    # decimal sum exactly — equality up to the double cast of 2x
    assert abs(w[1] - 2 * w[0]) <= 1e-12


def test_dsir_partitioning_invariance(spark):
    import random

    rng = random.Random(7)
    vocab = [f"w{i}" for i in range(50)]
    rows = [
        (" ".join(rng.choices(vocab, k=30)), rng.choice(["a", "b"]))
        for _ in range(40)
    ]
    d1 = _docs(spark, rows).repartition(1)
    d2 = _docs(spark, rows).repartition(13)
    o1 = sorted(map(tuple, dsir_logweights(d1, F.col("source") == "a").collect()))
    o2 = sorted(map(tuple, dsir_logweights(d2, F.col("source") == "a").collect()))
    assert o1 == o2


# ----------------------------------------------------------------- SQ8

def _emb(spark, vecs):
    return spark.createDataFrame(
        [Row(vec_id=i, embedding=[float(x) for x in v]) for i, v in enumerate(vecs)]
    )


def test_sq8_codes_exact_on_grid(spark):
    """Vectors already on the scale/127 grid reconstruct exactly."""
    v = [127.0, -127.0, 0.0, 64.0]
    out = sq8_encode(_emb(spark, [v]), vec_col="embedding").collect()[0]
    assert out.scale == 127.0
    assert out.codes == [127, -127, 0, 64]
    stats = sq8_recon_stats(_emb(spark, [v])).collect()[0]
    assert stats.mean_abs_err == 0.0
    assert stats.code_0 == 127


def test_sq8_error_bound(spark):
    """Per-dim reconstruction error is bounded by scale/254 after
    rounding (half a quantization step)."""
    import random

    rng = random.Random(3)
    vecs = [[rng.uniform(-5, 5) for _ in range(16)] for _ in range(20)]
    rows = sq8_recon_stats(_emb(spark, vecs)).collect()
    for r in rows:
        assert r.mean_abs_err <= float(r.scale_r) / 254 + 1e-6


def test_sq8_zero_vector_guard(spark):
    """All-zero vector: eps guard yields zero codes, zero error —
    not NaN."""
    stats = sq8_recon_stats(_emb(spark, [[0.0] * 8])).collect()[0]
    assert stats.mean_abs_err == 0.0
    assert stats.code_0 == 0


def test_sq8_codes_sig_certifies_whole_array(spark):
    """Two vectors differing in ONE dimension get different sigs;
    identical vectors get identical sigs."""
    a = [1.0, 2.0, 3.0]
    b = [1.0, 2.0, 3.01]
    rows = {r.vec_id: r.codes_sig for r in sq8_recon_stats(_emb(spark, [a, a, b])).collect()}
    assert rows[0] == rows[1] != rows[2]


# --------------------------------------------------------- containment

def test_containment_catches_subset_jaccard_misses(spark):
    """A ⊂ B with |A|=4, |B|=12: containment 1.0 but J = 1/3 — flagged
    subset_style. The candidate feed is explicit, isolating refine
    semantics from the LSH generator."""
    docs = spark.createDataFrame(
        [
            Row(doc_id=1, text="a b c d"),
            Row(doc_id=2, text="a b c d e f g h i j k l"),
            Row(doc_id=3, text="x y z w"),
        ]
    )
    cand = spark.createDataFrame([Row(id_a=1, id_b=2), Row(id_a=1, id_b=3)])
    out = containment_refine(cand, token_sets(docs), threshold=0.95).collect()
    assert len(out) == 1
    r = out[0]
    assert (r.id_a, r.id_b) == (1, 2)
    assert r.containment == 1.0
    assert r.subset_style is True
    # unrounded contract (r12, the q98 class): one IEEE divide of counts
    assert abs(r.jaccard - 4 / 12) < 1e-12


def test_containment_symmetric_near_dup_not_subset_style(spark):
    """High-Jaccard pairs pass but are NOT subset_style."""
    docs = spark.createDataFrame(
        [
            Row(doc_id=1, text="a b c d e f g h i j"),
            Row(doc_id=2, text="a b c d e f g h i j"),
        ]
    )
    cand = spark.createDataFrame([Row(id_a=1, id_b=2)])
    r = containment_refine(cand, token_sets(docs), threshold=0.95).collect()[0]
    assert r.containment == 1.0 and r.jaccard == 1.0
    assert r.subset_style is False


def test_containment_hashed_vs_string_tokens_agree(spark):
    """Intersecting the frame's token hashes scores every pair exactly
    as the word-string sets do (a pure-Python replay)."""
    import random

    rng = random.Random(11)
    vocab = [f"tok{i}" for i in range(30)]
    texts = {i: " ".join(rng.choices(vocab, k=25)) for i in range(12)}
    docs = spark.createDataFrame([Row(doc_id=i, text=t) for i, t in texts.items()])
    cand = spark.createDataFrame(
        [Row(id_a=a, id_b=b) for a in range(12) for b in range(a + 1, 12)]
    )
    h = sorted(
        map(tuple, containment_refine(cand, token_sets(docs), threshold=0.5).collect())
    )
    s = []
    for a in range(12):
        for b in range(a + 1, 12):
            wa, wb = set(texts[a].split()), set(texts[b].split())
            inter = len(wa & wb)
            cont = inter / min(len(wa), len(wb))
            jac = inter / (len(wa) + len(wb) - inter)
            if cont >= 0.5:
                s.append((a, b, cont, jac, jac < 0.9))
    assert h == sorted(s)
    assert h


# -------------------------------------------------------- JL projection

def test_jl_signs_deterministic_rademacher():
    from ironman_medallion_lakehouse_spark.operators.similarity import jl_signs

    s1 = jl_signs(8, 4)
    s2 = jl_signs(8, 4)
    assert s1 == s2
    assert all(v in (-1, 1) for row in s1 for v in row)
    assert jl_signs(8, 4, salt="other") != s1


def test_jl_projection_preserves_norms_on_average(spark):
    """E[‖proj‖²] = ‖v‖² for Rademacher JL — the distance-preservation
    contract, checked loosely over a batch (single-vector variance is
    large at out_dim=16)."""
    import random

    from ironman_medallion_lakehouse_spark.operators.similarity import jl_project

    rng = random.Random(5)
    vecs = [[rng.gauss(0, 1) for _ in range(32)] for _ in range(60)]
    emb = _emb(spark, vecs)
    out = jl_project(emb, out_dim=16, in_dim=32).collect()
    ratios = []
    for r in out:
        orig = sum(x * x for x in vecs[r.vec_id])
        proj = sum(
            getattr(r, f"proj_{j}") ** 2 for j in range(16)
        )
        ratios.append(proj / orig)
    mean_ratio = sum(ratios) / len(ratios)
    assert 0.8 < mean_ratio < 1.2


def test_jl_projection_partitioning_invariance(spark):
    import random

    from ironman_medallion_lakehouse_spark.operators.similarity import jl_project

    rng = random.Random(9)
    vecs = [[rng.uniform(-2, 2) for _ in range(16)] for _ in range(25)]
    o1 = sorted(
        map(tuple, jl_project(_emb(spark, vecs).repartition(1), out_dim=4, in_dim=16).collect())
    )
    o2 = sorted(
        map(tuple, jl_project(_emb(spark, vecs).repartition(11), out_dim=4, in_dim=16).collect())
    )
    assert o1 == o2


def test_jl_projection_negate_form_matches_multiply_form(spark):
    """r14 optimization pin: jl_project now casts each exploded value
    to DECIMAL(18,9) ONCE and applies the Rademacher sign as a decimal
    negate (when(s>0, t).otherwise(-t)) instead of out_dim per-row
    double-multiplies + casts. Equivalence rests on cast(−x) ≡ −cast(x)
    under Spark's HALF_UP decimal rounding (odd-symmetric). This test
    replays the ORIGINAL multiply-then-cast formulation inline on
    half-ULP-adversarial values (exact .5·10⁻⁹ ties, both signs) and
    asserts bit-identical outputs."""
    import math

    from pyspark.sql import functions as F

    from ironman_medallion_lakehouse_spark.operators.similarity import (
        jl_project,
        jl_signs,
    )

    # values sitting exactly ON the decimal(18,9) rounding boundary
    # (odd multiples of 0.5e-9) plus ordinary magnitudes, both signs
    vals = [1.5e-9, -1.5e-9, 2.5e-9, -2.5e-9, 0.1234567895, -0.9876543215]
    vecs = [[vals[(i + j) % len(vals)] for j in range(8)] for i in range(12)]
    emb = _emb(spark, vecs)
    new = {r.vec_id: tuple(r)[1:] for r in jl_project(emb, out_dim=4, in_dim=8).collect()}

    signs = jl_signs(8, 4)
    sdf = spark.createDataFrame(
        [(i, *signs[i]) for i in range(8)], ["pos", "s_0", "s_1", "s_2", "s_3"]
    )
    ex = emb.select(
        F.col("vec_id"),
        F.posexplode(F.transform(F.col("embedding"), lambda x: x.cast("double"))),
    )
    joined = ex.join(F.broadcast(sdf), "pos")
    root = math.sqrt(4.0)
    g = joined.groupBy("vec_id").agg(
        *[
            F.sum((F.col("col") * F.col(f"s_{j}")).cast("decimal(18,9)")).alias(f"d_{j}")
            for j in range(4)
        ]
    )
    old_df = g.select(
        "vec_id",
        *[
            F.round(F.col(f"d_{j}").cast("double") / F.lit(root), 6).alias(f"proj_{j}")
            for j in range(4)
        ],
    )
    old = {r.vec_id: tuple(r)[1:] for r in old_df.collect()}
    assert new == old


def test_jl_projection_infers_width(spark):
    from ironman_medallion_lakehouse_spark.operators.similarity import jl_project

    out = jl_project(_emb(spark, [[1.0] * 8, [2.0] * 8]), out_dim=2)
    assert out.columns == ["vec_id", "proj_0", "proj_1"]
    assert out.count() == 2


# ------------------------------------------------- weighted sampling

def test_weighted_sample_respects_weights(spark):
    """With weights 1000:1 over two halves, the heavy half must
    dominate a k=20 sample from 200 rows (probability of the light
    half taking even 5 slots is negligible)."""
    from ironman_medallion_lakehouse_spark.operators.sampling import (
        weighted_sample_topk,
    )

    rows = [Row(doc_id=i, w=1000.0 if i < 100 else 1.0) for i in range(200)]
    df = spark.createDataFrame(rows)
    out = weighted_sample_topk(df, F.col("w"), 20, "doc_id").collect()
    assert len(out) == 20
    heavy = sum(1 for r in out if r.doc_id < 100)
    assert heavy >= 16


def test_weighted_sample_deterministic_and_excludes_nonpositive(spark):
    from ironman_medallion_lakehouse_spark.operators.sampling import (
        weighted_sample_topk,
    )

    rows = [Row(doc_id=i, w=float(i - 2)) for i in range(10)]  # w<=0 for i<=2
    df = spark.createDataFrame(rows)
    o1 = sorted(r.doc_id for r in weighted_sample_topk(df, F.col("w"), 5, "doc_id").collect())
    o2 = sorted(
        r.doc_id
        for r in weighted_sample_topk(df.repartition(7), F.col("w"), 5, "doc_id").collect()
    )
    assert o1 == o2
    assert all(i > 2 for i in o1)


def test_weighted_sample_salt_changes_sample(spark):
    from ironman_medallion_lakehouse_spark.operators.sampling import (
        weighted_sample_topk,
    )

    rows = [Row(doc_id=i, w=1.0) for i in range(100)]
    df = spark.createDataFrame(rows)
    a = sorted(r.doc_id for r in weighted_sample_topk(df, F.col("w"), 10, "doc_id", salt="a").collect())
    b = sorted(r.doc_id for r in weighted_sample_topk(df, F.col("w"), 10, "doc_id", salt="b").collect())
    assert a != b


# --------------------------------------------------- event path mining

def test_event_paths_hand_computed(spark):
    """u1: a,b,c,b → paths a>b>c, b>c>b; u2: a,b,c → a>b>c.
    a>b>c count 2, b>c>b count 1."""
    from datetime import datetime

    from ironman_medallion_lakehouse_spark.operators.funnel import top_event_paths

    def ev(eid, uid, t, typ):
        return Row(event_id=eid, user_id=uid, ts=datetime(2024, 1, 1, 0, 0, t), event_type=typ)

    events = spark.createDataFrame(
        [
            ev(1, 1, 1, "a"), ev(2, 1, 2, "b"), ev(3, 1, 3, "c"), ev(4, 1, 4, "b"),
            ev(5, 2, 1, "a"), ev(6, 2, 2, "b"), ev(7, 2, 3, "c"),
        ]
    )
    out = {r.path: r.n_occurrences for r in top_event_paths(events, n=3, k=10).collect()}
    assert out == {"a>b>c": 2, "b>c>b": 1}


def test_event_paths_tie_order_by_event_id(spark):
    """Equal timestamps: the unique event id breaks the order, so the
    path is deterministic."""
    from datetime import datetime

    from ironman_medallion_lakehouse_spark.operators.funnel import top_event_paths

    t0 = datetime(2024, 1, 1)
    events = spark.createDataFrame(
        [
            Row(event_id=3, user_id=1, ts=t0, event_type="c"),
            Row(event_id=1, user_id=1, ts=t0, event_type="a"),
            Row(event_id=2, user_id=1, ts=t0, event_type="b"),
        ]
    )
    out = top_event_paths(events, n=3, k=5).collect()
    assert len(out) == 1 and out[0].path == "a>b>c"


def test_event_paths_no_cross_user_grams(spark):
    """n-grams never span users."""
    from datetime import datetime

    from ironman_medallion_lakehouse_spark.operators.funnel import top_event_paths

    events = spark.createDataFrame(
        [
            Row(event_id=i, user_id=i, ts=datetime(2024, 1, 1), event_type="x")
            for i in range(5)
        ]
    )
    assert top_event_paths(events, n=2, k=5).count() == 0


# ------------------------------------------------------- k-NN graph

def test_knn_graph_planted_neighbors(spark):
    """Two tight clusters in opposite half-spaces: every vector's
    neighbors come from its own cluster, ranked by cosine."""
    import random

    from ironman_medallion_lakehouse_spark.operators.similarity import (
        knn_graph,
        signlsh_hyperplanes,
    )

    rng = random.Random(2)
    base_a = [1.0] * 8
    base_b = [-1.0] * 8
    vecs = []
    for i in range(6):
        vecs.append([x + rng.uniform(-0.05, 0.05) for x in base_a])
    for i in range(6):
        vecs.append([x + rng.uniform(-0.05, 0.05) for x in base_b])
    hps = signlsh_hyperplanes(4, 8)
    g = knn_graph(_emb(spark, vecs), hps, k=2).collect()
    assert len(g) > 0
    for r in g:
        same_cluster = (r.src < 6) == (r.dst < 6)
        assert same_cluster, f"{r.src}->{r.dst} crossed clusters"


def test_knn_graph_rank_contract_and_determinism(spark):
    """rnk is 1..k dense per src; repartitioning changes nothing."""
    import random

    from ironman_medallion_lakehouse_spark.operators.similarity import (
        knn_graph,
        signlsh_hyperplanes,
    )

    rng = random.Random(4)
    vecs = [[rng.gauss(0, 1) for _ in range(8)] for _ in range(30)]
    hps = signlsh_hyperplanes(3, 8)
    emb = _emb(spark, vecs)
    g1 = sorted(map(tuple, knn_graph(emb.repartition(1), hps, k=3).collect()))
    g2 = sorted(map(tuple, knn_graph(emb.repartition(9), hps, k=3).collect()))
    assert g1 == g2
    from collections import defaultdict

    ranks = defaultdict(list)
    for src, rnk, dst in g1:
        ranks[src].append(rnk)
    for src, rs in ranks.items():
        assert sorted(rs) == list(range(1, len(rs) + 1))
        assert len(rs) <= 3


# ------------------------------------------- CMS inner product (join size)

def test_cms_inner_product_dominates_exact(spark):
    """Estimate must be ≥ the true inner product (collisions only
    add), and equal when width ≫ key cardinality."""
    from ironman_medallion_lakehouse_spark.operators.sketches import (
        cms_inner_product,
        cms_sketch,
    )

    a = spark.createDataFrame([Row(k=i % 5) for i in range(50)])   # 10 each
    b = spark.createDataFrame([Row(k=i % 10) for i in range(30)])  # 3 each
    sa = cms_sketch(a, [], "k")
    sb = cms_sketch(b, [], "k")
    est = cms_inner_product(sa, sb).collect()[0].est_inner_product
    exact = a.join(b, "k").count()
    assert exact == 5 * 10 * 3
    assert est >= exact
    # width 256 vs 10 distinct keys: collision-free w.h.p. -> exact
    assert est == exact


def test_cms_inner_product_empty_side(spark):
    from pyspark.sql.types import LongType, StructField, StructType

    from ironman_medallion_lakehouse_spark.operators.sketches import (
        cms_inner_product,
        cms_sketch,
    )

    schema = StructType([StructField("k", LongType())])
    a = spark.createDataFrame([Row(k=1), Row(k=2)])
    empty = spark.createDataFrame([], schema)
    est = cms_inner_product(
        cms_sketch(a, [], "k"), cms_sketch(empty, [], "k")
    ).collect()[0]
    assert est.est_inner_product == 0


# --------------------------------------------- interval overlap join

def _iv(spark, rows):
    """rows: (id, key, s, e)"""
    return spark.createDataFrame(
        [Row(iid=i, key=k, s=s, e=e) for i, k, s, e in rows]
    )


def test_interval_overlap_matches_naive(spark):
    """Binned rewrite ≡ naive θ-join, including spans crossing many
    bins and pairs meeting in several buckets (distinct collapse)."""
    import random

    rng = random.Random(6)
    rows = []
    for i in range(40):
        s = rng.randrange(0, 10_000)
        rows.append((i, rng.choice(["a", "b"]), s, s + rng.randrange(0, 5_000)))
    from ironman_medallion_lakehouse_spark.operators.rangejoin import (
        interval_overlap_join,
    )

    left = _iv(spark, rows).select(
        F.col("iid").alias("a_id"), F.col("key"),
        F.col("s").alias("a_s"), F.col("e").alias("a_e"),
    )
    right = _iv(spark, rows).select(
        F.col("iid").alias("b_id"), F.col("key"),
        F.col("s").alias("b_s"), F.col("e").alias("b_e"),
    )
    got = {
        (r.a_id, r.b_id)
        for r in interval_overlap_join(
            left, right, on=["key"], left_start="a_s", left_end="a_e",
            right_start="b_s", right_end="b_e", bin_seconds=1000,
        )
        .filter(F.col("a_id") < F.col("b_id"))
        .collect()
    }
    naive = {
        (a[0], b[0])
        for a in rows
        for b in rows
        if a[0] < b[0] and a[1] == b[1] and a[2] <= b[3] and b[2] <= a[3]
    }
    assert got == naive
    assert len(naive) > 0


def test_interval_overlap_negative_span_drops(spark):
    from ironman_medallion_lakehouse_spark.operators.rangejoin import (
        interval_overlap_join,
    )

    left = _iv(spark, [(1, "k", 100, 50)]).select(  # end < start
        F.col("iid").alias("a_id"), "key",
        F.col("s").alias("a_s"), F.col("e").alias("a_e"),
    )
    right = _iv(spark, [(2, "k", 0, 1000)]).select(
        F.col("iid").alias("b_id"), "key",
        F.col("s").alias("b_s"), F.col("e").alias("b_e"),
    )
    assert (
        interval_overlap_join(
            left, right, on=["key"], left_start="a_s", left_end="a_e",
            right_start="b_s", right_end="b_e", bin_seconds=100,
        ).count()
        == 0
    )


# ------------------------------------------------------ feature hashing

def test_feature_hash_unit_norm_and_determinism(spark):
    from ironman_medallion_lakehouse_spark.operators.similarity import (
        feature_hash_vectors,
    )

    docs = spark.createDataFrame(
        [
            Row(doc_id=1, text="alpha beta gamma delta epsilon"),
            Row(doc_id=2, text="alpha beta gamma delta epsilon"),
            Row(doc_id=3, text="zeta eta theta iota kappa lambada"),
        ]
    )
    out = {r.doc_id: r for r in feature_hash_vectors(docs, dim=8).collect()}
    v1 = [getattr(out[1], f"f_{j}") for j in range(8)]
    v2 = [getattr(out[2], f"f_{j}") for j in range(8)]
    v3 = [getattr(out[3], f"f_{j}") for j in range(8)]
    assert v1 == v2 != v3
    # components are unrounded since r14 (integer sums -> sqrt -> one
    # IEEE divide), so the norm is exact to accumulated ulp, not 1e-4
    assert abs(sum(x * x for x in v1) - 1.0) < 1e-12
    assert out[1].n_tokens == 5


def test_feature_hash_kernel_tracks_overlap(spark):
    """Docs sharing most tokens have higher feature-space cosine than
    disjoint docs (the hashing-trick kernel property, in expectation —
    checked with dim comfortably above vocab)."""
    from ironman_medallion_lakehouse_spark.operators.similarity import (
        feature_hash_vectors,
    )

    docs = spark.createDataFrame(
        [
            Row(doc_id=1, text="a b c d e f g h"),
            Row(doc_id=2, text="a b c d e f g zz"),
            Row(doc_id=3, text="p q r s t u v w"),
        ]
    )
    out = {r.doc_id: r for r in feature_hash_vectors(docs, dim=64).collect()}

    def cos(u, v):
        return sum(x * y for x, y in zip(u, v))

    v = {i: [getattr(out[i], f"f_{j}") for j in range(64)] for i in (1, 2, 3)}
    assert cos(v[1], v[2]) > cos(v[1], v[3])


# -------------------------------------------------- fuzzy entity match

def test_fuzzy_match_blocked_and_banded(spark):
    """Same-block near-names match; cross-block identicals don't;
    the length band never drops a true match (lev >= len diff)."""
    from ironman_medallion_lakehouse_spark.operators.dedup import (
        fuzzy_match_pairs,
    )

    df = spark.createDataFrame(
        [
            Row(cid=1, blk="A", name="acme corp"),
            Row(cid=2, blk="A", name="acme corp."),     # lev 1
            Row(cid=3, blk="A", name="acme corporation"),  # lev 7 from #1
            Row(cid=4, blk="B", name="acme corp"),      # other block
            Row(cid=5, blk="A", name="zzz totally other"),
        ]
    )
    out = fuzzy_match_pairs(df, ["blk"], "name", "cid", max_distance=2).collect()
    pairs = {(r.id_a, r.id_b): r.distance for r in out}
    assert pairs == {(1, 2): 1}


def test_fuzzy_match_distance_threshold(spark):
    from ironman_medallion_lakehouse_spark.operators.dedup import (
        fuzzy_match_pairs,
    )

    df = spark.createDataFrame(
        [
            Row(cid=1, blk="A", name="abcdef"),
            Row(cid=2, blk="A", name="abcxyz"),  # lev 3
        ]
    )
    assert fuzzy_match_pairs(df, ["blk"], "name", "cid", 2).count() == 0
    assert fuzzy_match_pairs(df, ["blk"], "name", "cid", 3).count() == 1


# ---------------------------------------------------------------- CUPED

def test_cuped_perfect_covariate_removes_all_variance(spark):
    """Y = 2X exactly: θ = 2, so every unit's Y_adj collapses to the
    global mean — both variants' adjusted means equal it."""
    from ironman_medallion_lakehouse_spark.operators.experiment import (
        cuped_adjusted_means,
    )

    rows = [Row(variant=i % 2, x=float(i), y=2.0 * i) for i in range(20)]
    out = {r.variant: r for r in cuped_adjusted_means(spark.createDataFrame(rows)).collect()}
    gm = sum(2.0 * i for i in range(20)) / 20
    assert abs(out[0].mean_y_adj - gm) < 1e-4
    assert abs(out[1].mean_y_adj - gm) < 1e-4
    assert out[0].mean_y != out[1].mean_y  # raw means differ (parity)


def test_cuped_zero_variance_covariate_is_noop(spark):
    from ironman_medallion_lakehouse_spark.operators.experiment import (
        cuped_adjusted_means,
    )

    rows = [Row(variant=i % 2, x=5.0, y=float(i)) for i in range(10)]
    out = cuped_adjusted_means(spark.createDataFrame(rows)).collect()
    for r in out:
        assert abs(r.mean_y - r.mean_y_adj) < 1e-9


def test_cuped_preserves_treatment_effect_direction(spark):
    """A real lift survives adjustment: variant 1's Y is variant 0's
    plus a constant effect, X independent of variant."""
    import random

    from ironman_medallion_lakehouse_spark.operators.experiment import (
        cuped_adjusted_means,
    )

    rng = random.Random(8)
    rows = []
    for i in range(200):
        x = rng.uniform(0, 10)
        v = i % 2
        rows.append(Row(variant=v, x=x, y=3.0 * x + rng.uniform(-1, 1) + (5.0 if v else 0.0)))
    out = {r.variant: r for r in cuped_adjusted_means(spark.createDataFrame(rows)).collect()}
    lift_adj = out[1].mean_y_adj - out[0].mean_y_adj
    assert 4.0 < lift_adj < 6.0


# ---------------------------------------------------- gap-fill + LOCF

def test_gapfill_locf_hand_computed(spark):
    """5-day spine over observations on days 1 and 4: zeros for the
    flow, carried level, leading null before first observation."""
    from datetime import datetime

    from ironman_medallion_lakehouse_spark.operators.timeseries import (
        daily_spine_locf,
    )

    daily = spark.createDataFrame(
        [
            Row(day=datetime(2024, 1, 2), n=3, level=10.0),
            Row(day=datetime(2024, 1, 4), n=1, level=7.5),
        ]
    )
    out = {
        r.day.day: r
        for r in daily_spine_locf(
            daily, "2024-01-01", "2024-01-05",
            zero_cols=["n"], carry_cols=["level"],
        ).collect()
    }
    assert len(out) == 5
    assert out[1].level is None and out[1].n == 0 and out[1].was_missing
    assert out[2].level == 10.0 and not out[2].was_missing
    assert out[3].level == 10.0 and out[3].n == 0 and out[3].was_missing
    assert out[4].level == 7.5
    assert out[5].level == 7.5 and out[5].was_missing


def test_grouped_ols_recovers_planted_line(spark):
    """y = 3x + 2 exactly -> slope 3, intercept 2, r² 1 per group."""
    from ironman_medallion_lakehouse_spark.operators.experiment import grouped_ols

    rows = [
        Row(g="a", x=float(i), y=3.0 * i + 2.0) for i in range(10)
    ] + [
        Row(g="b", x=float(i), y=-1.5 * i + 4.0) for i in range(10)
    ]
    out = {r.g: r for r in grouped_ols(spark.createDataFrame(rows), "x", "y", ["g"]).collect()}
    assert abs(out["a"].slope - 3.0) < 1e-6 and abs(out["a"].intercept - 2.0) < 1e-6
    assert out["a"].r2 == 1.0
    assert abs(out["b"].slope + 1.5) < 1e-6


def test_grouped_ols_degenerate_group_nulls(spark):
    """Zero x-variance -> NULL coefficients, no blow-up."""
    from ironman_medallion_lakehouse_spark.operators.experiment import grouped_ols

    rows = [Row(g="c", x=5.0, y=float(i)) for i in range(5)]
    r = grouped_ols(spark.createDataFrame(rows), "x", "y", ["g"]).collect()[0]
    assert r.slope is None and r.intercept is None and r.r2 is None


# -------------------------------------------------------- chi-square

def test_chisquare_independent_table_near_zero(spark):
    """A perfectly proportional table -> chi2 == 0."""
    from ironman_medallion_lakehouse_spark.operators.experiment import (
        chi_square_independence,
    )

    rows = []
    for r_, n1, n2 in [("x", 10, 20), ("y", 30, 60)]:
        rows += [Row(a=r_, b="p")] * n1 + [Row(a=r_, b="q")] * n2
    out = chi_square_independence(spark.createDataFrame(rows), "a", "b").collect()[0]
    assert out.chi2 == 0.0
    assert out.dof == 1 and out.n == 120


def test_chisquare_hand_computed(spark):
    """2x2 [[10, 20], [20, 10]]: chi2 = 60*(10*10-20*20)^2/(30*30*30*30) = 6.666667."""
    from ironman_medallion_lakehouse_spark.operators.experiment import (
        chi_square_independence,
    )

    rows = (
        [Row(a="r1", b="c1")] * 10 + [Row(a="r1", b="c2")] * 20
        + [Row(a="r2", b="c1")] * 20 + [Row(a="r2", b="c2")] * 10
    )
    out = chi_square_independence(spark.createDataFrame(rows), "a", "b").collect()[0]
    assert abs(out.chi2 - 60 * (10 * 10 - 20 * 20) ** 2 / 30 ** 4) < 1e-5


# ------------------------------------------------------------- TWAP

def test_twap_hand_computed(spark):
    """value 10 held 30 s then 20 held 10 s → (10·30+20·10)/40 = 12.5;
    plain mean would say 15."""
    from datetime import datetime

    from ironman_medallion_lakehouse_spark.operators.timeseries import (
        time_weighted_average,
    )

    rows = [
        Row(event_id=1, user_id=1, ts=datetime(2024, 1, 1, 0, 0, 0), value=10.0),
        Row(event_id=2, user_id=1, ts=datetime(2024, 1, 1, 0, 0, 30), value=20.0),
    ]
    out = time_weighted_average(
        spark.createDataFrame(rows), "value", "2024-01-01 00:00:40", ["user_id"]
    ).collect()[0]
    assert out.twap == 12.5 and out.n_obs == 2


def test_twap_burst_sampling_does_not_bias(spark):
    """100 samples of value 1 in one second + one sample of 100 held
    99 s: TWAP ≈ 99·100/100s + 1·1/100 ≈ 99-ish? — plain mean would be
    ~2. The burst of identical cheap samples must NOT dominate."""
    from datetime import datetime, timedelta

    from ironman_medallion_lakehouse_spark.operators.timeseries import (
        time_weighted_average,
    )

    base = datetime(2024, 1, 1)
    rows = [
        Row(event_id=i, user_id=1, ts=base + timedelta(milliseconds=10 * i), value=1.0)
        for i in range(100)
    ] + [Row(event_id=1000, user_id=1, ts=base + timedelta(seconds=1), value=100.0)]
    out = time_weighted_average(
        spark.createDataFrame(rows), "value", "2024-01-01 00:01:40", ["user_id"]
    ).collect()[0]
    assert out.twap > 90  # held value dominates


def test_chisquare_sparse_table_counts_zero_cells(spark):
    """ADVICE r5: an unobserved (row, col) combination still contributes
    (0-E)^2/E = E. 2x2 with a zero cell [[10, 0], [10, 10]]:
    chi2 = n(ad-bc)^2/(r1 r2 c1 c2) = 30*(100-0)^2/(10*20*20*10) = 7.5.
    The pre-fix observed-cells-only sum gave 7.5 - E(r1,c2) = 4.1667."""
    from ironman_medallion_lakehouse_spark.operators.experiment import (
        chi_square_independence,
    )

    rows = (
        [Row(a="r1", b="c1")] * 10
        + [Row(a="r2", b="c1")] * 10 + [Row(a="r2", b="c2")] * 10
    )
    out = chi_square_independence(spark.createDataFrame(rows), "a", "b").collect()[0]
    assert abs(out.chi2 - 7.5) < 1e-5
    assert out.dof == 1 and out.n == 30


def test_twap_straddling_interval_clamped_to_end(spark):
    """ADVICE r5: an observation whose successor falls AFTER end_ts must
    be weighted only up to the window end. v=10 held [0,10), v=20 held
    [10,20) (successor at t=30 > end=20, clamped), v=999 at t=30 gets
    zero weight -> TWAP = (10*10 + 20*10)/20 = 15. The unclamped lead
    gave (10*10 + 20*20)/30 = 16.667."""
    from datetime import datetime

    from ironman_medallion_lakehouse_spark.operators.timeseries import (
        time_weighted_average,
    )

    rows = [
        Row(event_id=1, user_id=1, ts=datetime(2024, 1, 1, 0, 0, 0), value=10.0),
        Row(event_id=2, user_id=1, ts=datetime(2024, 1, 1, 0, 0, 10), value=20.0),
        Row(event_id=3, user_id=1, ts=datetime(2024, 1, 1, 0, 0, 30), value=999.0),
    ]
    out = time_weighted_average(
        spark.createDataFrame(rows), "value", "2024-01-01 00:00:20", ["user_id"]
    ).collect()[0]
    assert out.twap == 15.0 and out.n_obs == 3


def test_weighted_sample_topk_log_matches_linear_domain(spark):
    """Gumbel-max (log-domain) A-ES must select the SAME set as the
    linear-domain draw for weights where exp() is safe: ordering by
    u^(1/w) is order-isomorphic to log_weight + gumbel(u)."""
    from ironman_medallion_lakehouse_spark.operators.sampling import (
        weighted_sample_topk,
        weighted_sample_topk_log,
    )

    rows = [Row(doc_id=i, w=float(1 + (i * 7) % 13)) for i in range(200)]
    df = spark.createDataFrame(rows).withColumn("lw", F.log(F.col("w")))
    lin = sorted(
        r.doc_id for r in weighted_sample_topk(df, F.col("w"), 25, "doc_id").collect()
    )
    log = sorted(
        r.doc_id
        for r in weighted_sample_topk_log(df, F.col("lw"), 25, "doc_id").collect()
    )
    assert lin == log


def test_weighted_sample_topk_log_survives_extreme_logweights(spark):
    """ADVICE r5: log-weights beyond +-709 overflow/underflow exp().
    The log-domain draw must return a FULL sample with the huge-weight
    docs selected and the tiny-weight docs excluded."""
    from ironman_medallion_lakehouse_spark.operators.sampling import (
        weighted_sample_topk_log,
    )

    rows = (
        [Row(doc_id=i, lw=2000.0) for i in range(10)]          # exp -> inf
        + [Row(doc_id=100 + i, lw=-2000.0) for i in range(10)]  # exp -> 0.0
        + [Row(doc_id=200 + i, lw=0.0) for i in range(10)]
    )
    df = spark.createDataFrame(rows)
    out = sorted(
        r.doc_id for r in weighted_sample_topk_log(df, F.col("lw"), 15, "doc_id").collect()
    )
    assert len(out) == 15, "sample must not come up short on under/overflow"
    assert set(range(10)) <= set(out), "huge-weight docs must all be selected"
    assert all(d < 300 and not (100 <= d < 110) for d in out), (
        "tiny-weight docs must lose to lw=0 docs"
    )


def test_hash_split_deterministic_and_exhaustive(spark):
    """Every row lands in exactly one split; re-running (and
    re-partitioning) never moves a row; ratios are roughly honored."""
    from ironman_medallion_lakehouse_spark.operators.sampling import hash_split

    df = spark.createDataFrame([(i,) for i in range(2000)], "doc_id long")
    splits = {"train": 0.8, "val": 0.1, "test": 0.1}
    a = {r.doc_id: r.split for r in hash_split(df, "doc_id", splits).collect()}
    b = {
        r.doc_id: r.split
        for r in hash_split(df.repartition(13), "doc_id", splits).collect()
    }
    assert a == b and len(a) == 2000
    from collections import Counter

    c = Counter(a.values())
    assert 0.75 < c["train"] / 2000 < 0.85
    assert 0.07 < c["val"] / 2000 < 0.13
    assert 0.07 < c["test"] / 2000 < 0.13


def test_hash_split_rejects_bad_ratios(spark):
    from ironman_medallion_lakehouse_spark.operators.sampling import hash_split

    df = spark.createDataFrame([(1,)], "doc_id long")
    with pytest.raises(ValueError, match="sum to 1"):
        hash_split(df, "doc_id", {"a": 0.5, "b": 0.4})


def test_cohens_kappa_hand_computed(spark):
    """Classic 2x2 example: raters agree on 20+15 of 50,
    po = 0.7, pe = (25*30 + 25*20)/2500 = 0.5, kappa = 0.4."""
    from ironman_medallion_lakehouse_spark.operators.experiment import cohens_kappa

    rows = (
        [Row(a="yes", b="yes")] * 20 + [Row(a="yes", b="no")] * 5
        + [Row(a="no", b="yes")] * 10 + [Row(a="no", b="no")] * 15
    )
    out = cohens_kappa(spark.createDataFrame(rows), "a", "b").collect()[0]
    # unrounded contract (r12): kappa is the raw IEEE (po-pe)/(1-pe),
    # which is 0.3999999999999999… — assert the exact double expression
    assert out.n == 50 and out.po == 0.7 and out.pe == 0.5
    assert out.kappa == (35 / 50 - 0.5) / (1.0 - 0.5)


def test_cohens_kappa_degenerate_constant_raters(spark):
    from ironman_medallion_lakehouse_spark.operators.experiment import cohens_kappa

    rows = [Row(a="x", b="x")] * 9
    out = cohens_kappa(spark.createDataFrame(rows), "a", "b").collect()[0]
    assert out.po == 1.0 and out.pe == 1.0 and out.kappa is None


def test_ks_two_sample_hand_computed(spark):
    """A = {1,2,3,4}, B = {3,4,5,6}: max CDF gap at v=2 (or 4):
    |2/4 - 0/4| = 0.5."""
    from ironman_medallion_lakehouse_spark.operators.experiment import ks_two_sample

    rows = [Row(g="a", v=float(x)) for x in [1, 2, 3, 4]] + [
        Row(g="b", v=float(x)) for x in [3, 4, 5, 6]
    ]
    out = ks_two_sample(spark.createDataFrame(rows), "v", "g", "a", "b").collect()[0]
    assert (out.n_a, out.n_b, out.d_stat) == (4, 4, 0.5)
    assert abs(out.ks_stat - 0.5 * (16 / 8) ** 0.5) < 1e-6


def test_ks_identical_distributions_zero(spark):
    from ironman_medallion_lakehouse_spark.operators.experiment import ks_two_sample

    rows = [Row(g=g, v=float(x)) for g in ("a", "b") for x in range(20)]
    out = ks_two_sample(spark.createDataFrame(rows), "v", "g", "a", "b").collect()[0]
    assert out.d_stat == 0.0


def test_ks_ties_absorbed_correctly(spark):
    """Heavy ties: A = {1,1,1,2}, B = {1,2,2,2}. F_a(1)=3/4, F_b(1)=1/4
    -> D = 0.5; a per-row (unabsorbed) running sum would overstate it."""
    from ironman_medallion_lakehouse_spark.operators.experiment import ks_two_sample

    rows = [Row(g="a", v=float(x)) for x in [1, 1, 1, 2]] + [
        Row(g="b", v=float(x)) for x in [1, 2, 2, 2]
    ]
    out = ks_two_sample(spark.createDataFrame(rows), "v", "g", "a", "b").collect()[0]
    assert out.d_stat == 0.5


def test_welch_t_hand_computed(spark):
    """A=[1,2,3], B=[2,4,6]: va=1, vb=4, se2=5/3 -> t=-1.549193,
    Welch-Satterthwaite dof=2.941176."""
    from ironman_medallion_lakehouse_spark.operators.experiment import welch_t_test

    rows = [Row(g="a", v=float(x)) for x in (1, 2, 3)] + [
        Row(g="b", v=float(x)) for x in (2, 4, 6)
    ]
    out = welch_t_test(spark.createDataFrame(rows), "v", "g", "a", "b").collect()[0]
    assert (out.n_a, out.n_b) == (3, 3)
    assert out.mean_a == 2.0 and out.mean_b == 4.0
    assert out.t_stat == -1.549193 and out.dof == 2.941176


def test_welch_t_degenerate_small_group(spark):
    from ironman_medallion_lakehouse_spark.operators.experiment import welch_t_test

    rows = [Row(g="a", v=1.0), Row(g="b", v=2.0), Row(g="b", v=3.0)]
    out = welch_t_test(spark.createDataFrame(rows), "v", "g", "a", "b").collect()[0]
    assert out.t_stat is None and out.dof is None  # n_a < 2
    rows = [Row(g=g, v=5.0) for g in ("a", "a", "b", "b")]
    out = welch_t_test(spark.createDataFrame(rows), "v", "g", "a", "b").collect()[0]
    assert out.t_stat is None  # both variances zero -> se2 = 0


def test_two_proportion_z_hand_computed(spark):
    """a: 1/4 success, b: 3/4 -> pooled 0.5, z = -0.5/sqrt(0.125) =
    -1.414214…; all-success pool -> NULL (zero variance). Unrounded
    contract (r12): expectations are the exact IEEE expressions."""
    from ironman_medallion_lakehouse_spark.operators.experiment import (
        two_proportion_ztest,
    )

    rows = [Row(g="a", s=x == 0) for x in range(4)] + [
        Row(g="b", s=x != 0) for x in range(4)
    ]
    out = two_proportion_ztest(spark.createDataFrame(rows), "s", "g", "a", "b").collect()[0]
    assert (out.n_a, out.n_b, out.p_a, out.p_b) == (4, 4, 0.25, 0.75)
    assert out.z_stat == (0.25 - 0.75) / math.sqrt(0.5 * (1 - 0.5) * (1 / 4.0 + 1 / 4.0))

    rows = [Row(g=g, s=True) for g in ("a", "a", "b")]
    out = two_proportion_ztest(spark.createDataFrame(rows), "s", "g", "a", "b").collect()[0]
    assert out.z_stat is None


def test_mann_whitney_hand_computed(spark):
    """A = {1,2,3}, B = {2,3,4,5}: average ranks 1, 2.5, 4.5, 6, 7
    -> R_a = 8, U_a = 2; two tie pairs -> tie term 12."""
    from ironman_medallion_lakehouse_spark.operators.experiment import mann_whitney_u

    rows = [Row(g="a", v=float(x)) for x in (1, 2, 3)] + [
        Row(g="b", v=float(x)) for x in (2, 3, 4, 5)
    ]
    out = mann_whitney_u(spark.createDataFrame(rows), "v", "g", "a", "b").collect()[0]
    assert (out.n_a, out.n_b) == (3, 4)
    # unrounded contract (r12): 16/2/3 exact IEEE, not its 6dp rounding
    assert out.mean_rank_a == 16 / 2 / 3 and out.mean_rank_b == 5.0
    assert out.u_a == 2.0
    var = 3 * 4 / 12 * ((7 + 1) - 12 / (7 * 6))
    assert out.z_stat == (2.0 - 6.0) / math.sqrt(var)


def test_mann_whitney_all_tied_null_z(spark):
    from ironman_medallion_lakehouse_spark.operators.experiment import mann_whitney_u

    rows = [Row(g=g, v=7.0) for g in ("a", "a", "b", "b", "b")]
    out = mann_whitney_u(spark.createDataFrame(rows), "v", "g", "a", "b").collect()[0]
    # every observation tied -> sigma = 0 -> NULL z, but ranks still exact
    assert out.z_stat is None and out.mean_rank_a == 3.0 and out.mean_rank_b == 3.0


def test_mann_whitney_stochastic_dominance_sign(spark):
    """B strictly above A -> U_a = 0, z maximally negative."""
    from ironman_medallion_lakehouse_spark.operators.experiment import mann_whitney_u

    rows = [Row(g="a", v=float(x)) for x in range(10)] + [
        Row(g="b", v=float(x + 100)) for x in range(10)
    ]
    out = mann_whitney_u(spark.createDataFrame(rows), "v", "g", "a", "b").collect()[0]
    assert out.u_a == 0.0 and out.z_stat < -3.7


def test_poisson_bootstrap_observed_arm_exact(spark):
    """Replicate -1 forces w = 1, so the observed means/diff equal the
    plain group means regardless of the bootstrap draws."""
    from ironman_medallion_lakehouse_spark.operators.experiment import (
        poisson_bootstrap_mean_diff,
    )

    rows = [Row(k=i, g="a", v=float(10 + i % 5)) for i in range(40)] + [
        Row(k=100 + i, g="b", v=float(20 + i % 3)) for i in range(40)
    ]
    out = poisson_bootstrap_mean_diff(
        spark.createDataFrame(rows), "v", "g", "a", "b", key_col="k", replicates=16
    ).collect()[0]
    ma = sum(10 + i % 5 for i in range(40)) / 40
    mb = sum(20 + i % 3 for i in range(40)) / 40
    assert (out.n_a, out.n_b) == (40, 40)
    assert out.mean_a == round(ma, 6) and out.mean_b == round(mb, 6)
    assert out.diff == round(ma - mb, 6)
    # groups this size essentially never draw total weight 0
    assert out.n_reps == 16
    assert out.se_boot > 0
    assert out.ci_lo < out.diff < out.ci_hi
    # the CI is diff +/- 1.959964 * se, rounded
    assert out.ci_lo == round(out.diff - 1.959964 * out.se_boot, 5) or abs(
        out.ci_lo - (out.diff - 1.959964 * out.se_boot)
    ) < 1e-5


def test_poisson_bootstrap_deterministic_under_repartition(spark):
    from ironman_medallion_lakehouse_spark.operators.experiment import (
        poisson_bootstrap_mean_diff,
    )

    rows = [Row(k=i, g="ab"[i % 2], v=float(i)) for i in range(60)]
    df = spark.createDataFrame(rows)
    a = poisson_bootstrap_mean_diff(
        df, "v", "g", "a", "b", key_col="k", replicates=8
    ).collect()[0]
    b = poisson_bootstrap_mean_diff(
        df.repartition(7), "v", "g", "a", "b", key_col="k", replicates=8
    ).collect()[0]
    assert a == b


def test_poisson_weights_mean_near_one(spark):
    """Across many (row, replicate) draws the Poisson(1) weights must
    average ~1 (the bootstrap's resample-size-preservation property)."""
    from ironman_medallion_lakehouse_spark.operators.experiment import (
        poisson_bootstrap_mean_diff,
    )

    rows = [Row(k=i, g="ab"[i % 2], v=1.0) for i in range(500)]
    out = poisson_bootstrap_mean_diff(
        spark.createDataFrame(rows), "v", "g", "a", "b", key_col="k", replicates=32
    ).collect()[0]
    # value is constant 1.0 -> every replicate diff is 0; se = 0 -> CI
    # degenerates to the point estimate, all exactly zero
    assert out.diff == 0.0 and out.se_boot == 0.0
    assert out.ci_lo == 0.0 and out.ci_hi == 0.0


def _psi(df, value_col, group_col, group_a, group_b, edges):
    """PSI on q142's path: exact per-value counts, binned, finished."""
    from ironman_medallion_lakehouse_spark.operators.experiment import (
        binned_counts_from_value_counts,
        per_value_counts,
        psi_from_bin_counts,
    )

    pv = per_value_counts(df, value_col, group_col, group_a, group_b)
    per_bin = binned_counts_from_value_counts(pv, edges)
    return psi_from_bin_counts(per_bin, len(edges) + 1)


def test_psi_identical_distributions_zero(spark):
    rows = [Row(g=g, v=float(i % 97)) for g in ("a", "b") for i in range(3000)]
    out = _psi(
        spark.createDataFrame(rows), "v", "g", "a", "b", [20.0, 40.0, 60.0, 80.0]
    ).collect()[0]
    assert (out.n_a, out.n_b, out.psi) == (3000, 3000, 0.0)


def test_psi_flags_planted_shift(spark):
    """All of B's mass moves above the top edge -> major shift."""
    rows = [Row(g="a", v=float(i % 50)) for i in range(2000)] + [
        Row(g="b", v=float(200 + i % 50)) for i in range(2000)
    ]
    out = _psi(
        spark.createDataFrame(rows), "v", "g", "a", "b", [25.0, 50.0, 100.0]
    ).collect()[0]
    assert out.psi > 0.25  # the standard "major shift" threshold


def test_psi_empty_bin_smoothed_finite(spark):
    """A bin with zero observations on one side stays finite via the
    add-0.5 smoothing (no ln(0) / division blow-up)."""
    rows = [Row(g="a", v=1.0)] * 10 + [Row(g="b", v=100.0)] * 10
    out = _psi(spark.createDataFrame(rows), "v", "g", "a", "b", [50.0]).collect()[0]
    import math

    p1, q1 = 10.5 / 11.0, 0.5 / 11.0
    # unrounded contract (r12): exact sum of the 9dp-absorbed terms
    expected = round((p1 - q1) * math.log(p1 / q1), 9) + round(
        (q1 - p1) * math.log(q1 / p1), 9
    )
    assert abs(out.psi - expected) < 1e-12


def test_kll_ks_tracks_exact(spark):
    """The sketch path's D stays within the q142 0.05 envelope of the
    exact statistic on a real separation AND under H0."""
    from ironman_medallion_lakehouse_spark.operators.experiment import (
        ks_two_sample,
        ks_two_sample_kll,
    )

    import random

    random.seed(11)
    rows = [Row(g="a", v=random.gauss(50, 15)) for _ in range(5000)] + [
        Row(g="b", v=random.gauss(58, 15)) for _ in range(5000)
    ]
    df = spark.createDataFrame(rows)
    d = ks_two_sample(df, "v", "g", "a", "b").collect()[0].d_stat
    dk = ks_two_sample_kll(df, "v", "g", "a", "b").collect()[0].d_kll
    assert d > 0.15  # the separation is real
    assert abs(d - dk) <= 0.05

    rows0 = [Row(g=g, v=float((i * 13) % 211)) for g in ("a", "b") for i in range(4000)]
    df0 = spark.createDataFrame(rows0)
    dk0 = ks_two_sample_kll(df0, "v", "g", "a", "b").collect()[0].d_kll
    assert dk0 <= 0.05  # identical samples -> near-zero estimate


def test_embedding_mean_drift_identical_sets(spark):
    from ironman_medallion_lakehouse_spark.operators.similarity import (
        embedding_mean_drift,
    )

    rows = [Row(embedding=[float(i % 3), float(i % 5), 1.0]) for i in range(50)]
    df = spark.createDataFrame(rows)
    out = embedding_mean_drift(df, df).collect()[0]
    assert (out.n_ref, out.n_cur) == (50, 50)
    assert out.mean_cosine == 1.0 and out.norm_ratio == 1.0


def test_embedding_mean_drift_detects_rotation_and_scale(spark):
    from ironman_medallion_lakehouse_spark.operators.similarity import (
        embedding_mean_drift,
    )

    ref = spark.createDataFrame([Row(embedding=[1.0, 0.0])] * 20)
    rot = spark.createDataFrame([Row(embedding=[0.0, 1.0])] * 20)
    out = embedding_mean_drift(ref, rot).collect()[0]
    assert out.mean_cosine == 0.0 and out.norm_ratio == 1.0
    scaled = spark.createDataFrame([Row(embedding=[3.0, 0.0])] * 20)
    out2 = embedding_mean_drift(ref, scaled).collect()[0]
    assert out2.mean_cosine == 1.0 and out2.norm_ratio == 3.0


def test_embedding_mean_drift_partitioning_invariant(spark):
    from ironman_medallion_lakehouse_spark.operators.similarity import (
        embedding_mean_drift,
    )

    rows = [Row(embedding=[float(i), float(60 - i), float(i % 7)]) for i in range(60)]
    a, b = spark.createDataFrame(rows[:30]), spark.createDataFrame(rows[30:])
    r1 = embedding_mean_drift(a, b).collect()[0]
    r2 = embedding_mean_drift(a.repartition(11), b.repartition(5)).collect()[0]
    assert r1 == r2


def test_embedding_mean_drift_zero_mean_null(spark):
    from ironman_medallion_lakehouse_spark.operators.similarity import (
        embedding_mean_drift,
    )

    ref = spark.createDataFrame(
        [Row(embedding=[1.0, 0.0]), Row(embedding=[-1.0, 0.0])]
    )
    cur = spark.createDataFrame([Row(embedding=[1.0, 1.0])])
    out = embedding_mean_drift(ref, cur).collect()[0]
    assert out.mean_cosine is None and out.norm_ratio is None


def test_srm_check_hand_computed(spark):
    """60/40 observed vs a 50/50 design over 100 units:
    chi2 = 100/50 + 100/50 = 4.0 (> 3.84 -> broken randomizer)."""
    from ironman_medallion_lakehouse_spark.operators.experiment import srm_check

    rows = [Row(g="a")] * 60 + [Row(g="b")] * 40
    out = srm_check(spark.createDataFrame(rows), "g", {"a": 0.5, "b": 0.5}).collect()[0]
    assert (out.n, out.dof, out.chi2) == (100, 1, 4.0)


def test_srm_check_zero_observed_variant_counts_fully(spark):
    """A designed variant with no rows still contributes its expected
    mass: all 30 rows in 'a' under a 50/50 design -> chi2 = 15+15."""
    from ironman_medallion_lakehouse_spark.operators.experiment import srm_check

    rows = [Row(g="a")] * 30
    out = srm_check(spark.createDataFrame(rows), "g", {"a": 0.5, "b": 0.5}).collect()[0]
    assert (out.n, out.chi2) == (30, 30.0)


def test_srm_check_ignores_unknown_labels_and_validates_ratios(spark):
    import pytest as _pytest

    from ironman_medallion_lakehouse_spark.operators.experiment import srm_check

    rows = [Row(g="a")] * 10 + [Row(g="b")] * 10 + [Row(g="holdout")] * 5
    out = srm_check(spark.createDataFrame(rows), "g", {"a": 0.5, "b": 0.5}).collect()[0]
    assert out.n == 20 and out.chi2 == 0.0
    with _pytest.raises(ValueError, match="sum to 1"):
        srm_check(spark.createDataFrame(rows), "g", {"a": 0.5, "b": 0.4})


def test_srm_check_unbalanced_design(spark):
    """90/10 design met exactly -> chi2 = 0 even though counts differ."""
    from ironman_medallion_lakehouse_spark.operators.experiment import srm_check

    rows = [Row(g="a")] * 90 + [Row(g="b")] * 10
    out = srm_check(spark.createDataFrame(rows), "g", {"a": 0.9, "b": 0.1}).collect()[0]
    assert out.chi2 == 0.0 and out.dof == 1


def test_msprt_hand_computed(spark):
    """A=[1,2,3], B=[2,4,6], tau2=1: V = se2 = 5/3;
    lnL = 0.5*ln(V/(V+1)) + 4/(2*V*(V+1)); p = min(1, e^-lnL)."""
    from ironman_medallion_lakehouse_spark.operators.experiment import msprt_normal

    rows = [Row(g="a", v=float(x)) for x in (1, 2, 3)] + [
        Row(g="b", v=float(x)) for x in (2, 4, 6)
    ]
    out = msprt_normal(spark.createDataFrame(rows), "v", "g", "a", "b", tau2=1.0).collect()[0]
    v = 5 / 3
    lnl = 0.5 * math.log(v / (v + 1.0)) + (2.0 - 4.0) ** 2 * 1.0 / (2 * v * (v + 1.0))
    assert out.log_lambda == round(lnl, 6)
    assert out.p_always_valid == round(min(1.0, math.exp(-lnl)), 6)


def test_msprt_strong_effect_small_p(spark):
    """A clear separation with tight variance drives the always-valid
    p toward 0; a null effect clamps it at 1."""
    from ironman_medallion_lakehouse_spark.operators.experiment import msprt_normal

    rows = [Row(g="a", v=10.0 + (i % 3) * 0.01) for i in range(60)] + [
        Row(g="b", v=20.0 + (i % 3) * 0.01) for i in range(60)
    ]
    out = msprt_normal(spark.createDataFrame(rows), "v", "g", "a", "b", tau2=1.0).collect()[0]
    assert out.log_lambda > 10 and out.p_always_valid < 0.001

    null_rows = [Row(g=g, v=float(i % 7)) for g in ("a", "b") for i in range(40)]
    out0 = msprt_normal(spark.createDataFrame(null_rows), "v", "g", "a", "b", tau2=1.0).collect()[0]
    assert out0.p_always_valid == 1.0  # no evidence -> don't stop


def test_msprt_degenerate_nulls(spark):
    from ironman_medallion_lakehouse_spark.operators.experiment import msprt_normal

    rows = [Row(g="a", v=1.0), Row(g="b", v=2.0), Row(g="b", v=3.0)]
    out = msprt_normal(spark.createDataFrame(rows), "v", "g", "a", "b").collect()[0]
    assert out.log_lambda is None and out.p_always_valid is None
