"""Unit tests for the round-5 continuation operator families:
contamination (benchmark decontamination + duplicate-span coverage),
RRF fusion, PQ-ADC ANN, and temperature mixture resampling."""

from __future__ import annotations

from pyspark.sql import Row

from ironman_medallion_lakehouse_spark.operators import contamination as C
from ironman_medallion_lakehouse_spark.operators import ranking as R
from ironman_medallion_lakehouse_spark.operators import sampling as SA
from ironman_medallion_lakehouse_spark.operators import similarity as S
from tests.plan_text import formatted_plan


# ------------------------------------------------------------ contamination


def test_positional_ngrams_hand_computed(spark):
    docs = spark.createDataFrame([Row(doc_id=1, text="a b c d")])
    rows = C.positional_ngram_hashes(docs, 3).collect()
    # 4 tokens, n=3 -> starts 1 and 2
    assert sorted(r.start for r in rows) == [1, 2]
    assert all(r.n_tokens == 4 for r in rows)
    # doc shorter than n yields nothing
    short = spark.createDataFrame([Row(doc_id=2, text="a b")])
    assert C.positional_ngram_hashes(short, 3).count() == 0


def test_benchmark_overlap_flags_planted_contamination(spark):
    shared = "w1 w2 w3 w4 w5 w6 w7 w8"
    docs = spark.createDataFrame(
        [
            Row(doc_id=1, text=shared + " tail tokens here"),   # contaminated
            Row(doc_id=2, text="totally different content with many words yes"),
            Row(doc_id=3, text="short"),                        # < n tokens
        ]
    )
    bench = spark.createDataFrame(
        [Row(doc_id=100, text="prefix " + shared + " suffix")]
    )
    out = {r.doc_id: r for r in C.benchmark_overlap(docs, bench, n=8).collect()}
    assert out[1].contaminated and out[1].n_overlap >= 1
    assert not out[2].contaminated and out[2].n_overlap == 0
    assert out[3].n_grams == 0 and not out[3].contaminated


def test_benchmark_overlap_broadcasts_benchmark(spark):
    docs = spark.createDataFrame(
        [Row(doc_id=i, text="a b c d e f g h i j") for i in range(20)]
    )
    bench = spark.createDataFrame([Row(doc_id=0, text="a b c d e f g h")])
    plan = formatted_plan(C.benchmark_overlap(docs, bench, n=8))
    assert "BroadcastHashJoin" in plan


def test_duplicate_span_coverage_exact_fraction(spark):
    # doc1 and doc2 share exactly tokens 1..8 (one 8-gram); doc3 clean
    shared = "s1 s2 s3 s4 s5 s6 s7 s8"
    docs = spark.createDataFrame(
        [
            Row(doc_id=1, text=shared + " a1 a2"),          # 10 tokens, 8 covered
            Row(doc_id=2, text=shared + " b1 b2 b3 b4"),    # 12 tokens, 8 covered
            Row(doc_id=3, text="c1 c2 c3 c4 c5 c6 c7 c8 c9 c10"),
        ]
    )
    out = {r.doc_id: r for r in C.duplicate_span_coverage(docs, n=8).collect()}
    assert out[1].covered_tokens == 8 and out[1].dup_fraction == 0.8
    assert out[2].covered_tokens == 8 and out[2].n_tokens == 12
    assert out[3].covered_tokens == 0 and out[3].dup_fraction == 0.0


def test_duplicate_span_coverage_ignores_self_repetition(spark):
    # the same 8-gram repeated twice WITHIN one doc only — not cross-doc
    g = "r1 r2 r3 r4 r5 r6 r7 r8"
    docs = spark.createDataFrame(
        [
            Row(doc_id=1, text=g + " " + g),
            Row(doc_id=2, text="u1 u2 u3 u4 u5 u6 u7 u8 u9"),
        ]
    )
    out = {r.doc_id: r for r in C.duplicate_span_coverage(docs, n=8).collect()}
    assert out[1].covered_tokens == 0


def test_duplicate_span_coverage_overlapping_grams_union(spark):
    # doc1/doc2 share a 9-token run -> two overlapping 8-grams covering
    # 9 distinct positions, not 16
    run = "v1 v2 v3 v4 v5 v6 v7 v8 v9"
    docs = spark.createDataFrame(
        [
            Row(doc_id=1, text=run + " x1"),
            Row(doc_id=2, text=run + " y1 y2"),
        ]
    )
    out = {r.doc_id: r for r in C.duplicate_span_coverage(docs, n=8).collect()}
    assert out[1].covered_tokens == 9


# ---------------------------------------------------------------- RRF fusion


def test_rrf_hand_computed(spark):
    a = spark.createDataFrame([Row(doc_id=1, rnk=1), Row(doc_id=2, rnk=2)])
    b = spark.createDataFrame([Row(doc_id=2, rnk=1), Row(doc_id=3, rnk=2)])
    out = {r.doc_id: r for r in R.rrf_fuse([a, b], k=60).collect()}
    assert out[2].n_systems == 2
    # unrounded contract (r13, the q98 class): the score is the exact
    # DECIMAL(18,12) sum of the 12dp-absorbed contributions cast to
    # double — not its 6dp rounding
    assert abs(out[2].rrf_score - (round(1 / 61, 12) + round(1 / 62, 12))) < 1e-12
    assert out[1].n_systems == 1
    assert abs(out[1].rrf_score - round(1 / 61, 12)) < 1e-12
    # doc in both systems outranks single-system docs at these ranks
    ordered = R.rrf_fuse([a, b], k=60).collect()
    assert ordered[0].doc_id == 2


def test_rrf_topk_and_tiebreak(spark):
    a = spark.createDataFrame([Row(doc_id=i, rnk=i) for i in range(1, 6)])
    b = spark.createDataFrame([Row(doc_id=i + 10, rnk=i) for i in range(1, 6)])
    rows = R.rrf_fuse([a, b], k=60, topk=4).collect()
    assert len(rows) == 4
    # equal scores (same rank, different system) break ties by id asc
    assert rows[0].doc_id == 1 and rows[1].doc_id == 11


# ------------------------------------------------------------------- PQ ANN


def test_pq_assign_picks_nearest_code(spark):
    # 1 subspace, dim 2, 2 codes: [0,0] and [10,10]
    books = [[[0.0, 0.0], [10.0, 10.0]]]
    emb = spark.createDataFrame(
        [
            Row(vec_id=1, embedding=[0.1, 0.2]),
            Row(vec_id=2, embedding=[9.0, 9.5]),
        ]
    )
    out = {r.vec_id: r.code_0 for r in S.pq_assign(emb, books).collect()}
    assert out[1] == 0 and out[2] == 1


def test_pq_assign_tie_breaks_to_lowest_code(spark):
    books = [[[1.0, 0.0], [-1.0, 0.0]]]  # equidistant from the origin
    emb = spark.createDataFrame([Row(vec_id=1, embedding=[0.0, 5.0])])
    assert S.pq_assign(emb, books).collect()[0].code_0 == 0


def test_pq_assign_is_map_only(spark):
    books = S.pq_random_codebooks(2, 2, 4)
    emb = spark.createDataFrame(
        [Row(vec_id=i, embedding=[float(i), 1.0, 0.5, 2.0]) for i in range(8)]
    )
    plan = formatted_plan(S.pq_assign(emb, books))
    # zero shuffles: one Arrow-batched encode pass over the scan
    assert "Exchange" not in plan
    assert "MapInPandas" in plan


def test_pq_adc_topk_finds_planted_neighbor(spark):
    # a clustered corpus: neighbor vectors quantize to the same codes,
    # far vectors to different ones -> ADC ranks the clone first
    import hashlib

    def vec(seed: str, base: list[float]) -> list[float]:
        out = []
        for j, b in enumerate(base):
            h = int.from_bytes(
                hashlib.md5(f"{seed}-{j}".encode()).digest()[:4], "big"
            )
            out.append(b + (h / 2**32 - 0.5) * 0.01)
        return out

    base_a = [5.0, -3.0, 2.0, 7.0]
    base_b = [-6.0, 4.0, -1.0, -8.0]
    rows = [Row(vec_id=0, embedding=base_a)]
    rows += [Row(vec_id=i, embedding=vec(f"a{i}", base_a)) for i in (1, 2, 3)]
    rows += [Row(vec_id=i, embedding=vec(f"b{i}", base_b)) for i in (4, 5, 6)]
    emb = spark.createDataFrame(rows)
    books = [
        [base_a[:2], base_b[:2], [0.0, 0.0], [1.0, 1.0]],
        [base_a[2:], base_b[2:], [0.0, 0.0], [1.0, 1.0]],
    ]
    got = S.pq_adc_topk(emb, books, query_id=0, k=3).collect()
    assert [r.rnk for r in got] == [1, 2, 3]
    assert {r.vec_id for r in got} == {1, 2, 3}


def test_pq_compression_ratio_note():
    # m=8 byte codes vs 64 float32: the 32x compression claim
    assert 64 * 4 / 8 == 32.0


# ------------------------------------------- temperature mixture resampling


def test_temperature_rates_flatten_the_mixture(spark):
    rows = [Row(k=i, lang="en") for i in range(400)]
    rows += [Row(k=1000 + i, lang="de") for i in range(16)]
    df = spark.createDataFrame(rows)
    out = SA.temperature_mixture_sample(df, "lang", "k", total_budget=120)
    got = out.groupBy("lang").count().collect()
    by = {r.lang: r["count"] for r in got}
    # shares: sqrt(400)=20, sqrt(16)=4 -> en target 100, de target 24
    # -> de rate capped at 1.0 (keep all 16); en ~ 100/400 = 25%
    assert by.get("de", 0) == 16
    assert 60 <= by.get("en", 0) <= 140  # hash noise around 100


def test_temperature_alpha1_is_proportional(spark):
    rows = [Row(k=i, lang="en") for i in range(300)] + [
        Row(k=900 + i, lang="de") for i in range(100)
    ]
    df = spark.createDataFrame(rows)
    out = SA.temperature_mixture_sample(df, "lang", "k", total_budget=100, alpha=1.0)
    by = {r.lang: r["count"] for r in out.groupBy("lang").count().collect()}
    # alpha=1 -> every stratum keeps the same rate (budget/N = 25%)
    assert 45 <= by.get("en", 0) <= 105
    assert 10 <= by.get("de", 0) <= 40


def test_temperature_sample_is_deterministic(spark):
    rows = [Row(k=i, lang=("en" if i % 3 else "fr")) for i in range(120)]
    df = spark.createDataFrame(rows)
    a = {r.k for r in SA.temperature_mixture_sample(df, "lang", "k", 40).collect()}
    b = {
        r.k
        for r in SA.temperature_mixture_sample(
            df.repartition(7), "lang", "k", 40
        ).collect()
    }
    assert a == b and a


def test_pq_assign_survives_empty_partitions(spark):
    books = S.pq_random_codebooks(2, 2, 4)
    emb = spark.createDataFrame(
        [Row(vec_id=1, embedding=[1.0, 2.0, 3.0, 4.0])]
    ).repartition(8)  # 7 empty partitions -> empty Arrow batches
    assert S.pq_assign(emb, books).count() == 1


def test_duplicate_span_coverage_full_copy_is_fully_covered(spark):
    text = " ".join(f"t{i}" for i in range(20))
    docs = spark.createDataFrame(
        [Row(doc_id=1, text=text), Row(doc_id=2, text=text)]
    )
    out = {r.doc_id: r for r in C.duplicate_span_coverage(docs, n=8).collect()}
    assert out[1].dup_fraction == 1.0 and out[2].dup_fraction == 1.0


def test_benchmark_overlap_counts_distinct_grams_once(spark):
    # the same contaminated 8-gram occurring twice in a training doc
    # counts ONCE (distinct grams, the published protocol)
    g = "w1 w2 w3 w4 w5 w6 w7 w8"
    docs = spark.createDataFrame([Row(doc_id=1, text=g + " mid " + g)])
    bench = spark.createDataFrame([Row(doc_id=9, text=g)])
    row = C.benchmark_overlap(docs, bench, n=8).collect()[0]
    assert row.n_overlap == 1


def test_temperature_mixture_total_budget_respected(spark):
    rows = [Row(k=i, lang=l) for l in ("a", "b", "c") for i in range(100)]
    rows = [Row(k=i * 10 + j, lang=l) for j, l in enumerate(("a", "b", "c")) for i in range(100)]
    df = spark.createDataFrame(rows)
    kept = SA.temperature_mixture_sample(df, "lang", "k", total_budget=90).count()
    # expected 90 (30 per equal stratum); hash noise stays well inside 2x
    assert 50 <= kept <= 130
