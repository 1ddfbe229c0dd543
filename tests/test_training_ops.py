"""Unit tests for the round-5 training-pipeline operators: BM25
ranking, SemDeDup, stratified sampling, incremental dedup. Values are
checked against hand-computed expectations on planted fixtures, and
the scale-relevant plan shapes are asserted."""

from __future__ import annotations

import math
import re

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from ironman_medallion_lakehouse_spark.operators import dedup as D
from ironman_medallion_lakehouse_spark.operators import ranking as R
from ironman_medallion_lakehouse_spark.operators import sampling as SA
from ironman_medallion_lakehouse_spark.operators import similarity as S
from tests.plan_text import formatted_plan


# ------------------------------------------------------------------- BM25


def test_bm25_hand_computed(spark):
    docs = spark.createDataFrame(
        [
            Row(doc_id=1, text="cat dog cat"),
            Row(doc_id=2, text="dog bird"),
            Row(doc_id=3, text="fish fish fish fish"),
        ]
    )
    out = {r.doc_id: r for r in R.bm25_scores(docs, ["cat"]).collect()}
    # N=3, sum_dl=9, avgdl=3; df(cat)=1 -> idf = ln(1 + 2.5/1.5)
    idf = math.log(1 + 2.5 / 1.5)
    # doc 1: tf=2, dl=3 -> idf * 2*2.2 / (2 + 1.2*(0.25 + 0.75*3/3))
    exp1 = idf * 2 * 2.2 / (2 + 1.2 * (0.25 + 0.75))
    assert abs(out[1].score - exp1) < 1e-12
    assert out[2].score == 0.0 and out[3].score == 0.0
    assert out[1].dl == 3


def test_bm25_topk_order_and_plan(spark):
    docs = spark.createDataFrame(
        [Row(doc_id=i, text=("match " * (i % 5 + 1)) + "pad") for i in range(40)]
    )
    top = R.bm25_topk(docs, ["match"], k=5)
    rows = top.collect()
    assert len(rows) == 5
    assert [r.score for r in rows] == sorted((r.score for r in rows), reverse=True)
    plan = formatted_plan(top)
    # top-k must be heap-based, never a global sort
    assert "TakeOrderedAndProject" in plan


def test_unigram_logprob_hand_computed(spark):
    """corpus: 'a a b' + 'b c' -> N=5, p(a)=2/5, p(b)=2/5, p(c)=1/5.
    doc1 mean = (ln.4+ln.4+ln.4)/3 = ln .4; doc2 = (ln.4+ln.2)/2 —
    with each ln rounded to 4 decimals first (the decimal-sum
    determinism policy) and NO final round on the quotient
    (ranking.py "no final round" contract, r11 q98 fix)."""
    from ironman_medallion_lakehouse_spark.operators.ranking import (
        unigram_logprob_scores,
    )

    docs = spark.createDataFrame(
        [Row(doc_id=1, text="a a b"), Row(doc_id=2, text="b c")]
    )
    out = {r.doc_id: r for r in unigram_logprob_scores(docs).collect()}
    r4 = lambda x: round(x, 4)
    exp1 = 3 * r4(math.log(0.4)) / 3
    exp2 = (r4(math.log(0.4)) + r4(math.log(0.2))) / 2
    assert out[1].n_tokens == 3 and abs(out[1].mean_logprob - exp1) < 1e-9
    assert out[2].n_tokens == 2 and abs(out[2].mean_logprob - exp2) < 1e-9
    # fluency ordering: the doc of common tokens scores higher
    assert out[1].mean_logprob > out[2].mean_logprob


# --------------------------------------------------------------- SemDeDup


def test_semantic_dedup_drops_planted_neardups(spark):
    # two well-separated clusters; 11/12 near-identical to 10, id 20 alone
    vecs = [
        (10, [1.0, 0.0, 0.0]),
        (11, [0.999, 0.01, 0.0]),
        (12, [0.998, -0.01, 0.0]),
        (20, [0.0, 1.0, 0.0]),
    ]
    emb = spark.createDataFrame(
        [Row(vec_id=i, embedding=[float(x) for x in v]) for i, v in vecs]
    )
    cents = spark.createDataFrame(
        [
            Row(centroid_id=0, centroid=[1.0, 0.0, 0.0]),
            Row(centroid_id=1, centroid=[0.0, 1.0, 0.0]),
        ]
    )
    out = {r.vec_id: r for r in S.semantic_dedup(emb, cents, threshold=0.99).collect()}
    assert out[10].kept and out[10].cluster_id == 0
    assert not out[11].kept and not out[12].kept  # min-id survivor policy
    assert out[20].kept and out[20].cluster_id == 1


def test_semantic_dedup_with_fitted_centroids(spark):
    """The production path: centroids from kmeans_centroids (fitted,
    not fixed). Contract: every vector labeled exactly once, min-id
    representative of each dropped neighborhood survives, and the
    whole thing is deterministic across runs (the fitted codebook is
    bit-deterministic by construction)."""
    import random

    rng = random.Random(11)
    rows = [
        Row(vec_id=i, embedding=[rng.uniform(-1, 1) for _ in range(8)])
        for i in range(40)
    ]
    rows.append(Row(vec_id=100, embedding=list(rows[5].embedding)))  # exact dup of 5
    emb = spark.createDataFrame(rows)
    cents = S.kmeans_centroids(emb, n_cells=4, n_iter=2)
    out1 = S.semantic_dedup(emb, cents, threshold=0.999)
    got = {r.vec_id: r for r in out1.collect()}
    assert len(got) == 41  # every vector labeled exactly once
    assert got[5].kept and not got[100].kept  # dup dropped, min id survives
    assert got[5].cluster_id == got[100].cluster_id
    out2 = {
        (r.vec_id, r.cluster_id, r.kept)
        for r in S.semantic_dedup(emb.repartition(7), cents, threshold=0.999).collect()
    }
    assert {(r.vec_id, r.cluster_id, r.kept) for r in out1.collect()} == out2


# ---------------------------------------------------------------- sampling


def test_stratified_sample_rates_and_determinism(spark):
    df = spark.createDataFrame(
        [Row(k=i, stratum="a" if i % 2 == 0 else "b") for i in range(2000)]
    )
    got = SA.stratified_sample(df, "stratum", {"a": 0.5, "b": 1.0}, "k")
    n_a = got.filter(F.col("stratum") == "a").count()
    n_b = got.filter(F.col("stratum") == "b").count()
    assert n_b == 1000  # rate 1.0 keeps everything
    assert 400 <= n_a <= 600  # hash-uniform around 500
    # determinism: the same rows every run, regardless of partitioning
    ids1 = {r.k for r in got.collect()}
    ids2 = {r.k for r in SA.stratified_sample(df.repartition(7), "stratum", {"a": 0.5, "b": 1.0}, "k").collect()}
    assert ids1 == ids2
    # unknown strata dropped under the default rate
    extra = spark.createDataFrame([Row(k=99999, stratum="zz")])
    assert SA.stratified_sample(extra, "stratum", {"a": 0.5}, "k").count() == 0


def test_stratified_sample_is_map_only(spark):
    df = spark.createDataFrame([Row(k=i, stratum="a") for i in range(10)])
    plan = formatted_plan(SA.stratified_sample(df, "stratum", {"a": 0.5}, "k"))
    assert "Exchange" not in plan  # zero shuffles: scan-absorbed filter


def test_signlsh_ann_finds_duplicate_and_prunes(spark):
    """An exact duplicate of the query shares its bucket by
    construction (identical dot signs), so it must surface as the top
    hit; and the candidate set must be bucket-pruned, not a full
    scan."""
    import random

    rng = random.Random(3)
    rows = [Row(vec_id=0, embedding=[1.0] * 8 + [0.0] * 8)]
    rows.append(Row(vec_id=1, embedding=[1.0] * 8 + [0.0] * 8))  # exact dup of query
    rows += [
        Row(vec_id=i, embedding=[rng.uniform(-1, 1) for _ in range(16)])
        for i in range(2, 60)
    ]
    emb = spark.createDataFrame(rows)
    top = S.signlsh_topk(emb, query_id=0, k=5, n_bits=4, dim=16).collect()
    assert top[0].vec_id == 1 and abs(top[0].cosine_sim - 1.0) < 1e-12
    # pruning: candidates probed = query bucket + 4 neighbors of 16 buckets;
    # with 58 random vectors the candidate set must be well under the corpus
    hps = S.signlsh_hyperplanes(4, 16)
    b = S.signlsh_buckets(emb, hps)
    qb = b.filter(F.col("vec_id") == 0).collect()[0].bucket
    probed = {qb} | {qb ^ (1 << i) for i in range(4)}
    n_cand = b.filter(F.col("bucket").isin(list(probed))).count()
    assert n_cand < 40  # a full scan would be 60


def test_signlsh_recall_on_clustered_corpus(spark):
    """The regime sign-LSH is FOR: angularly-clustered embeddings.
    Recall@10 vs brute force must be high at Hamming-1 probing; all
    deterministic — seeded corpus, md5-seeded hyperplanes."""
    import random

    rng = random.Random(5)
    centers = [[4.0 if d == c * 4 else 0.0 for d in range(16)] for c in range(4)]
    emb = spark.createDataFrame(
        [
            Row(
                vec_id=i,
                embedding=[x + rng.gauss(0, 0.3) for x in centers[i % 4]],
            )
            for i in range(120)
        ]
    )
    for qid in (0, 1, 2):
        brute = {r.vec_id for r in S.cosine_topk(emb, query_id=qid, k=10).collect()}
        r1 = {
            r.vec_id
            for r in S.signlsh_topk(emb, query_id=qid, k=10, n_bits=5, dim=16).collect()
        }
        assert len(brute & r1) / 10 >= 0.8


# ----------------------------------------------------------------- chunking


def test_chunk_documents_hand_computed(spark):
    from ironman_medallion_lakehouse_spark.operators.chunking import chunk_documents

    # 10 tokens, size 4, overlap 2 -> starts 1,3,5,7,9
    docs = spark.createDataFrame(
        [Row(doc_id=1, text="t0 t1 t2 t3 t4 t5 t6 t7 t8 t9"), Row(doc_id=2, text=None)]
    )
    rows = sorted(
        chunk_documents(docs, chunk_size=4, overlap=2).collect(),
        key=lambda r: r.chunk_index,
    )
    assert [r.doc_id for r in rows] == [1] * 5  # null-text doc yields nothing
    assert [(r.chunk_index, r.start_token, r.n_tokens) for r in rows] == [
        (0, 1, 4), (1, 3, 4), (2, 5, 4), (3, 7, 4), (4, 9, 2)
    ]
    import hashlib
    assert rows[0].chunk_hash == hashlib.md5(b"t0 t1 t2 t3").hexdigest()
    assert rows[4].chunk_hash == hashlib.md5(b"t8 t9").hexdigest()


def test_chunk_documents_overlap_guard(spark):
    from ironman_medallion_lakehouse_spark.operators.chunking import chunk_documents

    docs = spark.createDataFrame([Row(doc_id=1, text="a b")])
    with pytest.raises(ValueError, match="overlap"):
        chunk_documents(docs, chunk_size=4, overlap=4)


def test_stratified_sample_rates_are_nested(spark):
    """Hash-threshold sampling's killer property: raising a stratum's
    rate only ADDS rows — sample(r1) ⊆ sample(r2) for r1 < r2 (same
    salt). This is what makes mixture re-weighting reproducible:
    a 10% pilot is a strict subset of the 50% run."""
    df = spark.createDataFrame([Row(k=i, stratum="a") for i in range(3000)])
    prev: set = set()
    for rate in (0.1, 0.3, 0.7, 1.0):
        cur = {r.k for r in SA.stratified_sample(df, "stratum", {"a": rate}, "k").collect()}
        assert prev <= cur, f"rate {rate} lost rows from a smaller rate"
        prev = cur
    assert len(prev) == 3000


def test_chunk_documents_windows_cover_every_token(spark):
    """Coverage property on random lengths: every token position lands
    in at least one window, starts advance by exactly the stride, and
    all windows except the last are full-size."""
    import random

    from ironman_medallion_lakehouse_spark.operators.chunking import chunk_documents

    rng = random.Random(13)
    docs = spark.createDataFrame(
        [
            Row(doc_id=i, text=" ".join(f"t{j}" for j in range(rng.randint(1, 300))))
            for i in range(30)
        ]
    )
    size, overlap = 32, 8
    rows = chunk_documents(docs, chunk_size=size, overlap=overlap).collect()
    by_doc: dict = {}
    for r in rows:
        by_doc.setdefault(r.doc_id, []).append(r)
    lengths = {
        r.doc_id: r.n
        for r in docs.select(
            "doc_id", F.size(F.split(F.lower("text"), r"\s+")).alias("n")
        ).collect()
    }
    for doc_id, chunks in by_doc.items():
        n = lengths[doc_id]
        chunks.sort(key=lambda r: r.chunk_index)
        covered = set()
        for idx, c in enumerate(chunks):
            assert c.start_token == 1 + idx * (size - overlap)
            assert c.n_tokens == min(size, n - c.start_token + 1)
            covered.update(range(c.start_token, c.start_token + c.n_tokens))
        assert covered == set(range(1, n + 1)), f"doc {doc_id} has uncovered tokens"


# -------------------------------------------------- near_dedup_groups


def test_near_dedup_groups_contraction_is_output_invariant(spark):
    """The exact-set pre-contraction must not change groups: permuted /
    repeated-word docs share a token SET (collapsed to one rep) and a
    chain a~b~c must still group transitively through the reps."""
    from ironman_medallion_lakehouse_spark.operators.graph import (
        dedup_groups_from_pairs,
    )

    docs = spark.createDataFrame(
        [
            Row(doc_id=1, text="alpha beta gamma delta epsilon zeta eta theta iota kappa"),
            # identical token SET (permuted + repeated) -> same rep as 1
            Row(doc_id=2, text="kappa iota theta eta zeta epsilon delta gamma beta alpha alpha"),
            # near-dup of the set (9/11 shared) -> chains through rep
            Row(doc_id=3, text="alpha beta gamma delta epsilon zeta eta theta iota lambda mu"),
            Row(doc_id=4, text="completely disjoint vocabulary nothing shared here at all today"),
        ]
    )
    got = {
        (r.doc_id, r.group_id, r.group_size, r.is_survivor)
        for r in D.near_dedup_groups(docs, k=64, bands=16, threshold=0.7).collect()
    }
    assert got == {
        (1, 1, 3, True),
        (2, 1, 3, False),
        (3, 1, 3, False),
        (4, 4, 1, True),
    }
    # and it matches the un-contracted pipeline end-to-end
    sets = D.token_sets(docs)
    sigs = D.minhash_signatures(sets, k=64)
    cand = D.lsh_candidate_pairs(sigs, k=64, bands=16)
    pairs = D.jaccard_refine(cand, sets, threshold=0.7)
    raw = {
        (r.doc_id, r.group_id, r.group_size, r.is_survivor)
        for r in dedup_groups_from_pairs(docs, pairs).collect()
    }
    assert raw == got


def test_near_dedup_groups_null_text_stays_singleton(spark):
    """Token-less docs never reach the signature stage, so the raw
    pipeline leaves each a singleton; contraction must NOT merge them
    through a shared empty set-key."""
    docs = spark.createDataFrame(
        [
            Row(doc_id=1, text=None),
            Row(doc_id=2, text=None),
            Row(doc_id=3, text="some real content tokens here"),
        ]
    )
    got = {
        (r.doc_id, r.group_id, r.group_size)
        for r in D.near_dedup_groups(docs, k=32, bands=8).collect()
    }
    assert got == {(1, 1, 1), (2, 2, 1), (3, 3, 1)}


def _exchange_reads(plan: str, keys: str) -> list[tuple[str, str]]:
    """(arguments, parent of its query stage) for every Exchange in a
    formatted final AQE plan whose hash keys start with ``keys``."""
    tree, _, details = plan.partition("\n\n")
    args = dict(
        re.findall(r"^\((\d+)\) Exchange\n(?:.*\n)*?Arguments: (.*)$", details, re.M)
    )
    lines = tree.splitlines()

    def parent(i: int) -> int:
        depth = len(lines[i]) - len(lines[i].lstrip(" +-:"))
        while len(lines[i]) - len(lines[i].lstrip(" +-:")) >= depth:
            i -= 1
        return i

    out = []
    for i, line in enumerate(lines):
        m = re.search(r"\bExchange \((\d+)\)", line)
        if m and re.match(rf"hashpartitioning\({keys}", args[m.group(1)]):
            out.append((args[m.group(1)], lines[parent(parent(i))].strip(" +-:")))
    return out


def test_near_dedup_groups_pins_contraction_and_candidate_widths(spark, monkeypatch):
    """The contraction window's shuffle and the candidate distinct run
    at the session's shuffle width: explicit-count exchanges that AQE
    leaves uncoalesced. A coalesced read there puts the CPU-bound
    signature, band-join and refine stages on 1-2 tasks."""
    words = [f"w{i}" for i in range(40)]
    rows = []
    for i in range(24):
        toks = list(words)
        toks[i % 8] = f"alt{i % 8}"  # 8 token sets, 3 exact copies each
        rows.append(Row(doc_id=i, text=" ".join(toks)))
    docs = spark.createDataFrame(rows)
    plans = []
    cls = type(docs)
    checkpoint = cls.localCheckpoint

    def spy(self, *args, **kwargs):
        out = checkpoint(self, *args, **kwargs)
        plans.append(formatted_plan(self))
        return out

    monkeypatch.setattr(cls, "localCheckpoint", spy)
    groups = D.near_dedup_groups(docs, k=64, bands=16, threshold=0.9).collect()
    monkeypatch.undo()
    assert {r.group_id for r in groups} == {0}  # J = 38/42 joins every set
    width = int(spark.conf.get("spark.sql.shuffle.partitions"))
    for keys in (r"toks#\d+", r"id_a#\d+L?, id_b#\d+L?"):
        reads = [r for p in plans for r in _exchange_reads(p, keys)]
        assert reads, f"no exchange on {keys} in any checkpointed plan"
        for exchange_args, reader in reads:
            partitioning, origin = exchange_args.split("), ", 1)
            assert partitioning.endswith(f", {width}"), exchange_args
            assert origin.startswith("REPARTITION_BY_NUM"), exchange_args
            assert not reader.startswith("AQEShuffleRead"), (exchange_args, reader)


# ------------------------------------------------------- incremental dedup


def test_dedup_incoming_statuses(spark):
    corpus = spark.createDataFrame(
        [
            Row(doc_id=1, text="the quick brown fox jumps over the lazy dog again and again today"),
            Row(doc_id=2, text="entirely different content about spark shuffles and partitions here"),
        ]
    )
    incoming = spark.createDataFrame(
        [
            # exact after normalization (case + whitespace)
            Row(doc_id=100, text="  THE QUICK   brown fox jumps over the lazy dog again and again today "),
            # near: one token changed out of 13
            Row(doc_id=101, text="the quick brown fox jumps over the lazy dog again and again tomorrow"),
            Row(doc_id=102, text="totally novel text with no overlap whatsoever in any token plane"),
        ]
    )
    out = {r.doc_id: r.status for r in D.dedup_incoming(
        incoming, corpus, bands=16, threshold=0.8
    ).collect()}
    assert out == {100: "exact_dup", 101: "near_dup", 102: "kept"}


def test_dedup_incoming_precomputed_corpus_sigs(spark):
    """The production path: corpus signatures computed once, stored,
    and passed via ``corpus_sigs`` — must classify identically to the
    recompute-everything path (a daily batch then pays only its own
    signature pass)."""
    corpus = spark.createDataFrame(
        [
            Row(doc_id=1, text="the quick brown fox jumps over the lazy dog again and again today"),
            Row(doc_id=2, text="entirely different content about spark shuffles and partitions here"),
        ]
    )
    incoming = spark.createDataFrame(
        [
            Row(doc_id=101, text="the quick brown fox jumps over the lazy dog again and again tomorrow"),
            Row(doc_id=102, text="totally novel text with no overlap whatsoever in any token plane"),
        ]
    )
    sigs = D.minhash_signatures(D.token_sets(corpus), k=128).localCheckpoint(eager=True)
    got = {r.doc_id: r.status for r in D.dedup_incoming(
        incoming, corpus, bands=16, threshold=0.8, corpus_sigs=sigs
    ).collect()}
    fresh = {r.doc_id: r.status for r in D.dedup_incoming(
        incoming, corpus, bands=16, threshold=0.8
    ).collect()}
    assert got == fresh == {101: "near_dup", 102: "kept"}


def test_lsh_cross_candidates_never_pairs_within_a_side(spark):
    docs = spark.createDataFrame(
        [Row(doc_id=i, text="shared tokens everywhere in this corpus") for i in range(6)]
    )
    sigs = D.minhash_signatures(D.token_sets(docs), k=32)
    new = sigs.filter(F.col("doc_id") < 3)
    corp = sigs.filter(F.col("doc_id") >= 3)
    pairs = D.lsh_cross_candidates(new, corp, bands=8).collect()
    assert pairs  # identical docs must band together
    for r in pairs:
        assert r.id_new < 3 and r.id_corpus >= 3


def test_lsh_cross_candidates_width_mismatch(spark):
    docs = spark.createDataFrame([Row(doc_id=1, text="a b c")])
    with pytest.raises(ValueError, match="widths differ"):
        D.lsh_cross_candidates(
            D.minhash_signatures(D.token_sets(docs), k=32),
            D.minhash_signatures(D.token_sets(docs), k=16),
        )


# ---------------------------------------------- update_dedup_groups (r10)


def test_update_dedup_groups_equals_batch_recompute(spark):
    """The equality contract: folding random batch splits through
    update_dedup_groups yields EXACTLY near_dedup_groups on the full
    corpus (LSH edges depend only on per-doc signatures, so the edge
    set is batching-invariant; group labels are min ids, which
    compose). Random corpora with planted near-dups."""
    import random

    for seed in range(3):
        rng = random.Random(seed)
        vocab = [f"w{i}" for i in range(30)]
        docs = []
        for i in range(18):
            base = rng.sample(vocab, 12)
            docs.append((i, " ".join(base)))
            if rng.random() < 0.5:  # planted near-dup (11/13 ~ 0.846)
                dup = base[:-1] + [rng.choice(vocab)]
                docs.append((100 + i, " ".join(dup)))
        df = spark.createDataFrame(docs, "doc_id long, text string")
        want = {
            (r.doc_id, r.group_id)
            for r in D.near_dedup_groups(
                df, k=64, bands=16, threshold=0.7
            ).collect()
        }
        order = [r for r in range(3)]
        rng.shuffle(order)
        parts = [df.filter(F.col("doc_id") % 3 == i).localCheckpoint() for i in order]
        groups = D.near_dedup_groups(
            parts[0], k=64, bands=16, threshold=0.7
        ).select("doc_id", "group_id")
        corpus = parts[0]
        for b in parts[1:]:
            groups = D.update_dedup_groups(
                groups, corpus, b, k=64, bands=16, threshold=0.7
            ).localCheckpoint()
            corpus = corpus.unionByName(b).localCheckpoint()
        got = {(r.doc_id, r.group_id) for r in groups.collect()}
        assert got == want, f"seed {seed}"


def test_update_dedup_groups_bridge_merges_two_groups(spark):
    """A new document near-matching members of TWO existing groups
    must union them under the global min id, rewriting the absorbed
    group's rows."""
    words_a = " ".join(f"a{i}" for i in range(20))
    words_a2 = " ".join([f"a{i}" for i in range(19)] + ["zz"])
    words_b = " ".join(f"b{i}" for i in range(20))
    words_b2 = " ".join([f"b{i}" for i in range(19)] + ["yy"])
    corpus = spark.createDataFrame(
        [(1, words_a), (5, words_a2), (2, words_b), (7, words_b2)],
        "doc_id long, text string",
    )
    groups = D.near_dedup_groups(corpus, k=64, bands=16, threshold=0.7).select(
        "doc_id", "group_id"
    )
    assert {(r.doc_id, r.group_id) for r in groups.collect()} == {
        (1, 1), (5, 1), (2, 2), (7, 2),
    }
    # bridge: half a-words, half b-words; J vs each 20-word doc with
    # 10 shared = 10/30 — too low. Use an overlapping 18-word doc:
    # 16 a-words + 16 b-words can't both clear 0.7; instead bridge via
    # TWO new docs? No — ONE doc CAN bridge at a lower threshold.
    bridge = spark.createDataFrame(
        [(9, words_a), (11, words_b)], "doc_id long, text string"
    )
    updated = D.update_dedup_groups(
        groups, corpus, bridge, k=64, bands=16, threshold=0.7
    )
    got = {(r.doc_id, r.group_id) for r in updated.collect()}
    # 9 joins group 1 (exact text of doc 1), 11 joins group 2
    assert got == {(1, 1), (5, 1), (9, 1), (2, 2), (7, 2), (11, 2)}
    # now a REAL bridge: small token sets + r=2 banding so candidacy
    # at the bridge's J=0.444 is effectively certain (1-(1-J^2)^32),
    # and deterministic either way since the minhash coefficients are
    # fixed. corpus2: two singleton-ish groups over disjoint alphabets.
    corpus2 = spark.createDataFrame(
        [
            (1, " ".join(f"x{i}" for i in range(10))),
            (2, " ".join(f"y{i}" for i in range(10))),
        ],
        "doc_id long, text string",
    )
    groups2 = D.near_dedup_groups(corpus2, k=64, bands=32, threshold=0.4).select(
        "doc_id", "group_id"
    )
    assert {(r.doc_id, r.group_id) for r in groups2.collect()} == {(1, 1), (2, 2)}
    mixed = " ".join(
        [f"x{i}" for i in range(8)] + [f"y{i}" for i in range(8)]
    )  # J vs each 10-word doc: 8/(16+10-8) = 0.444 >= 0.4
    new3 = spark.createDataFrame([(9, mixed)], "doc_id long, text string")
    bridged = D.update_dedup_groups(
        groups2, corpus2, new3, k=64, bands=32, threshold=0.4
    )
    got2 = {(r.doc_id, r.group_id) for r in bridged.collect()}
    want2 = {
        (r.doc_id, r.group_id)
        for r in D.near_dedup_groups(
            corpus2.unionByName(new3), k=64, bands=32, threshold=0.4
        ).collect()
    }
    assert got2 == want2
    # the bridge unioned both groups under the global min id
    assert got2 == {(1, 1), (2, 1), (9, 1)}, got2
