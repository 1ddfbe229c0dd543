"""cosine_neardup_pairs: the blocked equi-join must find EXACTLY the
pairs the all-pairs scorer finds (recall 1 by the unit-coordinate
bound), and must plan as an equi-join, not a nested loop."""

from __future__ import annotations

import numpy as np
from pyspark.sql import Row

from ironman_medallion_lakehouse_spark.operators.similarity import (
    _blocking_directions,
    _neardup_candidates,
    cosine_neardup_pairs,
)


def _corpus(n_base=40, n_dupes=15, dim=16, seed=7):
    rng = np.random.default_rng(seed)
    base = rng.normal(size=(n_base, dim))
    base /= np.linalg.norm(base, axis=1, keepdims=True)
    vecs = list(base)
    # near-duplicates: tiny perturbations of existing vectors, spanning
    # both sides of the 0.99 threshold
    for i in range(n_dupes):
        eps = rng.normal(size=dim) * (0.02 + 0.12 * (i % 4))
        v = base[i % n_base] + eps
        vecs.append(v / np.linalg.norm(v))
    return np.stack(vecs)


def _true_pairs(M, threshold):
    sims = M @ M.T
    n = len(M)
    return {
        (i, j)
        for i in range(n)
        for j in range(i + 1, n)
        if sims[i, j] >= threshold
    }


def test_blocked_pairs_match_brute_force(spark):
    M = _corpus()
    df = spark.createDataFrame(
        [Row(vec_id=i, embedding=[float(x) for x in row]) for i, row in enumerate(M)]
    )
    for threshold in (0.99, 0.95):
        got = {
            (r.id_a, r.id_b)
            for r in cosine_neardup_pairs(df, threshold=threshold).collect()
        }
        expected = _true_pairs(M, threshold)
        assert got == expected, f"threshold {threshold}"
        assert len(expected) > 0  # the fixture actually exercises recall


def test_blocked_pairs_plan_is_equi_join(spark):
    M = _corpus(n_base=10, n_dupes=0)
    df = spark.createDataFrame(
        [Row(vec_id=i, embedding=[float(x) for x in row]) for i, row in enumerate(M)]
    )
    plan = cosine_neardup_pairs(df)._jdf.queryExecution().toString()
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def _clustered_corpus(n_clusters=20, per_cluster=50, dim=256, n_dupes=40, seed=11):
    """A realistic high-dim embedding corpus: cluster structure (topic
    centers + within-cluster noise at sim ≈ 0.95, below the 0.99
    threshold) plus planted near-duplicates above it."""
    rng = np.random.default_rng(seed)
    centers = rng.normal(size=(n_clusters, dim))
    centers /= np.linalg.norm(centers, axis=1, keepdims=True)
    vecs = []
    for c in centers:
        vecs.append(c + rng.normal(size=(per_cluster, dim)) * 0.25 / np.sqrt(dim))
    X = np.vstack(vecs)
    for _ in range(n_dupes):
        j = rng.integers(0, len(X))
        X = np.vstack([X, (X[j] + rng.normal(size=dim) * 0.004)[None]])
    return X / np.linalg.norm(X, axis=1, keepdims=True)


def test_high_dim_candidates_are_pruned(spark):
    """The r2 scale finding: raw-coordinate binning degenerates at
    dim ≥ 64 (unit coordinates ~N(0,1/dim) all land in 2-4 bins). The
    data-chosen principal directions must (a) still find EXACTLY the
    brute-force pair set at dim=256 and (b) produce a candidate set
    that is a small multiple of (true pairs + n), nowhere near n²/2."""
    threshold = 0.99
    M = _clustered_corpus()
    n = len(M)
    df = spark.createDataFrame(
        [Row(vec_id=i, embedding=[float(x) for x in row]) for i, row in enumerate(M)]
    )
    w = float((2.0 - 2.0 * threshold) ** 0.5)
    dirs = _blocking_directions(
        df, w, "vec_id", "embedding", max_axes=3, min_bins=3.0
    )
    assert len(dirs) == 3  # a clustered corpus has ≥3 wide directions
    candidates = _neardup_candidates(df, threshold, "vec_id", "embedding", dirs).count()
    expected = _true_pairs(M, threshold)
    all_pairs = n * (n - 1) // 2
    # empirically ~56k candidates vs 540k all-pairs on this fixture;
    # assert with headroom: ≥4x pruning and O(true + n), not O(n²)
    assert candidates <= all_pairs / 4, (candidates, all_pairs)
    assert candidates <= 120 * (len(expected) + n), (candidates, len(expected), n)
    got = {
        (r.id_a, r.id_b)
        for r in cosine_neardup_pairs(df, threshold=threshold).collect()
    }
    assert got == expected
    assert len(expected) >= 10  # the fixture actually exercises recall


def test_isotropic_corpus_falls_back_to_one_axis(spark):
    """When NO direction separates (pure isotropic noise), axis
    selection keeps the single widest direction rather than paying
    3^n replication for no pruning — and the result is still exact."""
    rng = np.random.default_rng(3)
    M = rng.normal(size=(60, 128))
    M /= np.linalg.norm(M, axis=1, keepdims=True)
    df = spark.createDataFrame(
        [Row(vec_id=i, embedding=[float(x) for x in row]) for i, row in enumerate(M)]
    )
    w = float((2.0 - 2.0 * 0.99) ** 0.5)
    dirs = _blocking_directions(
        df, w, "vec_id", "embedding", max_axes=3, min_bins=3.0
    )
    assert len(dirs) == 1
    got = {(r.id_a, r.id_b) for r in cosine_neardup_pairs(df, threshold=0.3).collect()}
    assert got == _true_pairs(M, 0.3)


def test_threshold_one_and_zero_norm_vectors(spark):
    """threshold=1.0 (w=0 clamped) finds exact duplicates; a zero-norm
    vector (cosine undefined) yields no pairs instead of a crash."""
    M = _corpus(n_base=12, n_dupes=0)
    rows = [Row(vec_id=i, embedding=[float(x) for x in r]) for i, r in enumerate(M)]
    rows.append(Row(vec_id=100, embedding=[float(x) for x in M[0]]))  # exact dup of 0
    rows.append(Row(vec_id=101, embedding=[0.0] * M.shape[1]))  # zero norm
    df = spark.createDataFrame(rows)
    got = {(r.id_a, r.id_b) for r in cosine_neardup_pairs(df, threshold=1.0).collect()}
    assert (0, 100) in got
    assert all(101 not in p for p in got)


def test_lsh_max_bucket_size_caps_hot_buckets(spark):
    """Skew control for banding: a clique of identical docs forms one
    mega-bucket per band; the cap drops those groups before the
    self-join while distinct docs keep pairing normally."""
    from pyspark.sql import Row

    from ironman_medallion_lakehouse_spark.operators import dedup as D

    rows = [Row(doc_id=i, text="common boilerplate text repeated") for i in range(30)]
    rows += [Row(doc_id=100 + i, text=f"unique doc {i} alpha beta gamma") for i in range(3)]
    # two near-identical docs that must still pair under the cap
    rows += [
        Row(doc_id=200, text="rare pair one two three four five six"),
        Row(doc_id=201, text="rare pair one two three four five six seven"),
    ]
    docs = spark.createDataFrame(rows)
    sigs = D.minhash_signatures(D.token_sets(docs), k=8)
    uncapped = D.lsh_candidate_pairs(sigs, k=8, bands=4).count()
    capped_df = D.lsh_candidate_pairs(sigs, k=8, bands=4, max_bucket_size=10)
    capped_pairs = {(r.id_a, r.id_b) for r in capped_df.collect()}
    # the 30-doc clique contributes 435 pairs uncapped; capped drops them
    assert uncapped >= 435
    assert len(capped_pairs) < 50
    assert (200, 201) in capped_pairs  # small buckets unaffected


def test_q90_cap_provably_fires_on_driver_corpus(spark):
    """VERDICT r4 item 6: the q90 suite entry's bucket cap must
    actually FIRE on the driver's documents table, not just on a
    synthetic clique — over-cap (band, bucket) groups exist at
    sf0.01, and the capped candidate set is a strict subset of the
    uncapped one."""
    from pyspark.sql import functions as F

    from ironman_medallion_lakehouse_spark import suite_extensions as SE
    from ironman_medallion_lakehouse_spark.operators import dedup as D
    from ironman_medallion_lakehouse_spark.session import load_tables

    docs = load_tables(spark, "/root/testdata/sf0.01", "documents")["documents"]
    sigs = D.minhash_signatures(D.token_sets(docs), k=SE._LSH_K).localCheckpoint(
        eager=True
    )
    r = SE._LSH_K // SE._LSH_BANDS
    band_cols = [
        F.struct(
            F.lit(b).alias("band_id"),
            F.md5(
                F.concat_ws("|", *[F.col(f"sig_{b * r + j}") for j in range(r)])
            ).alias("bucket"),
        )
        for b in range(SE._LSH_BANDS)
    ]
    sizes = (
        sigs.select(F.explode(F.array(*band_cols)).alias("band"))
        .groupBy("band.band_id", "band.bucket")
        .count()
    )
    over = sizes.filter(F.col("count") > SE._Q90_CAP).count()
    assert over > 0, "no over-cap bucket at sf0.01 — q90 would not exercise the cap"

    uncapped = {
        (p.id_a, p.id_b)
        for p in D.lsh_candidate_pairs(sigs, k=SE._LSH_K, bands=SE._LSH_BANDS).collect()
    }
    capped = {
        (p.id_a, p.id_b)
        for p in D.lsh_candidate_pairs(
            sigs, k=SE._LSH_K, bands=SE._LSH_BANDS, max_bucket_size=SE._Q90_CAP
        ).collect()
    }
    assert capped < uncapped  # strict subset: the cap removed pairs


def test_containment_contraction_output_invariant(spark):
    """VERDICT r5 item 5: the exact-set pre-contracted containment
    pipeline must emit EXACTLY the raw composition's pairs — same ids,
    same scores, same subset_style — on a corpus with planted
    identical-set docs (reordered/duplicated token sets) and subset
    docs."""
    from ironman_medallion_lakehouse_spark.operators.dedup import containment_pairs

    docs = [
        (1, "alpha beta gamma delta epsilon zeta eta theta"),
        (2, "beta alpha gamma delta zeta epsilon theta eta"),   # same SET as 1
        (3, "alpha beta gamma delta epsilon zeta eta theta " * 3),  # dup tokens
        (4, "alpha beta gamma delta"),                           # subset of 1
        (5, "totally different words here nothing shared at all"),
        (6, None),                                               # token-less
        (7, ""),
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    kw = dict(k=32, bands=8, threshold=0.9, jaccard_bar=0.9)
    raw = {
        (r.id_a, r.id_b): (r.containment, r.jaccard, r.subset_style)
        for r in containment_pairs(df, contract=False, **kw).collect()
    }
    con = {
        (r.id_a, r.id_b): (r.containment, r.jaccard, r.subset_style)
        for r in containment_pairs(df, contract=True, **kw).collect()
    }
    assert raw == con
    assert (1, 2) in con and con[(1, 2)] == (1.0, 1.0, False)


def test_containment_threshold_above_one_rejected(spark):
    """ADVICE r6 item 4: threshold > 1 matches no pair in the raw
    composition but the contracted intra-group arm would still emit
    containment=1 pairs — both arms must refuse the parameterization
    instead of silently diverging."""
    import pytest

    from ironman_medallion_lakehouse_spark.operators.dedup import containment_pairs

    df = spark.createDataFrame(
        [(1, "a b c"), (2, "a b c")], "doc_id long, text string"
    )
    for contract in (True, False):
        with pytest.raises(ValueError, match="threshold"):
            containment_pairs(df, threshold=1.5, contract=contract)


# ---------------------------------------------------------------- bands dial


def _controlled_jaccard_corpus(spark, n_pairs, shared, unique, tag):
    """(new_side, corpus_side): n_pairs doc pairs, pair i sharing
    ``shared`` tokens with ``unique`` extra tokens per side — exact
    token Jaccard shared/(shared+2*unique). Token namespaces are
    per-pair, so cross-pair Jaccard is 0."""
    new_rows, corp_rows = [], []
    for i in range(n_pairs):
        s = [f"{tag}p{i}s{t}" for t in range(shared)]
        a = [f"{tag}p{i}a{t}" for t in range(unique)]
        b = [f"{tag}p{i}b{t}" for t in range(unique)]
        new_rows.append((i, " ".join(s + a)))
        corp_rows.append((i, " ".join(s + b)))
    schema = "doc_id long, text string"
    return (
        spark.createDataFrame(new_rows, schema),
        spark.createDataFrame(corp_rows, schema),
    )


def test_bands_dial_recall_collision_ab(spark):
    """The r7 directive-6 A/B, empirically: at stored width k=128,
    re-banding 16 -> 8 (r = 8 -> 16) collapses the J=0.5 collision
    rate (~6.1 % -> ~0.012 %, S-curve 1-(1-j^r)^b) and costs J=0.9
    recall (~1.0 -> ~0.81). Deterministic md5 minhash => the empirical
    rates are fixed for this corpus; bands assert the S-curve values
    within binomial tolerance. The documented prose numbers are pinned
    against the exact formula too."""
    from ironman_medallion_lakehouse_spark.operators.dedup import (
        lsh_cross_candidates,
        minhash_signatures,
        token_sets,
    )

    theory = lambda j, r, b: 1.0 - (1.0 - j**r) ** b
    # the documented numbers ARE the S-curve at k=128
    assert abs(theory(0.5, 8, 16) - 0.061) < 0.005
    assert theory(0.5, 16, 8) < 3e-4
    assert abs(theory(0.9, 16, 8) - 0.81) < 0.01
    assert theory(0.9, 8, 16) > 0.999

    n = 400
    # J = s/(s+2u): 18/(18+2) = 0.9 ; 10/(10+10) = 0.5
    new_hi, corp_hi = _controlled_jaccard_corpus(spark, n, 18, 1, "h")
    new_lo, corp_lo = _controlled_jaccard_corpus(spark, n, 10, 5, "l")
    rates = {}
    for label, (new, corp) in {
        "hi": (new_hi, corp_hi),
        "lo": (new_lo, corp_lo),
    }.items():
        sn = minhash_signatures(token_sets(new), k=128)
        sc = minhash_signatures(token_sets(corp), k=128)
        for bands in (16, 8):
            got = {
                (r.id_new, r.id_corpus)
                for r in lsh_cross_candidates(sn, sc, bands=bands).collect()
            }
            rates[(label, bands)] = sum(1 for i, j in got if i == j) / n
    # J=0.9: near-total recall at bands=16; ~0.81 at bands=8
    assert rates[("hi", 16)] >= 0.99, rates
    assert 0.73 <= rates[("hi", 8)] <= 0.89, rates
    # J=0.5: ~6 % collisions at bands=16; ~0 at bands=8 (expect 0.05)
    assert 0.03 <= rates[("lo", 16)] <= 0.10, rates
    assert rates[("lo", 8)] <= 2 / n, rates
    # the dial's direction, end to end
    assert rates[("lo", 16)] / max(rates[("lo", 8)], 1 / n) > 10


def test_dedup_incoming_bands_dial_on_stored_sigs(spark):
    """The end-to-end dial (r7 directive 6): ONE stored k=128 corpus
    signature table serves BOTH bands settings — banding is derived at
    query time, so re-dialing needs no signature recompute — and the
    skew valve (max_bucket_size) is forwarded: capping at 0 provably
    disables the near arm while leaving exact classification intact."""
    from ironman_medallion_lakehouse_spark.operators.dedup import (
        dedup_incoming,
        exact_hash_frame,
        minhash_signatures,
        token_sets,
    )

    corp_rows = [
        (100, " ".join(f"tok{t}" for t in range(40))),
        (101, "completely different words here entirely"),
    ]
    inc_rows = [
        # J = 38/42 ~ 0.905 vs doc 100 (2 tokens swapped)
        (1, " ".join(f"tok{t}" for t in range(38)) + " novelA novelB"),
        # exact dup of 101 modulo whitespace/case
        (2, "  Completely DIFFERENT words here entirely "),
        (3, "unrelated fresh content nothing shared"),
    ]
    corpus = spark.createDataFrame(corp_rows, "doc_id long, text string")
    incoming = spark.createDataFrame(inc_rows, "doc_id long, text string")
    sigs = minhash_signatures(token_sets(corpus))  # stored once, k=128
    hashes = exact_hash_frame(corpus)
    for bands in (16, 8):
        out = {
            r.doc_id: r.status
            for r in dedup_incoming(
                incoming,
                corpus,
                bands=bands,
                corpus_sigs=sigs,
                corpus_hashes=hashes,
            ).collect()
        }
        assert out[2] == "exact_dup", (bands, out)
        assert out[3] == "kept", (bands, out)
        assert out[1] == "near_dup", (bands, out)  # deterministic md5 sigs
    capped = {
        r.doc_id: r.status
        for r in dedup_incoming(
            incoming,
            corpus,
            corpus_sigs=sigs,
            corpus_hashes=hashes,
            max_bucket_size=0,
        ).collect()
    }
    assert capped == {1: "kept", 2: "exact_dup", 3: "kept"}


def test_cross_candidates_grouped_form_matches_row_join(spark):
    """r14 pinned the grouped member-array form against this inline
    row-join replica; r15 ADJUDICATED the two under the official bench
    protocol (grouped lost ~1.5-1.8x on the driver box, and its
    collect_list put unbounded buckets in one aggregation buffer) and
    reverted lsh_cross_candidates to the row form. The replica stays
    as an independent spec of the candidate set — cap semantics
    included (the cap bounds corpus-side bucket width) — so any future
    restructure is still pinned to the same distinct pairs."""
    from pyspark.sql import functions as F

    from ironman_medallion_lakehouse_spark.operators.dedup import (
        _banded,
        _sig_width,
        lsh_cross_candidates,
        minhash_signatures,
        token_sets,
    )

    # overlapping token sets so several docs share several band buckets,
    # plus exact copies so whole clusters collide in ALL bands
    corp_rows = [(i, " ".join(f"tok{t}" for t in range(i % 4, 30 + i % 4)))
                 for i in range(100, 112)]
    corp_rows += [(i + 50, txt) for i, txt in corp_rows[:6]]  # exact copies
    inc_rows = [(j, " ".join(f"tok{t}" for t in range(j % 3, 30 + j % 3)))
                for j in range(10)]
    corpus = spark.createDataFrame(corp_rows, "doc_id long, text string")
    incoming = spark.createDataFrame(inc_rows, "doc_id long, text string")
    sig_c = minhash_signatures(token_sets(corpus))
    sig_n = minhash_signatures(token_sets(incoming))

    def old_form(max_bucket_size):
        k = _sig_width(sig_n)
        a = _banded(sig_n, "doc_id", k, 16).withColumnsRenamed({"doc_id": "id_new"})
        b = _banded(sig_c, "doc_id", k, 16).withColumnsRenamed({"doc_id": "id_corpus"})
        if max_bucket_size is not None:
            keep = (
                b.groupBy("band_id", "bucket")
                .agg(F.count(F.lit(1)).alias("_sz"))
                .filter(F.col("_sz") <= max_bucket_size)
                .select("band_id", "bucket")
            )
            b = b.join(keep, ["band_id", "bucket"])
        return a.join(b, ["band_id", "bucket"]).select("id_new", "id_corpus").distinct()

    for cap in (None, 3, 1):
        got = {(r.id_new, r.id_corpus)
               for r in lsh_cross_candidates(sig_n, sig_c, bands=16,
                                             max_bucket_size=cap).collect()}
        want = {(r.id_new, r.id_corpus) for r in old_form(cap).collect()}
        assert got == want, f"cap={cap}"
        if cap is None:
            assert len(want) > 0


def test_q47_battery_handles_wordless_docs(spark, tmp_path):
    """r14 BPE-arm restructure pin: a doc whose text has no words falls
    out of the posexplode and must re-enter via the left join with
    n_bpe_tokens = 0 and bpe_fp = md5('') — the values the old inline
    expression produced on an empty word array. r15 (ADVICE r14): a
    NULL-text doc must NOT surface the wordless fallback values: the
    oracle's column expressions yield NULL on NULL text, and the row
    itself is dropped by the boiler arm's inner join on BOTH engines
    (string_split/generate_series over NULL emit no lines), so the
    battery must drop it too — never emit it with 0/md5('')."""
    import hashlib
    import os

    from ironman_medallion_lakehouse_spark import suite

    src = "/root/testdata/sf0.001/documents.parquet"
    df = spark.read.parquet(src).limit(6)
    patched = df.selectExpr(
        "doc_id",
        "CASE WHEN doc_id % 3 = 0 THEN '   ' "
        "WHEN doc_id % 3 = 1 THEN CAST(NULL AS STRING) ELSE text END AS text",
        "lang", "source", "n_chars",
    )
    sf_dir = str(tmp_path / "sf")
    os.makedirs(sf_dir)
    patched.coalesce(1).write.parquet(os.path.join(sf_dir, "documents.parquet"))
    out = suite.queries()["q47_text_battery"](spark, sf_dir).collect()
    # NULL-text docs are dropped by the boiler inner join (both
    # engines), not emitted with fallback values
    n_null = sum(1 for i in range(6) if i % 3 == 1)
    assert len(out) == 6 - n_null
    assert all(r.doc_id % 3 != 1 for r in out)
    empty_md5 = hashlib.md5(b"").hexdigest()
    saw_wordless = False
    for r in out:
        if r.doc_id % 3 == 0:
            saw_wordless = True
            assert r.n_bpe_tokens == 0
            assert r.bpe_fp == empty_md5
        else:
            assert r.n_bpe_tokens > 0
            assert r.bpe_fp != empty_md5
    assert saw_wordless


def test_size_threshold_prefilter_is_refine_invariant(spark):
    """r14 optimization pin: lsh_candidate_pairs(size_threshold=t)
    drops only pairs that jaccard_refine(threshold=t) would reject
    anyway (J <= min|A|,|B| / max|A|,|B|), so refine output — and
    therefore near_dedup_groups — is identical with and without the
    pre-filter. The fixture mixes compatible and size-incompatible
    near-dup pairs."""
    from ironman_medallion_lakehouse_spark.operators.dedup import (
        jaccard_refine,
        lsh_candidate_pairs,
        minhash_signatures,
        token_sets,
    )

    rows = []
    # cluster of similar same-size docs (survives both paths)
    for i in range(6):
        toks = [f"tok{t}" for t in range(40)]
        toks[i] = f"alt{i}"
        rows.append((i, " ".join(toks)))
    # a subset doc (20 of the 40 cluster tokens): at r=1 banding it
    # collides with the cluster (J=0.5 per band, 8 bands — verified
    # below), but is size-incompatible at t=0.9 (20 vs 40 tokens)
    rows.append((50, " ".join(f"tok{t}" for t in range(20))))
    docs = spark.createDataFrame(rows, "doc_id long, text string")

    sets = token_sets(docs)
    sigs_plain = minhash_signatures(sets, k=8)
    sigs_sized = minhash_signatures(sets, k=8, with_size=True)
    t = 0.9
    cand_plain = lsh_candidate_pairs(sigs_plain, k=8, bands=8)
    cand_sized = lsh_candidate_pairs(sigs_sized, k=8, bands=8, size_threshold=t)
    plain_pairs = {(r.id_a, r.id_b) for r in cand_plain.collect()}
    sized_pairs = {(r.id_a, r.id_b) for r in cand_sized.collect()}
    assert sized_pairs <= plain_pairs
    assert len(sized_pairs) < len(plain_pairs)  # the fixture prunes something
    ref_plain = {
        (r.id_a, r.id_b, r.jaccard)
        for r in jaccard_refine(cand_plain, sets, threshold=t).collect()
    }
    ref_sized = {
        (r.id_a, r.id_b, r.jaccard)
        for r in jaccard_refine(cand_sized, sets, threshold=t).collect()
    }
    assert ref_plain == ref_sized
    assert len(ref_plain) > 0

    import pytest

    with pytest.raises(ValueError, match="with_size"):
        lsh_candidate_pairs(sigs_plain, k=8, bands=8, size_threshold=t)


def test_minhash_fold_kernel_matches_per_permutation_form(spark):
    """r15 kernel pin: minhash_signatures computes all k mins as ONE
    aggregate fold with a running-least k-vector over the token_sets
    frame; this replays the r14 per-permutation transform+array_min
    form inline, straight from the distinct word strings, and requires
    bit-identical signatures (incl. single-token docs, where the fold's
    init sentinel must always lose to the first real value)."""
    from pyspark.sql import functions as F

    from ironman_medallion_lakehouse_spark.functions.text import _let, words
    from ironman_medallion_lakehouse_spark.operators.dedup import (
        MINHASH_P,
        minhash_coeffs,
        minhash_signatures,
        token_hash_raw,
        token_sets,
    )

    rows = [
        (1, "alpha beta gamma delta"),
        (2, "single"),
        (3, "alpha beta gamma delta"),   # exact dup of 1
        (4, "  beta   alpha  "),          # whitespace / ordering
        (5, " ".join(f"tok{i}" for i in range(200))),  # long doc
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    k = 32
    got = minhash_signatures(token_sets(docs), k=k).orderBy("doc_id").collect()

    coeffs = minhash_coeffs(k)
    a_arr = F.array(*[F.lit(a) for a, _ in coeffs])
    b_arr = F.array(*[F.lit(b) for _, b in coeffs])
    ws = F.array_distinct(words("text"))

    def old_sigs(hashes):
        def one_sig(j):
            return _let(
                F.struct(
                    F.element_at(a_arr, j + 1).alias("a"),
                    F.element_at(b_arr, j + 1).alias("b"),
                ),
                lambda ab: F.array_min(
                    F.transform(hashes, lambda h: (ab["a"] * h + ab["b"]) % MINHASH_P)
                ),
            )

        return F.transform(F.sequence(F.lit(0), F.lit(k - 1)), one_sig)

    want = (
        docs.filter(F.size(ws) > 0)
        .select(
            F.col("doc_id"),
            _let(
                F.transform(ws, lambda t: token_hash_raw(t) % MINHASH_P), old_sigs
            ).alias("_s"),
        )
        .select(F.col("doc_id"), *[F.col("_s")[j].alias(f"sig_{j}") for j in range(k)])
        .orderBy("doc_id")
        .collect()
    )
    assert [tuple(r) for r in got] == [tuple(r) for r in want]
    assert len(got) == 5
    # exact-dup docs must hash identically; the long doc exercises the
    # fold over many tokens
    g = {r.doc_id: tuple(r)[1:] for r in got}
    assert g[1] == g[3]


def test_cross_size_threshold_prefilter_is_refine_invariant(spark):
    """ADVICE r14: the CROSS twin of the self-join invariance pin —
    lsh_cross_candidates(size_threshold=t) must drop only pairs
    jaccard_refine(threshold=t) would reject anyway, including a
    size-incompatible cross pair the filter provably prunes. Refine
    output over the union lookup is identical with and without it."""
    from ironman_medallion_lakehouse_spark.operators.dedup import (
        jaccard_refine,
        lsh_cross_candidates,
        minhash_signatures,
        token_sets,
    )

    corp_rows = []
    # corpus cluster of similar same-size docs
    for i in range(100, 106):
        toks = [f"tok{t}" for t in range(40)]
        toks[i - 100] = f"alt{i}"
        corp_rows.append((i, " ".join(toks)))
    # a short corpus doc: a subset (20 of the 40 cluster tokens) the
    # incoming near-copy collides with at loose banding but can never
    # reach J >= 0.9 against (20 vs 40 tokens — size-incompatible)
    corp_rows.append((150, " ".join(f"tok{t}" for t in range(20))))
    corpus = spark.createDataFrame(corp_rows, "doc_id long, text string")
    # incoming: one near-copy of the cluster, one near-copy of the short doc
    inc_rows = [
        (1, " ".join([f"tok{t}" for t in range(39)] + ["altinc"])),
        (2, " ".join([f"tok{t}" for t in range(19)] + ["altinc2"])),
    ]
    incoming = spark.createDataFrame(inc_rows, "doc_id long, text string")

    t = 0.9
    sig_c_plain = minhash_signatures(token_sets(corpus), k=8)
    sig_n_plain = minhash_signatures(token_sets(incoming), k=8)
    sig_c_sized = minhash_signatures(token_sets(corpus), k=8, with_size=True)
    sig_n_sized = minhash_signatures(token_sets(incoming), k=8, with_size=True)
    cand_plain = lsh_cross_candidates(sig_n_plain, sig_c_plain, bands=8)
    cand_sized = lsh_cross_candidates(
        sig_n_sized, sig_c_sized, bands=8, size_threshold=t
    )
    plain_pairs = {(r.id_new, r.id_corpus) for r in cand_plain.collect()}
    sized_pairs = {(r.id_new, r.id_corpus) for r in cand_sized.collect()}
    assert sized_pairs <= plain_pairs
    # the fixture must exercise the filter: a size-incompatible cross
    # pair (long incoming vs short corpus doc or vice versa) is pruned
    assert len(sized_pairs) < len(plain_pairs)
    lookup = token_sets(incoming.unionByName(corpus))

    def refined(cand):
        return {
            (r.id_a, r.id_b, r.jaccard)
            for r in jaccard_refine(
                cand.withColumnsRenamed({"id_new": "id_a", "id_corpus": "id_b"}),
                lookup,
                threshold=t,
            ).collect()
        }

    assert refined(cand_plain) == refined(cand_sized)
    assert len(refined(cand_plain)) > 0

    import pytest

    with pytest.raises(ValueError, match="with_size"):
        lsh_cross_candidates(sig_n_plain, sig_c_plain, bands=8, size_threshold=t)
