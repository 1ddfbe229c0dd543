"""Unit tests for the training-data-pipeline extension operators:
dedup (exact / minhash-LSH / simhash / jaccard refine), similarity (brute +
IVF), text analysis, multimodal plumbing."""

from __future__ import annotations

from pyspark.sql import Row
from pyspark.sql import functions as F

from ironman_medallion_lakehouse_spark.functions import text as T
from ironman_medallion_lakehouse_spark.operators import dedup as D
from ironman_medallion_lakehouse_spark.operators import multimodal as M
from ironman_medallion_lakehouse_spark.operators import similarity as S


def _docs(spark):
    rows = [
        Row(doc_id=1, text="the quick brown fox jumps over the lazy dog", src="a"),
        Row(doc_id=2, text="the quick brown fox jumps over the lazy dog", src="a"),  # exact dup
        Row(doc_id=3, text="the quick brown fox leaps over the lazy dog", src="a"),  # near dup
        Row(doc_id=4, text="completely different content about spark engines", src="a"),
        Row(doc_id=5, text="dog lazy the over jumps fox brown quick the", src="b"),  # permuted
    ]
    return spark.createDataFrame(rows)


def test_exact_dedup(spark):
    docs = _docs(spark)
    survivors = {r.doc_id: r.n_copies for r in D.exact_dedup(docs).collect()}
    # docs 1+2 identical: the lower id survives and carries the count
    assert survivors == {1: 2, 3: 1, 4: 1, 5: 1}


def _word_3grams():
    """Distinct word 3-grams of ``text`` as a token array (every
    ``_docs`` text has at least 3 words, so the start sequence is never
    empty)."""
    t = "split(lower(text), '\\\\s+')"
    return F.expr(
        f"array_distinct(transform(sequence(1, size({t}) - 2), "
        f"i -> concat_ws(' ', slice({t}, i, 3))))"
    )


def test_ngram_minhash_is_order_sensitive(spark):
    """The shingle→minhash→band→refine pipeline (n-gram Jaccard family):
    word-set MinHash calls a permuted doc a perfect dup (same set);
    3-gram shingle MinHash + shingle-Jaccard refine rejects it while
    keeping the genuine one-word-edit near-dup."""
    docs = _docs(spark)
    shingles = docs.select("doc_id", D.token_hash_set(_word_3grams()).alias("toks"))
    sigs = D.minhash_signatures(shingles, k=8)
    # r=1 banding: the one-word-edit pair sits at shingle-Jaccard 0.4,
    # where r=2 band collision is a coin flip — recall-friendly banding
    # keeps the test about ORDER sensitivity, not banding probability
    cand = D.lsh_candidate_pairs(sigs, k=8, bands=8)
    refined = {
        (r.id_a, r.id_b): r.jaccard
        for r in D.jaccard_refine(cand, shingles, threshold=0.4).collect()
    }
    assert refined[(1, 2)] == 1.0  # exact dup: all 3-grams shared
    assert (1, 3) in refined  # one-word edit keeps most 3-grams
    assert (1, 5) not in refined  # permuted doc shares NO 3-gram
    # contrast: word-set refine scores the permuted doc 1.0
    word_sets = D.token_sets(docs)
    word_refined = {
        (r.id_a, r.id_b): r.jaccard
        for r in D.jaccard_refine(
            D.lsh_candidate_pairs(D.minhash_signatures(word_sets, k=8), k=8, bands=4),
            word_sets,
            threshold=0.4,
        ).collect()
    }
    assert word_refined[(1, 5)] == 1.0


def test_minhash_lsh_finds_near_dups(spark):
    docs = _docs(spark)
    sigs = D.minhash_signatures(D.token_sets(docs), k=8)
    assert len(sigs.columns) == 9  # doc_id + 8 signature elements
    pairs = {(r.id_a, r.id_b) for r in D.lsh_candidate_pairs(sigs, k=8, bands=4).collect()}
    # identical docs always collide in every band
    assert (1, 2) in pairs
    # permuted doc has the same word set → same signature
    assert (1, 5) in pairs
    # unrelated doc shouldn't pair with everything
    assert (1, 4) not in pairs


def test_simhash_near_dups_close(spark):
    docs = _docs(spark)
    sh = {r.doc_id: r.simhash for r in D.simhash64(docs).collect()}
    assert sh[1] == sh[2] == sh[5]  # same word set → identical simhash

    def hamming(a, b):
        return bin((a ^ b) & ((1 << 64) - 1)).count("1")

    assert hamming(sh[1], sh[3]) < hamming(sh[1], sh[4])


def _embeddings(spark, n=50, dim=8):
    import math

    rows = []
    for i in range(n):
        # deterministic unit-ish vectors on a ring + one exact duplicate of 0
        vec = [math.cos(i * 0.13 + d) for d in range(dim)]
        rows.append(Row(vec_id=i, embedding=vec))
    rows.append(Row(vec_id=n, embedding=[math.cos(d) for d in range(dim)]))  # ≡ vec 0
    return spark.createDataFrame(rows)


def test_cosine_topk_exact(spark):
    emb = _embeddings(spark)
    top = S.cosine_topk(emb, query_id=0, k=3).collect()
    assert top[0].vec_id == 50  # the exact duplicate of vector 0
    assert abs(top[0].cosine_sim - 1.0) < 1e-12


def test_ivf_recall_vs_brute(spark, tmp_path):
    from ironman_medallion_lakehouse_spark.sources.tablestore import TableStore

    emb = _embeddings(spark)
    store = TableStore(spark, str(tmp_path / "wh"))
    idx = S.IvfIndex(store, "ann.ivf")
    idx.build(emb, n_cells=4, n_iter=0)
    query = [float(x) for x in emb.filter(F.col("vec_id") == 0).first().embedding]
    brute = [r.vec_id for r in S.cosine_topk(emb, query_id=0, k=5).collect()]
    approx = [
        r.vec_id
        for r in idx.probe(query, k=6, nprobe=2).collect()
        if r.vec_id != 0
    ]
    # nprobe=2 of 4 cells must still find the exact duplicate
    assert approx[0] == 50
    assert len(set(brute) & set(approx)) >= 3  # decent recall on smooth data


def test_ivf_assign_covers_all(spark, tmp_path):
    from ironman_medallion_lakehouse_spark.sources.tablestore import TableStore

    emb = _embeddings(spark)
    store = TableStore(spark, str(tmp_path / "wh"))
    idx = S.IvfIndex(store, "ann.ivf")
    idx.build(emb, n_cells=4, n_iter=0)
    assigned = store.read(idx.assign_table)
    assert assigned.count() == emb.count()
    assert assigned.select("vec_id").distinct().count() == emb.count()
    assert assigned.select("centroid_id").distinct().count() <= 4


def test_text_functions(spark):
    df = spark.createDataFrame(
        [Row(text="the cat and the dog sat of a mat to it")]
    )
    row = df.select(
        T.n_words("text").alias("nw"),
        T.n_distinct_words("text").alias("nd"),
        T.predicted_lang("text").alias("lang"),
        T.whitespace_token_count("text").alias("ws"),
        T.regex_token_count("text").alias("rx"),
        T.bag_fingerprint("text").alias("fp"),
    ).collect()[0]
    assert row.nw == 11 and row.nd == 10  # "the" repeats
    assert row.lang == "en"
    assert row.ws == 11 and row.rx == 11
    permuted = spark.createDataFrame([Row(text="mat a of sat dog the and cat the to it")])
    fp2 = permuted.select(T.bag_fingerprint("text").alias("fp")).collect()[0].fp
    assert fp2 == row.fp  # order-insensitive


def test_winnowing_fingerprints(spark):
    """Winnowing rolling-hash fingerprints: documents sharing a long
    substring share ≥1 fingerprint; a permuted word bag does NOT
    (order-sensitive, unlike bag_fingerprint); short text is empty."""
    base = "the quick brown fox jumps over the lazy dog near the river bank"
    rows = [
        Row(doc_id=1, text=base),
        Row(doc_id=2, text="PREFIX added here. " + base + " and a suffix too"),
        Row(doc_id=3, text="bank river the near dog lazy the over jumps fox brown quick the"),
        Row(doc_id=4, text="short"),
    ]
    df = spark.createDataFrame(rows)
    fps = {
        r.doc_id: set(r.fp)
        for r in df.select(
            "doc_id", T.winnowing_fingerprints("text", k=8, window=4).alias("fp")
        ).collect()
    }
    assert fps[1] & fps[2]  # shared substring ≥ k+w−1 → common fingerprint
    overlap = len(fps[1] & fps[3]) / max(len(fps[1] | fps[3]), 1)
    assert overlap < 0.3  # permuted bag: rolling hashes mostly differ
    assert fps[4] == set()  # shorter than k chars
    # determinism across partitionings
    fps_re = {
        r.doc_id: set(r.fp)
        for r in df.repartition(3)
        .select("doc_id", T.winnowing_fingerprints("text", k=8, window=4).alias("fp"))
        .collect()
    }
    assert fps_re == fps


def test_winnowing_candidate_pairs(spark):
    """Partial-overlap detection: a doc embedding a long passage from
    another pairs with it (shared substring ≥ k+w−1 ⟹ shared
    fingerprint), a permuted bag does not, and the stop-fingerprint
    cut removes boilerplate-driven pairs."""
    base = "the quick brown fox jumps over the lazy dog near the river bank today"
    boiler = "standard license header text appears identically everywhere"
    rows = [
        Row(doc_id=1, text=base),
        Row(doc_id=2, text="unrelated preamble. " + base + " trailing notes"),
        Row(doc_id=3, text="bank river the near dog lazy the over jumps fox brown quick the today"),
        Row(doc_id=4, text=boiler + " alpha document body one"),
        Row(doc_id=5, text=boiler + " beta entirely different body"),
        Row(doc_id=6, text=boiler + " gamma third distinct body"),
        Row(doc_id=7, text=boiler + " delta fourth separate body"),
    ]
    df = spark.createDataFrame(rows)
    pairs = {
        (r.id_a, r.id_b): r.n_shared
        for r in D.winnowing_candidate_pairs(df, min_shared=2).collect()
    }
    assert (1, 2) in pairs and pairs[(1, 2)] >= 2
    assert (1, 3) not in pairs  # permuted bag: rolling hashes differ
    assert (4, 5) in pairs  # boilerplate (df=4) pairs them...
    filtered = {
        (r.id_a, r.id_b)
        for r in D.winnowing_candidate_pairs(df, min_shared=2, max_doc_freq=2).collect()
    }
    assert (4, 5) not in filtered  # ...until the df ceiling drops it
    assert (1, 2) in filtered  # the df-2 true overlap survives


def test_multimodal_pipeline(spark):
    media = M.synthesize_ppm_payloads(_docs(spark))
    assert [f.name for f in media.schema.fields] == [
        "media_id", "payload", "media_type", "n_bytes",
    ]
    feats = M.extract_features(media)
    rows = {r.media_id: r for r in feats.collect()}
    assert len(rows) == 5
    r1 = rows[1]
    assert 64 <= r1.width < 256 and 64 <= r1.height < 256
    assert len(r1.feature) == 8
    # identical payloads → identical pseudo-features (deterministic stub)
    assert rows[1].feature == rows[2].feature


def test_gopher_repetition_and_quality_signals(spark):
    """Gopher-rules metrics on constructed documents with known values."""
    from pyspark.sql import Row

    docs = spark.createDataFrame(
        [
            # 4 lines, 'dup' twice -> dup_line_fraction 0.25
            Row(doc_id=1, text="dup\nuniq one\ndup\nother"),
            # 'a b' bigram 3x out of 5 bigrams, 6 words -> top fraction 1.0
            Row(doc_id=2, text="a b a b a b"),
            # numbers + symbols: 1 of 4 tokens alphabetic; '#'x2 + '...'x1
            Row(doc_id=3, text="### 123 4.5 ok..."),
            Row(doc_id=4, text="solo"),
        ]
    )
    from ironman_medallion_lakehouse_spark.functions import text as T

    out = {
        r.doc_id: r
        for r in docs.select(
            "doc_id",
            T.duplicate_line_fraction("text").alias("dlf"),
            T.top_bigram_fraction("text").alias("tbf"),
            T.alpha_word_ratio("text").alias("awr"),
            T.symbol_word_ratio("text").alias("swr"),
        ).collect()
    }
    assert abs(out[1].dlf - 0.25) < 1e-12
    assert abs(out[2].tbf - 1.0) < 1e-12  # 2*3/6
    assert abs(out[3].awr - 0.25) < 1e-12  # only 'ok...' has a letter
    assert abs(out[3].swr - (3 + 1) / 4) < 1e-12  # 3 hashes + 1 ellipsis over 4 tokens
    assert out[4].tbf == 0.0  # <2 words guard


def test_pii_scrub(spark):
    from pyspark.sql import Row

    from ironman_medallion_lakehouse_spark.functions import text as T

    docs = spark.createDataFrame(
        [
            Row(
                doc_id=1,
                text=(
                    "mail a.b-c_1@ex.co or x@y.io, ip 192.168.1.1, "
                    "ssn 123-45-6789, call 555-123-4567 or +1 555 987 6543"
                ),
            ),
            Row(doc_id=2, text="no pii here, just 3.14 and v1.2.3.4beta"),
        ]
    )
    got = {r.doc_id: r.s for r in docs.select("doc_id", T.pii_scrub("text").alias("s")).collect()}
    assert got[1] == (
        "mail <EMAIL> or <EMAIL>, ip <IP>, ssn <ID>, call <PHONE> or +1 <PHONE>"
    )
    # \b protects embedded version strings: 'v1' is a word-word
    # transition (no boundary), so 1.2.3.4 inside 'v1.2.3.4beta' never
    # matches the IP shape; 3.14 is untouched too
    assert got[2] == "no pii here, just 3.14 and v1.2.3.4beta"


def test_pack_sequences_concat_then_chunk(spark):
    """Hand-computed pack coordinates, straddling docs included."""
    from pyspark.sql import Row

    from ironman_medallion_lakehouse_spark.operators.packing import pack_sequences

    docs = spark.createDataFrame(
        [Row(doc_id=i, n=n) for i, n in [(1, 4), (2, 9), (3, 2), (4, 10), (5, 1)]]
    )
    got = {
        r.doc_id: (r.start_pack, r.start_offset, r.end_pack, r.n_packs)
        for r in pack_sequences(
            docs, budget=10, tokens=F.col("n"), num_ranges=2
        ).collect()
    }
    # stream offsets: 0, 4, 13, 15, 25 (order by doc_id)
    assert got == {
        1: (0, 0, 0, 1),
        2: (0, 4, 1, 2),   # straddles packs 0-1
        3: (1, 3, 1, 1),
        4: (1, 5, 2, 2),   # straddles packs 1-2
        5: (2, 5, 2, 1),
    }


def test_pack_sequences_partition_count_invariant(spark):
    """The two-level prefix sum must give identical coordinates for any
    range count — the distributed decomposition is an implementation
    detail, not a semantics knob."""
    from pyspark.sql import Row

    from ironman_medallion_lakehouse_spark.operators.packing import pack_sequences

    docs = spark.createDataFrame(
        [Row(doc_id=i, n=(i * 7) % 13 + 1) for i in range(1, 101)]
    )
    a = {
        r.doc_id: (r.start_pack, r.start_offset, r.end_pack)
        for r in pack_sequences(docs, 32, tokens=F.col("n"), num_ranges=1).collect()
    }
    b = {
        r.doc_id: (r.start_pack, r.start_offset, r.end_pack)
        for r in pack_sequences(docs, 32, tokens=F.col("n"), num_ranges=8).collect()
    }
    assert a == b


def test_pack_sequences_join_fallback_matches_map_literal(spark, monkeypatch):
    """Above MAP_LITERAL_MAX_RANGES the per-range base offsets travel
    as a broadcast join instead of plan literals — identical output."""
    from pyspark.sql import Row

    from ironman_medallion_lakehouse_spark.operators import packing as P

    docs = spark.createDataFrame(
        [Row(doc_id=i, text=" ".join(["tok"] * (1 + i % 7))) for i in range(60)]
    )

    def run():
        return sorted(
            (r.doc_id, r.n_tokens, r.start_pack, r.start_offset, r.end_pack, r.n_packs)
            for r in P.pack_sequences(docs, budget=10, num_ranges=6).collect()
        )

    via_map = run()
    monkeypatch.setattr(P, "MAP_LITERAL_MAX_RANGES", 2)
    via_join = run()
    assert via_join == via_map
    assert len(via_map) == 60
