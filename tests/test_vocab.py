"""BPE vocabulary learning + tokenization (operators/vocab.py) —
the Sennrich et al. (2016) reference example, hand-checkable."""

from __future__ import annotations

from pyspark.sql import Row

from ironman_medallion_lakehouse_spark.operators.vocab import (
    END,
    apply_bpe,
    learn_bpe,
    word_counts,
)


def _corpus(spark):
    text = " ".join(
        ["low"] * 5 + ["lower"] * 2 + ["newest"] * 6 + ["widest"] * 3
    )
    return spark.createDataFrame([Row(doc_id=1, text=text)])


def test_learn_bpe_sennrich_example(spark):
    """low x5, lower x2, newest x6, widest x3: (e,s) wins with 9, then
    (es,t) 9, then (est,</w>) 9, then the l-o-w chain at 7."""
    counts = word_counts(_corpus(spark))
    merges = learn_bpe(counts, num_merges=5)
    assert merges[:3] == [("e", "s"), ("es", "t"), ("est", END)]
    # count-7 tier: lexicographic tiebreak (l,o) before (lo,w)
    assert merges[3:] == [("l", "o"), ("lo", "w")]


def test_learn_bpe_min_count_stops_early(spark):
    df = spark.createDataFrame([Row(doc_id=1, text="ab cd")])
    merges = learn_bpe(word_counts(df), num_merges=10, min_pair_count=2)
    assert merges == []  # every pair occurs once


def test_apply_bpe_tokenizes_with_learned_merges(spark):
    counts = word_counts(_corpus(spark))
    merges = learn_bpe(counts, num_merges=3)  # es, est, est</w>
    out = apply_bpe(
        spark.createDataFrame([Row(doc_id=7, text="newest low")]), merges
    ).collect()[0]
    assert out.tokens == ["n", "e", "w", "est" + END, "l", "o", "w", END]
    assert out.n_tokens == 8


def test_apply_bpe_repeated_symbol_greedy(spark):
    """'aaaa' under merge (a,a): left-to-right greedy -> aa, aa."""
    df = spark.createDataFrame([Row(doc_id=1, text="aaaa")])
    out = apply_bpe(df, [("a", "a")]).collect()[0]
    assert out.tokens == ["aa", "aa", END]


def test_apply_bpe_merge_order_matters(spark):
    """(a,b) then (ab,c): 'abc' -> ['abc</w>'-less...]: ab + c stay
    mergeable only because ab formed first."""
    df = spark.createDataFrame([Row(doc_id=1, text="abc")])
    out = apply_bpe(df, [("a", "b"), ("ab", "c")]).collect()[0]
    assert out.tokens == ["abc", END]
    out2 = apply_bpe(df, [("ab", "c"), ("a", "b")]).collect()[0]
    # reversed order: (ab,c) finds no adjacent 'ab' symbol yet
    assert out2.tokens == ["ab", "c", END]


def test_apply_bpe_preserves_word_order_and_vocab(spark):
    df = spark.createDataFrame(
        [Row(doc_id=i, text="xy yx xy") for i in range(3)]
    )
    merges = [("x", "y")]
    rows = {r.doc_id: r.tokens for r in apply_bpe(df, merges).collect()}
    for i in range(3):
        assert rows[i] == ["xy", END, "y", "x", END, "xy", END]
    # every token is a base symbol, a merged pair or the end marker
    assert {t for toks in rows.values() for t in toks} <= {"x", "y", "xy", END}


def test_learn_bpe_deterministic_under_repartition(spark):
    counts = word_counts(_corpus(spark))
    a = learn_bpe(counts, num_merges=4)
    b = learn_bpe(counts.repartition(5), num_merges=4)
    assert a == b


def test_bpe_tokens_expr_matches_sql_replay(spark):
    """The pure-Column battery form and its DuckDB mirror tokenize
    identically — incl. chained merges, greedy repeats, empty text."""
    import duckdb
    from pyspark.sql import functions as F

    from ironman_medallion_lakehouse_spark.operators.vocab import (
        bpe_tokens_expr,
        bpe_tokens_sql,
    )

    merges = [("r", "o"), ("ro", "w"), ("row", END), ("a", "n")]
    texts = ["row scan hash table", "The  ROW rows", "", "a an ann row"]
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    got = {
        r.doc_id: r.toks
        for r in df.select(
            "doc_id", bpe_tokens_expr(F.col("text"), merges).alias("toks")
        ).collect()
    }
    sql = bpe_tokens_sql("text", merges)
    want = dict(
        duckdb.connect()
        .execute(
            f"SELECT doc_id, {sql} AS toks FROM (SELECT unnest(range(4)) AS doc_id,"
            f" unnest({texts!r}) AS text)"
        )
        .fetchall()
    )
    assert got == want
    assert got[0][:1] == ["row" + END]  # the chained 3-merge prefix fired


def _py_serial_bpe(word_to_count, num_merges, min_pair_count=2):
    """Classic in-memory Sennrich loop — the ground truth both Spark
    learners must match: argmax (count desc, a asc, b asc), greedy
    left-to-right merge."""
    words = [(list(w) + [END], n) for w, n in word_to_count.items()]
    merges = []
    for _ in range(num_merges):
        pc = {}
        for syms, n in words:
            for i in range(len(syms) - 1):
                k = (syms[i], syms[i + 1])
                pc[k] = pc.get(k, 0) + n
        if not pc:
            break
        (a, b), c = min(pc.items(), key=lambda kv: (-kv[1], kv[0][0], kv[0][1]))
        if c < min_pair_count:
            break
        merges.append((a, b))
        nxt = []
        for syms, n in words:
            out = []
            for s in syms:
                if out and out[-1] == a and s == b:
                    out[-1] = a + b
                else:
                    out.append(s)
            nxt.append((out, n))
        words = nxt
    return merges


def test_learn_bpe_batched_sennrich_equivalence(spark):
    from ironman_medallion_lakehouse_spark.operators.vocab import learn_bpe_batched

    counts = word_counts(_corpus(spark))
    stats = {}
    merges = learn_bpe_batched(counts, num_merges=5, stats=stats)
    assert merges == learn_bpe(counts, num_merges=5)
    assert merges == _py_serial_bpe(
        {"low": 5, "lower": 2, "newest": 6, "widest": 3}, 5
    )


def test_learn_bpe_batched_equals_serial_on_random_corpora(spark):
    """Property check of the batching rules (prefix / disjointness /
    trigram bound / product-collision stop): on random small-alphabet
    corpora — where overlapping repeats and 'aba'-style product
    collisions actually occur — the batched learner's merge list is
    IDENTICAL to the classic serial loop."""
    import random

    from ironman_medallion_lakehouse_spark.operators.vocab import learn_bpe_batched

    for seed in range(6):
        rng = random.Random(seed)
        vocab = {}
        for _ in range(10):
            w = "".join(rng.choice("abc") for _ in range(rng.randint(1, 5)))
            vocab[w] = vocab.get(w, 0) + rng.randint(1, 9)
        df = spark.createDataFrame(
            [(w, n) for w, n in vocab.items()], "word string, n long"
        )
        got = learn_bpe_batched(df, num_merges=10, min_pair_count=1, max_batch=6)
        want = _py_serial_bpe(vocab, 10, min_pair_count=1)
        assert got == want, f"seed {seed}: {got} != {want}"


def test_learn_bpe_batched_sync_points_per_merge_below_one(spark):
    """The point of the dial (VERDICT r7 item 2): on a real corpus the
    batched learner needs measurably fewer driver rounds AND fewer
    Spark jobs than merges learned — the serial loop costs >= 1 job
    per merge by construction."""
    import os

    from ironman_medallion_lakehouse_spark.operators.vocab import learn_bpe_batched

    docs = spark.read.parquet(
        os.path.join("/root/testdata/sf0.001", "documents.parquet")
    )
    counts = word_counts(docs)
    sc = spark.sparkContext
    sc.setJobGroup("bpe-batched-measure", "jobs-per-merge measurement")
    try:
        stats = {}
        merges = learn_bpe_batched(counts, num_merges=16, max_batch=8, stats=stats)
        jobs = len(sc.statusTracker().getJobIdsForGroup("bpe-batched-measure"))
    finally:
        sc.setJobGroup(None, None)
    assert len(merges) == 16
    assert stats["rounds"] < len(merges), stats
    assert jobs / len(merges) < 1.0, (jobs, len(merges))
    sc.setJobGroup("bpe-serial-measure", "serial comparison")
    try:
        serial = learn_bpe(counts, num_merges=16)
        jobs_serial = len(sc.statusTracker().getJobIdsForGroup("bpe-serial-measure"))
    finally:
        sc.setJobGroup(None, None)
    # the batched result is still the exact serial result, at a
    # fraction of the driver-coordinated jobs
    assert merges == serial
    assert jobs_serial / len(serial) >= 1.0  # serial's floor, for contrast
    assert jobs < jobs_serial


def test_learn_bpe_replay_sql_min_pair_count(spark):
    """ADVICE r8 item 1: the DuckDB replay takes the learners'
    ``min_pair_count`` — at threshold 2 it stops where they stop
    (missing rows replay the early stop), and the default (1) is
    byte-identical to the pre-parameter SQL q144 hashed."""
    import duckdb

    from ironman_medallion_lakehouse_spark.operators.vocab import (
        learn_bpe_replay_sql,
    )

    # 'ab' twice, 'cd' once: at threshold 2 only (a,b) [4], (ab,</w>)
    # [2] survive; the serial loop then stops — (c,d) etc. count 1
    vocab = {"ab": 2, "cd": 1}
    counts_sql = (
        "SELECT unnest(['ab','cd']) AS word, unnest([2,1]) AS n"
    )
    for mpc in (1, 2):
        sql = learn_bpe_replay_sql(counts_sql, 6, min_pair_count=mpc)
        got = [(a, b) for _, a, b in duckdb.connect().execute(sql).fetchall()]
        want = _py_serial_bpe(vocab, 6, min_pair_count=mpc)
        assert got == want, (mpc, got, want)
    assert len(_py_serial_bpe(vocab, 6, min_pair_count=2)) < len(
        _py_serial_bpe(vocab, 6, min_pair_count=1)
    )  # the threshold actually bites in this corpus
    assert learn_bpe_replay_sql(counts_sql, 3) == learn_bpe_replay_sql(
        counts_sql, 3, min_pair_count=1
    )


def test_batched_equals_serial_on_more_random_corpora(spark):
    """Extended property sweep: more seeds and a two-letter alphabet
    (maximal sharing + product collisions) — the batched learner must
    stay EXACTLY serial."""
    import random

    from ironman_medallion_lakehouse_spark.operators.vocab import learn_bpe_batched

    for seed in range(6, 12):
        rng = random.Random(seed)
        alpha = "ab" if seed % 2 else "abc"
        vocab = {}
        for _ in range(12):
            w = "".join(rng.choice(alpha) for _ in range(rng.randint(1, 6)))
            vocab[w] = vocab.get(w, 0) + rng.randint(1, 9)
        df = spark.createDataFrame(
            [(w, n) for w, n in vocab.items()], "word string, n long"
        )
        want = _py_serial_bpe(vocab, 12, min_pair_count=1)
        got = learn_bpe_batched(df, num_merges=12, min_pair_count=1, max_batch=6)
        assert got == want, f"seed {seed}: {got} != {want}"


def test_apply_bpe_matches_sequential_semantics(spark):
    """apply_bpe's output equals the plain sequential greedy
    application of the ordered merge list (pure-Python reference) on
    REAL learned lists, whose merges chain (es -> est) and cross the
    checkpoint cadence."""
    import random

    from ironman_medallion_lakehouse_spark.operators.vocab import END, learn_bpe

    def py_apply(word, merges):
        syms = list(word) + [END]
        for a, b in merges:
            out = []
            for s in syms:
                if out and out[-1] == a and s == b:
                    out[-1] = a + b
                else:
                    out.append(s)
            syms = out
        return syms

    for seed in range(4):
        rng = random.Random(seed)
        vocab = {}
        for _ in range(20):
            w = "".join(rng.choice("abcd") for _ in range(rng.randint(2, 6)))
            vocab[w] = vocab.get(w, 0) + rng.randint(1, 9)
        counts = spark.createDataFrame(
            [(w, n) for w, n in vocab.items()], "word string, n long"
        )
        merges = learn_bpe(counts, 12, min_pair_count=1)
        doc_words = rng.sample(list(vocab), min(8, len(vocab)))
        doc = spark.createDataFrame(
            [(1, " ".join(doc_words))], "doc_id long, text string"
        )
        got = apply_bpe(doc, merges).collect()[0]
        want = [t for w in doc_words for t in py_apply(w, merges)]
        assert got.tokens == want, (seed, merges)
        assert got.n_tokens == len(want)
