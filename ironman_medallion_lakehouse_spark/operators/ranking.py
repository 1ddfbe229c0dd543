"""Full-text relevance ranking over the documents table — BM25.

Beyond-reference extension (BASELINE.json north star: text analysis a
training-data pipeline needs). BM25 (Robertson et al., TREC-3) is the
standard lexical retrieval scorer: for query terms Q and document d,

    score(d) = Σ_{t∈Q} idf(t) · tf(t,d)·(k1+1)
                        / (tf(t,d) + k1·(1 − b + b·dl(d)/avgdl))
    idf(t)   = ln(1 + (N − df(t) + ½) / (df(t) + ½))

100 TB design: the query term set is tiny (a handful of literals), so
nothing explodes — pass 1 computes the corpus statistics (N, Σdl,
df per term) as ONE map-side-combined aggregate row, pass 2 broadcasts
that row and scores every document in a single map-only stage. Per-doc
term frequencies are `size(filter(tokens, x -> x = term))` over a
let-bound token array (the SCALING.md HOF discipline: the split runs
once per row, each term scan is an O(dl) variable read). No Python,
no shuffle beyond the one-row stats aggregate.

Determinism for the cross-engine oracle: all scorer inputs (tf, dl,
df, N) are integers, avgdl enters as the exact rational Σdl/N, and the
only transcendental is the final ln on |Q| distinct idf inputs — so
scores are reproducible bit-for-bit across partitionings, and the
oracle compares them rounded to 4 decimals.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ironman_medallion_lakehouse_spark.functions.text import _let, words


def bm25_scores(
    docs: DataFrame,
    terms: list[str],
    text_col: str = "text",
    id_col: str = "doc_id",
    k1: float = 1.2,
    b: float = 0.75,
) -> DataFrame:
    """(id, dl, score) for every document with ≥1 token, scored against
    the fixed query ``terms``. See module docstring for the plan shape."""
    toks = words(text_col)

    def _eq(term: str):
        # closure factory, NOT default-arg capture: PySpark dispatches
        # HOF arity on the full parameter list, so `lambda x, t=...:`
        # would be called as filter's 2-arg (element, index) form
        return lambda x: x == F.lit(term)

    def tf_cols(bound_toks: Column) -> Column:
        return F.struct(
            # bigint: cross-engine comparands (DuckDB len()) are int64
            F.size(bound_toks).cast("bigint").alias("dl"),
            *[
                F.size(F.filter(bound_toks, _eq(t))).alias(f"tf_{i}")
                for i, t in enumerate(terms)
            ],
        )

    per_doc = docs.filter(F.size(toks) > 0).select(
        F.col(id_col), _let(toks, tf_cols).alias("s")
    ).select(F.col(id_col), "s.*")

    stats = per_doc.agg(
        F.count(F.lit(1)).alias("N"),
        F.sum("dl").alias("sum_dl"),
        *[F.sum((F.col(f"tf_{i}") > 0).cast("long")).alias(f"df_{i}") for i in range(len(terms))],
    )

    scored = per_doc.crossJoin(F.broadcast(stats))
    # avgdl as the exact rational sum_dl/N; idf over integer df — every
    # scorer input is deterministic, so the double math is too
    avgdl = F.col("sum_dl").cast("double") / F.col("N").cast("double")
    n = F.col("N").cast("double")

    def term_score(i: int) -> Column:
        tf = F.col(f"tf_{i}").cast("double")
        df = F.col(f"df_{i}").cast("double")
        idf = F.log(F.lit(1.0) + (n - df + F.lit(0.5)) / (df + F.lit(0.5)))
        denom = tf + F.lit(k1) * (F.lit(1.0 - b) + F.lit(b) * F.col("dl").cast("double") / avgdl)
        return idf * tf * F.lit(k1 + 1.0) / denom

    total = term_score(0)
    for i in range(1, len(terms)):
        total = total + term_score(i)
    return scored.select(F.col(id_col), F.col("dl"), total.alias("score"))


def unigram_logprob_scores(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Per-document mean unigram log-probability under the corpus's own
    unigram model — the CCNet-style language-model filter proxy: docs
    full of rare/garbage tokens score low, fluent ones high; a
    threshold on this score is the classic perplexity-bucket split.

    (id, n_tokens, mean_logprob), mean_logprob = avg over tokens of
    ln(count(tok)/N). Plan: one explode+count for the unigram table
    (map-side combined; vocabulary-sized output, not corpus-sized), a
    hash join attaching counts back to the token stream (probe-side
    frequency skew is harmless — the build side has one row per
    token), one grouped aggregation per doc. Determinism: ln values
    are rounded into DECIMAL(18,4) before summing (the repo's
    dsum/davg policy), so the mean — the exact decimal sum cast to
    double, divided by the count, with NO further rounding — is
    independent of partitioning and reproduces bit-exactly in the
    DuckDB oracle."""
    from ironman_medallion_lakehouse_spark.suite import dsum

    tf = docs.select(F.col(id_col), F.explode(words(text_col)).alias("tok"))
    counts = tf.groupBy("tok").agg(F.count(F.lit(1)).alias("cnt"))
    total = counts.agg(F.sum("cnt").alias("n_total"))
    lp = F.log(F.col("cnt").cast("double") / F.col("n_total").cast("double"))
    return (
        tf.join(counts, "tok")
        .crossJoin(F.broadcast(total))
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            dsum(lp, "sum_lp"),
        )
        .select(
            F.col(id_col),
            F.col("n_tokens"),
            # no final round: sum_lp is the EXACT decimal sum cast to
            # double, so double-division by the bigint count is one
            # IEEE op — identical on any engine. A round here would
            # reintroduce engine-dependent half-boundary behavior
            # (r11: ROUND(-3.42925, 4) split spark/duckdb at sf0.001)
            (F.col("sum_lp") / F.col("n_tokens")).alias("mean_logprob"),
        )
    )


def bigram_logprob_scores(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    alpha: float = 0.4,
) -> DataFrame:
    """Per-document mean BIGRAM log-probability with stupid backoff —
    the practical upgrade of ``unigram_logprob_scores`` toward how
    LM-quality filtering is actually run (Brants et al. 2007, "Large
    Language Models in Machine Translation": at web scale, unsmoothed
    relative frequencies with a fixed backoff penalty match Kneser-Ney
    within noise and need no discount fitting):

        S(w_i | w_{i-1}) = c(w_{i-1} w_i) / c(w_{i-1})   if bigram seen
                         = alpha * c(w_i) / N             otherwise
        (document-initial token scores c(w_1)/N)

    A doc of individually-common but incoherently-ordered tokens now
    scores LOW (every bigram backs off and pays ln(alpha)) where the
    unigram filter is blind — word-salad spam is exactly this case.
    Denominator note: the context count is the plain unigram count
    (including document-final occurrences) — the standard stupid-
    backoff shortcut; scores are NOT probabilities (they need not sum
    to 1 over w_i), which is the documented trade the method makes.

    (id, n_tokens, mean_logprob) with mean over ALL tokens. The counts
    are trained on ``docs`` itself, like the unigram filter, so no
    token is out of vocabulary.

    Plan: counts are VOCABULARY-sized grouped aggregates (unigram +
    bigram tables, map-side combined); the token stream attaches them
    by equi-join (build sides are one row per (bi)gram; probe-side
    frequency skew is harmless) and one grouped aggregation per doc.
    The bigram pair stream is built by one ``transform`` over the
    LET-BOUND token array (interpreted HOFs re-evaluate outer
    expressions per element — the r3 lesson), then exploded.
    Determinism: per-token ln values round into DECIMAL(18,4) before
    the order-free sum (the dsum policy), replaying engine-exact."""
    from ironman_medallion_lakehouse_spark.suite import dsum

    # array_remove: split("") yields [""] and whitespace-only text
    # yields ["", ""] — strip the empty tokens so blank docs read as
    # zero-token (matching str.split() semantics in the replay)
    tr = docs.select(F.array_remove(words(text_col), "").alias("ws"))
    uni = (
        tr.select(F.explode("ws").alias("tok"))
        .groupBy("tok")
        .agg(F.count(F.lit(1)).alias("c_tok"))
    )
    total = uni.agg(F.sum("c_tok").alias("n_total"))
    # size >= 2 guard is load-bearing: sequence(2, size) STEPS DOWN
    # when size < 2 (Spark auto-negates the step), generating index 0
    bi = (
        tr.filter(F.size("ws") >= 2)
        .select(
            F.explode(
                F.expr(
                    "transform(sequence(2, size(ws)),"
                    " i -> struct(element_at(ws, i - 1) AS prev,"
                    "             element_at(ws, i) AS cur))"
                )
            ).alias("bg")
        )
        .groupBy(F.col("bg.prev").alias("prev"), F.col("bg.cur").alias("cur"))
        .agg(F.count(F.lit(1)).alias("c_bi"))
    )
    # score stream: document-initial token as (prev NULL), the rest as
    # (prev, cur) pairs from the same let-bound array
    d = docs.select(
        F.col(id_col), F.array_remove(words(text_col), "").alias("ws")
    ).filter(F.size("ws") > 0)
    stream = d.select(
        F.col(id_col),
        F.explode(
            F.expr(
                "transform(sequence(1, size(ws)),"
                " i -> struct(CASE WHEN i > 1 THEN element_at(ws, i - 1) END AS prev,"
                "             element_at(ws, i) AS cur))"
            )
        ).alias("t"),
    ).select(id_col, F.col("t.prev").alias("prev"), F.col("t.cur").alias("cur"))
    joined = (
        stream.join(uni.withColumnRenamed("tok", "cur"), "cur", "left")
        .join(
            uni.select(
                F.col("tok").alias("prev"), F.col("c_tok").alias("c_prev")
            ),
            "prev",
            "left",
        )
        .join(bi, ["prev", "cur"], "left")
        .crossJoin(F.broadcast(total))
    )
    p_uni = F.col("c_tok").cast("double") / F.col("n_total").cast("double")
    lp = (
        F.when(
            F.col("c_bi").isNotNull(),
            F.log(F.col("c_bi").cast("double") / F.col("c_prev").cast("double")),
        )
        .when(F.col("prev").isNotNull(), F.log(F.lit(float(alpha)) * p_uni))
        .otherwise(F.log(p_uni))
    )
    return (
        joined.groupBy(id_col)
        .agg(F.count(F.lit(1)).alias("n_tokens"), dsum(lp, "sum_lp"))
        .select(
            F.col(id_col),
            F.col("n_tokens"),
            # no final round: sum_lp is the EXACT decimal sum cast to
            # double, so double-division by the bigint count is one
            # IEEE op — identical on any engine. A round here would
            # reintroduce engine-dependent half-boundary behavior
            # (r11: ROUND(-3.42925, 4) split spark/duckdb at sf0.001)
            (F.col("sum_lp") / F.col("n_tokens")).alias("mean_logprob"),
        )
    )


def bm25_topk(
    docs: DataFrame,
    terms: list[str],
    k: int = 20,
    text_col: str = "text",
    id_col: str = "doc_id",
    k1: float = 1.2,
    b: float = 0.75,
) -> DataFrame:
    """Top-k BM25 hits, deterministically tie-broken by id — plans as
    TakeOrderedAndProject (per-partition heaps, no global sort)."""
    scored = bm25_scores(docs, terms, text_col, id_col, k1=k1, b=b)
    return (
        scored.select(
            F.col(id_col), F.col("dl"), F.round(F.col("score"), 4).alias("score")
        )
        .orderBy(F.col("score").desc(), F.col(id_col))
        .limit(k)
    )


def rrf_fuse(
    rankings: list[DataFrame],
    id_col: str = "doc_id",
    rank_col: str = "rnk",
    k: int = 60,
    topk: int | None = None,
) -> DataFrame:
    """Reciprocal-rank fusion (Cormack, Clarke & Büttcher, SIGIR'09) of
    any number of (id, rank) lists — the standard way to combine a
    lexical ranker (BM25) with a dense/ANN ranker without score
    calibration:  rrf(d) = Σ_systems 1/(k + rank_system(d)).

    Output: (id, n_systems, rrf_score) ordered by (score desc, id),
    optionally truncated to ``topk``. Each contribution 1/(k+int) is
    rounded into DECIMAL(18,12) BEFORE the sum (the repo's dsum
    discipline at higher precision — rank gaps at k=60 differ in the
    5th decimal, so 12 digits preserves every distinction), making the
    fused score independent of accumulation order across systems and
    partitions; the final score is that exact decimal sum cast to
    double UNROUNDED (r13 — the scaled sum of ≤ a few thousand
    sub-unity contributions fits the mantissa, so the cast is
    engine-exact).

    100 TB design: each input is already a top-k list (thousands of
    rows at most — the expensive part happened inside the rankers), so
    the union + groupBy is trivially small; the op itself adds one
    tiny shuffle. The fused list inherits the determinism of its
    inputs (both repo rankers tie-break by id)."""
    tagged = [
        r.select(
            F.col(id_col),
            (F.lit(1.0) / (F.lit(float(k)) + F.col(rank_col).cast("double")))
            .cast("decimal(18,12)")
            .alias("contrib"),
        )
        for r in rankings
    ]
    unioned = tagged[0]
    for t in tagged[1:]:
        unioned = unioned.unionByName(t)
    fused = unioned.groupBy(id_col).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_systems"),
        F.sum("contrib").cast("double").alias("rrf_score"),
    )
    out = fused.orderBy(F.col("rrf_score").desc(), F.col(id_col))
    return out.limit(topk) if topk else out
