"""bigram_logprob_scores (operators/ranking): stupid-backoff bigram
LM filter. Pins: equality with a pure-Python replay (counts, backoff,
initial-token unigram, DECIMAL(18,4) per-token rounding), the
word-salad separation the unigram filter is blind to, and empty-doc
exclusion."""

from __future__ import annotations

import math
from decimal import Decimal, ROUND_HALF_UP

import pytest
from pyspark.sql import Row

from ironman_medallion_lakehouse_spark.operators.ranking import (
    bigram_logprob_scores,
    unigram_logprob_scores,
)

ALPHA = 0.4


def _py_scores(texts, alpha=ALPHA):
    """Self-trained scores of ``texts``, as the operator computes them."""
    toks = [t.split() for t in texts]
    uni, bi, n = {}, {}, 0
    for ws in toks:
        for w in ws:
            uni[w] = uni.get(w, 0) + 1
            n += 1
        for a, b in zip(ws, ws[1:]):
            bi[(a, b)] = bi.get((a, b), 0) + 1

    def r4(x):
        return Decimal(repr(x)).quantize(Decimal("0.0001"), rounding=ROUND_HALF_UP)

    out = []
    for text in texts:
        ws = text.split()
        if not ws:
            out.append(None)
            continue
        s = Decimal(0)
        for i, w in enumerate(ws):
            cw = uni[w]
            if i == 0:
                lp = math.log(cw / n)
            elif (ws[i - 1], w) in bi:
                lp = math.log(bi[(ws[i - 1], w)] / uni[ws[i - 1]])
            else:
                lp = math.log(alpha * cw / n)
            s += r4(lp)
        out.append(round(float(s) / len(ws), 4))
    return out


def _docs(spark, texts, start=0):
    return spark.createDataFrame(
        [Row(doc_id=start + i, text=t) for i, t in enumerate(texts)]
    )


TRAIN = [
    "the quick brown fox jumps over the lazy dog",
    "the quick brown cat sleeps",
    "a lazy dog sleeps all day",
    "the dog jumps and the cat jumps",
]


def test_matches_python_replay_self_trained(spark):
    got = {
        r.doc_id: (r.n_tokens, r.mean_logprob)
        for r in bigram_logprob_scores(_docs(spark, TRAIN)).collect()
    }
    want = _py_scores(TRAIN)
    assert len(got) == len(TRAIN)
    for i, t in enumerate(TRAIN):
        assert got[i][0] == len(t.split())
        assert got[i][1] == pytest.approx(want[i], abs=2e-4), f"doc {i}"


def test_word_salad_scores_below_fluent_where_unigram_is_blind(spark):
    """Same multiset of tokens, scrambled order: the unigram filter
    gives both docs an IDENTICAL score; the bigram filter separates
    them — the motivating spam case."""
    fluent = "the quick brown fox jumps over the lazy dog"
    salad = "dog the over quick lazy jumps the fox brown"
    corpus = _docs(spark, TRAIN)
    both = _docs(spark, [fluent, salad], start=100)
    u = {r.doc_id: r.mean_logprob for r in unigram_logprob_scores(
        both.unionByName(corpus.select("doc_id", "text"))
    ).collect()}
    assert u[100] == u[101]  # unigram blind to order
    b = {r.doc_id: r.mean_logprob for r in bigram_logprob_scores(
        both.unionByName(corpus.select("doc_id", "text"))
    ).collect()}
    assert b[100] > b[101] + 0.3  # bigram separates decisively


def test_empty_docs_excluded(spark):
    df = _docs(spark, ["the quick fox", "", "   "], start=0)
    rows = bigram_logprob_scores(df).collect()
    assert [r.doc_id for r in rows] == [0]
