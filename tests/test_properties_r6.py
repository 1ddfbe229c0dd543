"""Hypothesis property tests for the round-6 operators — the
arithmetic-dense surfaces where off-by-one interval, clamp, and
zero-cell bugs live. Each property checks the Spark operator against
an independent pure-Python reference computation."""

from __future__ import annotations

import hashlib

from hypothesis import given, settings
from hypothesis import strategies as st
from pyspark.sql import Row
from pyspark.sql import functions as F


def _uhash_py(key, salt: str) -> int:
    h = hashlib.md5(f"{key}:{salt}".encode()).hexdigest()[:8]
    return int(h, 16) % 1_000_000


@settings(max_examples=8, deadline=None)
@given(
    st.lists(st.integers(0, 10_000), min_size=1, max_size=40, unique=True),
    st.sampled_from(
        [
            {"train": 0.8, "val": 0.1, "test": 0.1},
            {"a": 0.5, "b": 0.5},
            {"x": 0.25, "y": 0.25, "z": 0.25, "w": 0.25},
            {"big": 0.999, "tiny": 0.001},
        ]
    ),
)
def test_hash_split_matches_interval_reference(spark, keys, splits):
    """Property: every key lands in the split whose cumulative md5
    interval contains uhash(key) — replicated independently in pure
    Python."""
    from ironman_medallion_lakehouse_spark.operators.sampling import hash_split

    df = spark.createDataFrame([(k,) for k in keys], "doc_id long")
    got = {r.doc_id: r.split for r in hash_split(df, "doc_id", splits).collect()}

    names = list(splits)
    bounds = []
    cum = 0.0
    for n in names[:-1]:
        cum += splits[n]
        bounds.append((int(round(cum * 1_000_000)), n))
    for k in keys:
        h = _uhash_py(k, "split")
        expect = names[-1]
        for bound, n in bounds:
            if h < bound:
                expect = n
                break
        assert got[k] == expect, (k, h, got[k], expect)
    assert len(got) == len(keys)


@settings(max_examples=8, deadline=None)
@given(
    st.lists(
        st.tuples(st.integers(0, 100), st.integers(-50, 50)),
        min_size=1,
        max_size=15,
        unique_by=lambda t: t[0],
    ),
    st.integers(10, 90),
)
def test_twap_matches_clamped_reference(spark, obs, end_offset):
    """Property: TWAP equals the pure-Python clamped-interval
    computation for any observation set and window end (including ends
    before, inside, and after the observation span)."""
    from datetime import datetime, timedelta

    from ironman_medallion_lakehouse_spark.operators.timeseries import (
        time_weighted_average,
    )

    base = datetime(2024, 1, 1)
    rows = [
        Row(event_id=i, user_id=1, ts=base + timedelta(seconds=t), value=float(v))
        for i, (t, v) in enumerate(obs)
    ]
    end = base + timedelta(seconds=end_offset)
    out = time_weighted_average(
        spark.createDataFrame(rows),
        "value",
        end.strftime("%Y-%m-%d %H:%M:%S"),
        ["user_id"],
    ).collect()[0]

    seq = sorted(obs)
    e = end_offset
    num, den = 0.0, 0
    for j, (t, v) in enumerate(seq):
        nxt = seq[j + 1][0] if j + 1 < len(seq) else e
        dur = max(min(nxt, e) - min(t, e), 0)
        num += float(v) * dur
        den += dur
    assert out.n_obs == len(obs)
    if den == 0:
        assert out.twap is None
    else:
        assert abs(out.twap - num / den) < 1e-6


@settings(max_examples=8, deadline=None)
@given(
    st.lists(
        st.tuples(st.integers(0, 2), st.integers(0, 2), st.integers(1, 30)),
        min_size=2,
        max_size=9,
    )
)
def test_chisquare_matches_full_grid_reference(spark, cells):
    """Property: chi2 equals the pure-Python full-grid Σ (O−E)²/E —
    including E-only terms for (row, col) combinations with zero
    observations — for arbitrary sparse contingency data."""
    from collections import Counter

    from ironman_medallion_lakehouse_spark.operators.experiment import (
        chi_square_independence,
    )

    rows = []
    counts = Counter()
    for r_, c_, n in cells:
        rows += [Row(a=f"r{r_}", b=f"c{c_}")] * n
        counts[(f"r{r_}", f"c{c_}")] += n
    out = chi_square_independence(spark.createDataFrame(rows), "a", "b").collect()[0]

    rlab = sorted({r for r, _ in counts})
    clab = sorted({c for _, c in counts})
    n = sum(counts.values())
    rt = {r: sum(v for (rr, _), v in counts.items() if rr == r) for r in rlab}
    ct = {c: sum(v for (_, cc), v in counts.items() if cc == c) for c in clab}
    chi2 = 0.0
    for r in rlab:
        for c in clab:
            e = rt[r] * ct[c] / n
            o = counts.get((r, c), 0)
            chi2 += (o - e) ** 2 / e
    assert out.n == n
    assert out.dof == (len(rlab) - 1) * (len(clab) - 1)
    assert abs(out.chi2 - chi2) < 1e-4


@settings(max_examples=6, deadline=None)
@given(
    st.lists(
        st.tuples(st.integers(0, 3), st.integers(0, 12)),
        min_size=1,
        max_size=30,
    )
)
def test_pairwise_overlap_matches_set_reference(spark, pairs):
    """Property: exact pairwise intersection/union/jaccard equal pure
    Python set arithmetic over any (group, item) multiset, including
    groups with zero overlap and duplicate items."""
    from ironman_medallion_lakehouse_spark.operators.sketches import pairwise_overlap

    df = spark.createDataFrame(
        [(f"g{g}", f"i{i}") for g, i in pairs], "g string, i string"
    )
    got = {
        (r.src_a, r.src_b): (r.n_a, r.n_b, r.n_inter, r.union_size)
        for r in pairwise_overlap(df, "g", "i").collect()
    }
    sets: dict[str, set] = {}
    for g, i in pairs:
        sets.setdefault(f"g{g}", set()).add(f"i{i}")
    groups = sorted(sets)
    expect = {}
    for x in range(len(groups)):
        for y in range(x + 1, len(groups)):
            a, b = groups[x], groups[y]
            inter = len(sets[a] & sets[b])
            expect[(a, b)] = (
                len(sets[a]),
                len(sets[b]),
                inter,
                len(sets[a]) + len(sets[b]) - inter,
            )
    assert got == expect


# ---------------------------------------------------------- r7c: BPE


def _bpe_py(word: str, merges) -> list[str]:
    """Pure-Python greedy left-to-right merge fold — the independent
    reference for operators/vocab._merge_fold."""
    syms = list(word) + ["</w>"]
    for a, b in merges:
        out: list[str] = []
        for s in syms:
            if out and out[-1] == a and s == b:
                out[-1] = a + b
            else:
                out.append(s)
        syms = out
    return syms


@settings(max_examples=8, deadline=None)
@given(
    st.lists(
        st.text(alphabet="abcdr", min_size=1, max_size=6),
        min_size=1,
        max_size=8,
    ),
    st.lists(
        st.tuples(
            st.sampled_from(["a", "b", "c", "d", "r", "ab", "ra"]),
            st.sampled_from(["a", "b", "c", "d", "r", "</w>"]),
        ),
        min_size=0,
        max_size=4,
    ),
)
def test_bpe_fold_matches_python_reference(spark, words, merges):
    """Properties: (1) the Spark fold equals an independent pure-Python
    greedy fold for ANY word/merge combination — incl. merges whose
    left side is itself a merge product; (2) concatenating the tokens
    and stripping end markers reconstructs the input exactly (the fold
    never loses, duplicates, or reorders characters)."""
    from ironman_medallion_lakehouse_spark.operators.vocab import bpe_tokens_expr

    # build merges list where later merges may reference earlier
    # products ("ab", "ra") — the chained-merge regime
    text = " ".join(words)
    df = spark.createDataFrame([(text,)], "text string")
    got = df.select(bpe_tokens_expr(F.col("text"), merges).alias("t")).collect()[0].t
    want = [tok for w in words for tok in _bpe_py(w, merges)]
    assert got == want
    assert "".join(got).replace("</w>", " ").rstrip() == " ".join(words)
