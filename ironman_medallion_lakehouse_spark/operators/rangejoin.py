"""Binned range join: interval/temporal-proximity joins at scale.

A naive range join (``l.ts BETWEEN r.ts - w AND r.ts + w``) is a
cartesian product with a filter — O(n·m) and a broadcast-nested-loop
plan. The standard distributed rewrite bins both sides into
fixed-width buckets on the range dimension:

1. left rows land in their bucket; right rows are replicated into
   every bucket their window overlaps (≤ 2 buckets when bin width ≥
   window width);
2. the bucket id becomes an **equi**-join key (hash join, shuffle on
   uniform keys);
3. the exact range predicate re-filters the candidate pairs.

Cost drops from O(n·m) to O(n + m + true_pairs), with ×2 replication
of the right side. This is the same trick behind interval joins in
stream processors and genomics overlap joins.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def range_join_within(
    left: DataFrame,
    right: DataFrame,
    on: list[str],
    left_ts: str,
    right_ts: str,
    window_seconds: int,
) -> DataFrame:
    """Inner-join left×right on equal ``on`` keys where
    ``|left_ts - right_ts| <= window_seconds``.

    Bin width = window width, so each right row replicates into at
    most 2 adjacent buckets (its own and one neighbor each side
    collapses to 2 distinct bins after floor division). Output keeps
    all left and right columns (right ts column must be distinctly
    named)."""
    w = int(window_seconds)
    lsec = F.col(left_ts).cast("long")
    rsec = F.col(right_ts).cast("long")

    lb = left.withColumn("_bin", F.floor(lsec / w))
    rb = right.withColumn(
        "_bin", F.explode(F.array(F.floor(rsec / w) - 1, F.floor(rsec / w), F.floor(rsec / w) + 1))
    )
    joined = lb.join(rb, [*on, "_bin"], "inner").drop("_bin")
    exact = (
        F.abs(F.col(left_ts).cast("long") - F.col(right_ts).cast("long")) <= w
    )
    # no dedup needed: a left row lives in exactly one bin and the right
    # row's three replica bins are distinct, so each qualifying pair
    # meets in exactly one bucket
    return joined.filter(exact)


def interval_overlap_join(
    left: DataFrame,
    right: DataFrame,
    on: list[str],
    left_start: str,
    left_end: str,
    right_start: str,
    right_end: str,
    bin_seconds: int,
) -> DataFrame:
    """Interval × interval OVERLAP join (closed intervals):
    pairs where l_start ≤ r_end AND r_start ≤ l_end, equi-scoped by
    ``on`` — the span-vs-span θ shape (concurrent sessions, log spans,
    reservation conflicts) that ``range_join_within``'s point-vs-window
    rewrite cannot express.

    Rewrite: each interval is replicated to every ``bin_seconds``
    bucket it touches (sequence + explode — replication factor
    ⌈span/bin⌉+1), the θ-join becomes an equi-join on (on…, bin), and
    a distinct collapses pairs that meet in several buckets before the
    exact predicate filters. Cost O(n·spans/bin + candidate pairs),
    never O(n·m). Pick ``bin_seconds`` near the TYPICAL span: bins ≫
    span inflate candidates (everything in one bucket — degenerate at
    bin → ∞), bins ≪ span inflate replication (degenerate at bin → 0);
    the optimum balances replication ≈ candidates, and span-quantile
    stats (ANALYZE / KLL, q86/q82) give it without guesswork.

    Start/end columns must be epoch seconds (BIGINT) — cast/floor
    timestamps explicitly at the call site so engines agree on the
    integer (double→int truncation vs rounding is an engine
    divergence; floor() is not).

    Output: left columns + right columns (names must be disjoint).
    Each side's rows must be unique (carry an id column): the
    post-join distinct that collapses multi-bucket meets would also
    collapse pairs arising from fully-duplicate input rows.
    Empty/negative spans (end < start) match nothing."""
    b = int(bin_seconds)
    ls, le = F.col(left_start), F.col(left_end)
    rs, re_ = F.col(right_start), F.col(right_end)
    # filter BEFORE the explode: sequence(start, stop) with stop < start
    # generates a DESCENDING sequence (step -1), so a negative span
    # would silently replicate into wrong bins instead of vanishing
    lb = left.filter(ls <= le).withColumn(
        "_bin",
        F.explode(F.sequence(F.floor(ls / b), F.floor(le / b))),
    )
    rb = right.filter(rs <= re_).withColumn(
        "_bin",
        F.explode(F.sequence(F.floor(rs / b), F.floor(re_ / b))),
    )
    joined = (
        lb.join(rb, [*on, "_bin"])
        .drop("_bin")
        .distinct()  # pairs meeting in >1 shared bucket collapse
    )
    overlap = (F.col(left_start) <= F.col(right_end)) & (
        F.col(right_start) <= F.col(left_end)
    )
    return joined.filter(overlap)
