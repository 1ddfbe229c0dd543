"""Mergeable sketches (Apache DataSketches HLL/KLL/Theta, exposed by
Spark 4's built-in functions) — the 100 TB pattern for COUNT(DISTINCT),
quantiles, and set-overlap questions.

An exact grouped countDistinct shuffles every distinct value; at
corpus scale a DISTINCT-heavy dashboard re-shuffles terabytes per
refresh. Sketches change the shape of the problem:

- ``distinct_sketches`` aggregates each fine-grained group to a
  KB-sized HLL sketch ONCE (one shuffle over the raw data, ever);
- ``rollup_distinct`` answers any coarser grouping by merging the
  stored sketches (``hll_union_agg``) — a shuffle over sketch rows,
  not raw rows, typically 10^6× smaller;
- estimates hold a ~2% standard error at lgConfigK=12 (the Spark
  default). Union preserves the error bound (it does not compound —
  merging is sketch algebra, not an approximation of an
  approximation), though DataSketches' sparse→dense mode transitions
  mean a union's estimate may differ from a direct build's by a
  within-bound epsilon.

This is the precomputed-rollup companion to the serving catalog: store
per-(day, country) sketches in a TableStore table, answer per-day /
per-country / global distinct users by union — never touching the
fact table again. DataSketches estimates are engine-specific, so their
driver row (q82) uses the tolerance-boolean protocol beside
hash-matched exact columns; the Count-Min family below is
deterministic md5 arithmetic, so its row (q88) hash-matches estimates
outright. Merge-consistency and error bounds are pytest-asserted for
all five families (the Bloom membership family below is r5).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def distinct_sketches(
    df: DataFrame, group_cols: list[str], value_col: str, lg_k: int = 12
) -> DataFrame:
    """Per-group HLL sketches of value_col: (group_cols..., hll binary).
    One shuffle on group_cols; each group reduces to ≤ 2^lg_k bytes."""
    return df.groupBy(*group_cols).agg(
        F.hll_sketch_agg(value_col, F.lit(lg_k)).alias("hll")
    )


def rollup_distinct(
    sketches: DataFrame, rollup_cols: list[str]
) -> DataFrame:
    """Approximate distinct count at a coarser grain by UNIONING the
    stored sketches — input is sketch rows, never raw data."""
    grouped = (
        sketches.groupBy(*rollup_cols)
        if rollup_cols
        else sketches.groupBy()
    )
    return grouped.agg(
        F.hll_sketch_estimate(F.hll_union_agg("hll")).alias("approx_distinct")
    )


def quantile_sketches(
    df: DataFrame, group_cols: list[str], value_col: str, k: int = 200
) -> DataFrame:
    """Per-group KLL sketch of value_col (cast to double):
    (group_cols..., kll binary). Unlike percentile_approx results,
    these are STORABLE AND MERGEABLE — compute once at the fine grain,
    answer any coarser quantile question later without re-reading raw
    data. k=200 gives ~1.7% rank error (DataSketches default)."""
    return df.groupBy(*group_cols).agg(
        F.kll_sketch_agg_double(F.col(value_col).cast("double"), F.lit(k)).alias(
            "kll"
        )
    )


def rollup_quantiles(
    sketches: DataFrame, rollup_cols: list[str], probs: list[float]
) -> DataFrame:
    """Quantiles at a coarser grain by MERGING stored KLL sketches.

    Spark exposes kll merge only as a scalar 2-arg function (no merge
    aggregate), so the fold is collect_list + F.aggregate: first
    element seeds the fold, the rest merge pairwise. The collected
    array holds one ~KB sketch per FINE group inside each coarse
    group — bounded by the grain ratio (e.g. 365 day-sketches per
    year-row), never by raw data size. Output: one ``q_<prob>`` double
    column per requested rank."""
    grouped = (
        sketches.groupBy(*rollup_cols) if rollup_cols else sketches.groupBy()
    )
    merged = grouped.agg(F.collect_list("kll").alias("ks")).withColumn(
        "kll",
        F.when(
            F.size("ks") == 1, F.element_at("ks", 1)
        ).otherwise(
            F.aggregate(
                F.slice("ks", 2, F.size("ks") - 1),
                F.element_at("ks", 1),
                lambda acc, s: F.kll_sketch_merge_double(acc, s),
            )
        ),
    )
    qcols = [
        F.kll_sketch_get_quantile_double("kll", F.lit(p)).alias(
            f"q_{str(p).replace('.', '_')}"
        )
        for p in probs
    ]
    return merged.select(*rollup_cols, *qcols)


def theta_sketches(
    df: DataFrame, group_cols: list[str], value_col: str, lg_k: int = 12
) -> DataFrame:
    """Per-group Theta sketch of value_col: (group_cols..., theta
    binary). Theta sketches support the full set algebra (union,
    intersection, difference) — HLL only unions — so they answer
    overlap questions ('distinct users active in BOTH segments')
    from stored sketches."""
    return df.groupBy(*group_cols).agg(
        F.theta_sketch_agg(value_col, F.lit(lg_k)).alias("theta")
    )


def rollup_theta(
    sketches: DataFrame, rollup_cols: list[str], op: str = "union"
) -> DataFrame:
    """Distinct-count rollup over stored theta sketches.

    op='union' → distinct across the merged fine groups (same
    semantics as rollup_distinct); op='intersection' → distinct
    elements present in EVERY fine group of the coarse group
    (retention-style: 'users active on all 7 days of the week')."""
    if op == "union":
        agg = F.theta_union_agg("theta")
    elif op == "intersection":
        agg = F.theta_intersection_agg("theta")
    else:
        raise ValueError(f"op must be union|intersection, got {op!r}")
    grouped = (
        sketches.groupBy(*rollup_cols) if rollup_cols else sketches.groupBy()
    )
    return grouped.agg(F.theta_sketch_estimate(agg).alias("approx_distinct"))


# --------------------------------------------------------- count-min (r4)
#
# Frequency estimation — the fourth sketch family (HLL/Theta = distinct,
# KLL = quantiles, CMS = per-item counts). Unlike Misra-Gries /
# SpaceSaving heavy-hitter summaries, a Count-Min Sketch is
# ORDER-INDEPENDENT (pure hashed sums), so it is deterministic under any
# partitioning — replayable by a SQL oracle and safe under this repo's
# bit-determinism policy. Stored long-form as (group..., depth, cell,
# cnt) rows, a CMS is mergeable by plain GROUP BY + SUM: store the fine
# grain once, answer coarser frequency questions from sketch rows.

CMS_DEPTH, CMS_WIDTH = 4, 256


def _cms_cell(item, j: int, width: int):
    """Row j's hash cell for an item: first 15 md5 hex chars of
    (item ‖ '#cms' ‖ j) as BIGINT, mod width — engine-portable."""
    tagged = F.concat(item.cast("string"), F.lit(f"#cms{j}"))
    return (
        F.conv(F.substring(F.md5(tagged), 1, 15), 16, 10).cast("bigint")
        % F.lit(width)
    )


def cms_sketch(
    df: DataFrame,
    group_cols: list[str],
    item_col: str,
    depth: int = CMS_DEPTH,
    width: int = CMS_WIDTH,
) -> DataFrame:
    """Per-group Count-Min Sketch of item frequencies, long form:
    (group_cols..., depth, cell, cnt). One explode to depth rows per
    item + one skew-free aggregation; each group reduces to ≤
    depth·width counter rows regardless of item cardinality — the
    bounded-state property that makes token-frequency questions
    answerable at corpus scale without shuffling every distinct token."""
    rows = df.select(
        *group_cols,
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(j).alias("depth"),
                        _cms_cell(F.col(item_col), j, width).alias("cell"),
                    )
                    for j in range(depth)
                ]
            )
        ).alias("_dc"),
    )
    return rows.groupBy(*group_cols, "_dc.depth", "_dc.cell").agg(
        F.count(F.lit(1)).alias("cnt")
    )


def cms_rollup(sketch: DataFrame, rollup_cols: list[str]) -> DataFrame:
    """Coarser-grain CMS by summing counter rows — sketch-algebra
    merge, never touches raw data. Error bound (≤ N·e/width over-count
    with prob 1−e^−depth) carries over because merged counters equal
    the counters of a direct build on the union."""
    return sketch.groupBy(*rollup_cols, "depth", "cell").agg(
        F.sum("cnt").alias("cnt")
    )


def cms_estimate(
    sketch: DataFrame,
    items: list[str],
    depth: int = CMS_DEPTH,
    width: int = CMS_WIDTH,
) -> DataFrame:
    """Frequency estimates for a probe item list from a sketch:
    (item, est_count) with est = min over depth rows of the item's
    hashed cell, its counters summed over any group columns the sketch
    carries (the whole-corpus answer) — the classic CMS point query;
    always ≥ the true count, over by at most ~N/width in expectation.
    Probe cells are computed driver-side (items are literals), so the
    lookup is one filtered aggregation over counter rows."""
    import hashlib

    probes = []
    for it in items:
        for j in range(depth):
            h = hashlib.md5(f"{it}#cms{j}".encode()).hexdigest()[:15]
            probes.append((it, j, int(h, 16) % width))
    probe_df = sketch.sparkSession.createDataFrame(
        probes, "item string, depth int, cell bigint"
    )
    joined = sketch.join(F.broadcast(probe_df), ["depth", "cell"])
    # a probe row missing from the sketch means its cell count is 0 →
    # the min is 0; re-attach absent (item, depth) pairs via the full
    # probe grid before taking the min
    per_depth = joined.groupBy("item", "depth").agg(F.sum("cnt").alias("c"))
    grid = probe_df.select("item", "depth").distinct()
    full = grid.join(per_depth, ["item", "depth"], "left").select(
        "item", "depth", F.coalesce(F.col("c"), F.lit(0)).alias("c")
    )
    return full.groupBy("item").agg(F.min("c").alias("est_count"))


# Membership — the fifth sketch family (HLL/Theta = distinct, KLL =
# quantiles, CMS = per-item counts, Bloom = set membership). Spark 4
# does not SQL-register bloom_filter_agg, so the filter is built from
# pure Column math: k md5-derived bit positions per item, words OR-ed
# with the bit_or aggregate — order-independent, deterministic under
# any partitioning, replayable by a SQL oracle, and mergeable (bit_or
# of two blooms IS the bloom of the union). Stored long-form as
# (group..., word, mask): ≤ bits/32 rows per group regardless of item
# cardinality. 32 bits per BIGINT word keeps every shift < 32, so
# masks stay positive and identical in engines that differ on 63-bit
# shift overflow.

BLOOM_BITS, BLOOM_HASHES = 4096, 3
_BLOOM_WORD = 32


def _bloom_pos(item, i: int, bits: int):
    tagged = F.concat(item.cast("string"), F.lit(f"#bloom{i}"))
    return (
        F.conv(F.substring(F.md5(tagged), 1, 15), 16, 10).cast("bigint")
        % F.lit(bits)
    )


def _bloom_wordbit(item, i: int, bits: int):
    """(word, bit-mask) struct for hash i of an item. The mask is
    pow(2, pos%32) cast to BIGINT — exact for exponents < 32 (the
    reason for 32-bit words), and expressible as a Column exponent,
    which F.shiftleft (int-literal-only second arg) is not."""
    pos = _bloom_pos(item, i, bits)
    return F.struct(
        (pos / _BLOOM_WORD).cast("bigint").alias("word"),
        F.pow(F.lit(2.0), pos % _BLOOM_WORD).cast("bigint").alias("bit"),
    )


def bloom_sketch(
    df: DataFrame,
    group_cols: list[str],
    item_col: str,
    bits: int = BLOOM_BITS,
    hashes: int = BLOOM_HASHES,
) -> DataFrame:
    """Per-group Bloom filter of the item column, long form:
    (group_cols..., word, mask). One explode to ``hashes`` rows per
    item + one skew-free bit_or aggregation."""
    rows = df.select(
        *group_cols,
        F.explode(
            F.array(
                *[_bloom_wordbit(F.col(item_col), i, bits) for i in range(hashes)]
            )
        ).alias("_wb"),
    )
    return rows.groupBy(*group_cols, "_wb.word").agg(
        F.bit_or(F.col("_wb.bit")).alias("mask")
    )


def bloom_might_contain(
    sketch: DataFrame,
    probes: DataFrame,
    group_cols: list[str],
    item_col: str = "item",
    bits: int = BLOOM_BITS,
    hashes: int = BLOOM_HASHES,
) -> DataFrame:
    """Probe every item against every group's bloom:
    (group_cols..., item, maybe_present). ``maybe_present`` is false
    only for items definitely absent (no false negatives); false
    positives occur at the classic (1−e^{−kn/m})^k rate and are
    DETERMINISTIC (pure functions of the hashes), so an oracle replays
    them exactly. The probe side is exploded to (word, bit) rows and
    broadcast; a missing sketch word row means the bit is unset."""
    prows = probes.select(
        F.col(item_col).alias("item"),
        F.explode(
            F.array(
                *[_bloom_wordbit(F.col(item_col), i, bits) for i in range(hashes)]
            )
        ).alias("_wb"),
    ).select("item", "_wb.word", "_wb.bit")
    grid = sketch.select(*group_cols).distinct().crossJoin(F.broadcast(prows))
    joined = grid.join(sketch, [*group_cols, "word"], "left")
    hit = (F.coalesce(F.col("mask"), F.lit(0)).bitwiseAND(F.col("bit"))) != 0
    return joined.groupBy(*group_cols, "item").agg(
        F.bool_and(hit).alias("maybe_present")
    )


def cms_inner_product(sketch_a: DataFrame, sketch_b: DataFrame) -> DataFrame:
    """Join-size estimation from two Count-Min sketches built with the
    SAME depth/width/hashes (Cormode & Muthukrishnan §4.3): the inner
    product Σ_v cntA(v)·cntB(v) — which IS |A ⋈ B| when the sketched
    items are join keys — is estimated by min over depths of the
    cell-wise product sum. Always an overestimate (collisions only
    add), within ε·‖A‖₁·‖B‖₁ with the standard CMS guarantee.

    The planner use case at 100 TB: size a join between two tables
    from counter rows alone — depth·width numbers per side, no scan
    of either table at decision time (the stats sidecar can store the
    sketch per key column at write time; ANALYZE-grade info for join
    ordering and broadcast decisions beyond NDV).

    One row: (est_inner_product). Deterministic — pure hashed sums,
    so an oracle replays it bit-exactly."""
    a = sketch_a.select("depth", "cell", F.col("cnt").alias("_ca"))
    b = sketch_b.select("depth", "cell", F.col("cnt").alias("_cb"))
    per_depth = (
        a.join(b, ["depth", "cell"])
        .groupBy("depth")
        .agg(F.sum(F.col("_ca") * F.col("_cb")).alias("_ip"))
    )
    # empty side -> no matching cells -> empty per_depth: the inner
    # product of anything with the empty multiset is 0, not null
    return per_depth.agg(
        F.coalesce(F.min("_ip"), F.lit(0))
        .cast("bigint")
        .alias("est_inner_product")
    )


def bloom_filtered_join(
    big: DataFrame,
    small: DataFrame,
    big_key: str,
    small_key: str,
    bits: int = BLOOM_BITS,
    hashes: int = BLOOM_HASHES,
) -> DataFrame:
    """Runtime-filter join: build a Bloom filter of the SMALL side's
    join keys, embed its ≤ bits/32 words as a literal array, and
    PRE-FILTER the big side map-side — before the shuffle — so rows
    that cannot match never leave their scan stage. The explicit,
    engine-portable form of Spark's own runtime row-group filters,
    and the pattern that matters when the big side is 100 TB and the
    join keys hit 0.1% of it: the shuffle shrinks by the selectivity,
    the join result does not change AT ALL (false positives only let
    extra rows into the shuffle; the join itself drops them) — so a
    plain-join oracle certifies it.

    Driver state is the word array: bits/32 BIGINTs (4096 bits = 128
    words = 1 KB) — a bounded collect of an already-aggregated frame,
    the same order as any broadcast. The membership predicate is pure
    codegen Column math (md5 positions + array index + bitwiseAND).
    The join is inner: dropping non-matching big rows early preserves
    its result."""
    sk = bloom_sketch(small.select(F.col(small_key)), [], small_key, bits, hashes)
    words = {r.word: r.mask for r in sk.collect()}  # ≤ bits/32 rows
    arr = F.array(*[F.lit(int(words.get(w, 0))) for w in range(bits // _BLOOM_WORD)])
    pred = None
    for i in range(hashes):
        pos = _bloom_pos(F.col(big_key), i, bits)
        word_val = F.element_at(arr, (pos / _BLOOM_WORD).cast("int") + 1)
        bit = F.pow(F.lit(2.0), pos % _BLOOM_WORD).cast("bigint")
        c = word_val.bitwiseAND(bit) != 0
        pred = c if pred is None else pred & c
    pruned = big.filter(pred)
    return pruned.join(small, pruned[big_key] == small[small_key])


def pairwise_overlap(
    df: DataFrame,
    group_col: str,
    item_col: str,
    lg_k: int = 12,
    tolerance: float = 0.05,
) -> DataFrame:
    """Pairwise distinct-item overlap between every pair of groups —
    the corpus-planning view behind "how much does source A duplicate
    source B?" (dedup budgeting, mixture design, contamination
    triage). For each unordered pair (a < b):

    (src_a, src_b, n_a, n_b, n_inter, union_size, jaccard,
     theta_within_tol)

    Two arms, deliberately:
    - *exact*: distinct (group, item) self-joined on item — the
      verifiable truth, O(Σ per-item group-pair products). This is the
      oracle-checked arm.
    - *theta sketch*: one sketch per group (S rows), pairwise
      intersection estimated via ``theta_intersection_agg`` over
      exploded pair rows — S² tiny rows total, NO second pass over the
      data. ``theta_within_tol`` reports |est − exact| ≤ tol·exact
      (exact-mode sketches make it exact below 2^lg_k distinct items).

    100 TB story: the exact arm is the expensive one and exists to
    attest the sketch arm; production keeps only per-group sketches
    (mergeable, incrementally maintained at ingest — the q82 rollup
    contract) and answers every pairwise question from S² sketch
    operations without touching the corpus again."""
    items = df.select(F.col(group_col).alias("g"), F.col(item_col).alias("i")).distinct()
    items = items.localCheckpoint(eager=True)  # feeds sizes + both join sides
    sizes = items.groupBy("g").agg(F.count(F.lit(1)).alias("n"))
    a = items.select(F.col("g").alias("src_a"), "i")
    b = items.select(F.col("g").alias("src_b"), "i")
    inter = (
        a.join(b, "i")
        .filter(F.col("src_a") < F.col("src_b"))
        .groupBy("src_a", "src_b")
        .agg(F.count(F.lit(1)).alias("n_inter"))
    )
    # all pairs (even zero-overlap ones) from the tiny size frame
    pairs = (
        sizes.select(F.col("g").alias("src_a"), F.col("n").alias("n_a"))
        .crossJoin(
            F.broadcast(sizes.select(F.col("g").alias("src_b"), F.col("n").alias("n_b")))
        )
        .filter(F.col("src_a") < F.col("src_b"))
        .join(inter, ["src_a", "src_b"], "left")
        .withColumn("n_inter", F.coalesce(F.col("n_inter"), F.lit(0)))
    )
    exact = pairs.select(
        "src_a",
        "src_b",
        "n_a",
        "n_b",
        "n_inter",
        (F.col("n_a") + F.col("n_b") - F.col("n_inter")).alias("union_size"),
        # unrounded (r13): one IEEE divide of exact-integer doubles —
        # engine-exact, no round needed
        (
            F.col("n_inter").cast("double")
            / (F.col("n_a") + F.col("n_b") - F.col("n_inter")).cast("double")
        ).alias("jaccard"),
    )

    sk = theta_sketches(df, [group_col], item_col, lg_k=lg_k)
    sa = sk.select(F.col(group_col).alias("src_a"), F.col("theta").alias("ta"))
    sb = sk.select(F.col(group_col).alias("src_b"), F.col("theta").alias("tb"))
    pair_sk = sa.crossJoin(F.broadcast(sb)).filter(F.col("src_a") < F.col("src_b"))
    exploded = pair_sk.select(
        "src_a", "src_b", F.explode(F.array("ta", "tb")).alias("theta")
    )
    est = exploded.groupBy("src_a", "src_b").agg(
        F.theta_sketch_estimate(F.theta_intersection_agg("theta")).alias("est")
    )
    return (
        exact.join(F.broadcast(est), ["src_a", "src_b"], "left")
        .withColumn(
            "theta_within_tol",
            F.when(
                F.col("n_inter") == 0, F.coalesce(F.col("est"), F.lit(0.0)) <= F.lit(0.5)
            ).otherwise(
                F.abs(F.col("est") - F.col("n_inter"))
                <= F.lit(float(tolerance)) * F.col("n_inter")
            ),
        )
        .drop("est")
    )
