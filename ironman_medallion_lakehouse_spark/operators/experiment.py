"""Experimentation analytics — CUPED variance reduction.

Beyond-reference extension (BASELINE.json north star: the analysis an
event-logging warehouse serves to experimenters). CUPED (Deng, Xu,
Kohavi & Walker, WSDM'13) adjusts each unit's experiment metric Y by
a pre-experiment covariate X:

    Y_adj = Y − θ·(X − mean(X)),   θ = cov(X, Y) / var(X)

which leaves every variant's expected treatment effect unchanged
(E[X] is independent of assignment) while removing the variance X
explains — the standard way to need fewer users for the same power.

Determinism (the repo policy): X and Y enter as DECIMAL(18,4), so
ΣX, ΣY, ΣXY, ΣX² are EXACT decimal aggregates (order-free); θ and
mean(X) are then fixed scalar double expressions, and each unit's
Y_adj is rounded into DECIMAL(18,6) before the per-variant mean — so
the whole analysis replays bit-exactly in a SQL oracle and is
independent of partitioning.

Scale shape: one global stats aggregate (one row, broadcast back),
one map-only adjustment pass, one per-variant aggregate — two
map-side-combined shuffles on trivially small keys; cost is one scan
of the per-unit frame regardless of experiment size.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ironman_medallion_lakehouse_spark.session import shuffle_width


def cuped_adjusted_means(
    units: DataFrame,
    x_col: str = "x",
    y_col: str = "y",
    variant_col: str = "variant",
) -> DataFrame:
    """Per-variant raw and CUPED-adjusted metric means from a
    per-unit frame (one row per experiment unit with covariate
    ``x_col``, metric ``y_col``, assignment ``variant_col``).

    Output: (variant, n_units, mean_y, mean_y_adj), means UNROUNDED
    (exact IEEE quotients of decimal-absorbed sums — r12, the q98
    rule). θ is computed POOLED across variants (the standard
    estimator — assignment-independent by randomization); a
    zero-variance covariate degrades gracefully to θ = 0, i.e.
    mean_y_adj = mean_y."""
    x = F.col(x_col).cast("decimal(18,4)")
    y = F.col(y_col).cast("decimal(18,4)")
    base = units.select(F.col(variant_col).alias("variant"), x.alias("_x"), y.alias("_y"))
    stats = base.agg(
        F.count(F.lit(1)).alias("_n"),
        F.sum("_x").alias("_sx"),
        F.sum("_y").alias("_sy"),
        F.sum(F.col("_x") * F.col("_y")).alias("_sxy"),
        F.sum(F.col("_x") * F.col("_x")).alias("_sxx"),
    )
    j = base.crossJoin(F.broadcast(stats))
    n = F.col("_n").cast("double")
    sx = F.col("_sx").cast("double")
    sy = F.col("_sy").cast("double")
    var = F.col("_sxx").cast("double") - sx * sx / n
    cov = F.col("_sxy").cast("double") - sx * sy / n
    theta = F.when(var <= 0, F.lit(0.0)).otherwise(cov / var)
    mean_x = sx / n
    y_adj = (
        F.col("_y").cast("double")
        - theta * (F.col("_x").cast("double") - mean_x)
    ).cast("decimal(18,6)")
    return (
        j.select("variant", F.col("_y"), y_adj.alias("_ya"))
        .groupBy("variant")
        .agg(
            F.count(F.lit(1)).alias("n_units"),
            # No final round: decimal-absorbed sums cast double over a unit
            # count are one IEEE divide — bit-identical cross-engine
            # unrounded; ROUND could split engines on a representable
            # half-boundary (the r11 q98 class).
            (F.sum("_y").cast("double") / F.count(F.lit(1))).alias("mean_y"),
            (F.sum("_ya").cast("double") / F.count(F.lit(1))).alias(
                "mean_y_adj"
            ),
        )
    )


def grouped_ols(
    df: DataFrame,
    x_col: str,
    y_col: str,
    group_cols: list[str],
) -> DataFrame:
    """Per-group simple linear regression (OLS y = a + b·x) from exact
    decimal moment sums — the "trend per segment" question (price
    sensitivity per region, growth slope per cohort) answered in ONE
    map-side-combined aggregate pass, no ML library, no iteration:

        b  = (nΣxy − ΣxΣy) / (nΣx² − (Σx)²)
        a  = (Σy − b·Σx) / n
        r² = (nΣxy − ΣxΣy)² / ((nΣx² − (Σx)²)(nΣy² − (Σy)²))

    Output: (groups..., n, slope, intercept, r2) rounded to 6
    decimals. Degenerate groups (zero x-variance) emit NULL slope/
    intercept/r² rather than a division blow-up.

    Determinism: x and y enter as DECIMAL(12,4) — narrow enough that
    the cross-moment products (x·y, x², y²) stay inside DECIMAL(24,8),
    which BOTH engines multiply exactly (DECIMAL(18,4)² overflows
    DuckDB's multiply at ~10⁹-scale values); callers' |x|,|y| must be
    < 10⁸, ample for any priced/quantified fact. All five moments are
    then exact decimal sums (order-free) and the closed-form
    expressions fixed scalar double math — engine-exact (the CUPED
    policy). One shuffle on the group keys; moment accumulation is
    map-side combined, so the pass costs a grouped count regardless
    of group sizes."""
    x = F.col(x_col).cast("decimal(12,4)")
    y = F.col(y_col).cast("decimal(12,4)")
    g = df.groupBy(*group_cols).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(x).alias("_sx"),
        F.sum(y).alias("_sy"),
        F.sum(x * y).alias("_sxy"),
        F.sum(x * x).alias("_sxx"),
        F.sum(y * y).alias("_syy"),
    )
    n = F.col("n").cast("double")
    sx, sy = F.col("_sx").cast("double"), F.col("_sy").cast("double")
    sxy = F.col("_sxy").cast("double")
    sxx, syy = F.col("_sxx").cast("double"), F.col("_syy").cast("double")
    denx = n * sxx - sx * sx
    deny = n * syy - sy * sy
    num = n * sxy - sx * sy
    b = num / denx
    a = (sy - b * sx) / n
    r2 = (num * num) / (denx * deny)
    return g.select(
        *group_cols,
        "n",
        # ROUND here is LOAD-BEARING (r12 audit): the moment decimals
        # (scaled Σx², Σxy ≈ 1e20) exceed the double mantissa, so the
        # decimal→double CAST itself is engine-specific (Spark BigDecimal
        # vs DuckDB int128/10^scale) and n·Σxx − (Σx)² amplifies the cast
        # noise by cancellation (~400 ulp observed at sf0.01). The round
        # absorbs it; boundary risk is measure-zero on cast-noise-fed
        # full-entropy values.
        F.when(denx <= 0, F.lit(None)).otherwise(F.round(b, 6)).alias("slope"),
        F.when(denx <= 0, F.lit(None)).otherwise(F.round(a, 6)).alias("intercept"),
        F.when((denx <= 0) | (deny <= 0), F.lit(None))
        .otherwise(F.round(r2, 6))
        .alias("r2"),
    )


def chi_square_independence(
    df: DataFrame,
    row_col: str,
    col_col: str,
) -> DataFrame:
    """Pearson chi-square test of independence for two categorical
    columns: ONE row (n, dof, chi2) where chi2 = Σ (O−E)²/E over the
    contingency table, E = row_total·col_total/n — the "are these
    dimensions related" screen (order priority × status, lang ×
    source) run before anyone trusts a crosstab.

    All counts are exact integers; E and each cell's term are fixed
    double expressions over them, and the cell terms are rounded into
    DECIMAL(18,9) before the final sum — order-free, engine-exact
    (the q98 policy). The statistic sums over the COMPLETE nr×nc grid
    (distinct row labels × distinct col labels), not just observed
    cells: an unobserved combination still contributes (0−E)²/E = E,
    and omitting it understates chi2 while dof assumes the full grid
    (ADVICE r5). Plan: one contingency count (map-side combined),
    marginals derived from it via two tiny re-aggregations, a
    label-level cross join (nr·nc rows — bounded by category
    cardinality, never data volume), one scalar output; nothing
    scales past the first grouped count."""
    cells = df.groupBy(
        F.col(row_col).alias("_r"), F.col(col_col).alias("_c")
    ).agg(F.count(F.lit(1)).alias("o"))
    cells = cells.localCheckpoint(eager=True)  # read 3x below
    rows = cells.groupBy("_r").agg(F.sum("o").alias("rt"))
    cols = cells.groupBy("_c").agg(F.sum("o").alias("ct"))
    tot = cells.agg(F.sum("o").alias("n"))
    e = F.col("rt").cast("double") * F.col("ct").cast("double") / F.col("n").cast("double")
    o = F.coalesce(F.col("o"), F.lit(0))
    term = (
        (o.cast("double") - e) * (o.cast("double") - e) / e
    ).cast("decimal(18,9)")
    grid = rows.crossJoin(F.broadcast(cols))
    joined = (
        grid.join(F.broadcast(cells), ["_r", "_c"], "left")
        .crossJoin(F.broadcast(tot))
    )
    dims = joined.agg(
        F.count_distinct("_r").alias("_nr"),
        F.count_distinct("_c").alias("_nc"),
        F.max("n").alias("n"),
        F.sum(term).alias("_chi2"),
    )
    return dims.select(
        F.col("n").cast("bigint").alias("n"),
        ((F.col("_nr") - 1) * (F.col("_nc") - 1)).cast("bigint").alias("dof"),
        # No final round (r12): the exact DECIMAL(18,9) term sum cast to
        # double is one correctly-rounded conversion — bit-identical
        # cross-engine; ROUND could split on a half-boundary.
        F.col("_chi2").cast("double").alias("chi2"),
    )


def cohens_kappa(
    df: DataFrame,
    rater_a_col: str,
    rater_b_col: str,
) -> DataFrame:
    """Cohen's kappa for two categorical label columns over the same
    items — the labeled-data QC statistic ("do my two annotation
    passes / model-vs-human labels actually agree beyond chance?")
    every supervised-data pipeline runs before trusting labels:

        kappa = (p_o − p_e) / (1 − p_e)
        p_o   = Σ_k n_kk / n            (observed agreement)
        p_e   = Σ_k (a_k · b_k) / n²    (chance agreement from marginals)

    ONE row (n, po, pe, kappa); perfect agreement → 1, chance → 0.
    Rows with a NULL on either side are excluded (un-rated items).

    All inputs are exact integers from one contingency count
    (map-side combined); po/pe/kappa are fixed double expressions over
    them, UNROUNDED (exact IEEE, bit-identical cross-engine — r12) —
    order-free, engine-exact. Degenerate
    case pe = 1 (both raters constant) → kappa NULL. Plan: the q130
    shape — one grouped count, two tiny marginal re-aggregations,
    scalar output."""
    cells = (
        df.filter(F.col(rater_a_col).isNotNull() & F.col(rater_b_col).isNotNull())
        .groupBy(F.col(rater_a_col).alias("_a"), F.col(rater_b_col).alias("_b"))
        .agg(F.count(F.lit(1)).alias("o"))
        .localCheckpoint(eager=True)  # read 3x below
    )
    n = cells.agg(F.sum("o").alias("n"))
    agree = cells.filter(F.col("_a") == F.col("_b")).agg(
        F.coalesce(F.sum("o"), F.lit(0)).alias("n_agree")
    )
    ma = cells.groupBy("_a").agg(F.sum("o").alias("na"))
    mb = cells.groupBy("_b").agg(F.sum("o").alias("nb"))
    chance = (
        ma.join(mb, ma["_a"] == mb["_b"])
        .agg(F.sum(F.col("na") * F.col("nb")).alias("sum_ab"))
        .select(F.coalesce(F.col("sum_ab"), F.lit(0)).alias("sum_ab"))
    )
    out = n.crossJoin(F.broadcast(agree)).crossJoin(F.broadcast(chance))
    po = F.col("n_agree").cast("double") / F.col("n").cast("double")
    pe = F.col("sum_ab").cast("double") / (
        F.col("n").cast("double") * F.col("n").cast("double")
    )
    # No final round: po/pe are integer-count ratios and kappa is +,-,/
    # over those same doubles — all exactly-rounded IEEE, bit-identical
    # cross-engine unrounded; ROUND could land on a representable
    # half-boundary and split engines (the r11 q98 class).
    return out.select(
        F.col("n").cast("bigint").alias("n"),
        po.alias("po"),
        pe.alias("pe"),
        F.when(pe == 1.0, F.lit(None)).otherwise(
            (po - pe) / (1.0 - pe)
        ).alias("kappa"),
    )


def per_value_counts(
    df: DataFrame,
    value_col: str,
    group_col: str,
    group_a,
    group_b,
) -> DataFrame:
    """Per-distinct-value two-group counts ``(v, na_v, nb_v)`` — the
    shared pre-aggregation the empirical-CDF statistics (``ks_two_sample``,
    ``wasserstein_from_value_counts``) run on: a distributed hash
    aggregate with map-side partial combine collapses the raw
    observations to the DISTINCT VALUE domain, absorbing ties, so the
    unavoidable ordered pass downstream sees a value-domain-sized frame
    rather than the data. A caller computing several CDF statistics
    materializes this ONCE (localCheckpoint) and feeds each finisher."""
    return (
        df.filter(F.col(group_col).isin([group_a, group_b]))
        .filter(F.col(value_col).isNotNull())
        .select(
            F.col(value_col).alias("v"),
            F.when(F.col(group_col) == group_a, 1).otherwise(0).alias("ia"),
            F.when(F.col(group_col) == group_b, 1).otherwise(0).alias("ib"),
        )
        .groupBy("v")
        .agg(F.sum("ia").alias("na_v"), F.sum("ib").alias("nb_v"))
    )


def ks_two_sample(
    df: DataFrame,
    value_col: str,
    group_col: str,
    group_a,
    group_b,
) -> DataFrame:
    """Two-sample Kolmogorov-Smirnov statistic: D = max_x |F_a(x) −
    F_b(x)| over the empirical CDFs of ``value_col`` in the two groups
    — the standard continuous-distribution drift test (chi-square's
    complement): "does this crawl batch's length/quality/score
    distribution match the last one?" run before a batch is admitted.

    ONE row (n_a, n_b, d_stat, ks_stat) where ks_stat =
    D·√(n_a·n_b/(n_a+n_b)) (the scaled statistic compared against
    c(α) thresholds: 1.358 ≈ α=0.05). NULL values are excluded.

    Exactness: D is computed at jump points only — sort the union of
    observations, take running per-group counts with a window, and
    evaluate |cum_a/n_a − cum_b/n_b| AFTER absorbing ties (the CDF
    value at x counts every observation ≤ x, so the max is taken over
    per-distinct-value LAST rows). All counts are exact integers; the
    division is one fixed double expression, so the max is
    engine-exact UNROUNDED (r12: no final round — a round could land
    on a representable half-boundary and split engines).

    Plan (VERDICT r6 item 3): a distributed ``groupBy(v)`` FIRST
    collapses the raw observations to per-distinct-value counts — a
    hash aggregate with map-side partial combine, fully parallel — and
    absorbs ties as a side effect (the CDF at x counts every
    observation ≤ x, and the per-value group IS the tie group). Only
    then does the unavoidable global running-sum window run, over the
    DISTINCT VALUES rather than all n_a+n_b rows. For a metric like a
    quality score or document length the distinct domain is orders of
    magnitude smaller than the row count, so the single-partition sort
    — still the plan's serial section — sees a bounded frame. At
    100 TB with a genuinely high-cardinality continuous metric you run
    this on a per-batch SAMPLE or on KLL sketch quantiles (q82's
    family); the exact form is the oracle-checkable ground truth."""
    from pyspark.sql import Window

    per_value = per_value_counts(df, value_col, group_col, group_a, group_b)
    return ks_from_value_counts(per_value)


def ks_from_value_counts(per_value: DataFrame) -> DataFrame:
    """KS finisher over a ``per_value_counts`` frame (see
    ``ks_two_sample`` for semantics/plan) — split out so a caller
    computing several CDF statistics shares ONE materialized
    pre-aggregation."""
    from pyspark.sql import Window

    # bounded-serial: input is the per-distinct-value aggregate; at 100 TB
    # run on a per-batch sample or KLL quantiles (docstring)
    w = Window.orderBy("v").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    # totals as FULL-FRAME windows over the same sort: they reuse the
    # single-partition Sort/Exchange the running sums already need, so
    # the scan+aggregate pipeline is evaluated exactly once (the
    # previous crossJoin(broadcast(totals)) form duplicated the whole
    # subtree to compute n_a/n_b — two scans, two shuffles)
    # bounded-serial: totals ride the same distinct-value sort as full frames
    wall = Window.orderBy("v").rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    cum = per_value.select(
        "v",
        F.sum("na_v").over(w).alias("ca_end"),
        F.sum("nb_v").over(w).alias("cb_end"),
        F.sum("na_v").over(wall).cast("bigint").alias("n_a"),
        F.sum("nb_v").over(wall).cast("bigint").alias("n_b"),
    )
    return _ks_finish(cum)


def wasserstein_from_value_counts(per_value: DataFrame) -> DataFrame:
    """1-D Wasserstein-1 (earth-mover) distance between the two
    empirical distributions of a ``per_value_counts`` frame:

        W₁ = ∫ |F_a(x) − F_b(x)| dx
           = Σ_i |F_a(v_i) − F_b(v_i)| · (v_{i+1} − v_i)

    over the sorted distinct values — the drift magnitude KS's sup-norm
    cannot express: KS says HOW CONFIDENTLY the distributions differ,
    W₁ says BY HOW MUCH in the metric's own units (mean shift, spread
    change and tail mass all accumulate instead of maxing), which is
    what a "quality score drifted by 3 points" alert needs. ONE row
    (n_a, n_b, w1).

    Exactness: CDF heights come from exact integer running counts over
    the tie-absorbed distinct-value sort (the ``ks_two_sample``
    discipline); each segment's |ΔF|·Δv is one fixed double expression
    rounded into DECIMAL(28,12) before the order-free sum; the total
    ships UNROUNDED (it telescopes to ≤ the value range, so the exact
    decimal fits the double mantissa — r12, the q98 rule).
    Plan: same shape as KS — the serial section is the distinct-value
    sort, reused by the lead() segment width."""
    from pyspark.sql import Window

    # bounded-serial: per-distinct-value aggregate input (see ks_two_sample)
    w = Window.orderBy("v").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    # bounded-serial: totals/lead ride the same distinct-value sort
    wall = Window.orderBy("v").rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    cum = per_value.select(
        F.col("v").cast("double").alias("_v"),
        # bounded-serial: lead over the same distinct-value sort
        F.lead(F.col("v").cast("double")).over(Window.orderBy("v")).alias("_nv"),
        F.sum("na_v").over(w).alias("_ca"),
        F.sum("nb_v").over(w).alias("_cb"),
        F.sum("na_v").over(wall).cast("bigint").alias("n_a"),
        F.sum("nb_v").over(wall).cast("bigint").alias("n_b"),
    )
    seg = F.when(
        F.col("_nv").isNotNull(),
        (
            F.abs(
                F.col("_ca").cast("double") / F.col("n_a").cast("double")
                - F.col("_cb").cast("double") / F.col("n_b").cast("double")
            )
            * (F.col("_nv") - F.col("_v"))
        ).cast("decimal(28,12)"),
    )
    # sum skips the last row's NULL segment; a single-distinct-value
    # input (both distributions one point mass at the same v) is W1 = 0.
    # No final round (r12 continuation): the segment sum TELESCOPES —
    # Σ|ΔF|·Δv ≤ v_max − v_min — so at any realistic value domain the
    # exact DECIMAL(28,12) total fits the double mantissa and the cast
    # is bit-identical cross-engine; a 6dp ROUND of a 12dp-absorbed sum
    # is exactly the q98 half-boundary class.
    return cum.groupBy("n_a", "n_b").agg(
        F.coalesce(F.sum(seg), F.lit(0).cast("decimal(28,12)"))
        .cast("double")
        .alias("w1")
    )


def _ks_finish(cum: DataFrame) -> DataFrame:
    """Final KS aggregate: the max CDF gap over tie-absorbed rows
    (``cum`` carries the group totals on every row)."""
    gap = (
        cum.select(
            "n_a",
            "n_b",
            F.abs(
                F.col("ca_end").cast("double") / F.col("n_a").cast("double")
                - F.col("cb_end").cast("double") / F.col("n_b").cast("double")
            ).alias("g"),
        )
        # No final round (r12, the q98 class): every CDF gap is two IEEE
        # divides of exact integer counts and a subtract — bit-identical
        # cross-engine, so the max is too; ks_stat adds only a correctly-
        # rounded sqrt and one multiply over exact integers.
        .groupBy("n_a", "n_b")
        .agg(F.max("g").alias("d_stat"))
    )
    return gap.select(
        "n_a",
        "n_b",
        "d_stat",
        (
            F.col("d_stat")
            * F.sqrt(
                (F.col("n_a") * F.col("n_b")).cast("double")
                / (F.col("n_a") + F.col("n_b")).cast("double")
            )
        ).alias("ks_stat"),
    )


def quantile_treatment_effects(
    df: DataFrame,
    value_col: str,
    group_col: str,
    group_a,
    group_b,
    probs: list[float] = (0.25, 0.5, 0.75),
) -> DataFrame:
    """Quantile treatment effects — the DISTRIBUTIONAL A/B readout the
    mean-based arms can't give: at each probability p, the difference
    of the two variants' exact empirical quantiles,

        QTE(p) = Q_b(p) − Q_a(p)

    (Koenker & Bassett's quantile-regression estimand specialized to a
    binary treatment with no covariates). A treatment that fattens the
    tail moves QTE(0.9) but not QTE(0.5); one that lifts everyone
    moves every p by the same amount — the shape a single
    mean-difference or even Mann-Whitney z collapses. One row per p:

        (p, n_a, n_b, q_a, q_b, qte)

    Quantile definition: type-1 / inverted CDF — Q(p) = min{v : #{x ≤
    v} ≥ ⌈p·n⌉} (numpy's ``method='inverted_cdf'``), the only
    definition that is EXACT on ties and engine-portable: thresholds
    ⌈p·n⌉ are computed in decimal (p is a 6dp literal), so both
    engines compare the same integers — no interpolation arithmetic to
    disagree over. p ∈ (0, 1].

    Plan (the KS/W1 discipline): ONE ``per_value_counts``
    pre-aggregation collapses the data to per-distinct-value integer
    counts, one ordered pass builds both running CDFs, then ALL
    requested quantiles come from a single aggregate — one conditional
    MIN per (p, group), the p's being literals — and one ``stack`` to
    long form. Zero joins, no per-p passes; the serial section is the
    distinct-value sort shared with KS/W1 (a caller holding a
    materialized ``per_value_counts`` frame uses
    ``qte_from_value_counts`` directly).

    Kept with no package caller: it is the one-frame form that
    tests/test_qte.py checks ``qte_from_value_counts`` (the q143 path)
    against."""
    pv = per_value_counts(df, value_col, group_col, group_a, group_b)
    return qte_from_value_counts(pv, probs)


def qte_from_value_counts(
    per_value: DataFrame, probs: list[float] = (0.25, 0.5, 0.75)
) -> DataFrame:
    """QTE finisher over a ``per_value_counts`` frame (see
    ``quantile_treatment_effects`` for semantics/plan)."""
    from pyspark.sql import Window

    ps = [round(float(p), 6) for p in probs]
    if not ps or any(p <= 0 or p > 1 for p in ps):
        raise ValueError(f"probs must be in (0, 1], got {list(probs)}")
    if len(set(ps)) != len(ps):
        raise ValueError(f"probs must be distinct at 6dp, got {list(probs)}")
    # bounded-serial: per-distinct-value aggregate input (see ks_two_sample)
    w = Window.orderBy("v").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    # bounded-serial: totals ride the same distinct-value sort
    wall = Window.orderBy("v").rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    cum = per_value.select(
        "v",
        F.sum("na_v").over(w).alias("ca_end"),
        F.sum("nb_v").over(w).alias("cb_end"),
        F.sum("na_v").over(wall).cast("bigint").alias("n_a"),
        F.sum("nb_v").over(wall).cast("bigint").alias("n_b"),
    )

    def _q(side: str, p: float):
        # threshold ⌈p·n⌉ in exact decimal; the min over qualifying
        # distinct values IS the type-1 quantile. n = 0 would make the
        # threshold 0 and every row qualify — an empty group reads NULL
        n = F.col("n_a" if side == "a" else "n_b")
        cnt = F.col("ca_end" if side == "a" else "cb_end")
        t = F.ceil(F.lit(f"{p:.6f}").cast("decimal(10,6)") * n)
        return F.min(F.when((n > 0) & (cnt >= t), F.col("v"))).alias(
            f"_{side}{_pkey(p)}"
        )

    wide = cum.groupBy("n_a", "n_b").agg(
        *[_q("a", p) for p in ps], *[_q("b", p) for p in ps]
    )
    pairs = ", ".join(
        f"cast({p:.6f} as double), _a{_pkey(p)}, _b{_pkey(p)}" for p in ps
    )
    long = wide.select(
        "n_a",
        "n_b",
        F.expr(f"stack({len(ps)}, {pairs}) as (p, _qa, _qb)"),
    )
    qa, qb = F.col("_qa").cast("double"), F.col("_qb").cast("double")
    return long.select(
        "p",
        "n_a",
        "n_b",
        F.round(qa, 6).alias("q_a"),
        F.round(qb, 6).alias("q_b"),
        F.round(qb - qa, 6).alias("qte"),
    ).orderBy("p")


def _pkey(p: float) -> str:
    return f"{p:.6f}".replace(".", "_")


def winsorized_welch_t(
    df: DataFrame,
    value_col: str,
    group_col: str,
    group_a,
    group_b,
    lower: float = 0.0,
    upper: float = 0.99,
) -> DataFrame:
    """Winsorized Welch t — the robust-mean A/B readout for heavy-
    tailed metrics (revenue, latency, doc length): clip both variants
    at the POOLED distribution's [lower, upper] type-1 quantiles, then
    run Welch's t on the clipped values. The standard production
    compromise between the fragile raw-mean t (one whale order flips
    the sign) and the rank-only Mann-Whitney (which discards effect
    magnitude): the estimate stays in metric units, the tail can't
    dominate it. Clipping at POOLED cuts keeps the null honest —
    per-variant cuts would let the treatment shift its own clipping
    point. (Yuen's trimmed-mean test is the textbook sibling — it
    DROPS the tails and uses the winsorized variance with reduced dof;
    this operator CLIPS them and runs plain Welch on the result, the
    form a metric platform usually ships as "capped" metrics.) ONE
    row, the ``welch_t_test`` schema plus the cut points:

        (n_a, n_b, cut_lo, cut_hi, mean_a, mean_b, t_stat, dof)

    Exactness: cut points are exact type-1 pooled quantiles (the
    ``qte_from_value_counts`` thresholds, ⌈p·n⌉ in decimal with a
    floor of 1 so lower=0.0 degenerates to the pooled minimum — a
    no-op clip); clipped values re-enter DECIMAL(12,4) so Σx, Σx² are
    order-free exact sums; t/dof are the ``welch_t_test`` scalar math.

    Plan: ONE data pass (the shared ``per_value_counts`` aggregate —
    a caller holding it materialized uses
    ``winsorized_welch_from_value_counts``), one ordered pass over the
    distinct values for the two cuts, then a broadcast of the one-row
    cut frame into a value-domain-sized moment aggregate. Nothing
    data-sized after the pre-aggregation.

    Kept with no package caller: it is the one-frame form that
    tests/test_winsorized.py pins against a numpy replay and plain
    Welch; q143 runs ``winsorized_welch_from_value_counts``."""
    pv = per_value_counts(df, value_col, group_col, group_a, group_b)
    return winsorized_welch_from_value_counts(pv, lower=lower, upper=upper)


def winsorized_welch_from_value_counts(
    per_value: DataFrame, lower: float = 0.0, upper: float = 0.99
) -> DataFrame:
    """Winsorized-Welch finisher over a ``per_value_counts`` frame
    (see ``winsorized_welch_t`` for semantics/plan)."""
    from pyspark.sql import Window

    lo, hi = round(float(lower), 6), round(float(upper), 6)
    if not (0.0 <= lo < hi <= 1.0):
        raise ValueError(f"need 0 <= lower < upper <= 1, got {lower}, {upper}")
    # bounded-serial: per-distinct-value aggregate input (see ks_two_sample)
    w = Window.orderBy("v").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    # bounded-serial: totals ride the same distinct-value sort
    wall = Window.orderBy("v").rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    cum = per_value.select(
        "v",
        "na_v",
        "nb_v",
        F.sum(F.col("na_v") + F.col("nb_v")).over(w).alias("_cp"),
        F.sum(F.col("na_v") + F.col("nb_v")).over(wall).alias("_np"),
    )

    def _cut(p: float):
        # pooled type-1 quantile; threshold floored at 1 so p = 0
        # reads the pooled minimum (identity clip)
        t = F.greatest(
            F.ceil(F.lit(f"{p:.6f}").cast("decimal(10,6)") * F.col("_np")),
            F.lit(1),
        )
        return F.min(F.when(F.col("_cp") >= t, F.col("v")))

    cuts = cum.agg(_cut(lo).alias("_lo"), _cut(hi).alias("_hi"))
    clipped = per_value.crossJoin(F.broadcast(cuts)).select(
        "na_v",
        "nb_v",
        F.least(F.greatest(F.col("v"), F.col("_lo")), F.col("_hi"))
        .cast("decimal(12,4)")
        .alias("_xw"),
        "_lo",
        "_hi",
    )
    agg = clipped.agg(
        F.max(F.col("_lo").cast("double")).alias("cut_lo"),
        F.max(F.col("_hi").cast("double")).alias("cut_hi"),
        F.sum("na_v").cast("bigint").alias("n_a"),
        F.sum("nb_v").cast("bigint").alias("n_b"),
        F.sum(F.col("na_v") * F.col("_xw")).alias("sxa"),
        F.sum(F.col("nb_v") * F.col("_xw")).alias("sxb"),
        F.sum(F.col("na_v") * (F.col("_xw") * F.col("_xw"))).alias("sxxa"),
        F.sum(F.col("nb_v") * (F.col("_xw") * F.col("_xw"))).alias("sxxb"),
    )
    na, nb = F.col("n_a").cast("double"), F.col("n_b").cast("double")
    ma = F.col("sxa").cast("double") / na
    mb = F.col("sxb").cast("double") / nb
    va = (F.col("sxxa").cast("double") - na * ma * ma) / (na - 1)
    vb = (F.col("sxxb").cast("double") - nb * mb * mb) / (nb - 1)
    se2 = va / na + vb / nb
    t = (ma - mb) / F.sqrt(se2)
    dof = (se2 * se2) / (
        (va / na) * (va / na) / (na - 1) + (vb / nb) * (vb / nb) / (nb - 1)
    )
    ok = (na >= 2) & (nb >= 2) & (se2 > 0)
    return agg.select(
        "n_a",
        "n_b",
        F.round(F.col("cut_lo"), 6).alias("cut_lo"),
        F.round(F.col("cut_hi"), 6).alias("cut_hi"),
        # means unrounded (r12, the q98 class): Σ(n_v·x_w) fits the double
        # mantissa, so sum/count is one bit-identical IEEE divide. t/dof
        # STAY rounded: Σx² exceeds the mantissa, so its cast (and the
        # variance cancellation) is engine-specific — the q129 lesson.
        ma.alias("mean_a"),
        mb.alias("mean_b"),
        F.when(ok, F.round(t, 6)).alias("t_stat"),
        F.when(ok, F.round(dof, 6)).alias("dof"),
    )


def mann_whitney_u(
    df: DataFrame,
    value_col: str,
    group_col: str,
    group_a,
    group_b,
) -> DataFrame:
    """Mann-Whitney U (Wilcoxon rank-sum) test — the nonparametric
    complement of Welch's t for a continuous A/B metric whose
    distribution is skewed or heavy-tailed (revenue, latency, doc
    length), where a mean-based t is fragile. ONE row:

        (n_a, n_b, mean_rank_a, mean_rank_b, u_a, z_stat)

    with U_a = R_a − n_a(n_a+1)/2 (R_a = rank sum of group a over the
    pooled sample, ties receiving average ranks) and the normal
    approximation z = (U_a − n_a·n_b/2)/σ, σ² the tie-corrected
    variance  n_a·n_b/12 · ((N+1) − Σ(t³−t)/(N(N−1))).  NULL z when
    either group is empty or every value is tied (σ = 0). No
    continuity correction (documented choice — keeps the statistic a
    fixed expression over exact integers).

    Exactness: the q142 KS discipline. A distributed ``groupBy(v)``
    collapses observations to per-distinct-value counts (ties absorbed
    by construction — the per-value group IS the tie group); one
    running-sum window over the DISTINCT VALUES yields each value's
    preceding count, and TWICE the average rank, 2·prev + t + 1, is an
    integer — so the rank sums Σ n_av·rank2 and the tie term Σ(t³−t)
    are exact bigint aggregates (order-free), and every output is a
    fixed double expression over them, UNROUNDED (r12: exact IEEE,
    bit-identical cross-engine).
    (Bigint bounds: rank2 sums reach O(N²), the tie term O(t³·#ties) —
    ample below ~10⁹ pooled rows; past that, run on a per-batch sample
    like KS.) Plan: one hash aggregate with map-side partial combine,
    one distinct-value-sized window, scalar output. The pre-aggregation
    is the shared ``per_value_counts`` (r14 — it was an inline
    duplicate of it); a caller holding that frame materialized uses
    ``mann_whitney_from_value_counts`` directly.

    Kept with no package caller: it is the one-frame form that
    tests/test_training_ops3.py pins against hand-computed ranks and
    tests/test_plans_round7.py checks the plan of; q143 runs
    ``mann_whitney_from_value_counts``."""
    pv = per_value_counts(df, value_col, group_col, group_a, group_b)
    return mann_whitney_from_value_counts(pv)


def mann_whitney_from_value_counts(per_value: DataFrame) -> DataFrame:
    """Mann-Whitney finisher over a ``per_value_counts`` frame (see
    ``mann_whitney_u`` for semantics/plan)."""
    from pyspark.sql import Window

    # bounded-serial: input is the per-distinct-value aggregate (the q142
    # KS discipline); at 100 TB run on a per-batch sample
    w = Window.orderBy("v").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    # bounded-serial: totals ride the same distinct-value sort as full frames
    wall = Window.orderBy("v").rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    t = F.col("na_v") + F.col("nb_v")
    ranked = per_value.select(
        "na_v",
        "nb_v",
        (F.sum(t).over(w) - t).alias("prev"),
        F.sum("na_v").over(wall).cast("bigint").alias("n_a"),
        F.sum("nb_v").over(wall).cast("bigint").alias("n_b"),
    )
    rank2 = F.lit(2) * F.col("prev") + (F.col("na_v") + F.col("nb_v")) + F.lit(1)
    tie = F.col("na_v") + F.col("nb_v")
    agg = ranked.groupBy("n_a", "n_b").agg(
        F.sum(F.col("na_v") * rank2).cast("bigint").alias("r2a"),
        F.sum(F.col("nb_v") * rank2).cast("bigint").alias("r2b"),
        F.sum(tie * tie * tie - tie).cast("bigint").alias("ties"),
    )
    na, nb = F.col("n_a").cast("double"), F.col("n_b").cast("double")
    nn = na + nb
    u_a = F.col("r2a").cast("double") / 2 - na * (na + 1) / 2
    var = (
        na
        * nb
        / 12
        * ((nn + 1) - F.col("ties").cast("double") / (nn * (nn - 1)))
    )
    z = (u_a - na * nb / 2) / F.sqrt(var)
    ok = (F.col("n_a") > 0) & (F.col("n_b") > 0) & (var > 0)
    return agg.select(
        "n_a",
        "n_b",
        # No final round (r12, the q98 class): rank sums and tie terms are
        # exact bigints below 2^53, so every output is a fixed chain of
        # exactly-rounded IEEE ops (plus one correctly-rounded sqrt) —
        # bit-identical cross-engine unrounded.
        (F.col("r2a").cast("double") / 2 / na).alias("mean_rank_a"),
        (F.col("r2b").cast("double") / 2 / nb).alias("mean_rank_b"),
        u_a.alias("u_a"),
        F.when(ok, z).alias("z_stat"),
    )


# Poisson(1) inverse-CDF thresholds on the [0, 1M) md5-uniform grid:
# weight w = #{thresholds <= h}; integer literals shared verbatim with
# every SQL oracle so both engines draw identical weights.
POISSON1_THRESHOLDS = (367879, 735758, 919698, 981011, 996340, 999405, 999916, 999989)


def poisson_bootstrap_mean_diff(
    df: DataFrame,
    value_col: str,
    group_col: str,
    group_a,
    group_b,
    key_col: str,
    replicates: int = 32,
    salt: str = "boot",
    ci_z: float = 1.959964,
) -> DataFrame:
    """Poisson-bootstrap confidence interval for a difference of means
    — the resampling-free bootstrap that actually runs at 100 TB
    (Chamandy et al., "Estimating Uncertainty for Massive Data
    Streams", Google 2012): instead of drawing n rows with replacement
    per replicate (a shuffle of the whole frame, R times), each row
    contributes an independent Poisson(1) weight to every replicate —
    multinomial(n, 1/n) → Poisson(1) as n → ∞ — so R replicates cost
    ONE map-side explode by R and ONE R-group aggregate. ONE row:

        (n_a, n_b, mean_a, mean_b, diff, n_reps, se_boot, ci_lo, ci_hi)

    where diff = mean_a − mean_b observed, se_boot the sample std of
    the replicate diffs, and [ci_lo, ci_hi] = diff ± ci_z·se_boot (the
    normal-interval bootstrap; ci_z = 1.959964 ≈ two-sided 95 %).

    Determinism: the weight for (row, replicate r) is the exact
    integer inverse-CDF of Poisson(1) applied to the [0, 1M) md5-hash
    uniform of (key:salt:r) — the operators/sampling membership
    discipline, thresholds ``POISSON1_THRESHOLDS`` (w truncated at 8;
    P ≈ 10⁻⁵ mass, identical both engines). Replicate r = −1 forces
    w = 1 — the OBSERVED sample rides the same pass as the bootstrap.
    Σw·x and Σw are exact decimal/integer sums per (replicate, group);
    each replicate's diff is rounded into DECIMAL(12,6) (and its
    square stays inside both engines' exact multiply) so the SE
    aggregate is order-free, and every output is fixed scalar double
    math — means unrounded (exact quotients), diff/se/CI rounded to
    6 decimals (Σd² exceeds the double mantissa). A replicate where
    either group draws
    total weight 0 is excluded from the SE (n_reps reports the count
    used). Plan: scan → explode(×R+1) → md5 per pair → ONE grouped
    aggregate on R+1 keys → scalar output; no shuffle wider than
    (replicate, group) rows, nothing data-sized retained."""
    x = F.col(value_col).cast("decimal(12,4)")
    base = (
        df.filter(F.col(group_col).isin([group_a, group_b]))
        .filter(F.col(value_col).isNotNull())
        .select(
            F.when(F.col(group_col) == group_a, F.lit("a"))
            .otherwise(F.lit("b"))
            .alias("_g"),
            x.alias("_x"),
            F.col(key_col).cast("string").alias("_k"),
        )
    )
    # Pre-expansion repartition: the explode multiplies rows (R+2)x
    # INSIDE whatever partitioning the scan produced, so a small or
    # coalesced input would push the whole hash/weight stage through a
    # handful of tasks (measured: 3 tasks -> 412 s vs 32 -> ~3 s at 8x
    # sf0.1). Shuffling the slim base costs 1/(R+2) of the expanded
    # volume and pins the expansion stage at the configured width.
    base = base.repartition(shuffle_width(df))
    reps = base.select(
        "_g",
        "_x",
        "_k",
        F.explode(F.sequence(F.lit(-1), F.lit(int(replicates) - 1))).alias("rep"),
    )
    h = (
        F.conv(
            F.substring(
                F.md5(
                    F.concat_ws(
                        ":", F.col("_k"), F.lit(salt), F.col("rep").cast("string")
                    )
                ),
                1,
                8,
            ),
            16,
            10,
        ).cast("bigint")
        % 1_000_000
    )
    # let-bind h, then w, through separate projections: whole-stage
    # codegen does NOT common-subexpression-eliminate the md5/conv tree
    # across the 8-branch threshold chain (nor across w and w*x), so
    # inlining h re-hashed every row up to ~17x — measured 4x slower
    # at sf0.1 (2.95 s vs 0.74 s warm for the weight stage). Named
    # columns are computed once per row.
    hashed = reps.select("rep", "_g", "_x", h.alias("_h"))
    w = F.lit(0)
    for thr in POISSON1_THRESHOLDS:
        w = w + F.when(F.col("_h") >= thr, 1).otherwise(0)
    w = F.when(F.col("rep") == -1, F.lit(1)).otherwise(w)
    weighted = hashed.select("rep", "_g", w.alias("_w"), "_x").select(
        "rep",
        "_g",
        "_w",
        (F.col("_w") * F.col("_x")).alias("_wx"),
    )
    per_rep = weighted.groupBy("rep").agg(
        F.sum(F.when(F.col("_g") == "a", F.col("_w"))).alias("nwa"),
        F.sum(F.when(F.col("_g") == "a", F.col("_wx"))).alias("swa"),
        F.sum(F.when(F.col("_g") == "b", F.col("_w"))).alias("nwb"),
        F.sum(F.when(F.col("_g") == "b", F.col("_wx"))).alias("swb"),
    )
    mean_a = F.col("swa").cast("double") / F.col("nwa").cast("double")
    mean_b = F.col("swb").cast("double") / F.col("nwb").cast("double")
    valid = (F.coalesce(F.col("nwa"), F.lit(0)) > 0) & (
        F.coalesce(F.col("nwb"), F.lit(0)) > 0
    )
    diffs = per_rep.select(
        "rep",
        valid.alias("ok"),
        F.col("nwa"),
        F.col("nwb"),
        mean_a.alias("ma"),
        mean_b.alias("mb"),
        F.when(valid, (mean_a - mean_b).cast("decimal(12,6)")).alias("d"),
    )
    out = diffs.agg(
        F.max(F.when(F.col("rep") == -1, F.col("nwa"))).cast("bigint").alias("n_a"),
        F.max(F.when(F.col("rep") == -1, F.col("nwb"))).cast("bigint").alias("n_b"),
        F.max(F.when(F.col("rep") == -1, F.col("ma"))).alias("_ma"),
        F.max(F.when(F.col("rep") == -1, F.col("mb"))).alias("_mb"),
        F.max(F.when(F.col("rep") == -1, F.col("d"))).alias("_d0"),
        F.count(F.when((F.col("rep") >= 0) & F.col("ok"), 1)).alias("n_reps"),
        F.sum(F.when(F.col("rep") >= 0, F.col("d"))).alias("_sd"),
        F.sum(F.when(F.col("rep") >= 0, F.col("d") * F.col("d"))).alias("_sdd"),
    )
    r = F.col("n_reps").cast("double")
    sd, sdd = F.col("_sd").cast("double"), F.col("_sdd").cast("double")
    se = F.sqrt((sdd - sd * sd / r) / (r - 1))
    d0 = F.col("_d0").cast("double")
    ok = (F.col("n_reps") >= 2) & F.col("_d0").isNotNull()
    return out.select(
        "n_a",
        "n_b",
        # means unrounded (r12): Σ(w·x) decimal sums fit the double
        # mantissa → sum/count is bit-identical. diff/se/ci STAY rounded:
        # Σd² overflows the mantissa (the q129 cast lesson) and se feeds
        # the CIs.
        F.col("_ma").alias("mean_a"),
        F.col("_mb").alias("mean_b"),
        F.round(d0, 6).alias("diff"),
        "n_reps",
        F.when(ok, F.round(se, 6)).alias("se_boot"),
        F.when(ok, F.round(d0 - F.lit(float(ci_z)) * se, 6)).alias("ci_lo"),
        F.when(ok, F.round(d0 + F.lit(float(ci_z)) * se, 6)).alias("ci_hi"),
    )


def srm_check(
    df: DataFrame,
    group_col: str,
    expected: dict,
) -> DataFrame:
    """Sample-Ratio Mismatch check — the A/B sanity gate run BEFORE any
    significance readout is trusted (Fabijan et al., KDD 2019: a
    broken randomizer / lossy logging pipeline shows up as assignment
    counts that don't match the design ratios, and every downstream
    p-value is then meaningless). Chi-square GOODNESS-OF-FIT of the
    observed per-variant counts against the literal design ratios
    ``expected`` (variant -> probability; must sum to 1):

        chi2 = Σ_variants (O_v − n·p_v)² / (n·p_v),  dof = |variants|−1

    ONE row (n, dof, chi2) — chi2 ≫ the dof-quantile (e.g. 3.84 at
    dof 1, α=0.05) means STOP: the experiment's plumbing is broken.
    Distinct from ``chi_square_independence`` (two observed columns);
    this tests one observed column against DESIGN constants. Rows
    whose variant is not in ``expected`` are ignored (pre-filter
    debug/holdout labels upstream if they should count). A designed
    variant with ZERO observed rows still contributes its full
    expected mass (term = n·p_v) — the literal expected frame is the
    join spine, not the observed counts.

    All counts exact integers from one map-side-combined aggregate;
    per-variant terms are fixed double expressions rounded into
    DECIMAL(18,9) pre-sum (order-free, engine-exact). Plan: one
    grouped count on |variants| keys, a broadcast join onto the
    |variants|-row literal frame, scalar output."""
    ps = {str(k): float(v) for k, v in expected.items()}
    if abs(sum(ps.values()) - 1.0) > 1e-9:
        raise ValueError(f"expected ratios must sum to 1, got {sum(ps.values())}")
    spark = df.sparkSession
    design = spark.createDataFrame(
        [(k, v) for k, v in ps.items()], "_g string, _p double"
    )
    counts = (
        df.filter(F.col(group_col).cast("string").isin(list(ps)))
        .groupBy(F.col(group_col).cast("string").alias("_g"))
        .agg(F.count(F.lit(1)).alias("o"))
    )
    j = design.join(counts, "_g", "left").select(
        "_p", F.coalesce(F.col("o"), F.lit(0)).alias("o")
    )
    tot = j.agg(F.sum("o").alias("n"))
    k = j.crossJoin(F.broadcast(tot))
    e = F.col("n").cast("double") * F.col("_p")
    term = (
        (F.col("o").cast("double") - e) * (F.col("o").cast("double") - e) / e
    ).cast("decimal(18,9)")
    return (
        k.groupBy("n")
        .agg(F.sum(term).alias("_chi2"))
        .select(
            F.col("n").cast("bigint").alias("n"),
            F.lit(len(ps) - 1).cast("bigint").alias("dof"),
            # No final round (r12): exact DECIMAL(18,9) sum, small magnitude —
        # the cast to double is bit-identical cross-engine.
        F.col("_chi2").cast("double").alias("chi2"),
        )
    )


def _bin_index(v, edges: list[float]):
    """#{edges ≤ v} as a literal-threshold chain — v is a plain column
    reference, so repeating it across branches costs nothing (unlike
    the bootstrap's md5 tree)."""
    b = F.lit(0)
    for e in edges:
        b = b + F.when(v >= F.lit(e), 1).otherwise(0)
    return b


def binned_counts_from_value_counts(
    per_value: DataFrame, bin_edges: list[float]
) -> DataFrame:
    """Exact per-bin two-group counts ``(bin, ca, cb)`` over a fixed
    binning (``bin_edges`` literals; two open-ended outer bins), derived
    from a ``per_value_counts`` frame: bin the DISTINCT VALUES and sum
    their exact integer counts. Bin index = #{edges ≤ v} (a
    literal-threshold chain, trivially engine-portable). The pass runs
    over the value domain, so a caller sharing one materialized
    pre-aggregation across the CDF arms (KS, W1) feeds the binned arms
    (PSI, JS) from it for free instead of re-scanning the data."""
    edges = [float(e) for e in bin_edges]
    return (
        per_value.select(
            _bin_index(F.col("v"), edges).alias("bin"), "na_v", "nb_v"
        )
        .groupBy("bin")
        .agg(F.sum("na_v").alias("ca"), F.sum("nb_v").alias("cb"))
    )


def psi_from_bin_counts(per_bin: DataFrame, nbins: int) -> DataFrame:
    """Population Stability Index over a per-bin count frame
    (``binned_counts_from_value_counts``) — the ML-monitoring standard
    for "has this feature/score distribution shifted between two
    populations" (reference vs current scoring batch):

        PSI = Σ_bins (p_i − q_i) · ln(p_i / q_i)

    with add-0.5 smoothing so an empty bin contributes a finite term:
    p_i = (c_i + 0.5)/(n + 0.5·B). Common read: < 0.1 stable,
    0.1–0.25 moderate shift, > 0.25 major shift. ONE row
    (n_a, n_b, psi). The binned complement of KS (q142): insensitive
    to within-bin wiggle, sensitive to mass moving between bins.
    Each bin's term is a fixed double expression rounded into
    DECIMAL(18,9) before the order-free B-row sum, so the result is
    engine-exact."""
    tot = per_bin.agg(
        F.sum("ca").cast("bigint").alias("n_a"), F.sum("cb").cast("bigint").alias("n_b")
    )
    j = per_bin.crossJoin(F.broadcast(tot))
    p = (F.col("ca").cast("double") + 0.5) / (
        F.col("n_a").cast("double") + 0.5 * nbins
    )
    q = (F.col("cb").cast("double") + 0.5) / (
        F.col("n_b").cast("double") + 0.5 * nbins
    )
    term = ((p - q) * F.log(p / q)).cast("decimal(18,9)")
    return (
        j.groupBy("n_a", "n_b")
        .agg(F.sum(term).alias("_psi"))
        # No final round (r12): engine-specific ln is already absorbed by
        # the per-term DECIMAL(18,9) rounding; the exact term sum (|PSI|
        # ≲ 10, scaled ≤ 1e10 — far inside the double mantissa) casts to
        # double bit-identically on both engines.
        .select("n_a", "n_b", F.col("_psi").cast("double").alias("psi"))
    )


def js_from_bin_counts(per_bin: DataFrame, nbins: int) -> DataFrame:
    """Jensen-Shannon divergence between the two binned distributions
    of a per-bin count frame (Lin 1991) — PSI's bounded, symmetric
    sibling:

        JS = ½·KL(P ‖ M) + ½·KL(Q ‖ M),   M = ½(P + Q)

    in nats over ``nbins`` bins with the same add-0.5 smoothing as
    ``psi_from_bin_counts``. Always finite and ≤ ln 2 ≈ 0.6931 even when a bin
    is empty on one side (where PSI's ln(p/q) term blows up with only
    smoothing to save it). ONE row (n_a, n_b, js). Per-bin fixed
    double terms are rounded into DECIMAL(18,9) before the order-free
    sum, so the result is engine-exact."""
    tot = per_bin.agg(
        F.sum("ca").cast("bigint").alias("n_a"), F.sum("cb").cast("bigint").alias("n_b")
    )
    j = per_bin.crossJoin(F.broadcast(tot))
    p = (F.col("ca").cast("double") + 0.5) / (
        F.col("n_a").cast("double") + 0.5 * nbins
    )
    q = (F.col("cb").cast("double") + 0.5) / (
        F.col("n_b").cast("double") + 0.5 * nbins
    )
    m = (p + q) / 2
    term = (0.5 * p * F.log(p / m) + 0.5 * q * F.log(q / m)).cast("decimal(18,9)")
    return (
        j.groupBy("n_a", "n_b")
        .agg(F.sum(term).alias("_js"))
        # No final round (r12): ln absorbed per-term into DECIMAL(18,9);
        # JS ≤ ln 2, so the exact sum casts to double bit-identically.
        .select("n_a", "n_b", F.col("_js").cast("double").alias("js"))
    )


def ks_two_sample_kll(
    df: DataFrame,
    value_col: str,
    group_col: str,
    group_a,
    group_b,
    k: int = 200,
    grid: int = 100,
) -> DataFrame:
    """The KS statistic's 100 TB scale path — the one ``ks_two_sample``
    's docstring prescribes: estimate D from mergeable KLL quantile
    sketches instead of exact per-distinct-value counts, removing the
    serial running-sum section entirely. Each group is collapsed to a
    k-parameter KLL sketch (ONE map-side-combined aggregate, mergeable
    across partitions/batches — a streaming gate can keep the
    reference side's sketch materialized); each sketch is read out at
    ``grid``+1 evenly spaced quantiles, and

        D̂ = max over both grids' points x of |F̂_a(x) − F̂_b(x)|,
        F̂_g(x) = #{quantile points of g ≤ x} / (grid+1)

    Error is O(1/grid) + the sketch's rank error (~1.3 % at k=200), so
    |D̂ − D| ≲ 0.03 in practice; the exact form stays the
    oracle-checkable ground truth (q142 pins |D̂ − D| ≤ 0.05 as a
    driver-checked boolean — the q28/q82 sketch-arm protocol). ONE row
    (d_kll). Plan: one sketch aggregate, then all arithmetic on ONE
    row of two (grid+1)-element arrays (localCheckpoint'ed so the
    interpreted higher-order functions never re-evaluate the sketch
    reads — the r3 HOF rule); nothing data-sized leaves the scan."""
    sk = (
        df.filter(F.col(group_col).isin([group_a, group_b]))
        .filter(F.col(value_col).isNotNull())
        .groupBy(
            F.when(F.col(group_col) == group_a, F.lit("a"))
            .otherwise(F.lit("b"))
            .alias("_g")
        )
        .agg(
            F.kll_sketch_agg_double(
                F.col(value_col).cast("double"), F.lit(int(k))
            ).alias("kll")
        )
    )
    row = sk.groupBy().pivot("_g", ["a", "b"]).agg(F.first("kll"))
    ps = [i / grid for i in range(grid + 1)]

    def _qs(c: str):
        return F.array(
            *[F.kll_sketch_get_quantile_double(F.col(c), F.lit(p)) for p in ps]
        )

    arrays = row.select(_qs("a").alias("qa"), _qs("b").alias("qb"))
    arrays = arrays.localCheckpoint(eager=True)  # freeze the sketch reads
    npts = float(grid + 1)

    def _cdf(arr: str, x):
        return F.size(F.filter(F.col(arr), lambda e: e <= x)).cast("double") / npts

    d = F.array_max(
        F.transform(
            F.concat(F.col("qa"), F.col("qb")),
            lambda x: F.abs(_cdf("qa", x) - _cdf("qb", x)),
        )
    )
    return arrays.select(F.round(d, 6).alias("d_kll"))


def welch_t_test(
    df: DataFrame,
    value_col: str,
    group_col: str,
    group_a,
    group_b,
) -> DataFrame:
    """Welch's unequal-variance two-sample t-test — the default
    significance readout for a continuous A/B metric (Welch 1947;
    preferred over Student's t because variant variances are never
    provably equal). ONE row:

        (n_a, n_b, mean_a, mean_b, t_stat, dof)

    with t = (m_a − m_b)/√(s²_a/n_a + s²_b/n_b) and the
    Welch-Satterthwaite dof. NULL t/dof when either group has < 2
    observations or both variances are zero.

    Determinism (the q129 policy): values enter as DECIMAL(12,4) —
    narrow enough that x² stays inside both engines' exact decimal
    multiply — so Σx and Σx² are order-free exact aggregates; means,
    variances, t and dof are then fixed scalar double expressions —
    means unrounded (Σx fits the double mantissa), t/dof rounded to
    6 decimals (Σx² does not). Plan: ONE map-side-combined aggregate over
    the filtered rows, then scalar math — no shuffle wider than two
    group keys, nothing data-sized after the scan."""
    x = F.col(value_col).cast("decimal(12,4)")
    g = (
        df.filter(F.col(group_col).isin([group_a, group_b]))
        .filter(F.col(value_col).isNotNull())
        .groupBy(
            F.when(F.col(group_col) == group_a, F.lit("a"))
            .otherwise(F.lit("b"))
            .alias("_g")
        )
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(x).alias("sx"),
            F.sum(x * x).alias("sxx"),
        )
    )
    row = g.groupBy().pivot("_g", ["a", "b"]).agg(
        F.first("n").alias("n"), F.first("sx").alias("sx"), F.first("sxx").alias("sxx")
    )
    na, nb = F.col("a_n").cast("double"), F.col("b_n").cast("double")
    ma = F.col("a_sx").cast("double") / na
    mb = F.col("b_sx").cast("double") / nb
    va = (F.col("a_sxx").cast("double") - na * ma * ma) / (na - 1)
    vb = (F.col("b_sxx").cast("double") - nb * mb * mb) / (nb - 1)
    se2 = va / na + vb / nb
    t = (ma - mb) / F.sqrt(se2)
    dof = (se2 * se2) / (
        (va / na) * (va / na) / (na - 1) + (vb / nb) * (vb / nb) / (nb - 1)
    )
    ok = (na >= 2) & (nb >= 2) & (se2 > 0)
    return row.select(
        F.col("a_n").cast("bigint").alias("n_a"),
        F.col("b_n").cast("bigint").alias("n_b"),
        # means unrounded (r12, the q98 class): Σx fits the double
        # mantissa → sum/count bit-identical. t/dof STAY rounded: Σx²
        # exceeds the mantissa (the q129 cast lesson).
        ma.alias("mean_a"),
        mb.alias("mean_b"),
        F.when(ok, F.round(t, 6)).alias("t_stat"),
        F.when(ok, F.round(dof, 6)).alias("dof"),
    )


def msprt_normal(
    df: DataFrame,
    value_col: str,
    group_col: str,
    group_a,
    group_b,
    tau2: float = 1.0,
) -> DataFrame:
    """Mixture Sequential Probability Ratio Test — the ALWAYS-VALID
    inference readout (Johari, Koomen, Pekelis & Walsh, KDD 2017
    "Peeking at A/B Tests"): unlike the fixed-horizon t/z tests, its
    p-value may be monitored continuously and stopped on at any time
    without inflating false positives. Normal mixture N(0, τ²) over
    the effect, with θ̂ = mean_a − mean_b and V = s²_a/n_a + s²_b/n_b
    (the Welch variance):

        ln Λ = ½·ln(V/(V+τ²)) + θ̂²·τ²/(2·V·(V+τ²))
        p_always_valid at this look = min(1, e^{−ln Λ})

    ONE row (n_a, n_b, mean_a, mean_b, log_lambda, p_always_valid).
    The always-valid guarantee is over the RUNNING MINIMUM of p across
    looks — persist the min externally (one scalar per experiment);
    this computes the current look. ``tau2`` tunes power toward the
    effect sizes worth detecting (Johari et al. §5). NULLs when either
    group has < 2 observations or V = 0.

    Same determinism + plan as ``welch_t_test``: one map-side-combined
    aggregate of exact decimal sums, fixed scalar double math after —
    means unrounded, log_lambda/p rounded to 6 decimals (libm ln/exp
    plus the wide-Σx² cast; ln Λ overflows nowhere — the exp lives only
    inside the p clamp, where IEEE e^{−huge} → 0 identically in both
    engines)."""
    x = F.col(value_col).cast("decimal(12,4)")
    g = (
        df.filter(F.col(group_col).isin([group_a, group_b]))
        .filter(F.col(value_col).isNotNull())
        .groupBy(
            F.when(F.col(group_col) == group_a, F.lit("a"))
            .otherwise(F.lit("b"))
            .alias("_g")
        )
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(x).alias("sx"),
            F.sum(x * x).alias("sxx"),
        )
    )
    row = g.groupBy().pivot("_g", ["a", "b"]).agg(
        F.first("n").alias("n"), F.first("sx").alias("sx"), F.first("sxx").alias("sxx")
    )
    na, nb = F.col("a_n").cast("double"), F.col("b_n").cast("double")
    ma = F.col("a_sx").cast("double") / na
    mb = F.col("b_sx").cast("double") / nb
    va = (F.col("a_sxx").cast("double") - na * ma * ma) / (na - 1)
    vb = (F.col("b_sxx").cast("double") - nb * mb * mb) / (nb - 1)
    v = va / na + vb / nb
    t2 = F.lit(float(tau2))
    theta = ma - mb
    log_lam = 0.5 * F.log(v / (v + t2)) + theta * theta * t2 / (2 * v * (v + t2))
    p = F.least(F.lit(1.0), F.exp(-log_lam))
    ok = (na >= 2) & (nb >= 2) & (v > 0)
    return row.select(
        F.col("a_n").cast("bigint").alias("n_a"),
        F.col("b_n").cast("bigint").alias("n_b"),
        # means unrounded (r12): Σx fits the double mantissa. log_lambda/p
        # STAY rounded: se2 is fed by the engine-specific Σx² cast (q129)
        # and ln/exp are engine-specific libm.
        ma.alias("mean_a"),
        mb.alias("mean_b"),
        F.when(ok, F.round(log_lam, 6)).alias("log_lambda"),
        F.when(ok, F.round(p, 6)).alias("p_always_valid"),
    )


def two_proportion_ztest(
    df: DataFrame,
    success_col: str,
    group_col: str,
    group_a,
    group_b,
) -> DataFrame:
    """Pooled two-proportion z-test — the significance readout for a
    binary A/B metric (conversion, click-through). ONE row:

        (n_a, n_b, p_a, p_b, z_stat)

    with z = (p̂_a − p̂_b)/√(p̂(1−p̂)(1/n_a + 1/n_b)), p̂ pooled.
    NULL z when either group is empty or the pooled proportion is 0
    or 1 (zero variance). ``success_col`` is boolean (or 0/1).

    All counts are exact integers; p̂s and z are fixed double
    expressions over them, UNROUNDED (r12: exact IEEE plus one
    correctly-rounded sqrt — bit-identical cross-engine). One
    map-side-combined aggregate, scalar math after."""
    s = F.col(success_col).cast("int")
    g = (
        df.filter(F.col(group_col).isin([group_a, group_b]))
        .filter(F.col(success_col).isNotNull())
        .groupBy(
            F.when(F.col(group_col) == group_a, F.lit("a"))
            .otherwise(F.lit("b"))
            .alias("_g")
        )
        .agg(F.count(F.lit(1)).alias("n"), F.sum(s).alias("k"))
    )
    row = g.groupBy().pivot("_g", ["a", "b"]).agg(
        F.first("n").alias("n"), F.first("k").alias("k")
    )
    na, nb = F.col("a_n").cast("double"), F.col("b_n").cast("double")
    pa = F.col("a_k").cast("double") / na
    pb = F.col("b_k").cast("double") / nb
    pp = (F.col("a_k") + F.col("b_k")).cast("double") / (na + nb)
    z = (pa - pb) / F.sqrt(pp * (1 - pp) * (1 / na + 1 / nb))
    ok = (na >= 1) & (nb >= 1) & (pp > 0) & (pp < 1)
    return row.select(
        F.col("a_n").cast("bigint").alias("n_a"),
        F.col("b_n").cast("bigint").alias("n_b"),
        # No final round (r12, the q98 class): p̂s are integer-count
        # ratios and z adds only exactly-rounded ops plus a correctly-
        # rounded sqrt — bit-identical cross-engine unrounded.
        pa.alias("p_a"),
        pb.alias("p_b"),
        F.when(ok, z).alias("z_stat"),
    )


def series_params(
    series: DataFrame,
    t_col: str,
    x_col: str,
    baseline_n: int,
    k_sd: float = 0.5,
    h_sd: float = 4.0,
) -> DataFrame:
    """Baseline parameters for the sequential control charts below,
    estimated from the FIRST ``baseline_n`` points of an ordered
    (t, x) series: ONE row

        (mu, sd, k, h)

    with mu/sd the baseline mean and sample standard deviation and
    k = k_sd·sd, h = h_sd·sd (the classic CUSUM allowance/decision
    pair; for EWMA only mu/sd are read). sd comes from the explicit
    sum-of-squares identity √((Σx² − (Σx)²/n)/(n−1)) rather than an
    engine stddev aggregate, so an integer-exact series (daily event
    counts) yields the bit-identical double in any engine that
    replays the same formula — the q143 moment-aggregate discipline.

    The series frame is ONE ROW PER TIME POINT (the caller
    pre-aggregates raw events to per-day/per-hour grain first), so
    every window here is bounded by the time horizon, not data size."""
    from pyspark.sql import Window

    # bounded-serial: ranks the per-time-point series (time-horizon-sized)
    w = Window.orderBy(t_col)
    base = (
        series.select(F.col(t_col), F.col(x_col).cast("double").alias("_x"))
        .withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= int(baseline_n))
    )
    agg = base.agg(
        F.count(F.lit(1)).cast("double").alias("_n"),
        F.sum("_x").alias("_sx"),
        F.sum(F.col("_x") * F.col("_x")).alias("_sxx"),
    )
    n, sx, sxx = F.col("_n"), F.col("_sx"), F.col("_sxx")
    sd = F.sqrt((sxx - sx * sx / n) / (n - 1))
    return agg.select(
        (sx / n).alias("mu"),
        sd.alias("sd"),
        (F.lit(float(k_sd)) * sd).alias("k"),
        (F.lit(float(h_sd)) * sd).alias("h"),
    )


def cusum_changepoint(
    series: DataFrame,
    t_col: str,
    x_col: str,
    params: DataFrame,
) -> DataFrame:
    """One-sided (upper) CUSUM change-point detector over an ordered
    (t, x) series — the sequential complement of the two-sample drift
    battery: KS/PSI ask "do these two batches differ?", CUSUM asks
    "at WHICH point did this metric's level shift?" (Page 1954), the
    standard monitor for ingest volume / quality-score level shifts
    between pipeline runs.

    ``params`` is a ONE-ROW (mu, k, h, …) frame (``series_params``).
    The recursion S_t = max(0, S_{t−1} + x_t − mu − k) is evaluated
    distributively via the prefix identity S_t = RS_t − min(0,
    min_{j≤t} RS_j) with RS the running sum of (x − mu − k): two
    frames over ONE ordered window instead of a serial fold. ONE row:

        (n_points, s_max, alarm_t)

    s_max = max_t S_t (6dp), alarm_t = the 1-based index of the FIRST
    point with S_t > h (NULL when the chart never signals). The series
    is one row per time point, so the unpartitioned window is bounded
    by the time horizon — same discipline as ks_two_sample's
    distinct-value sort."""
    from pyspark.sql import Window

    s = series.select(
        F.col(t_col).alias("_t"), F.col(x_col).cast("double").alias("_x")
    ).crossJoin(F.broadcast(params))
    # bounded-serial: one row per time point (time-horizon-sized series)
    w = Window.orderBy("_t").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    rs = s.select(
        "_t",
        "h",
        # bounded-serial: one row per time point (time-horizon-sized series)
        F.row_number().over(Window.orderBy("_t")).alias("_i"),
        F.sum(F.col("_x") - F.col("mu") - F.col("k")).over(w).alias("_rs"),
    )
    # bounded-serial: prefix min over the same time-horizon-sized sort
    st = rs.select(
        "_i",
        "h",
        (F.col("_rs") - F.least(F.lit(0.0), F.min("_rs").over(w))).alias("_s"),
    )
    return st.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_points"),
        # ROUND is LOAD-BEARING here (r12 audit): the running Σ(x−μ−k) is
        # an ordered chain of double adds, and engines may associate
        # windowed sums differently (segment-tree vs streaming) — the
        # round absorbs that; boundary risk is measure-zero on the
        # full-entropy accumulated values.
        F.round(F.max("_s"), 6).alias("s_max"),
        F.min(F.when(F.col("_s") > F.col("h"), F.col("_i")))
        .cast("bigint")
        .alias("alarm_t"),
    )


def ewma_control(
    series: DataFrame,
    t_col: str,
    x_col: str,
    params: DataFrame,
    lam: float = 0.2,
    limit_sd: float = 3.0,
) -> DataFrame:
    """EWMA control chart over an ordered (t, x) series (Roberts
    1959): E_t = λ·x_t + (1−λ)·E_{t−1}, E_0 = mu, signalling when
    |E_t − mu| exceeds L·sd·√(λ/(2−λ)·(1−(1−λ)^{2t})) — the
    small-persistent-shift detector CUSUM's step-change tuning can
    miss. ``params`` is the one-row (mu, sd, …) frame
    (``series_params``). ONE row:

        (n_points, ewma_last, alarm_t)

    ewma_last = E_T (6dp), alarm_t = 1-based index of the first
    signalling point (NULL if none).

    E_t is an order-sensitive recursion, but it has a CLOSED FORM one
    running sum away (VERDICT r8 directive 5): with d = 1−λ,

        E_t = d^t·mu + λ·d^t·R_t,   R_t = Σ_{j≤t} d^(−j)·x_j

    so the chart is O(T): one row_number, one windowed running sum of
    d^(−j)·x_j over the horizon-sized ordered series, and per-row
    scalar math — no collect_list, no per-row prefix fold (the r8
    form re-folded each prefix: O(T²) scalars, ~7.6e9 ops on a
    10-year hourly series). The oracle replays the SAME closed-form
    IEEE expressions (pow/multiply/add in matching order), keeping the
    battery arm hash-exact.

    Numerical-range caveat: d^(−j) grows as e^{j·ln(1/d)}; the terms
    overflow double range once T·ln(1/(1−λ)) approaches ~709
    (T ≳ 2700 at λ=0.2, ≳ 60k at λ=0.01). When the series length
    crosses a conservative 600 cap the implementation FALLS BACK to
    the per-prefix fold (correct at any T, O(T²)); below it the
    closed form is also well-conditioned — prefix terms whose weight
    decays below machine epsilon relative to the running sum drop
    out, which is exactly the EWMA's own forgetting. The length probe
    is one count() over the horizon-sized series. The 600 cap bounds
    only T·ln(1/d), which assumes |x| of ordinary magnitude: the closed
    form's terms carry an extra factor max|x|, so values beyond ~1e100
    could still overflow below the cap — such a series raises at
    evaluation time (per-row finite-range guard) instead of silently
    yielding inf/NaN, and should be rescaled first (the chart is
    scale-equivariant)."""
    import math

    from pyspark.sql import Window

    lam = float(lam)
    s = series.select(
        F.col(t_col).alias("_t"), F.col(x_col).cast("double").alias("_x")
    ).crossJoin(F.broadcast(params))
    # bounded-serial: one row per time point (time-horizon-sized series)
    w = Window.orderBy("_t").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    # horizon-sized probe for the overflow cap
    growth = series.count() * math.log(1.0 / (1.0 - lam)) if 0.0 < lam < 1.0 else float("inf")
    if growth < 600.0:
        # closed form: E_t = d^t·mu + λ·d^t·R_t with one running sum
        idx = s.select(
            "mu",
            "sd",
            "_x",
            # bounded-serial: one row per time point (horizon-sized series)
            F.row_number().over(Window.orderBy("_t")).alias("_i"),
        )
        ti = F.col("_i").cast("double")
        terms = idx.select(
            "mu",
            "sd",
            "_i",
            (F.pow(F.lit(1.0 - lam), -ti) * F.col("_x")).alias("_term"),
        )
        # bounded-serial: running sum over the same horizon-sized sort
        wi = Window.orderBy("_i").rowsBetween(
            Window.unboundedPreceding, Window.currentRow
        )
        pre = terms.select("mu", "sd", "_i", F.sum("_term").over(wi).alias("_r"))
        decay = F.pow(F.lit(1.0 - lam), F.col("_i").cast("double"))
        e_raw = decay * F.col("mu") + F.lit(lam) * decay * F.col("_r")
        # overflow guard: an |x| of extreme magnitude can overflow
        # double range below the cap; rather than silently emitting
        # inf/NaN EWMA values, fail loudly per-row (pure scalar check,
        # no extra job; a well-conditioned series never trips it).
        e = F.when(
            F.isnan(e_raw) | (F.abs(e_raw) > F.lit(1.7e308)),
            F.raise_error(
                F.lit(
                    "ewma_control: closed-form EWMA overflowed double range — "
                    "|x| is at extreme magnitude (rescale first)"
                )
            ).cast("double"),
        ).otherwise(e_raw)
    else:
        # fold fallback: each row folds its own prefix — O(T²) scalars,
        # range-safe at any horizon
        pre = s.select(
            "mu",
            "sd",
            # bounded-serial: one row per time point (horizon-sized series)
            F.row_number().over(Window.orderBy("_t")).alias("_i"),
            F.collect_list("_x").over(w).alias("_xs"),
        )
        e = F.aggregate(
            "_xs",
            F.col("mu").cast("double"),
            lambda acc, x: F.lit(lam) * x + F.lit(1.0 - lam) * acc,
        )
    lim = (
        F.lit(float(limit_sd))
        * F.col("sd")
        * F.sqrt(
            F.lit(lam / (2.0 - lam))
            * (
                F.lit(1.0)
                - F.pow(F.lit(1.0 - lam), F.lit(2.0) * F.col("_i").cast("double"))
            )
        )
    )
    # let-bind the EWMA tree once (codegen has no CSE; the closed-form
    # branch now carries the overflow-guard when/raise tree)
    rows = pre.select("_i", "mu", "sd", e.alias("_e")).select(
        "_i",
        "_e",
        (F.abs(F.col("_e") - F.col("mu")) > lim).alias("_alarm"),
    )
    return rows.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_points"),
        # ROUND is LOAD-BEARING: the oracle replays EWMA in pow() closed
        # form while this side folds the recurrence — different
        # association order and engine-specific pow; the round absorbs
        # both (measure-zero boundary on full-entropy values).
        F.round(F.max_by("_e", "_i"), 6).alias("ewma_last"),
        F.min(F.when(F.col("_alarm"), F.col("_i"))).cast("bigint").alias("alarm_t"),
    )


# Abramowitz & Stegun 26.2.17 normal-CDF polynomial (|ε| < 7.5e-8),
# shared verbatim by the Column form and the generated SQL mirror so
# a DuckDB oracle replays the identical IEEE expression.
_NORM_P0 = 0.2316419
_NORM_B = (0.31938153, -0.356563782, 1.781477937, -1.821255978, 1.330274429)
_INV_SQRT_2PI = 0.3989422804014327


def normal_p_two_sided(z) -> "F.Column":
    """Two-sided normal p-value ``2·(1 − Φ(|z|))`` as a pure Column
    expression — the Abramowitz & Stegun 26.2.17 polynomial
    approximation (|ε| < 7.5·10⁻⁸, far inside the repo's 6dp rounding),
    Horner-evaluated so the SQL mirror (``normal_p_two_sided_sql``)
    replays the exact same multiply/add sequence. Engines ship no
    erf()/CDF builtin portable across Spark and DuckDB; a fixed public
    polynomial is the deterministic route."""
    if isinstance(z, str):
        z = F.col(z)
    az = F.abs(z)
    t = F.lit(1.0) / (F.lit(1.0) + F.lit(_NORM_P0) * az)
    b1, b2, b3, b4, b5 = (F.lit(b) for b in _NORM_B)
    poly = t * (b1 + t * (b2 + t * (b3 + t * (b4 + t * b5))))
    phi = F.lit(_INV_SQRT_2PI) * F.exp(-az * az / F.lit(2.0))
    return F.least(F.lit(1.0), F.lit(2.0) * phi * poly)


def normal_p_two_sided_sql(z_expr: str) -> str:
    """SQL mirror of ``normal_p_two_sided`` (generated from the same
    constants — the strip_html_sql/bpe_tokens_sql discipline): paste
    into a DuckDB oracle to replay the identical double arithmetic."""
    b1, b2, b3, b4, b5 = _NORM_B
    az = f"ABS({z_expr})"
    t = f"(1.0 / (1.0 + {_NORM_P0} * {az}))"
    poly = f"({t} * ({b1} + {t} * ({b2} + {t} * ({b3} + {t} * ({b4} + {t} * {b5})))))"
    phi = f"({_INV_SQRT_2PI} * exp(-({az}) * ({az}) / 2.0))"
    return f"LEAST(1.0, 2.0 * {phi} * {poly})"


def bh_adjust(
    df: DataFrame,
    p_col: str = "p_value",
    key_col: str = "test",
    alpha: float = 0.05,
) -> DataFrame:
    """Benjamini-Hochberg FDR adjustment (Benjamini & Hochberg 1995)
    across the rows of a small battery frame: adds

        p_adj     — BH step-up adjusted p (min over j ≥ i of p_j·m/j,
                    clamped to 1; UNROUNDED — exact-input IEEE over
                    the 6dp-absorbed p's, r12)
        bh_reject — p_adj ≤ alpha (the BH decision at FDR level alpha)

    keyed by ``key_col`` (must be unique per row). Rows with NULL p
    keep NULL p_adj/bh_reject and do not count toward m — a battery
    arm without a p-value (e.g. a bootstrap CI row) passes through.
    The multiple-testing guard a battery NEEDS: eight looks at one
    experiment at α=0.05 false-positive ~ 1/3 of null experiments.

    Plan: ranks + the reverse running min run on the BATTERY-sized
    frame (a handful of rows by contract — callers pass the unioned
    arm outputs, never data), then one broadcast join back. Callers
    should MATERIALIZE the battery first (localCheckpoint — it is a
    handful of rows): the rank subframe and the join-back otherwise
    re-evaluate every arm's subplan."""
    from pyspark.sql import Window

    p = F.col(p_col)
    nn = df.filter(p.isNotNull()).select(key_col, p_col)
    # bounded-serial: battery-sized frame (one row per test arm) by contract
    w_rank = Window.orderBy(p_col, key_col)
    # bounded-serial: same battery-sized frame, full-frame total
    w_all = Window.orderBy(p_col, key_col).rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    ranked = nn.select(
        key_col,
        F.row_number().over(w_rank).alias("_rnk"),
        F.count(F.lit(1)).over(w_all).alias("_m"),
        p,
    ).select(
        key_col,
        "_rnk",
        (
            p * F.col("_m").cast("double") / F.col("_rnk").cast("double")
        ).alias("_raw"),
    )
    # bounded-serial: reverse running min over the battery-sized ranks
    w_rev = Window.orderBy(F.col("_rnk").desc()).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    adj = ranked.select(
        key_col,
        F.least(F.lit(1.0), F.min("_raw").over(w_rev)).alias("_adj"),
    )
    return df.join(F.broadcast(adj), on=key_col, how="left").withColumns(
        {
            # unrounded (r12): p·m/rank over already-6dp-absorbed p's is
            # exact-input IEEE — bit-identical cross-engine; rounding it
            # re-introduces a reachable half-boundary.
            "p_adj": F.col("_adj"),
            "bh_reject": F.col("_adj") <= F.lit(float(alpha)),
        }
    ).drop("_adj")


def delta_method_ratio_test(
    df: DataFrame,
    num_col: str,
    den_col: str,
    group_col: str,
    group_a,
    group_b,
    ci_z: float = 1.959964,
) -> DataFrame:
    """Two-sample z-test on a RATIO metric R = Σnum/Σden per variant —
    the readout for per-unit ratios (revenue per converted order,
    clicks per session) whose denominator is itself random, where a
    plain t-test on per-row ratios is undefined/biased. Variance by
    the delta method (Deng, Knoblich & Lu, KDD'18 §3.1):

        Var(R) ≈ (s²_u + R²·s²_w − 2·R·s_uw) / (n · w̄²)

    with u = num, w = den per unit. ONE row:

        (n_a, n_b, ratio_a, ratio_b, diff, z_stat, ci_lo, ci_hi)

    z = (R_a − R_b)/√(V_a + V_b), CI = diff ± ci_z·√(V_a+V_b). NULL
    stat/CI when either group has < 2 units, a zero denominator sum,
    or zero combined variance.

    Determinism (the welch_t discipline): num/den enter as
    DECIMAL(12,4) so Σu, Σw, Σu², Σw², Σuw are exact order-free
    decimal aggregates; everything after is fixed scalar double math —
    ratios/diff unrounded (first-moment sums fit the mantissa), z/CI
    rounded to 6dp (the second-moment sums do not). Plan: ONE
    map-side-combined aggregate, scalar
    output."""
    u = F.col(num_col).cast("decimal(12,4)")
    w = F.col(den_col).cast("decimal(12,4)")
    g = (
        df.filter(F.col(group_col).isin([group_a, group_b]))
        .filter(F.col(num_col).isNotNull() & F.col(den_col).isNotNull())
        .groupBy(
            F.when(F.col(group_col) == group_a, F.lit("a"))
            .otherwise(F.lit("b"))
            .alias("_g")
        )
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(u).alias("su"),
            F.sum(w).alias("sw"),
            F.sum(u * u).alias("suu"),
            F.sum(w * w).alias("sww"),
            F.sum(u * w).alias("suw"),
        )
    )
    row = g.groupBy().pivot("_g", ["a", "b"]).agg(
        F.first("n").alias("n"),
        F.first("su").alias("su"),
        F.first("sw").alias("sw"),
        F.first("suu").alias("suu"),
        F.first("sww").alias("sww"),
        F.first("suw").alias("suw"),
    )

    def _side(s: str):
        n = F.col(f"{s}_n").cast("double")
        su = F.col(f"{s}_su").cast("double")
        sw = F.col(f"{s}_sw").cast("double")
        mu, mw = su / n, sw / n
        vu = (F.col(f"{s}_suu").cast("double") - n * mu * mu) / (n - 1)
        vw = (F.col(f"{s}_sww").cast("double") - n * mw * mw) / (n - 1)
        cuw = (F.col(f"{s}_suw").cast("double") - n * mu * mw) / (n - 1)
        r = su / sw
        vr = (vu + r * r * vw - 2 * r * cuw) / (n * mw * mw)
        return n, sw, r, vr

    na, swa, ra, vra = _side("a")
    nb, swb, rb, vrb = _side("b")
    se = F.sqrt(vra + vrb)
    diff = ra - rb
    ok = (na >= 2) & (nb >= 2) & (swa != 0) & (swb != 0) & (vra + vrb > 0)
    return row.select(
        F.col("a_n").cast("bigint").alias("n_a"),
        F.col("b_n").cast("bigint").alias("n_b"),
        # ratios/diff unrounded (r12): Σu, Σw decimal sums fit the double
        # mantissa → each ratio is one bit-identical IEEE divide. z/ci
        # STAY rounded: Σu², Σw², Σuw exceed the mantissa (q129 lesson).
        F.when(swa != 0, ra).alias("ratio_a"),
        F.when(swb != 0, rb).alias("ratio_b"),
        F.when((swa != 0) & (swb != 0), diff).alias("diff"),
        F.when(ok, F.round(diff / se, 6)).alias("z_stat"),
        F.when(ok, F.round(diff - F.lit(float(ci_z)) * se, 6)).alias("ci_lo"),
        F.when(ok, F.round(diff + F.lit(float(ci_z)) * se, 6)).alias("ci_hi"),
    )
