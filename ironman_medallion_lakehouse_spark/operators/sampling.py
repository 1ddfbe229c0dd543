"""Deterministic stratified sampling — training-data mixture control.

Beyond-reference extension (BASELINE.json north star). A 100 TB
pretraining pipeline rarely takes data as-is: it downsamples dominant
strata (language, source, quality band) and keeps rare ones, by quota.
The stratified samplers are deterministic and replayable:

- ``stratified_sample``: per-stratum RATE sampling by key hash —
  zero shuffles, a map-only filter. The hash is md5-based (not
  Spark's ``rand()``/``sample()``), so the decision for a given key is
  stable across runs, engines, partitionings, and cluster sizes:
  re-running the pipeline samples the SAME rows (the property that
  makes sampled datasets diffable and the DuckDB oracle possible),
  and downstream incremental runs never flip membership.
- ``temperature_mixture_sample``: the same hash filter with per-stratum
  rates derived from a temperature-smoothed share of a total budget.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

_DENOM = 1_000_000


def _uhash(key: Column, salt: str) -> Column:
    """Uniform [0, 1M) integer from md5(key:salt) — engine-portable
    (DuckDB replay: ``('0x' || substr(md5(...), 1, 8))::UBIGINT %
    1000000``)."""
    return (
        F.conv(
            F.substring(F.md5(F.concat_ws(":", key.cast("string"), F.lit(salt))), 1, 8),
            16,
            10,
        ).cast("bigint")
        % _DENOM
    )


def stratified_sample(
    df: DataFrame,
    strata_col: str,
    rates: dict[str, float],
    key_col: str,
    default_rate: float = 0.0,
    salt: str = "strat",
) -> DataFrame:
    """Keep each row with its stratum's probability, decided by a
    deterministic hash of ``key_col``. Strata absent from ``rates``
    use ``default_rate`` (0.0 = drop unknown strata — the safe default
    for a curated mixture)."""
    m = F.create_map(*[F.lit(x) for kv in rates.items() for x in kv])
    rate = F.coalesce(m[F.col(strata_col)], F.lit(float(default_rate)))
    return df.filter(_uhash(F.col(key_col), salt) < (rate * _DENOM).cast("bigint"))


def temperature_mixture_sample(
    df: DataFrame,
    strata_col: str,
    key_col: str,
    total_budget: int,
    alpha: float = 0.5,
    salt: str = "temp",
) -> DataFrame:
    """Temperature-smoothed mixture resampling — the multilingual-
    pretraining standard (Conneau & Lample 2019, XLM; Raffel et al.,
    T5 §3.4.3): stratum l with count c_l gets target share
    q_l ∝ c_l^α, so α<1 flattens the mixture (upsamples rare
    languages/sources relative to their natural share) and α=1 is
    proportional. Each stratum keeps rate_l = min(1, B·q_l / c_l)
    for a total expected budget of B rows, decided per row by the
    same deterministic md5 key hash as ``stratified_sample``.

    Two passes: one map-side-combined count per stratum (output =
    #strata rows, broadcast back), then the map-only hash filter —
    nothing about the corpus is collected, so the op is a 100 TB scan
    plus a free small join.

    Cross-engine determinism (the suite uses α=0.5): sqrt is IEEE-754
    correctly-rounded in every engine, and c_l^0.5 is rounded into
    DECIMAL(18,6) before the share normalization; the decimal sum is
    exact (order-free), and the remaining arithmetic is the fixed
    left-associated expression ((B · s_l) / S) / c_l on doubles that
    are themselves exact decimal values — so the integer keep
    thresholds replay bit-identically in the DuckDB oracle. α ≠ 0.5
    goes through pow(), which is not guaranteed correctly-rounded
    across engines — fine in production, not oracle-exact."""
    c = F.col("_cnt").cast("double")
    if alpha == 0.5:
        smoothed = F.sqrt(c)
    else:
        smoothed = F.pow(c, F.lit(float(alpha)))
    counts = df.groupBy(strata_col).agg(F.count(F.lit(1)).alias("_cnt"))
    shares = counts.select(
        F.col(strata_col),
        F.col("_cnt"),
        smoothed.cast("decimal(18,6)").alias("_s"),
    )
    tot = shares.agg(F.sum("_s").alias("_stot"))
    rates = shares.crossJoin(F.broadcast(tot)).select(
        F.col(strata_col),
        F.least(
            F.lit(1.0),
            F.lit(float(total_budget))
            * F.col("_s").cast("double")
            / F.col("_stot").cast("double")
            / F.col("_cnt").cast("double"),
        ).alias("_rate"),
    )
    thresholds = rates.select(
        F.col(strata_col),
        (F.col("_rate") * _DENOM).cast("bigint").alias("_thr"),
    )
    return (
        df.join(F.broadcast(thresholds), strata_col)
        .filter(_uhash(F.col(key_col), salt) < F.col("_thr"))
        .drop("_thr")
    )


def dsir_logweights(
    docs: DataFrame,
    is_target: Column,
    n_buckets: int = 256,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """DSIR importance weights (Xie et al. 2023, "Data Selection for
    Language Models via Importance Resampling"): score every document
    by how much more likely its hashed-unigram bag is under the TARGET
    distribution (rows where ``is_target``) than under the RAW corpus
    distribution — the standard way to tilt a 100 TB crawl toward a
    curated domain without training a classifier.

        log w(x) = Σ_b c_b(x) · ( ln p̂_T[b] − ln p̂_R[b] )

    with tokens hashed into ``n_buckets`` buckets and add-1 smoothed
    bucket unigram models p̂. Output: (id, n_tokens, log_weight).

    Plan shape: one explode+groupBy builds the per-doc bucket counts
    (map-side combined, output bounded by docs × distinct-buckets);
    the bucket models are ONE aggregate over the same token stream
    (``n_buckets`` rows — broadcast); scoring is a broadcast join plus
    a grouped decimal sum. Nothing driver-side, nothing quadratic.

    Determinism: the per-bucket log-ratio is rounded into
    DECIMAL(18,6) BEFORE the per-doc Σ c_b·lr_b, which is then an
    exact integer×decimal sum — order-free across partitions and
    engines (the q98 policy); ln's last-ulp wobble is absorbed by the
    6-decimal rounding."""
    from ironman_medallion_lakehouse_spark.functions.text import words
    from ironman_medallion_lakehouse_spark.operators.dedup import token_hash_raw

    tf = docs.select(
        F.col(id_col),
        is_target.alias("_tgt"),
        F.explode(words(text_col)).alias("tok"),
    ).select(
        F.col(id_col),
        "_tgt",
        F.pmod(token_hash_raw(F.col("tok")), F.lit(n_buckets)).alias("bucket"),
    )
    doc_bucket = tf.groupBy(id_col, "bucket").agg(
        F.count(F.lit(1)).alias("cnt")
    )
    raw = tf.groupBy("bucket").agg(
        F.count(F.lit(1)).alias("cnt_raw"),
        F.sum(F.col("_tgt").cast("long")).alias("cnt_tgt"),
    )
    tot = raw.agg(
        F.sum("cnt_raw").alias("tot_raw"), F.sum("cnt_tgt").alias("tot_tgt")
    )
    b = F.lit(n_buckets)
    lr = (
        F.log(
            (F.col("cnt_tgt") + 1).cast("double")
            / (F.col("tot_tgt") + b).cast("double")
        )
        - F.log(
            (F.col("cnt_raw") + 1).cast("double")
            / (F.col("tot_raw") + b).cast("double")
        )
    ).cast("decimal(18,6)")
    ratio = raw.crossJoin(F.broadcast(tot)).select(F.col("bucket"), lr.alias("lr"))
    return (
        doc_bucket.join(F.broadcast(ratio), "bucket")
        .groupBy(id_col)
        .agg(
            F.sum("cnt").alias("n_tokens"),
            # unrounded (r13): Σ cnt·lr is an exact integer×decimal sum
            # whose scaled magnitude fits the mantissa — the cast is
            # engine-exact, no final round needed
            F.sum(F.col("cnt") * F.col("lr")).cast("double").alias("log_weight"),
        )
    )


def weighted_sample_topk(
    df: DataFrame,
    weight: Column,
    k: int,
    key_col: str,
    salt: str = "wsamp",
) -> DataFrame:
    """Deterministic weighted sampling WITHOUT replacement (Efraimidis
    & Spirakis 2006, algorithm A-ES): each row draws u ~ U(0,1) from
    the md5 hash of its key and gets priority ln(u)/w; the k largest
    priorities are exactly a weight-proportional sample without
    replacement. The selection step after DSIR (q107) or any quality
    score: sample ∝ weight, reproducibly — same rows on every run,
    engine, and partitioning (what rand()-based sampling can't
    promise), so sampled datasets stay diffable and incremental runs
    never flip membership.

    Non-positive or null weights are excluded (their inclusion
    probability is 0 in the limit; A-ES is undefined there).

    Plan: a map-only priority column + TakeOrderedAndProject
    (per-partition heaps, no global sort) — the same top-k shape as
    cosine_topk, absorbed by any scan at 100 TB.

    Determinism: u = (h+0.5)/2²⁴ is an exact rational from 6 md5 hex
    digits; ln(u)/w is rounded into DECIMAL(28,12) so an engine's
    last-ulp ln wobble cannot reorder near-ties, and the remaining
    tiebreak is the unique key. The 16 integer digits hold any
    |ln(u)/w| up to 10¹⁶ — i.e. weights down to ~2·10⁻¹⁵ — without
    the null-on-overflow that would order differently across engines
    (Spark sorts nulls last DESC, DuckDB first). Output: the sampled
    rows plus their rounded ``priority``."""
    h = F.conv(
        F.substring(
            F.md5(F.concat_ws(":", F.col(key_col).cast("string"), F.lit(salt))),
            1,
            6,
        ),
        16,
        10,
    ).cast("bigint")
    u = (h.cast("double") + F.lit(0.5)) / F.lit(float(1 << 24))
    prio = (F.log(u) / weight.cast("double")).cast("decimal(28,12)")
    return (
        df.filter(weight.isNotNull() & (weight.cast("double") > 0))
        .withColumn("priority", prio)
        .orderBy(F.col("priority").desc(), F.col(key_col).asc())
        .limit(k)
    )


def weighted_sample_topk_log(
    df: DataFrame,
    log_weight: Column,
    k: int,
    key_col: str,
    salt: str = "wsamp",
) -> DataFrame:
    """A-ES weighted sampling with weights given in the LOG domain —
    the Gumbel-max top-k formulation. For w = e^lw, ordering by the
    A-ES key u^(1/w) is order-isomorphic to ordering by
    lw − ln(−ln u) = lw + Gumbel(u), so the k largest
    ``log_weight + gumbel`` rows are exactly the same
    weight-proportional sample — but no exp(lw) is ever materialized:
    DSIR log-weights grow with document length and exceed ±709 on long
    docs, where exp overflows to inf (all such docs collapse to one
    priority and are picked by id order) or underflows to 0 (the
    positive-weight filter silently drops them and the sample comes up
    short) (ADVICE r5). Every finite log-weight maps to a valid
    priority, so no positivity filter is needed.

    Same determinism contract as ``weighted_sample_topk``: u is an
    exact rational from 6 md5 hex digits of (key, salt); the priority
    is rounded into DECIMAL(28,12) before the TakeOrderedAndProject
    top-k, with the unique key as tiebreak."""
    h = F.conv(
        F.substring(
            F.md5(F.concat_ws(":", F.col(key_col).cast("string"), F.lit(salt))),
            1,
            6,
        ),
        16,
        10,
    ).cast("bigint")
    u = (h.cast("double") + F.lit(0.5)) / F.lit(float(1 << 24))
    gumbel = -F.log(-F.log(u))
    prio = (log_weight.cast("double") + gumbel).cast("decimal(28,12)")
    return (
        df.filter(log_weight.isNotNull())
        .withColumn("priority", prio)
        .orderBy(F.col("priority").desc(), F.col(key_col).asc())
        .limit(k)
    )


def hash_split(
    df: DataFrame,
    key_col: str,
    splits: dict[str, float],
    salt: str = "split",
) -> DataFrame:
    """Deterministic train/val/test (or any named) split: every row is
    assigned to the split whose cumulative-ratio interval contains
    uhash(key)/1M — the md5-membership discipline shared with
    ``stratified_sample``, so assignment is stable across runs,
    engines, partitionings, and INCREMENTAL loads (a document keeps
    its split forever; new data lands ∝ the ratios). This is the
    property rand()-based splitting cannot promise, and the reason
    leakage-free split assignment belongs in the engine rather than a
    notebook.

    ``splits`` is ordered (insertion order defines the intervals);
    ratios must sum to 1 (±1e-9) — the final interval absorbs the
    boundary so no row is unassigned. Adds a ``split`` column; purely
    map-side, zero shuffle at any scale.

    DuckDB replay of the assignment (for oracles):
    ``('0x' || substr(md5(key || ':salt'), 1, 8))::UBIGINT % 1000000``
    compared against the same cumulative integer thresholds."""
    total = sum(splits.values())
    if abs(total - 1.0) > 1e-9:
        raise ValueError(f"split ratios must sum to 1, got {total}")
    h = _uhash(F.col(key_col), salt)
    cum = 0.0
    expr = None
    names = list(splits)
    for name in names[:-1]:
        cum += splits[name]
        bound = int(round(cum * _DENOM))
        cond = h < F.lit(bound)
        expr = F.when(cond, F.lit(name)) if expr is None else expr.when(cond, F.lit(name))
    last = F.lit(names[-1])
    expr = last if expr is None else expr.otherwise(last)
    return df.withColumn("split", expr)
