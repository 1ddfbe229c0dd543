"""Deduplication operators for large-scale training-data pipelines.

Beyond-reference extension (BASELINE.json north star). Everything here
is designed for the 100 TB regime:

- **exact_dedup**: content-hash groupBy — one shuffle on a 32-hex key,
  uniformly distributed by construction (no skew).
- **token_sets**: the one token-set frame ``(id, toks)`` of the whole
  near-dup family — each document is split and md5-hashed ONCE into a
  sorted array of 60-bit token hashes (``token_hash_set``). MinHash,
  both refines and the exact-set contraction all read it; a shingle
  caller builds the same frame from its shingle array.
- **minhash_signatures + lsh_candidate_pairs**: the scalable near-dup
  path. All-pairs Jaccard is O(n²); MinHash+LSH banding reduces it to
  one explode + k min-aggregations + b equi-joins on band keys. Only
  documents sharing a band bucket are ever paired.
- **jaccard_refine / containment_refine**: exact token-set scores over
  the LSH candidate pairs only — never run all-pairs.
- **simhash64**: vectorized Arrow/pandas UDF (the per-bit majority
  vote has no efficient Column-expression form); Hamming-adjacent
  buckets give another near-dup family.

All hash primitives are md5 (identical across engines → DuckDB-oracle
checkable); hex-string min is a valid uniform min-hash order.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, StructField, StructType

from ironman_medallion_lakehouse_spark.functions.text import words
from ironman_medallion_lakehouse_spark.session import shuffle_width


def exact_dedup(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Survivor rows annotated with their duplicate-group stats
    (content_hash, n_copies) — groups + survivor policy in ONE window
    pass over a single shuffle on the md5 content hash (rank and count
    share the same window partitioning, so Spark plans one Exchange)."""
    from pyspark.sql import Window

    part = Window.partitionBy(F.md5(F.col(text_col)))
    w = part.orderBy(F.col(id_col).asc())
    return (
        docs.withColumn("content_hash", F.md5(F.col(text_col)))
        .withColumn("_rn", F.row_number().over(w))
        .withColumn("n_copies", F.count(F.lit(1)).over(part))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )


# Carter-Wegman permutation family for MinHash: permutation j orders
# tokens by (a_j·h + b_j) mod p over a single 60-bit md5-derived token
# hash h. p = 2^31−1 (Mersenne prime) keeps every product under 2^62 —
# exact in BIGINT on both Spark and the DuckDB oracle (no unsigned
# overflow games). Coefficients are md5-derived from j, so both engines
# can re-derive the identical family from public constants.
MINHASH_P = (1 << 31) - 1


def minhash_coeffs(k: int) -> list[tuple[int, int]]:
    """Deterministic (a_j, b_j) pairs for the k permutations; a_j ≠ 0."""
    import hashlib

    out = []
    for j in range(k):
        a = int.from_bytes(hashlib.md5(f"minhash-a#{j}".encode()).digest()[:8], "big")
        b = int.from_bytes(hashlib.md5(f"minhash-b#{j}".encode()).digest()[:8], "big")
        out.append((a % (MINHASH_P - 1) + 1, b % MINHASH_P))
    return out


def token_hash_raw(tok: Column) -> Column:
    """60-bit token hash: first 15 hex chars of md5 as BIGINT.
    Collision probability ~|vocab|²/2⁶¹ — negligible, and in any case
    deterministic and engine-identical (the DuckDB replay is
    ``('0x' || substr(md5(tok), 1, 15))::UBIGINT``)."""
    return F.conv(F.substring(F.md5(tok), 1, 15), 16, 10).cast("bigint")


def token_hash_set(tokens: Column) -> Column:
    """The sorted ``token_hash_raw`` array of a token array's distinct
    tokens — the one token-set form the signatures, both refines and
    the exact-set contraction read. Each distinct token is md5'd once
    per document; BIGINT sets intersect several× cheaper than strings
    in the interpreted ``array_intersect``; and the sort makes equal
    sets equal arrays, so the array itself is the contraction key. Two
    distinct tokens of one document collide with probability ~2⁻⁶¹;
    the oracles hash the same way, so results stay engine-exact."""
    return F.sort_array(F.transform(F.array_distinct(tokens), token_hash_raw))


def token_sets(
    docs: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """(id, toks): each document's word set as ``token_hash_set`` of
    the whitespace tokenizer (``functions/text.words``) — the frame
    every near-dup consumer below takes. Null text gives a null
    ``toks``: no signature, never a pair. Another token family builds
    the same frame from its own array, e.g. word 3-gram shingles:
    ``docs.select(id, token_hash_set(shingles).alias("toks"))``."""
    return docs.select(F.col(id_col), token_hash_set(words(text_col)).alias("toks"))


def minhash_signatures(
    sets: DataFrame,
    id_col: str = "doc_id",
    k: int = 128,
    with_size: bool = False,
) -> DataFrame:
    """k-permutation MinHash over a ``token_sets`` frame's ``toks``.

    Signature element j = min over tokens of (a_j·(h mod p) + b_j) mod
    p (see ``minhash_coeffs``): **zero shuffles** — all k mins are
    computed map-side in one stage, as ONE aggregate fold over the
    token hashes carrying a running-least k-vector (r15 — measured
    faster than the k per-permutation transform+array_min scans it
    replaces; see the kernel comment below). The fold reads only
    lambda variables — interpreted HOFs re-evaluate outer
    *expressions* per element (the r3 q47 lesson). Documents with no
    tokens are excluded, matching the explode/GROUP BY semantics the
    DuckDB oracle states.

    The k=128 default matches ``lsh_candidate_pairs`` (32 bands × r=4),
    so the documented two-call pipeline works with defaults end-to-end.

    ``with_size`` (r14, opt-in — default schema unchanged) additionally
    emits ``n_tok`` = the distinct-token count; it feeds
    ``lsh_candidate_pairs``'s size-compatibility pre-filter.
    """
    coeffs = minhash_coeffs(k)
    # coefficient ARRAY LITERALS + a transform over permutation index,
    # not k per-coefficient subtrees: the unrolled form was a ~k·|doc
    # expr| analysis tree that cost several seconds of driver-side
    # plan processing on first run (measured: 7.6 s cold vs 2.8 s warm
    # at sf0.1, most of it pre-execution). Values are identical — the
    # same (a_j, b_j) land via element_at instead of literals.
    a_arr = F.array(*[F.lit(a) for a, _ in coeffs])
    b_arr = F.array(*[F.lit(b) for _, b in coeffs])

    # Kernel form (r15, VERDICT r14 item 8 re-measure): ONE aggregate
    # fold over the token hashes with a running-least k-vector
    # (zip_with), instead of k transform+array_min passes. Same
    # O(k·|tokens|) arithmetic, but no k intermediate |tokens|-length
    # arrays — re-measured on a quiet box with 5 alternating reps:
    # fold median 0.432 s vs 0.515 s (sf0.1 signature pass, warm,
    # values bit-identical; r14's reading on a slower box state was a
    # wash at 0.82/0.82). Equality of the two forms is pinned by
    # tests/test_neardup.py::test_minhash_fold_kernel_matches_per_permutation_form.
    _FOLD_INIT_MAX = 1 << 62  # > p, so it exceeds any (a·h+b) mod p

    def sigs(hashes: Column) -> Column:
        init = F.transform(
            F.sequence(F.lit(0), F.lit(k - 1)), lambda j: F.lit(_FOLD_INIT_MAX)
        )
        idx = F.sequence(F.lit(1), F.lit(k))
        # NB one-arg/two-arg lambdas throughout — PySpark dispatches
        # HOF arity on the FULL parameter list, so default-arg capture
        # (lambda h, a=a: ...) would be treated as a 3-arg lambda
        return F.aggregate(
            hashes,
            init,
            lambda acc, h: F.zip_with(
                acc,
                idx,
                lambda m, j: F.least(
                    m, (F.element_at(a_arr, j) * h + F.element_at(b_arr, j)) % MINHASH_P
                ),
            ),
        )

    toks = F.col("toks")
    row = F.struct(
        F.size(toks).alias("n_tok"),
        sigs(F.transform(toks, lambda h: h % MINHASH_P)).alias("s"),
    )
    # token-less docs get no row. The guard sits inside an explode, not
    # a Filter: Catalyst pushes a Filter on ``toks`` below the
    # projection that builds a lazy frame's ``toks``, which then
    # md5-hashes every token twice.
    with_sigs = sets.select(
        F.col(id_col), F.explode(F.when(F.size(toks) > 0, F.array(row))).alias("_x")
    )
    return with_sigs.select(
        F.col(id_col),
        *([F.col("_x.n_tok").alias("n_tok")] if with_size else []),
        *[F.col("_x.s")[j].alias(f"sig_{j}") for j in range(k)],
    )


def _sig_width(signatures: DataFrame) -> int:
    return sum(1 for f in signatures.schema.fields if f.name.startswith("sig_"))


def _banded(
    signatures: DataFrame,
    id_col: str,
    k: int,
    bands: int,
    carry: list[str] | None = None,
) -> DataFrame:
    """Explode a signature frame to (id, band_id, bucket) rows — the
    shared first half of self-join and cross-corpus LSH pairing.
    ``carry`` rides extra per-doc columns (e.g. ``n_tok``) through the
    explode."""
    r = k // bands
    extra = list(carry or [])
    band_cols = [
        F.struct(
            F.lit(b).alias("band_id"),
            F.md5(F.concat_ws("|", *[F.col(f"sig_{b * r + j}") for j in range(r)])).alias(
                "bucket"
            ),
        )
        for b in range(bands)
    ]
    return signatures.select(
        F.col(id_col), *extra, F.explode(F.array(*band_cols)).alias("band")
    ).select(id_col, *extra, "band.band_id", "band.bucket")


def lsh_candidate_pairs(
    signatures: DataFrame,
    id_col: str = "doc_id",
    k: int | None = None,
    bands: int = 32,
    max_bucket_size: int | None = None,
    size_threshold: float | None = None,
) -> DataFrame:
    """LSH banding: hash each band of r = k/bands signature elements to
    a bucket; documents sharing any band bucket become candidate pairs.

    ``k`` defaults to the signature width actually present in the
    input (the sig_* columns), so the two-call pipeline can't silently
    reference columns that don't exist.

    Implemented as one explode to (band_id, bucket) + a self equi-join
    on (band_id, bucket) — the join keys are uniform md5 buckets, so
    the shuffle is skew-free. Output: distinct (id_a < id_b) pairs.

    Banding density governs scale: the match-probability curve is
    1-(1-j^r)^b, so r (rows per band) sets the similarity floor below
    which pairs are overwhelmingly rejected. The k=128/b=32/r=4 default
    puts the curve's threshold near (1/b)^(1/r) ≈ 0.42 — r=2-style
    banding floods the pair join with low-similarity candidates
    (superlinear output growth at corpus scale). ALWAYS follow with
    ``jaccard_refine`` — banding is a recall filter, not a verdict.

    Skew control: a band bucket holding m documents contributes
    O(m²) join output; boilerplate-dominated corpora produce a few
    enormous buckets (the join-side twin of winnowing's hot
    fingerprints). ``max_bucket_size`` drops (band, bucket) groups
    above the ceiling BEFORE the self-join — one extra skew-free
    aggregation over band rows. Off by default (it trades recall
    inside mega-clusters for bounded join cost; the dropped documents
    usually still pair through their other b−1 bands).

    ``size_threshold`` (r14, opt-in): J = |∩|/|∪| ≤ min(|A|,|B|) /
    max(|A|,|B|), so when the DOWNSTREAM refine keeps only J ≥ t, a
    pair whose token-set sizes violate min ≥ t·max can never survive —
    dropping it AT THE BAND JOIN, before the candidate distinct, is
    provably output-preserving for the refine-at-t pipeline (the same
    bound jaccard_refine's guard applies per surviving pair; measured
    at sf0.1/t=0.9, ~49 % of banded candidates are size-incompatible).
    Requires signatures built ``with_size=True`` (the ``n_tok``
    column); callers consuming raw candidates (no refine) must leave
    it None — it changes the CANDIDATE set, not the refined one."""
    return _band_pairs(
        signatures, id_col, k, bands, max_bucket_size, size_threshold
    ).distinct()


def _band_pairs(
    signatures: DataFrame,
    id_col: str,
    k: int | None,
    bands: int,
    max_bucket_size: int | None,
    size_threshold: float | None,
) -> DataFrame:
    """``lsh_candidate_pairs`` before its distinct: one (id_a, id_b)
    row per band bucket the two documents share."""
    if k is None:
        k = _sig_width(signatures)
    r = k // bands
    if r < 1:
        raise ValueError(
            f"bands ({bands}) exceeds signature width k ({k}); "
            "recompute signatures with k >= bands (k=128 recommended)"
        )
    if k % bands:
        raise ValueError(
            f"signature width k ({k}) is not divisible by bands ({bands}); "
            f"the trailing {k % bands} signature columns would be silently "
            "ignored, weakening the banding threshold — choose k % bands == 0"
        )
    if size_threshold is not None and "n_tok" not in signatures.columns:
        raise ValueError(
            "size_threshold requires signatures computed with "
            "minhash_signatures(..., with_size=True) — no n_tok column found"
        )
    carry = ["n_tok"] if size_threshold is not None else None
    banded = _banded(signatures, id_col, k, bands, carry=carry)
    # NOTE (r14, measured): the bucket-grouped generation that wins for
    # the CROSS form (lsh_cross_candidates) was A/B-tested here and
    # LOST — q83 6.5 → 7.9 s, q153 8.6 → 12.6 s at sf0.1, in both the
    # filter-lambda and posexplode+slice pair-generation variants. For
    # the SELF join, cross-band member-set dedup almost never fires on
    # near-dup (non-identical-set) clusters (probe at sf0.1: 6,022,839
    # raw pairs → 6,022,408 after bucket dedup, −0.007 %), so the
    # collect_list aggregation + array dedup + double Generate only
    # ADD cost over the single reused band-row exchange the self
    # equi-join already plans. The cross form wins because a new doc
    # colliding with the same corpus cluster in m bands produces m
    # copies of every pair there (measured ×3.9 at sf0.1) — that
    # multiplicity is the thing the grouped form removes, and the self
    # join's id_a < id_b predicate already halves it structurally.
    if max_bucket_size is not None:
        keep = (
            banded.groupBy("band_id", "bucket")
            .agg(F.count(F.lit(1)).alias("_sz"))
            .filter(F.col("_sz") <= max_bucket_size)
            .select("band_id", "bucket")
        )
        banded = banded.join(keep, ["band_id", "bucket"])
    a = banded.alias("a")
    b = banded.alias("b")
    cond = (
        (F.col("a.band_id") == F.col("b.band_id"))
        & (F.col("a.bucket") == F.col("b.bucket"))
        & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}"))
    )
    if size_threshold is not None:
        # the refine guard's exact bound, applied per RAW join row so
        # never-survivable pairs skip the candidate distinct entirely
        na, nb = F.col("a.n_tok"), F.col("b.n_tok")
        cond = cond & (
            F.least(na, nb).cast("double")
            >= F.lit(float(size_threshold)) * F.greatest(na, nb).cast("double")
        )
    return a.join(b, cond).select(
        F.col(f"a.{id_col}").alias("id_a"), F.col(f"b.{id_col}").alias("id_b")
    )


def sig_agreement_filter(
    candidates: DataFrame,
    signatures: DataFrame,
    id_col: str = "doc_id",
    min_fraction: float = 0.75,
    components: int | None = None,
) -> DataFrame:
    """Cheap MinHash pre-verify: keep only candidate pairs whose
    signatures agree on ≥ ``min_fraction`` of the first ``components``
    signature components (all of them by default). The agreeing
    fraction is an unbiased Jaccard estimator with σ = √(J(1−J)/m), so
    a bar several σ below the exact-refine threshold (e.g. 0.72 on
    m=32 components is 3.4σ under a 0.9 bar) rejects the
    mid-similarity candidate bulk for the price of m integer equality
    checks inside whole-stage codegen — per pair, instead of the
    O(|A|+|B|) interpreted set intersection the exact stage pays.
    Deterministic (same signatures ⇒ same verdict), so an oracle
    replays it exactly; the two signature joins broadcast (one row per
    doc, m small ints)."""
    sig_cols = sorted(
        (f.name for f in signatures.schema.fields if f.name.startswith("sig_")),
        key=lambda n: int(n.split("_")[1]),
    )
    if components is not None:
        sig_cols = sig_cols[:components]
    k = len(sig_cols)
    need = int(min_fraction * k)
    a = signatures.select(
        F.col(id_col).alias("id_a"), *[F.col(c).alias(f"_a{c}") for c in sig_cols]
    )
    b = signatures.select(
        F.col(id_col).alias("id_b"), *[F.col(c).alias(f"_b{c}") for c in sig_cols]
    )
    agree = sum(
        F.when(F.col(f"_a{c}") == F.col(f"_b{c}"), 1).otherwise(0) for c in sig_cols
    )
    return (
        candidates.join(a, "id_a")
        .join(b, "id_b")
        .filter(agree >= F.lit(need))
        .select("id_a", "id_b")
    )


def _paired_sets(candidates: DataFrame, sets: DataFrame, id_col: str) -> DataFrame:
    """``candidates`` with each side's ``toks`` attached as ws_a/ws_b:
    two broadcast-or-shuffle hash joins, O(candidates)."""
    a = sets.select(F.col(id_col).alias("id_a"), F.col("toks").alias("ws_a"))
    b = sets.select(F.col(id_col).alias("id_b"), F.col("toks").alias("ws_b"))
    return candidates.join(a, "id_a").join(b, "id_b")


def jaccard_refine(
    candidates: DataFrame,
    sets: DataFrame,
    id_col: str = "doc_id",
    threshold: float = 0.5,
) -> DataFrame:
    """Exact token-set Jaccard over an LSH candidate-pair set — the
    verify stage after ``lsh_candidate_pairs``, intersecting the
    ``token_sets`` frame's BIGINT arrays (pass the SAME frame the
    signatures came from). Cost is O(candidates), never all-pairs.
    Emits only pairs at or above ``threshold`` with their exact score.
    For loose banding put ``sig_agreement_filter`` in front so the
    interpreted set intersection only runs on likely pairs."""
    sz_a, sz_b = F.size(F.col("ws_a")), F.size(F.col("ws_b"))
    # size-compatibility guard (r5): J = |∩|/|∪| ≤ min(|A|,|B|)/max(|A|,|B|),
    # so a pair whose sizes violate min ≥ t·max can NEVER reach the
    # threshold — provably output-preserving, no oracle change. The
    # when() makes evaluation conditional: the per-element set
    # intersection (the refine's dominant cost) is skipped entirely for
    # size-incompatible pairs — integer compares in codegen gate it
    # (measured at sf0.1/t=0.9: 49% of the 5.76M banded candidates are
    # size-incompatible and never pay the intersect).
    inter = F.size(F.array_intersect(F.col("ws_a"), F.col("ws_b")))
    union = sz_a + sz_b - inter
    jac = inter.cast("double") / union.cast("double")
    size_ok = F.least(sz_a, sz_b).cast("double") >= F.lit(threshold) * F.greatest(
        sz_a, sz_b
    ).cast("double")
    guarded = F.when(size_ok, jac).otherwise(F.lit(-1.0))
    return (
        _paired_sets(candidates, sets, id_col)
        .select("id_a", "id_b", guarded.alias("jaccard"))
        .filter(F.col("jaccard") >= threshold)
    )


def _contracted(sets: DataFrame, id_col: str) -> DataFrame:
    """``sets`` plus ``_rep``: each document's min-id representative of
    its exact token-set group — the contraction shared by
    near_dedup_groups and containment_pairs, keyed on ``toks`` itself.
    Token-less docs (null text) never enter the signature stage, so the
    raw pipelines treat each as a singleton; a per-doc sentinel key
    keeps contraction from merging them into one false group.

    The window's shuffle is an explicit-count repartition on ``toks``:
    AQE would coalesce a plain window exchange over this small frame
    onto 1-2 tasks, and the CPU-bound signature stage that reads its
    checkpoint would run on those few tasks."""
    from pyspark.sql import Window

    sentinel = F.when(F.size("toks") > 0, F.lit(None)).otherwise(F.col(id_col))
    return sets.repartition(shuffle_width(sets), "toks").withColumn(
        "_rep", F.min(id_col).over(Window.partitionBy("toks", sentinel))
    )


def near_dedup_groups(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 128,
    bands: int = 16,
    threshold: float = 0.9,
) -> DataFrame:
    """Full near-dup grouping — MinHash → LSH → exact-Jaccard refine →
    connected components — with an EXACT-SET PRE-CONTRACTION (r5):
    documents with identical distinct-token sets are collapsed to
    their min-id representative before any quadratic stage, and labels
    are broadcast back afterwards.

    The contraction is provably output-invariant for any threshold
    ≤ 1, with the full pipeline's own banding semantics:
    identical token sets ⟹ identical token hashes ⟹ identical MinHash
    signatures ⟹ identical band buckets, so (a) same-set documents
    always become candidates of each other and of the same third
    parties, (b) J(member, x) = J(rep, x) for every x and
    J(member, rep) = 1 ≥ t — an edge member—x exists iff rep—x does,
    and every member is directly tied to its rep. Components of the
    full graph are therefore exactly the preimages of the
    representative graph's components under doc→rep, and min-id
    labels coincide because each rep IS its set-group's minimum.
    Output (id, group_id, group_size, is_survivor) is identical to
    running the stages on the raw corpus — the oracle needs no change.

    Why it matters at scale: candidate volume is Σ m² over band
    buckets, so collapsing d-fold duplicated sets divides their
    contribution by d² — and running exact dedup BEFORE near-dup is
    how a production pipeline sequences these stages anyway. One extra
    skew-free shuffle on the token-set key buys it, and the one
    tokenize-and-hash pass (``token_sets``) rides that checkpoint into
    the signatures and the refine."""
    from pyspark.sql import Window

    from ironman_medallion_lakehouse_spark.operators.graph import (
        connected_components,
    )

    sets = _contracted(token_sets(docs, text_col, id_col), id_col).localCheckpoint(
        eager=True
    )
    reps = sets.filter(F.col(id_col) == F.col("_rep")).drop("_rep")
    # signatures materialize once: they feed both sides of the band
    # self-join, and an unmaterialized lineage recomputes per use.
    # with_size/size_threshold (r14): the refine keeps only J ≥ t and
    # J ≤ min/max of the token-set sizes, so size-incompatible pairs
    # are dropped at the band join itself — before the candidate
    # distinct and the refine's two joins — instead of only having
    # their intersect skipped inside the refine (provably
    # output-preserving; see lsh_candidate_pairs).
    sigs = minhash_signatures(reps, id_col, k=k, with_size=True).localCheckpoint(
        eager=True
    )
    # the candidate distinct is pinned to the session's width for the
    # same reason as the contraction: the refine runs in its reduce
    # stage, and AQE would coalesce that onto 1-2 tasks
    cand = (
        _band_pairs(sigs, id_col, k, bands, None, threshold)
        .repartition(shuffle_width(docs), "id_a", "id_b")
        .distinct()
    )
    pairs = jaccard_refine(cand, reps, id_col, threshold=threshold)
    comp = connected_components(pairs)
    assigned = sets.join(comp, sets["_rep"] == comp["node"], "left").select(
        F.col(id_col),
        F.coalesce(F.col("component"), F.col("_rep")).alias("group_id"),
    )
    w = Window.partitionBy("group_id")
    return assigned.select(
        F.col(id_col),
        "group_id",
        F.count(F.lit(1)).over(w).alias("group_size"),
        (F.col(id_col) == F.col("group_id")).alias("is_survivor"),
    )


def lsh_cross_candidates(
    sig_new: DataFrame,
    sig_corpus: DataFrame,
    id_col: str = "doc_id",
    bands: int = 16,
    max_bucket_size: int | None = None,
    size_threshold: float | None = None,
) -> DataFrame:
    """LSH candidates BETWEEN two corpora: (id_new, id_corpus) pairs
    sharing any band bucket — the incremental-dedup join (new crawl vs
    existing corpus), NOT a self-join. Cost is O(new-side band rows ×
    bucket hit rate): the corpus side is touched only where a bucket
    matches, so a small batch against a huge corpus stays a small
    equi-join. ``max_bucket_size`` caps CORPUS-side bucket width (the
    side that accumulates boilerplate mega-buckets over time).
    ``size_threshold`` (r14): the self-join pre-filter's cross twin —
    requires BOTH signature frames built ``with_size=True``; pairs
    whose token-set sizes can never reach Jaccard ``size_threshold``
    are dropped before the candidate distinct (provably
    output-preserving for a refine-at-t consumer, see
    lsh_candidate_pairs)."""
    k = _sig_width(sig_new)
    kc = _sig_width(sig_corpus)
    if k != kc:
        raise ValueError(f"signature widths differ: new k={k}, corpus k={kc}")
    if size_threshold is not None and not (
        "n_tok" in sig_new.columns and "n_tok" in sig_corpus.columns
    ):
        raise ValueError(
            "size_threshold requires BOTH signature frames computed with "
            "minhash_signatures(..., with_size=True) — n_tok column missing"
        )
    carry = ["n_tok"] if size_threshold is not None else None
    a = _banded(sig_new, id_col, k, bands, carry=carry).withColumnsRenamed(
        {id_col: "id_new"}
    )
    b = _banded(sig_corpus, id_col, k, bands, carry=carry).withColumnsRenamed(
        {id_col: "id_corpus"}
    )
    # r15 ADJUDICATION (VERDICT r14 item 1): the r14 member-array
    # restructure (corpus side grouped to sorted per-bucket arrays,
    # (id_new, member-set) dedup before explode) halved the plan's
    # Exchanges but LOST on the driver box — re-measured this round
    # under the official bench protocol, alternating forms across six
    # sessions: q94 grouped 9.48/9.15/5.71 s vs row 5.20/5.22/5.33 s,
    # q94b grouped 6.14/4.93/5.80 s vs row 3.83/4.15/4.21 s (min-of-3
    # each). The grouped form's collect_list aggregation + array-keyed
    # dropDuplicates shuffled the heavy member arrays twice and raised
    # task counts ~35 %, outweighing the band-row exchange it saved;
    # it also put an unbounded bucket's whole membership in ONE
    # aggregation buffer / one array-keyed shuffle row when
    # max_bucket_size is None (the ADVICE r14 skew cliff). Reverted to
    # the row×row band join: the ×3.9 pair multiplicity it emits is
    # collapsed by the same final distinct, per-row not per-array.
    if size_threshold is not None:
        a = a.withColumnRenamed("n_tok", "_n_new")
        b = b.withColumnRenamed("n_tok", "_n_corp")
    if max_bucket_size is not None:
        keep = (
            b.groupBy("band_id", "bucket")
            .agg(F.count(F.lit(1)).alias("_sz"))
            .filter(F.col("_sz") <= max_bucket_size)
            .select("band_id", "bucket")
        )
        b = b.join(keep, ["band_id", "bucket"])
    joined = a.join(b, ["band_id", "bucket"])
    if size_threshold is not None:
        # the refine guard's exact bound, applied per raw join row so
        # never-survivable pairs skip the candidate distinct entirely
        size_ok = F.least(
            F.col("_n_new"), F.col("_n_corp")
        ).cast("double") >= F.lit(float(size_threshold)) * F.greatest(
            F.col("_n_new"), F.col("_n_corp")
        ).cast("double")
        joined = joined.filter(size_ok)
    return joined.select("id_new", "id_corpus").distinct()


def exact_hash_frame(
    docs: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """(id, _h): the normalized-text md5 used by ``dedup_incoming``'s
    exact arm — exposed so a pipeline can MATERIALIZE it per document
    (keyed by id, maintainable with the same insert-only merge that
    admits kept docs) and pass it back as ``corpus_hashes=`` instead
    of re-hashing the whole corpus every batch."""
    norm = F.regexp_replace(F.trim(F.lower(F.col(text_col))), r"\s+", " ")
    return docs.select(F.col(id_col), F.md5(norm).alias("_h"))


def dedup_incoming(
    incoming: DataFrame,
    corpus: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 128,
    bands: int = 16,
    threshold: float = 0.9,
    corpus_sigs: DataFrame | None = None,
    corpus_hashes: DataFrame | None = None,
    max_bucket_size: int | None = None,
) -> DataFrame:
    """Incremental dedup: classify each INCOMING document against an
    EXISTING corpus as ``exact_dup`` (normalized-text md5 already in
    the corpus), ``near_dup`` (MinHash-LSH candidate whose exact
    hashed-token Jaccard vs some corpus doc ≥ ``threshold``), else
    ``kept``. Returns (id, status) for every incoming document — the
    crawl-ingest gate a training-data pipeline runs on every batch.

    **The banding dial, end-to-end** (r7 directive 6): ``bands``
    controls candidate precision/recall via rows-per-band r = k/bands
    — the S-curve P(candidate | Jaccard=j) = 1−(1−j^r)^bands. At the
    stored-signature width k=128:

    - ``bands=16`` (r=8, default): J=0.5 collision ≈ 6.1 %, J=0.9
      recall ≈ 0.9999 — the recall-first setting;
    - ``bands=8`` (r=16): J=0.5 collision ≈ 0.012 %, J=0.9 recall
      ≈ 0.81 — the precision-first setting for candidate-flooded
      corpora (500× fewer mid-similarity candidates for ~19 % recall
      loss at the 0.9 threshold).

    Banding is derived AT QUERY TIME from the stored k-wide signature
    columns (``_banded``), so re-dialing ``bands`` between batches
    needs NO signature recompute — the stored ``corpus_sigs`` table
    stays valid for any ``bands`` dividing k (pinned by
    tests/test_neardup.py::test_dedup_incoming_bands_dial_on_stored_sigs).
    ``max_bucket_size`` is the orthogonal skew valve, forwarded to
    ``lsh_cross_candidates``: it caps CORPUS-side band-bucket width,
    bounding the O(m²)-ish join fan-out a boilerplate mega-bucket
    causes, at the cost of recall only inside capped buckets. Example::

        sigs   = spark.read.parquet("corpus_sigs")    # k=128, stored
        hashes = spark.read.parquet("corpus_hashes")  # exact_hash_frame
        dedup_incoming(batch, corpus, bands=8,        # precision-first
                       corpus_sigs=sigs, corpus_hashes=hashes,
                       max_bucket_size=10_000)

    100 TB design: nothing here rescans the corpus per incoming doc —
    PROVIDED both precomputed sides are passed. The exact stage is one
    hash equi-join on uniform md5 keys; with ``corpus_hashes`` (a
    stored (id, _h) table from ``exact_hash_frame``, maintained by the
    same merge that admits kept docs) the corpus is not re-normalized/
    re-hashed per batch — without it, the exact arm's md5-over-corpus
    is a full corpus scan per batch, which contradicts the O(batch)
    story at scale (r7 fix; the inline form remains for one-shot
    batch jobs and the oracle). The near stage band-joins incoming
    signatures against corpus signatures (``lsh_cross_candidates``)
    so corpus cost is O(bucket hits), and the refine is O(candidates);
    ``corpus_sigs`` is the stored-signatures analogue. Exact-dup
    classification wins when both fire (cheapest-evidence-first, and
    deterministic for the oracle)."""
    inc_hash = exact_hash_frame(incoming, text_col, id_col)
    if corpus_hashes is None:
        corp_hash = exact_hash_frame(corpus, text_col, id_col).select("_h").distinct()
    else:
        # stored per-doc rows: the semi-join tolerates duplicate hash
        # values, no distinct (corpus-wide shuffle) needed
        corp_hash = corpus_hashes.select("_h")
    exact = (
        inc_hash.join(corp_hash, "_h", "left_semi")
        .select(F.col(id_col))
        .withColumn("_exact", F.lit(True))
    )
    if corpus_hashes is None:
        # batch-sized (≤ |incoming| rows of id+flag) and read TWICE —
        # by the anti-join prune below and the final status join; the
        # unmaterialized lineage re-ran the corpus md5-distinct per
        # consumer (r14 plan audit: the exact subtree appeared twice in
        # the fused plan; q94 12.4 → 9.5 s at sf0.1). With PREPARED
        # corpus_hashes the subtree is one parquet read + semi-join —
        # re-evaluating that twice is cheaper than the blocking
        # checkpoint job (measured: q94b 4.6 → 4.8 s when
        # unconditional), so the prepared path stays lazy.
        exact = exact.localCheckpoint(eager=True)

    # the near stage only runs on incoming docs NOT already exact-dups:
    # exact wins the CASE priority either way, so pruning them from the
    # signature pass + band join is output-invariant and drops the
    # near-stage volume by exactly the batch's exact-dup rate
    remaining = token_sets(
        incoming.join(exact.select(id_col), id_col, "left_anti"), text_col, id_col
    )
    # NOTE (r5, measured): the exact-set contraction that pays 3× in
    # near_dedup_groups was A/B-tested here and LOST — 5.7 s plain vs
    # 6.8 s contracted at sf0.1. The cross join already bounds work to
    # O(bucket hits), so the ~21 % set-dup rate saved less than the
    # two extra text-scanning window passes cost. On corpora with much
    # higher duplicate-set rates, contract the CORPUS side once at
    # signature-precompute time (the corpus_sigs= path), not per batch.
    # with_size/size_threshold (r14): pairs whose token-set sizes can
    # never reach the refine threshold are dropped at the band join
    # (provably output-preserving — the refine applies the same bound
    # per pair). Stored corpus_sigs built WITHOUT n_tok fall back to
    # the unsized path.
    sig_new = minhash_signatures(remaining, id_col, k=k, with_size=True)
    if corpus_sigs is None:
        corpus_sigs = minhash_signatures(
            token_sets(corpus, text_col, id_col), id_col, k=k, with_size=True
        )
    sized = "n_tok" in corpus_sigs.columns
    cand = lsh_cross_candidates(
        sig_new if sized else sig_new.drop("n_tok"),
        corpus_sigs,
        id_col,
        bands=bands,
        max_bucket_size=max_bucket_size,
        size_threshold=threshold if sized else None,
    )
    # refine against the union lookup (both sides' token sets), reusing
    # the pair-refine machinery: rename to its (id_a, id_b) contract.
    # NOTE (r6, measured): restricting the lookup to candidate-touched
    # ids (semi-join) was A/B-tested and LOST — it requires
    # materializing the multi-million-row candidate frame to feed two
    # consumers, and on a dup-dense corpus ~97 % of docs are touched
    # anyway, so the tokenization saved is ~3 % while the
    # materialization costs ~1-2 s (q94 11.1 s vs 9.9 s, q94b 6.6 s vs
    # 4.2 s at sf0.1). Same family as the r5 contraction A/B above:
    # the band join bounds the work; don't pay to shrink its input.
    lookup = token_sets(
        incoming.select(id_col, text_col).unionByName(corpus.select(id_col, text_col)),
        text_col,
        id_col,
    )
    # NOTE (r14, measured): materializing the tokenized union once
    # (localCheckpoint of the lookup frame fed to both refine sides)
    # was A/B-tested and LOST — q94 9.5 → 11.9 s, q94b 4.8 → 7.4 s at
    # sf0.1. Same family as the r5/r6 A/Bs above: the
    # two join sides' identical broadcast subtrees are exchange-reused
    # at runtime, so the "duplicate" tokenize is already computed only
    # once per broadcast, and the checkpoint just adds a blocking job.
    near = (
        jaccard_refine(
            cand.withColumnsRenamed({"id_new": "id_a", "id_corpus": "id_b"}),
            lookup,
            id_col,
            threshold=threshold,
        )
        .select(F.col("id_a").alias(id_col))
        .distinct()
        .withColumn("_near", F.lit(True))
    )
    return (
        incoming.select(id_col)
        .join(exact, id_col, "left")
        .join(near, id_col, "left")
        .select(
            F.col(id_col),
            F.when(F.col("_exact"), F.lit("exact_dup"))
            .when(F.col("_near"), F.lit("near_dup"))
            .otherwise(F.lit("kept"))
            .alias("status"),
        )
    )


def update_dedup_groups(
    groups: DataFrame,
    corpus: DataFrame,
    new_docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 128,
    bands: int = 16,
    threshold: float = 0.9,
    corpus_sigs: DataFrame | None = None,
) -> DataFrame:
    """INCREMENTAL near-dup group maintenance — the append-only-corpus
    complement of ``near_dedup_groups`` (batch) and ``dedup_incoming``
    (classification): admit every new document but keep the corpus's
    (id, group_id) assignment current without re-running components
    over the whole corpus.

    Returns the maintained ``(id, group_id)`` over corpus ∪ new_docs,
    EQUAL row-for-row to ``near_dedup_groups(corpus ∪ new_docs)``
    restricted to those columns. Why equality holds: MinHash band
    buckets depend only on each document's own signature, so the LSH
    candidate-edge set over N docs is invariant under batching — the
    full run's edges are exactly (prior-corpus internal edges, already
    reflected in ``groups``) ∪ (new×corpus cross edges) ∪ (new×new
    edges), and the last two are what this function computes. Two
    prior GROUPS can only merge through a new bridge document (their
    mutual edges were already contracted), so contracting each corpus
    endpoint to its group LABEL (= the group's min id, so mins
    compose) and running components on the BATCH-SIZED contracted
    graph {new ids} ∪ {touched labels} yields the full run's min-id
    labels. Same refine semantics as near_dedup_groups (exact Jaccard
    on 60-bit hashed token sets at ``threshold``) — the q83 DuckDB
    oracle replays the maintained result verbatim.

    Scale shape: O(batch) signature work + O(bucket hits) candidate
    joins (pass the STORED signature table via ``corpus_sigs`` — the
    q94b prepared pattern — so the corpus is never re-hashed), a
    batch-sized component computation, and a relabel join that
    rewrites only TOUCHED groups' rows (broadcast the batch-sized
    relabel map). Precondition: new ids are not already in the corpus
    (re-crawled known ids are the MERGE layer's concern, not the
    grouper's)."""
    # with_size/size_threshold (r14): same provably-output-preserving
    # band-join size pre-filter as near_dedup_groups/dedup_incoming —
    # the refine below keeps only J ≥ threshold
    sig_new = minhash_signatures(
        token_sets(new_docs, text_col, id_col), id_col, k=k, with_size=True
    ).localCheckpoint(eager=True)
    if corpus_sigs is None:
        corpus_sigs = minhash_signatures(
            token_sets(corpus, text_col, id_col), id_col, k=k, with_size=True
        )
    sized = "n_tok" in corpus_sigs.columns
    cross = lsh_cross_candidates(
        sig_new if sized else sig_new.drop("n_tok"),
        corpus_sigs,
        id_col,
        bands=bands,
        size_threshold=threshold if sized else None,
    )
    self_pairs = lsh_candidate_pairs(
        sig_new, id_col, k=k, bands=bands, size_threshold=threshold
    )
    cand = (
        self_pairs.select("id_a", "id_b")
        .unionByName(
            cross.withColumnsRenamed({"id_new": "id_a", "id_corpus": "id_b"}).select(
                "id_a", "id_b"
            )
        )
        .distinct()
    )
    lookup = token_sets(
        new_docs.select(id_col, text_col).unionByName(corpus.select(id_col, text_col)),
        text_col,
        id_col,
    )
    edges = jaccard_refine(cand, lookup, id_col, threshold=threshold).select(
        "id_a", "id_b"
    )
    # contract corpus endpoints to their group labels (labels are each
    # group's min id, so component mins compose to the global min)
    m = groups.select(
        F.col(id_col).alias("_m_id"), F.col("group_id").alias("_m_node")
    )
    contracted = (
        edges.join(m, edges["id_a"] == m["_m_id"], "left")
        .select(
            F.coalesce("_m_node", "id_a").alias("s"), F.col("id_b").alias("_d")
        )
        .join(m, F.col("_d") == m["_m_id"], "left")
        .select("s", F.coalesce("_m_node", "_d").alias("d"))
        .filter(F.col("s") != F.col("d"))  # intra-group cross edges are no-ops
    )
    from ironman_medallion_lakehouse_spark.operators.graph import (
        connected_components,
    )

    comp = connected_components(contracted, "s", "d").localCheckpoint(eager=True)
    relabel = comp.select(F.col("node").alias("_old"), F.col("component").alias("_new"))
    updated = (
        groups.join(
            F.broadcast(relabel), groups["group_id"] == relabel["_old"], "left"
        )
        .select(
            F.col(id_col),
            F.coalesce("_new", "group_id").alias("group_id"),
        )
    )
    new_assigned = (
        new_docs.select(id_col)
        .join(F.broadcast(relabel), F.col(id_col) == relabel["_old"], "left")
        .select(F.col(id_col), F.coalesce("_new", F.col(id_col)).alias("group_id"))
    )
    return updated.unionByName(new_assigned)


def winnowing_candidate_pairs(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 8,
    window: int = 4,
    min_shared: int = 1,
    max_doc_freq: int | None = None,
) -> DataFrame:
    """Substring-overlap candidate pairs from winnowing fingerprints
    (functions/text.winnowing_fingerprints): docs sharing ≥
    ``min_shared`` selected rolling-hash k-grams become (id_a, id_b,
    n_shared). Catches PARTIAL overlap — a long passage copied into an
    otherwise-different document — which whole-set MinHash resemblance
    dilutes away; any shared substring ≥ k+window−1 chars guarantees a
    shared fingerprint.

    Plan shape: explode fingerprints → self equi-join on the hash →
    count per pair. Same bucketed discipline as LSH banding: only docs
    sharing a fingerprint are ever paired, never all-pairs.

    Skew control: boilerplate (headers, license blocks) yields
    fingerprints shared by thousands of docs — each such hash is a hot
    join bucket contributing O(df²) pairs. ``max_doc_freq`` drops
    fingerprints above a document-frequency ceiling BEFORE the join
    (the IDF-style stop-fingerprint cut every production overlap
    pipeline applies); the df aggregation is one extra skew-free
    shuffle over fingerprint rows."""
    from ironman_medallion_lakehouse_spark.functions.text import (
        winnowing_fingerprints,
    )

    fps = docs.select(
        F.col(id_col),
        F.explode(winnowing_fingerprints(text_col, k=k, window=window)).alias("fp"),
    )
    if max_doc_freq is not None:
        keep = (
            fps.groupBy("fp")
            .agg(F.count(F.lit(1)).alias("_df"))
            .filter(F.col("_df") <= max_doc_freq)
            .select("fp")
        )
        fps = fps.join(keep, "fp")
    a, b = fps.alias("a"), fps.alias("b")
    return (
        a.join(
            b,
            (F.col("a.fp") == F.col("b.fp"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .groupBy(
            F.col(f"a.{id_col}").alias("id_a"), F.col(f"b.{id_col}").alias("id_b")
        )
        .agg(F.count(F.lit(1)).alias("n_shared"))
        .filter(F.col("n_shared") >= min_shared)
    )


_SIMHASH_SCHEMA = StructType(
    [StructField("doc_id", LongType()), StructField("simhash", LongType())]
)


def simhash64(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """64-bit SimHash via an Arrow-batched mapInPandas (per-bit majority
    vote over token hashes has no reasonable Column form).

    The bit-majority is numpy-vectorized: per document, token hashes
    unpack to an (n_tokens × 64) bit matrix in one shift-and-mask, and
    the majority vote is a column sum — no per-token/per-bit Python
    loop (that interpreted O(tokens×64) inner loop was the r1 scale
    finding). md5 is computed once per *distinct* token per batch
    (documents share vocabulary, so the cache hit rate is high)."""
    import hashlib

    import numpy as np

    from ironman_medallion_lakehouse_spark.session import ensure_package_on_executors

    ensure_package_on_executors(docs.sparkSession)
    bit_idx = np.arange(64, dtype=np.uint64)

    def _batch(it):
        for pdf in it:
            token_sets = [set(str(t).lower().split()) for t in pdf[text_col]]
            vocab: dict[str, int] = {}
            for toks in token_sets:
                for tok in toks:
                    if tok not in vocab:
                        vocab[tok] = int.from_bytes(
                            hashlib.md5(tok.encode()).digest()[:8], "big"
                        )
            hashes = []
            for toks in token_sets:
                if not toks:
                    hashes.append(0)
                    continue
                hs = np.fromiter(
                    (vocab[t] for t in toks), dtype=np.uint64, count=len(toks)
                )
                ones = ((hs[:, None] >> bit_idx) & np.uint64(1)).sum(axis=0)
                majority = (2 * ones) > len(toks)  # ones - zeros > 0
                sh = int((majority.astype(np.uint64) << bit_idx).sum(dtype=np.uint64))
                # store as signed 64-bit
                hashes.append(sh - (1 << 64) if sh >= (1 << 63) else sh)
            yield pd.DataFrame({"doc_id": list(pdf[id_col]), "simhash": hashes})

    return docs.select(id_col, text_col).mapInPandas(_batch, _SIMHASH_SCHEMA)


def containment_refine(
    candidates: DataFrame,
    sets: DataFrame,
    id_col: str = "doc_id",
    threshold: float = 0.95,
    jaccard_bar: float = 0.9,
) -> DataFrame:
    """Exact token-set CONTAINMENT over a candidate-pair set — Broder's
    asymmetric resemblance: C(A,B) = |A∩B| / |A|. Whole-document
    Jaccard misses subset-style duplication (a page embedded in a
    longer page scores J = |A|/|B|, arbitrarily low as the host
    grows); containment of the smaller side, max(C(A,B), C(B,A)) =
    |A∩B| / min(|A|,|B|), is the signal exact-substring pipelines
    (Lee et al. 2022) chase at the token-set level.

    Emits pairs with containment ≥ ``threshold``:
    (id_a, id_b, containment, jaccard, subset_style) where
    ``subset_style`` marks the pairs Jaccard-based dedup (at
    ``jaccard_bar``) would NOT have caught — the operator's reason to
    exist. It intersects the ``token_sets`` frame's arrays. Cost is
    O(candidates) — two hash joins, same shape as ``jaccard_refine``;
    note the size-compatibility guard does NOT apply here
    (small-in-large is the point, so no size ratio rules a pair out).
    Candidate recall is the generator's: MinHash banding recalls
    subset pairs down to J ≈ its s-curve floor, i.e. size ratio ≥ θ
    for true subsets — pair it with loose banding (r=4), or winnowing
    fingerprints for locality-based recall."""
    sz_a, sz_b = F.size(F.col("ws_a")), F.size(F.col("ws_b"))
    inter = F.size(F.array_intersect(F.col("ws_a"), F.col("ws_b")))
    cont = inter.cast("double") / F.least(sz_a, sz_b).cast("double")
    jac = inter.cast("double") / (sz_a + sz_b - inter).cast("double")
    return (
        _paired_sets(candidates, sets, id_col)
        .select(
            "id_a",
            "id_b",
            # No final round: both are single IEEE divides of exact integer
            # set sizes — bit-identical cross-engine unrounded; rounding
            # adds a reachable half-boundary split (the r11 q98 class).
            cont.alias("containment"),
            jac.alias("jaccard"),
        )
        .filter(F.col("containment") >= threshold)
        .withColumn("subset_style", F.col("jaccard") < F.lit(jaccard_bar))
    )


def containment_pairs(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 128,
    bands: int = 32,
    threshold: float = 0.95,
    jaccard_bar: float = 0.9,
    contract: bool = True,
) -> DataFrame:
    """End-to-end containment dedup — MinHash → loose-band LSH →
    ``containment_refine`` — with the q83-style EXACT-SET
    PRE-CONTRACTION (VERDICT r5 item 5): documents with identical
    distinct-token sets are collapsed to their min-id representative
    before the band join and the O(candidates) intersect kernel, and
    the surviving representative pairs are expanded back to member
    pairs afterwards.

    Output-invariance (threshold ≤ 1, jaccard_bar ≤ 1):
    - *inter-group*: identical token sets ⟹ identical signatures ⟹
      band collision between any member of A and any member of B is
      exactly a collision between rep(A) and rep(B); containment and
      Jaccard are functions of the token SETS, so every member pair's
      scores equal its rep pair's scores. Expanding a surviving rep
      pair to all |A|·|B| member pairs (canonically min-id-first)
      reproduces the raw pipeline's inter-group output exactly.
    - *intra-group*: same-set members always collide (identical
      buckets) and score containment = jaccard = 1 ≥ threshold, with
      subset_style = (1 < jaccard_bar) = false — emitted directly as
      all C(d,2) ordered member pairs, no kernel evaluation needed.
    - token-less docs carry a per-doc sentinel key in
      ``_contracted`` (singleton groups), matching the raw
      pipeline's behavior of never pairing them.

    Why it matters at scale: the refine kernel is the fattest stage
    (q109 emits 37k pairs at sf0.01 — the largest candidate volume in
    the suite) and NO size-compatibility guard is sound for
    containment (small-in-large is the signal), so collapsing d-fold
    duplicated sets is the one lever that cuts candidate volume — by
    d² inside each duplicated set's bucket contribution — without
    touching recall. One extra skew-free shuffle on the token-set key
    buys it; ``contract=False`` keeps the raw composition
    for A/B verification (both paths share one oracle)."""
    # the intra-group arm emits containment=1 pairs unconditionally,
    # which is only output-invariant vs the raw composition when 1
    # passes the containment threshold; reject the degenerate
    # parameterization instead of silently diverging between
    # contract=True and contract=False (ADVICE r6 item 4)
    if threshold > 1.0:
        raise ValueError(
            f"threshold={threshold} > 1 can match no pair; the contracted "
            "path would still emit intra-group containment=1 pairs — refusing"
        )
    sets = token_sets(docs, text_col, id_col)
    if not contract:
        sigs = minhash_signatures(sets, id_col, k=k)
        cand = lsh_candidate_pairs(sigs, id_col, k=k, bands=bands)
        return containment_refine(
            cand, sets, id_col, threshold=threshold, jaccard_bar=jaccard_bar
        )

    doc_rep = _contracted(sets, id_col).localCheckpoint(eager=True)
    reps = doc_rep.filter(F.col(id_col) == F.col("_rep")).drop("_rep")
    sigs = minhash_signatures(reps, id_col, k=k).localCheckpoint(eager=True)
    cand = lsh_candidate_pairs(sigs, id_col, k=k, bands=bands)
    rep_pairs = containment_refine(
        cand, reps, id_col, threshold=threshold, jaccard_bar=jaccard_bar
    )
    # expand inter-group rep pairs to member pairs (min-id canonical)
    ma = doc_rep.select(F.col(id_col).alias("_ma"), F.col("_rep").alias("id_a"))
    mb = doc_rep.select(F.col(id_col).alias("_mb"), F.col("_rep").alias("id_b"))
    inter = (
        rep_pairs.join(ma, "id_a")
        .join(mb, "id_b")
        .select(
            F.least(F.col("_ma"), F.col("_mb")).alias("id_a"),
            F.greatest(F.col("_ma"), F.col("_mb")).alias("id_b"),
            "containment",
            "jaccard",
            "subset_style",
        )
    )
    # intra-group member pairs: containment = jaccard = 1 by identity
    ga = doc_rep.select(F.col("_rep"), F.col(id_col).alias("id_a"))
    gb = doc_rep.select(F.col("_rep"), F.col(id_col).alias("id_b"))
    intra = (
        ga.join(gb, "_rep")
        .filter(F.col("id_a") < F.col("id_b"))
        .select(
            "id_a",
            "id_b",
            F.lit(1.0).alias("containment"),
            F.lit(1.0).alias("jaccard"),
            F.lit(jaccard_bar > 1.0).alias("subset_style"),
        )
    )
    return inter.unionByName(intra)


def fuzzy_match_pairs(
    df,
    block_cols: list[str],
    text_col: str,
    id_col: str,
    max_distance: int = 2,
):
    """Blocked fuzzy entity matching: pairs of rows in the same block
    whose ``text_col`` values are within ``max_distance`` Levenshtein
    edits — the entity-resolution primitive (dedup of customer/vendor/
    author name variants) every warehouse eventually needs.

    Plan: equi-self-join on the block keys (never corpus all-pairs —
    block design is the scale lever: nation+zip, name prefix, phonetic
    key, or an LSH bucket from q43's family), then TWO guards before
    the O(len²) edit-distance kernel:
    - length band |len(a) − len(b)| ≤ d — PROVABLY lossless
      (levenshtein ≥ length difference), integer compares in codegen;
    - the levenshtein itself (JVM built-in, no Python).
    Output: (id_a, id_b, name_a, name_b, distance), id_a < id_b.

    Skew: a hot block contributes m² pairs — cap or sub-block the way
    lsh_candidate_pairs does; at 100 TB prefer q-gram/LSH blocks over
    low-cardinality attributes (a 25-nation block scheme is
    demonstration-grade, not production blocking)."""
    from pyspark.sql import functions as F

    a = df.select(
        *block_cols,
        F.col(id_col).alias("id_a"),
        F.col(text_col).alias("name_a"),
    )
    b = df.select(
        *block_cols,
        F.col(id_col).alias("id_b"),
        F.col(text_col).alias("name_b"),
    )
    pairs = a.join(b, block_cols).filter(F.col("id_a") < F.col("id_b"))
    band = (
        F.abs(F.length("name_a") - F.length("name_b")) <= max_distance
    )
    dist = F.levenshtein("name_a", "name_b")
    return (
        pairs.filter(band)
        .select(
            "id_a", "id_b", "name_a", "name_b",
            dist.cast("bigint").alias("distance"),
        )
        .filter(F.col("distance") <= max_distance)
    )
