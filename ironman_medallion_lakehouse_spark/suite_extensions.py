"""Suite entries for the training-data-pipeline extensions
(BASELINE.json north star): dedup, similarity search, text analysis,
event-time windows, multimodal plumbing.

Oracle notes:
- All dedup hashing is md5 (identical across engines), so even MinHash
  signatures and LSH candidate pairs are hash-checked against DuckDB.
- Embedding math is double-precision ordered folds on both sides
  (Spark F.aggregate ≡ DuckDB list_dot_product over DOUBLE[] casts).
- simhash is hash-oracled since r3 (DuckDB replays the md5 token hash
  and per-bit majority exactly); since r4 EVERY entry is oracled —
  q54 decodes a real binary-PPM corpus whose aggregate the oracle
  re-derives from the generative md5 + PPM byte-layout formula
  (since r14 plus a real zlib-PNG arm attested bit-exactly against
  the formula-oracled PPM arm).
"""

from __future__ import annotations

import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ironman_medallion_lakehouse_spark.functions import text as T
from ironman_medallion_lakehouse_spark.operators import cleaning as CL
from ironman_medallion_lakehouse_spark.operators import dedup as D
from ironman_medallion_lakehouse_spark.operators import multimodal as M
from ironman_medallion_lakehouse_spark.operators import similarity as S
from ironman_medallion_lakehouse_spark.operators import vocab as VB
from ironman_medallion_lakehouse_spark.session import load_tables
from ironman_medallion_lakehouse_spark.streaming import event_windows as EW
from ironman_medallion_lakehouse_spark.suite import dsum, register

_WORDS = "list_distinct(string_split_regex(lower(text), '\\s+'))"


# ---------------------------------------------------------------- dedup

@register(
    "q40_dedup_exact",
    oracle="""
    SELECT doc_id, lang, source, content_hash, n_copies
    FROM (
      SELECT doc_id, lang, source,
             md5(text) AS content_hash,
             ROW_NUMBER() OVER (PARTITION BY md5(text) ORDER BY doc_id ASC) AS rn,
             COUNT(*) OVER (PARTITION BY md5(text)) AS n_copies
      FROM documents
    ) WHERE rn = 1
    """,
)
def q40_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup end-to-end (operators/dedup.exact_dedup): content-hash
    groups + deterministic min-id survivor policy fused into one window
    pass — one skew-free shuffle on the uniform 32-hex md5 key. Covers
    both the group-stats and the survivor-selection surfaces
    (previously q40 + q41)."""
    t = load_tables(spark, sf_dir, "documents")
    return D.exact_dedup(t["documents"]).select(
        "doc_id", "lang", "source", "content_hash", "n_copies"
    )


# q43 LSH parameters (VERDICT r1 item 5): k=128 hashes, 32 bands × r=4
# rows/band puts the banding threshold near (1/32)^(1/4) ≈ 0.42, and the
# exact-Jaccard refine stage keeps only pairs ≥ 0.5 — r=2 banding
# produced a 96k-candidate explosion from 500 docs at sf0.01.
_LSH_K, _LSH_BANDS = 128, 32
_LSH_R = _LSH_K // _LSH_BANDS

# DuckDB replay of the Carter-Wegman MinHash family
# (operators/dedup.minhash_coeffs / minhash_signatures): one md5 per token →
# 60-bit hash → per-permutation (a_j·h + b_j) mod p, all exact integer
# arithmetic on both engines. The coefficients come from the SAME
# python helper the Spark operator uses — one source of truth.
_TOKEN_HASH = f"(('0x' || substr(md5(tok), 1, 15))::UBIGINT % {D.MINHASH_P})"
_SIG_EXPRS = ",\n        ".join(
    f"MIN(({a}::UBIGINT * {_TOKEN_HASH} + {b}) % {D.MINHASH_P}) AS sig_{j}"
    for j, (a, b) in enumerate(D.minhash_coeffs(_LSH_K))
)


def _band_selects(bands: int) -> str:
    r = _LSH_K // bands
    return "\n      UNION ALL ".join(
        "SELECT doc_id, {b} AS band_id, md5({cat}) AS bucket FROM sigs".format(
            b=b,
            cat=" || '|' || ".join(f"sig_{b * r + j}" for j in range(r)),
        )
        for b in range(bands)
    )


_BAND_SELECTS = _band_selects(_LSH_BANDS)


@register(
    "q43_minhash_lsh_pairs",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, unnest({_WORDS}) AS tok FROM documents
    ),
    sigs AS (
      SELECT doc_id,
        {_SIG_EXPRS}
      FROM toks GROUP BY doc_id
    ),
    bands AS (
      {_BAND_SELECTS}
    ),
    cand AS (
      SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
      FROM bands a JOIN bands b
        ON a.band_id = b.band_id AND a.bucket = b.bucket AND a.doc_id < b.doc_id
    ),
    ws AS (
      SELECT doc_id, {_WORDS} AS w FROM documents
    )
    SELECT c.id_a, c.id_b,
      CAST(len(list_intersect(a.w, b.w)) AS DOUBLE)
        / CAST(len(a.w) + len(b.w) - len(list_intersect(a.w, b.w)) AS DOUBLE) AS jaccard
    FROM cand c JOIN ws a ON a.doc_id = c.id_a JOIN ws b ON b.doc_id = c.id_b
    WHERE CAST(len(list_intersect(a.w, b.w)) AS DOUBLE)
        / CAST(len(a.w) + len(b.w) - len(list_intersect(a.w, b.w)) AS DOUBLE) >= 0.5
    """,
)
def q43_minhash_lsh_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full near-dup scale path (operators/dedup.py): MinHash
    (k=128) → LSH banding (32 bands × r=4) → exact word-set Jaccard
    refine at 0.5 over candidates only. Zero-shuffle per-row signature
    transforms + band equi-join + two candidate-bounded hash joins; no
    all-pairs computation anywhere. Covers both the LSH-candidate and the
    Jaccard-verify operator families (previously q42 + q43).

    Measured at sf0.01: 107k band candidates → 91k pairs ≥ 0.5 — an
    85% pre-refine precision — this synthetic corpus's tiny vocabulary
    makes TRUE near-dup pairs quadratically dense, so the r1 candidate
    count was data, not banding laxness. The
    r=4 banding + refine stage is what keeps the pair join bounded on a
    real corpus, where near-dup density is sparse."""
    t = load_tables(spark, sf_dir, "documents")
    sets = D.token_sets(t["documents"])
    sigs = D.minhash_signatures(sets, k=_LSH_K)
    cand = D.lsh_candidate_pairs(sigs, k=_LSH_K, bands=_LSH_BANDS)
    return D.jaccard_refine(cand, sets, threshold=0.5)


# q83 closes the near-dup pipeline end-to-end: pairs are only EDGES —
# dedup needs transitive GROUPS (A~B, B~C ⟹ {A,B,C} one cluster).
# Refine threshold 0.9 keeps the sf0.01 graph meaningful (265 paired
# docs, 17 clusters) without the quadratic near-dup density this
# synthetic corpus shows at 0.5. The oracle closes reachability with a
# recursive CTE (min reachable id ≡ hash-min fixpoint by definition of
# connectivity). Replaces q55_minhash_signatures in the 50-entry
# window: the signature stage stays driver-attested inside this oracle
# and q43's (both recompute signatures from scratch), and stays
# unit-tested in tests/test_extensions.py.
_Q83_THRESHOLD = 0.9
# Banding matched to the 0.9 refine threshold: 16 bands × r=8 puts the
# LSH s-curve threshold near (1/16)^(1/8) ≈ 0.71 — pairs at the 0.9
# refine bar still band together with probability 1−(1−0.9⁸)^16 ≈
# 0.9999, while the sub-threshold candidate flood q43's 0.42-threshold
# banding admits (10.5M candidates at sf0.1, 84% of ALL pairs on this
# dup-dense synthetic corpus) never reaches the exact-Jaccard join.
# Precision knob, not a semantics change — the oracle replays the same
# banding, and refine keeps only ≥0.9 pairs either way.
_Q83_BANDS = 16
# Signature-agreement pre-verify (operators/dedup.sig_agreement_filter):
# ≥72% of the first 32 MinHash components must agree — 3.4σ below the
# 0.9 exact bar (σ = √(0.9·0.1/32) ≈ 0.053). r5: REMOVED from q83's
# pipeline, kept in q90's. Measured at sf0.1 with hashed-BIGINT
# refine, the prefilter costs more than it saves (agreement 0.42 s +
# refine-on-survivors 3.2 s vs refine-on-all-candidates 1.3 s, output
# pair-for-pair identical) — the interpreted set intersection it was
# shielding became cheap when refine moved to 60-bit token hashes, and
# this corpus's candidate bulk is only 1.3× its survivor set. The
# pattern still pays when banding is loose (q43's 0.42-threshold
# regime) — that configuration is exactly what q90 exercises and
# oracles.
_Q83_MIN_AGREE = 0.72
_Q83_AGREE_COMPONENTS = 32
# flat list_filter form — a long `+` chain is a deep binder recursion
# in DuckDB (hard limit 128); a list literal binds flat
_AGREE_TERMS_32 = "len(list_filter([{}], x -> x))".format(
    ", ".join(f"sa.sig_{j} = sb.sig_{j}" for j in range(_Q83_AGREE_COMPONENTS))
)
# hashed-token word sets for the exact-Jaccard stage
# (operators/dedup.token_hash_raw): BIGINT intersection, same counts
_HASHED_WORDS = (
    "list_transform({}, tok -> (('0x' || substr(md5(tok), 1, 15))::UBIGINT)::BIGINT)"
).format(_WORDS)


# the full near-dup-grouping replay: MinHash -> banded candidates ->
# exact hashed-token Jaccard -> recursive-CTE components with min-id
# labels. Shared by q83 (batch grouping) and q147 (incremental group
# maintenance) — the incremental result is provably equal to the
# batch recompute (see dedup.update_dedup_groups), so ONE oracle
# attests both.
_Q83_ORACLE = f"""
    WITH RECURSIVE toks AS (
      SELECT doc_id, unnest({_WORDS}) AS tok FROM documents
    ),
    sigs AS (
      SELECT doc_id,
        {_SIG_EXPRS}
      FROM toks GROUP BY doc_id
    ),
    bands AS (
      {_band_selects(_Q83_BANDS)}
    ),
    cand AS (
      SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
      FROM bands a JOIN bands b
        ON a.band_id = b.band_id AND a.bucket = b.bucket AND a.doc_id < b.doc_id
    ),
    ws AS (
      SELECT doc_id, {_HASHED_WORDS} AS w FROM documents
    ),
    refined AS (
      SELECT c.id_a, c.id_b
      FROM cand c JOIN ws a ON a.doc_id = c.id_a JOIN ws b ON b.doc_id = c.id_b
      WHERE CAST(len(list_intersect(a.w, b.w)) AS DOUBLE)
          / CAST(len(a.w) + len(b.w) - len(list_intersect(a.w, b.w)) AS DOUBLE)
          >= {_Q83_THRESHOLD}
    ),
    edges AS (
      SELECT id_a AS s, id_b AS d FROM refined
      UNION SELECT id_b, id_a FROM refined
    ),
    nodes AS (SELECT DISTINCT s AS node FROM edges),
    reach(node, r) AS (
      SELECT node, node FROM nodes
      UNION
      SELECT e.d, rr.r FROM reach rr JOIN edges e ON e.s = rr.node
    ),
    comp AS (SELECT node, MIN(r) AS group_id FROM reach GROUP BY node),
    assigned AS (
      SELECT d.doc_id, COALESCE(c.group_id, d.doc_id) AS group_id
      FROM documents d LEFT JOIN comp c ON c.node = d.doc_id
    )
    SELECT doc_id, group_id,
           COUNT(*) OVER (PARTITION BY group_id) AS group_size,
           (doc_id = group_id) AS is_survivor
    FROM assigned
    """


@register("q83_dedup_groups", oracle=_Q83_ORACLE)
def q83_dedup_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup GROUPS, the stage after q43's pairs: MinHash → LSH
    (16 bands × r=8, matched to the 0.9 bar — see _Q83_BANDS) →
    exact Jaccard refine (0.9, hashed-token BIGINT intersection) →
    star-contraction connected components (operators/graph.py) →
    full-corpus (doc_id, group_id, group_size, is_survivor) with
    singletons as their own groups and the min-id survivor policy.
    Dense duplicate clusters contract to one super-node in a single
    round; per-round frames localCheckpoint so the iterative plan
    never accumulates lineage. The r4 signature-agreement prefilter
    was measured out of this pipeline in r5 (see _Q83_MIN_AGREE note);
    q90 keeps that operator driver-attested in the loose-banding
    regime where it earns its cost. (r6: connected_components' hybrid
    gate lowered to 500k edges with Arrow-batched edge pull —
    re-verified this round.)

    r5: runs through ``operators/dedup.near_dedup_groups``, which adds
    two provably output-invariant cost cuts — an exact-token-set
    pre-contraction ahead of the quadratic stages (identical sets ⟹
    identical signatures/bands and Jaccard 1, so component structure
    and min-id labels are untouched) and a size-compatibility guard
    inside the refine (J ≤ min/max can never reach the bar). The
    oracle below is UNCHANGED — both cuts preserve the output
    row-for-row."""
    t = load_tables(spark, sf_dir, "documents")
    return D.near_dedup_groups(
        t["documents"], k=_LSH_K, bands=_Q83_BANDS, threshold=_Q83_THRESHOLD
    )


@register("q147_incremental_group_maintenance", oracle=_Q83_ORACLE)
def q147_incremental_group_maintenance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INCREMENTAL near-dup group maintenance driver-attested against
    the BATCH oracle (r10): the corpus arrives in three batches
    (doc_id % 3); batch 0 is grouped with near_dedup_groups, then
    dedup.update_dedup_groups folds batches 1 and 2 in — O(batch)
    signature work + bucket-hit joins + a touched-groups-only relabel
    per step, with each batch's signatures computed ONCE and
    accumulated as the stored corpus_sigs (the q94b prepared pattern).
    Because LSH candidate edges depend only on per-doc signatures, the
    maintained assignment provably equals the full recompute — so this
    entry's oracle IS q83's batch-grouping replay, row-for-row
    (group_size/is_survivor derived from the maintained (id, group)
    pairs at the end)."""
    from pyspark.sql import Window

    t = load_tables(spark, sf_dir, "documents")
    d = t["documents"].select("doc_id", "text")
    batches = [d.filter(F.col("doc_id") % 3 == i).localCheckpoint() for i in range(3)]
    groups = D.near_dedup_groups(
        batches[0], k=_LSH_K, bands=_Q83_BANDS, threshold=_Q83_THRESHOLD
    ).select("doc_id", "group_id")
    corpus = batches[0]
    sigs = D.minhash_signatures(D.token_sets(batches[0]), k=_LSH_K).localCheckpoint()
    for b in batches[1:]:
        groups = D.update_dedup_groups(
            groups,
            corpus,
            b,
            k=_LSH_K,
            bands=_Q83_BANDS,
            threshold=_Q83_THRESHOLD,
            corpus_sigs=sigs,
        ).localCheckpoint()  # bound lineage across maintenance steps
        corpus = corpus.unionByName(b).localCheckpoint()
        sigs = sigs.unionByName(
            D.minhash_signatures(D.token_sets(b), k=_LSH_K)
        ).localCheckpoint()
    w = Window.partitionBy("group_id")
    return groups.select(
        "doc_id",
        "group_id",
        F.count(F.lit(1)).over(w).alias("group_size"),
        (F.col("doc_id") == F.col("group_id")).alias("is_survivor"),
    )


# q90: the two 100 TB safety valves of the LSH pipeline, exercised in
# the regime where each earns its cost (VERDICT r4 item 6 — the
# max_bucket_size cap was pytest-only) and replayed exactly by the
# oracle:
# - loose q43-style banding (32 bands × r=4, s-curve threshold ≈0.42)
#   floods the pair join on a dup-dense corpus — the bucket-size cap
#   (16) drops mega-buckets BEFORE the self-join (measured: 151
#   over-cap buckets at sf0.01, 733 at sf0.1 — the cap provably
#   fires; the max bucket holds 317 resp. 3132 docs, i.e. a single
#   uncapped bucket would contribute up to m² ≈ 10M join rows).
# - the exact-Jaccard set intersection is the interpreted stage the
#   signature-agreement prefilter (≥25% of 32 components, 2.9σ below
#   the 0.5 refine bar) shields; loose banding admits the
#   mid-similarity candidate bulk it rejects (q83's 0.9 banding does
#   not, so q83 dropped the prefilter).
_Q90_CAP, _Q90_MIN_AGREE, _Q90_THRESHOLD = 16, 0.25, 0.5


@register(
    "q90_lsh_capped_agreement",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, unnest({_WORDS}) AS tok FROM documents
    ),
    sigs AS (
      SELECT doc_id,
        {_SIG_EXPRS}
      FROM toks GROUP BY doc_id
    ),
    bands AS (
      {_BAND_SELECTS}
    ),
    kept AS (
      SELECT band_id, bucket FROM bands
      GROUP BY band_id, bucket HAVING COUNT(*) <= {_Q90_CAP}
    ),
    bandsk AS (
      SELECT b.doc_id, b.band_id, b.bucket
      FROM bands b JOIN kept k ON b.band_id = k.band_id AND b.bucket = k.bucket
    ),
    cand AS (
      SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
      FROM bandsk a JOIN bandsk b
        ON a.band_id = b.band_id AND a.bucket = b.bucket AND a.doc_id < b.doc_id
    ),
    cand_f AS (
      SELECT c.id_a, c.id_b
      FROM cand c JOIN sigs sa ON sa.doc_id = c.id_a
                  JOIN sigs sb ON sb.doc_id = c.id_b
      WHERE {_AGREE_TERMS_32} >= {int(_Q90_MIN_AGREE * _Q83_AGREE_COMPONENTS)}
    ),
    ws AS (
      SELECT doc_id, {_WORDS} AS w FROM documents
    )
    SELECT c.id_a, c.id_b,
      CAST(len(list_intersect(a.w, b.w)) AS DOUBLE)
        / CAST(len(a.w) + len(b.w) - len(list_intersect(a.w, b.w)) AS DOUBLE) AS jaccard
    FROM cand_f c JOIN ws a ON a.doc_id = c.id_a JOIN ws b ON b.doc_id = c.id_b
    WHERE CAST(len(list_intersect(a.w, b.w)) AS DOUBLE)
        / CAST(len(a.w) + len(b.w) - len(list_intersect(a.w, b.w)) AS DOUBLE)
        >= {_Q90_THRESHOLD}
    """,
)
def q90_lsh_capped_agreement(spark: SparkSession, sf_dir: str) -> DataFrame:
    """q43's loose-banding pair pipeline with both scale safety valves
    armed: MinHash (k=128) → LSH banding (32×r=4) with
    ``max_bucket_size=16`` dropping mega-buckets before the self-join
    → signature-agreement prefilter (≥8 of 32 components) shielding
    the interpreted set intersection → exact Jaccard ≥ 0.5.
    Semantics note: the cap trades recall inside mega-clusters for a
    bounded join (dropped docs usually still pair through their other
    31 bands) — deterministic, so the oracle replays it row-exactly."""
    t = load_tables(spark, sf_dir, "documents")
    sets = D.token_sets(t["documents"])
    sigs = D.minhash_signatures(sets, k=_LSH_K).localCheckpoint(eager=True)
    cand = D.lsh_candidate_pairs(
        sigs, k=_LSH_K, bands=_LSH_BANDS, max_bucket_size=_Q90_CAP
    )
    cand = D.sig_agreement_filter(
        cand, sigs, min_fraction=_Q90_MIN_AGREE, components=_Q83_AGREE_COMPONENTS
    )
    return D.jaccard_refine(cand, sets, threshold=_Q90_THRESHOLD)


# q85 winnowing params: character-8-gram rolling hashes, window 4
# (guarantee: any shared substring ≥ 11 chars yields a shared
# fingerprint), pairs must share ≥2 selected fingerprints, and
# fingerprints appearing in >50 documents are dropped BEFORE the join
# (the IDF-style stop-fingerprint cut — boilerplate shared by hundreds
# of docs would contribute O(df²) join pairs).
_Q85_K, _Q85_WINDOW, _Q85_MIN_SHARED, _Q85_MAX_DF = 8, 4, 2, 50


@register(
    "q85_winnowing_pairs",
    oracle=f"""
    WITH norm AS (
      SELECT doc_id, regexp_replace(trim(lower(text)), '\\s+', ' ', 'g') AS t
      FROM documents
    ),
    grams AS (
      SELECT doc_id, len(t) AS L,
        list_transform(generate_series(1, len(t) - {_Q85_K - 1}),
                       i -> md5(substr(t, i, {_Q85_K}))) AS g
      FROM norm
    ),
    fps AS (
      SELECT doc_id,
        CASE
          WHEN L < {_Q85_K} THEN CAST([] AS VARCHAR[])
          WHEN len(g) < {_Q85_WINDOW} THEN list_distinct([list_min(g)])
          ELSE list_distinct(list_transform(
                 generate_series(1, len(g) - {_Q85_WINDOW - 1}),
                 j -> list_min(g[j:j + {_Q85_WINDOW - 1}])))
        END AS fp
      FROM grams
    ),
    ex AS (SELECT doc_id, unnest(fp) AS f FROM fps),
    keep AS (
      SELECT f FROM ex GROUP BY f HAVING COUNT(*) <= {_Q85_MAX_DF}
    ),
    exf AS (SELECT ex.doc_id, ex.f FROM ex JOIN keep USING (f))
    SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS n_shared
    FROM exf a JOIN exf b ON a.f = b.f AND a.doc_id < b.doc_id
    GROUP BY 1, 2
    HAVING COUNT(*) >= {_Q85_MIN_SHARED}
    """,
)
def q85_winnowing_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Substring-overlap candidate pairs by winnowing (the MOSS
    fingerprinting scheme, Schleimer et al. 2003 — functions/
    text.winnowing_fingerprints + operators/dedup.
    winnowing_candidate_pairs): rolling char-8-gram md5 hashes,
    window-4 minima, distinct fingerprints → explode → document-
    frequency stop-cut (df ≤ 50) → self equi-join on the fingerprint →
    pairs sharing ≥2. Order-sensitive and substring-local — catches a
    long passage copied into an otherwise-different document, which
    whole-set MinHash resemblance dilutes away (the complementary
    near-dup family to q43/q83). Same bucketed join discipline as LSH
    banding: only docs sharing a fingerprint are ever paired, never
    all-pairs; the df cut bounds the hottest bucket at 50 docs.
    Promoted from pytest-only to a driver row per VERDICT r3 item 6."""
    t = load_tables(spark, sf_dir, "documents")
    return D.winnowing_candidate_pairs(
        t["documents"],
        k=_Q85_K,
        window=_Q85_WINDOW,
        min_shared=_Q85_MIN_SHARED,
        max_doc_freq=_Q85_MAX_DF,
    )


# q89 quality gates — thresholds sit inside the sf0.01 corpus's actual
# signal ranges (n_words 10-99 med 56; top-bigram 0.02-0.31;
# en-stopword-ratio 0-0.18) so the filter makes a REAL split, not a
# vacuous all-pass.
_Q89_MIN_WORDS, _Q89_MAX_TBF, _Q89_MIN_SWR = 30, 0.15, 0.02
_Q89_EN = ", ".join(f"'{w}'" for w in T.STOPWORDS["en"])


@register(
    "q89_quality_filter",
    oracle=f"""
    WITH scored AS (
      SELECT doc_id,
        string_split_regex(lower(text), '\\s+') AS w,
        len(list_intersect({_WORDS}, [{_Q89_EN}])) AS score_en
      FROM documents
    ),
    grams AS (
      SELECT *, list_transform(generate_series(1, len(w) - 1),
                               i -> w[i] || ' ' || w[i + 1]) AS bg
      FROM scored
    ),
    sig AS (
      SELECT doc_id,
        CAST(len(w) AS BIGINT) AS n_words,
        CASE WHEN len(w) < 2 THEN 0.0
             ELSE 2.0 * CAST(list_max(list_transform(list_distinct(bg),
                               b -> len(list_filter(bg, x -> x = b)))) AS DOUBLE)
                      / CAST(len(w) AS DOUBLE)
        END AS top_bigram_fraction,
        CAST(score_en AS DOUBLE)
          / CAST(greatest(len(list_distinct(w)), 1) AS DOUBLE) AS stopword_ratio_en
      FROM grams
    )
    SELECT doc_id, n_words, top_bigram_fraction, stopword_ratio_en,
      (n_words >= {_Q89_MIN_WORDS}
       AND top_bigram_fraction < {_Q89_MAX_TBF}
       AND stopword_ratio_en >= {_Q89_MIN_SWR}) AS kept
    FROM sig
    """,
)
def q89_quality_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The training-data CLEANING step end-to-end: every document
    scored on the Gopher-style signals (functions/text.py — token
    count, top-bigram repetition, English stopword ratio) and gated
    into kept/dropped in one narrow map-only pass, zero shuffles —
    the q47 battery computes signals, this row applies the decision
    the pipeline actually acts on. At 100 TB this is the pass that
    runs in front of dedup: a pure Column filter at scan speed, with
    the boolean emitted (rather than rows dropped) so the oracle
    checks BOTH sides of every gate."""
    t = load_tables(spark, sf_dir, "documents")
    d = t["documents"]
    sig = d.select(
        "doc_id",
        T.n_words("text").cast("bigint").alias("n_words"),
        T.top_bigram_fraction("text").alias("top_bigram_fraction"),
        T.stopword_ratio("text", "en").alias("stopword_ratio_en"),
    )
    return sig.select(
        "doc_id",
        "n_words",
        "top_bigram_fraction",
        "stopword_ratio_en",
        (
            (F.col("n_words") >= _Q89_MIN_WORDS)
            & (F.col("top_bigram_fraction") < _Q89_MAX_TBF)
            & (F.col("stopword_ratio_en") >= _Q89_MIN_SWR)
        ).alias("kept"),
    )


# q88 CMS params mirror operators/sketches.CMS_DEPTH/CMS_WIDTH; probes
# are the fixed English stopword list (shared literal on both engines)
_Q88_PROBES = T.STOPWORDS["en"]
_Q88_PROBE_LIST = ", ".join(f"'{p}'" for p in _Q88_PROBES)


@register(
    "q88_cms_frequency",
    oracle=f"""
    WITH toks AS (
      SELECT unnest(string_split_regex(lower(text), '\\s+')) AS tok
      FROM documents
    ),
    depths AS (SELECT unnest(range(4)) AS j),
    cells AS (
      SELECT j,
        (('0x' || substr(md5(tok || '#cms' || j), 1, 15))::UBIGINT % 256) AS cell,
        COUNT(*) AS cnt
      FROM toks CROSS JOIN depths
      GROUP BY 1, 2
    ),
    probes AS (
      SELECT tok AS item, j,
        (('0x' || substr(md5(tok || '#cms' || j), 1, 15))::UBIGINT % 256) AS cell
      FROM (SELECT unnest([{_Q88_PROBE_LIST}]) AS tok) CROSS JOIN depths
    ),
    per_depth AS (
      SELECT p.item, p.j, COALESCE(c.cnt, 0) AS c
      FROM probes p LEFT JOIN cells c ON c.j = p.j AND c.cell = p.cell
    ),
    est AS (
      SELECT item, CAST(MIN(c) AS BIGINT) AS est_count
      FROM per_depth GROUP BY item
    ),
    exact AS (
      SELECT tok AS item, COUNT(*) AS exact_count FROM toks
      WHERE tok IN ({_Q88_PROBE_LIST}) GROUP BY 1
    )
    SELECT e.item, e.est_count,
           COALESCE(x.exact_count, 0) AS exact_count
    FROM est e LEFT JOIN exact x USING (item)
    """,
)
def q88_cms_frequency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-Min Sketch frequency estimation end-to-end
    (operators/sketches.cms_sketch/cms_rollup/cms_estimate — the
    fourth sketch family: HLL/Theta distinct, KLL quantiles, CMS item
    counts): token frequencies sketched at the per-lang fine grain
    (bounded depth×width counter rows per group, whatever the
    vocabulary size), rolled up to a global sketch by GROUP BY + SUM
    over COUNTER ROWS (sketch algebra, raw data read once), then point
    queries for the English stopword probes. CMS is order-independent
    (pure hashed sums) so the DuckDB oracle replays the ENTIRE sketch
    — estimates hash-match exactly, alongside the exact counts they
    must dominate. At 100 TB: one explode+aggregation over tokens,
    ever; every coarser frequency question is counter-row algebra."""
    from ironman_medallion_lakehouse_spark.operators import sketches as SK

    t = load_tables(spark, sf_dir, "documents")
    toks = t["documents"].select(
        "lang", F.explode(T.words("text")).alias("tok")
    )
    fine = SK.cms_sketch(toks, ["lang"], "tok")
    glob = SK.cms_rollup(fine, [])
    est = SK.cms_estimate(glob, list(_Q88_PROBES))
    exact = (
        toks.filter(F.col("tok").isin(list(_Q88_PROBES)))
        .groupBy(F.col("tok").alias("item"))
        .agg(F.count(F.lit(1)).alias("exact_count"))
    )
    return est.join(exact, "item", "left").select(
        "item",
        "est_count",
        F.coalesce(F.col("exact_count"), F.lit(0)).alias("exact_count"),
    )


_Q86_COLS = ["doc_id", "text", "lang", "source", "n_chars"]


@register(
    "q86_table_stats",
    oracle="\n    UNION ALL ".join(
        f"""SELECT '{c}' AS col_name, COUNT(*) AS row_count,
      COUNT(*) - COUNT({c}) AS null_count, TRUE AS ndv_within_15pct
    FROM documents"""
        for c in _Q86_COLS
    ),
)
def q86_table_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANALYZE TABLE end-to-end (sources/tablestore.analyze): the
    documents table lands in a TableStore, one aggregation pass
    computes row count / per-column approx-NDV / null counts for the
    current version, and the suite row reports the returned stats per
    column. Exact columns (row_count, null_count) are
    hash-matched against DuckDB; the HLL NDV is engine-specific, so it
    uses the q82 tolerance-boolean protocol — compared Spark-side
    against hash-matched exact countDistinct, 15% ≈ 3σ of
    approx_count_distinct's default 5% rsd, and deterministic for a
    given dataset (HLL has no RNG). At 100 TB the stats pass is one
    scan with map-side partial HLL merge; callers get explicit NDV and
    null counts tagged with the version they describe (broadcast
    sizing, ``read_hinted``, reads the manifest's file sizes and needs
    no stats pass)."""
    import tempfile as _tempfile

    from pyspark.sql.types import (
        BooleanType,
        LongType,
        StringType,
        StructField,
        StructType,
    )

    from ironman_medallion_lakehouse_spark.session import staging_dir
    from ironman_medallion_lakehouse_spark.sources.tablestore import TableStore

    t = load_tables(spark, sf_dir, "documents")
    root = _tempfile.mkdtemp(prefix="stats_", dir=staging_dir(spark, "tablestore"))
    store = TableStore(spark, root)
    store.save_overwrite(t["documents"], "meta.documents")
    stats = store.analyze("meta.documents", columns=_Q86_COLS)

    exact = (
        t["documents"]
        .agg(*[F.countDistinct(c).alias(c) for c in _Q86_COLS])
        .collect()[0]
    )
    rows = [
        (
            c,
            stats["row_count"],
            stats["null_count"][c],
            abs(stats["ndv"][c] - exact[c]) <= 0.15 * exact[c],
        )
        for c in _Q86_COLS
    ]
    schema = StructType(
        [
            StructField("col_name", StringType()),
            StructField("row_count", LongType()),
            StructField("null_count", LongType()),
            StructField("ndv_within_15pct", BooleanType()),
        ]
    )
    return spark.createDataFrame(rows, schema)


@register(
    "q44_simhash",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, unnest({_WORDS}) AS tok FROM documents
    ),
    th AS (
      SELECT doc_id, ('0x' || substr(md5(tok), 1, 16))::UBIGINT AS h
      FROM toks WHERE tok != ''
    ),
    per_bit AS (
      SELECT doc_id, i,
             SUM(CASE WHEN (h >> i) & 1 = 1 THEN 1 ELSE 0 END) AS ones,
             COUNT(*) AS n
      FROM th CROSS JOIN (SELECT unnest(range(64)) AS i) bits
      GROUP BY doc_id, i
    ),
    sh AS (
      SELECT doc_id,
             SUM(CASE WHEN 2 * ones > n
                      THEN (1::UBIGINT << i)::HUGEINT ELSE 0::HUGEINT END) AS u
      FROM per_bit GROUP BY doc_id
    )
    SELECT d.doc_id,
           CAST(CASE WHEN s.u IS NULL THEN 0
                     WHEN s.u >= 9223372036854775808 THEN s.u - 18446744073709551616
                     ELSE s.u END AS BIGINT) AS simhash
    FROM documents d LEFT JOIN sh s USING (doc_id)
    """,
)
def q44_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash-64 via Arrow-batched mapInPandas (bit-majority vote has
    no Column form; see operators/dedup.simhash64). Fully
    hash-oracled (the r2 verdict's "only LLM operator with no oracle"
    finding): DuckDB reproduces the exact bits because the token hash
    is md5-first-8-bytes big-endian — `('0x' || substr(md5(tok),1,16))
    ::UBIGINT` — and the per-bit majority is 64 shift-and-mask sums
    with the same 2·ones > n vote; the final unsigned→signed fold
    mirrors dedup.py's two's-complement store. Pairwise Hamming
    behavior is additionally unit-tested in tests/test_dedup.py."""
    t = load_tables(spark, sf_dir, "documents")
    return D.simhash64(t["documents"])


# ----------------------------------------------------------- similarity

_DOT = "list_dot_product(CAST({a} AS DOUBLE[]), CAST({b} AS DOUBLE[]))"


@register(
    "q45_cosine_topk",
    oracle=f"""
    WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
    scored AS (
      SELECT e.vec_id,
             {_DOT.format(a='e.embedding', b='q.qv')}
               / (sqrt({_DOT.format(a='e.embedding', b='e.embedding')})
                  * sqrt({_DOT.format(a='q.qv', b='q.qv')})) AS cos
      FROM embeddings e CROSS JOIN q
      WHERE e.vec_id != 0
    )
    SELECT CAST(ROW_NUMBER() OVER (ORDER BY cos DESC, vec_id ASC) AS BIGINT) AS rnk,
           vec_id
    FROM scored ORDER BY cos DESC, vec_id ASC LIMIT 10
    """,
)
def q45_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-10 to vec_id 0 (operators/similarity.py):
    broadcast query vector, single corpus pass, TakeOrderedAndProject.
    Compared by (rank, id) — double-precision ordered folds keep the
    ordering identical to DuckDB."""
    from pyspark.sql import Window

    t = load_tables(spark, sf_dir, "embeddings")
    topk = S.cosine_topk(t["embeddings"], query_id=0, k=10)
    # bounded-serial: ranks the <=k-row TakeOrderedAndProject frame
    w = Window.orderBy(F.col("cosine_sim").desc(), F.col("vec_id").asc())
    return topk.select(
        F.row_number().over(w).cast("bigint").alias("rnk"), "vec_id"
    )


@register(
    "q46_ivf_cells",
    oracle=f"""
    WITH c AS (
      SELECT vec_id AS centroid_id, embedding AS cv
      FROM embeddings ORDER BY vec_id ASC LIMIT 8
    ),
    scored AS (
      SELECT e.vec_id, c.centroid_id,
             {_DOT.format(a='e.embedding', b='c.cv')}
               / (sqrt({_DOT.format(a='e.embedding', b='e.embedding')})
                  * sqrt({_DOT.format(a='c.cv', b='c.cv')})) AS cos
      FROM embeddings e CROSS JOIN c
    ),
    best AS (
      SELECT vec_id, centroid_id,
             ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY cos DESC, centroid_id ASC) AS rn
      FROM scored
    )
    SELECT centroid_id, COUNT(*) AS n_members
    FROM best WHERE rn = 1 GROUP BY centroid_id
    """,
)
def q46_ivf_cells(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The MATERIALIZED IVF index driver-attested end-to-end
    (operators/similarity.IvfIndex — the production ANN scale path,
    not an ad-hoc stand-in): ``build`` freezes the codebook, writes
    the vector→cell assignment through a real TableStore partitioned
    by centroid_id, and the returned cell sizes are read back FROM THE
    INDEX TABLE. ``n_iter=0`` keeps the codebook exactly the first-8
    seed vectors (cells labeled by seed vec_id), which is what the
    DuckDB argmin oracle replicates; probes over the same index are
    partition-pruned (tests/test_ivf.py asserts inputFiles ⊆ nprobe
    cells). The r2 ad-hoc collect-path forms (ivf_topk/ivf_assign)
    are deleted — one code path serves oracle and production."""
    import tempfile as _tempfile

    from ironman_medallion_lakehouse_spark.session import staging_dir
    from ironman_medallion_lakehouse_spark.sources.tablestore import TableStore

    t = load_tables(spark, sf_dir, "embeddings")
    root = _tempfile.mkdtemp(prefix="ivf_", dir=staging_dir(spark, "tablestore"))
    store = TableStore(spark, root)
    idx = S.IvfIndex(store, "ann.ivf")
    idx.build(t["embeddings"], n_cells=8, n_iter=0)
    return (
        store.read(idx.assign_table)
        .groupBy("centroid_id")
        .agg(F.count(F.lit(1)).alias("n_members"))
    )


# -------------------------------------------------------- text analysis

def _lang_score_sql(lang: str) -> str:
    words = ", ".join(f"'{w}'" for w in T.STOPWORDS[lang])
    return f"len(list_intersect({_WORDS}, [{words}]))"


# BPE battery arm (r7c): a FIXED literal merge prefix chosen to fire
# on the synthetic corpus's common words (row/scan/hash/table) and to
# exercise chained merges + greedy left-to-right semantics; the oracle
# replays the same fold via vocab.bpe_tokens_sql (DuckDB list_reduce).
# Corpus-LEARNED vocabularies (vocab.learn_bpe) are pytest-attested —
# the learning loop is iterative and not SQL-expressible.
_Q47_BPE_MERGES = [("r", "o"), ("ro", "w"), ("row", "</w>"), ("a", "n"),
                   ("h", "a"), ("t", "a")]

# HTML shell for the strip_html battery arm: exercises block drop
# (style+script incl. a '<' inside code), comment drop, tag removal,
# and entity decode. Quote-free attributes keep the SQL literal clean.
_Q47_HTML_PRE = ("<html><head><style>p{color:red}</style>"
                 "<script>if(1<2){x=1;}</script></head><body><p>")
_Q47_HTML_POST = ("</p><!-- nav --><a href=#>link</a> &amp; tail"
                  "</body></html>")


@register(
    "q47_text_battery",
    oracle=f"""
    WITH scored AS (
      SELECT doc_id, lang AS actual_lang, text,
        string_split_regex(lower(text), '\\s+') AS w,
        {_lang_score_sql('en')} AS score_en,
        {_lang_score_sql('de')} AS score_de,
        {_lang_score_sql('fr')} AS score_fr,
        {_lang_score_sql('es')} AS score_es,
        {_lang_score_sql('zh')} AS score_zh
      FROM documents
    ),
    grams AS (
      SELECT *, list_transform(generate_series(1, len(w) - 1),
                               i -> w[i] || ' ' || w[i + 1]) AS bg
      FROM scored
    ),
    urls AS (
      SELECT doc_id, CASE CAST(doc_id % 5 AS INTEGER)
        WHEN 0 THEN 'HTTP://WWW.Example.COM:80/path/' || CAST(doc_id AS VARCHAR) || '/?utm_source=x&b=2&a=1#frag'
        WHEN 1 THEN 'https://Sub.Example.com:443/p?a=1&utm_campaign=c&z=9'
        WHEN 2 THEN 'https://example.com/' || source || '//deep/page/?fbclid=abc'
        WHEN 3 THEN 'http://example.com'
        ELSE 'https://example.com/path?b=2&a=1' END AS m
      FROM documents
    ),
    u1 AS (SELECT doc_id, regexp_replace(trim(m), '#.*$', '') AS u FROM urls),
    u2 AS (SELECT doc_id,
      lower(regexp_extract(u, '^([A-Za-z][A-Za-z0-9+.-]*)://', 1)) AS scheme,
      regexp_replace(u, '^[A-Za-z][A-Za-z0-9+.-]*://', '') AS rest FROM u1),
    u3 AS (SELECT *, lower(regexp_extract(rest, '^([^/?]*)', 1)) AS hostport,
      regexp_extract(rest, '^[^/?]*(.*)$', 1) AS pathq FROM u2),
    u4 AS (SELECT *, CASE WHEN scheme = 'http'
                 THEN regexp_replace(regexp_replace(hostport, '^www\\.', ''), ':80$', '')
               WHEN scheme = 'https'
                 THEN regexp_replace(regexp_replace(hostport, '^www\\.', ''), ':443$', '')
               ELSE regexp_replace(hostport, '^www\\.', '') END AS host,
      regexp_replace(regexp_extract(pathq, '^([^?]*)', 1), '/+$', '') AS path,
      regexp_extract(pathq, '\\?(.*)$', 1) AS query FROM u3),
    u5 AS (SELECT doc_id, scheme || '://' || host || path ||
        CASE WHEN qs <> '' THEN '?' || qs ELSE '' END AS canonical_url
      FROM (SELECT *, array_to_string(list_sort(list_filter(string_split(query, '&'),
            p -> p <> '' AND NOT regexp_matches(p, '^(utm_[^=]*|gclid|fbclid)(=|$)'))), '&') AS qs
            FROM u4))
    SELECT doc_id, actual_lang, score_en, score_de, score_fr, score_es, score_zh,
      CASE
        WHEN greatest(score_en, score_de, score_fr, score_es, score_zh) = 0 THEN 'und'
        WHEN score_en = greatest(score_en, score_de, score_fr, score_es, score_zh) THEN 'en'
        WHEN score_de = greatest(score_en, score_de, score_fr, score_es, score_zh) THEN 'de'
        WHEN score_fr = greatest(score_en, score_de, score_fr, score_es, score_zh) THEN 'fr'
        WHEN score_es = greatest(score_en, score_de, score_fr, score_es, score_zh) THEN 'es'
        ELSE 'zh'
      END AS predicted_lang,
      LENGTH(text) AS n_chars_actual,
      CAST(len(string_split_regex(lower(text), '\\s+')) AS BIGINT) AS n_words,
      CAST(len({_WORDS}) AS BIGINT) AS n_distinct_words,
      CAST(LENGTH(regexp_replace(text, '\\s+', '', 'g')) AS DOUBLE)
        / CAST(len(string_split_regex(lower(text), '\\s+')) AS DOUBLE) AS avg_word_len,
      CAST(len({_WORDS}) AS DOUBLE)
        / CAST(greatest(len(string_split_regex(lower(text), '\\s+')), 1) AS DOUBLE) AS type_token_ratio,
      CAST(score_en AS DOUBLE)
        / CAST(greatest(len({_WORDS}), 1) AS DOUBLE) AS stopword_ratio_en,
      CAST(len(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9\\s]')) AS BIGINT) AS regex_tokens,
      md5(array_to_string(list_sort({_WORDS}), ' ')) AS fingerprint,
      CAST(len(list_filter(string_split_regex(lower(text), '\\s+'),
                           w -> regexp_matches(w, '[a-z]'))) AS DOUBLE)
        / CAST(greatest(len(string_split_regex(lower(text), '\\s+')), 1) AS DOUBLE)
        AS alpha_word_ratio,
      CAST((LENGTH(text) - LENGTH(replace(text, '#', '')))
           + (LENGTH(text) - LENGTH(replace(text, '...', ''))) / 3 AS DOUBLE)
        / CAST(greatest(len(string_split_regex(lower(text), '\\s+')), 1) AS DOUBLE)
        AS symbol_word_ratio,
      1.0 - CAST(len(list_distinct(string_split(text, chr(10)))) AS DOUBLE)
        / CAST(greatest(len(string_split(text, chr(10))), 1) AS DOUBLE)
        AS dup_line_fraction,
      CASE WHEN len(w) < 2 THEN 0.0
           ELSE 2.0 * CAST(list_max(list_transform(list_distinct(bg),
                             b -> len(list_filter(bg, x -> x = b)))) AS DOUBLE)
                    / CAST(len(w) AS DOUBLE)
      END AS top_bigram_fraction,
      md5(regexp_replace(regexp_replace(regexp_replace(regexp_replace(
            text || ' reach me: john.doe+spam@mail.example.org, 10.20.30.40, 555-123-4567, 123-45-6789',
            '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{{2,}}', '<EMAIL>', 'g'),
            '\\b\\d{{3}}-\\d{{2}}-\\d{{4}}\\b', '<ID>', 'g'),
            '\\b\\d{{1,3}}\\.\\d{{1,3}}\\.\\d{{1,3}}\\.\\d{{1,3}}\\b', '<IP>', 'g'),
            '\\+?\\b\\d{{3}}[-. ]\\d{{3}}[-. ]\\d{{4}}\\b', '<PHONE>', 'g'))
        AS pii_scrub_fp,
      u5.canonical_url,
      CAST(len({VB.bpe_tokens_sql('text', _Q47_BPE_MERGES)}) AS BIGINT)
        AS n_bpe_tokens,
      md5(array_to_string({VB.bpe_tokens_sql('text', _Q47_BPE_MERGES)}, ' '))
        AS bpe_fp,
      md5({T.strip_html_sql("'<html><head><style>p{{color:red}}</style><script>if(1<2){{x=1;}}</script></head><body><p>' || substr(text, 1, 48) || '</p><!-- nav --><a href=#>link</a> &amp; tail</body></html>'")})
        AS html_strip_fp,
      bl.boiler_fp, bl.boiler_n_lines, bl.boiler_n_removed
    FROM grams JOIN u5 USING (doc_id) JOIN boiler bl USING (doc_id)
    """.replace(
        "WITH scored AS (",
        # corpus-level boilerplate-line removal arm (r10 fold of
        # operators/cleaning.remove_frequent_lines): synthesize a
        # multi-line page per doc (the corpus text is single-line) —
        # a banner every doc shares (always dropped), a trimmed-match
        # variant on every third doc (exercises trim-keyed counting
        # with original text preserved), the doc's 64-char text prefix
        # (cross-doc collisions: dup pages drop, unique ones survive),
        # and a per-doc unique line (always kept). max_count=2.
        """WITH boiler_docs AS (
      SELECT doc_id,
        'COOKIE BANNER ACCEPT' || chr(10)
        || CASE WHEN doc_id % 3 = 0
                THEN '  cookie banner accept  ' || chr(10) ELSE '' END
        || substr(text, 1, 64) || chr(10)
        || 'unique-' || CAST(doc_id AS VARCHAR) AS btext
      FROM documents
    ),
    blines AS (
      SELECT doc_id, pos, ls[pos] AS line, trim(ls[pos]) AS key
      FROM (SELECT doc_id, string_split(btext, chr(10)) AS ls,
                   unnest(generate_series(1, len(string_split(btext, chr(10))))) AS pos
            FROM boiler_docs)
    ),
    bcnt AS (SELECT key, COUNT(*) AS c FROM blines GROUP BY key),
    btag AS (
      SELECT doc_id, pos, line, (c > 2) AS dropped
      FROM blines JOIN bcnt USING (key)
    ),
    boiler AS (
      SELECT doc_id,
        md5(COALESCE(string_agg(CASE WHEN NOT dropped THEN line END,
                                chr(10) ORDER BY pos), '')) AS boiler_fp,
        CAST(COUNT(*) AS BIGINT) AS boiler_n_lines,
        CAST(SUM(CASE WHEN dropped THEN 1 ELSE 0 END) AS BIGINT) AS boiler_n_removed
      FROM btag GROUP BY doc_id
    ),
    scored AS (""",
    ),
)
def q47_text_battery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The text-analysis surface (functions/text.py) in one scan of
    documents: stopword-overlap language ID with deterministic argmax,
    quality scoring (lengths, token counts, mean token length, lexical
    diversity, stopword ratio), BPE-ish regex token counting, the
    bag-of-words md5 fingerprint (previously q47-q50), Gopher
    repetition signals, PII scrub, and — r7 — crawl URL
    canonicalization (functions/text.canonical_url: the pre-exact-
    dedup key for crawl data). Every per-row column is pure Column
    composition inside whole-stage codegen — one narrow pass, zero
    Python in the hot path. r10 adds the one corpus-LEVEL text
    operator (cleaning.remove_frequent_lines, the C4 boilerplate
    rule) as a joined arm over a synthesized multi-line page per doc
    (the corpus text is single-line; the battery's PII-suffix/HTML-
    shell synthesize-the-input precedent): a banner shared by every
    doc, a trimmed-match variant on every third doc, the doc's text
    prefix (real cross-doc collisions), and a per-doc unique line."""
    t = load_tables(spark, sf_dir, "documents")
    d = t["documents"]
    boiler_in = d.select(
        "doc_id",
        F.concat(
            F.lit("COOKIE BANNER ACCEPT\n"),
            F.when(
                F.col("doc_id") % 3 == 0, F.lit("  cookie banner accept  \n")
            ).otherwise(F.lit("")),
            F.substring(F.col("text"), 1, 64),
            F.lit("\nunique-"),
            F.col("doc_id").cast("string"),
        ).alias("text"),
    )
    boiler = CL.remove_frequent_lines(boiler_in, max_count=2).select(
        "doc_id",
        F.md5("text").alias("boiler_fp"),
        F.col("n_lines").cast("bigint").alias("boiler_n_lines"),
        F.col("n_removed").cast("bigint").alias("boiler_n_removed"),
    )
    cols = [
        F.col("doc_id"),
        F.col("lang").alias("actual_lang"),
    ]
    for lang in T.LANG_PRIORITY:
        # bigint to match DuckDB len() (the driver hash is dtype-sensitive)
        cols.append(T.stopword_score("text", lang).cast("bigint").alias(f"score_{lang}"))
    cols += [
        T.predicted_lang("text").alias("predicted_lang"),
        F.length("text").cast("bigint").alias("n_chars_actual"),
        T.n_words("text").cast("bigint").alias("n_words"),
        T.n_distinct_words("text").cast("bigint").alias("n_distinct_words"),
        T.avg_word_len("text").alias("avg_word_len"),
        T.type_token_ratio("text").alias("type_token_ratio"),
        T.stopword_ratio("text", "en").alias("stopword_ratio_en"),
        T.regex_token_count("text").cast("bigint").alias("regex_tokens"),
        T.bag_fingerprint("text").alias("fingerprint"),
        # Gopher-rules repetition/quality signals + PII scrub (r3): the
        # scrub column appends a fixed PII suffix so every pattern class
        # (email, SSN-shape, IPv4, phone) is exercised on every row even
        # though the synthetic corpus itself carries no PII.
        T.alpha_word_ratio("text").alias("alpha_word_ratio"),
        T.symbol_word_ratio("text").alias("symbol_word_ratio"),
        T.duplicate_line_fraction("text").alias("dup_line_fraction"),
        T.top_bigram_fraction("text").alias("top_bigram_fraction"),
        F.md5(
            T.pii_scrub(
                F.concat(
                    F.col("text"),
                    F.lit(
                        " reach me: john.doe+spam@mail.example.org, "
                        "10.20.30.40, 555-123-4567, 123-45-6789"
                    ),
                )
            )
        ).alias("pii_scrub_fp"),
        # URL canonicalization (r7, battery-fold policy): the corpus
        # carries no URL column, so each doc gets a deterministic messy
        # URL (the PII-suffix precedent) chosen by doc_id % 5 to
        # exercise every branch — case fold, www./default-port strip,
        # fragment drop, tracking-param drop, param sort, trailing
        # slash; doc_id/source in two branches keep it non-constant.
        T.canonical_url(
            F.when(
                F.col("doc_id") % 5 == 0,
                F.concat(
                    F.lit("HTTP://WWW.Example.COM:80/path/"),
                    F.col("doc_id").cast("string"),
                    F.lit("/?utm_source=x&b=2&a=1#frag"),
                ),
            )
            .when(
                F.col("doc_id") % 5 == 1,
                F.lit("https://Sub.Example.com:443/p?a=1&utm_campaign=c&z=9"),
            )
            .when(
                F.col("doc_id") % 5 == 2,
                F.concat(
                    F.lit("https://example.com/"),
                    F.col("source"),
                    F.lit("//deep/page/?fbclid=abc"),
                ),
            )
            .when(F.col("doc_id") % 5 == 3, F.lit("http://example.com"))
            .otherwise(F.lit("https://example.com/path?b=2&a=1"))
        ).alias("canonical_url"),
        # HTML-strip arm (r7c): each doc's text slice wrapped in a
        # deterministic page shell (style/script blocks, a comment,
        # tags, entities — every strip_html branch) and stripped; the
        # oracle replays via text.strip_html_sql (the PII-suffix
        # synthesize-the-input precedent — the corpus carries no HTML)
        F.md5(
            T.strip_html(
                F.concat(
                    F.lit(_Q47_HTML_PRE),
                    F.substring(F.col("text"), 1, 48),
                    F.lit(_Q47_HTML_POST),
                )
            )
        ).alias("html_strip_fp"),
    ]
    # BPE tokenization arm (r7c; RESTRUCTURED r14): tokens under the
    # fixed literal merge prefix. The r7c form ran the full greedy
    # merge fold (vocab.bpe_tokens_expr) inline per document — one
    # interpreted fold pass per merge per word OCCURRENCE. BPE tokens
    # are a function of the word alone, and this corpus repeats words
    # heavily (measured at sf0.1: 270,704 occurrences over 31 distinct
    # words), so the fold now runs once per DISTINCT word and a
    # broadcast join + order-preserving regroup reassembles each
    # document's token stream — exactly how vocab.apply_bpe ships
    # production tokenization (a word → tokens cache in front of the
    # merge machinery; q47 measured 4.3 → 2.9 s at sf0.1). Per-word
    # tokens are the SAME expression, the regroup sorts on the word
    # position, and array_join(flatten(per-word arrays)) ≡ join of the
    # per-word joined strings, so n_bpe_tokens/bpe_fp are value-
    # identical and the oracle is untouched. Wordless docs fall out of
    # the explode and re-enter via the left join's coalesce (size 0,
    # md5 of the empty join).
    words_arr = F.filter(T.words("text"), lambda w: w != F.lit(""))
    ex = d.select(F.col("doc_id"), F.posexplode(words_arr).alias("_pos", "_w"))
    word_toks = (
        ex.select(F.col("_w")).distinct().select(
            "_w",
            VB.bpe_tokens_expr(F.col("_w"), _Q47_BPE_MERGES).alias("_toks"),
        )
        .select(
            "_w",
            F.size("_toks").alias("_ntok"),
            F.array_join("_toks", " ").alias("_tokstr"),
        )
    )
    # NO forced broadcast on word_toks (VERDICT r14 item 3): its
    # cardinality is the corpus's DISTINCT-WORD count — 31 on this
    # synthetic lexicon but 10^7-10^9 on a real 100 TB corpus, where a
    # forced hint would OOM the build side. AQE sees the distinct's
    # runtime size and broadcasts when it actually fits (verified at
    # bench SF: the join still plans as BroadcastHashJoin).
    bpe_arm = (
        ex.join(word_toks, "_w")
        .groupBy("doc_id")
        .agg(
            F.sum("_ntok").cast("bigint").alias("_n_bpe"),
            F.md5(
                F.array_join(
                    F.transform(
                        F.array_sort(
                            F.collect_list(F.struct("_pos", "_tokstr"))
                        ),
                        lambda x: x["_tokstr"],
                    ),
                    " ",
                )
            ).alias("_bpe_fp"),
        )
    )
    # ADVICE r14: the coalesce fallback (0, md5('')) is the WORDLESS-doc
    # value; a NULL-text doc must stay NULL on both columns — the old
    # inline expression and the DuckDB oracle yield NULL there
    # (unreachable on this corpus, which has no NULL text, but the
    # engine must not silently diverge if that changes)
    text_ok = F.col("_text_ok")
    battery = (
        d.select(*cols, F.col("text").isNotNull().alias("_text_ok"))
        .join(bpe_arm, "doc_id", "left")
        .withColumn(
            "n_bpe_tokens",
            F.when(text_ok, F.coalesce(F.col("_n_bpe"), F.lit(0).cast("bigint"))),
        )
        .withColumn(
            "bpe_fp", F.when(text_ok, F.coalesce(F.col("_bpe_fp"), F.md5(F.lit(""))))
        )
    )
    # column ORDER is part of the oracle contract: restore the r7c
    # positions (n_bpe_tokens/bpe_fp between canonical_url and
    # html_strip_fp)
    inline_names = [c for c in battery.columns if not c.startswith("_")]
    ordered = [n for n in inline_names if n not in ("n_bpe_tokens", "bpe_fp", "html_strip_fp")]
    ordered += ["n_bpe_tokens", "bpe_fp", "html_strip_fp"]
    return battery.select(*ordered).join(boiler, "doc_id")


# BPE LEARNING oracle entry (r8, the r7 verdict's oracle-slot ask):
# a bounded deterministic corpus slice — first 8 whitespace words of
# every third document — feeds the batched learner for 6 merges; the
# oracle replays the full argmax-and-fold loop stage by stage
# (vocab.learn_bpe_replay_sql). This driver-attests the LEARNING loop
# itself (argmax ordering, tie-breaks, greedy fold semantics), which
# was pytest-only through r7; production-size learning stays on
# learn_bpe_batched whose serial-equivalence is property-tested.
_Q144_N_MERGES = 6
_Q144_COUNTS_SQL = """
    SELECT word, COUNT(*) AS n FROM (
      SELECT unnest(string_split_regex(lower(text), '\\s+')[1:8]) AS word
      FROM documents WHERE doc_id % 3 = 0)
    WHERE word <> '' GROUP BY word
"""


@register(
    "q144_bpe_learn",
    oracle=VB.learn_bpe_replay_sql(_Q144_COUNTS_SQL, _Q144_N_MERGES),
)
def q144_bpe_learn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE merge LEARNING, driver-attested end-to-end: the batched
    learner (vocab.learn_bpe_batched — multi-merge rounds, provably
    serial-equivalent) runs on a deterministic corpus slice and the
    DuckDB oracle replays every argmax + greedy-fold stage. Returns
    the ordered merge list (step, a, b) — the vocabulary artifact a
    tokenizer ships. The corpus-sized work is the one word-count
    pass; everything after runs on |distinct words| rows."""
    t = load_tables(spark, sf_dir, "documents")
    words = (
        t["documents"]
        .filter(F.col("doc_id") % 3 == 0)
        .select(
            F.explode(
                F.slice(T.words("text"), 1, 8)
            ).alias("word")
        )
        .filter(F.col("word") != "")
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    merges = VB.learn_bpe_batched(words, _Q144_N_MERGES, min_pair_count=1)
    return spark.createDataFrame(
        [(i + 1, a, b) for i, (a, b) in enumerate(merges)],
        "step bigint, a string, b string",
    )


# ------------------------------------------------------- event analytics

@register(
    "q51_tumbling_windows",
    oracle="""
    SELECT
      date_trunc('hour', ts) AS window_start,
      event_type,
      COUNT(*) AS n_events,
      CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sum_value
    FROM events
    GROUP BY 1, 2
    """,
)
def q51_tumbling_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling event-time windows via F.window
    (streaming/event_windows.py) — window start aligns with
    date_trunc('hour'). The same plan runs under Structured Streaming
    with a watermark (tests/test_streaming.py)."""
    t = load_tables(spark, sf_dir, "events")
    return EW.tumbling_counts(t["events"], "1 hour")


@register(
    "q52_sessionization",
    oracle="""
    WITH seq AS (
      SELECT user_id, event_id, ts,
        CAST(floor(epoch(ts)) AS BIGINT) AS ts_sec,
        lag(CAST(floor(epoch(ts)) AS BIGINT)) OVER (
          PARTITION BY user_id ORDER BY ts ASC, event_id ASC
        ) AS prev_sec
      FROM events
    ),
    flagged AS (
      SELECT user_id, event_id, ts,
        CASE WHEN prev_sec IS NULL OR ts_sec - prev_sec > 1800 THEN 1 ELSE 0 END AS new_session
      FROM seq
    ),
    numbered AS (
      SELECT user_id, ts,
        SUM(new_session) OVER (
          PARTITION BY user_id ORDER BY ts ASC, event_id ASC
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
        ) AS session_seq
      FROM flagged
    )
    SELECT user_id,
      CAST(MAX(session_seq) AS BIGINT) AS n_sessions,
      COUNT(*) AS n_events,
      MIN(ts) AS first_ts,
      MAX(ts) AS last_ts
    FROM numbered GROUP BY user_id
    """,
)
def q52_sessionization(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessionization (streaming/event_windows.py): lag →
    boundary flag → running sum; both windows share one (user_id, ts)
    sort so Spark plans a single shuffle."""
    t = load_tables(spark, sf_dir, "events")
    return EW.sessionize(t["events"], gap_seconds=1800)


@register(
    "q87_session_window_native",
    oracle="""
    WITH seq AS (
      SELECT user_id, ts, event_id,
        lag(ts) OVER (PARTITION BY user_id ORDER BY ts ASC, event_id ASC) AS prev
      FROM events
    ),
    flagged AS (
      SELECT user_id, ts, event_id,
        CASE WHEN prev IS NULL
                  OR epoch_us(ts) - epoch_us(prev) >= 1800000000
             THEN 1 ELSE 0 END AS ns
      FROM seq
    ),
    numbered AS (
      SELECT user_id, ts,
        SUM(ns) OVER (
          PARTITION BY user_id ORDER BY ts ASC, event_id ASC
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
        ) AS sid
      FROM flagged
    )
    SELECT user_id,
      MIN(ts) AS session_start,
      MAX(ts) + INTERVAL 30 MINUTE AS session_end,
      COUNT(*) AS n_events
    FROM numbered GROUP BY user_id, sid
    """,
)
def q87_session_window_native(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sessionization via Spark's NATIVE session_window (r4) — the
    engine-managed gap merge, session grain: one aggregate on
    (session_window(ts), user_id), no explicit lag/sum composition.
    Session semantics are interval-merge with half-open windows
    ([first, last+gap)): a new session starts exactly when the gap to
    the previous event is ≥ the 30-minute gap, which the DuckDB oracle
    replays with the lag → flag → running-sum construction in exact
    microseconds plus max(ts)+gap for the window end. The SAME
    aggregate runs unchanged under Structured Streaming with a
    watermark (tests/test_streaming.py asserts batch ≡ streaming) —
    native session state is watermark-bounded, which the batch-only
    lag/sum form (q52) cannot do on a stream."""
    t = load_tables(spark, sf_dir, "events")
    return EW.session_counts_native(t["events"], gap="30 minutes")


@register(
    "q69_stateful_streaming",
    oracle="""
    SELECT user_id, COUNT(*) AS n_events
    FROM events
    GROUP BY user_id
    """,
)
def q69_stateful_streaming(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom stateful streaming op (streaming/stateful.py,
    applyInPandasWithState) run to completion over the events table as
    a file-source stream: the final per-user state must equal the
    batch GROUP BY oracle. Counts only — per-key float accumulation
    order inside state is batch-dependent, counts are not."""
    import os as _os

    from ironman_medallion_lakehouse_spark.session import staging_dir
    from ironman_medallion_lakehouse_spark.streaming.stateful import (
        running_user_totals,
    )

    t = load_tables(spark, sf_dir, "events")
    stage = staging_dir(
        spark, f"stateful_src_{_os.path.basename(sf_dir.rstrip('/'))}"
    )
    events = t["events"].select("event_id", "user_id", "value")
    events.write.mode("overwrite").parquet(stage)
    schema = spark.read.parquet(stage).schema
    sink = f"stateful_sink_{abs(hash(sf_dir)) % 10000}"
    query, sink = running_user_totals(spark, stage, schema, sink_name=sink)
    try:
        query.processAllAvailable()
        # update-mode sink appends per-batch emissions; one batch here,
        # but take the max per user to be robust to multi-batch replays
        result = (
            spark.table(sink)
            .groupBy("user_id")
            .agg(F.max("n_events").alias("n_events"))
        )
        result = result.localCheckpoint()  # materialize before stopping the query
    finally:
        query.stop()
    return result


@register(
    "q70_nested_aggregation",
    oracle="""
    SELECT
      n.n_regionkey AS region_key,
      array_to_string(list_sort(list(DISTINCT n.n_name)), ',') AS nations,
      COUNT(DISTINCT n.n_name) AS n_nations
    FROM customer c
    LEFT JOIN nation n ON c.c_nationkey = n.n_nationkey
    GROUP BY n.n_regionkey
    """,
)
def q70_nested_aggregation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nested-type aggregation: collect_set → sorted array, emitted as
    a joined string. Collection order is nondeterministic in both
    engines, so both sides sort; string form keeps the compared cell a
    scalar (array cells hash differently across pandas versions)."""
    t = load_tables(spark, sf_dir, "customer", "nation")
    c, n = t["customer"], t["nation"]
    return (
        c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey, "left")
        .groupBy(F.col("n_regionkey").alias("region_key"))
        .agg(
            F.concat_ws(",", F.sort_array(F.collect_set("n_name"))).alias("nations"),
            F.countDistinct("n_name").alias("n_nations"),
        )
    )


@register(
    "q81_cdc_stream",
    oracle="""
    SELECT event_type,
           COUNT(*) AS n_events,
           COUNT(DISTINCT user_id) AS n_users,
           CAST(SUM(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
           CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sum_value
    FROM events
    GROUP BY event_type
    """,
)
def q81_cdc_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Change-feed STREAMING SOURCE run to completion
    (streaming/cdc_source.py — custom PySpark 4 DataSource whose
    offsets are manifest versions and whose micro-batches read exactly
    each commit's added files): a TableStore table is built in-query in
    three commits (overwrite of the user_id%10<5 slice → insert-only
    merge of the 5-7 slice → insert-only merge of everything, which
    adds only 8-9), then ``readStream.format("tablestore_changes")``
    consumes the feed from version 1. Because insert-only merges add
    each event_id exactly once, the accumulated micro-batch union must
    equal the whole events table — which is the DuckDB oracle. The
    aggregate also carries the JSON-property surface
    (get_json_object ≡ json_extract_string).

    Scale shape: each micro-batch is O(that commit's added files) —
    the log walk is one pass per range, files stream as Arrow row
    groups, and no batch ever rescans the table."""
    import os as _os

    from ironman_medallion_lakehouse_spark.session import staging_dir
    from ironman_medallion_lakehouse_spark.sources.tablestore import TableStore
    from ironman_medallion_lakehouse_spark.streaming.cdc_source import stream_changes

    t = load_tables(spark, sf_dir, "events")
    ev = t["events"]
    root = tempfile.mkdtemp(
        prefix="cdcstream_", dir=staging_dir(spark, "tablestore")
    )
    store = TableStore(spark, root)
    bucket = F.col("user_id") % 10
    store.save_overwrite(
        ev.filter(bucket < 5), "db.events", partition_by=["event_type"]
    )  # v1
    store.merge_insert_only(
        ev.filter(bucket.isin(5, 6, 7)), "db.events", keys=["event_id"]
    )  # v2
    store.merge_insert_only(ev, "db.events", keys=["event_id"])  # v3: adds 8-9 only

    sink = f"cdc_stream_sink_{abs(hash(sf_dir)) % 10000}"
    q = (
        stream_changes(spark, store, "db.events")
        .writeStream.format("memory")
        .queryName(sink)
        .outputMode("append")
        .start()
    )
    try:
        q.processAllAvailable()
        result = (
            spark.table(sink)
            .groupBy("event_type")
            .agg(
                F.count(F.lit(1)).alias("n_events"),
                F.countDistinct("user_id").alias("n_users"),
                F.sum(F.get_json_object("props", "$.k").cast("bigint")).alias("sum_k"),
                dsum("value", "sum_value"),
            )
        )
        result = result.localCheckpoint()  # materialize before stopping the query
    finally:
        q.stop()
    return result


# Drift-gate lifecycle (r10, VERDICT r9 directive 6): the refusal /
# quarantine / recovery arc of streaming_dedup_ingest's KS drift arm,
# driver-attested. Three planted micro-batches over the documents
# corpus (reference = every doc's text length):
#   batch 0 — even-doc originals: length distribution ≈ reference
#     (exact D ≤ 0.06 at every tested SF, threshold 0.2) → admitted as
#     the bootstrap corpus;
#   batch 1 — odd docs padded by 1000 chars: planted drift → the WHOLE
#     batch is refused and ONE keyed quarantine row (batch_id, n_docs,
#     d_stat, ks_stat) lands in the refusal table. The oracle replays
#     the exact KS over (padded odd lengths) vs (all lengths) with the
#     q142 CTE pattern rather than asserting a literal, so the row
#     stays hash-exact under testdata regeneration;
#   batch 2 — recovery: NEW doc ids (odd + 1e7) whose texts are
#     md5-hex words truncated to the ORIGINAL odd doc's length — the
#     length distribution passes the screen (same lengths as batch 1's
#     pre-pad docs) while the word sets are disjoint from the corpus
#     (32-char hex tokens vs the lexicon; a truncation-collision token
#     bounds J at ~1/40 ≪ 0.9), so every doc clears BOTH dedup arms
#     and is admitted.
# Residue check: no odd original id may appear in the corpus — the
# refused batch must leave nothing behind. Batch-replay idempotency is
# pinned in tests/test_streaming_ingest.py (keyed insert-only merges).
_Q146_OFFSET = 10_000_000
_Q146_PAD = 1000


@register(
    "q146_drift_gate_lifecycle",
    oracle=f"""
    WITH bvals AS (
      SELECT CAST(LENGTH(text) + {_Q146_PAD} AS DOUBLE) AS v, 1 AS ia, 0 AS ib
      FROM documents WHERE doc_id % 2 = 1
      UNION ALL
      SELECT CAST(LENGTH(text) AS DOUBLE) AS v, 0 AS ia, 1 AS ib FROM documents
    ),
    bdist AS (SELECT v, SUM(ia) AS na_v, SUM(ib) AS nb_v FROM bvals GROUP BY v),
    brun AS (
      SELECT v,
             SUM(na_v) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING) AS ca,
             SUM(nb_v) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING) AS cb
      FROM bdist
    ),
    btot AS (
      SELECT CAST(SUM(na_v) AS BIGINT) AS n_a, CAST(SUM(nb_v) AS BIGINT) AS n_b
      FROM bdist
    ),
    bks AS (
      SELECT n_a,
             MAX(ABS(CAST(ca AS DOUBLE) / n_a
                     - CAST(cb AS DOUBLE) / n_b)) AS d_stat,
             MAX(ABS(CAST(ca AS DOUBLE) / n_a
                     - CAST(cb AS DOUBLE) / n_b))
               * sqrt(CAST(n_a * n_b AS DOUBLE)
                      / CAST(n_a + n_b AS DOUBLE)) AS ks_stat
      FROM brun, btot GROUP BY n_a, n_b
    ),
    c AS (
      SELECT COUNT(*) FILTER (WHERE doc_id % 2 = 0) AS n_even,
             COUNT(*) FILTER (WHERE doc_id % 2 = 1) AS n_odd
      FROM documents
    )
    SELECT CAST(1 AS BIGINT) AS n_quarantined,
           CAST(1 AS BIGINT) AS quarantine_batch,
           CAST(bks.n_a AS BIGINT) AS quarantined_docs,
           bks.d_stat, bks.ks_stat,
           CAST(c.n_even + c.n_odd AS BIGINT) AS corpus_docs,
           CAST(c.n_even AS BIGINT) AS admitted_bootstrap,
           CAST(c.n_odd AS BIGINT) AS admitted_recovered,
           CAST(0 AS BIGINT) AS refused_residue
    FROM bks, c
    """,
)
def q146_drift_gate_lifecycle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """streaming_dedup_ingest's drift-gate LIFECYCLE end-to-end: a real
    parquet file stream is driven through admit (bootstrap) → refuse
    (planted drifted batch → quarantine row) → recover (clean batch
    admitted after the refusal), and the final quarantine + corpus
    table state is the oracled result (see the construction comment
    above). One row: refusal count/stats, per-phase admission counts,
    and the zero-residue assertion for the refused batch."""
    import os as _os

    from ironman_medallion_lakehouse_spark.session import staging_dir
    from ironman_medallion_lakehouse_spark.sources.tablestore import TableStore

    t = load_tables(spark, sf_dir, "documents")
    d = t["documents"].select("doc_id", "text")
    root = tempfile.mkdtemp(prefix="driftgate_", dir=staging_dir(spark, "tablestore"))
    src = _os.path.join(root, "incoming")
    store = TableStore(spark, _os.path.join(root, "tables"))

    batch_a = d.filter(F.col("doc_id") % 2 == 0)
    batch_b = d.filter(F.col("doc_id") % 2 == 1).select(
        "doc_id", F.concat(F.col("text"), F.lit("x" * _Q146_PAD)).alias("text")
    )
    # recovery texts are md5-hex words truncated to the ORIGINAL doc
    # length — the word count must make the generated base AT LEAST as
    # long as the longest corpus text, else substr silently truncates
    # and shifts batch-2's length distribution (ADVICE r10). Each word
    # contributes 33 chars (32 hex + separator) less the final space,
    # so w words cover 33*w - 1 chars; derive w from the corpus max
    # (bounded scalar pull: one value).
    max_len = int(
        d.agg(F.max(F.length("text"))).collect()[0][0] or 0
    )
    n_words = max(1, -(-(max_len + 1) // 33))
    hexbase = F.concat_ws(
        " ",
        *[F.md5(F.concat(F.col("text"), F.lit(str(j)))) for j in range(n_words)],
    )
    batch_c = d.filter(F.col("doc_id") % 2 == 1).select(
        (F.col("doc_id") + _Q146_OFFSET).alias("doc_id"),
        hexbase.substr(F.lit(1), F.length("text")).alias("text"),
    )

    batch_a.coalesce(1).write.mode("append").parquet(src)
    from ironman_medallion_lakehouse_spark.streaming.ingest import (
        streaming_dedup_ingest,
    )

    q = streaming_dedup_ingest(
        spark,
        store,
        src,
        "doc_id long, text string",
        _os.path.join(root, "ckpt"),
        drift_reference=d,
        drift_max_d=0.2,
    )
    try:
        q.processAllAvailable()  # batch 0: bootstrap, admitted
        batch_b.coalesce(1).write.mode("append").parquet(src)
        q.processAllAvailable()  # batch 1: drifted, refused
        batch_c.coalesce(1).write.mode("append").parquet(src)
        q.processAllAvailable()  # batch 2: recovered, admitted
    finally:
        q.stop()

    quar = store.read("corpus.refused_batches")
    corpus = store.read("corpus.documents")
    qrow = quar.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_quarantined"),
        F.max("batch_id").cast("bigint").alias("quarantine_batch"),
        F.max("n_docs").cast("bigint").alias("quarantined_docs"),
        # unrounded (r13): the stored stats are integer-ratio-fed IEEE
        # doubles (ingest.py stores them unrounded); re-rounding here
        # was the boundary-reachable class
        F.max("d_stat").alias("d_stat"),
        F.max("ks_stat").alias("ks_stat"),
    )
    crow = corpus.agg(
        F.count(F.lit(1)).cast("bigint").alias("corpus_docs"),
        F.sum((F.col("doc_id") < _Q146_OFFSET).cast("int"))
        .cast("bigint")
        .alias("admitted_bootstrap"),
        F.sum((F.col("doc_id") >= _Q146_OFFSET).cast("int"))
        .cast("bigint")
        .alias("admitted_recovered"),
        F.sum(
            ((F.col("doc_id") % 2 == 1) & (F.col("doc_id") < _Q146_OFFSET)).cast(
                "int"
            )
        )
        .cast("bigint")
        .alias("refused_residue"),
    )
    return qrow.crossJoin(crow).select(
        "n_quarantined",
        "quarantine_batch",
        "quarantined_docs",
        "d_stat",
        "ks_stat",
        "corpus_docs",
        "admitted_bootstrap",
        "admitted_recovered",
        "refused_residue",
    )


# ----------------------------------------------------------- multimodal

@register(
    "q54_multimodal_features",
    oracle="""
    WITH m AS (
      SELECT ('0x' || substr(md5(text), 1, 2))::INT % 9 + 8 AS w,
             ('0x' || substr(md5(text), 3, 2))::INT % 9 + 8 AS h
      FROM documents
    )
    SELECT
      COUNT(*) AS n_media,
      CAST(SUM(3 + LENGTH(CAST(w AS VARCHAR)) + 1
               + LENGTH(CAST(h AS VARCHAR)) + 5 + w * h * 3) AS BIGINT)
        AS ppm_total_bytes,
      CAST(SUM(w) AS DOUBLE) / COUNT(*) AS avg_width,
      CAST(SUM(h) AS DOUBLE) / COUNT(*) AS avg_height,
      CAST(SUM(w) AS DOUBLE) / COUNT(*) AS png_avg_width,
      CAST(SUM(h) AS DOUBLE) / COUNT(*) AS png_avg_height,
      COUNT(*) AS png_pixel_match,
      CAST(SUM(w) AS DOUBLE) / COUNT(*) AS jpeg_avg_width,
      CAST(SUM(h) AS DOUBLE) / COUNT(*) AS jpeg_avg_height,
      COUNT(*) AS jpeg_close_match
    FROM m
    """,
)
def q54_multimodal_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal pipeline over REAL in-container codecs (r4 PPM; r14
    adds the COMPRESSED twins — lossless PNG and lossy baseline JPEG):
    each document becomes the SAME gradient pixel matrix (dims/colors
    from md5(text) — operators/multimodal._gradient_pixels) encoded
    three ways — binary PPM, zlib-PNG with all five scanline filters
    cycling by row, and DCT-quantized Huffman-coded JPEG. One
    Arrow-batched mapInPandas decode stage (extract_features + the
    magic-dispatching image_decode) parses all three arms' real bytes.

    Attestation chain: the PPM arm's byte-layout sum and decoded dims
    are checked against a DuckDB replay of the generative formula
    (header + w·h·3 arithmetic); the PNG and JPEG arms' decoded dims
    against the SAME formula; ``png_pixel_match`` counts docs whose
    PNG-decoded 8-dim feature is BIT-IDENTICAL to the PPM-decoded one
    (lossless → both funnel through _rgb_features over identical
    pixels), pinned at COUNT(*); ``jpeg_close_match`` counts docs
    with dims EXACT and feature deviation ≤ 0.03 (lossy bound —
    worst measured 0.0121 across sf0.001/0.01/0.1), also pinned at
    COUNT(*). Spark's numbers come from DECODING BYTES — PNG through
    inflate + unfilter, JPEG through Huffman + dequant + IDCT — so
    agreement attests the full compressed-codec round trips, not just
    the plumbing. PCM WAV decode is driver-attested at q151."""
    t = load_tables(spark, sf_dir, "documents")
    docs = t["documents"]
    media = (
        M.synthesize_ppm_payloads(docs)
        .unionByName(M.synthesize_png_payloads(docs))
        .unionByName(M.synthesize_jpeg_payloads(docs))
    )
    feats = M.extract_features(media, decoder=M.image_decode)
    ppm = feats.filter(F.col("media_type") == "image/x-portable-pixmap").select(
        "media_id", "n_bytes", "width", "height", "feature"
    )
    png = feats.filter(F.col("media_type") == "image/png").select(
        F.col("media_id"),
        F.col("width").alias("png_width"),
        F.col("height").alias("png_height"),
        F.col("feature").alias("png_feature"),
    )
    jpg = feats.filter(F.col("media_type") == "image/jpeg").select(
        F.col("media_id"),
        F.col("width").alias("jpeg_width"),
        F.col("height").alias("jpeg_height"),
        F.col("feature").alias("jpeg_feature"),
    )
    jpeg_dev = F.array_max(
        F.zip_with(
            F.col("feature"), F.col("jpeg_feature"), lambda a, b: F.abs(a - b)
        )
    )
    jpeg_close = (
        (F.col("jpeg_width") == F.col("width"))
        & (F.col("jpeg_height") == F.col("height"))
        & (jpeg_dev <= F.lit(0.03))
    )
    return (
        ppm.join(png, "media_id")
        .join(jpg, "media_id")
        .agg(
            F.count(F.lit(1)).alias("n_media"),
            F.sum("n_bytes").alias("ppm_total_bytes"),
            (F.sum("width").cast("double") / F.count(F.lit(1))).alias("avg_width"),
            (F.sum("height").cast("double") / F.count(F.lit(1))).alias(
                "avg_height"
            ),
            (F.sum("png_width").cast("double") / F.count(F.lit(1))).alias(
                "png_avg_width"
            ),
            (F.sum("png_height").cast("double") / F.count(F.lit(1))).alias(
                "png_avg_height"
            ),
            F.sum((F.col("feature") == F.col("png_feature")).cast("int"))
            .cast("bigint")
            .alias("png_pixel_match"),
            (F.sum("jpeg_width").cast("double") / F.count(F.lit(1))).alias(
                "jpeg_avg_width"
            ),
            (F.sum("jpeg_height").cast("double") / F.count(F.lit(1))).alias(
                "jpeg_avg_height"
            ),
            F.sum(jpeg_close.cast("int")).cast("bigint").alias("jpeg_close_match"),
        )
    )


@register(
    "q139_window_distinct_users",
    oracle="""
    SELECT
      date_trunc('hour', ts) AS window_start,
      event_type,
      COUNT(DISTINCT user_id) AS n_users_exact,
      TRUE AS hll_within_tol
    FROM events
    GROUP BY 1, 2
    """,
)
def q139_window_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct users per tumbling hour window
    (streaming/event_windows.tumbling_distinct_users): exact
    count_distinct oracled against DuckDB, plus the MERGEABLE HLL
    sketch arm attested within 2 % — the expression a streaming
    dashboard actually keeps, because exact distinct cannot be
    incrementally merged but sketches can (and stored per-window
    sketches roll up to coarser panels, q82's contract). The
    identical sketch aggregate runs under readStream + watermark
    (tests/test_streaming.py asserts batch ≡ stream)."""
    t = load_tables(spark, sf_dir, "events")
    return EW.tumbling_distinct_users(t["events"], "1 hour")


# ----------------------------------------------- JSONL landing boundary

# q148 (r11, VERDICT r10 directive 4a): the JSONL quarantine boundary
# driver-attested end-to-end. A mixed dump is PLANTED deterministically
# from the documents table (one line per doc, class = doc_id % 4):
#   0 — clean full record  {"doc_id":N,"text":"<md5(text)>","lang":"<lang>"}
#   1 — absent-field record {"doc_id":N}            → clean, NULL fields
#   2 — type-drifted doc_id {"doc_id":"xN",...}     → quarantined whole
#   3 — non-JSON garbage    garbage N {unclosed     → quarantined whole
# (text payload is md5(text): JSON-safe by construction, so the planted
# line needs no escaping and the oracle rebuilds it byte-identically).
# Since r14 the dump is read back through the STREAMING landing path
# (sources/jsonl.read_jsonl_stream — the q146/q149/q152 file-stream
# pattern, VERDICT r12/r13 queue item): the dump lands as TWO text
# files appended across processAllAvailable() calls (split by doc_id
# parity, so every class crosses the micro-batch boundary), parsed
# rows accumulate in a memory sink, and split_quarantine + the same
# aggregate run over the sink table. The row oracles: per-class
# counts, the parsed-value checksum over clean rows, and md5
# fingerprints of BOTH sides' full contents (clean rendered rows;
# quarantined VERBATIM raw lines) against a DuckDB replay of the
# generative formulas. raw_fp matching proves retention is verbatim
# ACROSS micro-batches; clean_fp proves absent fields land as NULLs,
# not drops. Batch read_jsonl keeps its own coverage in
# tests/test_jsonl_source.py (the two readers share _parse_lines).
_Q148_NULL = "<null>"


@register(
    "q148_jsonl_quarantine",
    oracle=f"""
    WITH lines AS (
      SELECT doc_id, lang, md5(text) AS payload, CAST(doc_id % 4 AS INT) AS cls
      FROM documents
    ),
    rendered AS (
      SELECT doc_id, cls,
        CASE cls
          WHEN 0 THEN '{{"doc_id":' || CAST(doc_id AS VARCHAR)
                      || ',"text":"' || payload || '","lang":"' || lang || '"}}'
          WHEN 1 THEN '{{"doc_id":' || CAST(doc_id AS VARCHAR) || '}}'
          WHEN 2 THEN '{{"doc_id":"x' || CAST(doc_id AS VARCHAR)
                      || '","text":"' || payload || '"}}'
          ELSE 'garbage ' || CAST(doc_id AS VARCHAR) || ' {{unclosed'
        END AS line,
        CASE WHEN cls = 0
             THEN CAST(doc_id AS VARCHAR) || '|' || payload || '|' || lang
             WHEN cls = 1
             THEN CAST(doc_id AS VARCHAR) || '|{_Q148_NULL}|{_Q148_NULL}'
        END AS clean_row
      FROM lines
    )
    SELECT
      COUNT(*) AS n_lines,
      COUNT(*) FILTER (WHERE cls IN (0, 1)) AS n_clean,
      COUNT(*) FILTER (WHERE cls IN (2, 3)) AS n_quarantined,
      COUNT(*) FILTER (WHERE cls = 0) AS n_full,
      COUNT(*) FILTER (WHERE cls = 1) AS n_absent_field,
      CAST(SUM(doc_id) FILTER (WHERE cls IN (0, 1)) AS BIGINT) AS clean_docid_sum,
      COUNT(*) FILTER (WHERE cls = 2) AS n_type_drift,
      COUNT(*) FILTER (WHERE cls = 3) AS n_garbage,
      md5(string_agg(clean_row, '#' ORDER BY clean_row)
          FILTER (WHERE cls IN (0, 1))) AS clean_fp,
      md5(string_agg(line, '#' ORDER BY line)
          FILTER (WHERE cls IN (2, 3))) AS raw_fp
    FROM rendered
    """,
)
def q148_jsonl_quarantine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSONL landing quarantine contract end-to-end, driven through a
    REAL file stream (sources/jsonl.read_jsonl_stream): a planted
    mixed dump — clean / absent-field / type-drifted / garbage lines,
    one per document — lands in shared staging as two text files
    appended across live micro-batches, is parsed with the streaming
    twin's explicit-schema contract into a memory sink, split with
    split_quarantine, and the per-class counts + both sides' content
    fingerprints are oracled against a DuckDB replay of the generative
    formulas (see the construction comment above). One corpus-sized
    text scan + parse per micro-batch, one grouped aggregate over the
    sink — nothing driver-side."""
    import os as _os

    from pyspark.sql.types import LongType, StringType, StructField, StructType

    from ironman_medallion_lakehouse_spark.session import staging_dir
    from ironman_medallion_lakehouse_spark.sources.jsonl import (
        read_jsonl_stream,
        split_quarantine,
    )

    t = load_tables(spark, sf_dir, "documents")
    d = t["documents"].select(
        "doc_id", "lang", F.md5(F.col("text")).alias("payload"),
        (F.col("doc_id") % 4).cast("int").alias("cls"),
    )
    ds = F.col("doc_id").cast("string")
    line = (
        F.when(
            F.col("cls") == 0,
            F.concat(
                F.lit('{"doc_id":'), ds, F.lit(',"text":"'), F.col("payload"),
                F.lit('","lang":"'), F.col("lang"), F.lit('"}'),
            ),
        )
        .when(F.col("cls") == 1, F.concat(F.lit('{"doc_id":'), ds, F.lit("}")))
        .when(
            F.col("cls") == 2,
            F.concat(
                F.lit('{"doc_id":"x'), ds, F.lit('","text":"'),
                F.col("payload"), F.lit('"}'),
            ),
        )
        .otherwise(F.concat(F.lit("garbage "), ds, F.lit(" {unclosed")))
    )
    root = tempfile.mkdtemp(prefix="jsonlq_", dir=staging_dir(spark, "tablestore"))
    src = _os.path.join(root, "dump")
    dump = d.select((F.col("doc_id") % 2).alias("_half"), line.alias("value"))
    # batch 0 lands BEFORE the stream starts (cold-start discovery);
    # batch 1 is appended while the query is live (new-file discovery)
    dump.filter(F.col("_half") == 0).select("value").coalesce(1).write.mode(
        "append"
    ).text(src)

    schema = StructType(
        [
            StructField("doc_id", LongType()),
            StructField("text", StringType()),
            StructField("lang", StringType()),
        ]
    )
    sink = f"jsonlq_sink_{abs(hash(root)) % 100000}"
    q = (
        read_jsonl_stream(spark, src, schema)
        .writeStream.format("memory")
        .queryName(sink)
        .outputMode("append")
        .start()
    )
    try:
        q.processAllAvailable()  # micro-batch 0: even doc_ids
        dump.filter(F.col("_half") == 1).select("value").coalesce(1).write.mode(
            "append"
        ).text(src)
        q.processAllAvailable()  # micro-batch 1: odd doc_ids
        landed = spark.table(sink).localCheckpoint()  # materialize pre-stop
    finally:
        q.stop()
    clean, quar = split_quarantine(landed)
    crow = clean.select(
        F.concat_ws(
            "|",
            F.col("doc_id").cast("string"),
            F.coalesce(F.col("text"), F.lit(_Q148_NULL)),
            F.coalesce(F.col("lang"), F.lit(_Q148_NULL)),
        ).alias("clean_row"),
        "doc_id",
        F.col("text").isNotNull().cast("int").alias("is_full"),
    ).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_clean"),
        F.sum("is_full").cast("bigint").alias("n_full"),
        F.sum(1 - F.col("is_full")).cast("bigint").alias("n_absent_field"),
        F.sum("doc_id").cast("bigint").alias("clean_docid_sum"),
        F.md5(
            F.concat_ws("#", F.array_sort(F.collect_list("clean_row")))
        ).alias("clean_fp"),
    )
    qrow = quar.select(
        "_raw",
        F.col("_raw").startswith('{"doc_id":"x').cast("int").alias("is_drift"),
        F.col("_raw").startswith("garbage ").cast("int").alias("is_garbage"),
    ).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_quarantined"),
        F.sum("is_drift").cast("bigint").alias("n_type_drift"),
        F.sum("is_garbage").cast("bigint").alias("n_garbage"),
        F.md5(F.concat_ws("#", F.array_sort(F.collect_list("_raw")))).alias("raw_fp"),
    )
    return crow.crossJoin(qrow).select(
        (F.col("n_clean") + F.col("n_quarantined")).alias("n_lines"),
        "n_clean",
        "n_quarantined",
        "n_full",
        "n_absent_field",
        "clean_docid_sum",
        "n_type_drift",
        "n_garbage",
        "clean_fp",
        "raw_fp",
    )


# --------------------------------------- stream-stream interval join

# q149 (r11, VERDICT r10 directive 4b): the stream-stream interval
# join's batch-equality attestation, driver-oracled. The events table
# is split into two micro-batches by event_id parity — NOT by time, so
# cross-batch pairs force each side's join state to buffer batch-1
# rows until batch 2 arrives (the state contract under test) — and
# appended to a real parquet file stream while the query is live. The
# oracle states the naive θ-join semantics at full µs precision
# (events.ts carries microseconds; flooring to seconds would flip
# boundary pairs). Watermark is set far beyond the table's span so no
# state is evicted mid-test: the streamed pair set must equal the
# batch join EXACTLY (eviction-under-lateness is pinned separately in
# tests/test_streaming.py).
@register(
    "q149_streaming_interval_join",
    oracle="""
    WITH purchases AS (
      SELECT event_id AS purchase_id, user_id, epoch_us(ts) AS pt
      FROM events WHERE event_type = 'purchase'
    ),
    errors AS (
      SELECT event_id AS error_id, user_id, epoch_us(ts) AS et
      FROM events WHERE event_type = 'error'
    )
    SELECT p.purchase_id, e.error_id, p.user_id
    FROM purchases p JOIN errors e
      ON p.user_id = e.user_id AND ABS(p.pt - e.et) <= CAST(3600 AS BIGINT) * 1000000
    """,
)
def q149_streaming_interval_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream interval join driven through a REAL file stream
    (streaming/event_windows.streaming_interval_join): purchases
    paired with same-user errors within ±1 h, both sides unbounded
    streams of the same source, fed as two event_id-parity batches so
    cross-batch pairs exercise the join-state buffering. Output pairs
    (purchase_id, error_id, user_id) are oracled against the batch
    θ-join at µs precision — the streaming twin of q75's binned range
    join."""
    import os as _os

    from ironman_medallion_lakehouse_spark.session import staging_dir
    from ironman_medallion_lakehouse_spark.streaming.event_windows import (
        streaming_interval_join,
    )

    t = load_tables(spark, sf_dir, "events")
    ev = t["events"].filter(F.col("event_type").isin("purchase", "error"))
    root = tempfile.mkdtemp(prefix="ivjoin_", dir=staging_dir(spark, "tablestore"))
    src = _os.path.join(root, "incoming")
    schema = (
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string"
    )
    ev.filter(F.col("event_id") % 2 == 0).coalesce(1).write.mode("append").parquet(src)

    sink = f"ivjoin_sink_{abs(hash(root)) % 100000}"
    q, sink = streaming_interval_join(
        spark, src, schema,
        window_seconds=3600,
        watermark="3650 days",  # beyond the table span: nothing evicts
        sink_name=sink,
    )
    try:
        q.processAllAvailable()  # batch 0: even event_ids
        ev.filter(F.col("event_id") % 2 == 1).coalesce(1).write.mode(
            "append"
        ).parquet(src)
        q.processAllAvailable()  # batch 1: odd ids — cross-batch pairs
        result = spark.table(sink).select(
            "purchase_id", "error_id", "user_id"
        ).localCheckpoint()  # materialize before stopping the query
    finally:
        q.stop()
    return result


# --------------------------------------------------- JDBC extract (S12)

# q150 (r11): the S12 JDBC extract driver-attested — previously the
# one SURVEY §2 row with pytest-only coverage. A deterministic orders
# slice is WRITTEN to an embedded Derby database (the JDBC engine
# inside Spark's own jars — no external service), then extracted back
# through sources/jdbc.jdbc_extract with BOTH scale features on: a
# database-side predicate (WHERE pushed into the remote subquery) and
# a partitioned parallel pull (4 range scans, MIN/MAX bounds probed
# over the FILTERED rows — the ADVICE r4 contract). The aggregate is
# oracled against DuckDB computing the same slice straight from the
# parquet: agreement proves the values survived the
# parquet → Derby → JDBC-range-scan round trip exactly.
@register(
    "q150_jdbc_extract",
    oracle="""
    SELECT o_orderpriority,
           COUNT(*) AS n_orders,
           CAST(SUM(o_orderkey) AS BIGINT) AS key_sum,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS sum_price
    FROM orders
    WHERE o_orderkey % 10 = 0 AND o_totalprice > 1000
    GROUP BY o_orderpriority
    """,
)
def q150_jdbc_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S12 JDBC extract end-to-end (sources/jdbc.py): plant a
    deterministic orders slice in embedded Derby, pull it back as 4
    parallel range scans with a database-side predicate, and oracle
    the grouped aggregate against DuckDB on the original parquet (see
    construction comment). At production scale the same call is a
    partitioned Postgres pull — only the URL and driver change."""
    import os as _os

    from ironman_medallion_lakehouse_spark.session import staging_dir
    from ironman_medallion_lakehouse_spark.sources.jdbc import jdbc_extract

    t = load_tables(spark, sf_dir, "orders")
    src = t["orders"].filter(F.col("o_orderkey") % 10 == 0).select(
        "o_orderkey", "o_totalprice", "o_orderpriority"
    )
    db = _os.path.join(
        tempfile.mkdtemp(prefix="jdbcq_", dir=staging_dir(spark, "tablestore")),
        "ordersdb",
    )
    url = f"jdbc:derby:{db};create=true"
    driver = "org.apache.derby.jdbc.EmbeddedDriver"
    (
        src.write.format("jdbc")
        .option("url", url)
        .option("driver", driver)
        .option("dbtable", "orders_ext")
        .mode("overwrite")
        .save()
    )
    df = jdbc_extract(
        spark,
        url,
        "orders_ext",
        driver=driver,
        predicate='"o_totalprice" > 1000',
        partition_column="o_orderkey",
        num_partitions=4,
    )
    return df.groupBy(F.col("o_orderpriority")).agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.sum("o_orderkey").cast("bigint").alias("key_sum"),
        dsum("o_totalprice", "sum_price"),
    )


# ------------------------------------------------- WAV codec round trip

# q151 (r11): the PCM WAV REAL-codec round trip driver-attested (the
# audio twin of q54's PPM row — wav_decode was pytest-only). Each
# document becomes an actual RIFF/WAVE payload (mono 16-bit PCM sine,
# length and tone from md5(text) — synthesize_wav_payloads), the
# Arrow-batched mapInPandas decode (extract_audio_features) parses the
# real headers and samples, and the aggregate is oracled against a
# DuckDB replay of the generative formulas: n_samples = 400 +
# little-endian(first two md5 bytes) % 1200, payload bytes = 44-byte
# canonical header + 2·n. Spark's numbers come from DECODED BYTES, the
# oracle's from the formula. The sine's RMS (≈ 0.5/√2) and
# zero-crossing rate (≈ 2f/rate) are attested as per-row tolerance
# booleans folded with bool_and — float sample math is real-decode
# evidence but not SQL-replayable bit-exactly.
@register(
    "q151_wav_codec",
    oracle="""
    WITH m AS (
      SELECT 400 + (('0x' || substr(md5(text), 3, 2) || substr(md5(text), 1, 2))::INT)
                   % 1200 AS n
      FROM documents
    )
    SELECT 8000 AS sample_rate,
           1 AS n_channels,
           COUNT(*) AS n_media,
           CAST(SUM(n) AS BIGINT) AS total_samples,
           CAST(SUM(44 + 2 * n) AS BIGINT) AS total_bytes,
           CAST(SUM(n) AS DOUBLE) / 8000.0 / COUNT(*) AS avg_duration_s,
           TRUE AS rms_in_band,
           TRUE AS zcr_tracks_tone
    FROM m
    """,
)
def q151_wav_codec(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PCM WAV codec round trip (operators/multimodal.py): synthesize
    real RIFF payloads from the documents fixture, decode them with
    the stdlib-wave mapInPandas stage, and oracle counts/sample totals/
    byte totals against the generative md5 formula (see construction
    comment). rms_in_band pins |rms − 0.5/√2| < 0.02; zcr_tracks_tone
    pins the zero-crossing rate within 25 % of the synthesized tone's
    2f/rate — both real-decode assertions a stub could not pass."""
    t = load_tables(spark, sf_dir, "documents")
    docs = t["documents"]
    media = M.synthesize_wav_payloads(docs)
    feats = M.extract_audio_features(media.select("media_id", "payload"))
    # the synthesized tone's frequency, replayed from the same md5 so
    # the zcr check is per-row (d[2] = third md5 byte); n_bytes is the
    # REAL payload length from the synth stage — summing it (not a
    # re-derivation from n_samples) is what attests the byte layout
    freq = 100.0 + F.conv(
        F.substring(F.md5("text"), 5, 2), 16, 10
    ).cast("double") * 4.0
    tone = docs.select(F.col("doc_id").alias("media_id"), freq.alias("freq"))
    j = feats.join(media.select("media_id", "n_bytes"), "media_id").join(
        tone, "media_id"
    )
    return (
        j.groupBy("sample_rate", "n_channels")
        .agg(
            F.count(F.lit(1)).alias("n_media"),
            F.sum("n_samples").cast("bigint").alias("total_samples"),
            F.sum("n_bytes").cast("bigint").alias("total_bytes"),
            # unrounded (r13): Σsamples/8000/count — 8000 = 2^6·5^3
            # made this the most boundary-landable denominator class
            # left; the chained IEEE divides of exact-integer doubles
            # are engine-exact without it
            (
                F.sum("n_samples").cast("double") / 8000.0 / F.count(F.lit(1))
            ).alias("avg_duration_s"),
            F.bool_and(
                F.abs(F.col("rms").cast("double") - 0.35355339) < 0.02
            ).alias("rms_in_band"),
            F.bool_and(
                F.abs(
                    F.col("zero_crossing_rate").cast("double")
                    - 2.0 * F.col("freq") / 8000.0
                )
                < 0.25 * (2.0 * F.col("freq") / 8000.0)
            ).alias("zcr_tracks_tone"),
        )
        .select(
            "sample_rate",
            "n_channels",
            "n_media",
            "total_samples",
            "total_bytes",
            "avg_duration_s",
            "rms_in_band",
            "zcr_tracks_tone",
        )
    )


# ------------------------------------- stateful streaming (SURVEY §2.9)

# q152 (r11): applyInPandasWithState driven through a REAL file stream
# — previously pytest-only (tests/test_stateful_streaming). Events are
# fed as three event_id%3 batches; the state store carries per-user
# (count, sum) across micro-batches and update mode emits one row per
# TOUCHED user per batch, so the memory sink accumulates the exact
# emission history. The oracle restates that history as a per-batch
# cumulative window. Exactness: the staged value column is
# floor(value*100) — integer-valued doubles, so every partial sum is
# exact in IEEE double on both engines regardless of addition order.
@register(
    "q152_stateful_running_totals",
    oracle="""
    WITH e AS (
      SELECT user_id, FLOOR(value * 100) AS v, event_id % 3 AS b
      FROM events
    ),
    per AS (
      SELECT user_id, b, COUNT(*) AS c, SUM(v) AS s
      FROM e GROUP BY user_id, b
    )
    SELECT user_id,
           CAST(SUM(c) OVER (PARTITION BY user_id ORDER BY b) AS BIGINT)
             AS n_events,
           CAST(SUM(s) OVER (PARTITION BY user_id ORDER BY b) AS DOUBLE)
             AS total_value
    FROM per
    """,
)
def q152_stateful_running_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom stateful streaming operator end-to-end
    (streaming/stateful.running_user_totals): readStream →
    groupBy(user).applyInPandasWithState → update-mode memory sink,
    driven through a real parquet file stream in three batches. Every
    micro-batch's emission (the running totals of each user it
    touched) is oracled against a batch cumulative window — attesting
    the state store carries (count, sum) across batches and that
    update mode emits exactly the touched keys. The 100 TB shape:
    per-key state lives in the executor state store, partitioned by
    the group key; no driver-side accumulation."""
    import os as _os

    from ironman_medallion_lakehouse_spark.session import staging_dir
    from ironman_medallion_lakehouse_spark.streaming.stateful import (
        running_user_totals,
    )

    t = load_tables(spark, sf_dir, "events")
    staged = t["events"].select(
        "event_id",
        "user_id",
        # integer-valued doubles: exact sums in any order on any engine
        F.floor(F.col("value") * 100).cast("double").alias("value"),
    )
    root = tempfile.mkdtemp(prefix="stateful_", dir=staging_dir(spark, "tablestore"))
    src = _os.path.join(root, "incoming")
    schema = "event_id long, user_id long, value double"

    staged.filter(F.col("event_id") % 3 == 0).coalesce(1).write.mode(
        "append"
    ).parquet(src)
    sink = f"running_sink_{abs(hash(root)) % 100000}"
    q, sink = running_user_totals(spark, src, schema, sink_name=sink)
    try:
        q.processAllAvailable()  # batch 0
        staged.filter(F.col("event_id") % 3 == 1).coalesce(1).write.mode(
            "append"
        ).parquet(src)
        q.processAllAvailable()  # batch 1: totals accumulate in state
        staged.filter(F.col("event_id") % 3 == 2).coalesce(1).write.mode(
            "append"
        ).parquet(src)
        q.processAllAvailable()  # batch 2
        result = spark.table(sink).select(
            "user_id", "n_events", "total_value"
        ).localCheckpoint()  # materialize before stopping the query
    finally:
        q.stop()
    return result


# --------------------------------- end-to-end curation pipeline (r11)

# q153: training_pipeline.curate driver-attested — the composite the
# package exists for (gate → near-dup survivors → stratified mixture →
# chunk → pack), previously pytest-only. The oracle composes the
# already-attested stage replays (q89 gate signals, q83 MinHash/LSH/
# Jaccard/components, q93 hash sampling, q95 sliding windows, q84
# cumulative packing) into ONE SQL pipeline over the same corpus, so
# agreement proves the COMPOSITION — which rows each stage hands the
# next — not just each stage alone. The DSIR operators are exercised
# standalone by q107/q111.
_Q153_RATES = {"en": 0.5, "de": 1.0, "es": 0.5, "zh": 0.25, "fr": 0.75}
_Q153_CASE = " ".join(
    f"WHEN '{lang}' THEN {int(rate * 1_000_000)}"
    for lang, rate in _Q153_RATES.items()
)
_Q153_SIZE, _Q153_OVERLAP, _Q153_BUDGET = 64, 16, 1024
_Q153_STEP = _Q153_SIZE - _Q153_OVERLAP

_Q153_ORACLE = f"""
    WITH RECURSIVE base AS (
      SELECT doc_id, lang,
        string_split_regex(lower(text), '\\s+') AS w,
        len(list_intersect({_WORDS}, [{_Q89_EN}])) AS score_en
      FROM documents
    ),
    grams AS (
      SELECT *, list_transform(generate_series(1, len(w) - 1),
                               i -> w[i] || ' ' || w[i + 1]) AS bg
      FROM base
    ),
    gated AS (
      SELECT doc_id, lang, w FROM grams
      WHERE CAST(len(w) AS BIGINT) >= {_Q89_MIN_WORDS}
        AND (CASE WHEN len(w) < 2 THEN 0.0
             ELSE 2.0 * CAST(list_max(list_transform(list_distinct(bg),
                     b -> len(list_filter(bg, x -> x = b)))) AS DOUBLE)
                  / CAST(len(w) AS DOUBLE) END) < {_Q89_MAX_TBF}
        AND CAST(score_en AS DOUBLE)
              / CAST(greatest(len(list_distinct(w)), 1) AS DOUBLE)
            >= {_Q89_MIN_SWR}
    ),
    toks AS (SELECT doc_id, unnest(list_distinct(w)) AS tok FROM gated),
    sigs AS (
      SELECT doc_id,
        {_SIG_EXPRS}
      FROM toks GROUP BY doc_id
    ),
    bands AS (
      {_band_selects(_Q83_BANDS)}
    ),
    cand AS (
      SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
      FROM bands a JOIN bands b
        ON a.band_id = b.band_id AND a.bucket = b.bucket AND a.doc_id < b.doc_id
    ),
    ws AS (
      SELECT doc_id,
        list_transform(list_distinct(w),
          tok -> (('0x' || substr(md5(tok), 1, 15))::UBIGINT)::BIGINT) AS hw
      FROM gated
    ),
    refined AS (
      SELECT c.id_a, c.id_b
      FROM cand c JOIN ws a ON a.doc_id = c.id_a JOIN ws b ON b.doc_id = c.id_b
      WHERE CAST(len(list_intersect(a.hw, b.hw)) AS DOUBLE)
          / CAST(len(a.hw) + len(b.hw) - len(list_intersect(a.hw, b.hw)) AS DOUBLE)
          >= {_Q83_THRESHOLD}
    ),
    edges AS (
      SELECT id_a AS s, id_b AS d FROM refined
      UNION SELECT id_b, id_a FROM refined
    ),
    nodes AS (SELECT DISTINCT s AS node FROM edges),
    reach(node, r) AS (
      SELECT node, node FROM nodes
      UNION
      SELECT e.d, rr.r FROM reach rr JOIN edges e ON e.s = rr.node
    ),
    comp AS (SELECT node, MIN(r) AS group_id FROM reach GROUP BY node),
    survivors AS (
      SELECT g.doc_id, g.lang, g.w
      FROM gated g LEFT JOIN comp c ON c.node = g.doc_id
      WHERE COALESCE(c.group_id, g.doc_id) = g.doc_id
    ),
    sampled AS (
      SELECT doc_id, w FROM survivors
      WHERE ('0x' || substr(md5(doc_id::VARCHAR || ':strat'), 1, 8))::UBIGINT
            % 1000000
          < (CASE lang {_Q153_CASE} ELSE 0 END)
    ),
    chunks AS (
      SELECT doc_id,
        CAST((s - 1) // {_Q153_STEP} AS BIGINT) AS chunk_index,
        CAST(len(w[s:s + {_Q153_SIZE - 1}]) AS BIGINT) AS n_tokens,
        md5(array_to_string(w[s:s + {_Q153_SIZE - 1}], ' ')) AS chunk_hash
      FROM sampled, unnest(generate_series(1, len(w), {_Q153_STEP})) AS u(s)
      WHERE len(w) > 0
    ),
    coords AS (
      SELECT doc_id, chunk_index, n_tokens, chunk_hash,
        SUM(n_tokens) OVER (ORDER BY doc_id, chunk_index
                            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
          - n_tokens AS excl
      FROM chunks
    )
    SELECT doc_id, chunk_index, n_tokens, chunk_hash,
      CAST(excl // {_Q153_BUDGET} AS BIGINT) AS start_pack,
      CAST(excl % {_Q153_BUDGET} AS BIGINT) AS start_offset,
      CAST((excl + greatest(n_tokens, 1) - 1) // {_Q153_BUDGET} AS BIGINT)
        AS end_pack
    FROM coords
    """


@register("q153_curation_pipeline", oracle=_Q153_ORACLE)
def q153_curation_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The end-to-end training-data curation pipeline
    (training_pipeline.curate): quality gate (q89's Gopher signals) →
    near-dup survivor selection (q83's MinHash/LSH/Jaccard/components
    over the GATED docs) → deterministic stratified lang mixture
    (q93's hash rule) → sliding-window chunking (q95) → fixed-budget
    sequence packing (q84's distributed prefix sum). Returns every
    chunk's pack coordinates + content hash; hash-equality with the
    composed SQL replay attests the stage HANDOFFS, not just each
    stage. The 100 TB shape is the per-stage one already attested:
    map-only gate/sample/chunk, skew-free LSH shuffles, range-
    partitioned prefix sum — composed with localCheckpoint barriers
    between iterative stages."""
    from ironman_medallion_lakehouse_spark.training_pipeline import curate

    t = load_tables(spark, sf_dir, "documents")
    res = curate(
        spark,
        t["documents"],
        # the shared _Q89_* constants, NOT literals: the oracle's gate
        # stage interpolates the same names, so a threshold change
        # cannot drift one side silently (ADVICE r11)
        min_words=_Q89_MIN_WORDS,
        max_top_bigram=_Q89_MAX_TBF,
        min_stopword_ratio=_Q89_MIN_SWR,
        dedup_threshold=_Q83_THRESHOLD,
        dedup_bands=_Q83_BANDS,
        sample_rates=_Q153_RATES,
        strata_col="lang",
        chunk_size=_Q153_SIZE,
        chunk_overlap=_Q153_OVERLAP,
        pack_budget=_Q153_BUDGET,
        # r15: the entry returns only the chunks frame; the six
        # per-stage count/collect actions are monitoring output this
        # consumer never reads — skipping them drops six driver-
        # blocking jobs per run and cannot change the chunks values
        counts=False,
    )
    return res.chunks.select(
        "doc_id",
        "chunk_index",
        "n_tokens",
        "chunk_hash",
        "start_pack",
        "start_offset",
        "end_pack",
    )
