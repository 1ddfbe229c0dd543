"""Suite entries for round-5 training-data-pipeline additions:
BM25 ranking, SemDeDup, stratified sampling, incremental dedup.

Every entry is value-oracled against DuckDB. Determinism notes:
- BM25's only transcendental is ln over |Q| distinct integer-derived
  inputs; all other scorer inputs are exact integers/rationals, and
  both engines evaluate the score expression in the same
  left-associated order — compared rounded to 4 decimals.
- SemDeDup emits ids/booleans only (the q59 discipline): cosine enters
  comparisons, never the output.
- Sampling thresholds are integers computed the way Spark's
  double→bigint cast truncates, so the oracle's CASE uses the exact
  same integers.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ironman_medallion_lakehouse_spark.functions import text as T
from ironman_medallion_lakehouse_spark.operators import dedup as D
from ironman_medallion_lakehouse_spark.operators import ranking as R
from ironman_medallion_lakehouse_spark.operators import sampling as SA
from ironman_medallion_lakehouse_spark.operators import similarity as S
from ironman_medallion_lakehouse_spark.session import load_tables
from ironman_medallion_lakehouse_spark.suite import register
from ironman_medallion_lakehouse_spark.suite_extensions import (
    _band_selects,
    _HASHED_WORDS,
    _LSH_K,
    _SIG_EXPRS,
    _WORDS,
)

# ---------------------------------------------------------------- q91 BM25

_Q91_TERMS = ["join", "filter", "vector", "scan"]
_Q91_K1, _Q91_B, _Q91_TOPK = 1.2, 0.75, 20
_WORDS_ALL = "string_split_regex(lower(text), '\\s+')"  # NON-distinct: tf needs counts


def _bm25_term_sql(i: int, term: str) -> str:
    # mirrors operators/ranking.term_score left-association exactly:
    # ((idf * tf) * (k1+1)) / (tf + k1 * ((1-b) + b * dl / avgdl))
    return (
        f"ln(1.0 + (CAST(N AS DOUBLE) - CAST(df_{i} AS DOUBLE) + 0.5) / "
        f"(CAST(df_{i} AS DOUBLE) + 0.5)) * CAST(tf_{i} AS DOUBLE) * "
        f"{_Q91_K1 + 1.0} / (CAST(tf_{i} AS DOUBLE) + {_Q91_K1} * "
        f"({1.0 - _Q91_B} + {_Q91_B} * CAST(dl AS DOUBLE) / "
        f"(CAST(sum_dl AS DOUBLE) / CAST(N AS DOUBLE))))"
    )


@register(
    "q91_bm25_topk",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, {_WORDS_ALL} AS w FROM documents
    ),
    per AS (
      SELECT doc_id, len(w) AS dl,
        {", ".join(f"len(list_filter(w, x -> x = '{t}')) AS tf_{i}" for i, t in enumerate(_Q91_TERMS))}
      FROM toks WHERE len(w) > 0
    ),
    stats AS (
      SELECT COUNT(*) AS N, SUM(dl) AS sum_dl,
        {", ".join(f"SUM(CASE WHEN tf_{i} > 0 THEN 1 ELSE 0 END) AS df_{i}" for i in range(len(_Q91_TERMS)))}
      FROM per
    )
    SELECT doc_id, dl,
      ROUND({" + ".join(_bm25_term_sql(i, t) for i, t in enumerate(_Q91_TERMS))}, 4) AS score
    FROM per, stats
    ORDER BY score DESC, doc_id
    LIMIT {_Q91_TOPK}
    """,
)
def q91_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 top-k retrieval (operators/ranking.py — Robertson et al.):
    fixed query terms, k1=1.2, b=0.75. Plan: one map-side-combined
    aggregate row of corpus stats (N, Σdl, per-term df), broadcast into
    a single map-only scoring stage with let-bound tokenization, then
    TakeOrderedAndProject. Zero Python, one broadcast, one top-k — the
    lexical-retrieval complement to the embedding ANN family
    (q45/q46)."""
    t = load_tables(spark, sf_dir, "documents")
    return R.bm25_topk(
        t["documents"], _Q91_TERMS, k=_Q91_TOPK, k1=_Q91_K1, b=_Q91_B
    )


# ------------------------------------------------------------ q92 SemDeDup

_Q92_K, _Q92_THRESHOLD = 8, 0.35
_DOT = "list_dot_product(CAST({a} AS DOUBLE[]), CAST({b} AS DOUBLE[]))"


@register(
    "q92_semdedup",
    oracle=f"""
    WITH n AS (
      SELECT vec_id, embedding,
             sqrt({_DOT.format(a='embedding', b='embedding')}) AS nrm
      FROM embeddings
    ),
    c AS (
      SELECT vec_id AS centroid_id, embedding AS cvec, nrm AS cnrm
      FROM n WHERE vec_id < {_Q92_K}
    ),
    sim AS (
      SELECT n.vec_id, c.centroid_id,
        {_DOT.format(a='n.embedding', b='c.cvec')} / (n.nrm * c.cnrm) AS s
      FROM n CROSS JOIN c
    ),
    assign AS (
      SELECT vec_id, centroid_id FROM (
        SELECT vec_id, centroid_id,
               ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY s DESC, centroid_id) AS rn
        FROM sim
      ) WHERE rn = 1
    ),
    memb AS (
      SELECT a.vec_id, a.centroid_id, n.embedding, n.nrm
      FROM assign a JOIN n ON a.vec_id = n.vec_id
    ),
    dropped AS (
      SELECT DISTINCT b.vec_id
      FROM memb a JOIN memb b
        ON a.centroid_id = b.centroid_id AND a.vec_id < b.vec_id
      WHERE {_DOT.format(a='a.embedding', b='b.embedding')} / (a.nrm * b.nrm)
            >= {_Q92_THRESHOLD}
    )
    SELECT m.vec_id, m.centroid_id AS cluster_id,
           (d.vec_id IS NULL) AS kept
    FROM memb m LEFT JOIN dropped d ON m.vec_id = d.vec_id
    """,
)
def q92_semdedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup (operators/similarity.semantic_dedup — Abbas et al.
    2023): cluster embeddings, drop within-cluster cosine-near-
    duplicates, keep the min-id representative. Centroids here are the
    k=8 lowest-id embeddings — deterministic so the oracle replays the
    assignment exactly (production fits them with kmeans_centroids;
    the operator takes any (centroid_id, centroid) frame). Threshold
    0.35 on this near-isotropic synthetic corpus → a real kept/dropped
    split (89 within-cluster pairs at sf0.01), not a vacuous all-kept
    row. Plan: broadcast k centroids, one window for argmax
    assignment, one equi-join on cluster_id for pairing — Σ m_c²
    instead of n²."""
    t = load_tables(spark, sf_dir, "embeddings")
    emb = t["embeddings"]
    centroids = emb.filter(F.col("vec_id") < _Q92_K).select(
        F.col("vec_id").alias("centroid_id"), F.col("embedding").alias("centroid")
    )
    return S.semantic_dedup(emb, centroids, threshold=_Q92_THRESHOLD)


# --------------------------------------------------- q93 stratified sample

# the lang-mixture quota a pretraining pipeline actually runs:
# downsample the dominant stratum, keep the rare ones
_Q93_RATES = {"en": 0.25, "de": 1.0, "es": 0.5, "zh": 0.1, "fr": 0.75}
_Q93_SALT = "strat"
# integer thresholds exactly as Spark's double→bigint cast truncates
# (int() and the cast agree on the same IEEE product)
_Q93_CASE = " ".join(
    f"WHEN '{lang}' THEN {int(rate * SA._DENOM)}" for lang, rate in _Q93_RATES.items()
)


@register(
    "q93_stratified_sample",
    oracle=f"""
    SELECT doc_id, lang, source
    FROM documents
    WHERE ('0x' || substr(md5(doc_id::VARCHAR || ':{_Q93_SALT}'), 1, 8))::UBIGINT
          % {SA._DENOM}
        < (CASE lang {_Q93_CASE} ELSE 0 END)
    """,
)
def q93_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic hash-based stratified sampling
    (operators/sampling.stratified_sample): per-language keep rates,
    membership decided by md5(doc_id) — stable across runs, engines,
    partitionings, and cluster sizes (re-runs sample the SAME rows;
    rand()/sample() cannot promise any of that). Zero shuffles: a
    map-only filter a 100 TB scan absorbs for free."""
    t = load_tables(spark, sf_dir, "documents")
    return SA.stratified_sample(
        t["documents"], "lang", _Q93_RATES, "doc_id", salt=_Q93_SALT
    ).select("doc_id", "lang", "source")


# ------------------------------------------- q98 unigram LM filter proxy


@register(
    "q98_unigram_logprob",
    oracle=f"""
    WITH tf AS (
      SELECT doc_id, unnest({_WORDS_ALL}) AS tok FROM documents
    ),
    counts AS (SELECT tok, COUNT(*) AS cnt FROM tf GROUP BY tok),
    tot AS (SELECT SUM(cnt) AS n_total FROM counts),
    lp AS (
      SELECT doc_id,
        CAST(ln(CAST(cnt AS DOUBLE) / CAST(n_total AS DOUBLE)) AS DECIMAL(18,4)) AS v
      FROM tf JOIN counts USING (tok) CROSS JOIN tot
    ),
    uni AS (
      SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_tokens,
             CAST(SUM(v) AS DOUBLE) / COUNT(*) AS mean_logprob
      FROM lp GROUP BY doc_id
    ),
    -- bigram arm (r8c): stupid backoff over the EMPTY-STRIPPED token
    -- list (ranking.bigram_logprob_scores strips ''-tokens split
    -- leaves on blank/edge whitespace)
    bws AS (
      SELECT doc_id, list_filter({_WORDS_ALL}, x -> x <> '') AS ws
      FROM documents
    ),
    buni AS (
      SELECT tok, COUNT(*) AS c_tok
      FROM (SELECT unnest(ws) AS tok FROM bws) GROUP BY tok
    ),
    btot AS (SELECT SUM(c_tok) AS n_total FROM buni),
    bbi AS (
      SELECT p.prev AS prev, p.cur AS cur, COUNT(*) AS c_bi
      FROM bws, unnest(list_transform(generate_series(2, len(ws)),
             i -> struct_pack(prev := ws[i-1], cur := ws[i]))) AS u(p)
      WHERE len(ws) >= 2
      GROUP BY p.prev, p.cur
    ),
    bstream AS (
      SELECT doc_id, t.prev AS prev, t.cur AS cur
      FROM bws, unnest(list_transform(generate_series(1, len(ws)),
             i -> struct_pack(prev := CASE WHEN i > 1 THEN ws[i-1] END,
                              cur := ws[i]))) AS s(t)
      WHERE len(ws) > 0
    ),
    blp AS (
      SELECT doc_id,
        CAST(CASE
          WHEN c_bi IS NOT NULL
            THEN ln(CAST(c_bi AS DOUBLE) / CAST(c_prev AS DOUBLE))
          WHEN prev IS NOT NULL
            THEN ln(0.4 * CAST(COALESCE(c_cur, 1) AS DOUBLE)
                    / CAST(n_total AS DOUBLE))
          ELSE ln(CAST(COALESCE(c_cur, 1) AS DOUBLE)
                  / CAST(n_total AS DOUBLE))
        END AS DECIMAL(18,4)) AS v
      FROM bstream
      LEFT JOIN (SELECT tok AS cur, c_tok AS c_cur FROM buni) USING (cur)
      LEFT JOIN (SELECT tok AS prev, c_tok AS c_prev FROM buni) USING (prev)
      LEFT JOIN bbi USING (prev, cur)
      CROSS JOIN btot
    ),
    bg AS (
      SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS bg_n_tokens,
             CAST(SUM(v) AS DOUBLE) / COUNT(*) AS bg_mean_logprob
      FROM blp GROUP BY doc_id
    )
    SELECT uni.doc_id, uni.n_tokens, uni.mean_logprob,
           bg.bg_n_tokens, bg.bg_mean_logprob
    FROM uni LEFT JOIN bg USING (doc_id)
    """,
)
def q98_unigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style LM filter proxy
    (operators/ranking.unigram_logprob_scores): per-doc mean unigram
    log-probability under the corpus's own unigram model — the
    perplexity-bucket split used to tier crawl text by fluency. ln
    values are rounded into DECIMAL(18,4) before the sum (the repo's
    determinism policy) and the mean is the exact decimal sum cast to
    double over the count with NO final round (r11: a ROUND on the
    double quotient split spark/duckdb at a representable
    half-boundary at sf0.001), so it reproduces bit-exactly across
    engines and partitionings.

    r8c (battery-fold policy): two bigram columns join the same rows —
    ranking.bigram_logprob_scores, the stupid-backoff upgrade (Brants
    et al. 2007) that catches word-salad spam the order-blind unigram
    can't; bg_* are NULL for docs with no non-empty tokens (LEFT
    join). The oracle replays the backoff CASE, the empty-token strip,
    and the per-token DECIMAL(18,4) rounding verbatim."""
    from ironman_medallion_lakehouse_spark.operators.ranking import (
        bigram_logprob_scores,
        unigram_logprob_scores,
    )

    t = load_tables(spark, sf_dir, "documents")
    docs = t["documents"]
    uni = unigram_logprob_scores(docs)
    bg = bigram_logprob_scores(docs).select(
        "doc_id",
        F.col("n_tokens").alias("bg_n_tokens"),
        F.col("mean_logprob").alias("bg_mean_logprob"),
    )
    return uni.join(bg, "doc_id", "left")


# ----------------------------------------------- q97 bloom membership

_Q97_BITS, _Q97_HASHES, _Q97_PRESENT, _Q97_ABSENT = 4096, 3, 6, 6
_Q97_POS = (
    "(('0x' || substr(md5(item || '#bloom' || i), 1, 15))::UBIGINT % {bits})"
).format(bits=_Q97_BITS)


@register(
    "q97_bloom_membership",
    oracle=f"""
    WITH items AS (
      SELECT source, md5(text) AS item FROM documents
    ),
    pos AS (
      SELECT source, {_Q97_POS} AS p
      FROM items, unnest([{", ".join(str(i) for i in range(_Q97_HASHES))}]) AS t(i)
    ),
    sk AS (
      SELECT source, CAST(p // 32 AS BIGINT) AS word,
             bit_or(CAST(1 AS BIGINT) << CAST(p % 32 AS INTEGER)) AS mask
      FROM pos GROUP BY 1, 2
    ),
    probes AS (
      SELECT md5(text) AS item FROM documents WHERE doc_id < {_Q97_PRESENT}
      UNION ALL
      SELECT 'nosuchdoc-' || i FROM unnest([{", ".join(str(i) for i in range(_Q97_ABSENT))}]) AS t(i)
    ),
    ppos AS (
      SELECT item, CAST({_Q97_POS} // 32 AS BIGINT) AS word,
             CAST(1 AS BIGINT) << CAST({_Q97_POS} % 32 AS INTEGER) AS bit
      FROM probes, unnest([{", ".join(str(i) for i in range(_Q97_HASHES))}]) AS t(i)
    ),
    grid AS (
      SELECT s.source, p.item, p.word, p.bit
      FROM (SELECT DISTINCT source FROM items) s CROSS JOIN ppos p
    )
    SELECT g.source, g.item,
           bool_and((COALESCE(sk.mask, 0) & g.bit) != 0) AS maybe_present
    FROM grid g LEFT JOIN sk ON g.source = sk.source AND g.word = sk.word
    GROUP BY g.source, g.item
    """,
)
def q97_bloom_membership(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom membership — the FIFTH mergeable sketch family
    (operators/sketches.bloom_sketch / bloom_might_contain): per-source
    blooms over content hashes, probed with 6 known-present hashes and
    6 known-absent strings. ``maybe_present`` has no false negatives;
    false positives occur at the (1−e^{{−kn/m}})^k rate and are
    deterministic pure-hash functions, so the oracle replays every bit.
    The crawl-gate use: 'have we ever ingested this content?' answered
    from ≤ bits/32 counter rows per source instead of the corpus."""
    from ironman_medallion_lakehouse_spark.operators.sketches import (
        bloom_might_contain,
        bloom_sketch,
    )

    t = load_tables(spark, sf_dir, "documents")
    docs = t["documents"]
    items = docs.select("source", F.md5("text").alias("item"))
    sk = bloom_sketch(items, ["source"], "item", bits=_Q97_BITS, hashes=_Q97_HASHES)
    probes = (
        docs.filter(F.col("doc_id") < _Q97_PRESENT)
        .select(F.md5("text").alias("item"))
        .unionByName(
            spark.createDataFrame(
                [(f"nosuchdoc-{i}",) for i in range(_Q97_ABSENT)], ["item"]
            )
        )
    )
    return bloom_might_contain(
        sk, probes, ["source"], bits=_Q97_BITS, hashes=_Q97_HASHES
    )


# -------------------------------------------------- q96 sign-LSH ANN

_Q96_BITS, _Q96_DIM, _Q96_K, _Q96_QID = 6, 64, 10, 1
_Q96_HPS = S.signlsh_hyperplanes(_Q96_BITS, _Q96_DIM)


def _hp_lit(row: list) -> str:
    # repr() doubles round-trip exactly; DuckDB parses to the same IEEE value
    return "[" + ", ".join(repr(x) for x in row) + "]"


_Q96_BUCKET = " + ".join(
    f"(CASE WHEN list_dot_product(CAST(embedding AS DOUBLE[]), {_hp_lit(hp)}) > 0 "
    f"THEN {1 << i} ELSE 0 END)"
    for i, hp in enumerate(_Q96_HPS)
)
_Q96_PROBES = ", ".join(f"xor(qb, {1 << i})" for i in range(_Q96_BITS))


@register(
    "q96_signlsh_ann",
    oracle=f"""
    WITH b AS (
      SELECT vec_id, embedding, CAST({_Q96_BUCKET} AS BIGINT) AS bucket
      FROM embeddings
    ),
    q AS (SELECT embedding AS qv, bucket AS qb FROM b WHERE vec_id = {_Q96_QID}),
    probes AS (SELECT unnest([qb, {_Q96_PROBES}]) AS bucket FROM q),
    cand AS (
      SELECT b.vec_id, b.embedding FROM b JOIN probes USING (bucket)
      WHERE b.vec_id != {_Q96_QID}
    ),
    scored AS (
      SELECT c.vec_id,
        {_DOT.format(a='c.embedding', b='q.qv')}
          / (sqrt({_DOT.format(a='c.embedding', b='c.embedding')})
             * sqrt({_DOT.format(a='q.qv', b='q.qv')})) AS cos
      FROM cand c CROSS JOIN q
    )
    SELECT CAST(ROW_NUMBER() OVER (ORDER BY cos DESC, vec_id ASC) AS BIGINT) AS rnk,
           vec_id
    FROM scored ORDER BY cos DESC, vec_id ASC LIMIT {_Q96_K}
    """,
)
def q96_signlsh_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH-bucketed ANN (operators/similarity.signlsh_topk): random-
    hyperplane sign buckets (Charikar), query bucket + 1-bit-flip
    multiprobe, brute-force cosine only inside the probed buckets —
    the bucketed scale path beside q46's IVF. Hyperplanes come from
    the md5-seeded helper and are embedded as identical double
    literals in this oracle (the minhash_coeffs one-source-of-truth
    pattern). Compared by (rank, id), the q45 float discipline."""
    from pyspark.sql import Window

    t = load_tables(spark, sf_dir, "embeddings")
    topk = S.signlsh_topk(
        t["embeddings"], query_id=_Q96_QID, k=_Q96_K, n_bits=_Q96_BITS, dim=_Q96_DIM
    )
    # bounded-serial: ranks the <=k-row TakeOrderedAndProject frame
    w = Window.orderBy(F.col("cosine_sim").desc(), F.col("vec_id").asc())
    return topk.select(
        F.row_number().over(w).cast("bigint").alias("rnk"), "vec_id"
    )


# --------------------------------------------------- q95 document chunking

_Q95_SIZE, _Q95_OVERLAP = 64, 16
_Q95_STEP = _Q95_SIZE - _Q95_OVERLAP


@register(
    "q95_document_chunking",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, {_WORDS_ALL} AS w FROM documents
    )
    SELECT doc_id,
      CAST((s - 1) // {_Q95_STEP} AS BIGINT) AS chunk_index,
      CAST(s AS BIGINT) AS start_token,
      CAST(len(w[s:s + {_Q95_SIZE - 1}]) AS BIGINT) AS n_tokens,
      md5(array_to_string(w[s:s + {_Q95_SIZE - 1}], ' ')) AS chunk_hash
    FROM toks, unnest(generate_series(1, len(w), {_Q95_STEP})) AS u(s)
    WHERE len(w) > 0
    """,
)
def q95_document_chunking(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding-token-window chunking (operators/chunking.py): size 64,
    overlap 16 — the step between raw documents and q84's sequence
    packing. One let-bound tokenization + sequence() offsets +
    posexplode: map-only, zero shuffles, zero Python; chunk content is
    attested by md5 over the windowed tokens (hash-exact vs the DuckDB
    list-slice replay)."""
    from ironman_medallion_lakehouse_spark.operators.chunking import (
        chunk_documents,
    )

    t = load_tables(spark, sf_dir, "documents")
    return chunk_documents(
        t["documents"], chunk_size=_Q95_SIZE, overlap=_Q95_OVERLAP
    )


# ------------------------------------------------ q94 incremental dedup

_Q94_BANDS, _Q94_THRESHOLD = 16, 0.9
_Q94_MANGLE_OFFSET = 1_000_000
_NORM_MD5 = "md5(regexp_replace(trim(lower(text)), '\\s+', ' ', 'g'))"


def _q94_frames(spark: SparkSession, sf_dir: str):
    """corpus = docs with id % 5 != 0; incoming = the id % 5 == 0 batch
    PLUS whitespace/case-mangled copies of corpus docs (id % 7 == 1,
    offset ids) so the exact-dup arm provably fires — the raw corpus
    has zero exact dups, and an arm no row exercises is a vacuous
    check (r2 verdict lesson)."""
    docs = load_tables(spark, sf_dir, "documents")["documents"]
    corpus = docs.filter(F.col("doc_id") % 5 != 0)
    mangled = corpus.filter(F.col("doc_id") % 7 == 1).select(
        (F.col("doc_id") + _Q94_MANGLE_OFFSET).alias("doc_id"),
        F.concat(F.lit("  "), F.upper(F.col("text")), F.lit(" ")).alias("text"),
    )
    incoming = (
        docs.filter(F.col("doc_id") % 5 == 0)
        .select("doc_id", "text")
        .unionByName(mangled)
    )
    return incoming, corpus.select("doc_id", "text")


_Q94_ORACLE = f"""
    WITH corpus AS (
      SELECT doc_id, text FROM documents WHERE doc_id % 5 <> 0
    ),
    incoming AS (
      SELECT doc_id, text FROM documents WHERE doc_id % 5 = 0
      UNION ALL
      SELECT doc_id + {_Q94_MANGLE_OFFSET}, '  ' || upper(text) || ' '
      FROM corpus WHERE doc_id % 7 = 1
    ),
    alldocs AS (
      SELECT * FROM incoming UNION ALL SELECT * FROM corpus
    ),
    exact AS (
      SELECT DISTINCT i.doc_id FROM incoming i
      JOIN corpus c ON {_NORM_MD5.replace('text', 'i.text')} = {_NORM_MD5.replace('text', 'c.text')}
    ),
    toks AS (
      SELECT doc_id, unnest({_WORDS}) AS tok FROM alldocs
    ),
    sigs AS (
      SELECT doc_id,
        {_SIG_EXPRS}
      FROM toks GROUP BY doc_id
    ),
    bands AS (
      {_band_selects(_Q94_BANDS)}
    ),
    cand AS (
      SELECT DISTINCT a.doc_id AS id_new, b.doc_id AS id_corpus
      FROM bands a
      JOIN bands b ON a.band_id = b.band_id AND a.bucket = b.bucket
      WHERE a.doc_id IN (SELECT doc_id FROM incoming)
        AND b.doc_id IN (SELECT doc_id FROM corpus)
    ),
    ws AS (
      SELECT doc_id, {_HASHED_WORDS} AS w FROM alldocs
    ),
    near AS (
      SELECT DISTINCT c.id_new AS doc_id
      FROM cand c JOIN ws a ON a.doc_id = c.id_new JOIN ws b ON b.doc_id = c.id_corpus
      WHERE CAST(len(list_intersect(a.w, b.w)) AS DOUBLE)
          / CAST(len(a.w) + len(b.w) - len(list_intersect(a.w, b.w)) AS DOUBLE)
          >= {_Q94_THRESHOLD}
    )
    SELECT i.doc_id,
      CASE WHEN e.doc_id IS NOT NULL THEN 'exact_dup'
           WHEN n.doc_id IS NOT NULL THEN 'near_dup'
           ELSE 'kept' END AS status
    FROM incoming i
    LEFT JOIN exact e ON i.doc_id = e.doc_id
    LEFT JOIN near n ON i.doc_id = n.doc_id
    """


@register("q94_incremental_dedup", oracle=_Q94_ORACLE)
def q94_incremental_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental (crawl-batch) dedup against an existing corpus
    (operators/dedup.dedup_incoming): exact normalized-hash match OR
    MinHash-LSH near-dup (16×r=8 banding, hashed-token Jaccard ≥ 0.9)
    → per-incoming-doc status. The cross-corpus band join
    (lsh_cross_candidates) costs O(bucket hits), never O(corpus): the
    realistic daily-ingest gate where the corpus side's signatures are
    precomputed and stored. All three statuses non-vacuous at sf0.01
    (~57 exact via the planted mangled copies, ~50 near, remainder
    kept)."""
    incoming, corpus = _q94_frames(spark, sf_dir)
    return D.dedup_incoming(
        incoming, corpus, bands=_Q94_BANDS, threshold=_Q94_THRESHOLD
    )


def _q94_corpus_sigs_path(sf_dir: str, k: int = 128) -> str:
    """Cache location for precomputed corpus MinHash signatures, keyed
    by a fingerprint of (a) the source parquet (path+mtime+size — the
    driver rebuilds /root/testdata between rounds) and (b) the
    signature-generation CODE AND PARAMETERS: k plus the source text of
    ``minhash_signatures``, its coefficient table and the token-set
    frame it folds over (tokenizer, token hash, ``token_sets``), so a
    change to minhash width, tokenization, or hashing can never serve
    stale cached signatures (ADVICE r6 item 3)."""
    import hashlib
    import inspect
    import os
    import tempfile

    src = os.path.join(sf_dir, "documents.parquet")
    parts = [src]
    if os.path.isdir(src):
        parts += sorted(
            os.path.join(src, f) for f in os.listdir(src) if not f.startswith("_")
        )
    stamp = ";".join(
        f"{p}:{os.path.getmtime(p)}:{os.path.getsize(p)}"
        for p in parts
        if os.path.exists(p)
    )
    code = "".join(
        inspect.getsource(f)
        for f in (
            D.minhash_signatures,
            D.minhash_coeffs,
            D.exact_hash_frame,
            D.token_sets,
            D.token_hash_set,
            D.token_hash_raw,
            T.words,
        )
    )
    stamp += f";k={k};code={hashlib.md5(code.encode()).hexdigest()}"
    h = hashlib.md5(stamp.encode()).hexdigest()[:12]
    return os.path.join(tempfile.gettempdir(), f"ironman_q94_corpus_sigs_{h}")


@register("q94b_incremental_dedup_prepared", oracle=_Q94_ORACLE)
def q94b_incremental_dedup_prepared(spark: SparkSession, sf_dir: str) -> DataFrame:
    """q94's PRODUCTION path: corpus MinHash signatures are precomputed
    once and read back from storage (``corpus_sigs=`` in
    operators/dedup.dedup_incoming), so a daily crawl batch pays only
    its own signature pass plus the O(bucket hits) cross band join.

    Measured attribution (r7 profile in git history, sf0.1, min-of-3,
    staged): the corpus-signature arm is ~9 % of the pipeline either
    way (inline 0.30 s vs parquet-read 0.22 s — hence q94b's modest
    −12 % e2e vs q94, VERDICT r6 item 5 superseding the r5 "bootstrap
    dominates" story). The real cost is CANDIDATE DENSITY on this
    dup-dense synthetic corpus: the band join emits ~1.8 M candidate
    pairs (~46 % of all incoming×corpus pairs), and band_join +
    jaccard_refine together are ~56 % of staged time. Most candidates
    are TRUE high-Jaccard matches (planted dup structure), so no
    banding dial cuts them without losing recall here; on a real
    corpus whose density came from loose banding instead, the dial is
    band width r = k/bands — widening r=8 → r=16 (``bands=8`` at
    k=128, a query-time change needing NO signature recompute) drops
    the J≈0.5 false-candidate collision rate from ~6.1 % to ~0.012 %
    (exact S-curve 1−(1−j^r)^b; the A/B is pinned empirically in
    tests/test_neardup.py::test_bands_dial_recall_collision_ab) while
    J=0.9 recall falls ~1.0 → ~0.81 — or ``max_bucket_size`` (also
    forwarded by ``dedup_incoming``) to cap boilerplate mega-buckets.

    Output-invariant vs q94 by construction (identical oracle):
    the signatures are a pure function of the corpus frame, whether
    computed inline or read from parquet. First call materializes the
    signature table (modeling the merge that admits kept docs keeping
    the signature table current); subsequent calls only read it."""
    import os

    incoming, corpus = _q94_frames(spark, sf_dir)
    path = _q94_corpus_sigs_path(sf_dir)

    def _cache(suffix: str, build):
        # write-to-temp + atomic rename: two concurrent cold-cache
        # sessions cannot interleave partial writes (ADVICE r6 item 3);
        # the loser's rename fails and it reads the winner's table
        p = path + suffix
        if not os.path.exists(p):
            tmp = f"{p}.tmp-{os.getpid()}"
            build().write.mode("overwrite").parquet(tmp)
            try:
                os.rename(tmp, p)
            except OSError:
                import shutil

                shutil.rmtree(tmp, ignore_errors=True)
        return spark.read.parquet(p)

    # with_size=True (r14): the stored table carries n_tok so
    # dedup_incoming's size-compatibility band-join pre-filter engages
    # on the prepared path too (the cache key hashes the signature
    # code, so the schema change self-invalidates old caches)
    sigs = _cache(
        "", lambda: D.minhash_signatures(D.token_sets(corpus), with_size=True)
    )
    hashes = _cache("_h", lambda: D.exact_hash_frame(corpus))
    return D.dedup_incoming(
        incoming,
        corpus,
        bands=_Q94_BANDS,
        threshold=_Q94_THRESHOLD,
        corpus_sigs=sigs,
        corpus_hashes=hashes,
    )


# ------------------------------------------- q99 benchmark decontamination

_Q99_N = 8
_GRAM = (
    "(('0x' || substr(md5(array_to_string(w[s:s+{last}], ' ')), 1, 15))"
    "::UBIGINT)::BIGINT"
).format(last=_Q99_N - 1)


@register(
    "q99_decontamination",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, {_WORDS_ALL} AS w FROM documents
    ),
    tg AS (
      SELECT DISTINCT doc_id, {_GRAM} AS gram
      FROM (SELECT * FROM toks WHERE doc_id % 10 <> 3),
           unnest(generate_series(1, len(w) - {_Q99_N - 1})) AS u(s)
      WHERE len(w) >= {_Q99_N}
    ),
    bg AS (
      SELECT DISTINCT {_GRAM} AS gram
      FROM (SELECT * FROM toks WHERE doc_id % 10 = 3),
           unnest(generate_series(1, len(w) - {_Q99_N - 1})) AS u(s)
      WHERE len(w) >= {_Q99_N}
    ),
    totals AS (SELECT doc_id, COUNT(*) AS n_grams FROM tg GROUP BY doc_id),
    hits AS (
      SELECT tg.doc_id, COUNT(*) AS n_overlap
      FROM tg JOIN bg USING (gram) GROUP BY tg.doc_id
    )
    SELECT d.doc_id,
           COALESCE(t.n_grams, 0) AS n_grams,
           COALESCE(h.n_overlap, 0) AS n_overlap,
           COALESCE(h.n_overlap, 0) > 0 AS contaminated
    FROM (SELECT doc_id FROM documents WHERE doc_id % 10 <> 3) d
    LEFT JOIN totals t ON d.doc_id = t.doc_id
    LEFT JOIN hits h ON d.doc_id = h.doc_id
    """,
)
def q99_decontamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination (operators/contamination.
    benchmark_overlap — the GPT-3 appendix-C / The Pile §6.3 8-gram
    collision test): docs with doc_id % 10 == 3 play the held-out
    eval set; every remaining training doc reports how many of its
    distinct 8-grams appear anywhere in the benchmark, plus the
    contaminated flag. N-grams travel as 60-bit BIGINT hashes; the
    benchmark gram set is broadcast (eval sets are small by
    construction) — the corpus side is one map-only shingle pass, a
    broadcast semi-join, and a partial aggregation. Non-vacuous: the
    corpus's planted near-dup structure crosses the % 10 split, so
    both contaminated and clean docs exist."""
    from ironman_medallion_lakehouse_spark.operators.contamination import (
        benchmark_overlap,
    )

    docs = load_tables(spark, sf_dir, "documents")["documents"]
    return benchmark_overlap(
        docs.filter(F.col("doc_id") % 10 != 3),
        docs.filter(F.col("doc_id") % 10 == 3),
        n=_Q99_N,
    )


# --------------------------------------- q100 duplicate-span coverage

_Q100_N = 8


@register(
    "q100_dup_span_coverage",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, {_WORDS_ALL} AS w FROM documents
    ),
    g AS (
      SELECT doc_id, s AS start, {_GRAM} AS gram
      FROM toks, unnest(generate_series(1, len(w) - {_Q100_N - 1})) AS u(s)
      WHERE len(w) >= {_Q100_N}
    ),
    dup AS (
      SELECT gram FROM (
        SELECT gram, COUNT(DISTINCT doc_id) AS nd FROM g GROUP BY gram
      ) WHERE nd >= 2
    ),
    cov AS (
      SELECT doc_id, COUNT(DISTINCT p) AS covered
      FROM (SELECT g.doc_id, g.start FROM g JOIN dup USING (gram)),
           unnest(generate_series(start, start + {_Q100_N - 1})) AS v(p)
      GROUP BY doc_id
    )
    SELECT t.doc_id,
           CAST(len(t.w) AS BIGINT) AS n_tokens,
           CAST(COALESCE(c.covered, 0) AS BIGINT) AS covered_tokens,
           CAST(COALESCE(c.covered, 0) AS DOUBLE)
                 / CAST(GREATEST(len(t.w), 1) AS DOUBLE) AS dup_fraction
    FROM toks t LEFT JOIN cov c ON t.doc_id = c.doc_id
    """,
)
def q100_dup_span_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-document duplicate-span coverage (operators/contamination.
    duplicate_span_coverage — the corpus measure behind exact-substring
    dedup, Lee et al. 2022): per doc, the fraction of token positions
    inside at least one 8-gram that also occurs in a DIFFERENT
    document. MinHash (q43/q83) finds similar documents; this finds
    copied spans inside otherwise-distinct documents. Plan: one
    distinct-docs-per-gram count (gram-vocabulary-sized, map-side
    combined), one position re-aggregation — the n× position explosion
    touches only grams that actually duplicate."""
    from ironman_medallion_lakehouse_spark.operators.contamination import (
        duplicate_span_coverage,
    )

    docs = load_tables(spark, sf_dir, "documents")["documents"]
    return duplicate_span_coverage(docs, n=_Q100_N)


# ------------------------------------------------ q101 hybrid RRF fusion

_Q101_TOPN, _Q101_RRF_K, _Q101_OUT, _Q101_QID = 50, 60, 20, 1
_Q101_CONTRIB = (
    f"CAST(1.0 / ({float(_Q101_RRF_K)} + CAST(rnk AS DOUBLE)) AS DECIMAL(18,12))"
)


@register(
    "q101_hybrid_rrf",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, {_WORDS_ALL} AS w FROM documents
    ),
    per AS (
      SELECT doc_id, len(w) AS dl,
        {", ".join(f"len(list_filter(w, x -> x = '{t}')) AS tf_{i}" for i, t in enumerate(_Q91_TERMS))}
      FROM toks WHERE len(w) > 0
    ),
    stats AS (
      SELECT COUNT(*) AS N, SUM(dl) AS sum_dl,
        {", ".join(f"SUM(CASE WHEN tf_{i} > 0 THEN 1 ELSE 0 END) AS df_{i}" for i in range(len(_Q91_TERMS)))}
      FROM per
    ),
    lex0 AS (
      SELECT doc_id,
        ROUND({" + ".join(_bm25_term_sql(i, t) for i, t in enumerate(_Q91_TERMS))}, 4) AS score
      FROM per, stats
      ORDER BY score DESC, doc_id LIMIT {_Q101_TOPN}
    ),
    lex AS (
      SELECT doc_id, ROW_NUMBER() OVER (ORDER BY score DESC, doc_id) AS rnk
      FROM lex0
    ),
    nv AS (
      SELECT vec_id, embedding,
             sqrt({_DOT.format(a='embedding', b='embedding')}) AS nrm
      FROM embeddings
    ),
    qv AS (SELECT embedding AS q, nrm AS qn FROM nv WHERE vec_id = {_Q101_QID}),
    dense0 AS (
      SELECT vec_id,
        {_DOT.format(a='nv.embedding', b='qv.q')} / (nv.nrm * qv.qn) AS cos
      FROM nv CROSS JOIN qv WHERE vec_id != {_Q101_QID}
      ORDER BY cos DESC, vec_id LIMIT {_Q101_TOPN}
    ),
    dense AS (
      SELECT vec_id AS doc_id,
             ROW_NUMBER() OVER (ORDER BY cos DESC, vec_id) AS rnk
      FROM dense0
    ),
    u AS (
      SELECT doc_id, {_Q101_CONTRIB} AS contrib FROM lex
      UNION ALL
      SELECT doc_id, {_Q101_CONTRIB} AS contrib FROM dense
    )
    SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_systems,
           CAST(SUM(contrib) AS DOUBLE) AS rrf_score
    FROM u GROUP BY doc_id
    ORDER BY rrf_score DESC, doc_id LIMIT {_Q101_OUT}
    """,
)
def q101_hybrid_rrf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid retrieval: reciprocal-rank fusion (operators/ranking.
    rrf_fuse — Cormack et al. 2009) of the lexical BM25 top-50 (q91's
    scorer) and the dense cosine top-50 (q45's scorer, query vec_id=1;
    doc_id and vec_id share the id space) — how a retrieval-augmented
    pipeline actually combines the two without score calibration.
    Contributions 1/(60+rank) are DECIMAL(18,12)-rounded before the
    sum (order-free, engine-exact); both input rankers tie-break by
    id, so the fused list is fully deterministic. The expensive work
    happens inside the rankers; fusion itself is a union of two top-50
    lists and one tiny aggregation."""
    from pyspark.sql import Window

    from ironman_medallion_lakehouse_spark.operators.ranking import rrf_fuse

    t = load_tables(spark, sf_dir, "documents", "embeddings")
    lex = R.bm25_topk(t["documents"], _Q91_TERMS, k=_Q101_TOPN)
    # bounded-serial: both windows rank <=k-row top-k frames
    wl = Window.orderBy(F.col("score").desc(), F.col("doc_id"))
    lexr = lex.select("doc_id", F.row_number().over(wl).alias("rnk"))
    dense = S.cosine_topk(t["embeddings"], query_id=_Q101_QID, k=_Q101_TOPN)
    # bounded-serial: ranks the <=k-row dense top-k frame
    wd = Window.orderBy(F.col("cosine_sim").desc(), F.col("vec_id"))
    denser = dense.select(
        F.col("vec_id").alias("doc_id"), F.row_number().over(wd).alias("rnk")
    )
    return rrf_fuse([lexr, denser], k=_Q101_RRF_K, topk=_Q101_OUT)


# ------------------------------------------------ q102 PQ-ADC ANN

_Q102_M, _Q102_SUBDIM, _Q102_CODES = 8, 8, 16
_Q102_QID, _Q102_K = 2, 10
_Q102_BOOKS = S.pq_random_codebooks(_Q102_M, _Q102_SUBDIM, _Q102_CODES)


def _q102_sl(m: int) -> str:
    """Per-subspace assignment-score list [s_c0 … s_c15]:
    s_c = ⟨c,c⟩ − 2⟨sub,c⟩ (the ‖sub‖² term is argmin-invariant)."""
    a, b = m * _Q102_SUBDIM + 1, (m + 1) * _Q102_SUBDIM
    return "[" + ", ".join(
        f"{S._code_norm2(code)!r} - 2 * list_dot_product(v[{a}:{b}], {_hp_lit(code)})"
        for code in _Q102_BOOKS[m]
    ) + "]"


def _q102_adc(m: int) -> str:
    """CASE over the assigned code: full ‖q_sub − c‖² per cell."""
    a, b = m * _Q102_SUBDIM + 1, (m + 1) * _Q102_SUBDIM
    qs = f"qv[{a}:{b}]"
    branches = " ".join(
        f"WHEN {c} THEN list_dot_product({qs}, {qs}) "
        f"- 2 * list_dot_product({qs}, {_hp_lit(code)}) + {S._code_norm2(code)!r}"
        for c, code in enumerate(_Q102_BOOKS[m])
    )
    return f"CAST(CASE code_{m} {branches} END AS DECIMAL(18,10))"


@register(
    "q102_pq_adc_ann",
    oracle=f"""
    WITH e AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
    ),
    sl AS (
      SELECT vec_id,
        {", ".join(f"{_q102_sl(m)} AS sl_{m}" for m in range(_Q102_M))}
      FROM e
    ),
    codes AS (
      SELECT vec_id,
        {", ".join(f"list_position(sl_{m}, list_aggregate(sl_{m}, 'min')) - 1 AS code_{m}" for m in range(_Q102_M))}
      FROM sl
    ),
    q AS (SELECT v AS qv FROM e WHERE vec_id = {_Q102_QID}),
    scored AS (
      SELECT c.vec_id,
        {" + ".join(f"{_q102_adc(m)}" for m in range(_Q102_M))} AS adc
      FROM codes c CROSS JOIN q WHERE c.vec_id != {_Q102_QID}
    )
    SELECT CAST(ROW_NUMBER() OVER (ORDER BY adc ASC, vec_id ASC) AS BIGINT) AS rnk,
           vec_id
    FROM scored ORDER BY adc ASC, vec_id ASC LIMIT {_Q102_K}
    """,
)
def q102_pq_adc_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization ANN with asymmetric-distance scoring
    (operators/similarity.pq_assign / pq_adc_topk — Jégou et al. 2011):
    the third ANN scale path beside IVF (q46) and sign-LSH (q96), and
    the one that COMPRESSES — m=8 byte codes replace 64 float32s
    (32×), so a 100 TB corpus's quantized form rides in executor RAM.
    Codebooks are md5-seeded (the signlsh_hyperplanes one-source-of-
    truth pattern; production fits them per subspace with
    kmeans_centroids); quantization is a literal-embedded MAP-ONLY
    codegen stage (zero shuffles, nothing collected), the per-query
    LUT is one broadcast row built from the query row, and per-cell
    distances are DECIMAL(18,10)-cast before the Σ_m so the ADC total
    is accumulation-order-free. Output is (rank, id) — the float
    discipline."""
    t = load_tables(spark, sf_dir, "embeddings")
    return S.pq_adc_topk(
        t["embeddings"], _Q102_BOOKS, query_id=_Q102_QID, k=_Q102_K
    )


# -------------------------------------- q103 temperature mixture resample

_Q103_BUDGET, _Q103_SALT = 200, "temp"


@register(
    "q103_temperature_mixture",
    oracle=f"""
    WITH counts AS (
      SELECT lang, COUNT(*) AS cnt FROM documents GROUP BY lang
    ),
    shares AS (
      SELECT lang, cnt,
             CAST(sqrt(CAST(cnt AS DOUBLE)) AS DECIMAL(18,6)) AS s
      FROM counts
    ),
    tot AS (SELECT SUM(s) AS stot FROM shares),
    thr AS (
      SELECT lang,
        CAST(floor(LEAST(1.0,
          {float(_Q103_BUDGET)} * CAST(s AS DOUBLE) / CAST(stot AS DOUBLE)
            / CAST(cnt AS DOUBLE)) * {SA._DENOM}) AS BIGINT) AS t
      FROM shares, tot
    )
    SELECT d.doc_id, d.lang, d.source
    FROM documents d JOIN thr ON d.lang = thr.lang
    WHERE ('0x' || substr(md5(d.doc_id::VARCHAR || ':{_Q103_SALT}'), 1, 8))::UBIGINT
          % {SA._DENOM} < thr.t
    """,
)
def q103_temperature_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-smoothed mixture resampling (operators/sampling.
    temperature_mixture_sample — Conneau & Lample 2019 / T5 §3.4.3):
    per-language target shares ∝ count^0.5 under a 200-doc expected
    budget, so the dominant language is downsampled hard while rare
    ones keep rate ≈ 1 — the standard multilingual flattening, with
    rates DERIVED FROM THE DATA (q93's rates are operator inputs).
    Membership is the same deterministic md5 key hash as q93. Engine-
    exact because sqrt is IEEE-correctly-rounded, smoothed counts are
    DECIMAL(18,6)-rounded before the exact decimal normalization sum,
    and the remaining double arithmetic is a fixed left-associated
    expression — see the operator docstring. Two passes: a #langs-row
    count aggregate broadcast back, then a map-only filter."""
    docs = load_tables(spark, sf_dir, "documents")["documents"]
    return SA.temperature_mixture_sample(
        docs, "lang", "doc_id", _Q103_BUDGET, alpha=0.5, salt=_Q103_SALT
    ).select("doc_id", "lang", "source")


# --------------------------------------------- q107 DSIR importance weights

_Q107_BUCKETS = 256
_Q107_TARGET = ("src0", "src1", "src2")
_Q107_IN = ", ".join(f"'{s}'" for s in _Q107_TARGET)


@register(
    "q107_dsir_importance",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, source, unnest({_WORDS_ALL}) AS tok FROM documents
    ),
    tf AS (
      SELECT doc_id, (source IN ({_Q107_IN})) AS tgt,
             CAST(('0x' || substr(md5(tok), 1, 15))::UBIGINT % {_Q107_BUCKETS} AS BIGINT) AS bucket
      FROM toks
    ),
    db AS (SELECT doc_id, bucket, COUNT(*) AS cnt FROM tf GROUP BY 1, 2),
    raw AS (
      SELECT bucket, COUNT(*) AS cnt_raw,
             SUM(CASE WHEN tgt THEN 1 ELSE 0 END) AS cnt_tgt
      FROM tf GROUP BY 1
    ),
    tot AS (SELECT SUM(cnt_raw) AS tot_raw, SUM(cnt_tgt) AS tot_tgt FROM raw),
    ratio AS (
      SELECT bucket,
             CAST(ln(CAST(cnt_tgt + 1 AS DOUBLE) / CAST(tot_tgt + {_Q107_BUCKETS} AS DOUBLE))
                - ln(CAST(cnt_raw + 1 AS DOUBLE) / CAST(tot_raw + {_Q107_BUCKETS} AS DOUBLE))
                AS DECIMAL(18,6)) AS lr
      FROM raw CROSS JOIN tot
    )
    SELECT doc_id, CAST(SUM(cnt) AS BIGINT) AS n_tokens,
           CAST(SUM(cnt * lr) AS DOUBLE) AS log_weight
    FROM db JOIN ratio USING (bucket)
    GROUP BY doc_id
    """,
)
def q107_dsir_importance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR importance weighting (operators/sampling.dsir_logweights —
    Xie et al. 2023): hashed-unigram bucket models (B=256, add-1
    smoothing) for a curated target slice (source ∈ src0-src2) vs the
    raw corpus; per-doc log importance weight = Σ c_b·(ln p̂_T − ln
    p̂_R). The domain-tilt selector a pretraining mixture runs before
    sampling — complements q93's explicit rates (there the mixture is
    GIVEN; here it is LEARNED from a target sample). Plan: two
    aggregates over one token stream + a 256-row broadcast join;
    decimal-rounded log-ratios make the score partition- and
    engine-exact."""
    t = load_tables(spark, sf_dir, "documents")
    return SA.dsir_logweights(
        t["documents"],
        F.col("source").isin(*_Q107_TARGET),
        n_buckets=_Q107_BUCKETS,
    )


# ------------------------------------------- q108 int8 scalar quantization


@register(
    "q108_sq8_quantization",
    oracle="""
    WITH base AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
    ),
    sc AS (
      SELECT vec_id, v,
             greatest(list_max(list_transform(v, x -> abs(x))), 1e-12) AS scale
      FROM base
    ),
    enc AS (
      SELECT vec_id, v, scale,
             list_transform(v, x -> CAST(round(x / scale * 127) AS INTEGER)) AS codes
      FROM sc
    ),
    ex AS (
      SELECT vec_id, scale,
             md5(array_to_string(list_transform(codes, c -> CAST(c AS VARCHAR)), ',')) AS codes_sig,
             codes[1] AS code_0,
             unnest(v) AS x
      FROM enc
    ),
    err AS (
      SELECT vec_id, scale, codes_sig, code_0,
             CAST(abs(round(x / scale * 127) / 127 * scale - x) AS DECIMAL(18,9)) AS e
      FROM ex
    )
    SELECT vec_id, ROUND(scale, 6) AS scale_r, code_0, codes_sig,
           ROUND(CAST(SUM(e) AS DOUBLE) / COUNT(*), 6) AS mean_abs_err
    FROM err GROUP BY vec_id, scale, codes_sig, code_0
    """,
)
def q108_sq8_quantization(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Int8 scalar quantization audit (operators/similarity.sq8_encode
    / sq8_recon_stats): symmetric per-vector SQ8 — the 4× embedding
    compression beside PQ's 32× (q102), with codes_sig (md5 over the
    joined code array) certifying every code cross-engine and
    mean_abs_err the reconstruction-quality metric. Encode is map-only
    linear HOFs; the error mean is a decimal-rounded explode+combine."""
    t = load_tables(spark, sf_dir, "embeddings")
    return S.sq8_recon_stats(t["embeddings"])


# ------------------------------------------ q109 containment (subset dups)

_Q109_THRESHOLD, _Q109_JBAR = 0.95, 0.9


@register(
    "q109_containment_pairs",
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
      {_band_selects(32)}
    ),
    cand AS (
      SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
      FROM bands a JOIN bands b
        ON a.band_id = b.band_id AND a.bucket = b.bucket AND a.doc_id < b.doc_id
    ),
    ws AS (
      SELECT doc_id, {_HASHED_WORDS} AS w FROM documents
    ),
    scored AS (
      SELECT c.id_a, c.id_b,
        CAST(len(list_intersect(a.w, b.w)) AS DOUBLE)
              / least(len(a.w), len(b.w)) AS containment,
        CAST(len(list_intersect(a.w, b.w)) AS DOUBLE)
              / (len(a.w) + len(b.w) - len(list_intersect(a.w, b.w))) AS jaccard
      FROM cand c JOIN ws a ON a.doc_id = c.id_a JOIN ws b ON b.doc_id = c.id_b
    )
    SELECT id_a, id_b, containment, jaccard,
           (jaccard < {_Q109_JBAR}) AS subset_style
    FROM scored WHERE containment >= {_Q109_THRESHOLD}
    """,
)
def q109_containment_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asymmetric containment dedup (operators/dedup.containment_refine
    — Broder resemblance/containment): |A∩B|/min(|A|,|B|) ≥ 0.95 over
    the loose-banding LSH candidates (q43's 32×4, s-curve floor ≈0.42
    — the regime that still recalls subset pairs whose JACCARD is low
    because one doc swallows the other). ``subset_style`` marks pairs
    a 0.9-Jaccard dedup would have missed — 58k of 67k c≥0.9 pairs on
    this corpus at sf0.01, the operator's reason to exist.

    r6: runs the EXACT-SET PRE-CONTRACTED pipeline
    (operators/dedup.containment_pairs, VERDICT r5 item 5) — identical
    distinct-token sets collapse to one representative before the
    band join and the intersect kernel, surviving rep pairs expand
    back to member pairs; provably output-invariant, so the oracle is
    UNCHANGED from the raw composition (the q83 proof pattern).
    Hashed-BIGINT intersections; candidate volume drops by the
    corpus's set-duplication factor squared inside each bucket."""
    t = load_tables(spark, sf_dir, "documents")
    return D.containment_pairs(
        t["documents"],
        k=_LSH_K,
        bands=32,
        threshold=_Q109_THRESHOLD,
        jaccard_bar=_Q109_JBAR,
        contract=True,
    )


# --------------------------------------------- q110 JL random projection

_Q110_IN, _Q110_OUT, _Q110_SALT = 64, 16, "jl"


def _jl_oracle() -> str:
    import math

    signs = S.jl_signs(_Q110_IN, _Q110_OUT, _Q110_SALT)
    cols = ", ".join(f"s_{j}" for j in range(_Q110_OUT))
    values = ",\n      ".join(
        "({}, {})".format(i, ", ".join(str(s) for s in signs[i]))
        for i in range(_Q110_IN)
    )
    d_sums = ",\n             ".join(
        f"SUM(CAST(ex.x * s.s_{j} AS DECIMAL(18,9))) AS d_{j}"
        for j in range(_Q110_OUT)
    )
    root = repr(math.sqrt(float(_Q110_OUT)))
    projs = ",\n           ".join(
        f"ROUND(CAST(d_{j} AS DOUBLE) / {root}, 6) AS proj_{j}"
        for j in range(_Q110_OUT)
    )
    return f"""
    WITH base AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
    ),
    ex AS (
      SELECT vec_id, pos, v[pos + 1] AS x
      FROM base CROSS JOIN (SELECT unnest(generate_series(0, {_Q110_IN - 1})) AS pos) p
    ),
    signs(pos, {cols}) AS (VALUES
      {values}
    ),
    g AS (
      SELECT vec_id,
             {d_sums}
      FROM ex JOIN signs s USING (pos) GROUP BY vec_id
    )
    SELECT vec_id,
           {projs}
    FROM g
    """


@register("q110_jl_projection", oracle=_jl_oracle())
def q110_jl_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Johnson-Lindenstrauss random projection (operators/
    similarity.jl_project — Achlioptas 2003 Rademacher form): 64 → 16
    dims through an md5-seeded ±1 matrix, /√16 scaling — the
    dimensionality-reduction step that makes corpus-scale
    ANN/clustering affordable, composing with SQ8 (q108) and PQ
    (q102) into the full compression toolbox. One posexplode + one
    broadcast sign join + one grouped decimal aggregate; every output
    component oracle-exact at 6 decimals (terms rounded into
    DECIMAL(18,9) pre-sum, both engines embed the same sign
    literals)."""
    t = load_tables(spark, sf_dir, "embeddings")
    return S.jl_project(
        t["embeddings"], out_dim=_Q110_OUT, salt=_Q110_SALT, in_dim=_Q110_IN
    )


# ------------------------------------------ q111 weighted sample (A-ES)

_Q111_K, _Q111_SALT = 200, "wsamp"


@register(
    "q111_weighted_sample",
    oracle=f"""
    SELECT doc_id, lang, source, CAST(priority AS DOUBLE) AS priority
    FROM (
      SELECT doc_id, lang, source,
             CAST(ln((('0x' || substr(md5(doc_id::VARCHAR || ':{_Q111_SALT}'), 1, 6))::UBIGINT
                      + 0.5) / 16777216.0)
                  / CAST(n_chars AS DOUBLE) AS DECIMAL(28,12)) AS priority
      FROM documents
      WHERE n_chars IS NOT NULL AND CAST(n_chars AS DOUBLE) > 0
      ORDER BY priority DESC, doc_id
      LIMIT {_Q111_K}
    )
    """,
)
def q111_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted sampling without replacement (operators/
    sampling.weighted_sample_topk — Efraimidis & Spirakis A-ES):
    200 documents drawn ∝ n_chars via hash-derived exponential
    priorities — the deterministic selection step that turns DSIR/
    quality weights into an actual subset. Map-only priority +
    TakeOrderedAndProject; ln values DECIMAL(18,12)-rounded so
    ordering is engine-exact, unique-key tiebreak."""
    t = load_tables(spark, sf_dir, "documents")
    return SA.weighted_sample_topk(
        t["documents"], F.col("n_chars"), _Q111_K, "doc_id", salt=_Q111_SALT
    ).select(
        "doc_id", "lang", "source",
        F.col("priority").cast("double").alias("priority"),
    )


# ------------------------------------------------- q114 k-NN graph build

_Q114_BITS, _Q114_K = 5, 3
_Q114_HPS = S.signlsh_hyperplanes(_Q114_BITS, 64)
_Q114_BUCKET = " + ".join(
    f"(CASE WHEN list_dot_product(CAST(embedding AS DOUBLE[]), {_hp_lit(hp)}) > 0 "
    f"THEN {1 << i} ELSE 0 END)"
    for i, hp in enumerate(_Q114_HPS)
)


@register(
    "q114_knn_graph",
    oracle=f"""
    WITH b AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
             CAST({_Q114_BUCKET} AS BIGINT) AS bucket
      FROM embeddings
    ),
    n AS (SELECT vec_id, v, bucket, sqrt(list_dot_product(v, v)) AS nrm FROM b),
    pairs AS (
      SELECT a.vec_id AS src, c.vec_id AS dst,
             list_dot_product(a.v, c.v) / (a.nrm * c.nrm) AS sim
      FROM n a JOIN n c ON a.bucket = c.bucket AND a.vec_id <> c.vec_id
    )
    SELECT src, CAST(rnk AS BIGINT) AS rnk, dst FROM (
      SELECT src, dst,
             ROW_NUMBER() OVER (PARTITION BY src ORDER BY sim DESC, dst ASC) AS rnk
      FROM pairs
    ) WHERE rnk <= {_Q114_K}
    """,
)
def q114_knn_graph(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate k-NN graph (operators/similarity.knn_graph): each
    vector's top-3 cosine neighbors among its 5-bit sign-LSH bucket
    mates — the corpus-wide BATCH sibling of the single-query ANN
    entries and the substrate for graph dedup / label propagation /
    HNSW seeding. Bucket self-join bounds work at Σ m_b² (the q92
    shape), per-src window takes the top-k; ids only in the output,
    cosine ties broken by neighbor id. The md5-seeded hyperplanes are
    embedded as identical double literals in the oracle."""
    t = load_tables(spark, sf_dir, "embeddings")
    return S.knn_graph(t["embeddings"], _Q114_HPS, k=_Q114_K)


# ------------------------------------- q115 CMS join-size estimation

@register(
    "q115_cms_join_size",
    oracle="""
    WITH depths AS (SELECT unnest(range(4)) AS j),
    pa AS (
      SELECT j,
        (('0x' || substr(md5(CAST(user_id AS VARCHAR) || '#cms' || j), 1, 15))::UBIGINT % 256) AS cell,
        COUNT(*) AS cnt
      FROM events CROSS JOIN depths WHERE event_type = 'purchase'
      GROUP BY 1, 2
    ),
    pb AS (
      SELECT j,
        (('0x' || substr(md5(CAST(user_id AS VARCHAR) || '#cms' || j), 1, 15))::UBIGINT % 256) AS cell,
        COUNT(*) AS cnt
      FROM events CROSS JOIN depths WHERE event_type = 'error'
      GROUP BY 1, 2
    ),
    ip AS (
      SELECT pa.j, SUM(pa.cnt * pb.cnt) AS p
      FROM pa JOIN pb ON pa.j = pb.j AND pa.cell = pb.cell
      GROUP BY 1
    ),
    est AS (SELECT CAST(MIN(p) AS BIGINT) AS est_join_size FROM ip),
    exact AS (
      SELECT COUNT(*) AS exact_join_size
      FROM (SELECT user_id FROM events WHERE event_type = 'purchase') a
      JOIN (SELECT user_id FROM events WHERE event_type = 'error') b
        ON a.user_id = b.user_id
    )
    SELECT e.est_join_size, x.exact_join_size,
           (e.est_join_size >= x.exact_join_size) AS dominates
    FROM est e CROSS JOIN exact x
    """,
)
def q115_cms_join_size(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CMS join-size estimation (operators/sketches.cms_inner_product
    — Cormode & Muthukrishnan): |purchases ⋈ errors on user_id|
    estimated from two 4×256 counter sketches via the min-over-depths
    cell product sum, next to the exact join count it must dominate —
    the sketch-only cardinality input a cost-based join-order/
    broadcast decision needs WITHOUT scanning either side (extends the
    ANALYZE sidecar story, q86). Hash-exact: CMS is order-independent,
    the oracle replays every counter."""
    from ironman_medallion_lakehouse_spark.operators import sketches as SK

    t = load_tables(spark, sf_dir, "events")
    ev = t["events"]
    purchases = ev.filter(F.col("event_type") == "purchase").select("user_id")
    errors = ev.filter(F.col("event_type") == "error").select("user_id")
    sa = SK.cms_sketch(purchases, [], "user_id")
    sb = SK.cms_sketch(errors, [], "user_id")
    est = SK.cms_inner_product(sa, sb).select(
        F.col("est_inner_product").alias("est_join_size")
    )
    exact = purchases.join(errors, "user_id").agg(
        F.count(F.lit(1)).alias("exact_join_size")
    )
    return est.crossJoin(exact).select(
        "est_join_size",
        "exact_join_size",
        (F.col("est_join_size") >= F.col("exact_join_size")).alias("dominates"),
    )


# --------------------------------------------- q116 feature hashing

_Q116_DIM = 16
_Q116_BUCKET = "CAST(('0x' || substr(md5(tok), 1, 15))::UBIGINT % 16 AS BIGINT)"
_Q116_SIGN = (
    "CASE WHEN ('0x' || substr(md5(tok || '#sign'), 1, 8))::UBIGINT % 2 = 0 "
    "THEN 1 ELSE -1 END"
)


@register(
    "q116_feature_hashing",
    oracle=f"""
    WITH tf AS (
      SELECT doc_id,
             {_Q116_BUCKET} AS b,
             {_Q116_SIGN} AS s
      FROM (SELECT doc_id, unnest({_WORDS_ALL}) AS tok FROM documents)
    ),
    g AS (
      SELECT doc_id, COUNT(*) AS n_tokens,
        {", ".join(f"SUM(CASE WHEN b = {j} THEN s ELSE 0 END) AS f{j}" for j in range(_Q116_DIM))}
      FROM tf GROUP BY doc_id
    ),
    n AS (
      SELECT *, sqrt(CAST({" + ".join(f"f{j} * f{j}" for j in range(_Q116_DIM))} AS DOUBLE)) AS nrm
      FROM g
    )
    SELECT doc_id, n_tokens,
      {", ".join(f"CASE WHEN nrm = 0 THEN 0.0 ELSE CAST(f{j} AS DOUBLE) / nrm END AS f_{j}" for j in range(_Q116_DIM))}
    FROM n
    """,
)
def q116_feature_hashing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The hashing trick (operators/similarity.feature_hash_vectors —
    Weinberger et al. 2009): signed hashed unigram counts, L2-
    normalized into 16-dim document vectors — the zero-training
    featurizer feeding this repo's vector toolbox (kNN graph, JL,
    SQ8/PQ, cosine ANN) straight from raw text. One explode + one
    grouped aggregate of 16 conditional integer sums; exact integer
    norm under one sqrt makes every component engine-exact UNROUNDED
    (integer sums → sqrt → one IEEE divide; pre-gated bit-exact at
    3 SFs by an r13 probe, now in git history)."""
    t = load_tables(spark, sf_dir, "documents")
    return S.feature_hash_vectors(t["documents"], dim=_Q116_DIM)


# ----------------------- q134 retrieval e2e: index -> BM25 + IVF -> RRF

_Q134_TOPN, _Q134_RRF_K, _Q134_OUT, _Q134_QID = 50, 60, 20, 1
_Q134_CELLS, _Q134_NPROBE = 8, 2
_Q134_CONTRIB = (
    f"CAST(1.0 / ({float(_Q134_RRF_K)} + CAST(rnk AS DOUBLE)) AS DECIMAL(18,12))"
)


@register(
    "q134_retrieval_e2e",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, {_WORDS_ALL} AS w FROM documents
    ),
    per AS (
      SELECT doc_id, len(w) AS dl,
        {", ".join(f"len(list_filter(w, x -> x = '{t}')) AS tf_{i}" for i, t in enumerate(_Q91_TERMS))}
      FROM toks WHERE len(w) > 0
    ),
    stats AS (
      SELECT COUNT(*) AS N, SUM(dl) AS sum_dl,
        {", ".join(f"SUM(CASE WHEN tf_{i} > 0 THEN 1 ELSE 0 END) AS df_{i}" for i in range(len(_Q91_TERMS)))}
      FROM per
    ),
    lex0 AS (
      SELECT doc_id,
        ROUND({" + ".join(_bm25_term_sql(i, t) for i, t in enumerate(_Q91_TERMS))}, 4) AS score
      FROM per, stats
      ORDER BY score DESC, doc_id LIMIT {_Q134_TOPN}
    ),
    lex AS (
      SELECT doc_id, ROW_NUMBER() OVER (ORDER BY score DESC, doc_id) AS rnk
      FROM lex0
    ),
    c AS (
      SELECT vec_id AS centroid_id, embedding AS cv
      FROM embeddings ORDER BY vec_id ASC LIMIT {_Q134_CELLS}
    ),
    assign_scored AS (
      SELECT e.vec_id, c.centroid_id,
             {_DOT.format(a='e.embedding', b='c.cv')}
               / (sqrt({_DOT.format(a='e.embedding', b='e.embedding')})
                  * sqrt({_DOT.format(a='c.cv', b='c.cv')})) AS cos
      FROM embeddings e CROSS JOIN c
    ),
    assign AS (
      SELECT vec_id, centroid_id FROM (
        SELECT vec_id, centroid_id,
               ROW_NUMBER() OVER (PARTITION BY vec_id
                                  ORDER BY cos DESC, centroid_id ASC) AS rn
        FROM assign_scored
      ) WHERE rn = 1
    ),
    qv AS (
      SELECT embedding AS q,
             sqrt({_DOT.format(a='embedding', b='embedding')}) AS qn
      FROM embeddings WHERE vec_id = {_Q134_QID}
    ),
    pc AS (
      SELECT c.centroid_id
      FROM c CROSS JOIN qv
      ORDER BY {_DOT.format(a='c.cv', b='qv.q')}
                 / (sqrt({_DOT.format(a='c.cv', b='c.cv')}) * qv.qn) DESC,
               c.centroid_id ASC
      LIMIT {_Q134_NPROBE}
    ),
    dense0 AS (
      SELECT e.vec_id,
             {_DOT.format(a='e.embedding', b='qv.q')}
               / (sqrt({_DOT.format(a='e.embedding', b='e.embedding')}) * qv.qn) AS cos
      FROM embeddings e
      JOIN assign a ON e.vec_id = a.vec_id
      JOIN pc ON a.centroid_id = pc.centroid_id
      CROSS JOIN qv
      WHERE e.vec_id != {_Q134_QID}
      ORDER BY cos DESC, e.vec_id LIMIT {_Q134_TOPN}
    ),
    dense AS (
      SELECT vec_id AS doc_id,
             ROW_NUMBER() OVER (ORDER BY cos DESC, vec_id) AS rnk
      FROM dense0
    ),
    u AS (
      SELECT doc_id, {_Q134_CONTRIB} AS contrib FROM lex
      UNION ALL
      SELECT doc_id, {_Q134_CONTRIB} AS contrib FROM dense
    )
    SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_systems,
           CAST(SUM(contrib) AS DOUBLE) AS rrf_score
    FROM u GROUP BY doc_id
    ORDER BY rrf_score DESC, doc_id LIMIT {_Q134_OUT}
    """,
)
def q134_retrieval_e2e(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The COMPOSED retrieval path users actually run (VERDICT r5 item
    7): build the materialized IVF index (operators/similarity.
    IvfIndex through a real TableStore, n_iter=0 so the codebook is
    the deterministic first-8 seed — q46's contract), probe it for
    the dense top-50 (nprobe=2, partition-pruned candidate read,
    query vector excluded), score the lexical BM25 top-50 (q91's
    scorer), and fuse with reciprocal-rank at k=60 (q101's fusion).
    One entry attests the handoffs between all three families: the
    index's assignment feeds the probe, both rankers' id-tie-broken
    lists feed RRF, and the DuckDB oracle replays index build + probe
    + BM25 + fusion end-to-end in SQL. Every stage is map-only or
    top-k shaped: the corpus-sized work is one assignment pass at
    build time and one pruned-cell scan per probe."""
    import tempfile as _tempfile

    from pyspark.sql import Window

    from ironman_medallion_lakehouse_spark.operators.ranking import rrf_fuse
    from ironman_medallion_lakehouse_spark.session import staging_dir
    from ironman_medallion_lakehouse_spark.sources.tablestore import TableStore

    t = load_tables(spark, sf_dir, "documents", "embeddings")
    lex = R.bm25_topk(t["documents"], _Q91_TERMS, k=_Q134_TOPN)
    # bounded-serial: ranks the <=k-row BM25 top-k frame
    wl = Window.orderBy(F.col("score").desc(), F.col("doc_id"))
    lexr = lex.select("doc_id", F.row_number().over(wl).alias("rnk"))

    root = _tempfile.mkdtemp(prefix="rtrv_", dir=staging_dir(spark, "tablestore"))
    store = TableStore(spark, root)
    idx = S.IvfIndex(store, "ann.retrieval")
    idx.build(t["embeddings"], n_cells=_Q134_CELLS, n_iter=0)
    qvec = [
        float(x)
        for x in t["embeddings"]
        .filter(F.col("vec_id") == _Q134_QID)
        .select("embedding")
        .collect()[0][0]
    ]
    dense = idx.probe(
        qvec, k=_Q134_TOPN, nprobe=_Q134_NPROBE, exclude_ids=[_Q134_QID]
    )
    # bounded-serial: ranks the <=k-row dense top-k frame
    wd = Window.orderBy(F.col("cosine_sim").desc(), F.col("vec_id"))
    denser = dense.select(
        F.col("vec_id").alias("doc_id"), F.row_number().over(wd).alias("rnk")
    )
    return rrf_fuse([lexr, denser], k=_Q134_RRF_K, topk=_Q134_OUT)


# --------------------------- q135 pairwise source overlap (theta + exact)


@register(
    "q135_source_overlap",
    oracle=f"""
    WITH items AS (
      SELECT DISTINCT source AS g, unnest({_WORDS}) AS i FROM documents
    ),
    sizes AS (SELECT g, COUNT(*) AS n FROM items GROUP BY g),
    inter AS (
      SELECT a.g AS src_a, b.g AS src_b, COUNT(*) AS n_inter
      FROM items a JOIN items b ON a.i = b.i AND a.g < b.g
      GROUP BY a.g, b.g
    )
    SELECT sa.g AS src_a, sb.g AS src_b,
           sa.n AS n_a, sb.n AS n_b,
           COALESCE(x.n_inter, 0) AS n_inter,
           sa.n + sb.n - COALESCE(x.n_inter, 0) AS union_size,
           CAST(COALESCE(x.n_inter, 0) AS DOUBLE)
             / CAST(sa.n + sb.n - COALESCE(x.n_inter, 0) AS DOUBLE) AS jaccard,
           TRUE AS theta_within_tol
    FROM sizes sa JOIN sizes sb ON sa.g < sb.g
    LEFT JOIN inter x ON x.src_a = sa.g AND x.src_b = sb.g
    """,
)
def q135_source_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise vocabulary overlap between corpus sources
    (operators/sketches.pairwise_overlap): for every source pair,
    exact distinct-token intersection/union/Jaccard PLUS a
    theta-sketch intersection estimate attested within 5 % — the
    corpus-planning matrix behind dedup budgeting and mixture design
    ("how much does src3 duplicate src7?"). The exact arm (token
    self-join) is the oracle-checked truth; the sketch arm is the
    100 TB path — per-source sketches are mergeable and incrementally
    maintained, and all S² pairwise questions are answered from S
    sketch rows without rescanning the corpus. The oracle pins the
    exact columns and expects theta_within_tol = TRUE on every pair
    (exact-mode sketches below 2^12 distinct items)."""
    from ironman_medallion_lakehouse_spark.operators.sketches import (
        pairwise_overlap,
    )

    t = load_tables(spark, sf_dir, "documents")
    toks = t["documents"].select(
        "source", F.explode(F.array_distinct(T.words("text"))).alias("token")
    )
    return pairwise_overlap(toks, "source", "token")


# ------------------------------- q136 deterministic train/val/test split

_Q136_SALT = "split"
_Q136_H = (
    f"(('0x' || substr(md5(doc_id::VARCHAR || ':{_Q136_SALT}'), 1, 8))::UBIGINT"
    " % 1000000)"
)


@register(
    "q136_hash_split",
    oracle=f"""
    SELECT source,
           CASE WHEN {_Q136_H} < 800000 THEN 'train'
                WHEN {_Q136_H} < 900000 THEN 'val'
                ELSE 'test' END AS split,
           COUNT(*) AS n_docs
    FROM documents
    GROUP BY 1, 2
    """,
)
def q136_hash_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 80/10/10 train/val/test assignment
    (operators/sampling.hash_split): membership decided by
    md5(doc_id), so a document keeps its split across runs, engines,
    partitionings, and incremental loads — the leakage-free property
    rand() splitting can't give (a re-run must never move a test doc
    into train). Map-only, zero shuffle before the reporting
    aggregate; the oracle replays the identical md5 interval
    arithmetic. Output: docs per (source, split)."""
    from ironman_medallion_lakehouse_spark.operators.sampling import hash_split

    t = load_tables(spark, sf_dir, "documents")
    assigned = hash_split(
        t["documents"], "doc_id", {"train": 0.8, "val": 0.1, "test": 0.1},
        salt=_Q136_SALT,
    )
    return assigned.groupBy("source", "split").agg(
        F.count(F.lit(1)).alias("n_docs")
    )


# ------------------- q137 log-domain A-ES (Gumbel-max weighted sample)

_Q137_K, _Q137_SALT = 150, "gumb"


@register(
    "q137_gumbel_topk",
    oracle=f"""
    SELECT doc_id, n_chars,
           CAST(ROUND(priority, 6) AS DOUBLE) AS priority
    FROM (
      SELECT doc_id, n_chars,
             CAST((CAST(n_chars AS DOUBLE) - 300.0) * 5.0
                  - ln(-ln((('0x' || substr(md5(doc_id::VARCHAR || ':{_Q137_SALT}'), 1, 6))::UBIGINT
                            + 0.5) / 16777216.0))
                  AS DECIMAL(28,12)) AS priority
      FROM documents
      ORDER BY priority DESC, doc_id
      LIMIT {_Q137_K}
    )
    """,
)
def q137_gumbel_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Log-domain A-ES weighted sampling (operators/sampling.
    weighted_sample_topk_log — the Gumbel-max top-k form, ADVICE r5):
    150 docs drawn ∝ e^lw with lw = (n_chars − 300)·5, a weight range
    spanning ±~10³ where exp() under/overflows and the linear-domain
    draw silently drops or collapses docs — the regime DSIR log-weights
    live in (this is the sampler the production training pipeline now
    uses). Ordering lw + gumbel(u) is order-isomorphic to the classic
    u^(1/w) key; u is the exact md5 rational, the priority is
    DECIMAL(28,12)-rounded, unique-key tiebreak — engine-exact."""
    t = load_tables(spark, sf_dir, "documents")
    lw = (F.col("n_chars").cast("double") - F.lit(300.0)) * F.lit(5.0)
    return SA.weighted_sample_topk_log(
        t["documents"], lw, _Q137_K, "doc_id", salt=_Q137_SALT
    ).select(
        "doc_id",
        "n_chars",
        # membership/order are decided on the full DECIMAL(28,12) key;
        # the REPORTED column re-rounds to 6 decimals because at
        # |priority| ~ 10^3 twelve fractional digits exceed double
        # precision, so engines' last-ulp ln() wobble would show up in
        # the comparison (it cannot flip top-k membership: distinct
        # doc_ids keep gumbel terms >= 1e-8 apart)
        F.round(F.col("priority"), 6).cast("double").alias("priority"),
    )
