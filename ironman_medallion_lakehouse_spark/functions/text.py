"""Text-analysis expressions for training-data pipelines.

Beyond-reference extension (BASELINE.json north star). Everything is
pure Column composition — language ID, quality scoring, token counting
and fingerprinting all run inside whole-stage codegen with zero Python
in the hot path (the difference between ~GB/s and ~MB/s per core at
100 TB).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# Small high-frequency stopword lists per language (public common-word
# lists). Used both for n-gram-free language ID (distinct-overlap
# scoring) and for stopword-ratio quality signals.
STOPWORDS: dict[str, list[str]] = {
    "en": ["the", "a", "of", "and", "to", "in", "is", "that", "it", "for"],
    "de": ["der", "die", "das", "und", "ist", "nicht", "ein", "mit", "auf", "zu"],
    "fr": ["le", "la", "et", "les", "des", "un", "une", "est", "dans", "que"],
    "es": ["el", "los", "las", "de", "y", "un", "una", "es", "en", "por"],
    "zh": ["的", "是", "了", "在", "和", "有", "我", "不", "这", "人"],
}

LANG_PRIORITY = ["en", "de", "fr", "es", "zh"]  # deterministic tiebreak order


def words(text: Column | str) -> Column:
    """The whitespace tokenizer: lowercased text split on runs of
    whitespace (a leading run yields one empty first token)."""
    t = F.col(text) if isinstance(text, str) else text
    return F.split(F.lower(t), r"\s+")


def stopword_score(text: Column | str, lang: str) -> Column:
    """Distinct-overlap count between the document's word set and the
    language's stopword list. Integer, deterministic."""
    ws = F.array_distinct(words(text))
    return F.size(
        F.array_intersect(ws, F.array(*[F.lit(w) for w in STOPWORDS[lang]]))
    )


def predicted_lang(text: Column | str) -> Column:
    """argmax over per-language stopword scores, ties broken by
    LANG_PRIORITY order; 'und' (undetermined) when all scores are 0."""
    scores = {lang: stopword_score(text, lang) for lang in LANG_PRIORITY}
    best = F.greatest(*scores.values())
    result = F.lit("und")
    for lang in reversed(LANG_PRIORITY):
        result = F.when(
            (scores[lang] == best) & (best > 0), F.lit(lang)
        ).otherwise(result)
    return result


def n_words(text: Column | str) -> Column:
    return F.size(words(text))


def n_distinct_words(text: Column | str) -> Column:
    return F.size(F.array_distinct(words(text)))


def avg_word_len(text: Column | str) -> Column:
    """Mean token length = non-space chars / token count (double
    division of ints — bit-deterministic)."""
    t = F.col(text) if isinstance(text, str) else text
    non_space = F.length(F.regexp_replace(t, r"\s+", ""))
    return non_space.cast("double") / n_words(text).cast("double")


def stopword_ratio(text: Column | str, lang: str = "en") -> Column:
    return stopword_score(text, lang).cast("double") / F.greatest(
        n_distinct_words(text), F.lit(1)
    ).cast("double")


def type_token_ratio(text: Column | str) -> Column:
    """Lexical diversity: distinct / total tokens."""
    return n_distinct_words(text).cast("double") / F.greatest(
        n_words(text), F.lit(1)
    ).cast("double")


def whitespace_token_count(text: Column | str) -> Column:
    return F.size(words(text))


def regex_token_count(text: Column | str) -> Column:
    """BPE-ish pre-tokenizer count: runs of letters, runs of digits, or
    single non-alnum-non-space symbols (the GPT-2-style pre-split
    shape, simplified)."""
    t = F.col(text) if isinstance(text, str) else text
    return F.size(F.regexp_extract_all(F.lower(t), F.lit(r"[a-z]+|[0-9]+|[^a-z0-9\s]"), 0))


def bag_fingerprint(text: Column | str) -> Column:
    """Order-insensitive document fingerprint: md5 of the sorted
    distinct word set. Identical docs up to word order/repetition get
    identical fingerprints — a cheap near-dup key (one narrow pass)."""
    ws = F.array_sort(F.array_distinct(words(text)))
    return F.md5(F.concat_ws(" ", ws))


def alpha_word_ratio(text: Column | str) -> Column:
    """Fraction of whitespace tokens containing at least one ASCII
    letter — the Gopher-rules alphabetic-word signal (documents of
    mostly numbers/symbols are low-quality training text)."""
    ws = words(text)
    alpha = F.size(F.filter(ws, lambda w: w.rlike("[a-z]")))
    return alpha.cast("double") / F.greatest(F.size(ws), F.lit(1)).cast("double")


def symbol_word_ratio(text: Column | str) -> Column:
    """(# of '#' chars + # of '...' runs) per whitespace token — the
    Gopher symbol-to-word ratio (hash-mark/ellipsis spam signal).
    Occurrence counts via length arithmetic (no regex engine in the
    loop): n('#') = len − len(replace); n('...') = (len − len(replace))
    / 3."""
    t = F.col(text) if isinstance(text, str) else text
    hashes = F.length(t) - F.length(F.replace(t, F.lit("#"), F.lit("")))
    dots = (F.length(t) - F.length(F.replace(t, F.lit("..."), F.lit("")))) / F.lit(3)
    return (hashes + dots).cast("double") / F.greatest(
        n_words(text), F.lit(1)
    ).cast("double")


def duplicate_line_fraction(text: Column | str) -> Column:
    """Fraction of lines that are repeats of an earlier line
    (1 − distinct/total over newline-split lines) — the Gopher
    duplicate-line repetition filter. 0.0 for single-line documents."""
    t = F.col(text) if isinstance(text, str) else text
    lines = F.split(t, "\n")
    n = F.size(lines)
    return F.lit(1.0) - F.size(F.array_distinct(lines)).cast("double") / F.greatest(
        n, F.lit(1)
    ).cast("double")


def canonical_url(url: Column | str) -> Column:
    """Crawl-dedup URL canonicalization — the standard key computed
    BEFORE exact dedup on crawl data (two fetches of one page differ
    only in case, tracking params, fragments, or param order):

    - scheme and host lowercased; ``www.`` and the scheme's default
      port (``:80`` http / ``:443`` https — a default port on the
      WRONG scheme is kept, it's a different origin) stripped;
    - fragment dropped; tracking params (``utm_*``, ``gclid``,
      ``fbclid``) dropped; remaining query params sorted (param order
      is not semantic); trailing path slashes stripped (interior
      double slashes kept — they can be semantic).

    Pure Column composition (regex extract/replace + split +
    array_sort + filter); the HOF lambda references only its variable
    and literals (the interpreted-HOF discipline). Deterministic, so
    a SQL oracle replays it exactly."""
    u = F.trim(F.col(url) if isinstance(url, str) else url)
    u = F.regexp_replace(u, "#.*$", "")
    scheme = F.lower(F.regexp_extract(u, r"^([A-Za-z][A-Za-z0-9+.-]*)://", 1))
    rest = F.regexp_replace(u, r"^[A-Za-z][A-Za-z0-9+.-]*://", "")
    hostport = F.lower(F.regexp_extract(rest, r"^([^/?]*)", 1))
    host = F.regexp_replace(hostport, r"^www\.", "")
    host = (
        F.when(scheme == "http", F.regexp_replace(host, ":80$", ""))
        .when(scheme == "https", F.regexp_replace(host, ":443$", ""))
        .otherwise(host)
    )
    pathq = F.regexp_extract(rest, r"^[^/?]*(.*)$", 1)
    path = F.regexp_replace(F.regexp_extract(pathq, r"^([^?]*)", 1), "/+$", "")
    query = F.regexp_extract(pathq, r"\?(.*)$", 1)
    params = F.filter(
        F.split(query, "&"),
        lambda p: (p != "")
        & ~p.rlike("^(utm_[^=]*|gclid|fbclid)(=|$)"),
    )
    qs = F.array_join(F.array_sort(params), "&")
    return F.concat(
        scheme,
        F.lit("://"),
        host,
        path,
        F.when(qs != "", F.concat(F.lit("?"), qs)).otherwise(F.lit("")),
    )


def _let(value: Column, body) -> Column:
    """Bind ``value`` once and use it many times inside ``body``.

    Higher-order functions are evaluated *interpreted* (no codegen), and
    any outer **expression** referenced inside a lambda is re-evaluated
    per element — the r3 q47 regression (0.8 s → 394 s at sf0.1) was a
    nested lambda re-running the full lower+regex-split of the document
    for every distinct bigram × element. A lambda **variable**, by
    contrast, is a bound value: O(1) to read. ``transform(array(v),
    x -> body(x))[1]`` is therefore a pure-Column let-binding: ``v`` is
    a direct child (evaluated exactly once per row) and every use inside
    ``body`` is a cheap variable read."""
    return F.element_at(F.transform(F.array(value), body), 1)


def bigram_array(text: Column | str) -> Column:
    """Adjacent word bigrams as ``"w1 w2"`` strings — zip of the word
    array with its own shift. Both slice children and the zip lambda
    touch only direct children / lambda args, so cost is O(len) per row
    (the word split is evaluated a constant number of times)."""
    ws = words(text)
    n1 = F.greatest(F.size(ws) - F.lit(1), F.lit(0))
    return F.zip_with(
        F.slice(ws, 1, n1),
        F.slice(ws, 2, n1),
        lambda a, b: F.concat_ws(" ", a, b),
    )


def top_bigram_fraction(text: Column | str) -> Column:
    """Fraction of tokens covered by the single most frequent word
    bigram (2·count(top bigram) / n_words, the Gopher top-n-gram
    repetition signal, simplified to coverage by token count).

    Linear single-pass form: sort the bigram array, then fold it once
    with ``aggregate`` tracking (prev, current run, best run) — the max
    run length of a sorted array IS the max bigram multiplicity. The
    array is a direct child of ``aggregate`` (evaluated once per row)
    and the fold lambda reads only its own variables, so the whole
    expression is O(len·log len) per document with no per-element
    re-evaluation — the r3 version's nested filter-count was
    O(distinct·len) with the full text re-split per inner element,
    which at sf0.1 meant 394 s on one core. Stays one narrow scan with
    zero shuffle (an explode→groupBy rewrite would add one); at 100 TB
    this is a map-only column."""
    n = F.size(words(text))
    run = F.struct(
        F.lit(None).cast("string").alias("prev"),
        F.lit(0).alias("run"),
        F.lit(0).alias("best"),
    )
    top = F.aggregate(
        F.array_sort(bigram_array(text)),
        run,
        lambda acc, x: _let(
            F.when(x == acc["prev"], acc["run"] + F.lit(1)).otherwise(F.lit(1)),
            lambda r: F.struct(
                x.alias("prev"),
                r.alias("run"),
                F.greatest(acc["best"], r).alias("best"),
            ),
        ),
        lambda acc: acc["best"],
    )
    return (
        F.when(n < 2, F.lit(0.0))
        .otherwise(F.lit(2.0) * top.cast("double") / n.cast("double"))
    )


# PII scrub patterns, applied in order (SSN before the phone pattern so
# ddd-dd-dddd is never half-eaten as a phone number). Patterns are
# written to the common Java-regex/RE2 subset (no lookaround) so the
# DuckDB oracle replays them verbatim.
PII_PATTERNS: list[tuple[str, str]] = [
    (r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "<EMAIL>"),
    (r"\b\d{3}-\d{2}-\d{4}\b", "<ID>"),
    (r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b", "<IP>"),
    (r"\+?\b\d{3}[-. ]\d{3}[-. ]\d{4}\b", "<PHONE>"),
]


def pii_scrub(text: Column | str) -> Column:
    """Redact emails, SSN-shaped ids, IPv4 addresses and NANP-style
    phone numbers with typed placeholder tokens — the standard
    pre-training PII scrub pass. A chain of global regexp_replace
    calls, entirely inside codegen; at 100 TB this is a narrow
    map-only column rewrite with no shuffle."""
    out = F.col(text) if isinstance(text, str) else text
    for pat, rep in PII_PATTERNS:
        out = F.regexp_replace(out, pat, rep)
    return out


def winnowing_fingerprints(
    text: Column | str, k: int = 8, window: int = 4
) -> Column:
    """Rolling-hash document fingerprints by winnowing (the MOSS
    scheme, Schleimer et al. 2003): hash every character k-gram of the
    whitespace-normalized lowercased text, slide a window of ``window``
    consecutive gram hashes, keep each window's minimum, return the
    distinct selected hashes.

    Guarantee: any shared substring of length ≥ k + window − 1 between
    two documents contributes at least one COMMON fingerprint, while
    the fingerprint density stays ~2/(window+1) of the grams — the
    standard partial-overlap/containment detector (order-sensitive,
    unlike ``bag_fingerprint``; substring-local, unlike MinHash which
    sketches whole-set resemblance).

    Pure Column composition — k-grams via substring over a sequence,
    window minima via array_min over slices — one stage, no UDF, no
    shuffle. The normalized text and the gram array are let-bound
    (``_let``) so the per-element lambdas read bound variables instead
    of re-evaluating the normalize/hash subtrees — interpreted HOF
    evaluation re-runs any outer *expression* per element (the r3 q47
    lesson), which here would be O(len²) regexp work per document.
    Texts shorter than k characters yield an empty array
    (CASE-guarded: Spark's ``sequence(1, 0)`` descends rather than
    being empty). Join fingerprints to pair documents:
    ``explode → equi-join on the hash → group pairs`` — same bucketed
    shape as LSH banding, never all-pairs."""
    t = F.col(text) if isinstance(text, str) else text
    empty = F.expr("cast(array() as array<string>)")

    def _mins(grams: Column) -> Column:
        windows = F.transform(
            F.sequence(F.lit(1), F.size(grams) - F.lit(window - 1)),
            lambda j: F.array_min(F.slice(grams, j, window)),
        )
        return (
            F.when(F.size(grams) < 1, empty)
            .when(F.size(grams) < window, F.array_distinct(F.array(F.array_min(grams))))
            .otherwise(F.array_distinct(windows))
        )

    def _fingerprints(norm: Column) -> Column:
        grams = F.transform(
            F.sequence(F.lit(1), F.length(norm) - F.lit(k - 1)),
            lambda i: F.md5(F.substring(norm, i, k)),
        )
        return F.when(F.length(norm) < k, empty).otherwise(_let(grams, _mins))

    return _let(F.regexp_replace(F.trim(F.lower(t)), r"\s+", " "), _fingerprints)


def strip_html(text: Column | str) -> Column:
    """Crawl-pipeline HTML boilerplate strip as a pure Column chain —
    the extraction step between "fetched page" and every text operator
    in this package (quality gate, dedup n-grams, language ID):
    script/style/noscript blocks dropped whole (their CONTENT is never
    prose), comments dropped, remaining tags removed, the five
    ubiquitous entities decoded, whitespace collapsed. Deliberately a
    regex heuristic, not a DOM parser — the trafilatura-class
    readability heuristics need an HTML tree and live behind the same
    class of env gate as the image codecs; this is the 99 %-of-bytes
    fast path that runs at scan speed inside codegen.

    Engine-portable: every pattern is shared RE2/Java-regex syntax
    (non-greedy blocks, ``[^>]*`` tags, no backrefs), so a DuckDB
    oracle replays it with ``regexp_replace(..., 'gis')`` against
    Spark's inline ``(?is)`` flags."""
    t = F.col(text) if isinstance(text, str) else text
    for blk in ("script", "style", "noscript"):
        t = F.regexp_replace(t, f"(?is)<{blk}\\b[^>]*>.*?</{blk}>", " ")
    t = F.regexp_replace(t, r"(?s)<!--.*?-->", " ")
    t = F.regexp_replace(t, r"(?s)<[^>]*>", " ")
    for ent, ch in _HTML_ENTITIES:
        t = F.replace(t, F.lit(ent), F.lit(ch))
    return F.trim(F.regexp_replace(t, r"\s+", " "))


_HTML_ENTITIES = (
    ("&nbsp;", " "),
    ("&amp;", "&"),
    ("&lt;", "<"),
    ("&gt;", ">"),
    ("&quot;", '"'),
    ("&#39;", "'"),
)


def strip_html_sql(expr: str) -> str:
    """DuckDB replay of ``strip_html`` (generated from the same
    pattern list — RE2 ``'gis'`` flags mirror Spark's inline
    ``(?is)``)."""
    t = expr
    for blk in ("script", "style", "noscript"):
        t = f"regexp_replace({t}, '<{blk}\\b[^>]*>.*?</{blk}>', ' ', 'gis')"
    t = f"regexp_replace({t}, '<!--.*?-->', ' ', 'gs')"
    t = f"regexp_replace({t}, '<[^>]*>', ' ', 'gs')"
    for ent, ch in _HTML_ENTITIES:
        c = ch.replace("'", "''")
        t = f"replace({t}, '{ent}', '{c}')"
    return f"trim(regexp_replace({t}, '\\s+', ' ', 'g'))"
