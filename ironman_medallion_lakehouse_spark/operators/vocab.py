"""Distributed BPE vocabulary learning + tokenization.

Beyond-reference extension (BASELINE.json north star): every LLM
training pipeline learns a subword vocabulary from its corpus and
tokenizes with it. Byte-Pair Encoding (Sennrich, Haddow & Birch,
ACL 2016) is learned here the way it scales:

- The ONLY corpus-sized work is one ``groupBy(word)`` pass
  (``word_counts``). BPE's merge statistics are fully determined by
  the word-frequency table — a fact the reference algorithm exploits
  in memory and we exploit distributively: everything after the first
  pass runs on |distinct words| rows, not |corpus| rows.
- Each merge iteration is one weighted bigram count + argmax over the
  vocab-sized table (``learn_bpe``): adjacent-symbol pairs via
  arrays_zip of two slices, counts map-side combined, ONE row pulled
  to the driver (the bounded-scalar-collect pattern; ties broken
  (count desc, pair asc) so the learned vocab is deterministic).
  The winning pair is merged into every word's symbol array with a
  left-to-right greedy ``F.aggregate`` fold (lambda references only
  its own variables and literals — the r3 HOF rule), and the frame is
  localCheckpoint'ed per round (the PageRank discipline) so the plan
  stays bounded across iterations.
- ``apply_bpe`` tokenizes a document frame by applying the learned
  merges to the batch's DISTINCT words (vocab-sized, same fold,
  checkpoint every few merges) and broadcast-joining word → tokens
  back onto the corpus — corpus-sized cost is the word explode plus
  one broadcast join, independent of merge count. (This mirrors how
  real tokenizers run: a word → token-ids cache in front of the
  merge machinery.)

100 TB honesty: the per-iteration cost is small, but production
vocabularies run ~30k merges and 30k driver-coordinated jobs of
scheduling overhead is the real bottleneck — the same serial structure
single-node BPE trainers have. The production dials, in order: learn
on the top-K word-count sample (vocabulary statistics are dominated by
frequent words; K ~ 1M covers >99.9 % of token mass), batch
non-interacting merges per round, or pull the (bounded) count table to
the driver — the graph.py union-find ≤-bound precedent — and run the
classic in-memory loop. This module implements the exact distributed
loop; sampling composes in front of it via ``word_counts`` filters.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

END = "</w>"


def word_counts(
    docs: DataFrame, text_col: str = "text", lowercase: bool = True
) -> DataFrame:
    """(word, n): the one corpus-sized pass. Whitespace pre-tokenized
    (compose a different pre-tokenizer upstream if needed); empty
    strings dropped.

    Kept with no package caller: it feeds ``learn_bpe`` in
    tests/test_vocab.py."""
    t = F.col(text_col)
    if lowercase:
        t = F.lower(t)
    w = F.explode(F.split(t, r"\s+")).alias("word")
    return (
        docs.select(w)
        .filter(F.col("word") != "")
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("n"))
    )


def _truncate_counts(counts: DataFrame, top_k_words: int | None) -> DataFrame:
    """Optional top-K word-count truncation in front of a learner —
    the measured 100 TB scale dial (SCALING.md r12 decision row; the
    r12 probe is in git history): the per-round pair-count shuffle volume
    is proportional to the WORD-TABLE rows, and K ≥ ⅓ of the vocab
    costs ≤ 0.5 % corpus-weighted compression at the 8k-merge cut.
    Semantics pinned by the probe: ``counts.orderBy(n desc, word asc)
    .limit(K)`` — a TakeOrderedAndProject (top-K heap per partition +
    one k-row merge), never a full sort. ``None`` (the default) is
    the identity: the learned artifact is byte-identical to the
    untruncated learner's, which is what q144's replay oracle attests.
    """
    if top_k_words is None:
        return counts
    if int(top_k_words) < 1:
        raise ValueError(f"top_k_words must be >= 1, got {top_k_words!r}")
    return counts.orderBy(F.col("n").desc(), F.col("word").asc()).limit(
        int(top_k_words)
    )


def _initial_symbols(word) -> F.Column:
    """Character symbols + the end-of-word marker as its own symbol."""
    return F.concat(F.split(word, ""), F.array(F.lit(END)))


def _merge_fold(syms: F.Column, a: str, b: str) -> F.Column:
    """Left-to-right greedy merge of adjacent (a, b) -> a+b inside one
    symbol array: an ``aggregate`` fold whose accumulator is the
    rebuilt array. Only lambda variables and literals appear inside
    the lambdas (the r3 interpreted-HOF re-evaluation rule)."""
    la, lb, lab = F.lit(a), F.lit(b), F.lit(a + b)
    return F.aggregate(
        syms,
        F.array().cast("array<string>"),
        lambda acc, s: F.when(
            (F.size(acc) > 0)
            & (F.element_at(acc, -1) == la)
            & (s == lb),
            F.concat(F.slice(acc, 1, F.size(acc) - 1), F.array(lab)),
        ).otherwise(F.concat(acc, F.array(s))),
    )


def _merge_fold_batch(syms: F.Column, batch: list[tuple[str, str]]) -> F.Column:
    """ONE left-to-right greedy pass applying a whole PAIRWISE-NON-
    INTERACTING merge batch (the ``select="independent"`` contract):
    at each element, a when-chain over the batch decides whether
    (accumulator-last, current) is one of the batch pairs. Equivalent
    to folding the pairs sequentially — non-interaction means no
    pair's occurrences overlap another's, no pair's operand equals
    another's product (so a product minted mid-pass can never match a
    later element's pair test the sequential order wouldn't), and the
    per-element conditions are mutually exclusive. Cost: one array
    rebuild per row per ROUND instead of per MERGE — the fold pass is
    the batched learner's dominant cost at scale. NOT valid for
    prefix-mode batches: their product-collision rule admits a
    colliding pair whose product can equal an EARLIER batch member's
    operand, where simultaneous application diverges from sequential.
    """
    las = [F.lit(a) for a, _ in batch]
    lbs = [F.lit(b) for _, b in batch]
    labs = [F.lit(a + b) for a, b in batch]

    def step(acc: F.Column, s: F.Column) -> F.Column:
        merged = None
        for la, lb, lab in zip(las, lbs, labs):
            hit = (F.element_at(acc, -1) == la) & (s == lb)
            branch = F.concat(F.slice(acc, 1, F.size(acc) - 1), F.array(lab))
            merged = (
                F.when(hit, branch) if merged is None else merged.when(hit, branch)
            )
        return F.when(F.size(acc) > 0, merged.otherwise(F.concat(acc, F.array(s)))).otherwise(
            F.concat(acc, F.array(s))
        )

    return F.aggregate(syms, F.array().cast("array<string>"), step)


def _noninteracting_prefix_groups(
    merges: list[tuple[str, str]],
) -> list[list[tuple[str, str]]]:
    """Partition an ordered merge list into CONSECUTIVE groups whose
    members are pairwise non-interacting (the ``_merge_fold_batch``
    contract: no adjacent-form sharing, no operand/product string
    equality). Applying each group as one combined pass, groups in
    list order, is exactly the sequential application of the full
    list — the combined pass equals its members in any order, and
    group boundaries preserve the list's order. Used by ``apply_bpe``
    to cut fold passes over the distinct-word table; real learned
    vocabularies chain (es → est → est</w>), so typical groups are
    small but ≥ 1 pass is always saved wherever merges touch
    different symbols."""
    groups: list[list[tuple[str, str]]] = []
    cur: list[tuple[str, str]] = []
    for a, b in merges:
        prod = a + b
        interacts = any(
            b == ta or a == tb or a == tp or b == tp or prod in (ta, tb, tp)
            for ta, tb, tp in ((ta, tb, ta + tb) for ta, tb in cur)
        )
        if interacts:
            groups.append(cur)
            cur = [(a, b)]
        else:
            cur.append((a, b))
    if cur:
        groups.append(cur)
    return groups


def _pair_counts(words: DataFrame) -> DataFrame:
    """(a, b, total) weighted adjacent-pair counts over the vocab-sized
    symbol table — arrays_zip of the two offset slices, exploded, then
    a map-side-combined sum."""
    n = F.size("syms")
    pairs = F.arrays_zip(
        F.slice("syms", 1, n - 1).alias("a"), F.slice("syms", 2, n - 1).alias("b")
    )
    return (
        words.filter(n >= 2)
        .select(F.col("n"), F.explode(pairs).alias("p"))
        .groupBy(F.col("p.a").alias("a"), F.col("p.b").alias("b"))
        .agg(F.sum("n").alias("total"))
    )


def learn_bpe(
    counts: DataFrame,
    num_merges: int,
    min_pair_count: int = 2,
    checkpoint_every: int = 1,
    top_k_words: int | None = None,
) -> list[tuple[str, str]]:
    """Learn ``num_merges`` BPE merges from a (word, n) count table.
    Returns the ordered merge list — the vocabulary artifact a
    tokenizer ships. Stops early when no pair reaches
    ``min_pair_count``. Deterministic: ties broken (count desc, a asc,
    b asc). ``top_k_words`` (opt-in) learns from only the K most
    frequent words — see ``_truncate_counts`` for the measured
    cost/benefit; default ``None`` keeps the exact artifact.

    Kept with no package caller: it is the corpus-learned BPE that
    tests/test_vocab.py pins on the Sennrich et al. example; the suite
    runs fixed merge lists through
    ``bpe_tokens_expr``/``bpe_tokens_sql``."""
    counts = _truncate_counts(counts, top_k_words)
    words = counts.select(
        _initial_symbols(F.col("word")).alias("syms"), F.col("n")
    ).localCheckpoint(eager=True)
    merges: list[tuple[str, str]] = []
    for i in range(int(num_merges)):
        top = (
            _pair_counts(words)
            .orderBy(F.col("total").desc(), F.col("a").asc(), F.col("b").asc())
            .limit(1)
            .collect()  # ONE row — bounded scalar pull per iteration
        )
        if not top or top[0]["total"] < min_pair_count:
            break
        a, b = top[0]["a"], top[0]["b"]
        merges.append((a, b))
        words = words.select(_merge_fold(F.col("syms"), a, b).alias("syms"), "n")
        if (i + 1) % max(1, checkpoint_every) == 0:
            words = words.localCheckpoint(eager=True)
    return merges


def learn_bpe_batched(
    counts: DataFrame,
    num_merges: int,
    min_pair_count: int = 2,
    max_batch: int = 8,
    stats: dict | None = None,
    refine_conflicts: bool = False,
    select: str = "prefix",
    checkpoint_folds: int = 8,
    top_k_words: int | None = None,
) -> list[tuple[str, str]]:
    """``learn_bpe`` with the documented scale dial IMPLEMENTED
    (VERDICT r7 item 2): batch several merges per driver round while
    staying EXACTLY equivalent to the serial loop, so jobs/merge drops
    below 1 instead of the 30k driver-coordinated jobs a production
    vocabulary costs serially.

    Per round, ONE distributed pass computes the weighted pair counts
    AND, for the top-``max_batch`` candidates, the max weighted
    trigram count through each candidate (``max_x tri(x,a,b)`` and
    ``max_y tri(a,b,y)``). The batch is then chosen driver-side as a
    PREFIX of the (count desc, a asc, b asc)-sorted table such that
    each taken pair, in order, is provably still the argmax the serial
    loop would pick at its turn:

    - *prefix rule*: stop at the first inadmissible candidate — every
      pair counted above a taken pair must itself be taken (else the
      serial loop could pick the skipped one after earlier merges
      lowered nothing of its count);
    - *count invariance* (r9, trigram-refined): a pair occurrence
      (x,y) is destroyed by merging (a,b) ONLY through the specific
      linking trigram the merge consumes — "x a b" when y==a (the y
      gets absorbed rightward), "a b y" when x==b (the x gets absorbed
      leftward); left-left / right-right sharing never destroys (the
      shared symbol's consumed occurrences are the OTHER pair's), and
      no merge creates an adjacency between two pre-existing symbols
      (the fresh ``ab`` symbol sits between them — see collision rule
      for the product-collision exception). So a candidate sharing a
      symbol with a taken pair stops the batch only when its linking
      trigram actually EXISTS in the current symbol table — existence
      is pulled in the same candidate job (trigrams whose head/tail
      equals a top-k pair and whose third symbol is a top-k
      left/right: ≤ k² rows per side). Zero linking occurrences ⇒
      zero destroyed occurrences ⇒ the candidate's count — and the
      serial argmax order — is invariant. Stopping when the trigram
      exists even where greedy overlap wouldn't actually consume it
      is the conservative direction — equivalence holds. The refined
      check is **opt-in** (``refine_conflicts=True``): on both
      measured corpora (the 31-word documents lexicon and the
      50k-word Zipfian probe) every top-candidate conflict was
      genuinely linked — frequent pairs chain within the same
      frequent words — so rounds did not drop while the link
      subqueries cost ~2.4× per-round wall (SCALING.md r9). The
      default keeps the r8 rule (any sharing stops); turn the
      refinement on for corpora whose near-tied pairs come from
      DISJOINT contexts (pinned to fire in
      tests/test_vocab.py::test_batched_admits_provably_harmless_symbol_sharing);
    - *new-pair bound*: merging (a,b) creates pairs only around the
      new ab symbol; any such pair's count is bounded by the max
      weighted trigram through (a,b) (an (x, ab) needs an "x a b"
      trigram, an (ab, ab) from "a b a b" has a "b a b" trigram), and
      by c(a,b) itself. A later candidate is taken only if its count
      STRICTLY exceeds every taken pair's bound, so no freshly created
      pair can outrank (or tie) it at its serial turn;
    - *collision rule*: if a candidate's merge product string already
      exists as a symbol (possible for length ≥ 3 products via a
      different split, e.g. 'aba' from ('a','ba') vs ('ab','a')), the
      merge can INCREASE existing pairs' counts, which the bound does
      not cover — take the pair (it is still this turn's argmax) and
      close the batch. The ever-seen symbol set is tracked driver-side
      (initial alphabet + products, a bounded superset).

    AQE is disabled for the learner's own queries (restored after):
    every frame past ``word_counts`` is vocab-sized, so adaptive
    re-planning buys nothing while materializing each tiny shuffle
    stage as its own job — with it off, a round costs exactly TWO jobs
    (one candidate collect, one checkpoint), the number the
    jobs-per-merge test pins.

    .. caveat:: the toggle is **session-wide for the duration of
       learning** (ADVICE r8 item 2): a concurrent query planned on
       the SAME SparkSession during that window — e.g. a streaming
       micro-batch on another thread — is planned with AQE off.
       ``spark.newSession()`` cannot isolate it because a DataFrame
       plans under the session it was created from (``counts``'s), so
       the conf write necessarily lands there. Callers sharing the
       session with latency-sensitive concurrent work should learn on
       a dedicated session: build ``counts`` via
       ``spark.newSession().read...`` (or re-create it there) and pass
       THAT frame in; the toggle then lives entirely in the clone.

    ``select`` picks the batch-selection rule (r10, VERDICT r9
    directive 4 — built after the 1k-merge Zipf decomposition showed
    the per-ROUND candidate pull is 62 % of wall, i.e. cutting rounds
    is the lever, while the conflict rule caps the serial-equivalent
    prefix at ~4 merges/round):

    - ``"prefix"`` (default): the rules above — the learned merge
      list is EXACTLY ``learn_bpe``'s, order included (property-
      tested). This is the only mode q144's DuckDB replay oracle can
      attest.
    - ``"independent"``: per round, take the GREEDY PAIRWISE-NON-
      INTERACTING SET over the top-k in count order — a candidate
      that interacts with any taken pair is SKIPPED instead of
      closing the batch, where "interacts" means any adjacent-form
      sharing (cand.b == taken.a or cand.a == taken.b — the orders-
      matter fold cases) or any operand/product string equality
      (operand == taken's product, product == taken's operand, or
      equal products). Taken pairs therefore consume disjoint
      occurrences and their greedy folds COMMUTE — the post-batch
      symbol table is independent of application order (the
      commutation lemma is property-tested directly on _merge_fold
      with randomized fold orders; left-left / right-right operand
      sharing is allowed because one symbol occurrence has exactly
      one right neighbor, so two such merges can never contend for
      the same occurrence). This is NOT serial-order-equivalent:
      skipping a conflicted higher-count candidate and taking a
      lower one reorders merges relative to ``learn_bpe`` (and can
      change the learned set — the skipped pair's count may decay
      before its turn), which no sound bound can prevent: the
      skipped candidate's post-merge count is unknowable without
      executing the merge. The artifact is still a deterministic,
      reproducible, valid greedy-BPE vocabulary (ties and scan order
      are total), matches serial exactly on conflict-free corpora
      (property-tested), and is the standard trade parallel BPE
      trainers make. The new-pair bound is deliberately NOT applied:
      the mode makes no serial-argmax claim, and each taken pair's
      count is its true pre-batch count — batch members are mutually
      non-interacting, so every count is still exact at application
      time; pairs created by this round's merges are simply counted
      next round.

      **Use this mode for production learn-at-scale** (r11 decision,
      VERDICT r10 directive 5 — measured by an r11 probe in git history
      on the 48k-word Zipf corpus at 8192 merges): the tokenizer the
      two modes ship is QUALITY-EQUIVALENT — corpus-weighted
      compression agrees to within ±0.06 % at every cut (1k/2k/4k/8k;
      8k: 0.205045 independent vs 0.205094 prefix) even though the
      merge-product sets overlap only ~0.70 Jaccard (0.82 containment
      of serial) — while learning is 13.7× faster (342 s / 170 rounds
      vs 4695 s / 1683 rounds, same box). The DEFAULT stays
      ``"prefix"`` deliberately: it is the canonical serial BPE
      artifact (reproducible against any reference implementation,
      and the only mode an argmax-replay oracle can attest); the
      choice between them is artifact-identity vs wall, not quality.

    ``checkpoint_folds`` bounds the nested-fold expression depth: the
    symbol table is localCheckpoint'ed after that many merge folds
    accumulate (default 8 — the apply_bpe discipline). Measured A/B
    (SCALING.md r10 follow-up, 256 independent merges): 8 vs 16 vs 4
    are within noise (total fold evaluation is per-merge and
    dominates), but a value EXCEEDING the typical per-round batch is
    poisonous — unfinished chains then cross round boundaries into
    the next CANDIDATE PULL, which re-evaluates them interpreted
    (cf=32 under ~23-merge rounds: t_collect 3.3 → 101 s). Keep it at
    or below the expected batch size; 8 is right.

    ``stats`` (optional dict) receives ``rounds``, ``merges``, and a
    ``stop_reasons`` histogram — which admissibility rule ended each
    round's batch (``k_exhausted`` / ``min_count`` /
    ``symbol_conflict`` / ``new_pair_bound`` / ``product_collision``)
    — so callers can assert driver sync points per merge < 1 and see
    which rule binds in practice (the r8 directive-3 measurement).
    ``select="independent"`` additionally records
    ``skipped_interacting`` (total candidates skipped). Equivalence
    to ``learn_bpe`` (prefix mode) is property-tested against random
    corpora in tests/test_vocab.py.

    ``top_k_words`` (opt-in, r13 — the SCALING.md r12 measured
    decision): learn from only the K most frequent words. The 100 TB
    lever is pair-count shuffle volume ∝ word-table rows, not local
    wall; ``None`` (default) keeps the artifact exactly equal to the
    untruncated learner's."""
    if select not in ("prefix", "independent"):
        raise ValueError(f"select must be 'prefix' or 'independent', got {select!r}")
    if select == "independent" and refine_conflicts:
        # the link-refinement pass exists to rescue CONFLICTED prefix
        # candidates; the independent branch skips every interacting
        # candidate outright and never reads the link sets, so paying
        # the trigram/link pull (~2.4x per-round wall, SCALING.md r9)
        # buys nothing (ADVICE r10)
        raise ValueError(
            "refine_conflicts=True is meaningless with select='independent' "
            "(the independent branch never reads the link sets); "
            "use select='prefix' for conflict refinement"
        )
    counts = _truncate_counts(counts, top_k_words)
    spark = counts.sparkSession
    aqe_before = spark.conf.get("spark.sql.adaptive.enabled", "true")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        return _learn_bpe_batched(
            counts, num_merges, min_pair_count, max_batch, stats,
            refine_conflicts, select, checkpoint_folds,
        )
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", aqe_before)


def _learn_bpe_batched(
    counts: DataFrame,
    num_merges: int,
    min_pair_count: int,
    max_batch: int,
    stats: dict | None,
    refine_conflicts: bool = False,
    select: str = "prefix",
    checkpoint_folds: int = 8,
) -> list[tuple[str, str]]:
    words = counts.select(
        _initial_symbols(F.col("word")).alias("syms"), F.col("n")
    ).localCheckpoint(eager=True)
    merges: list[tuple[str, str]] = []
    rounds = 0
    # initial alphabet (chars + END), bounded by |charset| + 1 — the
    # ever-seen symbol superset the collision rule checks against
    symbols_ever = {
        r.s
        for r in counts.select(
            F.explode(F.split(F.col("word"), "")).alias("s")
        )
        .distinct()
        .collect()
    }
    symbols_ever.add(END)
    folds_since_ckpt = 0
    import time as _time

    t_collect = 0.0  # candidate pull: per-ROUND cost batching removes
    t_checkpoint = 0.0  # fold checkpoints: per-MERGE cost it cannot
    while len(merges) < int(num_merges):
        pc = _pair_counts(words)
        rounds += 1
        k = min(int(max_batch), int(num_merges) - len(merges))
        if select == "independent" and not refine_conflicts:
            # the non-interacting set needs no new-pair bound and no
            # link refinement — the candidate job is just the pair
            # table's top-k (the trigram explode, ~3x the pair
            # explode's width, is skipped entirely)
            tri = None
            tk = pc.orderBy(
                F.col("total").desc(), F.col("a").asc(), F.col("b").asc()
            ).limit(k)
        else:
            # max weighted trigram THROUGH each candidate: (x,a,b)
            # bounds new pairs ending at the product, (a,b,y) ones
            # starting at it — vocab-table-sized aggregates, joined
            # onto the top-k
            n = F.size("syms")
            tri = (
                words.filter(n >= 3)
                .select(
                    F.col("n").alias("w"),
                    F.explode(
                        F.arrays_zip(
                            F.slice("syms", 1, n - 2).alias("t1"),
                            F.slice("syms", 2, n - 2).alias("t2"),
                            F.slice("syms", 3, n - 2).alias("t3"),
                        )
                    ).alias("t"),
                )
                .groupBy(
                    F.col("t.t1").alias("t1"),
                    F.col("t.t2").alias("t2"),
                    F.col("t.t3").alias("t3"),
                )
                .agg(F.sum("w").alias("tw"))
            )
            in_tri = tri.groupBy(F.col("t2").alias("_a"), F.col("t3").alias("_b")).agg(
                F.max("tw").alias("in_tri")
            )
            out_tri = tri.groupBy(F.col("t1").alias("_a"), F.col("t2").alias("_b")).agg(
                F.max("tw").alias("out_tri")
            )
            # merge-join hints: a broadcast join would spawn a separate
            # broadcast-build job per side; with AQE off, sort-merge
            # joins of the (vocab-sized) pair and trigram-maxima tables
            # plus the FINAL TakeOrderedAndProject keep the whole
            # candidate pull at ONE job per round
            tk = (
                pc.join(
                    in_tri.hint("merge"),
                    (F.col("a") == F.col("_a")) & (F.col("b") == F.col("_b")),
                    "left",
                )
                .drop("_a", "_b")
                .join(
                    out_tri.hint("merge"),
                    (F.col("a") == F.col("_a")) & (F.col("b") == F.col("_b")),
                    "left",
                )
                .drop("_a", "_b")
                .orderBy(F.col("total").desc(), F.col("a").asc(), F.col("b").asc())
                .limit(k)
            )
        if refine_conflicts:
            # LINKING trigrams among the top-k pairs (r9 refinement,
            # OPT-IN — the default path must not pay for it): candidate
            # (x,y) actually loses count to a taken (a,b) ONLY through
            # the specific trigram the merge consumes — (x,a,b) when
            # y==a, (a,b,y) when x==b. Pull existence of those trigrams
            # in the SAME job (unioned under a kind tag); only
            # third-symbols that are themselves a top-k left/right can
            # ever be checked, so each link set is <= k^2 rows —
            # bounded. The limit(k) subtree re-executes per reference,
            # but its sort key (total desc, a, b) is a TOTAL order, so
            # every execution agrees.
            tkp = tk.select(F.col("a").alias("_ta"), F.col("b").alias("_tb"))
            tk_lefts = tk.select(F.col("a").alias("_s")).distinct()
            tk_rights = tk.select(F.col("b").alias("_s")).distinct()
            link_r = (
                tri.join(
                    tkp.hint("merge"),
                    (F.col("t2") == F.col("_ta")) & (F.col("t3") == F.col("_tb")),
                    "left_semi",
                )
                .join(tk_lefts.hint("merge"), F.col("t1") == F.col("_s"), "left_semi")
                .select(
                    F.col("t2").alias("a"),
                    F.col("t3").alias("b"),
                    F.col("t1").alias("x"),
                    F.lit("R").alias("kind"),
                )
            )
            link_l = (
                tri.join(
                    tkp.hint("merge"),
                    (F.col("t1") == F.col("_ta")) & (F.col("t2") == F.col("_tb")),
                    "left_semi",
                )
                .join(tk_rights.hint("merge"), F.col("t3") == F.col("_s"), "left_semi")
                .select(
                    F.col("t1").alias("a"),
                    F.col("t2").alias("b"),
                    F.col("t3").alias("x"),
                    F.lit("L").alias("kind"),
                )
            )
            _t0 = _time.time()
            pulled = (
                tk.withColumn("kind", F.lit("C"))
                .unionByName(link_r, allowMissingColumns=True)
                .unionByName(link_l, allowMissingColumns=True)
                .collect()  # <= k + 2k^2 rows — bounded pull per ROUND
            )
            t_collect += _time.time() - _t0
        else:
            # default path: ONE job collecting just the top-k candidate
            # table — no trigram link subqueries (SCALING.md r9:
            # "Verdict: default OFF", ~2.4x per-round wall otherwise)
            _t0 = _time.time()
            rows = tk.collect()  # <= max_batch rows — bounded
            t_collect += _time.time() - _t0
            pulled = [{**r.asDict(), "kind": "C"} for r in rows]
        top = sorted(
            (r for r in pulled if r["kind"] == "C"),
            key=lambda r: (-r["total"], r["a"], r["b"]),
        )
        # s_right[(a,b)] = {x : trigram (x,a,b) exists};
        # s_left[(a,b)]  = {y : trigram (a,b,y) exists}
        s_right: dict[tuple[str, str], set[str]] = {}
        s_left: dict[tuple[str, str], set[str]] = {}
        for r in pulled:
            if r["kind"] == "R":
                s_right.setdefault((r["a"], r["b"]), set()).add(r["x"])
            elif r["kind"] == "L":
                s_left.setdefault((r["a"], r["b"]), set()).add(r["x"])
        if not top or top[0]["total"] < min_pair_count:
            break
        batch: list[tuple[str, str]] = []
        bound_max = -1
        stop_reason = "k_exhausted"  # took every candidate pulled
        skipped = 0
        for r in top:
            c = r["total"]
            if c < min_pair_count:
                stop_reason = "min_count"
                break
            if select == "independent":
                # greedy non-interacting set (docstring): SKIP an
                # interacting candidate instead of closing the batch.
                # Interaction = adjacent-form sharing (the two fold
                # cases where order matters) or operand/product
                # string equality; left-left / right-right operand
                # sharing commutes and is allowed.
                prod = r["a"] + r["b"]
                interacts = any(
                    r["b"] == ta
                    or r["a"] == tb
                    or r["a"] == tp
                    or r["b"] == tp
                    or prod == ta
                    or prod == tb
                    or prod == tp
                    for ta, tb, tp in (
                        (ta, tb, ta + tb) for ta, tb in batch
                    )
                )
                if interacts:
                    skipped += 1
                    continue
                collides = prod in symbols_ever
                batch.append((r["a"], r["b"]))
                symbols_ever.add(prod)
                if collides:
                    # the product equals a pre-existing symbol: later
                    # candidates this round were counted without the
                    # new occurrences — close conservatively
                    stop_reason = "product_collision"
                    break
                continue
            # a shared symbol is a REAL conflict only when the linking
            # trigram exists — zero linking occurrences means zero
            # destroyed candidate occurrences, so the count is
            # invariant and the serial argmax order is preserved.
            # Without refine_conflicts (the default), any sharing is
            # treated as linked — the r8 conservative rule
            linked = any(
                (
                    r["b"] == ta
                    and (not refine_conflicts or r["a"] in s_right.get((ta, tb), ()))
                )
                or (
                    r["a"] == tb
                    and (not refine_conflicts or r["b"] in s_left.get((ta, tb), ()))
                )
                for ta, tb in batch
            )
            if linked:
                stop_reason = "symbol_conflict"
                break
            if batch and c <= bound_max:
                stop_reason = "new_pair_bound"
                break
            prod = r["a"] + r["b"]
            collides = prod in symbols_ever
            batch.append((r["a"], r["b"]))
            symbols_ever.add(prod)
            bound = min(c, max(r["in_tri"] or 0, r["out_tri"] or 0))
            bound_max = max(bound_max, bound)
            if collides:
                stop_reason = "product_collision"
                break
        if stats is not None:
            hist = stats.setdefault("stop_reasons", {})
            hist[stop_reason] = hist.get(stop_reason, 0) + 1
            if select == "independent":
                stats["skipped_interacting"] = (
                    stats.get("skipped_interacting", 0) + skipped
                )
        merges.extend(batch)
        if select == "independent" and len(batch) > 1:
            # non-interacting batch: ONE combined fold pass (see
            # _merge_fold_batch) — one array rebuild per row per round
            # instead of per merge
            words = words.select(
                _merge_fold_batch(F.col("syms"), batch).alias("syms"), "n"
            )
        else:
            for a, b in batch:
                words = words.select(
                    _merge_fold(F.col("syms"), a, b).alias("syms"), "n"
                )
        folds_since_ckpt += len(batch)
        if folds_since_ckpt >= int(checkpoint_folds):
            # bound the nested-fold expression depth (the apply_bpe
            # checkpoint_every=8 discipline) without paying a
            # checkpoint job on every small-batch round
            _t0 = _time.time()
            words = words.localCheckpoint(eager=True)
            t_checkpoint += _time.time() - _t0
            folds_since_ckpt = 0
    if stats is not None:
        stats["rounds"] = rounds
        stats["merges"] = len(merges)
        # wall decomposition for the batching-lever decision
        # (SCALING.md r10): t_collect scales with ROUNDS (what a
        # smarter batch rule would cut), t_checkpoint with MERGES/8
        # (invariant under any batching rule)
        stats["t_collect_s"] = round(t_collect, 3)
        stats["t_checkpoint_s"] = round(t_checkpoint, 3)
    return merges


def apply_bpe(
    docs: DataFrame,
    merges: list[tuple[str, str]],
    text_col: str = "text",
    id_col: str = "doc_id",
    lowercase: bool = True,
    checkpoint_every: int = 8,
) -> DataFrame:
    """Tokenize ``docs`` with a learned merge list: (id, tokens
    array<string>, n_tokens). The merges are applied to the batch's
    DISTINCT words only (vocab-sized work, localCheckpoint every
    ``checkpoint_every`` merges to bound the expression tree), then a
    broadcast word → tokens join maps the corpus — corpus-sized cost
    is one word explode + one broadcast hash join regardless of merge
    count. Word order inside each document is preserved
    (posexplode + sort inside the regroup).

    Kept with no package caller: it is the distributed tokenizer that
    tests/test_vocab.py pins merge order and word order on; the suite
    tokenizes with ``bpe_tokens_expr``."""
    t = F.col(text_col)
    if lowercase:
        t = F.lower(t)
    exploded = docs.select(
        F.col(id_col),
        F.posexplode(F.split(t, r"\s+")).alias("pos", "word"),
    ).filter(F.col("word") != "")
    vocab = exploded.select("word").distinct()
    vocab = vocab.select("word", _initial_symbols(F.col("word")).alias("syms"))
    # consecutive non-interacting merges apply as ONE combined fold
    # pass (r10, _merge_fold_batch contract — provably equal to the
    # sequential list); checkpoint cadence counts MERGES, not passes,
    # preserving the expression-depth bound
    applied = 0
    since_ckpt = 0
    for grp in _noninteracting_prefix_groups(merges):
        if len(grp) > 1:
            vocab = vocab.select(
                "word", _merge_fold_batch(F.col("syms"), grp).alias("syms")
            )
        else:
            a, b = grp[0]
            vocab = vocab.select(
                "word", _merge_fold(F.col("syms"), a, b).alias("syms")
            )
        applied += len(grp)
        since_ckpt += len(grp)
        if since_ckpt >= max(1, checkpoint_every) and applied < len(merges):
            vocab = vocab.localCheckpoint(eager=True)
            since_ckpt = 0
    tokenized = exploded.join(F.broadcast(vocab), "word")
    return (
        tokenized.groupBy(id_col)
        .agg(
            F.flatten(
                F.transform(
                    F.array_sort(
                        F.collect_list(F.struct(F.col("pos"), F.col("syms")))
                    ),
                    lambda x: x["syms"],
                )
            ).alias("tokens")
        )
        .select(
            id_col, "tokens", F.size("tokens").cast("bigint").alias("n_tokens")
        )
    )


def bpe_tokens_expr(text, merges: list[tuple[str, str]], lowercase: bool = True):
    """Per-document BPE tokens as a PURE COLUMN expression for a FIXED
    literal merge list — zero shuffle, composable into a one-scan
    battery (q47): whitespace words → char symbols + end marker → the
    greedy merge fold per merge, all inside nested higher-order
    functions that reference only lambda variables and literals (the
    r3 HOF rule). For corpus-learned merges at production vocab sizes
    use ``apply_bpe`` (distinct-words + broadcast join); this form is
    for bounded literal vocabularies and oracle-checkable surfaces.
    ``bpe_tokens_sql`` builds the DuckDB mirror from the same list."""
    t = F.lower(text) if lowercase else text
    words = F.filter(F.split(t, r"\s+"), lambda w: w != F.lit(""))

    def _tok(w):
        syms = F.concat(F.split(w, ""), F.array(F.lit(END)))
        for a, b in merges:
            syms = _merge_fold(syms, a, b)
        return syms

    return F.flatten(F.transform(words, _tok))


def learn_bpe_replay_sql(
    counts_sql: str, num_merges: int, min_pair_count: int = 1
) -> str:
    """DuckDB replay of the LEARNING loop itself (the r7 verdict's
    oracle-slot ask): ``num_merges`` chained CTE stages, each one
    computing the weighted adjacent-pair counts of the current symbol
    table, taking the (count desc, a asc, b asc) argmax, and applying
    the greedy left-to-right fold with the winning pair CROSS JOINed
    in as columns. Returns a query yielding (step, a, b) — the same
    ordered merge list ``learn_bpe``/``learn_bpe_batched`` produce
    from the (word, n) table ``counts_sql`` yields **when called with
    the same ``min_pair_count``** (ADVICE r8 item 1: the learners
    default to 2 and stop early; pass the matching threshold here —
    a stage whose best pair falls below it yields an empty m{i} CTE,
    which empties every later stage, replaying the early stop as
    missing rows). Usable for small ``num_merges`` (the SQL grows
    linearly with it); production learning stays on the distributed
    loop."""
    mpc = int(min_pair_count)
    pairs = (
        "unnest(list_transform(generate_series(1, len(syms)-1), "
        "i -> struct_pack(a := syms[i], b := syms[i+1]))) AS u(p)"
    )
    fold = (
        "list_reduce(list_concat([CAST([] AS VARCHAR[])], "
        "list_transform(syms, x -> [x])), "
        "(acc, s) -> CASE WHEN len(acc) > 0 AND acc[-1] = m.ma AND s[1] = m.mb "
        "THEN list_concat(acc[1:len(acc)-1], [m.ma || m.mb]) "
        "ELSE list_concat(acc, s) END)"
    )
    ctes = [
        f"w0 AS (SELECT list_concat(string_split(word, ''), ['{END}']) AS syms, n"
        f" FROM ({counts_sql}))"
    ]
    # threshold emitted only when > 1 so existing generated SQL (and the
    # q144 oracle text it hashes into) stays byte-identical at the default
    thresh = f"WHERE total >= {mpc} " if mpc > 1 else ""
    for i in range(1, int(num_merges) + 1):
        ctes.append(
            f"m{i} AS (SELECT p.a AS ma, p.b AS mb FROM ("
            f"SELECT u.p, sum(n) AS total FROM w{i - 1}, {pairs} GROUP BY u.p) "
            f"{thresh}"
            f"ORDER BY total DESC, p.a ASC, p.b ASC LIMIT 1)"
        )
        ctes.append(
            f"w{i} AS (SELECT {fold} AS syms, n FROM w{i - 1} CROSS JOIN m{i} m)"
        )
    sel = " UNION ALL ".join(
        f"SELECT CAST({i} AS BIGINT) AS step, ma AS a, mb AS b FROM m{i}"
        for i in range(1, int(num_merges) + 1)
    )
    return "WITH " + ",\n".join(ctes) + "\nSELECT * FROM (" + sel + ") ORDER BY step"


def bpe_tokens_sql(text_sql: str, merges: list[tuple[str, str]]) -> str:
    """DuckDB replay of ``bpe_tokens_expr`` for the same literal merge
    list: the greedy fold as chained list_reduce calls (seeded with an
    empty VARCHAR[] accumulator via the singleton-wrap trick)."""
    syms = f"list_concat(string_split(w, ''), ['{END}'])"
    for a, b in merges:
        syms = (
            "list_reduce(list_concat([CAST([] AS VARCHAR[])], "
            f"list_transform({syms}, x -> [x])), "
            f"(acc, s) -> CASE WHEN len(acc) > 0 AND acc[-1] = '{a}' "
            f"AND s[1] = '{b}' "
            f"THEN list_concat(acc[1:len(acc)-1], ['{a}{b}']) "
            "ELSE list_concat(acc, s) END)"
        )
    return (
        "flatten(list_transform(list_filter("
        f"string_split_regex(lower({text_sql}), '\\s+'), w -> w <> ''), "
        f"w -> {syms}))"
    )
