"""r12 round-discipline guard: every F.round in the operator modules
is a CLASSIFIED decision, so a new boundary-reachable final round (the
q98/sf0.001 class that split engines in r11) cannot land silently.

The repo rule (NOTES_r12, refined from the r11 audit the hard way via
the q129 grouped-OLS empirical failure):

  A final ROUND is REMOVABLE iff every input of the post-absorption
  final expression is EXACTLY double-representable (integer counts
  < 2^53; decimal sums whose SCALED magnitude < 2^53) and the
  expression is +,-,*,/ plus correctly-rounded sqrt, with operation
  order mirrored exactly in the oracle. Otherwise the ROUND is
  LOAD-BEARING (it absorbs libm, wide-decimal cast noise, or
  association-order differences) and must stay.

This test walks the operators/ AST and compares the per-function
F.round census against the allowlist below. Each entry carries its
classification so the next editor inherits the reasoning:

  KEEP       — load-bearing, do not remove (reason given);
  NO-OP      — numerically inert on the data contract (<= round's own
               precision), kept to avoid staling churn;
  R13-REMOVE — classified removable under the rule, scheduled for the
               r13 window (removing it stales the module's entries,
               which the r12 window could not absorb — NOTES_r12
               item 5/7);
  R13-AUDIT  — final-expression provenance not yet pinned; audit
               before touching.

Adding a NEW F.round to any operators/ function fails this test until
the site is classified here — classify it under the rule first (if
removable, don't add it at all).
"""

from __future__ import annotations

import ast
from pathlib import Path

PKG = Path(__file__).resolve().parent.parent / "ironman_medallion_lakehouse_spark"

# (module, function) -> (expected F.round call count, classification)
ALLOWED = {
    # ---------------------------------------------------- experiment.py
    ("operators/experiment.py", "grouped_ols"): (
        3,
        "KEEP: scaled moment decimals exceed the double mantissa; the "
        "decimal->double cast is engine-specific and n*Sxx-(Sx)^2 "
        "amplifies it ~400 ulp (measured r12)",
    ),
    ("operators/experiment.py", "welch_t_test"): (
        2,
        "KEEP: t/dof fed by mantissa-overflowing Sx^2 casts",
    ),
    ("operators/experiment.py", "winsorized_welch_from_value_counts"): (
        4,
        "NO-OP (cuts, <=4dp values) + KEEP (t/dof, wide Sx^2 casts)",
    ),
    ("operators/experiment.py", "qte_from_value_counts"): (
        3,
        "NO-OP on <=4dp metrics; absorber for full-entropy ones",
    ),
    ("operators/experiment.py", "poisson_bootstrap_mean_diff"): (
        4,
        "NO-OP (diff, DECIMAL(12,6)) + KEEP (se/ci, Sd^2 overflows "
        "the mantissa)",
    ),
    ("operators/experiment.py", "msprt_normal"): (
        2,
        "KEEP: ln/exp libm + se2 from wide Sx^2 casts",
    ),
    ("operators/experiment.py", "delta_method_ratio_test"): (
        3,
        "KEEP: z/ci fed by mantissa-overflowing Su^2/Sw^2/Suw casts",
    ),
    ("operators/experiment.py", "ks_two_sample_kll"): (
        1,
        "NO-OP-adjacent: grid denominators (101) cannot terminate in "
        "binary, boundary unreachable",
    ),
    ("operators/experiment.py", "cusum_changepoint"): (
        1,
        "KEEP: engines associate windowed running sums differently",
    ),
    ("operators/experiment.py", "ewma_control"): (
        1,
        "KEEP: oracle replays EWMA in pow() closed form vs our fold; "
        "pow is libm",
    ),
    # ------------------------------------------------------ ranking.py
    ("operators/ranking.py", "bm25_topk"): (
        1,
        "KEEP: idf is ln() libm",
    ),
    # --------------------------------------------------- similarity.py
    ("operators/similarity.py", "embedding_mean_drift"): (
        2,
        "KEEP: sqrt of borderline-mantissa DECIMAL(28,12) sums (the "
        "q142 emb-arm analogy)",
    ),
    ("operators/similarity.py", "sq8_encode"): (
        1,
        "KEEP: semantic quantization round (integral codes), not a "
        "display round",
    ),
    ("operators/similarity.py", "sq8_recon_stats"): (
        4,
        "KEEP all 4 (2 semantic quantization, scale_r full-entropy, "
        "mean_abs_err RECLASSIFIED KEEP by the r13 measurement: its "
        "err-term DECIMAL(18,9) absorb consumes dyadic-derived values "
        "- the tie class that split jl_project at sf0.1 - so the "
        "final round is the mask; SCALING.md r13 section)",
    ),
    ("operators/similarity.py", "jl_project"): (
        1,
        "KEEP (r13 AUDIT resolved by MEASUREMENT, not analysis: the "
        "per-term CAST(x*s AS DECIMAL(18,9)) ties on odd multiples "
        "of 2^-10 present in the embeddings - 2 of 128k values at "
        "sf0.1, Spark HALF_UP vs DuckDB HALF_EVEN splits d_j by 1e-9 "
        "- and the final round-6 masks it; "
        "tools/probe_similarity_rounds.py)",
    ),
    # feature_hash_vectors: round REMOVED r14 (pre-gated bit-exact at
    # 3 SFs by tools/probe_similarity_rounds.py r13 — integer sums ->
    # sqrt -> one IEEE divide, no decimal absorb anywhere upstream).
}


def _count_f_rounds(node: ast.AST) -> int:
    n = 0
    for child in ast.walk(node):
        if (
            isinstance(child, ast.Call)
            and isinstance(child.func, ast.Attribute)
            and child.func.attr == "round"
            and isinstance(child.func.value, ast.Name)
            and child.func.value.id == "F"
        ):
            n += 1
    return n


def _census() -> dict[tuple[str, str], int]:
    seen: dict[tuple[str, str], int] = {}
    for path in sorted((PKG / "operators").glob("*.py")):
        tree = ast.parse(path.read_text())
        rel = f"operators/{path.name}"
        # attribute sites to their enclosing top-level function
        # (matches how entries call them); everything OUTSIDE a
        # top-level def — module-level statements, class bodies —
        # lands under "<module>" so it cannot hide from the census
        # (ADVICE r12)
        module_level = 0
        for node in tree.body:
            if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
                n = _count_f_rounds(node)
                if n:
                    seen[(rel, node.name)] = n
            else:
                module_level += _count_f_rounds(node)
        if module_level:
            seen[(rel, "<module>")] = module_level
    return seen


# ---------------------------------------------------------------------------
# Suite-file census (ADVICE r12): the operator AST walk cannot see the
# DuckDB oracle SQL, where a boundary-reachable final ROUND can land
# just as silently. Counts are REGEX totals per file — the SQL
# `round(` occurrences inside oracle strings (CASE-INSENSITIVE since
# r14, ADVICE r13: DuckDB SQL is case-insensitive, so a lowercase
# `round(` would otherwise evade the census — exactly the blind spot
# that hid q77 from the r12 sweep) and the Spark-side `F.round(`
# calls — against a classified expected count. Changing either count
# fails this test until the new site is classified under the
# NOTES_r12 rule (removable => don't round; load-bearing => keep and
# bump the count with a reason).
#
# Classification of the current totals (r14 state, post q77 removal):
#   suite.py           3 SQL / 3 F.round — q05 growth, q07 finished_
#     rate, q10 share_pct: SHAPE-PARITY with the reference dashboard
#     ROUND(x*100/n, 1|2) contract (shared boundary risk accepted,
#     NOTES_r12 item 5).
#   suite_analytics.py 31 SQL / 5 F.round — q106 pagerank round-8
#     (iterative damped sums: association-order, KEEP),
#     q124-area revenue round-4s (4dp-decimal no-ops),
#     q129 OLS (KEEP: wide-decimal cast noise, measured ~400 ulp),
#     q142 cosine/norm_ratio (sqrt of borderline-mantissa sums),
#     CUSUM/EWMA (association-order), q143 battery t/z/CI/p (wide
#     Sx^2 casts + libm), QTE percentile-label constructor (semantic).
#   suite_extensions.py 0 / 0 — clean after the r13 q146/q151 removal.
#   suite_more.py      2 SQL / 2 F.round — q125 revenue round-4
#     (no-op), q132 median round-4 (avg of two 2dp values, no-op). The q77
#     price/total share round was REMOVED r14 on both sides
#     (pre-gated bit-exact at 3 SFs, tools/probe_similarity_rounds
#     .py r13).
#   suite_training.py  9 SQL / 1 F.round — BM25 score round-4 x3
#     (idf is ln libm; mirrors ranking.bm25_topk's KEEP), sq8
#     scale_r/mean_abs_err + jl proj_j (mirror the similarity.py
#     KEEP sites), q137 priority round x2 (absorbs last-ulp ln
#     wobble at |p|~1e3), PLUS the 2 lowercase sq8 quantization
#     `round(x/scale*127)` sites the case-insensitive r14 census now
#     sees (KEEP: semantic quantization mirroring sq8_encode, not
#     display rounds). The q116 f_j round was REMOVED r14 with its
#     operator twin.
#   suite_views.py     7 SQL / 7 F.round — the reference's own
#     dashboard ROUND contract (parity-bound, as plans/views.py).
#   plans/views.py     38 SQL — the 15 reference view bodies
#     (verbatim output contract).
SUITE_ROUND_ALLOWED = {
    # file (relative to the package) ->
    #   (SQL round( count — case-insensitive, F.round( count)
    "suite.py": (3, 3),
    "suite_analytics.py": (31, 5),
    "suite_extensions.py": (0, 0),
    "suite_more.py": (2, 2),
    "suite_training.py": (9, 1),
    "suite_views.py": (7, 7),
    "plans/views.py": (38, 0),
}


def test_suite_round_census_matches_classification():
    import re

    for rel, (want_sql, want_f) in SUITE_ROUND_ALLOWED.items():
        text = (PKG / rel).read_text()
        got_f = text.count("F.round(")
        # case-insensitive (ADVICE r13): `F.round(` also matches the
        # \bround( pattern (the '.' is a word boundary), so subtract it
        got_sql = len(re.findall(r"(?i)\bround\(", text)) - got_f
        assert (got_sql, got_f) == (want_sql, want_f), (
            f"{rel}: round(/F.round( census drifted — got "
            f"({got_sql}, {got_f}), classified ({want_sql}, {want_f}); "
            "classify the new/removed site under the NOTES_r12 rule "
            "and update SUITE_ROUND_ALLOWED with the reason"
        )


def test_suite_census_covers_every_suite_file():
    """A NEW suite_*.py module must join the census (else its oracle
    ROUNDs are invisible again)."""
    present = {p.name for p in PKG.glob("suite*.py")}
    tracked = {f for f in SUITE_ROUND_ALLOWED if "/" not in f}
    assert present == tracked, (present - tracked, tracked - present)


def test_every_operator_round_is_classified():
    census = _census()
    allowed_counts = {k: v[0] for k, v in ALLOWED.items()}
    new = {k: n for k, n in census.items() if k not in allowed_counts}
    assert not new, (
        f"UNCLASSIFIED F.round site(s) {sorted(new)} — classify under the "
        "NOTES_r12 rule (removable => don't round; load-bearing => add "
        "an ALLOWED entry with the reason)"
    )
    drifted = {
        k: (n, allowed_counts[k]) for k, n in census.items()
        if n != allowed_counts[k]
    }
    assert not drifted, (
        f"F.round count drift {drifted} (actual, expected) — a site was "
        "added or removed; re-classify and update ALLOWED"
    )
    gone = sorted(k for k in allowed_counts if k not in census)
    assert not gone, (
        f"ALLOWED entries with no remaining site: {gone} — rounds were "
        "removed (good); delete their ALLOWED rows"
    )


def test_no_pending_removal_tags():
    """r14 landed the last two scheduled removals (feature_hash_vectors
    operator+oracle, q77 share round both sides — both pre-gated
    bit-exact at 3 SFs by tools/probe_similarity_rounds.py r13). Every
    remaining classified site is KEEP or NO-OP by measurement; a new
    deferred-removal tag (R15-REMOVE etc.) must carry its window
    arithmetic in the tag text, and this assert goes back to counting
    it."""
    pending = [
        k for k, v in ALLOWED.items() if "-REMOVE" in v[1] or "-AUDIT" in v[1]
    ]
    assert not pending, pending
