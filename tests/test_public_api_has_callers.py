"""Every public top-level function in the engine package has a caller
outside the tests, or is on an allowlist that says why it stays.

A caller is an AST reference from non-test code: a ``Name``, an
``Attribute`` or an import alias, in the package, ``tools/``,
``perfbench/``, ``bench.py`` or ``__spark_entry__.py``. A decorated
function counts as called, because its decorator (``@register`` in
the suite) receives it. Mentions in docstrings, comments or strings
do not count: a text grep finds a name wherever prose cites it, so it
over-counts callers and lets dead API live. Names are matched, not
resolved: a local variable that shares a function's name counts as a
caller.
"""

from __future__ import annotations

import ast
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
PKG = ROOT / "ironman_medallion_lakehouse_spark"

# (module relative to the package, function) -> why it stays without
# a caller
ALLOWED_WITHOUT_CALLER = {
    ("sources/jdbc.py", "jdbc_land_to_bronze"): (
        "only implementation of SURVEY §2.1 S12 (JDBC extract landed as "
        "bronze)"
    ),
    ("operators/graph.py", "dedup_groups_from_pairs"): (
        "test reference: near_dedup_groups is checked against it"
    ),
    ("operators/experiment.py", "quantile_treatment_effects"): (
        "test reference: qte_from_value_counts (q143) is checked against it"
    ),
    ("operators/experiment.py", "winsorized_welch_t"): (
        "test reference: pinned against a numpy replay and plain Welch"
    ),
    ("operators/experiment.py", "mann_whitney_u"): (
        "test reference: hand-computed ranks and its plan are pinned"
    ),
    ("operators/vocab.py", "learn_bpe"): (
        "test reference: corpus-learned BPE on the Sennrich example"
    ),
    ("operators/vocab.py", "word_counts"): (
        "test reference: the word-count input of learn_bpe"
    ),
    ("operators/vocab.py", "apply_bpe"): (
        "test reference: distributed tokenizer, merge and word order pinned"
    ),
    ("operators/similarity.py", "sq8_encode"): (
        "test reference: its codes are checked beside sq8_recon_stats (q108)"
    ),
    ("sources/jsonl.py", "read_jsonl"): (
        "test reference: the batch reader read_jsonl_stream must match"
    ),
    ("suite.py", "q03_dim_lookup_join"): "plan-regression fixture",
    ("suite.py", "q13_topk"): "plan-regression fixture",
    ("suite_more.py", "q67_regional_volume"): "plan-regression fixture",
    ("suite_more.py", "q68_moving_average"): "plan-regression fixture",
}


def _caller_sources() -> list[Path]:
    files = sorted(PKG.rglob("*.py"))
    for d in ("tools", "perfbench"):
        files += sorted((ROOT / d).rglob("*.py"))
    return files + [ROOT / "bench.py", ROOT / "__spark_entry__.py"]


def referenced_names(tree: ast.Module) -> set[str]:
    """Names a module references as code. A top-level function's
    references to itself (recursion) are not callers."""
    names: set[str] = set()

    def walk(node: ast.AST, own: str | None) -> None:
        for child in ast.iter_child_nodes(node):
            inner = own
            if isinstance(child, (ast.FunctionDef, ast.AsyncFunctionDef)) and node is tree:
                inner = child.name
            if isinstance(child, ast.Name):
                name = child.id
            elif isinstance(child, ast.Attribute):
                name = child.attr
            elif isinstance(child, ast.alias):
                name = child.name.split(".")[-1]
            else:
                name = None
            if name is not None and name != inner:
                names.add(name)
            walk(child, inner)

    walk(tree, None)
    return names


def public_functions() -> set[tuple[str, str]]:
    """(module, name) of every undecorated public top-level function."""
    out = set()
    for path in sorted(PKG.rglob("*.py")):
        for node in ast.parse(path.read_text()).body:
            if (
                isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef))
                and not node.name.startswith("_")
                and not node.decorator_list
            ):
                out.add((path.relative_to(PKG).as_posix(), node.name))
    return out


def uncalled_functions() -> set[tuple[str, str]]:
    called: set[str] = set()
    for path in _caller_sources():
        called |= referenced_names(ast.parse(path.read_text()))
    return {key for key in public_functions() if key[1] not in called}


def test_text_mentions_are_not_callers():
    src = '''
import os.path as osp
from m import imported

def used():
    """Calls dead() in prose only."""
    # dead() in a comment
    return "dead()", helper(), obj.method, osp

def recursive(n):
    return recursive(n - 1)
'''
    names = referenced_names(ast.parse(src))
    assert {"helper", "method", "imported", "path", "osp"} <= names
    assert "dead" not in names
    assert "recursive" not in names


def test_every_public_function_has_a_caller():
    missing = sorted(uncalled_functions() - set(ALLOWED_WITHOUT_CALLER))
    assert not missing, (
        f"public functions with no caller outside tests: {missing} — delete "
        "them (and the tests that only check them), or add an "
        "ALLOWED_WITHOUT_CALLER entry that says why they stay"
    )


def test_allowlist_is_current():
    uncalled = uncalled_functions()
    stale = sorted(k for k in ALLOWED_WITHOUT_CALLER if k not in uncalled)
    assert not stale, (
        f"ALLOWED_WITHOUT_CALLER entries that are gone or now have a "
        f"caller: {stale} — delete those entries"
    )
