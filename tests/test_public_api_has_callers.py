"""Every public top-level function and every public method of a public
class in the engine package has a caller outside the tests, and every
option that selects behaviour is set by one, or each is on an
allowlist that says why it stays.

A caller is an AST reference from non-test code: a ``Name`` or an
``Attribute``, in the package, ``tools/``, ``perfbench/``, ``bench.py``
or ``__spark_entry__.py``. An import is not a caller: an imported name
counts only where it is used, under its ``as`` alias if it has one, so
a re-export keeps nothing alive. A decorated
function counts as called, because its decorator (``@register`` in
the suite) receives it; so does a method under any decorator but
``staticmethod`` or ``classmethod`` (a property is read, not called). Mentions in docstrings, comments or strings
do not count: a text grep finds a name wherever prose cites it, so it
over-counts callers and lets dead API live. Names are matched, not
resolved: a local variable that shares a function's name counts as a
caller.

The option gate applies the same rule one level down: a defaulted
parameter of a public function or method that selects behaviour (see
``_selecting_options``) keeps a second code path alive, so some
non-test call must pass it, by keyword or by position.
"""

from __future__ import annotations

import ast
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
PKG = ROOT / "ironman_medallion_lakehouse_spark"

# (module relative to the package, function or Class.method) -> why it
# stays without a caller
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
    ("sources/tablestore.py", "TableStore.vacuum"): (
        "Delta's VACUUM (COVERAGE S10): the only way to reclaim files a "
        "commit superseded or a failed write orphaned; restore's error "
        "names it as the retention horizon"
    ),
    ("operators/similarity.py", "IvfIndex.rebuild"): (
        "ANN recall maintenance: re-clusters an index from its own "
        "vectors once add() batches drift; no suite entry drifts an index"
    ),
    ("streaming/cdc_source.py", "ChangeFeedDataSource.streamReader"): (
        "Spark calls it: the Python data source's stream-reader factory"
    ),
    ("streaming/cdc_source.py", "ChangeFeedStreamReader.initialOffset"): (
        "Spark calls it: a DataSourceStreamReader callback"
    ),
    ("streaming/cdc_source.py", "ChangeFeedStreamReader.latestOffset"): (
        "Spark calls it: a DataSourceStreamReader callback"
    ),
    ("streaming/cdc_source.py", "ChangeFeedStreamReader.commit"): (
        "Spark calls it: a DataSourceStreamReader callback"
    ),
}

# (module, function or Class.method, parameter) -> why no caller outside
# the tests sets it
ALLOWED_UNSET_OPTIONS = {
    ("operators/cumulative.py", "partitioned_running_sum", "num_partitions"): (
        "test fixture: forces 1 to 64 range partitions on small inputs, "
        "so the per-partition offset math runs"
    ),
    ("operators/packing.py", "pack_sequences", "num_ranges"): (
        "test fixture: 1, 2, 6 or 8 range partitions on small inputs, so "
        "the cross-range offsets run and are pinned to give one answer"
    ),
    ("operators/experiment.py", "ewma_control", "lam"): (
        "test fixture: lam=0.999 reaches the O(T^2) fold branch at "
        "T=100 instead of T > 2,700"
    ),
    ("operators/multimodal.py", "encode_jpeg", "subsampling"): (
        "test fixture: the 4:2:0 arm writes the chroma-subsampled JPEGs "
        "that pin jpeg_decode's upsampling path"
    ),
    ("sources/jsonl.py", "read_jsonl_stream", "max_files_per_trigger"): (
        "test fixture: one file per micro-batch, so a test sees several "
        "batches"
    ),
    ("streaming/cdc_source.py", "stream_changes", "max_files_per_trigger"): (
        "test fixture: one file per micro-batch pins the change feed's "
        "admission control"
    ),
}


def _caller_sources() -> list[Path]:
    files = sorted(PKG.rglob("*.py"))
    for d in ("tools", "perfbench"):
        files += sorted((ROOT / d).rglob("*.py"))
    return files + [ROOT / "bench.py", ROOT / "__spark_entry__.py"]


def referenced_names(tree: ast.Module) -> set[str]:
    """Names a module references as code. A top-level function's
    references to itself (recursion) are not callers. An import is not
    a caller either: an imported name counts through its uses, and
    ``import x as y`` or ``from m import x as y`` counts ``x`` when
    ``y`` is used."""
    names: set[str] = set()
    aliases: dict[str, str] = {}

    def walk(node: ast.AST, own: str | None) -> None:
        for child in ast.iter_child_nodes(node):
            inner = own
            if isinstance(child, (ast.FunctionDef, ast.AsyncFunctionDef)) and node is tree:
                inner = child.name
            if isinstance(child, ast.Name):
                name = child.id
            elif isinstance(child, ast.Attribute):
                name = child.attr
            else:
                name = None
                if isinstance(child, ast.alias) and child.asname:
                    aliases[child.asname] = child.name.split(".")[-1]
            if name is not None and name != inner:
                names.add(name)
            walk(child, inner)

    walk(tree, None)
    return names | {real for alias, real in aliases.items() if alias in names}


def public_functions() -> set[tuple[str, str]]:
    """(module, name) of every undecorated public top-level function,
    and (module, Class.method) of every public method of a public
    top-level class that is undecorated or a static or class method."""
    out = set()
    for path in sorted(PKG.rglob("*.py")):
        mod = path.relative_to(PKG).as_posix()
        for node in ast.parse(path.read_text()).body:
            if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
                if not node.name.startswith("_") and not node.decorator_list:
                    out.add((mod, node.name))
            elif isinstance(node, ast.ClassDef) and not node.name.startswith("_"):
                out.update(
                    (mod, f"{node.name}.{f.name}")
                    for f in node.body
                    if isinstance(f, (ast.FunctionDef, ast.AsyncFunctionDef))
                    and not f.name.startswith("_")
                    and all(
                        isinstance(d, ast.Name) and d.id in ("staticmethod", "classmethod")
                        for d in f.decorator_list
                    )
                )
    return out


def uncalled_functions() -> set[tuple[str, str]]:
    called: set[str] = set()
    for path in _caller_sources():
        called |= referenced_names(ast.parse(path.read_text()))
    return {key for key in public_functions() if key[1].rsplit(".", 1)[-1] not in called}


def _selecting_options(fn: ast.FunctionDef) -> set[str]:
    """Defaulted parameters of ``fn`` that select behaviour: a bool
    default, an operand of a comparison with a literal (None
    included), or a truth test in an ``if``, ``while`` or conditional
    expression (``not x`` and ``x and y`` test each name), or an
    operand of ``and`` or ``or`` anywhere (``x or default``)."""
    a = fn.args
    pos = a.posonlyargs + a.args
    defaults = dict(zip((p.arg for p in pos[len(pos) - len(a.defaults):]), a.defaults))
    defaults.update((p.arg, d) for p, d in zip(a.kwonlyargs, a.kw_defaults) if d is not None)
    picked = {n for n, d in defaults.items() if isinstance(d, ast.Constant) and isinstance(d.value, bool)}

    def tested(test: ast.AST):
        if isinstance(test, ast.Name):
            yield test.id
        elif isinstance(test, ast.UnaryOp) and isinstance(test.op, ast.Not):
            yield from tested(test.operand)
        elif isinstance(test, ast.BoolOp):
            for v in test.values:
                yield from tested(v)

    for node in ast.walk(fn):
        if isinstance(node, ast.Compare):
            operands = [node.left, *node.comparators]
            if any(_is_literal(o) for o in operands):
                picked.update(o.id for o in operands if isinstance(o, ast.Name))
        elif isinstance(node, (ast.If, ast.IfExp, ast.While)):
            picked.update(tested(node.test))
        elif isinstance(node, ast.BoolOp):
            picked.update(tested(node))
    return picked & defaults.keys()


def _is_literal(node: ast.AST) -> bool:
    """A constant, or a tuple, list or set of constants."""
    if isinstance(node, (ast.Tuple, ast.List, ast.Set)):
        return all(isinstance(e, ast.Constant) for e in node.elts)
    return isinstance(node, ast.Constant)


def public_options() -> dict[tuple[str, str, str], int | None]:
    """(module, function or Class.method, parameter) -> the parameter's
    position in a call (None: keyword-only) for every behaviour-
    selecting option of an undecorated public top-level function or a
    public method of a public top-level class."""
    out = {}
    for path in sorted(PKG.rglob("*.py")):
        mod = path.relative_to(PKG).as_posix()
        for node in ast.parse(path.read_text()).body:
            if isinstance(node, ast.FunctionDef) and not node.decorator_list:
                fns = [(node.name, node, 0)]
            elif isinstance(node, ast.ClassDef):
                fns = [
                    (f"{node.name}.{f.name}", f, 0 if _is_static(f) else 1)
                    for f in node.body
                    if isinstance(f, ast.FunctionDef) and not f.name.startswith("_")
                ]
            else:
                continue
            if node.name.startswith("_"):
                continue
            for qual, fn, skip in fns:
                pos = [p.arg for p in fn.args.posonlyargs + fn.args.args][skip:]
                for opt in _selecting_options(fn):
                    out[(mod, qual, opt)] = pos.index(opt) if opt in pos else None
    return out


def _is_static(fn: ast.FunctionDef) -> bool:
    return any(isinstance(d, ast.Name) and d.id == "staticmethod" for d in fn.decorator_list)


def _module_dict_keys(tree: ast.Module) -> dict[str, list[str]]:
    """Module-level ``NAME = dict(k=...)`` or ``NAME = {"k": ...}``
    assignments: NAME -> the keys it holds. A dict built any other way
    (a splat or a non-constant key inside it) is left out."""
    out = {}
    for node in tree.body:
        if not (isinstance(node, ast.Assign) and len(node.targets) == 1
                and isinstance(node.targets[0], ast.Name)):
            continue
        v = node.value
        if (isinstance(v, ast.Call) and isinstance(v.func, ast.Name) and v.func.id == "dict"
                and not v.args and all(kw.arg for kw in v.keywords)):
            out[node.targets[0].id] = [kw.arg for kw in v.keywords]
        elif isinstance(v, ast.Dict) and all(
            isinstance(k, ast.Constant) and isinstance(k.value, str) for k in v.keys
        ):
            out[node.targets[0].id] = [k.value for k in v.keys]
    return out


def passed_arguments(tree: ast.Module) -> set[tuple[str, str | int]]:
    """(called name, keyword or positional index) for every argument a
    call in ``tree`` passes. A ``**NAME`` splat of a module-level dict
    literal (see ``_module_dict_keys``) passes that dict's keys; any
    other ``*args`` or ``**kwargs`` splat sets every position or
    keyword ("*" / "**"). A call inside a function of the same name
    (recursion) sets nothing."""
    out: set[tuple[str, str | int]] = set()
    dicts = _module_dict_keys(tree)

    def walk(node: ast.AST, own: str | None) -> None:
        for child in ast.iter_child_nodes(node):
            inner = child.name if isinstance(child, ast.FunctionDef) else own
            if isinstance(child, ast.Call):
                f = child.func
                name = f.id if isinstance(f, ast.Name) else getattr(f, "attr", None)
                if name is not None and name != own:
                    for i, arg in enumerate(child.args):
                        out.add((name, "*" if isinstance(arg, ast.Starred) else i))
                    for kw in child.keywords:
                        if kw.arg is not None:
                            out.add((name, kw.arg))
                        elif isinstance(kw.value, ast.Name) and kw.value.id in dicts:
                            out.update((name, k) for k in dicts[kw.value.id])
                        else:
                            out.add((name, "**"))
            walk(child, inner)

    walk(tree, None)
    return out


def unset_options() -> set[tuple[str, str, str]]:
    """The ``public_options`` no non-test call passes. Names are matched,
    not resolved, as in ``uncalled_functions``: a call to any function
    or method of the same name counts."""
    passed: set[tuple[str, str | int]] = set()
    for path in _caller_sources():
        passed |= passed_arguments(ast.parse(path.read_text()))
    unset = set()
    for (mod, qual, opt), at in public_options().items():
        name = qual.rsplit(".", 1)[-1]
        if not {(name, opt), (name, "**"), (name, at), (name, "*")} & passed:
            unset.add((mod, qual, opt))
    return unset


def test_text_mentions_are_not_callers():
    src = '''
import os.path as osp
from m import imported, reexported, orig as renamed, unused_orig as unused

def used():
    """Calls dead() in prose only."""
    # dead() in a comment
    return "dead()", helper(), obj.method, osp, imported(), renamed()

def recursive(n):
    return recursive(n - 1)
'''
    names = referenced_names(ast.parse(src))
    assert {"helper", "method", "imported", "path", "osp", "orig", "renamed"} <= names
    assert "dead" not in names
    assert "recursive" not in names
    # an import that nothing uses (a re-export) calls nothing
    assert not {"reexported", "unused_orig", "unused"} & names


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


def test_option_scan_sees_keywords_positions_and_splats():
    src = '''
def f(x, flag=False, mode="a", limit=None, *, kw=0):
    if limit is not None and mode in ("b", "c") and kw:
        return f(x, flag=True)  # recursion sets nothing
    return x

def g(x, n=3):
    return x * n
'''
    tree = ast.parse(src)
    fn, g = tree.body
    assert _selecting_options(fn) == {"flag", "mode", "limit", "kw"}
    assert _selecting_options(g) == set()
    assert passed_arguments(tree) == set()
    calls = ast.parse("f(1, mode='b')\nobj.g(1, 2)\nh(*a, **k)")
    assert passed_arguments(calls) == {
        ("f", 0), ("f", "mode"), ("g", 0), ("g", 1), ("h", "*"), ("h", "**")
    }
    # a splat of a module-level dict literal passes exactly its keys
    splats = ast.parse(
        "A = dict(mode='b', kw=1)\nB = {'flag': True}\nC = dict(A, limit=2)\n"
        "def run():\n    f(**A)\n    f(**B)\n    g(**C)\n    h(**local)"
    )
    assert passed_arguments(splats) == {
        ("f", "mode"), ("f", "kw"), ("f", "flag"), ("g", "**"), ("h", "**"), ("dict", 0),
        ("dict", "mode"), ("dict", "kw"), ("dict", "limit")
    }


def test_every_option_has_a_caller():
    missing = sorted(unset_options() - set(ALLOWED_UNSET_OPTIONS))
    assert not missing, (
        f"options no caller outside tests sets: {missing} — fix each at the "
        "value its callers use and delete the code only the other values "
        "reach, or add an ALLOWED_UNSET_OPTIONS entry that says why it stays"
    )


def test_option_allowlist_is_current():
    unset = unset_options()
    stale = sorted(k for k in ALLOWED_UNSET_OPTIONS if k not in unset)
    assert not stale, (
        f"ALLOWED_UNSET_OPTIONS entries that are gone or now set by a "
        f"caller: {stale} — delete those entries"
    )
