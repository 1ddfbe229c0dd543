"""A/B the medallion benchmark: a git ref against the working tree.

Usage: python tools/ab_perfbench.py WORKLOAD PAIRS [REF] [FIRST_SEED]

Checks REF (default ``HEAD~1``) out into a temporary ``git worktree``
and runs ``perfbench/run.py --workload WORKLOAD --seed <i> --seconds 1
--trace 0`` on REF and on the working tree, one pair per seed
i = FIRST_SEED..FIRST_SEED + PAIRS - 1 (FIRST_SEED default 1), so a
claim can be rerun on seeds it was not developed on. The side that
runs first alternates from pair to pair, so a drift in the machine's
speed does not favour either side. Prints every run, then for each
end-to-end metric (lower is better) each side's median and quartiles,
the number of pairs the working tree won and a verdict: a gain when
the tree wins at least 9 in 10 pairs and its median is below the
ref's by more than the ref's interquartile range. Then the failed
operations of each side. The worktree is removed at the end.
"""

from __future__ import annotations

import json
import math
import os
import shutil
import statistics
import subprocess
import sys
import tempfile

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
METRICS = ("op_ms", "setup_s")


def run_once(checkout: str, workload: str, seed: int) -> dict:
    """One benchmark process in ``checkout``; its final JSON line."""
    out = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload,
         "--seed", str(seed), "--seconds", "1", "--trace", "0"],
        cwd=checkout, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True, check=True,
    ).stdout
    return json.loads(out.strip().splitlines()[-1])


def quartiles(values: list[float]) -> tuple[float, float, float]:
    return tuple(statistics.quantiles(values, n=4)) if len(values) > 1 else tuple(values * 3)


def summary(values: list[float]) -> str:
    q1, med, q3 = quartiles(values)
    return f"median {med:.3f}  q1 {q1:.3f}  q3 {q3:.3f}  iqr {q3 - q1:.3f}"


def verdict(ref_v: list[float], tree_v: list[float]) -> str:
    """The pairs the tree won, and whether that is a gain: the tree
    wins ≥ 9/10 of the pairs and its median is below the ref's by more
    than the ref's IQR."""
    wins = sum(t < r for r, t in zip(ref_v, tree_v))
    need = math.ceil(0.9 * len(ref_v))
    q1, ref_med, q3 = quartiles(ref_v)
    gap = ref_med - statistics.median(tree_v)
    ok = wins >= need and gap > q3 - q1
    return (f"tree wins {wins}/{len(ref_v)} (need {need}), "
            f"median gap {gap:.3f} (tree {-gap / ref_med:+.1%}) vs ref iqr {q3 - q1:.3f}: "
            f"{'GAIN' if ok else 'no gain'}")


def main(argv: list[str]) -> int:
    if len(argv) not in (2, 3, 4):
        print(__doc__.split("\n\n")[1], file=sys.stderr)
        return 2
    workload, pairs = argv[0], int(argv[1])
    ref = argv[2] if len(argv) >= 3 else "HEAD~1"
    first_seed = int(argv[3]) if len(argv) == 4 else 1
    base = tempfile.mkdtemp(prefix="ab-perfbench-")
    worktree = os.path.join(base, "ref")
    subprocess.run(["git", "worktree", "add", "--detach", worktree, ref],
                   cwd=ROOT, check=True, stdout=subprocess.DEVNULL)
    sides = {"ref": worktree, "tree": ROOT}
    runs: dict[str, list[dict]] = {"ref": [], "tree": []}
    try:
        for i in range(pairs):
            order = ("ref", "tree") if i % 2 == 0 else ("tree", "ref")
            seed = first_seed + i
            for side in order:
                res = run_once(sides[side], workload, seed=seed)
                runs[side].append(res)
                vals = "  ".join(f"{m} {res['metrics'][m]['value']:.3f}" for m in METRICS)
                print(f"pair {i + 1} seed {seed} {side:4s}  {vals}  "
                      f"failed {res['failed']}/{res['attempted']}", flush=True)
    finally:
        subprocess.run(["git", "worktree", "remove", "--force", worktree],
                       cwd=ROOT, check=False, stdout=subprocess.DEVNULL)
        shutil.rmtree(base, ignore_errors=True)
    print(f"\n{workload}: {ref} (ref) vs working tree (tree), {pairs} pairs, "
          f"seeds {first_seed}-{first_seed + pairs - 1}")
    for m in METRICS:
        ref_v = [r["metrics"][m]["value"] for r in runs["ref"]]
        tree_v = [r["metrics"][m]["value"] for r in runs["tree"]]
        print(f"{m}:\n  ref   {summary(ref_v)}\n  tree  {summary(tree_v)}\n"
              f"  {verdict(ref_v, tree_v)}")
    for side in ("ref", "tree"):
        failed = sum(r["failed"] for r in runs[side])
        attempted = sum(r["attempted"] for r in runs[side])
        print(f"{side} failed operations: {failed}/{attempted}")
    return 0


if __name__ == "__main__":
    raise SystemExit(main(sys.argv[1:]))
