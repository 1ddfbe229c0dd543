"""Dump formatted physical plans of suite queries at sf0.1 — the
evidence that filters push down, dims broadcast, and hot paths stay in
whole-stage codegen.

Usage: python tools/dump_plans.py [OUT_DIR] [query ...]

With no arguments, regenerates PLANS.md over the bench HEADLINE
queries. Given OUT_DIR, writes one OUT_DIR/<query>.txt per query
(default: every HEADLINE query).
"""

from __future__ import annotations

import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from bench import HEADLINE  # noqa: E402
from ironman_medallion_lakehouse_spark import suite  # noqa: E402
from ironman_medallion_lakehouse_spark.session import get_spark  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

PLANS_MD_HEADER = [
    "# PLANS — headline-query physical plans (generated by tools/dump_plans.py)",
    "",
    f"Scale: `{SF_DIR}`. Things to look for: `PushedFilters` on scans,",
    "pruned `ReadSchema`, `BroadcastHashJoin` for dim joins (never",
    "SortMergeJoin in star shapes), `TakeOrderedAndProject` for top-k,",
    "partial+final `HashAggregate` pairs, and a single `Exchange` per",
    "window chain.",
    "",
]


def main() -> None:
    out_dir = sys.argv[1] if len(sys.argv) > 1 else None
    names = sys.argv[2:] or HEADLINE
    spark = get_spark(app_name="dump-plans")
    spark.sparkContext.setLogLevel("ERROR")
    qdict = suite.queries()
    plans = {}
    for name in names:
        df = qdict[name](spark, SF_DIR)
        plans[name] = df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted"
        ).rstrip()
    if out_dir is None:
        out = os.path.join(ROOT, "PLANS.md")
        lines = list(PLANS_MD_HEADER)
        for name, plan in plans.items():
            lines += [f"## {name}", "", "```", plan, "```", ""]
        with open(out, "w") as fh:
            fh.write("\n".join(lines))
        print(f"wrote {out} ({len(plans)} plans)")
        return
    os.makedirs(out_dir, exist_ok=True)
    for name, plan in plans.items():
        path = os.path.join(out_dir, f"{name}.txt")
        with open(path, "w") as fh:
            fh.write(plan + "\n")
        print(f"wrote {path}")


if __name__ == "__main__":
    main()
