"""Tiny-scale self-test of the benchmark.

    python3 perfbench/selftest.py

Runs every workload BENCHMARK.json lists at a tiny scale, untraced and traced, and checks that each run reports
exactly the metrics BENCHMARK.json names, with their units, and no
failed operation. Then it corrupts the pipeline's output (the fact
build drops one row) and checks that the full load counts as a failed
operation. Takes a few minutes; exits non-zero on the first problem.
"""

from __future__ import annotations

import json
import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(1, os.path.dirname(HERE))

import run  # noqa: E402
from workloads import Scale, per_layer_metrics  # noqa: E402

from pyspark.sql import functions as F  # noqa: E402

from ironman_medallion_lakehouse_spark.plans import gold_fact  # noqa: E402

TINY = Scale(years=3, rows_per_file=40, docs=200)


def fail(msg: str) -> None:
    raise SystemExit(f"selftest: {msg}")


def contract_metrics(spec: dict) -> tuple[dict, dict]:
    e2e = {m["name"]: m["unit"] for m in spec["end_to_end"]}
    layers = {m["name"]: m["unit"] for m in spec["per_layer"]}
    if e2e != dict(run.END_TO_END):
        fail(f"BENCHMARK.json end_to_end {e2e} differs from the runner's {run.END_TO_END}")
    ours = {n: u for n, u, _b in per_layer_metrics()}
    if layers != ours:
        fail(f"BENCHMARK.json per_layer differs from the runner's: "
             f"{sorted(set(layers) ^ set(ours))}")
    return e2e, layers


def emitted(workload: str, trace: int, want: dict) -> None:
    result = run.main(["--workload", workload, "--seed", "7", "--seconds", "1",
                       "--trace", str(trace)], scale=TINY)
    got = {n: m["unit"] for n, m in result["metrics"].items()}
    if got != want:
        fail(f"{workload} --trace {trace} metrics differ: {sorted(set(got) ^ set(want))}")
    if not result["correct"] or result["failed"]:
        fail(f"{workload} --trace {trace}: {result['failed']} failed operation(s)")
    print(f"selftest: {workload} --trace {trace}: {len(got)} metrics, all checks passed",
          file=sys.stderr)


def corrupted_output_fails() -> None:
    """One fact row dropped must count as a failed operation."""
    original = gold_fact.build_fact

    def drop_one_row(*args, **kwargs):
        fact = original(*args, **kwargs)
        first = fact.agg(F.min("row_key")).collect()[0][0]
        return fact.filter(F.col("row_key") != first)

    gold_fact.build_fact = drop_one_row
    try:
        result = run.main(["--workload", "full_load", "--seed", "7", "--seconds", "1"],
                          scale=TINY)
    finally:
        gold_fact.build_fact = original
    if result["correct"] or result["failed"] != 1:
        fail(f"a dropped fact row was not caught: {result}")
    print("selftest: a dropped fact row counts as a failed operation", file=sys.stderr)


def main() -> None:
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    e2e, layers = contract_metrics(spec)
    names = [w["name"] for w in spec["workloads"]]
    if sorted(names) != sorted(run.WORKLOADS):
        fail(f"BENCHMARK.json workloads {names} differ from the runner's {sorted(run.WORKLOADS)}")
    for workload in names:
        emitted(workload, 0, e2e)
        emitted(workload, 1, layers)
    corrupted_output_fails()
    print("selftest: ok", file=sys.stderr)


if __name__ == "__main__":
    main()
