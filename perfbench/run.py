"""Medallion lakehouse benchmark.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Runs one workload (see workloads.py and README.md) in a fresh Spark
application on every local core: set-up, then checked operations in a
closed loop until ``--seconds`` have passed (and at least the
workload's minimum number of operations has run). The last line of
standard output is one JSON object::

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

holding the end-to-end metrics, or with ``--trace 1`` the per-layer
metrics of traced operations. The line before it is a JSON report: the
workload's own figures by name (``full_load_s``, ``append_year_s``,
``noop_rerun_s``, ``curate_s`` ...), ``error_rate``,
the input sizes and the environment. Every file the run writes stays under ``.perfbench/``
at the repository root; traced spans are kept in ``.perfbench/spans``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import tempfile
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(1, ROOT)

from sparkstats import StatusReader, environment, start_spark, stop_spark  # noqa: E402
from workloads import WORKLOADS, Context, Scale, per_layer_metrics  # noqa: E402

END_TO_END = [("setup_s", "s"), ("op_ms", "ms")]
JAVA_TOOL_OPTIONS = os.environ.get("JAVA_TOOL_OPTIONS")


def _positive(text: str) -> int:
    value = int(text)
    if value < 1:
        raise argparse.ArgumentTypeError("must be at least 1")
    return value


def parse_args(argv=None) -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=_positive, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def measure(workload, ctx: Context, seconds: int, trace: bool):
    """The closed loop: operations back to back until ``seconds`` have
    passed and the workload's minimum has run. A workload that times
    its process's first (cold) operation runs that one only."""
    passed, failed, attempted = [], [], 0
    max_ops = 1 if workload.cold_first else None
    t0 = time.perf_counter()
    while attempted < workload.min_ops or time.perf_counter() - t0 < seconds:
        if attempted == max_ops:
            break
        attempted += 1
        try:
            sample = workload.run(ctx, attempted - 1, trace)
        except Exception:  # a failed operation is counted, and the loop goes on
            failed.append(None)
            traceback.print_exc(file=sys.stderr)
            continue
        for error in sample.errors:
            print(f"{workload.name} operation {attempted - 1}: {error}", file=sys.stderr)
        (failed if sample.errors else passed).append(sample)
    return passed, failed, attempted


def main(argv=None, scale: Scale | None = None) -> dict:
    started = time.perf_counter()
    args = parse_args(argv)
    workload = WORKLOADS[args.workload]()
    base = os.path.join(ROOT, ".perfbench")
    work = os.path.join(base, f"run-{args.workload}-{args.seed}-{os.getpid()}")
    spans_dir = os.path.join(base, "spans")
    for d in (work, spans_dir):
        os.makedirs(d, exist_ok=True)
    # Spark, JVM and Python scratch space stays inside the run's
    # directory; no JVM writes its perf-data file to the system temp dir
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tempfile.tempdir = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["JAVA_TOOL_OPTIONS"] = " ".join(filter(None, (
        JAVA_TOOL_OPTIONS, f"-Djava.io.tmpdir={tmp}", "-XX:-UsePerfData")))
    cpus = len(os.sched_getaffinity(0))

    spark = start_spark(work, cpus)
    try:
        ctx = Context(spark, StatusReader(spark), work, args.seed, scale or Scale(), spans_dir)
        workload.setup(ctx)
        setup_s = time.perf_counter() - started
        passed, failed, attempted = measure(
            workload, ctx, args.seconds, bool(args.trace))
        env = environment(spark, ROOT)
    finally:
        stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)
    # figures come from operations that passed their checks; when none
    # did, from those that ran to the end but failed them
    samples = passed or [s for s in failed if s is not None]
    if not samples:
        raise SystemExit(f"{args.workload}: every operation raised")

    med = statistics.median
    if args.trace:
        values = {name: med(s.layers.get(name, 0.0) for s in samples)
                  for name, _u, _b in per_layer_metrics()}
        units = {name: unit for name, unit, _b in per_layer_metrics()}
    else:
        values = {
            "setup_s": setup_s,
            "op_ms": 1000 * med(s.seconds for s in samples),
        }
        units = dict(END_TO_END)

    report = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "environment": env, "inputs": ctx.inputs,
        "setup_s": setup_s, "operations": attempted,
        # with --trace 1 these include tracing; against an untraced run
        # of the same seed they give traced minus untraced end to end
        "op_ms_samples": [1000 * s.seconds for s in samples],
        "executor_task_s": med(s.task_s for s in samples),
        "error_rate": len(failed) / attempted,
        **workload.report(samples),
    }
    if args.trace:
        report["spans_dir"] = os.path.relpath(spans_dir, ROOT)
    result = {
        "correct": not failed, "attempted": attempted, "failed": len(failed),
        "metrics": {n: {"value": v, "unit": units[n]} for n, v in values.items()},
    }
    print(json.dumps({"report": report}))
    print(json.dumps(result), flush=True)
    return result


if __name__ == "__main__":
    main()
