"""Benchmark harness: headline suite queries at $SPARK_GRAFT_SF_DIR.

Prints ONE JSON line:
  {"metric": "...", "value": <total_sec>, "unit": "sec",
   "queries": {"q01...": sec, ...}, "sf": 0.1, "detail": {...}}

Protocol (pinned in r5 — VERDICT r4 item 3: round-over-round deltas
were unreadable because each query was timed on its FIRST execution,
so the number mixed plan cost with one-time codegen/JIT compilation
and box contention):

- Each query gets its own untimed warmup execution, then
  ``SPARK_GRAFT_BENCH_RUNS`` (default 2) timed executions; the
  reported figure is the MINIMUM — the best observation is the one
  closest to the plan's intrinsic cost on a shared box.
- Every execution is forced end-to-end with the `noop` sink (full
  computation, no collect/driver transfer).
- Between queries, all persistent RDD blocks (localCheckpoint
  residue from iterative operators) are dropped and a JVM GC is
  requested, so no query's storage pressure leaks into the next.
- ``detail`` records per-query: every timed run's seconds (spread =
  contention visibility), and the final timed run's job-group metrics
  from ``perfbench.sparkstats.StatusReader`` (jobs, stages, tasks,
  executor task seconds, input/shuffle/spill MB). Task seconds divide
  out the box contention that swings wall seconds; a jump in jobs or
  stages means the PLAN changed.
"""

from __future__ import annotations

import json
import os
import re
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from ironman_medallion_lakehouse_spark import suite  # noqa: E402
from ironman_medallion_lakehouse_spark.session import get_spark  # noqa: E402
from perfbench.sparkstats import StatusReader  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
RUNS = int(os.environ.get("SPARK_GRAFT_BENCH_RUNS", "3"))  # r6: box spikes of 1.4-2.4x observed; min-of-3 recovers the intrinsic figure

# Headline set: one per heavyweight operator family (scan+agg, broadcast
# join, star join, self-join, window-over-agg, window argmax, top-k) plus
# the extension operators that define the engine's training-data surface
# (minhash-LSH dedup, cosine top-k, language ID, sessionization).
HEADLINE = [
    "q01_pricing_summary",
    "q04_star_join",
    "q05_yoy_self_join",
    "q10_window_share",
    "q11_dedup_rank",
    "q12_argmax_latest",
    "q26_formatted_topk",
    "q66_shipping_priority",
    "q83_dedup_groups",
    "q45_cosine_topk",
    "q47_text_battery",
    "q52_sessionization",
    # r5 additions (appended so the classic subset stays comparable
    # across rounds): lexical ranking + incremental crawl-batch dedup
    "q91_bm25_topk",
    "q94_incremental_dedup",
    # r6: q94's production path — corpus signatures precomputed/stored,
    # so the timed runs measure only the per-batch cost (VERDICT r5
    # item 3: the 5.9 s / 1.7×-spread q94 figure was dominated by the
    # corpus signature bootstrap production amortizes away)
    "q94b_incremental_dedup_prepared",
    # r5 continuation: cross-doc duplicate spans, PQ-ADC ANN, funnel
    "q100_dup_span_coverage",
    "q102_pq_adc_ann",
    "q104_conversion_funnel",
    # r5 third session: iterative graph, learned mixture tilt, JL sketch
    "q106_pagerank",
    "q107_dsir_importance",
    "q110_jl_projection",
    # r7: the two shapes whose data-sized serial sections were removed
    # (VERDICT r6 items 3-4) — tracked so a regression back to a
    # single-partition sort shows up as a task-count/time jump
    "q125_abc_analysis",
    "q142_ks_drift",
    # r7 continuation: q142 now times the full drift battery (exact KS
    # + PSI + the KLL sketch arm — task fingerprint reset expected);
    # q143's A/B battery is dominated by the R=32 Poisson bootstrap,
    # the one new compute-bound-linear shape worth tracking
    "q143_ab_test_battery",
    # r8: the batched BPE learner end-to-end (word-count pass + the
    # multi-merge driver rounds) — the one iterative-driver-loop shape
    # in the suite; tracks the jobs-per-merge dial's wall-clock side
    "q144_bpe_learn",
    # r9: the sequential-chart battery split out of q142 when it
    # crossed the ~5 s threshold (q142's fingerprint resets — expected)
    "q145_sequential_charts",
    # r11: the end-to-end curation pipeline (gate → near-dup → mixture
    # → chunk → pack) — the composite the package exists for; appended
    # so the prior 26-entry subset stays comparable across rounds
    "q153_curation_pipeline",
]


# Battery entries get per-arm attribution in BENCH_DETAIL (VERDICT r8
# directive 2: batteries are the designated dumping grounds, so the
# headline number must come with an arm split). Each arm frame is
# timed separately (warm + one timed run) on top of the shared
# localCheckpoint'ed bases the arm-frames builder materializes.
BATTERY_ARMS = {
    "q142_ks_drift": "_q142_arm_frames",
    "q143_ab_test_battery": "_q143_arm_frames",
    "q145_sequential_charts": "_q145_arm_frames",
}

def _run(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _drop_persistent_blocks(spark) -> None:
    """Unpersist every persistent RDD (localCheckpoint residue) and ask
    the JVM for a GC, so storage/GC pressure never crosses queries."""
    sc = spark.sparkContext
    it = sc._jsc.sc().getPersistentRDDs().iterator()
    ids = []
    while it.hasNext():
        ids.append(it.next()._1())
    for rdd_id in ids:
        sc._jsc.sc().unpersistRDD(rdd_id, True)
    spark._jvm.System.gc()


def main() -> None:
    spark = get_spark(app_name="bench")
    spark.sparkContext.setLogLevel("ERROR")
    stats = StatusReader(spark)
    qdict = suite.queries()
    names = [n for n in HEADLINE if n in qdict]
    if len(sys.argv) > 1:
        # ad-hoc subset run (same protocol); the sidecar detail file is
        # NOT overwritten so the full-suite fingerprint record survives
        unknown = [n for n in sys.argv[1:] if n not in qdict]
        if unknown:
            # a typo must not silently run a partial suite and print a
            # misleadingly small headline total (ADVICE r10)
            raise SystemExit(f"bench.py: unknown query name(s): {' '.join(unknown)}")
        names = list(sys.argv[1:])

    timings: dict[str, float] = {}
    detail: dict[str, dict] = {}
    for name in names:
        _run(qdict[name](spark, SF_DIR))  # per-query warmup (untimed)
        _drop_persistent_blocks(spark)
        runs = []
        group = ""
        for i in range(RUNS):
            group = f"{name}#r{i}"
            spark.sparkContext.setJobGroup(group, name)
            t0 = time.time()
            _run(qdict[name](spark, SF_DIR))
            runs.append(round(time.time() - t0, 3))
            spark.sparkContext.setJobGroup("", "")
            _drop_persistent_blocks(spark)
        timings[name] = min(runs)
        stats.settle()
        detail[name] = {"runs": runs, **stats.group(group)}
        if name in BATTERY_ARMS:
            import importlib

            mod = importlib.import_module(
                "ironman_medallion_lakehouse_spark.suite_analytics"
            )
            # NB: no block-dropping between arms — the arm frames hang
            # off localCheckpoint'ed bases whose lineage is truncated,
            # so unpersisting them mid-split would break the frames
            frames = getattr(mod, BATTERY_ARMS[name])(spark, SF_DIR)
            arm_s = {}
            for arm, adf in frames.items():
                _run(adf)  # warm
                arm_runs = []
                for _ in range(RUNS):  # same min-of-N protocol as
                    t0 = time.time()   # headline entries (ADVICE r9)
                    _run(adf)
                    arm_runs.append(time.time() - t0)
                arm_s[arm] = round(min(arm_runs), 3)
            detail[name]["arm_s"] = arm_s
            _drop_persistent_blocks(spark)

    m = re.search(r"sf([0-9.]+)", SF_DIR)
    sf = float(m.group(1).rstrip(".")) if m else None

    # Per-run spreads + job/stage/task fingerprints go to a SIDECAR file,
    # not the stdout JSON line: r5's inline `detail` blob grew past the
    # driver's tail capture and truncated the line's FRONT, leaving
    # BENCH_r05.json with parsed:null (VERDICT r5 item 2). The compact
    # headline line is printed LAST so a tail capture always keeps it.
    here = os.path.dirname(os.path.abspath(__file__))
    if len(sys.argv) > 1:
        # subset run: detail to stderr, keep the full-suite sidecar
        print(json.dumps({"detail": detail}, indent=1), file=sys.stderr)
    else:
        with open(os.path.join(here, "BENCH_DETAIL.json"), "w") as fh:
            json.dump(
                {
                    "sf": sf,
                    "runs_per_query": RUNS,
                    "protocol": (
                        f"per-query warmup + min of {RUNS} timed runs"
                        " (arms: same protocol)"
                    ),
                    "detail": detail,
                },
                fh,
                indent=1,
            )
    print(
        json.dumps(
            {
                "metric": "suite_headline_total",
                "value": round(sum(timings.values()), 3),
                "unit": "sec",
                "queries": timings,
                "sf": sf,
            }
        )
    )


if __name__ == "__main__":
    main()
