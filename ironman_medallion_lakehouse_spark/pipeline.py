"""End-to-end medallion pipeline runner.

Replaces the reference's Airflow → Databricks multi-task job
(SURVEY §3 entry-point 1) with a plain Python orchestration over the
same DAG: config → bronze → silver → {dim_athletes, dim_countries,
dim_divisions} → fact → views.

Steps. ``run`` declares the six tables as an ordered list of steps
``(table, consumed, build)`` in ``ALL_TABLES`` order, which is the
DAG's topological order, and runs them serially through one loop.
``consumed()`` is evaluated just before its step, since the upstream
versions it names move during the run; ``build()`` looks its plan
function up when it runs. The loop skips a step whose table already
records that input, and otherwise builds the table and writes it
through the one write routine, whose policy follows from the table
and the run_mode (Readme.md:149-172):

- full: overwrite every table (reference S6);
- incremental: bronze/silver/fact insert-only merge on row_key
  (S7) — re-running the same year is a no-op (idempotent); dims SCD-1
  upsert on their natural keys (``DIM_MERGES``, S8) so attributes
  refresh in place. A table that does not exist yet is overwritten.
- bronze/silver/fact are partitioned by ``year`` and compacted after
  the write (S10); the dims are unpartitioned and never compacted.
  Silver's write also counts the quality rules (``observe=``).

Watermarks. Each table's commit also records, as a TableStore txn
(Delta's SetTransaction) under ``TXN_APP_ID``, the input its step
consumed: bronze the process year and the (path, size, mtime) of every
ingested file, silver the bronze version it read, each dim the silver
version, the fact the silver and the three dim versions. A txn holds
the input and nothing else: the bronze txn no longer stores
``duplicate_row_keys``, which is read from the commit that set it. An
incremental run skips a step whose table already records its current
input — no plan, write or optimize runs, and the table is listed in
``RunResult.skipped`` — and a run killed after any table's commit
resumes at the next table. A full run never skips but records every
txn. Deviation from the reference: a skipped table is not re-merged
even if it was edited by hand since its txn was recorded (Delta txn
semantics; the reference would re-merge).

The audit is one block after the views are created. It reads what the
commits logged and runs no Spark job:

- ``duplicate_row_keys`` comes from the NULL ``athlete_name`` count of
  the files added by the bronze commit that set the current txn;
- row counts and unmatched FKs are sums of the per-file footer counts
  each table's log records;
- the silver quality rules (``_silver_rules``) are counted while silver
  is written, as an ``Observation`` (TableStore's ``observe=``), and
  silver's log keeps their running totals; only when it holds none
  (a table another writer changed) does the audit scan silver.

So rerunning a year with unchanged input runs no Spark job at all: the
dashboard views are created only when the session lacks them.

Bronze/silver/fact are partitioned by ``year``: the reference prunes
input files by hand in driver code (01_config.ipynb:292-296); here the
same year-scoping becomes real Catalyst partition pruning on every
downstream ``filter(year = Y)``.
"""

from __future__ import annotations

import functools
import os
from dataclasses import dataclass, field

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from ironman_medallion_lakehouse_spark import config as C
from ironman_medallion_lakehouse_spark.operators.quality import (
    Expectation,
    check,
    violation_counts,
)
from ironman_medallion_lakehouse_spark.plans import bronze as bronze_plan
from ironman_medallion_lakehouse_spark.plans import gold_dims, gold_fact, views
from ironman_medallion_lakehouse_spark.plans import silver as silver_plan
from ironman_medallion_lakehouse_spark.sources.tablestore import TableStore

ALL_TABLES = [
    C.BRONZE_TABLE,
    C.SILVER_TABLE,
    C.DIM_ATHLETES,
    C.DIM_COUNTRIES,
    C.DIM_DIVISIONS,
    C.FACT_RESULTS,
]
DIMS = [C.DIM_ATHLETES, C.DIM_COUNTRIES, C.DIM_DIVISIONS]

# the app_id under which every layer records the input it consumed
# (TableStore txn, Delta's SetTransaction)
TXN_APP_ID = "medallion-pipeline"

# the fact's foreign keys, by the name the FK audit reports them under
FK_COLUMNS = {"athlete_key": "athletes", "division_key": "divisions", "country_key": "countries"}

# each dim's SCD-1 merge: (natural key, columns a match updates)
DIM_MERGES = {
    C.DIM_ATHLETES: (
        ["athlete_natural_key"],
        ["athlete_name", "first_name", "last_name", "country", "updated_at"],
    ),
    C.DIM_COUNTRIES: (
        ["country"],
        ["country_name", "continent", "athlete_count", "updated_at"],
    ),
    C.DIM_DIVISIONS: (
        ["division"],
        [
            "division_description",
            "gender",
            "is_professional",
            "age_group_start",
            "age_group_end",
            "updated_at",
        ],
    ),
}


@dataclass
class RunResult:
    bronze_rows: int = 0
    silver_rows: int = 0
    fact_rows: int = 0
    duplicate_row_keys: int = 0
    unmatched_fks: dict[str, int] = field(default_factory=dict)
    silver_quality: dict[str, int] = field(default_factory=dict)
    # tables an incremental run left alone: their recorded input
    # equalled this run's
    skipped: list[str] = field(default_factory=list)


def run(spark: SparkSession, cfg: C.PipelineConfig) -> RunResult:
    cfg.validate_sources()
    store = TableStore(spark, cfg.warehouse_dir)
    incremental = cfg.run_mode == "incremental"
    year = cfg.process_year
    silver_rules = _silver_rules()
    result = RunResult()

    def merges(table: str) -> bool:
        """Whether this run merges into ``table`` rather than
        overwriting it."""
        return incremental and store.table_exists(table)

    def build_silver():
        # 03_silver: full layer recompute over the scoped slice. An
        # incremental run that finds no silver table rebuilds it from
        # every bronze year, not just the processed one.
        bronze = store.read(C.BRONZE_TABLE)
        return silver_plan.build_silver(
            bronze.filter(F.col("year") == year) if merges(C.SILVER_TABLE) else bronze
        )  # P4 year filter → partition pruning

    # gold (04a-04d): the reference builds dims and fact from the
    # YEAR-SCOPED silver slice (filter(year == process_year) in every
    # gold notebook — SURVEY §2.2 P4) and SCD-1-merges into the dim, so
    # an incremental run costs O(year), not O(history). Reproduced
    # exactly — including the quirk that dim_countries.athlete_count
    # reflects the latest processed year's counts after a merge.
    @functools.cache
    def silver_scope():  # read only when a dim or the fact runs
        silver = store.read(C.SILVER_TABLE)
        return silver.filter(F.col("year") == year) if incremental else silver

    def dims_in() -> list:
        return [year, store.version(C.SILVER_TABLE)]

    # (table, the input it consumes, its plan), in ALL_TABLES order,
    # which is the DAG's topological order. Each plan function is looked
    # up when the step runs, not bound here. The fact reads the *merged*
    # dims through read_hinted, which sizes each from its manifest's
    # file sizes (no Spark job), so the join strategy follows the dims'
    # real size: a dim that outgrows the broadcast threshold falls back
    # to a shuffle join instead of being force-broadcast.
    steps = [
        (C.BRONZE_TABLE, lambda: [year, _fingerprints(cfg)],
         lambda: bronze_plan.build_bronze(spark, cfg.source_dir, cfg.files_to_process)),
        (C.SILVER_TABLE, lambda: [merges(C.SILVER_TABLE), year, store.version(C.BRONZE_TABLE)],
         build_silver),
        (C.DIM_ATHLETES, dims_in, lambda: gold_dims.build_dim_athletes(silver_scope())),
        (C.DIM_COUNTRIES, dims_in, lambda: gold_dims.build_dim_countries(spark, silver_scope())),
        (C.DIM_DIVISIONS, dims_in, lambda: gold_dims.build_dim_divisions(silver_scope())),
        (C.FACT_RESULTS, lambda: dims_in() + [store.version(dim) for dim in DIMS],
         lambda: gold_fact.build_fact(
             silver_scope(),
             store.read_hinted(C.DIM_ATHLETES),
             store.read_hinted(C.DIM_DIVISIONS),
             store.read_hinted(C.DIM_COUNTRIES),
             explicit_broadcast=False,
         )),
    ]
    for table, consumed, build in steps:
        # evaluated now: upstream versions move during the run
        value = consumed()
        # inputs are built of lists, ints and strings, so they equal
        # their JSON round trip as the log returns it
        if incremental and (store.last_txn(table, TXN_APP_ID) or {}).get("input") == value:
            result.skipped.append(table)
            continue
        df = build()
        txn = (TXN_APP_ID, {"input": value})
        # the quality rules ride silver's write: the merge counts the
        # rows it inserts, the overwrite every row
        observe = violation_counts(silver_rules) if table == C.SILVER_TABLE else None
        dim = table in DIM_MERGES
        if not merges(table):
            store.save_overwrite(
                df, table, partition_by=None if dim else ["year"], txn=txn, observe=observe
            )
        elif dim:
            keys, update_cols = DIM_MERGES[table]
            store.merge_scd1(df, table, keys=keys, update_cols=update_cols, txn=txn)
        else:
            store.merge_insert_only(df, table, C.MERGE_KEYS, txn=txn, observe=observe)
        if not dim:
            # S10 (02:354). Full loads compact whenever a partition has
            # >1 file; incremental runs let small files accumulate to 8
            # per partition first, so a per-year append is O(new data)
            # and the O(table) rewrite amortizes 1:8 (optimize() is a
            # no-op below the threshold).
            store.optimize(table, min_files=8 if incremental else 2)

    # ---- serving layer (05): register tables + the 15 views
    tables = store.register_views(*ALL_TABLES)
    views.create_views(spark)

    # The audit, from the tables' logs: no Spark job. The ingest is the
    # commit that set bronze's txn: this run's, or, for a skipped
    # bronze, the run's that consumed the same input. Row counts and
    # unmatched FKs (a NULL key is an FK the dim join did not resolve)
    # are sums of the per-file footer counts recorded at commit;
    # fk_audit scans the fact only when a footer records no null
    # count. Silver quality is the running totals of the counts its
    # writes observed; check() scans silver only when the log holds
    # no totals for these rules.
    ingest = store.txn_version(C.BRONZE_TABLE, TXN_APP_ID)
    null_names = store.added_null_count(C.BRONZE_TABLE, ["athlete_name"], ingest)
    result.duplicate_row_keys = bronze_plan.duplicate_key_count(null_names["athlete_name"])
    result.bronze_rows = store.row_count(C.BRONZE_TABLE)
    result.silver_rows = store.row_count(C.SILVER_TABLE)
    result.fact_rows = store.row_count(C.FACT_RESULTS)
    nulls = store.null_count(C.FACT_RESULTS, list(FK_COLUMNS))
    result.unmatched_fks = (
        {audit: nulls[col] for col, audit in FK_COLUMNS.items()}
        if nulls is not None
        else gold_fact.fk_audit(tables[C.FACT_RESULTS])
    )
    totals = store.observed_totals(C.SILVER_TABLE)
    names = [e.name for e in silver_rules]
    result.silver_quality = (
        {n: totals[n] for n in names}
        if totals.keys() == set(names)
        else dict(check(tables[C.SILVER_TABLE], silver_rules).violations)
    )
    return result


def _fingerprints(cfg: C.PipelineConfig) -> list[list]:
    """(absolute path, size, mtime_ns) of each file the run ingests,
    sorted: what bronze records as consumed, so editing or replacing a
    landing file makes the next incremental run ingest again."""
    out = []
    for f in cfg.files_to_process:
        path = os.path.abspath(f.path(cfg.source_dir))
        st = os.stat(path)
        out.append([path, st.st_size, st.st_mtime_ns])
    return sorted(out)


def _silver_rules() -> list[Expectation]:
    """The reference's silver audits (SURVEY §5.1 null audits, flag
    counts, 03_silver.ipynb:367-486, and the derived-value
    reconciliation of :520-528 — finishers whose segment sum differs
    from finish_time by more than 60 s): counted while silver is
    written (``violation_counts``), not by one count() action per
    check. Built per run: a Column needs an active session."""
    finisher = F.col("is_finisher") == True  # noqa: E712
    return [
        Expectation.satisfies("finisher_has_rank", ~finisher | F.col("rank").isNotNull()),
        Expectation.satisfies(
            "finisher_has_finish_time", ~finisher | F.col("finish_time_seconds").isNotNull()
        ),
        Expectation.satisfies("flagged_rows", ~F.col("has_data_issue")),
        Expectation.satisfies(
            "finish_time_matches_segments",
            ~finisher
            | (F.abs(F.col("finish_time_seconds") - F.col("calculated_total_seconds")) <= 60),
        ),
        Expectation.in_set("source_gender", ["M", "F"]),
        Expectation.non_null("row_key"),
    ]


def _discover_files(source_dir: str) -> list[C.FileSpec]:
    """Build FileSpecs from a year=<y>/ landing layout; gender inferred
    from 'women'/'men' in the filename (the reference's naming)."""
    import glob
    import re

    specs = []
    for path in sorted(glob.glob(os.path.join(source_dir, "year=*", "*.csv"))):
        year = int(re.search(r"year=(\d+)", path).group(1))
        name = os.path.basename(path)
        gender = "F" if "women" in name.lower() else "M"
        specs.append(C.FileSpec(year=year, gender=gender, filename=name))
    return specs


def main(argv: list[str] | None = None) -> int:
    """CLI: python -m ironman_medallion_lakehouse_spark.pipeline
    --source-dir landing/ --warehouse wh/ [--run-mode incremental
    --process-year 2025]"""
    import argparse
    import json

    from ironman_medallion_lakehouse_spark.session import get_spark

    p = argparse.ArgumentParser(description="Run the medallion pipeline")
    p.add_argument("--source-dir", required=True)
    p.add_argument("--warehouse", required=True)
    p.add_argument("--run-mode", choices=["full", "incremental"], default="full")
    p.add_argument("--process-year", type=int, default=None)
    args = p.parse_args(argv)

    spark = get_spark(app_name="medallion-pipeline")
    cfg = C.PipelineConfig(
        source_dir=args.source_dir,
        warehouse_dir=args.warehouse,
        run_mode=args.run_mode,
        process_year=args.process_year,
        files=_discover_files(args.source_dir),
    )
    result = run(spark, cfg)
    print(
        json.dumps(
            {
                "bronze_rows": result.bronze_rows,
                "silver_rows": result.silver_rows,
                "fact_rows": result.fact_rows,
                "duplicate_row_keys": result.duplicate_row_keys,
                "unmatched_fks": result.unmatched_fks,
                "silver_quality": result.silver_quality,
                "views": list(views.VIEW_SQL),
                "skipped": result.skipped,
            }
        )
    )
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
