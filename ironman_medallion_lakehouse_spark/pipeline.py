"""End-to-end medallion pipeline runner.

Replaces the reference's Airflow → Databricks multi-task job
(SURVEY §3 entry-point 1) with a plain Python orchestration over the
same DAG: config → bronze → silver → {dim_athletes, dim_countries,
dim_divisions} → fact → views.

Write semantics per run_mode (Readme.md:149-172):
- full: overwrite every table (reference S6);
- incremental: bronze/silver/fact insert-only merge on row_key
  (S7) — re-running the same year is a no-op (idempotent); dims SCD-1
  upsert on their natural keys (S8) so attributes refresh in place.

Watermarks. Each table's commit also records, as a TableStore txn
(Delta's SetTransaction) under ``TXN_APP_ID``, the input its layer
consumed: bronze the process year and the (path, size, mtime) of every
ingested file, silver the bronze version it read, each dim the silver
version, the fact the silver and the three dim versions. A txn holds
the input and nothing else: the bronze txn no longer stores
``duplicate_row_keys``, which is read from the commit that set it. An
incremental run skips a layer whose table already records its current
input — no plan, write or optimize runs — and a run killed after any
table's commit resumes at the next table. A full run never skips but
records every txn. Deviation from the reference: a skipped table is
not re-merged even if it was edited by hand since its txn was
recorded (Delta txn semantics; the reference would re-merge).

The audit reads what the commits logged and runs no Spark job:

- row counts and unmatched FKs are sums of the per-file footer counts
  each table's log records;
- ``duplicate_row_keys`` comes from the NULL ``athlete_name`` count of
  the files added by the bronze commit that set the current txn;
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
    views_created: list[str] = field(default_factory=list)
    silver_quality: dict[str, int] = field(default_factory=dict)
    # tables an incremental run left alone: their recorded input
    # equalled this run's
    skipped: list[str] = field(default_factory=list)


def run(spark: SparkSession, cfg: C.PipelineConfig) -> RunResult:
    cfg.validate_sources()
    store = TableStore(spark, cfg.warehouse_dir)
    incremental = cfg.run_mode == "incremental"
    year = cfg.process_year
    # Full loads compact whenever a partition has >1 file; incremental
    # runs let small files accumulate to 8 per partition first, so a
    # per-year append is O(new data) per run and the O(table) rewrite
    # amortizes 1:8 (optimize() is a no-op below the threshold).
    optimize_min_files = 2 if not incremental else 8
    result = RunResult()

    def written(table: str, consumed) -> bool:
        """Whether an incremental run finds ``table`` already written
        from ``consumed``: the layer is then skipped and listed in
        ``result.skipped``."""
        if not incremental:
            return False
        # inputs are built of lists, ints and strings, so they equal
        # their JSON round trip as the log returns it
        value = store.last_txn(table, TXN_APP_ID)
        if value is None or value["input"] != consumed:
            return False
        result.skipped.append(table)
        return True

    def txn(consumed) -> tuple[str, dict]:
        return TXN_APP_ID, {"input": consumed}

    # ---- bronze (02_bronze): ingest selected files, merge or overwrite
    bronze_in = [year, _fingerprints(cfg)]
    if not written(C.BRONZE_TABLE, bronze_in):
        bronze_df = bronze_plan.build_bronze(spark, cfg.source_dir, cfg.files_to_process)
        if incremental and store.table_exists(C.BRONZE_TABLE):
            store.merge_insert_only(
                bronze_df, C.BRONZE_TABLE, C.MERGE_KEYS, txn=txn(bronze_in)
            )
        else:
            store.save_overwrite(
                bronze_df, C.BRONZE_TABLE, partition_by=["year"], txn=txn(bronze_in)
            )
        store.optimize(C.BRONZE_TABLE, min_files=optimize_min_files)  # S10 (02:354)
    # the ingest is the commit that set bronze's txn: this run's, or,
    # for a skipped bronze, the run's that consumed the same input
    ingest = store.txn_version(C.BRONZE_TABLE, TXN_APP_ID)
    null_names = store.added_null_count(C.BRONZE_TABLE, ["athlete_name"], ingest)
    result.duplicate_row_keys = bronze_plan.duplicate_key_count(null_names["athlete_name"])

    # ---- silver (03_silver): full layer recompute over the scoped slice.
    # An incremental run that finds no silver table rebuilds it from
    # every bronze year, not just the processed one.
    merge = incremental and store.table_exists(C.SILVER_TABLE)
    silver_in = [merge, year, store.version(C.BRONZE_TABLE)]
    silver_rules = _silver_rules()
    if not written(C.SILVER_TABLE, silver_in):
        bronze_all = store.read(C.BRONZE_TABLE)
        silver_df = silver_plan.build_silver(
            bronze_all.filter(F.col("year") == year) if merge else bronze_all
        )  # P4 year filter → partition pruning
        # the quality rules ride the write: the merge counts the rows it
        # inserts, the overwrite every row
        quality = violation_counts(silver_rules)
        if merge:
            store.merge_insert_only(
                silver_df, C.SILVER_TABLE, C.MERGE_KEYS, txn=txn(silver_in), observe=quality
            )
        else:
            store.save_overwrite(
                silver_df, C.SILVER_TABLE, partition_by=["year"], txn=txn(silver_in),
                observe=quality,
            )
        store.optimize(C.SILVER_TABLE, min_files=optimize_min_files)

    # ---- gold dims (04a/04b/04c): the reference builds dims from the
    # YEAR-SCOPED silver slice (filter(year == process_year) in every
    # gold notebook — SURVEY §2.2 P4) and SCD-1-merges into the dim, so
    # an incremental run costs O(year), not O(history). Reproduced
    # exactly — including the quirk that dim_countries.athlete_count
    # reflects the latest processed year's counts after a merge.
    @functools.cache
    def silver_scope():  # read only when a dim or the fact runs
        silver = store.read(C.SILVER_TABLE)
        return silver.filter(F.col("year") == year) if incremental else silver

    build_dim = {
        C.DIM_ATHLETES: lambda: gold_dims.build_dim_athletes(silver_scope()),
        C.DIM_COUNTRIES: lambda: gold_dims.build_dim_countries(spark, silver_scope()),
        C.DIM_DIVISIONS: lambda: gold_dims.build_dim_divisions(silver_scope()),
    }
    dims_in = [year, store.version(C.SILVER_TABLE)]
    for dim in DIMS:
        if written(dim, dims_in):
            continue
        if incremental and store.table_exists(dim):
            keys, update_cols = DIM_MERGES[dim]
            store.merge_scd1(
                build_dim[dim](), dim, keys=keys, update_cols=update_cols, txn=txn(dims_in)
            )
        else:
            store.save_overwrite(build_dim[dim](), dim, txn=txn(dims_in))

    # ---- fact (04d): scoped silver joined to the *merged* dims.
    # The dims are read back through read_hinted, which sizes each
    # from its manifest's file sizes (no Spark job), so the fact
    # build's join strategy follows the dims' real size — a dim that
    # outgrows the broadcast threshold falls back to a shuffle join
    # instead of being force-broadcast (VERDICT r4 item 4).
    fact_in = dims_in + [store.version(dim) for dim in DIMS]
    if not written(C.FACT_RESULTS, fact_in):
        fact = gold_fact.build_fact(
            silver_scope(),
            store.read_hinted(C.DIM_ATHLETES),
            store.read_hinted(C.DIM_DIVISIONS),
            store.read_hinted(C.DIM_COUNTRIES),
            explicit_broadcast=False,
        )
        if incremental and store.table_exists(C.FACT_RESULTS):
            store.merge_insert_only(fact, C.FACT_RESULTS, C.MERGE_KEYS, txn=txn(fact_in))
        else:
            store.save_overwrite(
                fact, C.FACT_RESULTS, partition_by=["year"], txn=txn(fact_in)
            )
        store.optimize(C.FACT_RESULTS, min_files=optimize_min_files)

    # ---- serving layer (05): register tables + the 13 views
    tables = store.register_views(*ALL_TABLES)
    result.views_created = views.create_views(spark)

    # The audit, from the tables' logs: no Spark job. Row counts and
    # unmatched FKs (a NULL key is an FK the dim join did not resolve)
    # are sums of the per-file footer counts recorded at commit;
    # fk_audit scans the fact only when a footer records no null
    # count. Silver quality is the running totals of the counts its
    # writes observed; check() scans silver only when the log holds
    # no totals for these rules.
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
                "views": result.views_created,
                "skipped": result.skipped,
            }
        )
    )
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
