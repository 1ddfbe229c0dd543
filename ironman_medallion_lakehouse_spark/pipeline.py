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

Bronze/silver/fact are partitioned by ``year``: the reference prunes
input files by hand in driver code (01_config.ipynb:292-296); here the
same year-scoping becomes real Catalyst partition pruning on every
downstream ``filter(year = Y)``.
"""

from __future__ import annotations

import os
from dataclasses import dataclass, field

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from ironman_medallion_lakehouse_spark import config as C
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


@dataclass
class RunResult:
    bronze_rows: int = 0
    silver_rows: int = 0
    fact_rows: int = 0
    duplicate_row_keys: int = 0
    unmatched_fks: dict[str, int] = field(default_factory=dict)
    views_created: list[str] = field(default_factory=list)
    silver_quality: dict[str, int] = field(default_factory=dict)


def run(spark: SparkSession, cfg: C.PipelineConfig) -> RunResult:
    cfg.validate_sources()
    store = TableStore(spark, cfg.warehouse_dir)
    incremental = cfg.run_mode == "incremental"
    # Full loads compact whenever a partition has >1 file; incremental
    # runs let small files accumulate to 8 per partition first, so a
    # per-year append is O(new data) per run and the O(table) rewrite
    # amortizes 1:8 (optimize() is a no-op below the threshold).
    optimize_min_files = 2 if not incremental else 8
    result = RunResult()

    # ---- bronze (02_bronze): ingest selected files, merge or overwrite
    bronze_df = bronze_plan.build_bronze(spark, cfg.source_dir, cfg.files_to_process)
    result.duplicate_row_keys = bronze_plan.duplicate_key_count(bronze_df)
    if incremental and store.table_exists(C.BRONZE_TABLE):
        store.merge_insert_only(bronze_df, C.BRONZE_TABLE, C.MERGE_KEYS)
    else:
        store.save_overwrite(bronze_df, C.BRONZE_TABLE, partition_by=["year"])
    store.optimize(C.BRONZE_TABLE, min_files=optimize_min_files)  # S10 (02:354)

    # ---- silver (03_silver): full layer recompute over the scoped slice.
    # An incremental run that finds no silver table rebuilds it from
    # every bronze year, not just the processed one.
    bronze_all = store.read(C.BRONZE_TABLE)
    merge = incremental and store.table_exists(C.SILVER_TABLE)
    silver_df = silver_plan.build_silver(
        bronze_all.filter(F.col("year") == cfg.process_year) if merge else bronze_all
    )  # P4 year filter → partition pruning
    if merge:
        store.merge_insert_only(silver_df, C.SILVER_TABLE, C.MERGE_KEYS)
    else:
        store.save_overwrite(silver_df, C.SILVER_TABLE, partition_by=["year"])
    store.optimize(C.SILVER_TABLE, min_files=optimize_min_files)

    # ---- gold dims (04a/04b/04c): the reference builds dims from the
    # YEAR-SCOPED silver slice (filter(year == process_year) in every
    # gold notebook — SURVEY §2.2 P4) and SCD-1-merges into the dim, so
    # an incremental run costs O(year), not O(history). Reproduced
    # exactly — including the quirk that dim_countries.athlete_count
    # reflects the latest processed year's counts after a merge.
    silver_all = store.read(C.SILVER_TABLE)
    silver_scope = (
        silver_all.filter(F.col("year") == cfg.process_year) if incremental else silver_all
    )
    dim_athletes = gold_dims.build_dim_athletes(silver_scope)
    dim_countries = gold_dims.build_dim_countries(spark, silver_scope)
    dim_divisions = gold_dims.build_dim_divisions(silver_scope)
    if incremental and store.table_exists(C.DIM_ATHLETES):
        store.merge_scd1(
            dim_athletes,
            C.DIM_ATHLETES,
            keys=["athlete_natural_key"],
            update_cols=["athlete_name", "first_name", "last_name", "country", "updated_at"],
        )
        store.merge_scd1(
            dim_countries,
            C.DIM_COUNTRIES,
            keys=["country"],
            update_cols=["country_name", "continent", "athlete_count", "updated_at"],
        )
        store.merge_scd1(
            dim_divisions,
            C.DIM_DIVISIONS,
            keys=["division"],
            update_cols=[
                "division_description",
                "gender",
                "is_professional",
                "age_group_start",
                "age_group_end",
                "updated_at",
            ],
        )
    else:
        store.save_overwrite(dim_athletes, C.DIM_ATHLETES)
        store.save_overwrite(dim_countries, C.DIM_COUNTRIES)
        store.save_overwrite(dim_divisions, C.DIM_DIVISIONS)

    # ---- fact (04d): scoped silver joined to the *merged* dims.
    # The dims are read back through read_hinted, which sizes each
    # from its manifest's file sizes (no Spark job), so the fact
    # build's join strategy follows the dims' real size — a dim that
    # outgrows the broadcast threshold falls back to a shuffle join
    # instead of being force-broadcast (VERDICT r4 item 4).
    fact = gold_fact.build_fact(
        silver_scope,
        store.read_hinted(C.DIM_ATHLETES),
        store.read_hinted(C.DIM_DIVISIONS),
        store.read_hinted(C.DIM_COUNTRIES),
        explicit_broadcast=False,
    )
    if incremental and store.table_exists(C.FACT_RESULTS):
        store.merge_insert_only(fact, C.FACT_RESULTS, C.MERGE_KEYS)
    else:
        store.save_overwrite(fact, C.FACT_RESULTS, partition_by=["year"])
    store.optimize(C.FACT_RESULTS, min_files=optimize_min_files)

    # ---- serving layer (05): register tables + the 13 views
    store.register_views(*ALL_TABLES)
    result.views_created = views.create_views(spark)

    # row counts from the tables' logs: per-file footer counts, no jobs
    result.bronze_rows = store.row_count(C.BRONZE_TABLE)
    result.silver_rows = store.row_count(C.SILVER_TABLE)
    result.fact_rows = store.row_count(C.FACT_RESULTS)
    result.unmatched_fks = gold_fact.fk_audit(store.read(C.FACT_RESULTS))
    result.silver_quality = _silver_quality(store.read(C.SILVER_TABLE))
    return result


def _silver_quality(silver_df) -> dict[str, int]:
    """The reference's silver audits (SURVEY §5.1 null audits, flag
    counts, 03_silver.ipynb:367-486, and the derived-value
    reconciliation of :520-528 — finishers whose segment sum differs
    from finish_time by more than 60 s) as ONE fused quality pass
    instead of one count() action per check."""
    from ironman_medallion_lakehouse_spark.operators.quality import Expectation, check

    finisher = F.col("is_finisher") == True  # noqa: E712
    report = check(
        silver_df,
        [
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
        ],
    )
    return dict(report.violations)


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
            }
        )
    )
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
