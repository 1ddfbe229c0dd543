"""Pipeline configuration — replaces the reference's widget/JSON plumbing.

The reference passes a JSON config document between notebook tasks via
dbutils (01_config.ipynb:329-355, :516, :537). We use a plain dataclass
with the same validated fields and the same semantics:

- run_mode: "full" (overwrite everything) or "incremental" (one year,
  idempotent merge) — validation raises exactly as 01_config.ipynb:126-128.
- process_year: the single year an incremental run touches.
- MERGE_KEYS: the insert-only merge key of bronze, silver and fact
  (row_key) — 01_config dict contents.
"""

from __future__ import annotations

import os
from collections import Counter
from dataclasses import dataclass, field

VALID_RUN_MODES = ("full", "incremental")

# table names in the 3-level-namespace style of the reference
# (ironman.bronze.* → flattened to db.table since we run on the
# session catalog; register_views exposes db_table for SQL).
BRONZE_TABLE = "bronze.ironman_results"
SILVER_TABLE = "silver.ironman_results"
DIM_ATHLETES = "gold.dim_athletes"
DIM_COUNTRIES = "gold.dim_countries"
DIM_DIVISIONS = "gold.dim_divisions"
FACT_RESULTS = "gold.fact_race_results"
MERGE_KEYS = ["row_key"]


@dataclass
class FileSpec:
    """One landing CSV: year=<y>/<filename> with its gender tag
    (01_config.ipynb:264-296 FILES_CONFIG entries)."""

    year: int
    gender: str  # 'M' | 'F'
    filename: str

    def path(self, source_dir: str) -> str:
        return os.path.join(source_dir, f"year={self.year}", self.filename)


@dataclass
class PipelineConfig:
    source_dir: str
    warehouse_dir: str
    run_mode: str = "full"
    process_year: int | None = None
    files: list[FileSpec] = field(default_factory=list)

    def __post_init__(self) -> None:
        if self.run_mode not in VALID_RUN_MODES:
            raise ValueError(
                f"Invalid run_mode: {self.run_mode}. Must be one of {VALID_RUN_MODES}"
            )
        if self.run_mode == "incremental" and self.process_year is None:
            raise ValueError("process_year is required for incremental runs")

    @property
    def files_to_process(self) -> list[FileSpec]:
        """Driver-side input pruning (01_config.ipynb:292-296): an
        incremental run reads only the selected year's files."""
        if self.run_mode == "incremental":
            return [f for f in self.files if f.year == self.process_year]
        return self.files

    def validate_sources(self) -> None:
        """Source-file existence probe — raise on missing landing files
        (01_config.ipynb:432-444) — and ValueError on a landing file
        listed more than once, which bronze would ingest twice."""
        paths = [f.path(self.source_dir) for f in self.files_to_process]
        missing = [p for p in paths if not os.path.exists(p)]
        if missing:
            raise FileNotFoundError(f"Missing source files: {missing}")
        times = Counter(os.path.abspath(p) for p in paths)
        repeated = sorted({p for p in paths if times[os.path.abspath(p)] > 1})
        if repeated:
            raise ValueError(f"Source files listed more than once: {repeated}")
