"""Versioned parquet table store — the Delta-semantics layer, pure Spark.

The reference depends on Delta Lake for four behaviors (SURVEY §2.1
S6-S10): full overwrite, MERGE insert-only, MERGE SCD-1 upsert, and
OPTIMIZE file compaction. delta-spark is not available in this
environment, so this module provides those semantics with a compact
manifest-log design (the same idea as Delta's `_delta_log`, re-derived
from the public protocol description):

Layout per table::

    <root>/<db>/<table>/
        _log/00000001.json             # delta: {"version","schema","partition_by","add","remove","num_records","null_counts"[,"txn"][,"metrics"]}
        _log/00000010.checkpoint.json  # full snapshot every CHECKPOINT_EVERY commits
        data/                          # immutable parquet files, shared partition dirs
            year=2023/<writeid>-part-....parquet

- A *version* is the file set obtained by replaying delta entries on
  top of the nearest checkpoint — each commit writes O(changed files),
  not O(table); readers replay a bounded suffix. Writers never mutate
  existing files.
- Commits are atomic put-if-absent (os.link; on an object store this
  would be a conditional PUT, exactly as Delta does) — concurrent
  writers cannot silently lose a commit.
- Every data-writing verb is one pass through three shared steps:
  **one scan** (``_read_file_subset``: recorded schema, ``basePath``),
  **one file planner** (``_plan_files``) returning (touched, untouched)
  files, and **one rewrite-and-commit** (``_rewrite``): write the
  verb's new rows, carry untouched files and their counts forward
  byte-identical, commit version prev + 1. The planner runs up to
  two phases, each narrowing the touched set:
    1. *partition prune* — keep files whose hive partition values are
       wanted: the merges (``merge_insert_only``, ``merge_scd1``,
       ``merge_scd2``) when partition ⊆ keys, with the source's
       distinct partition values; ``read_partitions``. Wanted values
       are Spark's own ``cast(v AS STRING)`` strings, the form its
       writer puts in the path, compared with the decoded path
       segments; nothing re-renders a value in Python;
    2. *discovery scan* — keep files holding a row that satisfies a
       predicate (one ``input_file_name()`` job): ``delete_where``.
  Insert-only merge appends: every existing file is carried forward, so
  it is O(new data), not O(table). SCD-1/SCD-2 merges rewrite the
  touched partitions (all files, for an unpartitioned table);
  ``delete_where`` rewrites only files with a matching row;
  ``save_overwrite`` and ``optimize`` carry nothing forward. A rewrite
  that adds no row, carries every file and keeps schema, layout and
  txns commits nothing.
- Every added file's footer row count and per-column null counts are
  logged with it, so ``row_count`` and ``null_count`` count without a
  Spark job.
- A writer may record what it consumed in the same atomic commit as
  its data: ``txn=(app_id, value)`` on the write verbs, Delta's
  ``SetTransaction``. Every later commit carries the table's txns
  forward, and ``last_txn`` reads them back from the log without a
  Spark job, so a rerun can tell that its input was already written.
- A writer may also have named row counts observed while its rows are
  written: ``observe={name: count aggregate}`` on ``save_overwrite``
  and ``merge_insert_only`` rides the write job as an ``Observation``
  (no extra scan). The log keeps their running totals for the whole
  table (``Manifest.metrics``, Delta's ``commitInfo.operationMetrics``
  summed): an overwrite sets them, an insert-only merge adds its
  inserted rows' counts, ``optimize`` carries them, ``restore`` copies
  the restored version's, and any other write that changes rows, or
  observes under other names, clears them. ``observed_totals`` reads
  them without a Spark job.
- Old versions remain readable (time travel) until `vacuum()`.

Reference behaviors reproduced: 02_bronze.ipynb:300-318 (insert-only),
04a_gold_dim_athletes.ipynb:309-328 (SCD-1), 02_bronze.ipynb:354
(OPTIMIZE), 02_bronze.ipynb:279 / spark.catalog.tableExists gating.
"""

from __future__ import annotations

import json
import os
import re
import shutil
import uuid
from dataclasses import dataclass, field
from urllib.parse import unquote, urlparse

from py4j.protocol import Py4JJavaError
from pyspark.errors import PySparkException
from pyspark.sql import Column, DataFrame, Observation, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

_LOG_RE = re.compile(r"^(\d{8})\.json$")
_CKPT_RE = re.compile(r"^(\d{8})\.checkpoint\.json$")

# Every Nth commit also writes a full-snapshot checkpoint; readers
# replay at most N-1 delta entries on top of the nearest checkpoint.
CHECKPOINT_EVERY = 10

# the duplicate-key failure a merge's write job raises (_unique_keys)
_DUPLICATE_KEYS = "merge source has duplicate rows per key"
_MERGE_SEMANTICS = "(Delta MERGE semantics)"

class ConcurrentCommitError(RuntimeError):
    """Another writer committed the same table version first."""


# --------------------------------------------------------------------------
# Log replay as module-level pure functions (no SparkSession): shared by
# TableStore and by the change-feed streaming source, whose planner runs
# on the driver without a store instance and whose readers run on
# executors.
def log_versions(log_dir: str) -> list[int]:
    if not os.path.isdir(log_dir):
        return []
    return sorted(
        int(m.group(1)) for f in os.listdir(log_dir) if (m := _LOG_RE.match(f))
    )


def checkpoint_versions(log_dir: str) -> list[int]:
    if not os.path.isdir(log_dir):
        return []
    return sorted(
        int(m.group(1)) for f in os.listdir(log_dir) if (m := _CKPT_RE.match(f))
    )


def manifest_at(log_dir: str, version: int) -> "Manifest | None":
    """Replay delta entries on top of the nearest checkpoint ≤ version."""
    if version not in set(log_versions(log_dir)):
        return None
    ckpts = [v for v in checkpoint_versions(log_dir) if v <= version]
    files: list[str] = []
    num_records: dict[str, int] = {}
    null_counts: dict[str, dict[str, int]] = {}
    txns: dict[str, object] = {}
    metrics: dict[str, int] = {}
    schema_json, partition_by = "", []
    start = 0
    if ckpts:
        with open(os.path.join(log_dir, f"{ckpts[-1]:08d}.checkpoint.json")) as fh:
            snap = Manifest.from_json(fh.read())
        files = list(snap.files)
        num_records, null_counts = dict(snap.num_records), dict(snap.null_counts)
        txns, metrics = dict(snap.txns), dict(snap.metrics)
        schema_json, partition_by = snap.schema_json, snap.partition_by
        start = snap.version
    for v in range(start + 1, version + 1):
        with open(os.path.join(log_dir, f"{v:08d}.json")) as fh:
            d = json.loads(fh.read())
        schema_json = d["schema"]
        partition_by = d["partition_by"]
        removed = set(d.get("remove", []))
        files = [f for f in files if f not in removed] + d.get("add", [])
        for f in removed:
            num_records.pop(f, None)
            null_counts.pop(f, None)
        num_records.update(d.get("num_records", {}))
        null_counts.update(d.get("null_counts", {}))
        txns = d.get("txn", txns)
        metrics = d.get("metrics", metrics)
    return Manifest(
        version=version,
        schema_json=schema_json,
        partition_by=partition_by,
        files=files,
        num_records=num_records,
        null_counts=null_counts,
        txns=txns,
        metrics=metrics,
    )


def partition_values(
    rel_path: str, partition_by: list[str]
) -> list[tuple[str, str | None]]:
    """(column, value) for each of ``partition_by``, decoded from the
    hive-style directory segments (``col=raw/``) of a data file's
    relative path: Spark's percent-escaping is undone and
    __HIVE_DEFAULT_PARTITION__ maps to None. The one path decoder,
    shared by the file planner and the change-feed streaming source."""
    values: dict[str, str | None] = {}
    for seg in rel_path.split(os.sep)[:-1]:
        col, eq, raw = seg.partition("=")
        if eq and col in partition_by:
            values[col] = None if raw == "__HIVE_DEFAULT_PARTITION__" else unquote(raw)
    return [(c, values.get(c)) for c in partition_by]


def version_changes(
    log_dir: str, start: int, end: int
) -> list[tuple[int, list[str], list[str]]]:
    """(version, partition_by, added_files) for each committed version
    in (start, end] — ONE pass over the delta entries instead of a
    full manifest_at replay per version (r2 ADVICE: a stream catching
    up over a large commit range paid O(backlog × replay) metadata
    reads). Delta entries carry partition_by and the added-file list
    directly."""
    out: list[tuple[int, list[str], list[str]]] = []
    for v in range(start + 1, end + 1):
        path = os.path.join(log_dir, f"{v:08d}.json")
        if not os.path.exists(path):
            continue
        with open(path) as fh:
            d = json.loads(fh.read())
        out.append((v, d.get("partition_by", []), list(d.get("add", []))))
    return out


def _footer_null_counts(md) -> dict[str, int]:
    """Null count of each top-level primitive column of a parquet
    file, summed over its row groups from ``md`` (its footer
    metadata). A column with a row group that records no null count is
    left out; so are nested columns, whose leaves do not count their
    parent's nulls."""
    out: dict[str, int] = {}
    unknown: set[str] = set()
    for rg in range(md.num_row_groups):
        rgm = md.row_group(rg)
        for ci in range(rgm.num_columns):
            col = rgm.column(ci)
            name = col.path_in_schema
            if "." in name:
                continue
            st = col.statistics
            if st is None or not st.has_null_count:
                unknown.add(name)
            else:
                out[name] = out.get(name, 0) + st.null_count
    return {c: n for c, n in out.items() if c not in unknown}


@dataclass
class Manifest:
    version: int
    schema_json: str
    partition_by: list[str]
    files: list[str] = field(default_factory=list)  # paths relative to data/
    # per-file footer row count (Delta's numRecords): path → rows; a
    # file written by an older log has none (see TableStore.row_count)
    num_records: dict[str, int] = field(default_factory=dict)
    # per-file footer null count of each top-level column (Delta's
    # stats.nullCount): path → {col: nulls}; a file or column without
    # one is counted from the footer (see TableStore.null_count)
    null_counts: dict[str, dict[str, int]] = field(default_factory=dict)
    # app_id → the JSON value its writer last committed (Delta's
    # SetTransaction); see TableStore.last_txn
    txns: dict[str, object] = field(default_factory=dict)
    # running totals of the counts writers observed (see _rewrite):
    # name → rows; empty when the table has none
    metrics: dict[str, int] = field(default_factory=dict)

    @property
    def schema(self) -> StructType:
        return StructType.fromJson(json.loads(self.schema_json))

    def to_json(self) -> str:
        return json.dumps(
            {
                "version": self.version,
                "schema": self.schema_json,
                "partition_by": self.partition_by,
                "files": self.files,
                "num_records": self.num_records,
                "null_counts": self.null_counts,
                "txns": self.txns,
                "metrics": self.metrics,
            },
            indent=None,
        )

    @staticmethod
    def from_json(s: str) -> "Manifest":
        d = json.loads(s)
        return Manifest(
            version=d["version"],
            schema_json=d["schema"],
            partition_by=d["partition_by"],
            files=d["files"],
            num_records=d.get("num_records", {}),
            null_counts=d.get("null_counts", {}),
            txns=d.get("txns", {}),
            metrics=d.get("metrics", {}),
        )


class TableStore:
    """A warehouse of versioned parquet tables under a root directory."""

    def __init__(self, spark: SparkSession, root: str):
        self.spark = spark
        self.root = os.path.abspath(root)
        os.makedirs(self.root, exist_ok=True)

    # ------------------------------------------------------------------ paths
    def _table_dir(self, name: str) -> str:
        db, _, table = name.rpartition(".")
        return os.path.join(self.root, db or "default", table)

    def _log_dir(self, name: str) -> str:
        return os.path.join(self._table_dir(name), "_log")

    def _data_dir(self, name: str) -> str:
        return os.path.join(self._table_dir(name), "data")

    # ------------------------------------------------------------ manifest io
    #
    # The log is CHUNKED (Delta-protocol style, re-derived from the
    # public description): each commit writes a small delta entry
    # {add, remove, counts-of-added} — O(changed files), NOT O(table) —
    # and every CHECKPOINT_EVERY-th commit also writes a full-snapshot
    # checkpoint so readers replay a bounded suffix. At 100 TB with
    # millions of live files, per-commit cost stays proportional to the
    # change; the O(table) snapshot amortizes 1:N (r1 VERDICT item 10).
    def _log_versions(self, name: str) -> list[int]:
        return log_versions(self._log_dir(name))

    def _checkpoint_versions(self, name: str) -> list[int]:
        return checkpoint_versions(self._log_dir(name))

    def _latest_manifest(self, name: str) -> Manifest | None:
        versions = self._log_versions(name)
        if not versions:
            return None
        return self._manifest_at(name, versions[-1])

    def _manifest_at(self, name: str, version: int) -> Manifest | None:
        return manifest_at(self._log_dir(name), version)

    def _commit(self, name: str, manifest: Manifest, prev: Manifest | None) -> None:
        """Commit the target state as a DELTA entry (diff vs the
        previous version), put-if-absent: os.link refuses to replace an
        existing entry, so two writers that both read version N cannot
        both commit N+1 — the loser gets ConcurrentCommitError instead
        of silently clobbering (on an object store this is the
        conditional PUT Delta uses). Every CHECKPOINT_EVERY-th version
        additionally writes a full-snapshot checkpoint.

        Callers pass the previous Manifest they already hold (``prev``,
        None for a new table), so the commit doesn't replay the log a
        second time — at one commit per streaming micro-batch the
        duplicate checkpoint+delta reads are the dominant metadata
        cost.

        The entry holds the table's whole txn map under ``"txn"``, and
        its observed totals under ``"metrics"``, each only when it
        differs from prev's; replay takes the latest of each it meets."""
        log_dir = self._log_dir(name)
        os.makedirs(log_dir, exist_ok=True)
        prev_files = set(prev.files) if prev else set()
        new_files = set(manifest.files)
        add = [f for f in manifest.files if f not in prev_files]
        remove = sorted(prev_files - new_files)
        entry = {
            "version": manifest.version,
            "schema": manifest.schema_json,
            "partition_by": manifest.partition_by,
            "add": add,
            "remove": remove,
            "num_records": {
                f: manifest.num_records[f] for f in add if f in manifest.num_records
            },
            "null_counts": {
                f: manifest.null_counts[f] for f in add if f in manifest.null_counts
            },
        }
        if manifest.txns != (prev.txns if prev else {}):
            entry["txn"] = manifest.txns
        if manifest.metrics != (prev.metrics if prev else {}):
            entry["metrics"] = manifest.metrics
        tmp = os.path.join(log_dir, f".tmp-{uuid.uuid4().hex}")
        with open(tmp, "w") as fh:
            fh.write(json.dumps(entry))
        final = os.path.join(log_dir, f"{manifest.version:08d}.json")
        try:
            os.link(tmp, final)
        except FileExistsError as e:
            raise ConcurrentCommitError(
                f"version {manifest.version} of {name} was committed by another "
                f"writer; re-read the table and retry the operation"
            ) from e
        finally:
            os.remove(tmp)
        if manifest.version % CHECKPOINT_EVERY == 0:
            ckpt = os.path.join(log_dir, f".tmp-{uuid.uuid4().hex}")
            with open(ckpt, "w") as fh:
                fh.write(manifest.to_json())
            os.rename(
                ckpt, os.path.join(log_dir, f"{manifest.version:08d}.checkpoint.json")
            )

    # -------------------------------------------------------------- file io
    def _write_files(
        self, df: DataFrame, name: str, partition_by: list[str], distribute: bool = True
    ) -> list[str]:
        """Write df as immutable parquet files into data/, return relative paths.

        Spark writes to a staging dir; files are then renamed into the
        shared partition layout with a unique write-id prefix (renames
        are metadata-only — no data copy). The staging dir is removed
        whether or not the write job succeeds: a job that fails (e.g. a
        merge's duplicate-key check) leaves nothing behind.

        ``distribute`` (default on, Delta's optimizeWrite analogue):
        partitioned writes REBALANCE-hint on the partition columns
        first, so each hive partition is written by as few tasks as its
        size needs — without it a T-task upstream writing P partitions
        emits up to T×P small files at cluster scale. Applied HERE so
        every write path (overwrite, both merges, streaming ingest)
        shares it; ``optimize``, which has already arranged the
        distribution, passes False.
        """
        data_dir = self._data_dir(name)
        os.makedirs(data_dir, exist_ok=True)
        write_id = uuid.uuid4().hex[:12]
        staging = os.path.join(self._table_dir(name), f"_staging-{write_id}")
        if partition_by and distribute:
            df = df.hint("rebalance", *partition_by)
        writer = df.write.mode("overwrite")
        if partition_by:
            writer = writer.partitionBy(*partition_by)
        rel_paths: list[str] = []
        try:
            writer.parquet(staging)
            for dirpath, _dirnames, filenames in os.walk(staging):
                for fn in filenames:
                    if not fn.endswith(".parquet"):
                        continue
                    rel_dir = os.path.relpath(dirpath, staging)
                    rel_dir = "" if rel_dir == "." else rel_dir
                    target_dir = os.path.join(data_dir, rel_dir)
                    os.makedirs(target_dir, exist_ok=True)
                    new_name = f"{write_id}-{fn}"
                    os.rename(
                        os.path.join(dirpath, fn), os.path.join(target_dir, new_name)
                    )
                    rel_paths.append(os.path.join(rel_dir, new_name) if rel_dir else new_name)
        finally:
            shutil.rmtree(staging, ignore_errors=True)
        return rel_paths

    @staticmethod
    def _collect_file_stats(
        data_dir: str, rel_paths: list[str]
    ) -> tuple[dict[str, int], dict[str, dict[str, int]]]:
        """Read each written file's parquet footer once: (row count,
        null count per top-level column) — the metadata Delta records
        at commit time as ``numRecords`` and ``nullCount`` for
        metadata-only counts. Footer reads are O(KB) per file,
        driver-side, no data scan. A footer that cannot be read raises:
        the counts drive the empty-commit skip, ``row_count`` and the
        FK audit, so a file must not be committed without them."""
        import pyarrow.parquet as pq

        rows: dict[str, int] = {}
        nulls: dict[str, dict[str, int]] = {}
        for rel in rel_paths:
            md = pq.ParquetFile(os.path.join(data_dir, rel)).metadata
            rows[rel] = md.num_rows
            nulls[rel] = _footer_null_counts(md)
        return rows, nulls

    # ----------------------------------------------------------------- API
    def table_exists(self, name: str) -> bool:
        """Reference: spark.catalog.tableExists gate (02_bronze.ipynb:279)."""
        return self._latest_manifest(name) is not None

    def last_txn(self, name: str, app_id: str):
        """The value ``app_id`` last committed to ``name`` through a
        write verb's ``txn`` (Delta's SetTransaction lookup), or None
        when the table or the app_id has none. Reads the latest
        manifest only: no Spark job."""
        manifest = self._latest_manifest(name)
        return manifest.txns.get(app_id) if manifest is not None else None

    def txn_version(self, name: str, app_id: str) -> int | None:
        """The version whose commit set the value ``last_txn`` returns,
        or None when there is none. A delta entry holds the txn map
        only when it changed, so this reads entries back from the
        latest to the last one that held another value: no Spark job."""
        value = self.last_txn(name, app_id)
        if value is None:
            return None
        found = None
        for v in reversed(self._log_versions(name)):
            with open(os.path.join(self._log_dir(name), f"{v:08d}.json")) as fh:
                entry = json.load(fh)
            if "txn" in entry:
                if entry["txn"].get(app_id) != value:
                    break
                found = v
        return found

    def observed_totals(self, name: str) -> dict[str, int]:
        """The running totals of the counts observed by the writes of
        ``name`` (see ``_rewrite``), read from the latest manifest: no
        Spark job. Empty when the log holds none."""
        return dict(self._require(name).metrics)

    def version(self, name: str) -> int:
        """The latest committed version of ``name``; raises
        FileNotFoundError when the table does not exist."""
        return self._require(name).version

    def read(self, name: str, version: int | None = None) -> DataFrame:
        manifest = self._require(name, version)
        return self._read_file_subset(name, manifest, manifest.files)

    def _require(self, name: str, version: int | None = None) -> Manifest:
        """The manifest at ``version`` (latest by default); raises
        FileNotFoundError when the table or version does not exist."""
        manifest = (
            self._manifest_at(name, version) if version is not None else self._latest_manifest(name)
        )
        if manifest is None:
            raise FileNotFoundError(f"table {name} does not exist in {self.root}")
        return manifest

    def _read_file_subset(
        self, name: str, manifest: Manifest, files: list[str]
    ) -> DataFrame:
        """Scan exactly ``files`` (rel paths) under ``name`` — the one
        scan behind every read and every write verb. An empty subset is
        an empty DataFrame, not an empty scan.

        The RECORDED schema is supplied explicitly (never inferred from
        footers), so no footer is read at planning time and partition
        columns take their recorded types. The scan puts
        partition columns last; one projection by name restores the
        recorded column order (a per-column ``cast`` would add three
        driver→JVM calls per column to every read)."""
        schema = manifest.schema
        if not files:
            return self.spark.createDataFrame([], schema)
        data_dir = self._data_dir(name)
        reader = self.spark.read.schema(schema)
        if manifest.partition_by:
            reader = reader.option("basePath", data_dir)
        return reader.parquet(*[os.path.join(data_dir, f) for f in files]).selectExpr(
            *["`" + f.name.replace("`", "``") + "`" for f in schema.fields]
        )

    def _plan_files(
        self,
        name: str,
        manifest: Manifest,
        partitions: tuple[list[str], list[tuple]] | None = None,
        cond=None,
    ) -> tuple[list[str], list[str]]:
        """(touched, untouched) relative file paths, both in manifest
        order — the one file planner behind every read and write verb,
        Delta's MERGE/DELETE file planning. Each phase that is asked
        for narrows the touched set; a phase not asked for keeps every
        file:

        1. *Partition prune* (``partitions`` = (columns, wanted value
           tuples)): keep files whose hive partition values are wanted.
           A wanted value is Spark's ``cast(v AS STRING)`` of the
           column's value, the string Spark's writer puts in the path
           (before escaping), so it is compared with the path's
           decoded segment as is; ``""`` and None both mean the
           default (NULL) partition, as in Spark's writer.
           Manifest-only.
        2. *Discovery scan* (``cond``): read the surviving candidates
           projecting ONLY ``input_file_name()`` after the predicate and
           collect the distinct files holding a matching row (bounded by
           the file count, not the row count). A candidate with no
           matching row is untouched — its bytes are never rewritten
           and it never appears in the change feed.
        """
        files = manifest.files
        if partitions is not None:
            cols, values = partitions
            wanted = {tuple(v or None for v in pv) for pv in values}
            files = [
                f for f in files if tuple(v for _c, v in partition_values(f, cols)) in wanted
            ]
        if cond is not None and files:
            hit_uris = (
                self._read_file_subset(name, manifest, files)
                .filter(cond)
                .select(F.input_file_name())
                .distinct()
                .collect()
            )
            data_dir = os.path.realpath(self._data_dir(name))
            hit = {
                os.path.relpath(os.path.realpath(unquote(urlparse(r[0]).path)), data_dir)
                for r in hit_uris
            }
            files = [f for f in files if f in hit]
        touched = set(files)
        return files, [f for f in manifest.files if f not in touched]

    def read_partitions(self, name: str, column: str, values: list[str | None]) -> DataFrame:
        """Manifest-level partition pruning: read ONLY the files that
        live under ``column=<value>/`` partition directories for the
        requested values. Unlike a filter (which Catalyst also prunes),
        the non-matching files never even enter the scan's file index —
        at 100 TB a 2-of-64-cell IVF probe plans a 1/32-of-corpus read
        before Spark sees a single path.

        Each value is given as Spark's ``cast(v AS STRING)`` of the
        partition value (``"3"``, ``"true"``, ``"2024-03-01"``,
        ``"1.0E-7"``), or None for the NULL partition; any other type
        raises TypeError rather than silently matching no file."""
        manifest = self._require(name)
        if column not in manifest.partition_by:
            raise ValueError(f"{column} is not a partition column of {name}")
        if not all(v is None or isinstance(v, str) for v in values):
            raise TypeError(
                f"read_partitions takes values in Spark's cast(v AS STRING) form, got {values!r}"
            )
        kept, _ = self._plan_files(name, manifest, partitions=([column], [(v,) for v in values]))
        return self._read_file_subset(name, manifest, kept)

    # --------------------------------------------------------------- analyze
    #
    # Table-level statistics (ANALYZE TABLE analogue): row count, total
    # data bytes, and per-column approx-NDV / null counts, computed in
    # ONE Spark aggregation pass and returned to the caller. Nothing is
    # persisted: the log already records what the engine plans from
    # (per-file row counts for ``row_count``, file sizes for
    # ``read_hinted``'s broadcast decision), so stats never go stale
    # and the table's version and log are untouched. At 100 TB: one
    # scan with map-side partial HLL aggregation; bytes come from file
    # metadata, not data.
    def analyze(self, name: str, columns: list[str] | None = None) -> dict:
        """Compute table statistics for the CURRENT version and return
        them as a dict. ``columns`` defaults to every primitive
        (atomic-typed) column."""
        manifest = self._require(name)
        atomic = [
            f.name
            for f in manifest.schema.fields
            if f.dataType.typeName()
            not in ("array", "map", "struct", "binary")
        ]
        cols = [c for c in (columns or atomic) if c in atomic]
        df = self.read(name)
        aggs = [F.count(F.lit(1)).alias("_rows")]
        for c in cols:
            aggs.append(F.approx_count_distinct(c).alias(f"_ndv_{c}"))
            aggs.append(
                F.sum(F.when(F.col(c).isNull(), 1).otherwise(0)).alias(f"_nulls_{c}")
            )
        row = df.agg(*aggs).collect()[0]
        return {
            "version": manifest.version,
            "row_count": int(row["_rows"]),
            "size_bytes": self._size_bytes(name, manifest),
            "ndv": {c: int(row[f"_ndv_{c}"]) for c in cols},
            "null_count": {c: int(row[f"_nulls_{c}"] or 0) for c in cols},
        }

    def _size_bytes(self, name: str, manifest: Manifest) -> int:
        """Data bytes of ``manifest``'s files (stat calls, no scan)."""
        data_dir = self._data_dir(name)
        size_bytes = 0
        for rel in manifest.files:
            try:
                size_bytes += os.path.getsize(os.path.join(data_dir, rel))
            except OSError:
                pass
        return size_bytes

    def row_count(self, name: str, version: int | None = None) -> int:
        """Rows of ``name`` at ``version`` (latest by default), summed
        from the per-file counts the log records at commit — no Spark
        job. A file without a recorded count (one committed by an older
        log) is counted from its parquet footer."""
        import pyarrow.parquet as pq

        manifest = self._require(name, version)
        data_dir = self._data_dir(name)
        return sum(
            manifest.num_records[f]
            if f in manifest.num_records
            else pq.ParquetFile(os.path.join(data_dir, f)).metadata.num_rows
            for f in manifest.files
        )

    def null_count(
        self, name: str, columns: list[str], version: int | None = None
    ) -> dict[str, int] | None:
        """NULLs in each of ``columns`` of ``name`` at ``version``
        (latest by default), summed from the per-file null counts the
        log records at commit — no Spark job. A file without a recorded
        count for a column (one committed by an older log) is counted
        from its parquet footer; a column the file lacks (added by a
        later schema) is NULL in every row, and a partition column is
        NULL in every row of a file under its NULL partition. None when
        a footer records no null count for a column: the caller must
        then count with a scan. Raises ValueError for a column the
        table does not have."""
        manifest = self._require(name, version)
        return self._null_totals(name, manifest, manifest.files, columns)

    def added_null_count(self, name: str, columns: list[str], version: int) -> dict[str, int]:
        """NULLs in each of ``columns`` among the rows that ``version``'s
        commit added to ``name``, summed like ``null_count`` over the
        files its delta entry adds: no Spark job. Only when a footer
        records no null count are the added files scanned, in one
        aggregate job."""
        manifest = self._require(name, version)
        [(_v, _partition_by, added)] = version_changes(self._log_dir(name), version - 1, version)
        totals = self._null_totals(name, manifest, added, columns)
        if totals is not None:
            return totals
        row = self._read_file_subset(name, manifest, added).agg(
            *[F.count(F.when(F.col(c).isNull(), 1)) for c in columns]
        ).collect()[0]
        return dict(zip(columns, row))

    def _null_totals(
        self, name: str, manifest: Manifest, files: list[str], columns: list[str]
    ) -> dict[str, int] | None:
        """``null_count`` over ``files`` of ``manifest``."""
        import pyarrow.parquet as pq

        missing = [c for c in columns if c not in manifest.schema.fieldNames()]
        if missing:
            raise ValueError(f"table {name} has no column(s) {missing}")
        data_dir = self._data_dir(name)
        totals = dict.fromkeys(columns, 0)
        for f in files:
            counts = dict(manifest.null_counts.get(f, {}))
            counts.update(
                (c, 0) for c, v in partition_values(f, manifest.partition_by) if v is not None
            )
            wanted = [c for c in columns if c not in counts]
            if wanted:
                md = pq.ParquetFile(os.path.join(data_dir, f)).metadata
                footer = _footer_null_counts(md)
                leaves = [md.schema.column(i).path for i in range(md.num_columns)]
                for c in wanted:
                    if c in footer:
                        counts[c] = footer[c]
                    elif c in manifest.partition_by or not any(
                        p == c or p.startswith(c + ".") for p in leaves
                    ):  # a NULL partition, or a column the file lacks
                        counts[c] = md.num_rows
                    else:
                        return None
            for c in columns:
                totals[c] += counts[c]
        return totals

    def read_hinted(self, name: str, version: int | None = None) -> DataFrame:
        """``read`` + a broadcast hint when the requested version's data
        files fit under spark.sql.autoBroadcastJoinThreshold.

        The size is the sum of that version's file sizes, taken from
        its manifest — the number ``analyze`` returns as
        ``size_bytes`` — so the decision needs no ANALYZE pass, cannot
        go stale, and follows ``version`` under time travel. Spark's
        own estimate is unavailable after non-trivial sub-plans, so the
        hint makes the decision explicit. A too-big table (or disabled
        broadcasting) reads exactly as ``read``."""
        manifest = self._require(name, version)
        df = self._read_file_subset(name, manifest, manifest.files)
        # the typed value: Spark parses the size suffixes itself
        threshold = self.spark._jsparkSession.sessionState().conf().autoBroadcastJoinThreshold()
        if threshold > 0 and self._size_bytes(name, manifest) <= threshold:
            return df.hint("broadcast")
        return df

    def save_overwrite(
        self,
        df: DataFrame,
        name: str,
        partition_by: list[str] | None = None,
        txn: tuple[str, object] | None = None,
        observe: dict[str, Column] | None = None,
    ) -> None:
        """Full load: format("delta").mode("overwrite")
        .option("overwriteSchema","true") equivalent (02_bronze.ipynb:301-310).

        A partitioned write goes through ``_write_files``' rebalance
        hint, the write distribution shared by every write path.
        ``txn=(app_id, value)`` records what the write consumed in the
        same commit; ``observe`` counts the written rows and sets the
        table's observed totals to those counts (see ``_rewrite``)."""
        self._rewrite(
            name, self._latest_manifest(name), df, [], df.schema,
            partition_by=partition_by or [], txn=txn,
            observe=observe, totals=dict.fromkeys(observe or {}, 0),
        )

    def _rewrite(
        self,
        name: str,
        prev: Manifest | None,
        new_rows: DataFrame,
        untouched: list[str],
        schema: StructType,
        partition_by: list[str] | None = None,
        distribute: bool = True,
        txn: tuple[str, object] | None = None,
        observe: dict[str, Column] | None = None,
        totals: dict[str, int] | None = None,
    ) -> int:
        """The one rewrite-and-commit path of every data-writing verb:
        write ``new_rows`` as new files, carry prev's ``untouched``
        files and their row and null counts forward byte-identical, and
        commit ``untouched + new files`` under ``schema`` as
        version prev + 1 (1 when ``prev`` is None: a new table).
        ``partition_by`` defaults to prev's layout; ``distribute`` goes
        to ``_write_files``. Returns the committed version.

        prev's txns carry forward; ``txn=(app_id, value)`` sets one
        (the value is stored as its JSON form, which ``last_txn``
        returns).

        ``totals`` are the observed running totals the commit starts
        from (None: it records none). ``observe`` names count
        aggregates over ``new_rows``; they ride the write job as an
        ``Observation`` and are added to ``totals`` when both hold the
        same names, and otherwise the commit records no totals. A write
        that committed no row records zeros without asking the
        Observation: Spark may plan an empty write's observed node
        away, and ``Observation.get`` then fails. A rewrite that adds
        no row and carries every file keeps prev's totals: its rows are
        prev's.

        A written file with zero rows is deleted (Spark writes one for
        an empty unpartitioned write; the recorded schema already says
        what it would). When that leaves no new file, every previous
        file is carried forward and schema and layout are unchanged,
        the commit would change nothing: none is made and prev's
        version is returned — a re-run insert-only merge leaves the log
        as it was. A new ``txn`` value is a change: it is committed
        alone, with no file added or removed.

        A write job failed by a merge's duplicate-key check (see
        ``_unique_keys``) surfaces as ValueError; nothing is committed.
        Nor is anything when a written file's footer cannot be read
        (``_collect_file_stats`` raises): the version is unchanged, and
        the written files are orphans that ``vacuum`` reclaims."""
        if partition_by is None:
            partition_by = prev.partition_by
        data_dir = self._data_dir(name)
        observation = None
        if observe and totals is not None and totals.keys() == observe.keys():
            observation = Observation()
            new_rows = new_rows.observe(observation, *[c.alias(k) for k, c in observe.items()])
        elif observe:
            totals = None
        try:
            written = self._write_files(new_rows, name, partition_by, distribute=distribute)
        except (Py4JJavaError, PySparkException) as e:  # a failed Spark job
            at = str(e).find(_DUPLICATE_KEYS)
            if at < 0:
                raise
            raise ValueError(str(e)[at:].split(_MERGE_SEMANTICS)[0] + _MERGE_SEMANTICS) from None
        new_counts, new_nulls = self._collect_file_stats(data_dir, written)
        empty = {f for f in written if new_counts[f] == 0}
        for f in empty:
            os.remove(os.path.join(data_dir, f))
        files = [f for f in written if f not in empty]
        txns = dict(prev.txns) if prev else {}
        if txn is not None:
            app_id, value = txn
            txns[app_id] = json.loads(json.dumps(value))
        if observation is not None:
            observed = observation.get if files else dict.fromkeys(totals, 0)
            totals = {k: n + int(observed[k]) for k, n in totals.items()}
        unchanged = prev is not None and not files and set(untouched) == set(prev.files)
        metrics = prev.metrics if unchanged else totals or {}
        if (
            unchanged
            and schema.json() == prev.schema_json
            and partition_by == prev.partition_by
            and txns == prev.txns
        ):
            return prev.version
        counts = {f: prev.num_records[f] for f in untouched if f in prev.num_records}
        counts.update((f, new_counts[f]) for f in files)
        nulls = {f: prev.null_counts[f] for f in untouched if f in prev.null_counts}
        nulls.update((f, new_nulls[f]) for f in files)
        version = prev.version + 1 if prev else 1
        self._commit(
            name,
            Manifest(
                version, schema.json(), partition_by, untouched + files, counts, nulls, txns,
                metrics,
            ),
            prev=prev,
        )
        return version

    def _merge_prologue(
        self,
        source: DataFrame,
        name: str,
        keys: list[str],
        init: DataFrame | None = None,
        txn: tuple[str, object] | None = None,
        observe: dict[str, Column] | None = None,
    ) -> tuple[Manifest, tuple[list[str], list[tuple]] | None] | None:
        """Set-up shared by the merges. Creates the table, unpartitioned,
        from ``init`` (default ``source``) through ``save_overwrite``,
        with ``txn`` and ``observe``, when it does not exist yet and
        returns None: nothing is left to merge.
        Otherwise returns (manifest, partition request for
        ``_plan_files``). The request holds the source's distinct
        partition values when every partition column is a key — only
        then is partition pruning sound: equal keys imply equal
        partition values, so a source row can only match inside its own
        partition. Each value is cast to the column's recorded type and
        then to string inside the distinct job, so it arrives in the
        form Spark's writer put in the target's paths.
        """
        manifest = self._latest_manifest(name)
        if manifest is None:
            self.save_overwrite(source if init is None else init, name, txn=txn, observe=observe)
            return None
        partitions = None
        if manifest.partition_by and set(manifest.partition_by) <= set(keys):
            types = {f.name: f.dataType for f in manifest.schema.fields}
            as_str = [F.col(c).cast(types[c]).cast("string") for c in manifest.partition_by]
            pvals = source.select(*as_str).distinct().collect()
            partitions = (manifest.partition_by, [tuple(r) for r in pvals])
        return manifest, partitions

    @staticmethod
    def _unique_keys(source: DataFrame, keys: list[str]) -> DataFrame:
        """``source`` with Delta MERGE's duplicate-key check built into
        its plan: each row is counted within its key (NULL keys group
        together, as in GROUP BY), and a row whose key occurs more than
        once fails the job through ``raise_error`` instead of silently
        fanning target rows out. The check runs inside the merge's own
        write job — no separate aggregate over the source — and
        ``_rewrite`` turns the failure into ValueError."""
        n = F.count(F.lit(1)).over(Window.partitionBy(*keys))
        msg = f"{_DUPLICATE_KEYS} {keys}; deduplicate upstream {_MERGE_SEMANTICS}"
        return (
            source.withColumn("_key_rows", n)
            .filter(F.when(F.col("_key_rows") > 1, F.raise_error(F.lit(msg))).otherwise(True))
            .drop("_key_rows")
        )

    @staticmethod
    def _key_match(keys: list[str]):
        """Null-safe equality of every key between aliases ``t`` and ``s``."""
        cond = None
        for k in keys:
            e = F.col(f"t.{k}").eqNullSafe(F.col(f"s.{k}"))
            cond = e if cond is None else (cond & e)
        return cond

    @staticmethod
    def _reject_extra_columns(source: DataFrame, schema: StructType, name: str) -> None:
        """A source column the table lacks is a hard error, as in Delta
        MERGE without autoMerge: dropping it would lose data silently."""
        extra = [c for c in source.columns if c not in {f.name for f in schema.fields}]
        if extra:
            raise ValueError(
                f"source carries columns {extra} that {name} lacks; drop them "
                "upstream, or widen the table with save_overwrite"
            )

    def merge_insert_only(
        self,
        source: DataFrame,
        name: str,
        keys: list[str],
        txn: tuple[str, object] | None = None,
        observe: dict[str, Column] | None = None,
    ) -> None:
        """whenNotMatchedInsertAll() merge (02_bronze.ipynb:311-318).

        Appends only rows whose key tuple is absent from the target.
        Scans only the target partitions the source touches —
        manifest-level pruning: the untouched partitions' files never
        enter the anti-join scan's file index (the source's distinct
        partition set is tiny by construction: one year per incremental
        run).

        A merge that CREATES the table (first micro-batch of a streaming
        merge) writes it unpartitioned; a table keeps the layout it was
        created with.

        The source must carry the table's columns and no others: a
        source-only column raises ValueError, a missing one fails
        analysis. Schema evolution is a full load (``save_overwrite``),
        as in the reference.

        ``txn=(app_id, value)`` is committed with the merge, even one
        that inserts nothing (see ``_rewrite``). ``observe`` counts the
        rows the merge inserts, after the anti-join, and adds them to
        the table's observed totals; without it the merge clears them
        unless it inserts nothing.
        """
        prep = self._merge_prologue(source, name, keys, txn=txn, observe=observe)
        if prep is None:
            return
        manifest, partitions = prep
        schema = manifest.schema
        self._reject_extra_columns(source, schema, name)
        touched, _ = self._plan_files(name, manifest, partitions)
        target = self._read_file_subset(name, manifest, touched)
        src = source.select(*[f.name for f in schema.fields])
        new_rows = src.join(target.select(*keys), on=keys, how="left_anti")
        # append-only: every existing file carries forward
        self._rewrite(
            name, manifest, new_rows, manifest.files, schema, txn=txn,
            observe=observe, totals=manifest.metrics if observe else None,
        )

    def merge_scd1(
        self,
        source: DataFrame,
        name: str,
        keys: list[str],
        update_cols: list[str] | None = None,
        txn: tuple[str, object] | None = None,
    ) -> None:
        """whenMatchedUpdate(set=update_cols).whenNotMatchedInsertAll()
        (04a_gold_dim_athletes.ipynb:311-328).

        Matched target rows take the source's values for ``update_cols``
        (all non-key columns by default) and keep their other columns
        (e.g. ``created_at`` survives, ``updated_at`` refreshes — the
        reference's SCD-1 contract). Unmatched source rows are inserted.

        **Rewrite scope.** When every partition column is one of
        ``keys`` (the usual layout for an incremental SCD-1 target:
        partition key ⊆ natural key), only the partitions PRESENT IN THE
        SOURCE are read and rewritten — equal keys imply equal
        partition values, so a match cannot live elsewhere, and an
        update cannot move a row across partitions. Untouched
        partitions' files are carried into the new manifest
        byte-identical, so the commit's change feed contains only
        touched-partition rows and the merge costs O(touched), not
        O(table) — the property that keeps SCD-1 viable on a
        partitioned 100 TB target. When the partition columns are NOT
        all keys (or the table is unpartitioned), a match may live in
        any partition, so the whole table is rewritten — correct, but
        O(table); lay out SCD-1 targets with partition ⊆ key.

        **Single pass.** The touched files and the source meet in ONE
        null-safe full outer join: matched rows take ``update_cols``
        from the source, target-only rows are kept as they are, and
        source-only rows are inserted. The duplicate-source-key check
        is part of the same plan (``_unique_keys``), so the source and
        the target are each evaluated once, by the write job itself. A
        duplicate key fails that job and raises ValueError; nothing is
        committed and no file is left behind.

        Table creation, the column contract and ``txn`` are as in
        ``merge_insert_only``.
        """
        prep = self._merge_prologue(source, name, keys, txn=txn)
        if prep is None:
            return
        manifest, partitions = prep
        schema = manifest.schema
        self._reject_extra_columns(source, schema, name)
        touched, untouched = self._plan_files(name, manifest, partitions)
        target = self._read_file_subset(name, manifest, touched)
        cols = [f.name for f in schema.fields]
        update_cols = update_cols or [c for c in cols if c not in keys]
        src = source.select(*cols)

        # One null-safe full outer join. Explicit side indicators, not
        # key nullness: a NULL-keyed source row that eqNullSafe-matched
        # a NULL-keyed target row must read as matched (r2 ADVICE fix).
        s = self._unique_keys(src, keys).withColumn("_src_row", F.lit(True)).alias("s")
        t = target.withColumn("_tgt_row", F.lit(True)).alias("t")
        merged = t.join(s, self._key_match(keys), "full_outer").select(
            *[
                # matched and source-only rows take the source's value
                F.when(F.col("s._src_row"), F.col(f"s.{c}")).otherwise(F.col(f"t.{c}")).alias(c)
                if c in update_cols
                # matched and target-only rows keep the target's value
                else F.when(F.col("t._tgt_row"), F.col(f"t.{c}")).otherwise(F.col(f"s.{c}")).alias(c)
                for c in cols
            ]
        )
        # untouched partitions' files carry forward unchanged; only the
        # rewritten partitions' files are "added" in the delta entry, so
        # CDC stays O(touched)
        self._rewrite(name, manifest, merged, untouched, schema, txn=txn)

    SCD2_COLS = ("valid_from", "valid_to", "is_current")

    def merge_scd2(
        self,
        source: DataFrame,
        name: str,
        keys: list[str],
        effective_ts: str,
    ) -> None:
        """SCD Type-2 history-tracking merge (the Kimball pattern Delta
        users build with a two-branch MERGE): the target carries
        ``valid_from``/``valid_to``/``is_current`` metadata; for each
        source key whose tracked attributes changed, the CURRENT row is
        closed (``valid_to = effective_ts``, ``is_current = false``)
        and a new current version is inserted; unchanged keys are
        untouched; new keys insert an open row. Historical rows are
        never modified, so the full attribute timeline is queryable
        (``WHERE ts >= valid_from AND (valid_to IS NULL OR ts <
        valid_to)`` — the as-of lookup ``operators/asof.py`` serves at
        scan time).

        ``effective_ts`` is an explicit ``'yyyy-MM-dd[ HH:mm:ss]'``
        literal, NOT now(): version boundaries must be deterministic
        and replay-idempotent (re-running the same merge with the same
        source and timestamp is a no-op — nothing is tracked-changed).

        Every natural (non-key, non-SCD2) column is tracked; change
        detection is null-safe per column. A merge that creates the
        table writes it unpartitioned. Duplicate
        source keys raise, matching Delta MERGE. Rewrite scope follows
        ``merge_scd1``: partition ⊆ key layouts rewrite only
        source-touched partitions (all versions of a key share its
        partition values, so history rows never move), everything else
        is O(table).
        """
        meta = list(self.SCD2_COLS)
        ts = F.lit(effective_ts).cast("timestamp")

        def opened(df: DataFrame) -> DataFrame:
            return (
                df.withColumn("valid_from", ts)
                .withColumn("valid_to", F.lit(None).cast("timestamp"))
                .withColumn("is_current", F.lit(True))
            )

        prep = self._merge_prologue(source, name, keys, init=opened(source))
        if prep is None:
            return
        manifest, partitions = prep
        schema = manifest.schema
        cols = [f.name for f in schema.fields]
        missing = [c for c in meta if c not in cols]
        if missing:
            raise ValueError(
                f"{name} lacks SCD-2 columns {missing}; create the table "
                "through merge_scd2 (or add valid_from/valid_to/is_current)"
            )
        natural = [c for c in cols if c not in meta]
        tracked = [c for c in natural if c not in keys]
        src_extra = [c for c in source.columns if c not in natural]
        if src_extra:
            raise ValueError(
                f"merge_scd2 source must carry only natural columns; "
                f"unexpected {src_extra} (SCD-2 metadata is engine-managed)"
            )
        touched, untouched = self._plan_files(name, manifest, partitions)
        target = self._read_file_subset(name, manifest, touched)

        checked = self._unique_keys(source.select(*natural), keys)
        src = checked.alias("s")
        # alias AFTER withColumn — withColumn drops a prior alias
        src_m = checked.withColumn("_m", F.lit(True)).alias("s")
        cur = target.filter(F.col("is_current")).alias("t")
        hist = target.filter(~F.col("is_current"))
        match_cond = self._key_match(keys)
        changed = None
        for c in tracked:
            e = ~F.col(f"t.{c}").eqNullSafe(F.col(f"s.{c}"))
            changed = e if changed is None else (changed | e)
        changed = F.coalesce(changed, F.lit(False)) if changed is not None else F.lit(False)

        # current rows: closed when a changed source row matches, else as-is
        joined = cur.join(src_m, match_cond, "left")
        close_now = F.coalesce(F.col("_m"), F.lit(False)) & changed
        kept_current = joined.select(
            *[F.col(f"t.{c}").alias(c) for c in natural],
            F.col("t.valid_from").alias("valid_from"),
            F.when(close_now, ts).otherwise(F.col("t.valid_to")).alias("valid_to"),
            F.when(close_now, F.lit(False)).otherwise(F.col("t.is_current")).alias("is_current"),
        )
        # new current versions: changed matches + brand-new keys
        new_changed = cur.join(src, match_cond).filter(changed).select(
            *[F.col(f"s.{c}").alias(c) for c in natural]
        )
        new_keys = src.join(cur.select(*keys).alias("t"), match_cond, "left_anti").select(
            *[F.col(f"s.{c}").alias(c) for c in natural]
        )
        openers = opened(new_changed.unionByName(new_keys))
        result = hist.select(*cols).unionByName(
            kept_current.select(*cols)
        ).unionByName(openers.select(*cols))
        self._rewrite(name, manifest, result, untouched, schema)

    # ------------------------------------------------------- predicate DML
    def delete_where(self, name: str, condition) -> dict:
        """``DELETE FROM name WHERE condition`` — Delta-semantics
        copy-on-write delete (the table op the reference's Delta layer
        inherits; delta-io protocol, re-derived).

        Rows where the condition is TRUE are deleted; FALSE and NULL
        rows are kept (SQL three-valued DELETE). Only files that
        actually hold a matching row are rewritten (``_plan_files``'
        discovery scan); every other file — including files in the
        same partition — carries forward byte-identical, so the change
        feed reports O(matched files), not O(table). A delete that
        matches nothing commits nothing and leaves the version
        unchanged.

        Returns metrics ``{"rows_deleted", "files_rewritten",
        "files_total", "version"}`` (numDeletedRows analogue).
        """
        manifest = self._require(name)
        cond = F.expr(condition) if isinstance(condition, str) else condition
        touched, untouched = self._plan_files(name, manifest, cond=cond)
        out = {"rows_deleted": 0, "files_rewritten": len(touched),
               "files_total": len(manifest.files), "version": manifest.version}
        if touched:
            subset = self._read_file_subset(name, manifest, touched)
            out["rows_deleted"] = int(
                subset.agg(F.sum(F.when(cond, 1).otherwise(0))).collect()[0][0] or 0
            )
            # keep = NOT(cond IS TRUE)
            kept = subset.filter(~F.coalesce(cond, F.lit(False)))
            out["version"] = self._rewrite(name, manifest, kept, untouched, manifest.schema)
        return out

    def optimize(self, name: str, min_files: int = 2) -> None:
        """OPTIMIZE — bin-pack small files (02_bronze.ipynb:354).

        Rewrites the current version's data into fewer, larger files and
        commits a new manifest. Old files stay for time travel until
        vacuum().

        **No-op unless compaction would actually happen**: when no data
        directory holds ≥ ``min_files`` files there is nothing to
        bin-pack, and rewriting a table 1:1 on every pipeline run is
        O(table) wasted work that doubles on-disk data until vacuum()
        and pollutes the change feed (r2 ADVICE fix). Callers on an
        incremental cadence should raise ``min_files`` so compaction
        amortizes (see pipeline.run).

        Partitioned tables compact to one file per partition directory
        (repartition on the partition columns); unpartitioned tables
        coalesce to one file.
        """
        from collections import Counter

        manifest = self._latest_manifest(name)
        if manifest is None:
            return
        per_dir = Counter(os.path.dirname(f) for f in manifest.files)
        if not per_dir or max(per_dir.values()) < min_files:
            return
        df = self.read(name)
        df = df.repartition(*manifest.partition_by) if manifest.partition_by else df.coalesce(1)
        # the repartition above is the distribution — don't re-shuffle
        # in the write layer; the rows, and so their observed totals,
        # are unchanged
        self._rewrite(
            name, manifest, df, [], manifest.schema, distribute=False, totals=manifest.metrics
        )

    def vacuum(
        self,
        name: str,
        retain_versions: int = 0,
    ) -> int:
        """Delete data files not referenced by any RETAINED manifest
        version. Retained = the latest version plus the last
        ``retain_versions`` before it (the analogue of Delta's
        ``deletedFileRetentionDuration``, counted in versions).

        **Defaults keep only the latest version** — that invalidates
        time travel to all earlier versions AND any change-feed
        streaming checkpoint that has not yet consumed past them (a
        stream restarting from an old offset would try to read removed
        files). Callers running streams over this table should retain
        enough versions to cover their maximum stream downtime, just as
        with Delta's retention duration."""
        manifest = self._latest_manifest(name)
        if manifest is None:
            return 0
        live = set(manifest.files)
        versions = self._log_versions(name)
        keep_after: set[int] = set(versions[-(retain_versions + 1):])
        for v in keep_after:
            m = self._manifest_at(name, v)
            if m is not None:
                live.update(m.files)
        data_dir = self._data_dir(name)
        removed = 0
        for dirpath, _d, filenames in os.walk(data_dir):
            for fn in filenames:
                rel = os.path.relpath(os.path.join(dirpath, fn), data_dir)
                if rel not in live:
                    os.remove(os.path.join(dirpath, fn))
                    removed += 1
        return removed

    def restore(self, name: str, version: int) -> int:
        """Delta ``RESTORE TABLE ... TO VERSION AS OF`` analogue: make
        the CURRENT state equal the state at ``version`` by committing
        a NEW version whose manifest (files, schema, partitioning, row
        and null counts, txns, observed totals) is the target's. No data
        is copied — the old files are simply referenced again — and
        history is preserved: the restore
        is itself a commit, so time travel to the pre-restore state
        still works and the change feed sees the restore as adds of
        the re-referenced files. Returns the new version number.

        Raises FileNotFoundError when any needed data file was removed
        by ``vacuum`` (Delta fails restores past the retention horizon
        the same way), ValueError for an unknown table/version."""
        latest = self._latest_manifest(name)
        if latest is None:
            raise ValueError(f"table {name} does not exist")
        target = self._manifest_at(name, version)
        if target is None:
            raise ValueError(f"version {version} of {name} not found")
        data_dir = self._data_dir(name)
        missing = [
            f for f in target.files if not os.path.exists(os.path.join(data_dir, f))
        ]
        if missing:
            raise FileNotFoundError(
                f"cannot restore {name} to version {version}: {len(missing)} data "
                f"file(s) were removed by vacuum (e.g. {missing[0]}); restore is "
                "only possible within the vacuum retention horizon"
            )
        new_version = latest.version + 1
        self._commit(
            name,
            Manifest(
                version=new_version,
                schema_json=target.schema_json,
                partition_by=list(target.partition_by),
                files=list(target.files),
                num_records=dict(target.num_records),
                null_counts=dict(target.null_counts),
                txns=dict(target.txns),
                metrics=dict(target.metrics),
            ),
            prev=latest,
        )
        return new_version

    def table_changes(self, name: str, from_version: int, to_version: int | None = None) -> DataFrame:
        """Rows ADDED between two versions (change-data-feed analogue).

        Because data files are immutable and manifests list them
        explicitly, the delta between versions is a file-set diff —
        the changed rows are read by scanning ONLY the added files,
        never the table. This is what makes incremental downstream
        consumption O(changes) at 100 TB: a consumer processes
        table_changes(t, last_seen_version) instead of diffing a full
        snapshot. (SCD-1/OPTIMIZE versions rewrite files, so their
        "added files" are the rewritten result — consumers of
        update-heavy tables should diff on keys downstream.)
        """
        m_from = self._manifest_at(name, from_version)
        m_to = (
            self._manifest_at(name, to_version)
            if to_version is not None
            else self._latest_manifest(name)
        )
        if m_from is None or m_to is None:
            raise FileNotFoundError(f"version not found for {name}")
        before = set(m_from.files)
        added = [f for f in m_to.files if f not in before]
        return self._read_file_subset(name, m_to, added)

    def register_views(self, *names: str) -> dict[str, DataFrame]:
        """Expose tables as temp views named ``<db>_<table>`` so SQL
        (the 13 dashboard views) can reference them. Returns each
        table's registered DataFrame, by table name."""
        frames = {name: self.read(name) for name in names}
        for name, df in frames.items():
            df.createOrReplaceTempView(name.replace(".", "_"))
        return frames
