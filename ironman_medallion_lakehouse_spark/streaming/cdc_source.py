"""Change-feed STREAMING SOURCE for TableStore tables — a custom
PySpark 4 DataSource (pyspark.sql.datasource) so downstream consumers
can ``readStream`` the lakehouse's CDC log directly:

    spark.dataSource.register(ChangeFeedDataSource)
    (spark.readStream.format("tablestore_changes")
          .option("table_dir", ...).option("starting_version", "3")
          .load())

This is the streaming counterpart of ``TableStore.table_changes``
(batch CDC): offsets are MANIFEST VERSIONS, each micro-batch reads
exactly the files ADDED by the commits in (start, end] — O(changes),
never a table rescan, and replays are deterministic because committed
versions and their file lists are immutable. Where Delta exposes
``readStream.format("delta")``'s change feed, this re-derives the same
contract on the manifest log.

Execution shape: the planner methods (initialOffset/latestOffset/
partitions) run driver-side and touch only the JSON log; ``read`` runs
on executors, one InputPartition per added file, streaming Arrow
RecordBatches straight from the parquet footer — the file is never
deserialized through Python rows. Hive-style partition-directory
values (including percent-escaped and __HIVE_DEFAULT_PARTITION__
segments) are re-attached as constant Arrow columns, since data files
don't store partition columns.

SCD-1/OPTIMIZE versions rewrite files, so their adds are the rewritten
result (same caveat as table_changes — update-heavy consumers diff on
keys downstream).
"""

from __future__ import annotations

import os

from pyspark.sql.datasource import (
    DataSource,
    DataSourceStreamReader,
    InputPartition,
)
from pyspark.sql.types import StructType

from ironman_medallion_lakehouse_spark.sources.tablestore import (
    log_versions,
    manifest_at,
    partition_values,
    version_changes,
)

FORMAT_NAME = "tablestore_changes"


class _AddedFile(InputPartition):
    def __init__(self, path: str, version: int, part_values: list[tuple[str, str | None]]):
        self.path = path
        self.version = version
        self.part_values = part_values


class ChangeFeedStreamReader(DataSourceStreamReader):
    def __init__(
        self,
        schema: StructType,
        table_dir: str,
        starting_version: int,
        max_files_per_trigger: int | None = None,
    ):
        self._schema = schema
        self._log_dir = os.path.join(table_dir, "_log")
        self._data_dir = os.path.join(table_dir, "data")
        self._starting_version = starting_version
        self._max_files = max_files_per_trigger
        # last offset this reader has planned/committed — admission
        # control state (None until the first batch boundary is known)
        self._last_end: int | None = None

    # ------------------------------------------------------- driver side
    def initialOffset(self) -> dict:
        # offset = highest version already consumed
        self._last_end = max(self._starting_version - 1, self._last_end or 0)
        return {"version": self._starting_version - 1}

    def latestOffset(self) -> dict:
        versions = log_versions(self._log_dir)
        latest = versions[-1] if versions else 0
        # never regress below the requested start: a table still behind
        # starting_version must not checkpoint a lower offset and later
        # deliver versions the caller asked to skip
        latest = max(latest, self._starting_version - 1)
        if self._max_files is None or self._last_end is None:
            # No admission control — or THE FIRST TRIGGER OF A RUN,
            # where the batch boundary is unknown: Spark calls
            # latestOffset BEFORE initialOffset on a fresh stream
            # (observed; and before anything on a clean restart), and
            # this API version has no SupportsAdmissionControl
            # (latestOffset never receives the start offset). Clamping
            # blind could return an offset BELOW a restart checkpoint,
            # regressing the offset WAL into re-delivery. So each
            # run's first batch is unthrottled; every subsequent
            # trigger is bounded — which is what paces a long catch-up
            # (ongoing commits arrive in later, throttled batches) and
            # steady state.
            return {"version": latest}
        # advance only through versions whose cumulative added-file
        # count fits the budget (always ≥1 version so progress is made)
        budget, end = self._max_files, self._last_end
        for v, _pb, added in version_changes(self._log_dir, self._last_end, latest):
            budget -= len(added)
            if budget < 0 and end > self._last_end:
                break
            end = v
            if budget <= 0:
                break
        return {"version": end}

    def partitions(self, start: dict, end: dict):
        self._last_end = max(end["version"], self._last_end or end["version"])
        parts = []
        # ONE log walk for the whole range (partition layout still
        # resolved per version — a replayed range may span a
        # repartitioning of the table); the per-version manifest_at
        # replay was O(backlog × replay) when a stream caught up
        for v, partition_by, added in version_changes(
            self._log_dir, start["version"], end["version"]
        ):
            for rel in added:
                parts.append(
                    _AddedFile(
                        os.path.join(self._data_dir, rel),
                        v,
                        partition_values(rel, partition_by),
                    )
                )
        # Spark requires ≥1 partition per batch; an empty commit range
        # yields one no-op marker partition
        return parts or [_AddedFile("", end["version"], [])]

    def commit(self, end: dict) -> None:
        # offsets live in the stream's checkpoint; log is immutable.
        # Track the committed boundary for admission control.
        self._last_end = max(end["version"], self._last_end or end["version"])

    # ----------------------------------------------------- executor side
    def read(self, partition: _AddedFile):
        if not partition.path:
            return iter(())
        import pyarrow as pa
        import pyarrow.parquet as pq

        from pyspark.sql.pandas.types import to_arrow_schema

        target = to_arrow_schema(self._schema)
        part_values = dict(partition.part_values)

        def align(batch: "pa.RecordBatch") -> "pa.RecordBatch":
            n = batch.num_rows
            arrays = []
            for field in target:
                if field.name in batch.schema.names:
                    arrays.append(batch.column(field.name).cast(field.type))
                elif field.name in part_values:
                    value = part_values[field.name]
                    arrays.append(
                        pa.nulls(n, field.type)
                        if value is None
                        else pa.array([value] * n, type=pa.string()).cast(field.type)
                    )
                else:
                    # schema evolution: a field added after this file
                    # was written reads as NULL, same as Spark's
                    # mergeSchema-style batch read of an older file
                    arrays.append(pa.nulls(n, field.type))
            return pa.RecordBatch.from_arrays(arrays, schema=target)

        # stream row groups — peak executor memory is O(batch), not
        # O(file), even when a compaction writes one huge file
        pf = pq.ParquetFile(partition.path)
        return (align(b) for b in pf.iter_batches(batch_size=1 << 16))


class ChangeFeedDataSource(DataSource):
    """Register with ``spark.dataSource.register(ChangeFeedDataSource)``;
    options: ``table_dir`` (the <root>/<db>/<table> directory),
    optional ``starting_version`` (default 1), and optional
    ``max_files_per_trigger`` — the Delta ``maxFilesPerTrigger``
    analogue: each micro-batch AFTER a run's first advances only
    through versions whose cumulative added-file count fits the budget
    (always ≥1 version so the stream progresses). The first batch of
    each run is unthrottled — see latestOffset for why the Python
    DataSource API can't bound it safely."""

    @classmethod
    def name(cls) -> str:
        return FORMAT_NAME

    def schema(self) -> str:
        table_dir = self.options["table_dir"]
        log_dir = os.path.join(table_dir, "_log")
        versions = log_versions(log_dir)
        if not versions:
            raise FileNotFoundError(f"no TableStore log at {log_dir}")
        manifest = manifest_at(log_dir, versions[-1])
        return manifest.schema

    def streamReader(self, schema: StructType) -> ChangeFeedStreamReader:
        max_files = self.options.get("max_files_per_trigger")
        return ChangeFeedStreamReader(
            schema,
            self.options["table_dir"],
            int(self.options.get("starting_version", "1")),
            int(max_files) if max_files is not None else None,
        )


def stream_changes(
    spark,
    store,
    name: str,
    starting_version: int = 1,
    max_files_per_trigger: int | None = None,
):
    """Convenience: a streaming DataFrame over ``name``'s change feed."""
    from ironman_medallion_lakehouse_spark.session import ensure_package_on_executors

    ensure_package_on_executors(spark)
    spark.dataSource.register(ChangeFeedDataSource)
    reader = (
        spark.readStream.format(FORMAT_NAME)
        .option("table_dir", store._table_dir(name))
        .option("starting_version", str(starting_version))
    )
    if max_files_per_trigger is not None:
        reader = reader.option("max_files_per_trigger", str(max_files_per_trigger))
    return reader.load()
