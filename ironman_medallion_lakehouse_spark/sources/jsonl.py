"""JSONL crawl-dump source: the landing format of large-scale text
corpora (one JSON document per line — web crawl dumps, API exports,
annotation drops) read with an EXPLICIT schema and a verbatim
quarantine of malformed lines.

No reference counterpart (the reference lands CSV only —
notebooks_databricks/02_bronze.ipynb); this is the training-data
analogue of the bronze CSV contract (plans/bronze.py: S1 scan + S3
lineage metadata + quarantine-don't-drop), re-expressed for the
format an LLM corpus actually arrives in.

Design decisions, each load-bearing at 100 TB:

- **Explicit schema, never inference.** ``spark.read.json`` without a
  schema runs a FULL extra pass over the data to infer one, and the
  inferred schema drifts with the sample (a rare field widens a type,
  a day's dump with no nulls narrows one) — at corpus scale that is
  both a doubled scan and a silent contract change. Callers pass the
  schema; drift shows up as quarantined lines, not mutated columns.
- **text scan + ``from_json``, not the json reader's corrupt column.**
  Reading lines as text and parsing with ``from_json`` keeps the RAW
  LINE in hand, so a quarantined record is preserved VERBATIM
  (re-parseable after a schema fix — the bronze "quarantine, don't
  drop" rule). It also sidesteps the json reader's documented
  restriction that the internal corrupt-record column can't be
  queried without caching the parsed frame first — there is no
  internal column here, just ordinary expressions. Cost is identical:
  one scan, one parse per line, all inside whole-stage codegen.
- **Line-level strictness.** A line quarantines if ANYTHING in it
  failed to parse against the schema — non-JSON garbage, truncation,
  or a type-drifted field (``from_json`` PERMISSIVE flags all three
  through the corrupt-record field; an ABSENT field is valid JSON and
  stays clean with a NULL). Stricter than the bronze CSV's all-string
  tolerance, and deliberately so: in a typed landing a drifted field
  usually means the producer changed schema versions — those lines
  should be held out whole for re-parse, not half-ingested with a
  silently nulled column. Both policies are lossless; this one is
  also loud.
- **Splittability is the caller's lever.** One .jsonl file splits by
  ``spark.sql.files.maxPartitionBytes`` like any text source; a
  .jsonl.GZ file is ONE task regardless of size (gzip is not
  splittable) — ship many medium files or a splittable codec. The
  scan parallelism is the file/split count; nothing here shuffles.
- **Lineage via the hidden ``_metadata`` column** (file path is
  scan-local — no extra pass, no UDF).

API:

- ``read_jsonl(spark, path, schema)`` → one DataFrame with the
  schema's fields plus ``_source_file`` (lineage), ``_malformed``
  (boolean) and ``_raw`` (the original line for malformed rows, NULL
  for clean ones — ~free for a healthy dump).
- ``split_quarantine(df)`` → (clean, quarantine): clean carries the
  schema fields + ``_source_file``; quarantine carries
  (_source_file, _raw) for every malformed line.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StringType, StructField, StructType

_CORRUPT = "_jsonl_corrupt"


def _validate_schema(schema: StructType) -> None:
    if not isinstance(schema, StructType) or len(schema.fields) == 0:
        raise ValueError("read_jsonl requires a non-empty explicit StructType schema")
    reserved = {"_source_file", "_malformed", "_raw", "_parsed", _CORRUPT}
    clash = reserved & {f.name for f in schema.fields}
    if clash:
        raise ValueError(f"schema field names collide with reserved columns: {sorted(clash)}")


def _parse_lines(lines: DataFrame, schema: StructType) -> DataFrame:
    """The shared batch/stream parse: (_source_file, value) lines →
    schema fields + (_source_file, _malformed, _raw). Blank
    (whitespace-only) lines are dropped."""
    lines = lines.filter(F.length(F.trim(F.col("value"))) > 0)
    # PERMISSIVE from_json signals every parse problem (garbage line,
    # truncation, type-drifted field) by filling this extra field with
    # the offending input; it never returns a NULL struct, so the
    # corrupt field IS the malformed test
    parse_schema = StructType(list(schema.fields) + [StructField(_CORRUPT, StringType())])
    parsed = lines.select(
        "_source_file",
        "value",
        F.from_json(
            F.col("value"),
            parse_schema,
            {"mode": "PERMISSIVE", "columnNameOfCorruptRecord": _CORRUPT},
        ).alias("_parsed"),
    )
    # a NULL struct has no corrupt field to inspect; everything else
    # signals through the corrupt field
    malformed = F.col("_parsed").isNull() | F.col(f"_parsed.{_CORRUPT}").isNotNull()
    return parsed.select(
        *[
            F.when(~malformed, F.col(f"_parsed.{f.name}")).alias(f.name)
            for f in schema.fields
        ],
        "_source_file",
        malformed.alias("_malformed"),
        F.when(malformed, F.col("value")).alias("_raw"),
    )


def read_jsonl(
    spark: SparkSession,
    path: str,
    schema: StructType,
) -> DataFrame:
    """Parse a JSONL path (file, directory, or glob) against an
    explicit ``schema``. Output columns: every schema field, then
    ``_source_file``, ``_malformed``, ``_raw`` (see module docstring
    for the line-level quarantine contract).

    Kept with no package caller: it is the batch reader that
    tests/test_jsonl_source.py pins the quarantine contract on, and that
    ``read_jsonl_stream`` must match."""
    _validate_schema(schema)
    lines = spark.read.text(path).select(
        F.col("_metadata.file_path").alias("_source_file"),
        F.col("value"),
    )
    return _parse_lines(lines, schema)


def read_jsonl_stream(
    spark: SparkSession,
    path: str,
    schema: StructType,
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """Streaming twin of ``read_jsonl`` — same parse, same output
    contract, over ``readStream.text`` file discovery: new .jsonl
    files dropped into ``path`` become micro-batches, so a crawl
    landing zone feeds the streaming gates (dedup/drift screens,
    volume monitor) directly with the quarantine columns intact —
    a gate's foreachBatch can merge clean rows and quarantined raw
    lines to separate keyed tables in the same transaction style as
    streaming_dedup_ingest. ``max_files_per_trigger`` bounds batch
    size (an unbounded first batch over a deep landing zone is the
    classic cold-start stall)."""
    _validate_schema(schema)
    reader = spark.readStream
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", int(max_files_per_trigger))
    lines = reader.text(path).select(
        F.col("_metadata.file_path").alias("_source_file"),
        F.col("value"),
    )
    return _parse_lines(lines, schema)


def split_quarantine(df: DataFrame) -> tuple[DataFrame, DataFrame]:
    """Split a ``read_jsonl`` frame into (clean, quarantine). Clean
    drops the bookkeeping columns; quarantine keeps the verbatim line
    + lineage so a schema fix can re-parse it later (the bronze
    quarantine-don't-drop rule). Both are plain filters over the one
    scan — materialize the parent if you need both sides cheaply."""
    clean = df.filter(~F.col("_malformed")).drop("_malformed", "_raw")
    quarantine = df.filter(F.col("_malformed")).select("_source_file", "_raw")
    return clean, quarantine
