"""SparkSession factory with scale-oriented defaults.

The reference runs on a managed Databricks cluster and declares no Spark
configuration of its own (SURVEY.md §4) — it leans on Catalyst/AQE defaults.
We make those choices explicit so the same code runs correctly on
``local[N]`` for tests and on a 1000-executor cluster:

- AQE on (coalesce small shuffle partitions, runtime broadcast decisions,
  skew-join splitting) — replaces hand-tuning shuffle partition counts.
- ``spark.sql.shuffle.partitions`` seeded from core count locally; AQE
  coalesces down, and on a real cluster the operator would raise it to
  ~2-3× total cores.
- Session timezone pinned to UTC so timestamp semantics are deterministic
  and match the DuckDB correctness oracle.
- Arrow enabled for any pandas-interop path (extension operators use
  ``applyInPandas``/``mapInPandas``; Arrow batching is the fast path).
"""

from __future__ import annotations

import os
import tempfile

from pyspark.sql import SparkSession

DEFAULT_APP_NAME = "ironman-medallion-lakehouse-spark"


def _default_master() -> str:
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
    return os.environ.get("SPARK_MASTER", f"local[{cpus}]")


def _default_parallelism() -> int:
    cpus = os.environ.get("SPARK_GRAFT_CPUS")
    if cpus and cpus.isdigit():
        return int(cpus)
    return os.cpu_count() or 8


def get_spark(
    app_name: str = DEFAULT_APP_NAME,
    master: str | None = None,
    shuffle_partitions: int | None = None,
    warehouse_dir: str | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession with the engine's defaults.

    Safe to call repeatedly — Spark returns the existing session; configs
    only bind on first creation.
    """
    shuffle = shuffle_partitions or _default_parallelism()
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master or _default_master())
        # --- optimizer / runtime ---
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.shuffle.partitions", str(shuffle))
        .config("spark.default.parallelism", str(_default_parallelism()))
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # --- determinism ---
        .config("spark.sql.session.timeZone", "UTC")
        # --- driver-side expression-construction cost (r15) ---
        # PySpark 4 wraps EVERY DataFrame/Column API call with a
        # call-site capture (Python stack walk + a JVM round-trip to
        # PySparkCurrentOrigin) to enrich error messages. On big
        # expression trees that is the dominant DRIVER cost: the q143
        # battery's arm construction made ~15k py4j round-trips, 3.7 s;
        # with the capture off it is 1.9 s, and the full entry dropped
        # ~25 %. Purely a debugging aid — plans, semantics and results
        # are identical at any scale; flip to true when diagnosing.
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
        # --- python interop ---
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        # --- local-mode hygiene ---
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "24g"))
        .config("spark.sql.parquet.compression.codec", "snappy")
        # Timestamps as INT64 micros, not the INT96 default: INT96
        # footers carry no statistics, so TableStore could log no null
        # count for a timestamp column. Values read back unchanged.
        .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
        # Local-mode scan parallelism: test-scale parquet files are a few
        # MB, so the 128 MB default split yields 1-3 partitions on 32
        # cores. 16 MB keeps all cores busy locally; a cluster profile
        # sets 128m+ through ``extra_conf`` (files that small aren't the
        # 100 TB regime anyway).
        .config("spark.sql.files.maxPartitionBytes", str(16 * 1024 * 1024))
        .config("spark.sql.files.openCostInBytes", str(1 * 1024 * 1024))
    )
    if warehouse_dir:
        builder = builder.config("spark.sql.warehouse.dir", warehouse_dir)
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()


def shuffle_width(df) -> int:
    """spark.sql.shuffle.partitions of ``df``'s session as an int.

    Some platforms set the conf to a non-numeric value ('auto' under
    Databricks-managed AQE); then the width falls back to the input's
    own parallelism, bounded below so a coalesced scan still fans out."""
    try:
        return int(df.sparkSession.conf.get("spark.sql.shuffle.partitions", "200"))
    except ValueError:
        return max(df.rdd.getNumPartitions(), 32)


def ensure_package_on_executors(spark: SparkSession) -> None:
    """Ship this package to executor Python workers via addPyFile.

    Required before any Python-UDF path (mapInPandas / pandas_udf):
    cloudpickle serializes closures with by-reference module globals, and
    executor workers do not inherit the driver's runtime sys.path — on a
    real cluster this zip is exactly how the code reaches 1000 executors.
    Idempotent per SparkContext.
    """
    sc = spark.sparkContext
    if getattr(sc, "_imls_pkg_shipped", False):
        return
    import zipfile

    pkg_dir = os.path.dirname(os.path.abspath(__file__))
    zip_path = os.path.join(
        tempfile.gettempdir(), f"imls_pkg_{os.getpid()}.zip"
    )
    with zipfile.ZipFile(zip_path, "w") as zf:
        for dirpath, _dirnames, filenames in os.walk(pkg_dir):
            if "__pycache__" in dirpath:
                continue
            for fn in filenames:
                if fn.endswith(".py"):
                    full = os.path.join(dirpath, fn)
                    rel = os.path.join(
                        "ironman_medallion_lakehouse_spark",
                        os.path.relpath(full, pkg_dir),
                    )
                    zf.write(full, rel)
    sc.addPyFile(zip_path)
    sc._imls_pkg_shipped = True


def warehouse_path(spark: SparkSession) -> str:
    """The session's warehouse root as a local filesystem path."""
    wh = spark.conf.get("spark.sql.warehouse.dir", "spark-warehouse")
    if wh.startswith("file:"):
        from urllib.parse import unquote, urlparse

        wh = unquote(urlparse(wh).path)
    return wh


def staging_dir(spark: SparkSession, label: str) -> str:
    """A scratch directory under the session's warehouse root.

    Driver-local ``tempfile.gettempdir()`` paths are invisible to
    executors on a real cluster (r1 finding); the warehouse dir is by
    definition shared storage, so staging under it is cluster-safe
    while behaving identically on local[N]."""
    path = os.path.join(warehouse_path(spark), "_staging", label)
    os.makedirs(path, exist_ok=True)
    return path


# One scan task per this many document rows. MEASURED at sf0.1 (r15, alternating A/B x3): the
# text stages are genuinely CPU-bound, so widths below the core count
# cost wall — q83 3.6/3.8/3.6 s at 32 partitions vs 4.9/4.6/4.2 s at
# 20 — hence 64 rows/task: the bench SF (5,000 docs) still saturates
# the defaultParallelism cap (identical plans and fingerprints), and
# only genuinely tiny inputs (the sf0.01/sf0.001 oracle gates: 500/50
# docs) shed their near-empty scheduled tasks.
_DOCS_ROWS_PER_TASK = 64


def _adaptive_width(parquet_path: str, cap: int) -> int:
    """Partition width for a row-wise-expensive table: ceil(rows /
    _DOCS_ROWS_PER_TASK) clamped to [1, cap]. Row count comes from the
    parquet footer (driver-side metadata read, no job); any failure —
    non-local path, odd layout — falls back to the cap, i.e. the
    pre-r15 fixed width."""
    try:
        import pyarrow.parquet as pq

        nrows = pq.ParquetFile(parquet_path).metadata.num_rows
    except Exception:  # noqa: BLE001 — sizing hint only, never fatal
        return cap
    return max(1, min(cap, -(-nrows // _DOCS_ROWS_PER_TASK)))


def load_tables(spark: SparkSession, sf_dir: str, *names: str):
    """Load driver testdata parquet tables and register them as temp views.

    Returns a dict name → DataFrame. Registering views lets suite queries
    mix the DataFrame API with ``spark.sql`` exactly as the reference does
    (notebook ``%sql`` cells vs PySpark cells).
    """
    from pyspark.sql import functions as F

    out = {}
    for name in names:
        if name == "events":
            # Older testdata stores TIMESTAMP(NANOS) which Spark's vectorized
            # reader rejects; read nanos as long and truncate to micros —
            # identical to DuckDB's ns→µs truncation, so oracle-safe.
            spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        df = spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))
        if name == "events":
            # Normalize `ts` to a session-UTC TIMESTAMP (LTZ) whatever the
            # physical parquet type, so no downstream operator ever sees the
            # driver's writer choice (TIMESTAMP_NANOS one round, naive
            # timestamp[us] → TIMESTAMP_NTZ the next — the latter made
            # `cast(ts as long)` an AnalysisException everywhere).
            dt = dict(df.dtypes).get("ts")
            if dt == "bigint":
                # nanos-as-long shim output; integer division — `/` would go
                # through double and lose precision at epoch-nanos magnitude
                # (>2^53)
                df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
            elif dt == "timestamp_ntz":
                # NTZ→LTZ is a reinterpretation in the session zone; pinned
                # UTC makes it the identity the oracle expects.
                df = df.withColumn("ts", F.col("ts").cast("timestamp"))
        if name == "documents":
            # Expression-heavy text work (language ID, dedup shingling,
            # fingerprinting) is CPU-bound per row, but the documents file is
            # small enough that byte-based splitting yields 1-2 scan tasks.
            # Repartition so per-row-expensive operators never inherit their
            # parallelism from input file sizes (at 100 TB the files split
            # fine; the operator still shouldn't depend on that).
            #
            # r15 (VERDICT r14 item 7): the width is now a FUNCTION of the
            # input size — rows read off the parquet footer, one task per
            # _DOCS_ROWS_PER_TASK rows — capped at defaultParallelism (the
            # old fixed width). The fixed width produced near-empty tasks
            # per text stage at tiny SFs (and 2x-width unions when two
            # documents-derived frames meet), scheduling overhead AQE
            # cannot coalesce away. Above rows_per_task x parallelism the
            # width saturates at the cap — bench-SF and cluster-scale
            # plans are identical to before (see _DOCS_ROWS_PER_TASK for
            # the measured reason the constant is conservative).
            df = df.repartition(
                _adaptive_width(
                    os.path.join(sf_dir, f"{name}.parquet"),
                    spark.sparkContext.defaultParallelism,
                )
            )
        df.createOrReplaceTempView(name)
        out[name] = df
    return out
