"""The benchmark's workloads: set-up, one operation, and its output check.

Each workload is a closed loop with one client: the next operation
starts when the previous one has finished and been checked. Every
operation goes through the engine's public entry points only:
``pipeline.run`` (which registers the ``plans.views`` SQL views over
its gold tables) and ``training_pipeline.curate``.
"""

from __future__ import annotations

import glob
import hashlib
import json
import os
import shutil
import statistics
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

import inputs
from spans import IDLE_GROUP, Tracer

from ironman_medallion_lakehouse_spark import config as C
from ironman_medallion_lakehouse_spark import pipeline, training_pipeline
from ironman_medallion_lakehouse_spark.plans import bronze as bronze_plan
from ironman_medallion_lakehouse_spark.plans import gold_dims, gold_fact, views
from ironman_medallion_lakehouse_spark.plans import silver as silver_plan
from ironman_medallion_lakehouse_spark.session import load_tables
from ironman_medallion_lakehouse_spark.sources import tablestore
from ironman_medallion_lakehouse_spark.sources.tablestore import TableStore

PIPELINE_LAYERS = ("plans.bronze", "plans.silver", "plans.gold_dims", "plans.gold_fact")
CURATION_STAGES = ("training_pipeline.gate", "operators.dedup", "operators.sampling",
                   "operators.packing")
VERBS = ("save_overwrite", "merge_insert_only", "merge_scd1", "optimize", "analyze")
GOLD = (C.DIM_ATHLETES, C.DIM_COUNTRIES, C.DIM_DIVISIONS, C.FACT_RESULTS)
# Columns a rerun legitimately changes: load and merge timestamps.
VOLATILE = {"load_timestamp", "load_date", "created_at", "updated_at"}
# dim_countries.athlete_count holds the latest processed year's counts
# after an incremental merge (the reference's behaviour, kept on
# purpose), so it is left out when comparing against a full load, and
# only then.
FULL_LOAD_QUIRKS = {C.DIM_COUNTRIES: {"athlete_count"}}

# training_pipeline.curate arguments of the q153 suite entry
Q153 = dict(
    min_words=30, max_top_bigram=0.15, min_stopword_ratio=0.02,
    dedup_threshold=0.9, dedup_bands=16,
    sample_rates={"en": 0.5, "de": 1.0, "es": 0.5, "zh": 0.25, "fr": 0.75},
    strata_col="lang", chunk_size=64, chunk_overlap=16, pack_budget=1024, counts=False,
)
CHUNK_COLS = ["doc_id", "chunk_index", "n_tokens", "chunk_hash", "start_pack",
              "start_offset", "end_pack"]


def per_layer_metrics() -> list[tuple[str, str, str]]:
    """(name, unit, better) of every metric a traced run reports."""
    out = []
    for layer in PIPELINE_LAYERS:
        out += [(f"{layer}.wall_s", "s", "lower"), (f"{layer}.task_s", "s", "lower"),
                (f"{layer}.jobs", "count", "lower"), (f"{layer}.stages", "count", "lower"),
                (f"{layer}.input_mb", "MB", "lower"),
                (f"{layer}.shuffle_write_mb", "MB", "lower"),
                (f"{layer}.spill_mb", "MB", "lower")]
    out += [("pipeline.audit.wall_s", "s", "lower"), ("pipeline.audit.jobs", "count", "lower")]
    for layer in PIPELINE_LAYERS:
        out += [(f"noop.{layer}.wall_s", "s", "lower"), (f"noop.{layer}.jobs", "count", "lower")]
    for verb in VERBS:
        p = f"sources.tablestore.{verb}"
        out += [(f"{p}.calls", "count", "lower"), (f"{p}.wall_s", "s", "lower"),
                (f"{p}.jobs", "count", "lower")]
    p = "sources.tablestore"
    out += [(f"{p}.commits", "count", "lower"), (f"{p}.files_added", "count", "lower"),
            (f"{p}.files_removed", "count", "lower"), (f"{p}.bytes_written_mb", "MB", "lower"),
            (f"{p}.empty_commits", "count", "lower"),
            (f"{p}.warehouse_mb_per_input_mb", "ratio", "lower"),
            (f"{p}.merge_insert_only.rows_inserted_ratio", "ratio", "higher")]
    out += [("plans.views.plan_ms", "ms", "lower"), ("plans.views.exec_ms", "ms", "lower"),
            ("plans.views.jobs_per_query", "count", "lower"),
            ("plans.views.tasks_per_query", "count", "lower"),
            ("plans.views.input_mb_per_query", "MB", "lower")]
    for stage in CURATION_STAGES:
        out += [(f"{stage}.wall_s", "s", "lower"), (f"{stage}.task_s", "s", "lower"),
                (f"{stage}.jobs", "count", "lower"),
                (f"{stage}.shuffle_write_mb", "MB", "lower")]
    out += [("operators.dedup.survivor_ratio", "ratio", "lower"),
            ("trace.overhead_ms", "ms", "lower")]
    return out


class CheckFailed(Exception):
    """Set-up produced output that differs from what its inputs imply."""


def check(errors: list[str], what: str, got, want) -> None:
    """Record a mismatch; an operation with any is a failed operation."""
    if got != want:
        errors.append(f"{what}: got {got!r}, expected {want!r}")


def checked(errors: list[str]) -> None:
    if errors:
        raise CheckFailed("; ".join(errors))


@dataclass
class Scale:
    years: int = 5  # landing years; `incremental` holds the last one out
    rows_per_file: int = 500
    docs: int = 2500  # half the sf0.1 documents table, in its shape (see inputs.py)


@dataclass
class Sample:
    """One checked operation."""

    seconds: float
    task_s: float
    parts: dict[str, float] = field(default_factory=dict)
    layers: dict[str, float] | None = None
    errors: list[str] = field(default_factory=list)  # failed output checks


@dataclass
class Context:
    spark: object
    reader: object
    work: str
    seed: int
    scale: Scale
    spans_dir: str
    inputs: dict = field(default_factory=dict)  # sizes, for the report
    _groups: int = 0

    def new_group(self, label: str) -> str:
        """A job group name no earlier Spark job used."""
        self._groups += 1
        return f"perfbench-{label}-{self._groups}"


# ------------------------------------------------------------------ digests
def table_digest(df: DataFrame, drop: set[str] = frozenset()) -> tuple[int, str]:
    """(rows, order-free content digest) in one aggregate job."""
    cols = [c for c in df.columns if c not in VOLATILE and c not in drop]
    row = df.agg(
        F.count(F.lit(1)),
        F.sum(F.xxhash64(*cols).cast("decimal(38,0)")),
    ).collect()[0]
    return int(row[0]), str(row[1])


def rows_digest(rows) -> str:
    """Order-free digest of collected rows; floats to 12 significant
    digits so summation order cannot change it."""
    def cell(v):
        return f"{v:.12g}" if isinstance(v, float) else repr(v)

    lines = sorted("\x1f".join(cell(v) for v in r) for r in rows)
    return hashlib.sha256("\n".join(lines).encode()).hexdigest()


def dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f)) for d, _, fs in os.walk(path) for f in fs
    )


def latest_version(log_dir: str) -> int:
    """A table's latest committed version; 0 before its first commit."""
    return (tablestore.log_versions(log_dir) or [0])[-1]


def commits(log_dir: str, after: int, upto: int):
    """(log entry, added data files, rows added) of each version of one
    table's log in ``(after, upto]``."""
    import pyarrow.parquet as pq

    data_dir = os.path.join(os.path.dirname(log_dir), "data")
    for v in range(after + 1, upto + 1):
        with open(os.path.join(log_dir, f"{v:08d}.json")) as fh:
            entry = json.load(fh)
        added = [os.path.join(data_dir, f) for f in entry.get("add", [])]
        yield entry, added, sum(pq.ParquetFile(f).metadata.num_rows for f in added)


def log_versions(wh: str) -> dict[str, int]:
    """Latest committed version of every table in a warehouse, keyed by
    the table's path inside it."""
    return {os.path.relpath(d, wh): latest_version(d)
            for d in glob.glob(os.path.join(wh, "*", "*", "_log"))}


def log_stats(wh: str, baseline: dict[str, int]) -> dict[str, float]:
    """Commit statistics read from the on-disk logs of every version
    committed after ``baseline``."""
    out = dict.fromkeys(("commits", "files_added", "files_removed", "bytes_written_mb",
                         "empty_commits"), 0.0)
    for rel, latest in log_versions(wh).items():
        for entry, added, rows in commits(os.path.join(wh, rel), baseline.get(rel, 0), latest):
            out["commits"] += 1
            out["files_added"] += len(added)
            out["files_removed"] += len(entry.get("remove", []))
            out["bytes_written_mb"] += sum(os.path.getsize(f) for f in added) / 2**20
            if rows == 0 and not entry.get("remove"):
                out["empty_commits"] += 1
    return out


# ------------------------------------------------------------------ tracing
def install_pipeline_tracing(tracer: Tracer) -> None:
    """Divide ``pipeline.run`` into its layers and trace the TableStore
    verbs and plan functions it calls."""
    tracer.wrap(pipeline, "run", "pipeline.run")
    tracer.wrap(bronze_plan, "build_bronze", "plans.bronze.build_bronze", phase="plans.bronze")
    tracer.wrap(bronze_plan, "duplicate_key_count", "plans.bronze.duplicate_key_count")
    tracer.wrap(silver_plan, "build_silver", "plans.silver.build_silver", phase="plans.silver")
    tracer.wrap(gold_dims, "build_dim_athletes", "plans.gold_dims.build_dim_athletes",
                phase="plans.gold_dims")
    tracer.wrap(gold_dims, "build_dim_countries", "plans.gold_dims.build_dim_countries")
    tracer.wrap(gold_dims, "build_dim_divisions", "plans.gold_dims.build_dim_divisions")
    tracer.wrap(gold_fact, "build_fact", "plans.gold_fact.build_fact", phase="plans.gold_fact")
    tracer.wrap(views, "create_views", "plans.views.create_views", phase_after="pipeline.audit")

    def merge_log(args) -> str:
        store, name = args[0], args[2]
        return os.path.join(store.root, *name.split("."), "_log")

    def before_merge(span, args, kwargs):
        source, log_dir = args[1], merge_log(args)
        span.attrs["version_before"] = latest_version(log_dir)

        def count():
            # rows of the versions this call committed: none if it
            # committed nothing
            span.attrs["source_rows"] = source.count()
            span.attrs["inserted_rows"] = sum(rows for _e, _f, rows in commits(
                log_dir, span.attrs["version_before"], span.attrs["version_after"]))

        tracer.deferred.append(count)

    def after_merge(span, args, kwargs):
        span.attrs["version_after"] = latest_version(merge_log(args))

    for verb in VERBS:
        merge = verb == "merge_insert_only"
        tracer.wrap(TableStore, verb, f"sources.tablestore.{verb}",
                    on_call=before_merge if merge else None,
                    on_return=after_merge if merge else None)


def install_curation_tracing(tracer: Tracer) -> None:
    """Divide ``curate`` into its stages at its module-level calls."""

    def count_input(span, args, kwargs):
        frame = args[0]  # a checkpointed frame: counting it reruns nothing
        tracer.deferred.append(lambda: span.attrs.__setitem__("input_rows", frame.count()))

    tracer.wrap(training_pipeline, "curate", "training_pipeline.curate",
                first_phase="training_pipeline.gate")
    tracer.wrap(training_pipeline, "near_dedup_groups", "operators.dedup.near_dedup_groups",
                phase="operators.dedup", on_call=count_input)
    tracer.wrap(training_pipeline, "stratified_sample", "operators.sampling.stratified_sample",
                phase="operators.sampling", on_call=count_input)
    tracer.wrap(training_pipeline, "chunk_documents", "operators.chunking.chunk_documents",
                phase="operators.packing")
    tracer.wrap(training_pipeline, "pack_sequences", "operators.packing.pack_sequences")


class SpanMetrics:
    """Per-span Spark metrics of one traced operation, inclusive of
    each span's descendants."""

    def __init__(self, tracer: Tracer, reader):
        reader.settle()
        self.tracer = tracer
        self.own = {s.id: reader.group(s.group) for s in tracer.spans}

    def total(self, spans, key: str) -> float:
        seen = set()
        for s in spans:
            seen.update(x.id for x in self.tracer.subtree(s))
        return sum(self.own[i][key] for i in seen)

    def named(self, name: str, within=None) -> list:
        pool = within if within is not None else self.tracer.spans
        return [s for s in pool if s.name == name]

    @staticmethod
    def wall(spans) -> float:
        return sum(s.end - s.start for s in spans)


def pipeline_layers(m: SpanMetrics, noop_root=None) -> dict[str, float]:
    out = {}
    for layer in PIPELINE_LAYERS:
        spans = m.named(layer)
        out[f"{layer}.wall_s"] = m.wall(spans)
        for key in ("task_s", "jobs", "stages", "input_mb", "shuffle_write_mb", "spill_mb"):
            out[f"{layer}.{key}"] = m.total(spans, key)
        if noop_root is not None:
            noop = m.named(layer, m.tracer.subtree(noop_root))
            out[f"noop.{layer}.wall_s"] = m.wall(noop)
            out[f"noop.{layer}.jobs"] = m.total(noop, "jobs")
    audit = m.named("pipeline.audit")
    out["pipeline.audit.wall_s"] = m.wall(audit)
    out["pipeline.audit.jobs"] = m.total(audit, "jobs")
    for verb in VERBS:
        spans = m.named(f"sources.tablestore.{verb}")
        p = f"sources.tablestore.{verb}"
        out[f"{p}.calls"] = len(spans)
        out[f"{p}.wall_s"] = m.wall(spans)
        out[f"{p}.jobs"] = m.total(spans, "jobs")
    merges = m.named("sources.tablestore.merge_insert_only")
    source_rows = sum(s.attrs.get("source_rows", 0) for s in merges)
    inserted = sum(s.attrs.get("inserted_rows", 0) for s in merges)
    out["sources.tablestore.merge_insert_only.rows_inserted_ratio"] = (
        inserted / source_rows if source_rows else 0.0
    )
    return out


def curation_stages(m: SpanMetrics) -> dict[str, float]:
    out = {}
    for stage in CURATION_STAGES:
        spans = m.named(stage)
        out[f"{stage}.wall_s"] = m.wall(spans)
        for key in ("task_s", "jobs", "shuffle_write_mb"):
            out[f"{stage}.{key}"] = m.total(spans, key)
    gated = sum(s.attrs["input_rows"] for s in m.named("operators.dedup.near_dedup_groups"))
    kept = sum(s.attrs["input_rows"] for s in m.named("operators.sampling.stratified_sample"))
    out["operators.dedup.survivor_ratio"] = kept / gated if gated else 0.0
    return out


# ---------------------------------------------------------------- workloads
class Workload:
    name = ""
    min_ops = 1
    # True when the timed operation is the process's first run of the
    # workload's code path, JVM warm-up included (see FullLoad)
    cold_first = False

    def setup(self, ctx: Context) -> None:
        raise NotImplementedError

    def run(self, ctx: Context, i: int, traced: bool) -> Sample:
        """Run and check operation ``i``; trace it when ``traced``."""
        sc = self._sc = ctx.spark.sparkContext
        self._tracer = Tracer(sc) if traced else None
        self._group = ctx.new_group("op")
        if self._tracer is not None:
            self.install(self._tracer)
        try:
            sample = self.op(ctx, i)
        finally:
            sc.setJobGroup(IDLE_GROUP, "untimed")
            if self._tracer is not None:
                self._tracer.unwrap_all()
        if self._tracer is None:
            ctx.reader.settle()
            sample.task_s = ctx.reader.group(self._group)["task_s"]
        else:
            self._tracer.run_deferred()
            m = SpanMetrics(self._tracer, ctx.reader)
            sample.task_s = sum(v["task_s"] for v in m.own.values())
            sample.layers = self.layers(ctx, i, m)
            sample.layers["trace.overhead_ms"] = 1000 * self._tracer.overhead_s
            self._tracer.dump(os.path.join(ctx.spans_dir, f"{self.name}-seed{ctx.seed}-op{i}.json"))
        self.cleanup(ctx, i)
        return sample

    @contextmanager
    def timed(self, name: str):
        """A timed part of the operation: a root span when tracing,
        else the operation's job group. Work outside it is untimed."""
        if self._tracer is not None:
            with self._tracer.root(name):
                yield
            return
        self._sc.setJobGroup(self._group, name)
        try:
            yield
        finally:
            self._sc.setJobGroup(IDLE_GROUP, "untimed")

    # hooks
    def install(self, tracer: Tracer) -> None:
        pass

    def op(self, ctx: Context, i: int) -> Sample:
        raise NotImplementedError

    def layers(self, ctx: Context, i: int, m: SpanMetrics) -> dict[str, float]:
        return {}

    def cleanup(self, ctx: Context, i: int) -> None:
        pass

    def report(self, samples: list[Sample]) -> dict[str, float]:
        """The workload's own end-to-end figures, by name."""
        return {}


def _specs(landing: inputs.Landing, years=None) -> list[C.FileSpec]:
    return [C.FileSpec(y, g, f) for y, g, f in landing.files if years is None or y in years]


def _run_pipeline(ctx: Context, landing, wh: str, mode: str, years, year=None):
    cfg = C.PipelineConfig(source_dir=landing.root, warehouse_dir=wh, run_mode=mode,
                           process_year=year, files=_specs(landing, years))
    return pipeline.run(ctx.spark, cfg)


def _check_run(errors: list[str], result, landing: inputs.Landing, years) -> None:
    """Counts a pipeline run reports against what the generator wrote."""
    rows = landing.rows(years)
    check(errors, "bronze rows", result.bronze_rows, rows)
    check(errors, "silver rows", result.silver_rows, rows)
    check(errors, "fact rows", result.fact_rows, rows)
    check(errors, "duplicate row keys", result.duplicate_row_keys, 0)
    # empty country codes have no country key; every other key resolves
    check(errors, "unmatched foreign keys", result.unmatched_fks,
          {"athletes": 0, "divisions": 0, "countries": landing.empty_country_rows(years)})


def _views_pass(ctx: Context) -> dict[str, float]:
    """Each dashboard view asked once, traced as plan + execute."""
    samples = [_view_query(ctx, panel_sql(name)) for name in views.VIEW_SQL]
    med = statistics.median
    return {
        "plans.views.plan_ms": med(s["plan_ms"] for s in samples),
        "plans.views.exec_ms": med(s["exec_ms"] for s in samples),
        "plans.views.jobs_per_query": med(s["jobs"] for s in samples),
        "plans.views.tasks_per_query": med(s["tasks"] for s in samples),
        "plans.views.input_mb_per_query": med(s["input_mb"] for s in samples),
    }


def _view_query(ctx: Context, sql: str) -> dict:
    """Run one panel query under its own job group, timed as plan and
    execute."""
    sc = ctx.spark.sparkContext
    group = ctx.new_group("view")
    sc.setJobGroup(group, sql)
    t0 = time.perf_counter()
    df = ctx.spark.sql(sql)
    df._jdf.queryExecution().executedPlan()  # analysis, optimisation, planning
    t1 = time.perf_counter()
    df.collect()
    t2 = time.perf_counter()
    sc.setJobGroup(IDLE_GROUP, "untimed")
    ctx.reader.settle()
    g = ctx.reader.group(group)
    return {"plan_ms": (t1 - t0) * 1000, "exec_ms": (t2 - t1) * 1000,
            "jobs": g["jobs"], "tasks": g["tasks"], "input_mb": g["input_mb"]}


def panel_sql(view: str) -> str:
    """A dashboard panel's query; ``vw_top_finishers`` is a top-10 panel,
    so one bulk export does not stand for it."""
    return f"SELECT * FROM {view}" + (" WHERE rank <= 10" if view == "vw_top_finishers" else "")


class FullLoad(Workload):
    """``pipeline.run(run_mode="full")`` into a fresh warehouse over
    the generated landing. The timed load is the process's first, as
    for every run of the pipeline's command line, which starts a new
    Spark application: it includes the JVM's warm-up (JIT and code
    generation), more than half of its time."""

    name = "full_load"
    cold_first = True

    def setup(self, ctx: Context) -> None:
        s = ctx.scale
        self.years = list(range(2019, 2019 + s.years - 1))
        self.landing = inputs.make_landing(os.path.join(ctx.work, "landing"), ctx.seed,
                                           s.years - 1, s.rows_per_file)
        ctx.inputs.update(landing_rows=self.landing.rows(), landing_bytes=self.landing.bytes(),
                          years=len(self.years))

    def install(self, tracer):
        install_pipeline_tracing(tracer)

    def op(self, ctx, i):
        wh = os.path.join(ctx.work, f"wh-{i}")
        t0 = time.perf_counter()
        with self.timed("full_load"):
            result = _run_pipeline(ctx, self.landing, wh, "full", self.years)
        seconds = time.perf_counter() - t0
        errors: list[str] = []
        _check_run(errors, result, self.landing, self.years)
        ratio = dir_bytes(wh) / self.landing.bytes()
        return Sample(seconds, 0.0, {"warehouse_mb_per_input_mb": ratio}, errors=errors)

    def layers(self, ctx, i, m):
        wh = os.path.join(ctx.work, f"wh-{i}")
        out = pipeline_layers(m)
        out.update({f"sources.tablestore.{k}": v for k, v in log_stats(wh, {}).items()})
        out["sources.tablestore.warehouse_mb_per_input_mb"] = dir_bytes(wh) / self.landing.bytes()
        # the views this load registered serve one query per view
        out.update(_views_pass(ctx))
        return out

    def cleanup(self, ctx, i):
        shutil.rmtree(os.path.join(ctx.work, f"wh-{i}"), ignore_errors=True)

    def report(self, samples):
        return {
            "full_load_s": statistics.median(s.seconds for s in samples),
            "warehouse_mb_per_input_mb": statistics.median(
                s.parts["warehouse_mb_per_input_mb"] for s in samples),
        }


class Incremental(Workload):
    """Append a held-out year to a restored warehouse snapshot, then
    rerun that year as a no-op. The snapshot, a full load of every
    landing year but the last, is taken at set-up; restoring it is
    untimed. The append is the process's first merge, so it includes
    the merge paths' JIT warm-up. The gold tables after the append
    must equal the gold a full load builds from the same silver."""

    name = "incremental"

    def setup(self, ctx: Context) -> None:
        s = ctx.scale
        self.years = list(range(2019, 2019 + s.years))
        self.held = self.years[-1]
        self.landing = inputs.make_landing(os.path.join(ctx.work, "landing"), ctx.seed,
                                           s.years, s.rows_per_file)
        ctx.inputs.update(landing_rows=self.landing.rows(), landing_bytes=self.landing.bytes(),
                          years=len(self.years), held_out_rows=self.landing.rows([self.held]))
        self.snapshot = os.path.join(ctx.work, "snapshot")
        history = self.years[:-1]
        errors: list[str] = []
        _check_run(errors, _run_pipeline(ctx, self.landing, self.snapshot, "full", history),
                   self.landing, history)
        checked(errors)
        self.baseline = log_versions(self.snapshot)
        self.reference = None

    @staticmethod
    def _full_load_gold(ctx: Context, wh: str) -> dict[str, tuple[int, str]]:
        """Gold digests of a full load over the warehouse's silver: the
        dim and fact plans a full load runs, evaluated in memory."""
        silver = TableStore(ctx.spark, wh).read(C.SILVER_TABLE)
        dims = {
            C.DIM_ATHLETES: gold_dims.build_dim_athletes(silver),
            C.DIM_COUNTRIES: gold_dims.build_dim_countries(ctx.spark, silver),
            C.DIM_DIVISIONS: gold_dims.build_dim_divisions(silver),
        }
        dims[C.FACT_RESULTS] = gold_fact.build_fact(
            silver, dims[C.DIM_ATHLETES], dims[C.DIM_DIVISIONS], dims[C.DIM_COUNTRIES])
        return {t: table_digest(df, FULL_LOAD_QUIRKS.get(t, set())) for t, df in dims.items()}

    @staticmethod
    def _digests(ctx, wh: str) -> dict[str, tuple[int, str]]:
        store = TableStore(ctx.spark, wh)
        return {t: table_digest(store.read(t)) for t in pipeline.ALL_TABLES}

    def install(self, tracer):
        install_pipeline_tracing(tracer)

    def op(self, ctx, i):
        wh = os.path.join(ctx.work, f"wh-{i}")
        shutil.copytree(self.snapshot, wh)
        t0 = time.perf_counter()
        with self.timed("incremental.append"):
            appended = _run_pipeline(ctx, self.landing, wh, "incremental", self.years, self.held)
        t1 = time.perf_counter()
        errors: list[str] = []
        _check_run(errors, appended, self.landing, self.years)
        after_append = self._digests(ctx, wh)
        if self.reference is None:  # every operation appends the same year
            self.reference = self._full_load_gold(ctx, wh)
        store = TableStore(ctx.spark, wh)
        for t in GOLD:
            quirks = FULL_LOAD_QUIRKS.get(t)
            got = table_digest(store.read(t), quirks) if quirks else after_append[t]
            check(errors, f"{t} against a full load", got, self.reference[t])
        t2 = time.perf_counter()
        with self.timed("incremental.noop"):
            rerun = _run_pipeline(ctx, self.landing, wh, "incremental", self.years, self.held)
        t3 = time.perf_counter()
        _check_run(errors, rerun, self.landing, self.years)
        check(errors, "digests after the no-op rerun", self._digests(ctx, wh), after_append)
        return Sample((t1 - t0) + (t3 - t2), 0.0, errors=errors, parts={
            "append_year_s": t1 - t0, "noop_rerun_s": t3 - t2,
            "warehouse_mb_per_input_mb": dir_bytes(wh) / self.landing.bytes()})

    def layers(self, ctx, i, m):
        wh = os.path.join(ctx.work, f"wh-{i}")
        noop = m.named("incremental.noop")[0]
        out = pipeline_layers(m, noop_root=noop)
        out.update({f"sources.tablestore.{k}": v
                    for k, v in log_stats(wh, self.baseline).items()})
        out["sources.tablestore.warehouse_mb_per_input_mb"] = dir_bytes(wh) / self.landing.bytes()
        return out

    def cleanup(self, ctx, i):
        shutil.rmtree(os.path.join(ctx.work, f"wh-{i}"), ignore_errors=True)

    def report(self, samples):
        med = statistics.median
        return {
            "append_year_s": med(s.parts["append_year_s"] for s in samples),
            "noop_rerun_s": med(s.parts["noop_rerun_s"] for s in samples),
            "warehouse_mb_per_input_mb": med(
                s.parts["warehouse_mb_per_input_mb"] for s in samples),
        }


class Curation(Workload):
    """``training_pipeline.curate`` with the q153 suite entry's
    arguments over a generated documents table. Set-up includes one
    untimed run, whose chunk digest every timed run must reproduce."""

    name = "curation"
    min_ops = 3  # its runs keep speeding up for a while after the first

    def setup(self, ctx: Context) -> None:
        import pandas as pd

        rows = inputs.make_documents(ctx.seed, ctx.scale.docs)
        d = os.path.join(ctx.work, "docs")
        os.makedirs(d, exist_ok=True)
        path = os.path.join(d, "documents.parquet")
        pd.DataFrame(rows, columns=["doc_id", "text", "lang", "source", "n_chars"]).to_parquet(
            path, index=False)
        ctx.inputs.update(documents=len(rows), documents_bytes=os.path.getsize(path))
        self.docs = load_tables(ctx.spark, d, "documents")["documents"]
        rows = self._chunks(ctx)
        if not rows:
            raise CheckFailed("curation produced no chunks")
        self.digest = ctx.inputs["chunk_digest"] = rows_digest(rows)
        ctx.inputs["chunks"] = len(rows)
        self.cleanup(ctx, -1)

    def _chunks(self, ctx) -> list:
        result = training_pipeline.curate(ctx.spark, self.docs, **Q153)
        return result.chunks.select(*CHUNK_COLS).collect()

    def install(self, tracer):
        install_curation_tracing(tracer)

    def op(self, ctx, i):
        t0 = time.perf_counter()
        with self.timed("curation"):
            rows = self._chunks(ctx)
        seconds = time.perf_counter() - t0
        errors: list[str] = []
        check(errors, "chunk digest", rows_digest(rows), self.digest)
        return Sample(seconds, 0.0, errors=errors)

    def layers(self, ctx, i, m):
        return curation_stages(m)

    def cleanup(self, ctx, i):
        """Release the checkpointed blocks of the finished run."""
        jsc = ctx.spark.sparkContext._jsc.sc()
        for rdd_id in [t._1() for t in _iterate(jsc.getPersistentRDDs().iterator())]:
            jsc.unpersistRDD(rdd_id, True)

    def report(self, samples):
        return {"curate_s": statistics.median(s.seconds for s in samples)}


def _iterate(it):
    while it.hasNext():
        yield it.next()


WORKLOADS = {w.name: w for w in (FullLoad, Incremental, Curation)}
