"""TableStore semantics: overwrite, insert-only merge, SCD-1 merge,
optimize, vacuum, time travel — the Delta behaviors of SURVEY §2.1."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from ironman_medallion_lakehouse_spark.sources.tablestore import TableStore


def _store(spark, tmp_path) -> TableStore:
    return TableStore(spark, str(tmp_path / "wh"))


def test_overwrite_and_read(spark, tmp_path):
    st = _store(spark, tmp_path)
    df = spark.createDataFrame([Row(k="a", v=1), Row(k="b", v=2)])
    assert not st.table_exists("db.t")
    st.save_overwrite(df, "db.t")
    assert st.table_exists("db.t")
    assert {(r.k, r.v) for r in st.read("db.t").collect()} == {("a", 1), ("b", 2)}


def test_insert_only_merge_is_idempotent(spark, tmp_path):
    st = _store(spark, tmp_path)
    base = spark.createDataFrame([Row(k="a", y=1, v=10), Row(k="b", y=1, v=20)])
    st.save_overwrite(base, "db.t", partition_by=["y"])
    incoming = spark.createDataFrame(
        [Row(k="b", y=1, v=999), Row(k="c", y=2, v=30)]
    )
    st.merge_insert_only(incoming, "db.t", keys=["k"])
    rows = {r.k: r.v for r in st.read("db.t").collect()}
    # matched key untouched (insert-only), new key appended
    assert rows == {"a": 10, "b": 20, "c": 30}
    # re-running the same merge changes nothing (Readme.md:7 idempotency)
    st.merge_insert_only(incoming, "db.t", keys=["k"])
    assert st.read("db.t").count() == 3


def test_insert_only_merge_appends_files_not_rewrites(spark, tmp_path):
    st = _store(spark, tmp_path)
    st.save_overwrite(
        spark.createDataFrame([Row(k="a", y=1, v=1)]), "db.t", partition_by=["y"]
    )
    m1 = st._latest_manifest("db.t")
    st.merge_insert_only(
        spark.createDataFrame([Row(k="b", y=1, v=2)]), "db.t", keys=["k"]
    )
    m2 = st._latest_manifest("db.t")
    # every original file survives into the new manifest: O(new), not O(table)
    assert set(m1.files) <= set(m2.files)


def test_scd1_merge(spark, tmp_path):
    st = _store(spark, tmp_path)
    st.save_overwrite(
        spark.createDataFrame(
            [Row(k="a", attr="old", created="c1"), Row(k="b", attr="keep", created="c2")]
        ),
        "db.dim",
    )
    src = spark.createDataFrame(
        [Row(k="a", attr="new", created="cX"), Row(k="c", attr="ins", created="c3")]
    )
    st.merge_scd1(src, "db.dim", keys=["k"], update_cols=["attr"])
    rows = {r.k: (r.attr, r.created) for r in st.read("db.dim").collect()}
    assert rows["a"] == ("new", "c1")  # updated attr, created_at preserved
    assert rows["b"] == ("keep", "c2")  # untouched
    assert rows["c"] == ("ins", "c3")  # inserted whole


def test_optimize_compacts_and_time_travel(spark, tmp_path):
    st = _store(spark, tmp_path)
    df = spark.range(100).withColumn("v", F.col("id") * 2)
    st.save_overwrite(df.repartition(8), "db.t")
    v1 = st._latest_manifest("db.t")
    assert len(v1.files) > 1
    st.optimize("db.t")
    v2 = st._latest_manifest("db.t")
    assert len(v2.files) == 1
    assert st.read("db.t").count() == 100
    # old version still readable until vacuum
    assert st.read("db.t", version=v1.version).count() == 100
    removed = st.vacuum("db.t")
    assert removed == len(v1.files)


def test_table_changes_reads_only_added_files(spark, tmp_path):
    st = _store(spark, tmp_path)
    st.save_overwrite(
        spark.createDataFrame([Row(k="a", y=1, v=1), Row(k="b", y=2, v=2)]),
        "db.t",
        partition_by=["y"],
    )
    v1 = st._latest_manifest("db.t").version
    st.merge_insert_only(
        spark.createDataFrame([Row(k="c", y=2, v=3), Row(k="a", y=1, v=99)]),
        "db.t",
        keys=["k"],
    )
    changes = st.table_changes("db.t", from_version=v1)
    rows = [(r.k, r.v) for r in changes.collect()]
    assert rows == [("c", 3)]  # only the inserted row, matched key excluded
    # no-change diff is empty
    v2 = st._latest_manifest("db.t").version
    assert st.table_changes("db.t", v2, v2).count() == 0


def test_register_views(spark, tmp_path):
    st = _store(spark, tmp_path)
    st.save_overwrite(spark.createDataFrame([Row(k="a")]), "gold.dim_x")
    st.register_views("gold.dim_x")
    assert spark.sql("SELECT COUNT(*) c FROM gold_dim_x").collect()[0].c == 1


def test_empty_table_read(spark, tmp_path):
    st = _store(spark, tmp_path)
    df = spark.createDataFrame([Row(k="a", v=1)])
    st.save_overwrite(df.filter(F.lit(False)), "db.empty")
    out = st.read("db.empty")
    assert out.count() == 0
    assert [f.name for f in out.schema.fields] == ["k", "v"]

def test_commit_is_put_if_absent(spark, tmp_path):
    """Two writers that both read version N must not both commit N+1 —
    the second commit raises instead of silently replacing (r2 ADVICE)."""
    import pytest

    from ironman_medallion_lakehouse_spark.sources.tablestore import (
        ConcurrentCommitError,
        Manifest,
    )

    st = _store(spark, tmp_path)
    st.save_overwrite(spark.createDataFrame([Row(k="a", v=1)]), "db.t")
    m = st._latest_manifest("db.t")
    clash = Manifest(
        version=m.version, schema_json=m.schema_json, partition_by=[], files=m.files
    )
    with pytest.raises(ConcurrentCommitError):
        st._commit("db.t", clash, prev=None)
    # the loser re-reads the table and retries its write on top of it
    fresh = st._latest_manifest("db.t")
    files = st._write_files(spark.createDataFrame([Row(k="b", v=2)]), "db.t", [])
    st._commit(
        "db.t",
        Manifest(
            version=fresh.version + 1,
            schema_json=fresh.schema_json,
            partition_by=[],
            files=fresh.files + files,
        ),
        prev=fresh,
    )
    assert st._log_versions("db.t")[-1] == m.version + 1
    assert sorted((r.k, r.v) for r in st.read("db.t").collect()) == [("a", 1), ("b", 2)]


_V_ROWS = [Row(k="a", y=1, v=1), Row(k="b", y=2, v=2)]
_V_MORE = [Row(k="c", y=2, v=3)]
_V_SOURCE = [Row(k="a", y=1, v=10), Row(k="e", y=3, v=5)]

# every verb that rewrites files through the shared rewrite-and-commit
# path, applied to the two-version table of _two_versions
_REWRITE_VERBS = {
    "merge_insert_only": lambda st, src: st.merge_insert_only(src, "db.t", keys=["k", "y"]),
    "merge_scd1": lambda st, src: st.merge_scd1(src, "db.t", keys=["k", "y"]),
    "merge_scd2": lambda st, src: st.merge_scd2(
        src, "db.t", keys=["k", "y"], effective_ts="2024-03-01"
    ),
    "delete_where": lambda st, src: st.delete_where("db.t", "v = 3"),
    "optimize": lambda st, src: st.optimize("db.t", min_files=1),
}


def _opened(df, ts: str):
    """``df`` as merge_scd2 creates a table from it: every row current
    from ``ts``."""
    return (
        df.withColumn("valid_from", F.lit(ts).cast("timestamp"))
        .withColumn("valid_to", F.lit(None).cast("timestamp"))
        .withColumn("is_current", F.lit(True))
    )


def _two_versions(spark, st, verb):
    """Versions 1 and 2 of db.t, partitioned by y; built through
    merge_scd2 when the verb under test needs the SCD-2 columns."""
    v1, v2 = (spark.createDataFrame(rows) for rows in (_V_ROWS, _V_ROWS + _V_MORE))
    if verb == "merge_scd2":
        st.save_overwrite(_opened(v1, "2024-01-01"), "db.t", partition_by=["y"])
        st.merge_scd2(v2, "db.t", keys=["k", "y"], effective_ts="2024-02-01")
    else:
        st.save_overwrite(v1, "db.t", partition_by=["y"])
        st.save_overwrite(v2, "db.t", partition_by=["y"])


@pytest.mark.parametrize("verb", sorted(_REWRITE_VERBS))
def test_crash_mid_commit_leaves_previous_version_and_vacuum_reclaims(
    spark, tmp_path, monkeypatch, verb
):
    """A writer that dies after writing its data files but before its
    log entry lands leaves the table at the previous version; the
    files it wrote are orphans that vacuum removes, and vacuum touches
    no file any retained manifest references."""
    st = _store(spark, tmp_path)
    _two_versions(spark, st, verb)
    before = st._latest_manifest("db.t")
    v1_before = sorted(st.read("db.t", version=1).collect())
    rows_before = sorted(st.read("db.t").collect())

    written: list[str] = []
    real_write = st._write_files

    def write_and_record(*args, **kwargs):
        paths = real_write(*args, **kwargs)
        written.extend(paths)
        return paths

    def crash(*_args, **_kwargs):
        raise RuntimeError("writer died before its commit")

    monkeypatch.setattr(st, "_write_files", write_and_record)
    monkeypatch.setattr(st, "_commit", crash)
    with pytest.raises(RuntimeError, match="writer died"):
        _REWRITE_VERBS[verb](st, spark.createDataFrame(_V_SOURCE))
    monkeypatch.undo()

    data_dir = st._data_dir("db.t")
    assert written and all(os.path.exists(os.path.join(data_dir, f)) for f in written)
    assert st._latest_manifest("db.t").version == before.version
    assert sorted(st.read("db.t").collect()) == rows_before

    referenced = set()
    for v in st._log_versions("db.t"):
        referenced.update(st._manifest_at("db.t", v).files)
    assert not referenced & set(written)
    removed = st.vacuum("db.t", retain_versions=len(st._log_versions("db.t")))
    assert removed == len(written)
    assert not any(os.path.exists(os.path.join(data_dir, f)) for f in written)
    assert all(os.path.exists(os.path.join(data_dir, f)) for f in referenced)
    assert sorted(st.read("db.t", version=1).collect()) == v1_before


def test_unreadable_footer_fails_the_merge_before_its_commit(spark, tmp_path, monkeypatch):
    """The row and null counts the log records are correctness inputs,
    so a written file whose footer cannot be read fails the merge
    before its commit: the version and rows stay as they were, and the
    written file is an orphan that vacuum reclaims."""
    import pyarrow.parquet as pq

    st = _store(spark, tmp_path)
    st.save_overwrite(spark.createDataFrame(_V_ROWS), "db.t", partition_by=["y"])
    before = st._latest_manifest("db.t")
    rows_before = sorted(st.read("db.t").collect())
    src = spark.createDataFrame(_V_SOURCE)

    def unreadable(*_args, **_kwargs):
        raise OSError("footer unreadable")

    monkeypatch.setattr(pq, "ParquetFile", unreadable)
    with pytest.raises(OSError, match="footer unreadable"):
        st.merge_insert_only(src, "db.t", keys=["k", "y"])
    monkeypatch.undo()

    assert st._latest_manifest("db.t") == before
    assert sorted(st.read("db.t").collect()) == rows_before
    assert st.vacuum("db.t") > 0
    assert _data_files(st, "db.t") == sorted(before.files)


@pytest.mark.parametrize("verb", sorted(_REWRITE_VERBS))
def test_rewrite_commit_invariants(spark, tmp_path, monkeypatch, verb):
    """Every rewriting verb commits version prev + 1; files it does not
    rewrite carry forward with their bytes, row and null counts
    unchanged; every file it adds has a row count and a null count for
    each data column; and its log entry's add/remove lists are exactly
    the diff between the two manifests. The commit also
    writes a checkpoint, so the manifest read back is the full snapshot
    the verb built, not a replay of earlier log entries."""
    import hashlib
    import json

    from ironman_medallion_lakehouse_spark.sources import tablestore

    monkeypatch.setattr(tablestore, "CHECKPOINT_EVERY", 1)
    st = _store(spark, tmp_path)
    _two_versions(spark, st, verb)
    prev = st._latest_manifest("db.t")
    data_dir = st._data_dir("db.t")

    def digest(rel):
        with open(os.path.join(data_dir, rel), "rb") as fh:
            return hashlib.sha256(fh.read()).hexdigest()

    digests = {f: digest(f) for f in prev.files}
    _REWRITE_VERBS[verb](st, spark.createDataFrame(_V_SOURCE))
    new = st._latest_manifest("db.t")
    assert new.version == prev.version + 1
    assert st._checkpoint_versions("db.t")[-1] == new.version

    prev_files, new_files = set(prev.files), set(new.files)
    carried = [f for f in new.files if f in prev_files]
    added = [f for f in new.files if f not in prev_files]
    # optimize rewrites every file; every other verb leaves some alone
    assert bool(carried) == (verb != "optimize")
    assert added
    for f in carried:
        assert digest(f) == digests[f]
        assert new.num_records[f] == prev.num_records[f]
        assert new.null_counts[f] == prev.null_counts[f]
    assert all(new.num_records[f] > 0 for f in added)
    data_columns = {f.name for f in new.schema.fields if f.name not in new.partition_by}
    assert all(set(new.null_counts[f]) == data_columns for f in added)

    with open(os.path.join(st._log_dir("db.t"), f"{new.version:08d}.json")) as fh:
        entry = json.load(fh)
    assert entry["add"] == added
    assert sorted(entry["remove"]) == sorted(prev_files - new_files)


def test_scd1_null_key_not_duplicated(spark, tmp_path):
    """A NULL-keyed source row eqNullSafe-matches a NULL-keyed target
    row: it must UPDATE it, not also insert a duplicate (r2 ADVICE)."""
    st = _store(spark, tmp_path)
    st.save_overwrite(
        spark.createDataFrame(
            [(None, "old"), ("b", "keep")], "k string, attr string"
        ),
        "db.dim",
    )
    src = spark.createDataFrame([(None, "new")], "k string, attr string")
    st.merge_scd1(src, "db.dim", keys=["k"], update_cols=["attr"])
    rows = {(r.k, r.attr) for r in st.read("db.dim").collect()}
    assert rows == {(None, "new"), ("b", "keep")}


def test_scd1_null_keys_insert_and_keep(spark, tmp_path):
    """The full outer join's NULL-key cases on a two-column key: a
    source row whose key tuple holds a NULL matches only a target row
    with the same tuple (updated once), else it is inserted once; a
    target row no source row matches is kept as it is."""
    st = _store(spark, tmp_path)
    schema = "k1 string, k2 int, attr string"
    st.save_overwrite(
        spark.createDataFrame([(None, 1, "t1"), ("a", None, "t2"), ("b", 2, "t3")], schema),
        "db.dim",
    )
    src = spark.createDataFrame(
        [(None, 1, "s1"), (None, 2, "s2"), ("a", 3, "s3"), (None, None, "s4")], schema
    )
    st.merge_scd1(src, "db.dim", keys=["k1", "k2"], update_cols=["attr"])
    rows = sorted(map(tuple, st.read("db.dim").collect()), key=str)
    assert rows == sorted(
        [
            (None, 1, "s1"),  # matched on (NULL, 1): updated, not duplicated
            ("a", None, "t2"),  # target-only NULL key: kept
            ("b", 2, "t3"),  # target-only: kept
            (None, 2, "s2"),  # source-only NULL key: inserted once
            ("a", 3, "s3"),  # source-only: inserted
            (None, None, "s4"),  # all-NULL key, no match: inserted once
        ],
        key=str,
    )
    assert st.row_count("db.dim") == 6


def _data_files(st, name):
    data_dir = st._data_dir(name)
    return sorted(
        os.path.relpath(os.path.join(d, f), data_dir)
        for d, _dirs, files in os.walk(data_dir)
        for f in files
    )


@pytest.mark.parametrize("verb", ["merge_scd1", "merge_scd2"])
def test_merge_rejects_duplicate_source_keys(spark, tmp_path, verb):
    """Duplicate source keys fail the merge's write job (Delta MERGE
    semantics) and leave the table as it was: same version, same data
    files, no staging directory."""
    st = _store(spark, tmp_path)
    base = spark.createDataFrame([Row(k="a", attr="x"), Row(k="b", attr="w")])
    dup_src = spark.createDataFrame(
        [Row(k="a", attr="y"), Row(k="a", attr="z"), Row(k="c", attr="v")]
    )
    if verb == "merge_scd1":
        st.save_overwrite(base, "db.dim")
        merge = lambda: st.merge_scd1(dup_src, "db.dim", keys=["k"], update_cols=["attr"])
    else:
        st.merge_scd2(base, "db.dim", keys=["k"], effective_ts="2024-01-01")
        merge = lambda: st.merge_scd2(dup_src, "db.dim", keys=["k"], effective_ts="2024-02-01")
    version, files = st._latest_manifest("db.dim").version, _data_files(st, "db.dim")
    with pytest.raises(ValueError, match="duplicate rows per key"):
        merge()
    assert st._latest_manifest("db.dim").version == version
    assert _data_files(st, "db.dim") == files
    assert not [d for d in os.listdir(st._table_dir("db.dim")) if d.startswith("_staging-")]


def test_failed_write_removes_staging_dir(spark, tmp_path):
    """A write job that raises leaves no _staging-* directory behind
    (vacuum only ever looks at data/)."""
    st = _store(spark, tmp_path)
    st.save_overwrite(spark.createDataFrame([Row(k=1)]), "db.t")
    failing = spark.range(0, 8, numPartitions=2).select(
        F.when(F.col("id") == 5, F.raise_error(F.lit("boom"))).otherwise(F.col("id")).alias("k")
    )
    with pytest.raises(Exception, match="boom"):
        st._write_files(failing, "db.t", [])
    assert not [d for d in os.listdir(st._table_dir("db.t")) if d.startswith("_staging-")]


@pytest.mark.parametrize("partition_by", [["y"], []], ids=["partitioned", "unpartitioned"])
def test_rerun_insert_only_merge_commits_nothing(spark, tmp_path, partition_by):
    """Re-running an insert-only merge inserts nothing and commits
    nothing: the log, the version and the data files stay as they were
    (no zero-row file, no empty commit)."""
    st = _store(spark, tmp_path)
    st.save_overwrite(
        spark.createDataFrame([Row(k="a", y=1), Row(k="b", y=2)]), "db.t",
        partition_by=partition_by,
    )
    src = spark.createDataFrame([Row(k="b", y=2), Row(k="c", y=2)])
    st.merge_insert_only(src, "db.t", keys=["k", "y"])
    log, files = sorted(os.listdir(st._log_dir("db.t"))), _data_files(st, "db.t")
    st.merge_insert_only(src, "db.t", keys=["k", "y"])
    assert sorted(os.listdir(st._log_dir("db.t"))) == log
    assert _data_files(st, "db.t") == files
    assert st._latest_manifest("db.t").version == 2
    assert st.row_count("db.t") == 3


@pytest.mark.parametrize("verb", sorted(_REWRITE_VERBS))
def test_row_count_matches_read_count(spark, tmp_path, verb):
    """row_count, summed from the log's per-file counts, equals a
    count() of the table after each writing verb and at an older
    version."""
    st = _store(spark, tmp_path)
    _two_versions(spark, st, verb)
    _REWRITE_VERBS[verb](st, spark.createDataFrame(_V_SOURCE))
    assert st.row_count("db.t") == st.read("db.t").count()
    for v in st._log_versions("db.t"):
        m = st._manifest_at("db.t", v)
        assert set(m.num_records) == set(m.files)  # every file's count is recorded
        assert st.row_count("db.t", version=v) == st.read("db.t", version=v).count()


def test_row_count_after_restore_and_without_recorded_counts(spark, tmp_path, monkeypatch):
    """row_count follows a restore, and counts files whose log entry
    carries no row count (an older log) from their footers."""
    import json

    from ironman_medallion_lakehouse_spark.sources import tablestore

    monkeypatch.setattr(tablestore, "CHECKPOINT_EVERY", 2)
    st = _store(spark, tmp_path)
    st.save_overwrite(spark.createDataFrame(_V_ROWS), "db.t", partition_by=["y"])  # v1
    st.merge_insert_only(spark.createDataFrame(_V_MORE), "db.t", keys=["k"])  # v2
    st.delete_where("db.t", "y = 2")  # v3
    assert st.restore("db.t", 2) == 4
    assert st.row_count("db.t") == st.read("db.t").count() == 3

    log_dir = st._log_dir("db.t")
    for fn in os.listdir(log_dir):
        path = os.path.join(log_dir, fn)
        with open(path) as fh:
            entry = json.load(fh)
        entry.pop("num_records", None)
        with open(path, "w") as fh:
            json.dump(entry, fh)
    for v in st._log_versions("db.t"):
        assert not st._manifest_at("db.t", v).num_records
        assert st.row_count("db.t", version=v) == st.read("db.t", version=v).count()


def test_log_entries_with_min_max_stats_still_replay(spark, tmp_path, monkeypatch):
    """Log entries and checkpoints written when the log also recorded
    per-file min/max ``stats`` replay to the same files, row counts and
    null counts; the key is ignored."""
    import json

    from ironman_medallion_lakehouse_spark.sources import tablestore

    monkeypatch.setattr(tablestore, "CHECKPOINT_EVERY", 2)
    st = _store(spark, tmp_path)
    st.save_overwrite(spark.createDataFrame(_V_ROWS), "db.t", partition_by=["y"])  # v1
    st.merge_insert_only(spark.createDataFrame(_V_MORE), "db.t", keys=["k"])  # v2 + checkpoint
    st.merge_scd1(spark.createDataFrame(_V_SOURCE), "db.t", keys=["k", "y"])  # v3
    versions = st._log_versions("db.t")
    want = {v: st._manifest_at("db.t", v) for v in versions}

    log_dir = st._log_dir("db.t")
    for fn in os.listdir(log_dir):
        path = os.path.join(log_dir, fn)
        with open(path) as fh:
            entry = json.load(fh)
        files = entry["files"] if "checkpoint" in fn else entry["add"]
        entry["stats"] = {f: {"k": ["a", "z"], "v": [1, 99]} for f in files}
        with open(path, "w") as fh:
            json.dump(entry, fh)
    assert st._checkpoint_versions("db.t") == [2]
    for v in versions:
        got = st._manifest_at("db.t", v)
        assert (got.files, got.num_records, got.null_counts) == (
            want[v].files, want[v].num_records, want[v].null_counts
        ), v
        assert st.row_count("db.t", version=v) == st.read("db.t", version=v).count()
    assert st.null_count("db.t", ["k", "v"]) == {"k": 0, "v": 0}


def _scanned_null_counts(df) -> dict[str, int]:
    """Each column's NULLs, counted by a scan."""
    row = df.agg(*[F.count(F.when(F.col(c).isNull(), 1)).alias(c) for c in df.columns]).first()
    return row.asDict()


def _assert_null_counts_match_scans(st, name):
    """null_count equals the scan for every column at every version."""
    for v in st._log_versions(name):
        df = st.read(name, version=v)
        want = _scanned_null_counts(df)
        for c in df.columns:
            assert st.null_count(name, [c], version=v) == {c: want[c]}, (v, c)


_NULL_ROWS = "k string, y long, v long"


@pytest.mark.parametrize("verb", sorted(_REWRITE_VERBS))
def test_null_count_matches_scan(spark, tmp_path, verb):
    """null_count, summed from the log's per-file null counts, equals
    a scan's count of NULLs in every column at every version: after
    save_overwrite, after a merge that adds a row with NULL payload and
    a NULL partition value, and after the verb under test."""
    st = _store(spark, tmp_path)
    _two_versions(spark, st, verb)
    nulls = spark.createDataFrame([("n", None, None), ("m", 2, None)], _NULL_ROWS)
    if verb == "merge_scd2":
        st.merge_scd2(nulls, "db.t", keys=["k", "y"], effective_ts="2024-02-15")
    else:
        st.merge_insert_only(nulls, "db.t", keys=["k", "y"])
    _REWRITE_VERBS[verb](st, spark.createDataFrame(_V_SOURCE))
    m = st._latest_manifest("db.t")
    assert set(m.null_counts) == set(m.files)  # every file's counts are recorded
    _assert_null_counts_match_scans(st, "db.t")


def test_null_counts_survive_checkpoint_optimize_and_restore(spark, tmp_path, monkeypatch):
    """Every commit is also a checkpoint, so each manifest read back is
    a snapshot: the null counts survive it, an optimize that rewrites
    every file, a later merge and a restore."""
    from ironman_medallion_lakehouse_spark.sources import tablestore

    monkeypatch.setattr(tablestore, "CHECKPOINT_EVERY", 1)
    st = _store(spark, tmp_path)
    rows = [("a", 1, None), ("b", 1, 2), ("c", None, 3)]
    st.save_overwrite(spark.createDataFrame(rows, _NULL_ROWS), "db.t", partition_by=["y"])  # v1
    st.merge_insert_only(spark.createDataFrame([("d", 2, None)], _NULL_ROWS), "db.t",
                         keys=["k"])  # v2
    st.optimize("db.t", min_files=1)  # v3
    st.merge_insert_only(spark.createDataFrame([("e", None, 4)], _NULL_ROWS), "db.t",
                         keys=["k"])  # v4
    assert st.restore("db.t", 2) == 5
    assert st._checkpoint_versions("db.t") == [1, 2, 3, 4, 5]
    for v in st._log_versions("db.t"):
        m = st._manifest_at("db.t", v)
        assert set(m.null_counts) == set(m.files), v  # logged, not read from footers
    assert st.null_count("db.t", ["v", "y"]) == {"v": 2, "y": 1}
    assert st.null_count("db.t", ["y"], version=4) == {"y": 2}
    _assert_null_counts_match_scans(st, "db.t")
    with pytest.raises(ValueError, match="no column"):
        st.null_count("db.t", ["nope"])


def test_null_count_without_recorded_counts_reads_footers(spark, tmp_path):
    """A log whose entries carry no null counts (an older log) is
    answered from the files' footers; a footer without null counts
    gives None, the caller's cue to scan, and added_null_count scans
    that commit's added files itself."""
    import json

    import pyarrow.parquet as pq

    st = _store(spark, tmp_path)
    st.save_overwrite(spark.createDataFrame([("a", 1, None), ("b", None, 2)], _NULL_ROWS),
                      "db.t", partition_by=["y"])
    st.merge_insert_only(spark.createDataFrame([("c", 1, None)], _NULL_ROWS), "db.t", keys=["k"])
    log_dir = st._log_dir("db.t")
    for fn in os.listdir(log_dir):
        path = os.path.join(log_dir, fn)
        with open(path) as fh:
            entry = json.load(fh)
        entry.pop("null_counts", None)
        with open(path, "w") as fh:
            json.dump(entry, fh)
    assert not st._latest_manifest("db.t").null_counts
    _assert_null_counts_match_scans(st, "db.t")

    rel = st._latest_manifest("db.t").files[0]
    path = os.path.join(st._data_dir("db.t"), rel)
    pq.write_table(pq.read_table(path), path, write_statistics=False)
    assert st.null_count("db.t", ["v"]) is None
    assert st.null_count("db.t", ["y"]) == {"y": 1}  # a partition column needs no stats
    # per commit: version 1 added the stripped file, so its count is scanned
    assert st.added_null_count("db.t", ["v"], 1) == {"v": 1}
    assert st.added_null_count("db.t", ["v"], 2) == {"v": 1}


def test_scd1_preserves_genuine_null_payload(spark, tmp_path):
    """A matched source row whose update column is legitimately NULL
    must write that NULL (not keep the old value)."""
    st = _store(spark, tmp_path)
    st.save_overwrite(spark.createDataFrame([Row(k="a", attr="old")]), "db.dim")
    src = spark.createDataFrame([("a", None)], "k string, attr string")
    st.merge_scd1(src, "db.dim", keys=["k"], update_cols=["attr"])
    assert [r.attr for r in st.read("db.dim").collect()] == [None]


def test_optimize_noop_when_nothing_to_compact(spark, tmp_path):
    """optimize() must not rewrite a table 1:1 when every data dir
    already holds a single file (r2 ADVICE: incremental runs were
    O(table) per run)."""
    st = _store(spark, tmp_path)
    st.save_overwrite(
        spark.createDataFrame([Row(k="a", y=1, v=1), Row(k="b", y=2, v=2)]).coalesce(1),
        "db.t",
        partition_by=["y"],
    )
    v = st._latest_manifest("db.t").version
    st.optimize("db.t")
    assert st._latest_manifest("db.t").version == v  # no new version
    # and with a raised threshold, 2 files/partition still no-op
    st.merge_insert_only(
        spark.createDataFrame([Row(k="c", y=1, v=3)]), "db.t", keys=["k"]
    )
    v2 = st._latest_manifest("db.t").version
    st.optimize("db.t", min_files=8)
    assert st._latest_manifest("db.t").version == v2


def test_optimize_compacts_partitioned_dirs(spark, tmp_path):
    """Partitioned OPTIMIZE bin-packs to one file per partition dir
    (previously a 1:1 rewrite with no coalescing)."""
    st = _store(spark, tmp_path)
    st.save_overwrite(
        spark.createDataFrame([Row(k=f"k{i}", y=i % 2, v=i) for i in range(20)]),
        "db.t",
        partition_by=["y"],
    )
    for i in range(3):
        st.merge_insert_only(
            spark.createDataFrame([Row(k=f"n{i}", y=i % 2, v=100 + i)]),
            "db.t",
            keys=["k"],
        )
    st.optimize("db.t")
    m = st._latest_manifest("db.t")
    dirs = {}
    for f in m.files:
        dirs.setdefault(os.path.dirname(f), []).append(f)
    assert all(len(fs) == 1 for fs in dirs.values())
    assert st.read("db.t").count() == 23


def test_commit_writes_delta_chunk_not_snapshot(spark, tmp_path):
    """A merge commit's log entry lists only the CHANGED files
    (O(changes)), never the whole table (r2: chunked manifests)."""
    import json as _json

    st = _store(spark, tmp_path)
    st.save_overwrite(
        spark.createDataFrame([Row(k=f"k{i}", y=i % 4, v=i) for i in range(40)]),
        "db.t",
        partition_by=["y"],
    )
    st.merge_insert_only(
        spark.createDataFrame([Row(k="new", y=1, v=999)]), "db.t", keys=["k"]
    )
    m = st._latest_manifest("db.t")
    with open(os.path.join(st._log_dir("db.t"), f"{m.version:08d}.json")) as fh:
        entry = _json.load(fh)
    assert "files" not in entry  # delta entry, not a snapshot
    assert entry["remove"] == []
    assert 0 < len(entry["add"]) < len(m.files)
    # counts travel only for the added files
    assert set(entry["num_records"]) == set(entry["null_counts"]) == set(entry["add"])


def test_checkpoint_and_replay_time_travel(spark, tmp_path):
    """12 commits → checkpoint at version 10; every historical version
    is still reconstructable by checkpoint + bounded replay."""
    st = _store(spark, tmp_path)
    st.save_overwrite(spark.createDataFrame([Row(k="k0", v=0)]), "db.t")
    for i in range(1, 12):
        st.merge_insert_only(
            spark.createDataFrame([Row(k=f"k{i}", v=i)]), "db.t", keys=["k"]
        )
    assert st._checkpoint_versions("db.t") == [10]
    assert st._latest_manifest("db.t").version == 12
    for version, expected in [(1, 1), (5, 5), (10, 10), (12, 12)]:
        assert st.read("db.t", version=version).count() == expected
    # change feed across the checkpoint boundary
    assert st.table_changes("db.t", 9, 11).count() == 2


def test_rebalanced_write_bounds_files_per_partition(spark, tmp_path):
    """The write layer's rebalance hint (the Delta optimizeWrite
    analogue): a T-task upstream writing P hive partitions must NOT
    emit T×P files — the hint routes each partition's rows together
    first."""
    st = _store(spark, tmp_path)
    df = (
        spark.range(0, 200)
        .withColumn("year", (F.col("id") % 2 + 2023).cast("int"))
        .repartition(8)  # adversarial upstream: every task sees both years
    )
    st.save_overwrite(df, "db.opt", partition_by=["year"])
    m = st._latest_manifest("db.opt")
    from collections import Counter

    per_dir = Counter(os.path.dirname(f) for f in m.files)
    assert set(per_dir) == {"year=2023", "year=2024"}
    assert max(per_dir.values()) == 1  # AQE rebalance coalesced each year

    raw = st._write_files(df, "db.raw", ["year"], distribute=False)
    raw_dirs = Counter(os.path.dirname(f) for f in raw)
    assert max(raw_dirs.values()) > 1  # without it: one file per task per year


def test_partition_path_values_are_sparks_cast_strings(spark, tmp_path):
    """The partition prune (``_plan_files``, ``read_partitions``)
    compares wanted values in Spark's ``cast(v AS STRING)`` form with
    the values ``partition_values`` decodes from the written paths. Pin
    that both are one string for every row, over the types a partition
    column takes: doubles inside and outside Java's plain-decimal
    range, -0.0, NaN and Infinity, a float, a decimal at its declared
    scale, a timestamp with micros, a date, bools, a string that needs
    escaping, and ``""`` and NULL, which both land in the default
    partition and decode as None. A value of any other type raises."""
    import datetime
    from decimal import Decimal

    import pyarrow.parquet as pq

    from ironman_medallion_lakehouse_spark.sources.tablestore import partition_values

    st = _store(spark, tmp_path)
    cases = {
        "double": [1e-7, 1.5e7, -0.0, float("nan"), float("inf"), 0.001, 2.0, None],
        "float": [123456789.0, 0.1, None],
        "decimal(10,4)": [Decimal("5"), Decimal("-0.0100"), Decimal("12.34")],
        "timestamp": [
            datetime.datetime(2023, 1, 5, 7, 8, 9, 123450),
            datetime.datetime(2023, 1, 5, 7, 8, 9),
        ],
        "date": [datetime.date(2024, 3, 1)],
        "boolean": [True, False, None],
        "string": ["a b/c:d%e=f", "plain", "", None],
    }
    for i, (dtype, values) in enumerate(cases.items()):
        name = f"db.pin{i}"
        df = spark.createDataFrame(list(enumerate(values)), f"id int, v {dtype}")
        st.save_overwrite(df, name, partition_by=["v"])
        want = {
            r.id: r.s or None
            for r in df.select("id", F.col("v").cast("string").alias("s")).collect()
        }
        got = {}
        for f in st._latest_manifest(name).files:
            ((_col, value),) = partition_values(f, ["v"])
            ids = pq.read_table(os.path.join(st._data_dir(name), f), columns=["id"])
            got.update((row_id, value) for row_id in ids.column("id").to_pylist())
        assert got == want, dtype
        # read_partitions finds every row by those strings
        found = st.read_partitions(name, "v", list(want.values())).collect()
        assert sorted(r.id for r in found) == sorted(want), dtype
    # a typed value would match no path string: it raises instead of
    # silently reading nothing
    with pytest.raises(TypeError, match="cast"):
        st.read_partitions("db.pin0", "v", [2.0])


def test_read_partitions_escaped_and_null_values(spark, tmp_path):
    """Partition dirs use Spark's path escaping ('a b' → 'a%20b') and
    __HIVE_DEFAULT_PARTITION__ for NULL; read_partitions must parse
    them, not string-format the wanted values."""
    st = _store(spark, tmp_path)
    df = spark.createDataFrame(
        [Row(cat="a b", v=1), Row(cat="plain", v=2), Row(cat=None, v=3),
         Row(cat="x:y", v=4)]
    )
    st.save_overwrite(df, "db.esc", partition_by=["cat"])
    assert [r.v for r in st.read_partitions("db.esc", "cat", ["a b"]).collect()] == [1]
    assert [r.v for r in st.read_partitions("db.esc", "cat", ["x:y"]).collect()] == [4]
    got = {r.v for r in st.read_partitions("db.esc", "cat", ["plain", None]).collect()}
    assert got == {2, 3}


def test_read_partitions_bool_and_date_values(spark, tmp_path):
    """Spark renders partition values as ``cast(v AS STRING)``: booleans
    lowercase ('flag=true'), dates ISO ('d=2024-03-01'). read_partitions
    finds them by those strings."""
    import datetime

    st = _store(spark, tmp_path)
    df = spark.createDataFrame(
        [Row(flag=True, d=datetime.date(2024, 3, 1), v=1),
         Row(flag=False, d=datetime.date(2024, 3, 2), v=2)]
    )
    st.save_overwrite(df, "db.boolp", partition_by=["flag"])
    assert [r.v for r in st.read_partitions("db.boolp", "flag", ["true"]).collect()] == [1]
    assert [r.v for r in st.read_partitions("db.boolp", "flag", ["false"]).collect()] == [2]

    st.save_overwrite(df, "db.datep", partition_by=["d"])
    got = st.read_partitions("db.datep", "d", ["2024-03-01"]).collect()
    assert [r.v for r in got] == [1]


def test_read_partitions_float_timestamp_decimal(spark, tmp_path):
    """Float, timestamp-with-microseconds and decimal partition keys are
    found by Spark's rendering of them: Java Double.toString scientific
    form, trailing-zero-trimmed fractions, the declared decimal scale."""
    import datetime
    from decimal import Decimal

    st = _store(spark, tmp_path)

    # doubles incl. the scientific-notation renderings Spark uses
    st.save_overwrite(
        spark.createDataFrame(
            [(1, 1.5), (2, 1e-7), (3, 12345678.0), (4, 0.001), (5, 2.0)],
            "id int, f double",
        ),
        "db.fp",
        partition_by=["f"],
    )
    got = {
        r.id for r in st.read_partitions("db.fp", "f", ["1.0E-7", "1.2345678E7", "2.0"]).collect()
    }
    assert got == {2, 3, 5}

    ts = [
        (1, datetime.datetime(2023, 1, 5, 7, 8, 9)),
        (2, datetime.datetime(2023, 1, 5, 7, 8, 9, 500000)),
        (3, datetime.datetime(2023, 1, 5, 7, 8, 9, 123456)),
    ]
    st.save_overwrite(
        spark.createDataFrame(ts, "id int, t timestamp"), "db.ts", partition_by=["t"]
    )
    wanted = ["2023-01-05 07:08:09.5", "2023-01-05 07:08:09.123456"]
    got = {r.id for r in st.read_partitions("db.ts", "t", wanted).collect()}
    assert got == {2, 3}

    st.save_overwrite(
        spark.createDataFrame(
            [(1, Decimal("12.3400")), (2, Decimal("5")), (3, Decimal("-0.0100"))],
            "id int, d decimal(10,4)",
        ),
        "db.dec",
        partition_by=["d"],
    )
    # Decimal("5") is written at the column scale: 5.0000
    got = {r.id for r in st.read_partitions("db.dec", "d", ["5.0000", "-0.0100"]).collect()}
    assert got == {2, 3}


@pytest.mark.parametrize("merge", ["merge_insert_only", "merge_scd1"])
def test_merge_on_float_partition_key_keeps_one_row_per_key(spark, tmp_path, merge):
    """A FloatType partition key: Spark writes 123456789.0f as
    '1.23456792E8'. The merge must find the target row in that
    partition, so the key keeps one row."""
    st = _store(spark, tmp_path)
    schema = "k string, f float, v int"
    st.save_overwrite(
        spark.createDataFrame([("a", 123456789.0, 1), ("b", 0.5, 1)], schema),
        "db.fk",
        partition_by=["f"],
    )
    getattr(st, merge)(
        spark.createDataFrame([("a", 123456789.0, 2)], schema), "db.fk", keys=["k", "f"]
    )
    got = sorted((r.k, r.v) for r in st.read("db.fk").collect())
    assert got == [("a", 1 if merge == "merge_insert_only" else 2), ("b", 1)]


@pytest.fixture
def new_york_tz(monkeypatch):
    """The driver's Python time zone set away from the session's UTC."""
    import time

    monkeypatch.setenv("TZ", "America/New_York")
    time.tzset()
    yield
    monkeypatch.undo()
    time.tzset()


@pytest.mark.parametrize("merge", ["merge_insert_only", "merge_scd1"])
def test_merge_on_timestamp_partition_key_ignores_driver_tz(
    spark, tmp_path, new_york_tz, merge
):
    """A timestamp partition key is written in the session's time zone
    (UTC). With the driver's Python time zone elsewhere, the merge must
    still find the target partition, so the key keeps one row."""
    st = _store(spark, tmp_path)

    def rows(v: int):
        return spark.sql(
            f"SELECT 'a' AS k, TIMESTAMP'2023-01-05 07:08:09.5' AS t, {v} AS v"
        )

    st.save_overwrite(rows(1), "db.tk", partition_by=["t"])
    getattr(st, merge)(rows(2), "db.tk", keys=["k", "t"])
    got = [(r.k, r.v) for r in st.read("db.tk").collect()]
    assert got == [("a", 1 if merge == "merge_insert_only" else 2)]


def test_scd1_partition_scoped_rewrite(spark, tmp_path):
    """r2 VERDICT #1: SCD-1 on a partitioned target (partition col in
    keys) must rewrite ONLY source-touched partitions — untouched
    partitions' files stay byte-identical in the manifest, and the
    change feed across the merge contains only touched-partition rows."""
    st = _store(spark, tmp_path)
    base = spark.createDataFrame(
        [
            Row(k="a", y=1, attr="old", created="c1"),
            Row(k="b", y=1, attr="keep", created="c2"),
            Row(k="z", y=2, attr="other", created="c3"),
        ]
    )
    st.save_overwrite(base, "db.dim", partition_by=["y"])
    m1 = st._latest_manifest("db.dim")
    y2_files = sorted(f for f in m1.files if f.startswith("y=2"))
    assert y2_files, "fixture must produce a y=2 partition file"

    src = spark.createDataFrame(
        [Row(k="a", y=1, attr="new", created="cX"), Row(k="c", y=1, attr="ins", created="c4")]
    )
    st.merge_scd1(src, "db.dim", keys=["k", "y"], update_cols=["attr"])

    rows = {r.k: (r.attr, r.created, r.y) for r in st.read("db.dim").collect()}
    assert rows["a"] == ("new", "c1", 1)
    assert rows["b"] == ("keep", "c2", 1)
    assert rows["c"] == ("ins", "c4", 1)
    assert rows["z"] == ("other", "c3", 2)

    m2 = st._latest_manifest("db.dim")
    # untouched partition's files carried forward byte-identical
    assert sorted(f for f in m2.files if f.startswith("y=2")) == y2_files
    # the touched partition was rewritten (no y=1 file survives)
    y1_old = {f for f in m1.files if f.startswith("y=1")}
    assert not y1_old & set(m2.files)
    # CDC across the merge = touched-partition rows only
    changed = st.table_changes("db.dim", m1.version, m2.version)
    assert {r.y for r in changed.collect()} == {1}


def test_scd1_full_rewrite_when_partition_not_in_keys(spark, tmp_path):
    """When partition cols are not all merge keys a match may live in
    any partition — the merge must fall back to a full rewrite and
    still produce correct SCD-1 results."""
    st = _store(spark, tmp_path)
    st.save_overwrite(
        spark.createDataFrame([Row(k="a", y=1, attr="old"), Row(k="b", y=2, attr="keep")]),
        "db.dim",
        partition_by=["y"],
    )
    # source row carries y=2 but matches k='a' living in y=1
    st.merge_scd1(
        spark.createDataFrame([Row(k="a", y=2, attr="new")]),
        "db.dim",
        keys=["k"],
        update_cols=["attr"],
    )
    rows = {r.k: (r.attr, r.y) for r in st.read("db.dim").collect()}
    assert rows["a"] == ("new", 1)  # attr updated, partition col kept (not an update_col)
    assert rows["b"] == ("keep", 2)


def test_vacuum_retention_horizon(spark, tmp_path):
    """r3 ADVICE (medium): vacuum with a retention horizon
    (``retain_versions``) keeps files of recent versions so time travel
    / stream replay inside the horizon still works; default (retain
    nothing) keeps only latest."""
    st = _store(spark, tmp_path)
    st.save_overwrite(spark.createDataFrame([Row(k="a", v=1)]), "db.t")  # v1
    st.save_overwrite(spark.createDataFrame([Row(k="b", v=2)]), "db.t")  # v2
    st.save_overwrite(spark.createDataFrame([Row(k="c", v=3)]), "db.t")  # v3

    # retain one version back: v2 must stay readable, v1's files go
    removed = st.vacuum("db.t", retain_versions=1)
    assert removed > 0
    assert {r.k for r in st.read("db.t", version=2).collect()} == {"b"}
    # default: only latest survives
    st.vacuum("db.t")
    assert {r.k for r in st.read("db.t").collect()} == {"c"}
    try:
        st.read("db.t", version=2).collect()
        raised = False
    except Exception:
        raised = True
    assert raised


def test_restore_to_version(spark, tmp_path):
    """RESTORE analogue: restoring commits a NEW version equal to the
    target state (no data copied), preserves history (time travel to
    the pre-restore state still works), surfaces in the change feed,
    and refuses to restore past a vacuum."""
    import pytest

    st = _store(spark, tmp_path)
    st.save_overwrite(spark.createDataFrame([Row(k=1, v="a"), Row(k=2, v="b")]), "db.t")  # v1
    st.merge_insert_only(spark.createDataFrame([Row(k=3, v="c")]), "db.t", keys=["k"])  # v2
    st.merge_scd1(
        spark.createDataFrame([Row(k=1, v="A")]), "db.t", keys=["k"], update_cols=["v"]
    )  # v3
    new_v = st.restore("db.t", 2)  # v4 == state at v2
    assert new_v == 4
    assert {(r.k, r.v) for r in st.read("db.t").collect()} == {(1, "a"), (2, "b"), (3, "c")}
    # history preserved: the pre-restore SCD-1 state is still travelable
    assert {(r.k, r.v) for r in st.read("db.t", version=3).collect()} == {
        (1, "A"), (2, "b"), (3, "c"),
    }
    # the restore is visible to CDC as adds of the re-referenced files
    assert st.table_changes("db.t", 3, 4).count() > 0
    with pytest.raises(ValueError):
        st.restore("db.t", 99)
    # vacuum away old files → restore past the horizon must refuse
    st.vacuum("db.t")
    with pytest.raises(FileNotFoundError):
        st.restore("db.t", 3)


def test_merge_scd2_history_tracking(spark, tmp_path):
    """SCD Type-2: changed keys close the current row and open a new
    version; unchanged keys are no-ops (replay-idempotent); new keys
    insert an open row; history rows are never modified."""
    import pytest

    st = _store(spark, tmp_path)
    st.merge_scd2(
        spark.createDataFrame([Row(k=1, city="nyc"), Row(k=2, city="sf")]),
        "db.dim",
        keys=["k"],
        effective_ts="2024-01-01",
    )  # v1: creates with open rows
    # k=1 moves, k=2 unchanged, k=3 new
    st.merge_scd2(
        spark.createDataFrame(
            [Row(k=1, city="boston"), Row(k=2, city="sf"), Row(k=3, city="la")]
        ),
        "db.dim",
        keys=["k"],
        effective_ts="2024-06-01",
    )  # v2
    rows = {
        (r.k, r.city, str(r.valid_from)[:10], r.valid_to and str(r.valid_to)[:10], r.is_current)
        for r in st.read("db.dim").collect()
    }
    assert rows == {
        (1, "nyc", "2024-01-01", "2024-06-01", False),   # closed
        (1, "boston", "2024-06-01", None, True),          # new version
        (2, "sf", "2024-01-01", None, True),              # untouched
        (3, "la", "2024-06-01", None, True),              # new key
    }
    # replay the same merge: nothing is tracked-changed → same state
    st.merge_scd2(
        spark.createDataFrame(
            [Row(k=1, city="boston"), Row(k=2, city="sf"), Row(k=3, city="la")]
        ),
        "db.dim",
        keys=["k"],
        effective_ts="2024-06-01",
    )  # v3
    assert st.read("db.dim").count() == 4
    cur = {(r.k, r.city) for r in st.read("db.dim").filter("is_current").collect()}
    assert cur == {(1, "boston"), (2, "sf"), (3, "la")}
    # second change to k=1: full timeline retained
    st.merge_scd2(
        spark.createDataFrame([Row(k=1, city="chicago")]),
        "db.dim",
        keys=["k"],
        effective_ts="2025-01-01",
    )
    timeline = sorted(
        (str(r.valid_from)[:10], r.valid_to and str(r.valid_to)[:10], r.city)
        for r in st.read("db.dim").filter("k = 1").collect()
    )
    assert timeline == [
        ("2024-01-01", "2024-06-01", "nyc"),
        ("2024-06-01", "2025-01-01", "boston"),
        ("2025-01-01", None, "chicago"),
    ]
    # contract errors: duplicate source keys; source carrying meta cols
    with pytest.raises(ValueError):
        st.merge_scd2(
            spark.createDataFrame([Row(k=1, city="x"), Row(k=1, city="y")]),
            "db.dim", keys=["k"], effective_ts="2025-02-01",
        )
    with pytest.raises(ValueError):
        st.merge_scd2(
            spark.createDataFrame([Row(k=9, city="z", is_current=True)]),
            "db.dim", keys=["k"], effective_ts="2025-02-01",
        )


def test_merge_scd2_partition_scoped_rewrite(spark, tmp_path):
    """With partition ⊆ key, an SCD-2 merge touching one partition
    carries the other partition's files forward byte-identical and the
    change feed contains only touched-partition rows."""
    st = _store(spark, tmp_path)
    v1 = spark.createDataFrame([Row(region="east", k=1, v="a"), Row(region="west", k=2, v="b")])
    st.save_overwrite(_opened(v1, "2024-01-01"), "db.p", partition_by=["region"])  # v1
    m1 = st._latest_manifest("db.p")
    west_files = [f for f in m1.files if "region=west" in f]
    st.merge_scd2(
        spark.createDataFrame([Row(region="east", k=1, v="a2")]),
        "db.p",
        keys=["region", "k"],
        effective_ts="2024-02-01",
    )  # v2: east only
    m2 = st._latest_manifest("db.p")
    assert [f for f in m2.files if "region=west" in f] == west_files
    cdc = st.table_changes("db.p", 1, 2)
    assert {r.region for r in cdc.collect()} == {"east"}
    rows = {(r.k, r.v, r.is_current) for r in st.read("db.p").collect()}
    assert rows == {(1, "a", False), (1, "a2", True), (2, "b", True)}


def test_merge_rejects_source_only_columns(spark, tmp_path):
    """A merge source carrying a column the table lacks fails before
    anything is committed (Delta MERGE without autoMerge); schema
    evolution is a full load, and time travel keeps each version's own
    schema."""
    st = _store(spark, tmp_path)
    st.save_overwrite(spark.createDataFrame([Row(k=1, v="a")]), "db.e")  # v1
    wide = spark.createDataFrame([Row(k=2, v="b", extra=10)])
    with pytest.raises(ValueError, match="extra"):
        st.merge_insert_only(wide, "db.e", keys=["k"])
    with pytest.raises(ValueError, match="extra"):
        st.merge_scd1(wide, "db.e", keys=["k"])
    assert st.version("db.e") == 1
    st.save_overwrite(wide, "db.e")  # v2 widens
    assert st.read("db.e").columns == ["k", "v", "extra"]
    assert st.read("db.e", version=1).columns == ["k", "v"]


def test_version_changes_single_walk_matches_per_version(spark, tmp_path):
    """The single-pass range walker (r3 ADVICE) must report, for every
    committed version, exactly the files that version's manifest adds
    over the previous version's."""
    from ironman_medallion_lakehouse_spark.sources.tablestore import version_changes

    st = _store(spark, tmp_path)
    st.save_overwrite(
        spark.createDataFrame([Row(k="a", y=1, v=1), Row(k="z", y=2, v=9)]),
        "db.t",
        partition_by=["y"],
    )
    st.merge_insert_only(
        spark.createDataFrame([Row(k="b", y=1, v=2)]), "db.t", keys=["k", "y"]
    )
    st.merge_scd1(
        spark.createDataFrame([Row(k="a", y=1, v=10)]), "db.t", keys=["k", "y"]
    )
    st.optimize("db.t", min_files=1)
    log_dir = st._log_dir("db.t")
    walked = version_changes(log_dir, 0, 4)
    assert [v for v, _pb, _a in walked] == [1, 2, 3, 4]
    for v, pb, added in walked:
        prev = set(st._manifest_at("db.t", v - 1).files) if v > 1 else set()
        assert added == [f for f in st._manifest_at("db.t", v).files if f not in prev]
        assert added
        assert pb == ["y"]


def test_delete_where_rewrites_only_touched_files(spark, tmp_path):
    """DELETE FROM ... WHERE: SQL three-valued semantics (NULL
    condition keeps the row), untouched files — including files in the
    same partition with no matching row — carry forward byte-identical,
    and the change feed reports only touched-file rows."""
    st = _store(spark, tmp_path)
    st.save_overwrite(
        spark.createDataFrame(
            [
                Row(k=1, y=1, v=5),
                Row(k=2, y=1, v=50),
                Row(k=3, y=2, v=5),
                Row(k=4, y=2, v=None),
            ]
        ),
        "db.d",
        partition_by=["y"],
    )
    m1 = st._latest_manifest("db.d")
    metrics = st.delete_where("db.d", "v > 10")
    assert metrics["rows_deleted"] == 1 and metrics["version"] == 2
    rows = {(r.k, r.v) for r in st.read("db.d").collect()}
    # v=50 deleted; v=5 rows and the NULL-condition row kept
    assert rows == {(1, 5), (3, 5), (4, None)}
    m2 = st._latest_manifest("db.d")
    # y=2 holds no matching row: its files carry forward path-identical
    y2_files = [f for f in m1.files if "y=2" in f]
    assert y2_files and set(y2_files) <= set(m2.files)
    # CDC across the delete only reports touched-partition rows
    changed = st.table_changes("db.d", 1, 2)
    assert {r.y for r in changed.collect()} == {1}
    # no-match delete commits nothing
    again = st.delete_where("db.d", "v > 1000")
    assert again["files_rewritten"] == 0 and again["version"] == 2
    assert st._latest_manifest("db.d").version == 2


# ------------------------------------------------------------- txn (watermarks)
def _log_entry(st, name, version) -> dict:
    import json as _json

    with open(os.path.join(st._log_dir(name), f"{version:08d}.json")) as fh:
        return _json.load(fh)


def test_txns_survive_checkpoint(spark, tmp_path):
    """A txn set at version 1 is carried through 11 later commits and a
    checkpoint; each version replays the txns it committed."""
    import json as _json

    from ironman_medallion_lakehouse_spark.sources.tablestore import CHECKPOINT_EVERY

    st = _store(spark, tmp_path)
    rows = spark.createDataFrame([Row(k="a", v=1)])
    st.save_overwrite(rows, "db.t", txn=("loader", {"files": ["a.csv"], "size": 3}))
    for i in range(2, CHECKPOINT_EVERY + 3):
        # inserts nothing: every later version is a txn-only commit
        st.merge_insert_only(rows, "db.t", keys=["k"], txn=("merger", i))
    assert st._checkpoint_versions("db.t") == [CHECKPOINT_EVERY]
    assert st.version("db.t") == CHECKPOINT_EVERY + 2
    with open(os.path.join(st._log_dir("db.t"), f"{CHECKPOINT_EVERY:08d}.checkpoint.json")) as fh:
        assert _json.load(fh)["txns"] == {
            "loader": {"files": ["a.csv"], "size": 3}, "merger": CHECKPOINT_EVERY,
        }
    assert st.last_txn("db.t", "loader") == {"files": ["a.csv"], "size": 3}
    assert st.last_txn("db.t", "merger") == CHECKPOINT_EVERY + 2
    assert st.last_txn("db.t", "nobody") is None
    assert st.last_txn("db.missing", "loader") is None
    for v in (1, 5, CHECKPOINT_EVERY + 1):
        assert st._manifest_at("db.t", v).txns.get("merger") == (v if v > 1 else None)
    assert st.row_count("db.t") == 1


def test_optimize_carries_txns_forward(spark, tmp_path):
    st = _store(spark, tmp_path)
    st.save_overwrite(
        spark.createDataFrame([Row(k="a", y=1)]), "db.t", partition_by=["y"], txn=("app", 1)
    )
    st.merge_insert_only(
        spark.createDataFrame([Row(k="b", y=1)]), "db.t", keys=["k"], txn=("app", 2)
    )
    before = st._latest_manifest("db.t")
    assert len(before.files) == 2
    st.optimize("db.t", min_files=2)
    after = st._latest_manifest("db.t")
    assert after.version == before.version + 1 and len(after.files) == 1
    assert after.txns == {"app": 2}
    assert "txn" not in _log_entry(st, "db.t", after.version)  # unchanged: not re-logged


@pytest.mark.parametrize("partition_by", [["y"], []], ids=["partitioned", "unpartitioned"])
def test_txn_only_merge_commits_metadata_once(spark, tmp_path, partition_by):
    """A merge that inserts nothing but carries a new txn value makes
    exactly one commit, adding and removing no file; the same txn
    again makes none."""
    st = _store(spark, tmp_path)
    src = spark.createDataFrame([Row(k="a", y=1), Row(k="b", y=2)])
    st.save_overwrite(src, "db.t", partition_by=partition_by)
    files = _data_files(st, "db.t")
    st.merge_insert_only(src, "db.t", keys=["k", "y"], txn=("app", [2024, "x"]))
    assert st.version("db.t") == 2
    entry = _log_entry(st, "db.t", 2)
    assert (entry["add"], entry["remove"], entry["txn"]) == ([], [], {"app": [2024, "x"]})
    assert _data_files(st, "db.t") == files
    st.merge_insert_only(src, "db.t", keys=["k", "y"], txn=("app", (2024, "x")))
    assert st.version("db.t") == 2  # a tuple is the same JSON value
    assert st.last_txn("db.t", "app") == [2024, "x"]
    assert st.row_count("db.t") == 2


def test_restore_returns_the_versions_txns(spark, tmp_path):
    st = _store(spark, tmp_path)
    st.save_overwrite(spark.createDataFrame([Row(k=1)]), "db.t")  # v1: no txn
    st.merge_insert_only(spark.createDataFrame([Row(k=2)]), "db.t", keys=["k"], txn=("app", 2))
    st.merge_scd1(spark.createDataFrame([Row(k=3)]), "db.t", keys=["k"], txn=("app", 3))
    assert st.last_txn("db.t", "app") == 3
    st.restore("db.t", 2)
    assert st.last_txn("db.t", "app") == 2
    st.restore("db.t", 1)  # the work recorded after v1 is undone with its txn
    assert st.last_txn("db.t", "app") is None
    assert _log_entry(st, "db.t", st.version("db.t"))["txn"] == {}


def _rules():
    return {
        "negative_v": F.count(F.when(F.col("v") < 0, 1)),
        "null_v": F.count(F.when(F.col("v").isNull(), 1)),
    }


def _scanned(st, name) -> dict[str, int]:
    df = st.read(name)
    return dict(zip(_rules(), df.agg(*_rules().values()).collect()[0]))


def test_merge_of_existing_keys_observes_zero_rows(spark, tmp_path):
    """An insert-only merge whose every source key already exists
    inserts nothing: its observed counts are zeros, taken without
    asking the Observation of a write that committed no row, and the
    totals stay those of the table."""
    st = _store(spark, tmp_path)
    base = spark.createDataFrame(
        [Row(k="a", y=1, v=-1), Row(k="b", y=1, v=None), Row(k="c", y=2, v=3)]
    )
    st.save_overwrite(base, "db.t", partition_by=["y"], observe=_rules())
    want = {"negative_v": 1, "null_v": 1}
    assert st.observed_totals("db.t") == want
    again = spark.createDataFrame([Row(k="a", y=1, v=-5), Row(k="c", y=2, v=None)])
    st.merge_insert_only(again, "db.t", keys=["k", "y"], txn=("app", 1), observe=_rules())
    assert st.version("db.t") == 2  # the txn alone was committed
    assert st.observed_totals("db.t") == want == _scanned(st, "db.t")


def test_observed_totals_follow_each_verb(spark, tmp_path, monkeypatch):
    """An overwrite sets the observed totals, an insert-only merge adds
    the counts of the rows it inserts, optimize carries them, restore
    copies the restored version's, and they survive log replay through
    checkpoints; a merge without the same rules, an SCD-1 merge and a
    delete clear them."""
    from ironman_medallion_lakehouse_spark.sources import tablestore

    monkeypatch.setattr(tablestore, "CHECKPOINT_EVERY", 2)
    st = _store(spark, tmp_path)
    base = spark.createDataFrame(
        [Row(k="a", y=1, v=-1), Row(k="b", y=1, v=None), Row(k="c", y=2, v=3)]
    )
    st.save_overwrite(base, "db.t", partition_by=["y"], observe=_rules())  # v1
    first = st.observed_totals("db.t")
    assert first == _scanned(st, "db.t") == {"negative_v": 1, "null_v": 1}
    # "a" exists: its negative v is not inserted, so not counted
    more = spark.createDataFrame(
        [Row(k="a", y=1, v=-9), Row(k="d", y=1, v=-2), Row(k="e", y=2, v=None)]
    )
    st.merge_insert_only(more, "db.t", keys=["k"], observe=_rules())  # v2 + checkpoint
    assert st.observed_totals("db.t") == _scanned(st, "db.t") == {"negative_v": 2, "null_v": 2}
    st.optimize("db.t")  # v3: two files in y=1 and y=2
    assert st.version("db.t") == 3
    assert st.observed_totals("db.t") == _scanned(st, "db.t") == {"negative_v": 2, "null_v": 2}
    # a fresh store replays the log, checkpoints included
    replayed = TableStore(spark, st.root)
    assert [replayed._manifest_at("db.t", v).metrics for v in (1, 2, 3)] == [
        first, {"negative_v": 2, "null_v": 2}, {"negative_v": 2, "null_v": 2}]
    assert st.restore("db.t", 1) == 4
    assert st.observed_totals("db.t") == first == _scanned(st, "db.t")

    st.merge_insert_only(spark.createDataFrame([Row(k="f", y=2, v=-3)]), "db.t", keys=["k"])
    assert st.observed_totals("db.t") == {}
    other = {"negative_v": _rules()["negative_v"]}
    st.save_overwrite(base, "db.t", partition_by=["y"], observe=_rules())
    st.merge_insert_only(
        spark.createDataFrame([Row(k="g", y=2, v=1)]), "db.t", keys=["k"], observe=other
    )
    assert st.observed_totals("db.t") == {}
    for change in (
        lambda: st.merge_scd1(spark.createDataFrame([Row(k="a", y=1, v=7)]), "db.t", keys=["k"]),
        lambda: st.delete_where("db.t", "k = 'b'"),
    ):
        st.save_overwrite(base, "db.t", partition_by=["y"], observe=_rules())
        assert st.observed_totals("db.t") == first
        change()
        assert st.observed_totals("db.t") == {}
