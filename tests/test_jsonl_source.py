"""sources/jsonl.py: the JSONL crawl-dump landing contract — explicit
schema, PERMISSIVE field semantics, verbatim line-level quarantine,
lineage metadata. Pins the parse/quarantine boundary exactly:
object-with-wrong-types parses (fields NULL), non-object garbage
quarantines with the raw line intact."""

from __future__ import annotations

import pytest
from pyspark.sql.types import LongType, StringType, StructField, StructType

from ironman_medallion_lakehouse_spark.sources.jsonl import (
    read_jsonl,
    split_quarantine,
)

SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("text", StringType()),
        StructField("lang", StringType()),
    ]
)

GOOD = [
    '{"doc_id": 1, "text": "hello world", "lang": "en"}',
    '{"doc_id": 2, "text": "zweites dokument", "lang": "de"}',
    '{"doc_id": 3, "text": "missing lang is fine"}',
]
TYPE_DRIFT = '{"doc_id": "not-a-number", "text": "drifted id", "lang": "en"}'
GARBAGE = "<html>not json at all</html>"
TRUNCATED = '{"doc_id": 5, "text": "truncated li'


def _write(tmp_path, name: str, lines: list[str]) -> str:
    p = tmp_path / name
    p.write_text("\n".join(lines) + "\n")
    return str(p)


def test_clean_lines_parse_with_lineage(spark, tmp_path):
    path = _write(tmp_path, "dump.jsonl", GOOD)
    df = read_jsonl(spark, path, SCHEMA)
    rows = {r.doc_id: r for r in df.collect()}
    assert set(rows) == {1, 2, 3}
    assert rows[1].text == "hello world"
    assert rows[3].lang is None  # absent field reads NULL, line is clean
    assert all(not r._malformed and r._raw is None for r in rows.values())
    assert all(r._source_file.endswith("dump.jsonl") for r in rows.values())
    # schema fields first, bookkeeping last — a stable landing contract
    assert df.columns == ["doc_id", "text", "lang", "_source_file", "_malformed", "_raw"]


def test_quarantine_boundary_and_verbatim_raw(spark, tmp_path):
    """Garbage, truncation, AND a type-drifted field all quarantine
    the LINE verbatim (lossless + loud — see module docstring); an
    ABSENT field is valid JSON and stays clean with a NULL."""
    path = _write(tmp_path, "dump.jsonl", GOOD + [TYPE_DRIFT, GARBAGE, TRUNCATED])
    clean, quarantine = split_quarantine(read_jsonl(spark, path, SCHEMA))
    got_clean = clean.collect()
    assert {r.doc_id for r in got_clean} == {1, 2, 3}
    assert "_raw" not in clean.columns and "_malformed" not in clean.columns
    got_q = {r._raw for r in quarantine.collect()}
    assert got_q == {TYPE_DRIFT, GARBAGE, TRUNCATED}  # verbatim, re-parseable


def test_blank_lines_dropped(spark, tmp_path):
    path = _write(tmp_path, "dump.jsonl", [GOOD[0], "", "   ", GOOD[1]])
    df = read_jsonl(spark, path, SCHEMA)
    assert df.count() == 2
    assert df.filter("_malformed").count() == 0  # dropped, not quarantined


def test_directory_of_files_keeps_per_file_lineage(spark, tmp_path):
    d = tmp_path / "dumps"
    d.mkdir()
    _write(d, "a.jsonl", [GOOD[0]])
    _write(d, "b.jsonl", [GOOD[1], GARBAGE])
    df = read_jsonl(spark, str(d), SCHEMA)
    by_file = {
        r.doc_id: r._source_file for r in df.filter("NOT _malformed").collect()
    }
    assert by_file[1].endswith("a.jsonl") and by_file[2].endswith("b.jsonl")
    q = df.filter("_malformed").collect()
    assert len(q) == 1 and q[0]._source_file.endswith("b.jsonl")


def test_rejects_empty_or_clashing_schema(spark, tmp_path):
    path = _write(tmp_path, "dump.jsonl", GOOD)
    with pytest.raises(ValueError, match="explicit StructType"):
        read_jsonl(spark, path, StructType([]))
    clash = StructType([StructField("_raw", StringType())])
    with pytest.raises(ValueError, match="reserved"):
        read_jsonl(spark, path, clash)


def test_parse_is_deterministic_under_repartition(spark, tmp_path):
    path = _write(tmp_path, "dump.jsonl", GOOD + [GARBAGE])
    a = read_jsonl(spark, path, SCHEMA)
    b = read_jsonl(spark, path, SCHEMA).repartition(8)
    key = lambda r: (r.doc_id, r.text, r.lang, r._malformed, r._raw)
    assert sorted(map(key, a.collect()), key=str) == sorted(
        map(key, b.collect()), key=str
    )


def test_streaming_twin_same_contract(spark, tmp_path):
    """read_jsonl_stream over a landing directory: each dropped file
    becomes a micro-batch with the SAME columns and quarantine
    boundary as the batch reader."""
    from ironman_medallion_lakehouse_spark.sources.jsonl import read_jsonl_stream

    land = tmp_path / "land"
    land.mkdir()
    _write(land, "f0.jsonl", [GOOD[0]])
    stream = read_jsonl_stream(spark, str(land), SCHEMA, max_files_per_trigger=1)
    assert stream.isStreaming
    out = str(tmp_path / "out")
    q = (
        stream.writeStream.format("memory")
        .queryName("jsonl_sink")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .outputMode("append")
        .start()
    )
    try:
        q.processAllAvailable()
        _write(land, "f1.jsonl", [GOOD[1], GARBAGE])
        q.processAllAvailable()
        got = spark.sql("select * from jsonl_sink").collect()
        assert len(got) == 3
        batch_reader = {
            (r.doc_id, r._malformed, r._raw) for r in got
        }
        assert (1, False, None) in batch_reader
        assert (2, False, None) in batch_reader
        assert (None, True, GARBAGE) in batch_reader
        assert stream.columns == [
            "doc_id", "text", "lang", "_source_file", "_malformed", "_raw",
        ]
    finally:
        q.stop()
