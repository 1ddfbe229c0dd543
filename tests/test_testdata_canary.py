"""Driver-testdata schema canary (VERDICT r3 item 5).

Round 3 shipped a full round with q52/q75 red and a crashed bench
because the driver regenerated events.parquet with a different
physical timestamp type (TIMESTAMP_NANOS → naive timestamp[us], which
Spark 4 reads as TIMESTAMP_NTZ) and every other test ran on conftest's
synthetic fixtures, never the real files. This module loads the REAL
driver parquet through ``load_tables`` and pins the dtypes the suite
depends on — driver-data drift now breaks pytest locally instead of
the driver's correctness gate a round later.

Skips (not fails) when the testdata directory is absent so the repo's
tests stay runnable outside the driver environment.
"""

from __future__ import annotations

import os

import pytest

from ironman_medallion_lakehouse_spark.session import load_tables

SF_DIR = os.environ.get("SPARK_GRAFT_CANARY_SF_DIR", "/root/testdata/sf0.01")

TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings"
).split()

pytestmark = pytest.mark.skipif(
    not os.path.isdir(SF_DIR), reason=f"driver testdata not present at {SF_DIR}"
)


def test_all_tables_load_and_are_nonempty(spark):
    t = load_tables(spark, SF_DIR, *TABLES)
    for name in TABLES:
        assert t[name].limit(1).count() == 1, f"{name} is empty"


def test_events_ts_is_session_ltz_timestamp(spark):
    """The r3 regression class: whatever the parquet writer chose
    (TIMESTAMP_NANOS, naive micros → NTZ, ...), load_tables must hand
    every operator a plain session-zone TIMESTAMP — castable to long,
    usable in windows/watermarks."""
    t = load_tables(spark, SF_DIR, "events")
    dt = dict(t["events"].dtypes)
    assert dt["ts"] == "timestamp", f"events.ts loaded as {dt['ts']}"
    # the exact expression that went red in r3 must analyze
    from pyspark.sql import functions as F

    t["events"].select(F.col("ts").cast("long")).limit(1).count()


def test_key_columns_and_dtypes(spark):
    """Columns + dtypes the suite's operators and oracles rely on."""
    t = load_tables(spark, SF_DIR, *TABLES)
    expect = {
        "orders": {
            "o_orderkey": "bigint",
            "o_custkey": "bigint",
            "o_totalprice": "double",
            # the driver writes date-grain columns as naive timestamps;
            # suite queries lean on year()/date_trunc which accept NTZ.
            # If this drifts (→ date, → TIMESTAMP LTZ) the failure
            # should surface HERE, not in the driver's gate.
            "o_orderdate": "timestamp_ntz",
            "o_orderstatus": "string",
            "o_orderpriority": "string",
        },
        "lineitem": {
            "l_orderkey": "bigint",
            "l_partkey": "bigint",
            "l_quantity": "double",
            "l_extendedprice": "double",
            "l_discount": "double",
            "l_tax": "double",
            "l_returnflag": "string",
            "l_linestatus": "string",
            "l_shipdate": "timestamp_ntz",
        },
        "customer": {"c_custkey": "bigint", "c_nationkey": "int"},
        "nation": {"n_nationkey": "int", "n_regionkey": "int", "n_name": "string"},
        "region": {"r_regionkey": "int", "r_name": "string"},
        "supplier": {"s_suppkey": "bigint", "s_nationkey": "int"},
        "part": {"p_partkey": "bigint", "p_size": "int"},
        "events": {
            "event_id": "bigint",
            "user_id": "bigint",
            "event_type": "string",
            "value": "double",
        },
        "documents": {"doc_id": "bigint", "text": "string", "lang": "string"},
        "embeddings": {"vec_id": "bigint"},
    }
    for name, cols in expect.items():
        dt = dict(t[name].dtypes)
        for col, typ in cols.items():
            assert col in dt, f"{name}.{col} missing (have {sorted(dt)})"
            assert dt[col] == typ, f"{name}.{col}: expected {typ}, got {dt[col]}"
    # embeddings vector column: array of floating-point
    edt = dict(t["embeddings"].dtypes)
    assert edt.get("embedding", "").startswith("array<"), edt


def test_documents_scan_parallelism(spark):
    """VERDICT r3 item 3: expression-heavy text operators must not
    inherit single-task parallelism from a small input file —
    load_tables repartitions documents. r15 (VERDICT r14 item 7): the
    width is scale-adaptive — ceil(rows / _DOCS_ROWS_PER_TASK) clamped
    to [1, defaultParallelism] — so any corpus beyond rows_per_task x
    parallelism still saturates the old fixed width, while tiny gate
    inputs stop scheduling near-empty tasks."""
    import pyarrow.parquet as pq

    from ironman_medallion_lakehouse_spark.session import _DOCS_ROWS_PER_TASK

    t = load_tables(spark, SF_DIR, "documents")
    nrows = pq.ParquetFile(f"{SF_DIR}/documents.parquet").metadata.num_rows
    cap = spark.sparkContext.defaultParallelism
    expect = max(1, min(cap, -(-nrows // _DOCS_ROWS_PER_TASK)))
    assert t["documents"].rdd.getNumPartitions() == expect
