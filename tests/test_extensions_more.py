"""applyInPandas ≡ window-form equivalence, and hypothesis property
tests for the highest-bug-density expressions."""

from __future__ import annotations

import pandas as pd
from hypothesis import given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from ironman_medallion_lakehouse_spark.functions.scalar import parse_time_to_seconds


def test_apply_in_pandas_matches_window_form(spark):
    """The grouped-map (applyInPandas) form of per-group centering must
    equal the pure-window form — documenting that the Python path is
    an alternative, not the implementation."""
    from ironman_medallion_lakehouse_spark.session import ensure_package_on_executors

    ensure_package_on_executors(spark)
    df = spark.read.parquet("/root/testdata/sf0.001/customer.parquet")

    from pyspark.sql import Window

    w = Window.partitionBy("c_nationkey")
    mu = F.sum(F.col("c_acctbal").cast("decimal(18,4)")).over(w).cast(
        "double"
    ) / F.count(F.lit(1)).over(w)
    window_form = df.select(
        "c_custkey", F.round((F.col("c_acctbal") - mu) / 1000.0, 6).alias("c")
    )

    def center(pdf: pd.DataFrame) -> pd.DataFrame:
        from decimal import Decimal

        mu = float(
            sum(Decimal(x).quantize(Decimal("0.0001")) for x in pdf["c_acctbal"])
        ) / len(pdf)
        return pd.DataFrame(
            {"c_custkey": pdf["c_custkey"], "c": ((pdf["c_acctbal"] - mu) / 1000.0).round(6)}
        )

    pandas_form = df.groupBy("c_nationkey").applyInPandas(
        center, "c_custkey bigint, c double"
    )
    a = {r.c_custkey: r.c for r in window_form.collect()}
    b = {r.c_custkey: r.c for r in pandas_form.collect()}
    assert len(a) == len(b)
    mismatches = [k for k in a if abs(a[k] - b[k]) > 1e-9]
    assert not mismatches


@settings(max_examples=10, deadline=None)
@given(
    st.lists(
        st.tuples(
            st.integers(0, 30), st.integers(0, 59), st.integers(0, 59), st.booleans()
        ),
        min_size=1,
        max_size=50,
    )
)
def test_parse_time_property(spark, cases):
    """Property: for any h:mm:ss (optionally h:mm) string, the parsed
    seconds equal the arithmetic total, except 0 totals → NULL
    (reference 03_silver.ipynb:133-139 semantics)."""
    rows, expected = [], []
    for h, m, s, short in cases:
        if short:
            text = f"{h}:{m:02d}"
            total = h * 3600 + m * 60
        else:
            text = f"{h}:{m:02d}:{s:02d}"
            total = h * 3600 + m * 60 + s
        rows.append((text,))
        expected.append(None if total == 0 else total)
    df = spark.createDataFrame(rows, "t string")
    got = [r[0] for r in df.select(parse_time_to_seconds(F.col("t"))).collect()]
    assert got == expected


@settings(max_examples=8, deadline=None)
@given(
    st.lists(
        st.text(alphabet="ab-XY 9", min_size=0, max_size=12), min_size=1, max_size=30
    )
)
def test_natural_key_property(spark, names):
    """Property: natural keys are lowercase, contain no characters
    outside [a-z0-9_], and are equal for punctuation-variant names."""
    from ironman_medallion_lakehouse_spark.functions.scalar import athlete_natural_key

    df = spark.createDataFrame([(n,) for n in names], "n string")
    keys = [
        r[0]
        for r in df.select(athlete_natural_key(F.col("n"), F.lit("FR"))).collect()
    ]
    import re

    for k in keys:
        assert re.fullmatch(r"[a-z0-9]*_fr", k), k
