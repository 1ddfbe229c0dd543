"""Local replica of the driver's correctness gate.

Runs every suite query on Spark at sf0.01 and its oracle on DuckDB over
the same parquet files, then compares row count, sorted column names,
**dtype of every column with NO numeric coercion**, and exact values
(rows sorted by all columns). The driver's value hash is
type-representation-sensitive (a DuckDB HUGEINT from SUM(CASE…) hashes
differently from Spark's int64 even when values match — VERDICT r1),
so dtype divergence is a hard FAIL here, making this checker
stricter-or-equal to the driver's hash.

Usage: python tools/check_correctness.py [--sf SF_DIR] [query_name ...]

The run ends with one JSON line: ``sf_dir``, ``passed``, ``failed``,
the ``failing`` entry names and the ``engine_tree`` (git tree id of the
engine package the run checked).
"""

from __future__ import annotations

import json
import math
import os
import sys
import time

import duckdb
import pandas as pd

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
ENGINE_DIR = os.path.join(ROOT, "ironman_medallion_lakehouse_spark")
sys.path.insert(0, ROOT)

from ironman_medallion_lakehouse_spark import suite  # noqa: E402
from ironman_medallion_lakehouse_spark.session import get_spark  # noqa: E402
from perfbench.sparkstats import git_tree_hash  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_CHECK_SF_DIR", "/root/testdata/sf0.01")
TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()


def _dtype_label(s: pd.Series) -> str:
    """Comparable dtype label. object columns are labeled by the set of
    element types actually present (this is where HUGEINT → Python int
    leaks show up as 'object[int]' vs a proper 'int64')."""
    if s.dtype == object:
        # pd.NA makes `v == v` evaluate to NA (ambiguous truth value) —
        # classify missingness via pd.isna, guarded for list-likes
        # whose isna() returns an array
        def _present(v) -> bool:
            try:
                return not bool(pd.isna(v))
            except (TypeError, ValueError):
                return True

        kinds = sorted({type(v).__name__ for v in s if _present(v)})
        return f"object[{','.join(kinds)}]"
    return str(s.dtype)


def _normalize(df: pd.DataFrame) -> pd.DataFrame:
    """Sort-normalize ONLY (columns by name, rows by value). No dtype
    coercion — dtypes are compared separately, uncoerced."""
    df = df.reindex(sorted(df.columns), axis=1)
    for c in df.columns:
        if pd.api.types.is_datetime64_any_dtype(df[c]):
            df[c] = df[c].dt.tz_localize(None) if getattr(df[c].dt, "tz", None) else df[c]
    for c in df.columns:
        if df[c].dtype == object and df[c].map(
            lambda v: isinstance(v, (list, tuple)) or hasattr(v, "tolist")
        ).any():
            df[c] = df[c].map(lambda v: str(list(v)) if v is not None else None)
    if len(df):
        df = df.sort_values(by=list(df.columns), na_position="last").reset_index(drop=True)
    return df


def _values_equal(a, b) -> bool:
    if a is None and b is None:
        return True
    if isinstance(a, float) and isinstance(b, float):
        if math.isnan(a) and math.isnan(b):
            return True
        return a == b
    try:
        if pd.isna(a) and pd.isna(b):
            return True
        if bool(pd.isna(a)) != bool(pd.isna(b)):
            return False
    except (TypeError, ValueError):
        pass
    return a == b


def compare(name: str, spark_pdf: pd.DataFrame, duck_pdf: pd.DataFrame) -> list[str]:
    problems: list[str] = []
    s, d = _normalize(spark_pdf), _normalize(duck_pdf)
    if list(s.columns) != list(d.columns):
        problems.append(f"columns differ: spark={list(s.columns)} duck={list(d.columns)}")
        return problems
    if len(s) != len(d):
        problems.append(f"row count differs: spark={len(s)} duck={len(d)}")
        return problems
    for c in s.columns:
        sl, dl = _dtype_label(s[c]), _dtype_label(d[c])
        # ns-vs-us datetime resolution is a pandas conversion artifact,
        # not a value-representation difference the driver hash sees
        if sl != dl and not (sl.startswith("datetime64") and dl.startswith("datetime64")):
            problems.append(f"column {c}: dtype differs: spark={sl} duck={dl}")
    if problems:
        return problems
    for c in s.columns:
        sv, dv = s[c].tolist(), d[c].tolist()
        bad = [
            (i, a, b) for i, (a, b) in enumerate(zip(sv, dv)) if not _values_equal(a, b)
        ]
        if bad:
            i, a, b = bad[0]
            problems.append(
                f"column {c}: {len(bad)}/{len(sv)} mismatched values; first at row {i}: "
                f"spark={a!r} duck={b!r}"
            )
    return problems


def main() -> int:
    global SF_DIR
    args = sys.argv[1:]
    if "--sf" in args:
        i = args.index("--sf")
        SF_DIR = args[i + 1]
        args = args[:i] + args[i + 2 :]
    only = set(args)
    spark = get_spark(app_name="check-correctness")
    con = duckdb.connect()
    for t in TABLES:
        path = os.path.join(SF_DIR, f"{t}.parquet")
        if os.path.exists(path):
            con.sql(f"CREATE OR REPLACE VIEW {t} AS SELECT * FROM read_parquet('{path}')")

    qdict, odict = suite.queries(), suite.oracle_sql()
    n_pass = n_rows_only = 0
    failing: list[str] = []
    for name, fn in qdict.items():
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            sdf = fn(spark, SF_DIR)
            spark_pdf = sdf.toPandas()
        except Exception as e:  # noqa: BLE001
            print(f"FAIL {name}: spark error: {e}")
            failing.append(name)
            continue
        if name not in odict:
            print(f"ROWS-ONLY {name}: {len(spark_pdf)} rows ({time.time()-t0:.1f}s)")
            n_rows_only += 1
            continue
        try:
            duck_pdf = con.sql(odict[name]).df()
        except Exception as e:  # noqa: BLE001
            print(f"FAIL {name}: duckdb error: {e}")
            failing.append(name)
            continue
        problems = compare(name, spark_pdf, duck_pdf)
        if problems:
            failing.append(name)
            print(f"FAIL {name} ({time.time()-t0:.1f}s)")
            for p in problems:
                print(f"     {p}")
        else:
            n_pass += 1
            print(f"PASS {name}: {len(spark_pdf)} rows ({time.time()-t0:.1f}s)")
    print(f"\n{n_pass} pass, {len(failing)} fail, {n_rows_only} rows-only")
    print(
        json.dumps(
            {
                "sf_dir": SF_DIR,
                "passed": n_pass,
                "failed": len(failing),
                "failing": failing,
                "engine_tree": git_tree_hash(ENGINE_DIR),
            }
        )
    )
    return 1 if failing else 0


if __name__ == "__main__":
    sys.exit(main())
