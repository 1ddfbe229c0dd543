"""Scalar expression library — the reference's entire §2.8 function surface.

Everything here is pure Column composition (zero UDFs): the expressions
stay inside Catalyst/whole-stage-codegen, so they cost the same as
built-ins at 100 TB scale. This mirrors how the reference writes its
domain logic (e.g. parse_time_to_seconds at
notebooks_databricks/03_silver.ipynb:133-139 is expression composition,
not a UDF — SURVEY.md §2.10).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def normalize_dash_to_null(df: DataFrame) -> DataFrame:
    """Replace the literal ``"-"`` missing-value marker with NULL in
    every column.

    Reference: 02_bronze.ipynb:139-143 (per-column when(col=="-", None)).
    Applied before any cast so downstream typing sees true NULLs.
    """
    return df.select(
        *[F.when(F.col(c) == "-", F.lit(None)).otherwise(F.col(c)).alias(c) for c in df.columns]
    )


def parse_time_to_seconds(c: Column | str) -> Column:
    """Parse an ``H:MM:SS`` duration string to integer seconds.

    Semantics (reference 03_silver.ipynb:133-139, exactly):
    - split on ":"; missing parts coalesce to 0
      (``"5"`` → 5*3600, ``"5:30"`` → 5*3600+30*60);
    - a NULL input or a parsed total of 0 yields NULL
      (``"0:00:00"`` → NULL — the reference treats zero as missing).
    """
    c = F.col(c) if isinstance(c, str) else c
    parts = F.split(c, ":")
    # F.get (not getItem): out-of-bounds yields NULL → coalesce(0), the
    # Spark-3 semantics the reference relies on; Spark 4's ANSI mode makes
    # getItem throw on "5:30"-style short inputs.
    h = F.coalesce(F.get(parts, 0).cast("int"), F.lit(0))
    m = F.coalesce(F.get(parts, 1).cast("int"), F.lit(0))
    s = F.coalesce(F.get(parts, 2).cast("int"), F.lit(0))
    total = h * 3600 + m * 60 + s
    return F.when(c.isNull() | (total == 0), F.lit(None).cast("int")).otherwise(total)


def split_person_name(name: Column | str) -> tuple[Column, Column]:
    """Split a full name into (first_name, last_name).

    Reference 03_silver.ipynb:298-305: split on a single space, as is
    (silver has already trimmed the name); first = token 0; last = last
    token via element_at(arr, -1), but NULL when the name has a single
    token (size == 1). Multi-word last names keep only the final token,
    and a tab is not a separator — reference behavior reproduced as-is.
    """
    name = F.col(name) if isinstance(name, str) else name
    parts = F.split(name, " ")
    first = parts.getItem(0)
    last = F.when(F.size(parts) > 1, F.element_at(parts, -1)).otherwise(None)
    return first, last


def athlete_natural_key(name: Column | str, country: Column | str) -> Column:
    """Natural key: lower(strip-non-alnum(name)) + "_" + coalesce(country,'UNKNOWN').

    Reference 04a_gold_dim_athletes.ipynb:216-221. Example:
    ("Sam Laidlow", "FR") → "samlaidlow_fr"; (name, NULL) → "..._unknown".
    """
    name = F.col(name) if isinstance(name, str) else name
    country = F.col(country) if isinstance(country, str) else country
    stripped = F.lower(F.regexp_replace(name, "[^a-zA-Z0-9]", ""))
    return F.concat_ws("_", stripped, F.lower(F.coalesce(country, F.lit("UNKNOWN"))))


def surrogate_key(*cols: Column | str) -> Column:
    """``abs(hash(concat_ws("_", ...)))`` surrogate key (Murmur3 int).

    Reference 04a:192-195 (athlete_key), 04b:324 (country_key),
    04c:267-270 (division_key), 04d:224 (fact_key). Engine-specific by
    design (SURVEY §7 risk 2) — never compared against the DuckDB
    oracle; correctness is checked through the natural keys instead.
    The reference's latent collision risk is reproduced as-is, not
    "fixed" (SURVEY §7 risk 4).
    """
    cs = [F.col(c) if isinstance(c, str) else c for c in cols]
    joined = cs[0] if len(cs) == 1 else F.concat_ws("_", *cs)
    return F.abs(F.hash(joined))


def _sql_string(s: str) -> str:
    """``s`` as a Spark SQL string literal (the default backslash escapes)."""
    return "'" + s.replace("\\", "\\\\").replace("'", "\\'") + "'"


def literal_lookup(key: Column, table: dict[str, dict[str, str | int]]) -> Column:
    """``table[key]`` as a struct of the entry's fields, NULL for a key
    the table lacks. ``table`` becomes one map literal parsed from a
    single SQL ``map(...)`` expression: one driver→JVM call however
    many entries, where a map built from per-value ``F.lit`` Columns
    costs a call per value."""

    def sql(v: str | int) -> str:
        return _sql_string(v) if isinstance(v, str) else str(int(v))

    entries = ", ".join(
        f"{_sql_string(k)}, named_struct("
        + ", ".join(f"{_sql_string(f)}, {sql(v)}" for f, v in fields.items())
        + ")"
        for k, fields in table.items()
    )
    return F.expr(f"map({entries})")[key]


def parse_division(division: Column | str) -> dict[str, Column]:
    """Decompose a division code like ``M18-24`` / ``FPRO`` into attributes.

    Reference 04c_gold_dim_divisions.ipynb:
    - gender: prefix 'M'/'F' else 'UNKNOWN' (:146-151)
    - is_professional: contains 'PRO'     (:153-156)
    - age_group_start/end: regexp_extract r"(\\d+\\-\\d+)" then split on
      '-' and cast int; NULL for pro/unparseable (:180-199)
    """
    d = F.col(division) if isinstance(division, str) else division
    gender = (
        F.when(d.startswith("M"), F.lit("M"))
        .when(d.startswith("F"), F.lit("F"))
        .otherwise(F.lit("UNKNOWN"))
    )
    is_pro = d.contains("PRO")
    age_range = F.regexp_extract(d, r"(\d+\-\d+)", 1)
    age_parts = F.split(age_range, "-")
    age_start = F.when(age_range != "", age_parts.getItem(0).cast("int"))
    age_end = F.when(age_range != "", age_parts.getItem(1).cast("int"))
    return {
        "gender": gender,
        "is_professional": is_pro,
        "age_group_start": age_start,
        "age_group_end": age_end,
    }
