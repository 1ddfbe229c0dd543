"""Correctness suite: one named query per operator family in SURVEY.md §2.

Each entry pairs a Spark-first DataFrame implementation with an ANSI-SQL
oracle that DuckDB runs on the same parquet tables. The driver compares
row-count + schema + order-insensitive value hash, so:

- Every computed column is aliased identically on both sides.
- Aggregates over doubles are made **bit-deterministic**: a parallel
  ``SUM(double)`` is ordering-dependent, so both sides compute
  ``CAST(SUM(CAST(x AS DECIMAL(18,4))) AS DOUBLE)`` — the decimal sum is
  exact and associative, and the final double conversion is identical in
  both engines. AVG is expressed as decimal-sum / count for the same
  reason.
- Integer-ish derived columns (year, counts, buckets) are cast to BIGINT
  on both sides so pandas dtypes line up.

Reference citations in each docstring point at the construct being
re-expressed (file:line in /root/reference, .ipynb = raw JSON line).
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ironman_medallion_lakehouse_spark.session import load_tables


@dataclass(frozen=True)
class SuiteQuery:
    name: str
    fn: Callable[[SparkSession, str], DataFrame]
    oracle: str | None


QUERIES: dict[str, SuiteQuery] = {}


def register(name: str, oracle: str | None = None):
    def deco(fn):
        QUERIES[name] = SuiteQuery(name=name, fn=fn, oracle=oracle)
        return fn

    return deco


# ---------------------------------------------------------------------------
# deterministic aggregate helpers (shared by suite + bench)
# ---------------------------------------------------------------------------

def dsum(c: Column | str, alias: str) -> Column:
    """Order-insensitive double sum via exact DECIMAL(18,4) accumulation."""
    c = F.col(c) if isinstance(c, str) else c
    return F.sum(c.cast("decimal(18,4)")).cast("double").alias(alias)


def davg(c: Column | str, alias: str) -> Column:
    """Order-insensitive double mean: decimal-sum / non-null count."""
    c = F.col(c) if isinstance(c, str) else c
    return (F.sum(c.cast("decimal(18,4)")).cast("double") / F.count(c)).alias(alias)


def year_of(c: str) -> Column:
    return F.year(F.col(c)).cast("bigint")


# ===========================================================================
# §2.4 A2/A6/A9 — pricing summary (conditional sums / ratio-of-aggregates)
# ===========================================================================

@register(
    "q01_pricing_summary",
    oracle="""
    SELECT
      l_returnflag,
      l_linestatus,
      CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE)       AS sum_qty,
      CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4))) AS DOUBLE)  AS sum_base_price,
      CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS sum_disc_price,
      CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) / COUNT(l_quantity)          AS avg_qty,
      CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4))) AS DOUBLE) / COUNT(l_extendedprice) AS avg_price,
      CAST(SUM(CAST(l_discount AS DECIMAL(18,4))) AS DOUBLE) / COUNT(l_discount)           AS avg_disc,
      COUNT(*) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1997-09-02 00:00:00'
    GROUP BY l_returnflag, l_linestatus
    """,
)
def q01_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SURVEY §2.4 A2/A6/A9: grouped multi-aggregate with derived measures.

    Re-expresses the reference's per-group conditional-sum idiom
    (03_silver.ipynb:690-698, 05_dashboard_queries.ipynb:108-119) on
    lineitem. Scale: single shuffle on (returnflag, linestatus) with
    map-side partial aggregation; filter pushed to parquet scan.
    """
    t = load_tables(spark, sf_dir, "lineitem")
    li = t["lineitem"].filter(F.col("l_shipdate") <= F.lit("1997-09-02 00:00:00").cast("timestamp"))
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return li.groupBy("l_returnflag", "l_linestatus").agg(
        dsum("l_quantity", "sum_qty"),
        dsum("l_extendedprice", "sum_base_price"),
        dsum(disc_price, "sum_disc_price"),
        davg("l_quantity", "avg_qty"),
        davg("l_extendedprice", "avg_price"),
        davg("l_discount", "avg_disc"),
        F.count(F.lit(1)).alias("count_order"),
    )


# ===========================================================================
# §2.2 P1/P4/P5/P7 — projection + compound predicates (pushdown surface)
# ===========================================================================

@register(
    "q02_filter_project",
    oracle="""
    SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND l_shipdate <  TIMESTAMP '1997-01-01 00:00:00'
      AND l_quantity > 45
      AND l_returnflag IS NOT NULL
    """,
)
def q02_filter_project(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SURVEY §2.2 P1 (column pruning), P4 (equality/range filter), P5
    (null predicate), P7 (compound predicate). Reference:
    03_silver.ipynb cell-2 year filter; 03_silver.ipynb:469-486 compound
    rules. The select + filter reach the parquet scan as PushedFilters +
    a 4-column ReadSchema — verified in tests/test_plans.py.
    """
    t = load_tables(spark, sf_dir, "lineitem")
    return (
        t["lineitem"]
        .filter(
            (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
            & (F.col("l_quantity") > 45)
            & F.col("l_returnflag").isNotNull()
        )
        .select("l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice")
    )


# ===========================================================================
# §2.3 J1-J3 — broadcast dim-lookup join
# ===========================================================================

def q03_dim_lookup_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SURVEY §2.3 J1-J3: left equi-join fact→dim, dim explicitly
    broadcast (reference relies on AQE auto-broadcast for its ≤few-k-row
    dims, 04d_gold_fact_race_results.ipynb:178-217; we hint it so the
    plan is broadcast even before AQE statistics at 100 TB scale).

    Not registered as a suite entry — the broadcast-lookup family is
    driver-verified through q04 (star join) and q25 (lineitem⋈part);
    this shape remains as the plan-regression fixture
    (tests/test_plans.py) and a bench headline candidate.
    """
    t = load_tables(spark, sf_dir, "lineitem", "part")
    li, part = t["lineitem"], t["part"]
    joined = li.join(F.broadcast(part), li.l_partkey == part.p_partkey, "left")
    revenue = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return joined.groupBy("p_brand").agg(
        F.count(F.lit(1)).alias("n_lines"),
        dsum(revenue, "revenue"),
    )


# ===========================================================================
# §2.3 J6 — multi-dim star join (the flagship shape)
# ===========================================================================

@register(
    "q04_star_join",
    oracle="""
    SELECT
      r.r_name AS region_name,
      CAST(EXTRACT(year FROM o.o_orderdate) AS BIGINT) AS order_year,
      COUNT(*) AS n_orders,
      CAST(SUM(CAST(o.o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS total_revenue
    FROM orders o
    LEFT JOIN customer c ON o.o_custkey = c.c_custkey
    LEFT JOIN nation n   ON c.c_nationkey = n.n_nationkey
    LEFT JOIN region r   ON n.n_regionkey = r.r_regionkey
    GROUP BY r.r_name, CAST(EXTRACT(year FROM o.o_orderdate) AS BIGINT)
    """,
)
def q04_star_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SURVEY §2.3 J6: the reference's flagship 3-dim star join
    (04d_gold_fact_race_results.ipynb:460-478; 05:605-628
    vw_top_finishers). fact←customer←nation←region chained left joins,
    all dims broadcast — one fact scan, zero shuffles for the joins,
    single shuffle for the final group-by.
    """
    t = load_tables(spark, sf_dir, "orders", "customer", "nation", "region")
    o, c, n, r = t["orders"], t["customer"], t["nation"], t["region"]
    joined = (
        o.join(F.broadcast(c), o.o_custkey == c.c_custkey, "left")
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey, "left")
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey, "left")
    )
    return (
        joined.withColumn("order_year", year_of("o_orderdate"))
        .groupBy(F.col("r_name").alias("region_name"), "order_year")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            dsum("o_totalprice", "total_revenue"),
        )
    )


# ===========================================================================
# §2.3 J7 — self-join on shifted key (YoY lag emulation)
# ===========================================================================

@register(
    "q05_yoy_self_join",
    oracle="""
    WITH yearly_stats AS (
      SELECT
        CAST(EXTRACT(year FROM o_orderdate) AS BIGINT) AS order_year,
        COUNT(*) AS n_orders,
        CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS revenue
      FROM orders
      GROUP BY 1
    )
    SELECT
      curr.order_year,
      curr.n_orders,
      curr.revenue,
      prev.n_orders AS prev_n_orders,
      ROUND((curr.n_orders - prev.n_orders) * 100.0 / NULLIF(prev.n_orders, 0), 1) AS order_growth_pct
    FROM yearly_stats curr
    LEFT JOIN yearly_stats prev ON curr.order_year = prev.order_year + 1
    """,
)
def q05_yoy_self_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SURVEY §2.3 J7: CTE + self-join `ON curr.year = prev.year + 1`
    with NULLIF-guarded pct change — reproduces vw_year_over_year
    (05_dashboard_queries.ipynb:674-701) verbatim-semantics (the
    reference deliberately uses a self-join, not LAG).
    """
    t = load_tables(spark, sf_dir, "orders")
    yearly = (
        t["orders"]
        .groupBy(year_of("o_orderdate").alias("order_year"))
        .agg(F.count(F.lit(1)).alias("n_orders"), dsum("o_totalprice", "revenue"))
    )
    curr, prev = yearly.alias("curr"), yearly.alias("prev")
    growth = F.round(
        (F.col("curr.n_orders") - F.col("prev.n_orders"))
        * 100.0
        / F.nullif(F.col("prev.n_orders").cast("double"), F.lit(0.0)),
        1,
    )
    return curr.join(
        prev, F.col("curr.order_year") == F.col("prev.order_year") + 1, "left"
    ).select(
        F.col("curr.order_year").alias("order_year"),
        F.col("curr.n_orders").alias("n_orders"),
        F.col("curr.revenue").alias("revenue"),
        F.col("prev.n_orders").alias("prev_n_orders"),
        growth.alias("order_growth_pct"),
    )


# ===========================================================================
# §2.4 A1 group-count: driver-verified via q08/q15/q20/q22 (every grouped
# entry carries COUNT(*)); the standalone audit shape lives in pytest
# (tests/test_pipeline.py duplicate-key audit).
# ===========================================================================
# §2.4 A2/A6/A9 — conditional-sum rates (finish-rate-trend shape)
# ===========================================================================

@register(
    "q07_status_rates",
    oracle="""
    SELECT
      CAST(EXTRACT(year FROM o_orderdate) AS BIGINT) AS order_year,
      COUNT(*) AS n_orders,
      CAST(SUM(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END) AS BIGINT) AS n_finished,
      ROUND(SUM(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END) * 100.0 / COUNT(*), 2) AS finished_rate,
      CAST(SUM(CASE WHEN o_orderstatus = 'F' THEN CAST(o_totalprice AS DECIMAL(18,4)) END) AS DOUBLE)
        / COUNT(CASE WHEN o_orderstatus = 'F' THEN 1 END) AS avg_finished_price
    FROM orders
    GROUP BY 1
    """,
)
def q07_status_rates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SURVEY §2.4 A2 (pivoted conditional sums), A6 (CASE-filtered AVG),
    A9 (ratio-of-aggregates). Reproduces vw_finish_rate_trend /
    vw_athletes_by_year (05_dashboard_queries.ipynb:108-119,165-173)
    with o_orderstatus standing in for designation.
    """
    t = load_tables(spark, sf_dir, "orders")
    is_f = F.col("o_orderstatus") == "F"
    n_finished = F.sum(F.when(is_f, 1).otherwise(0))
    return (
        t["orders"]
        .groupBy(year_of("o_orderdate").alias("order_year"))
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            n_finished.alias("n_finished"),
            F.round(n_finished * 100.0 / F.count(F.lit(1)), 2).alias("finished_rate"),
            (
                F.sum(F.when(is_f, F.col("o_totalprice").cast("decimal(18,4)"))).cast("double")
                / F.count(F.when(is_f, F.lit(1)))
            ).alias("avg_finished_price"),
        )
    )


# ===========================================================================
# §2.4 A3/A4 — distinct-count + named-column join enrichment (J5)
# ===========================================================================

@register(
    "q08_distinct_count",
    oracle="""
    SELECT
      n.n_name AS nation_name,
      COUNT(*) AS n_customers,
      COUNT(DISTINCT c.c_mktsegment) AS n_segments
    FROM customer c
    LEFT JOIN nation n ON c.c_nationkey = n.n_nationkey
    GROUP BY n.n_name
    """,
)
def q08_distinct_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SURVEY §2.4 A3 (countDistinct per group, reference
    04b_gold_dim_countries.ipynb:345-350) over a broadcast dim join.
    """
    t = load_tables(spark, sf_dir, "customer", "nation")
    c, n = t["customer"], t["nation"]
    return (
        c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey, "left")
        .groupBy(F.col("n_name").alias("nation_name"))
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            F.countDistinct("c_mktsegment").alias("n_segments"),
        )
    )


# ===========================================================================
# §2.4 A5 — global scalar KPI aggregate (vw_kpi_metrics shape)
# ===========================================================================

@register(
    "q09_global_kpis",
    oracle="""
    SELECT
      COUNT(*) AS total_orders,
      COUNT(DISTINCT o_custkey) AS distinct_customers,
      CAST(MIN(EXTRACT(year FROM o_orderdate)) AS BIGINT) AS first_year,
      CAST(MAX(EXTRACT(year FROM o_orderdate)) AS BIGINT) AS last_year,
      CAST(SUM(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END) AS BIGINT) AS n_finished,
      CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS total_revenue,
      MIN(o_totalprice) AS min_price,
      MAX(o_totalprice) AS max_price
    FROM orders
    """,
)
def q09_global_kpis(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SURVEY §2.4 A5: the vw_kpi_metrics shape
    (05_dashboard_queries.ipynb:49-62) — one scalar row, mixed COUNT
    DISTINCT / conditional SUM / MIN / MAX.
    """
    t = load_tables(spark, sf_dir, "orders")
    return t["orders"].agg(
        F.count(F.lit(1)).alias("total_orders"),
        F.countDistinct("o_custkey").alias("distinct_customers"),
        F.min(F.year("o_orderdate")).cast("bigint").alias("first_year"),
        F.max(F.year("o_orderdate")).cast("bigint").alias("last_year"),
        F.sum(F.when(F.col("o_orderstatus") == "F", 1).otherwise(0)).alias("n_finished"),
        dsum("o_totalprice", "total_revenue"),
        F.min("o_totalprice").alias("min_price"),
        F.max("o_totalprice").alias("max_price"),
    )


# ===========================================================================
# §2.5 W3 — share-of-group window over an aggregate
# ===========================================================================

@register(
    "q10_window_share",
    oracle="""
    WITH g AS (
      SELECT
        CAST(EXTRACT(year FROM o_orderdate) AS BIGINT) AS order_year,
        o_orderpriority,
        COUNT(*) AS n
      FROM orders
      GROUP BY 1, 2
    )
    SELECT
      order_year,
      o_orderpriority,
      n,
      ROUND(n * 100.0 / SUM(n) OVER (PARTITION BY order_year), 1) AS share_pct
    FROM g
    """,
)
def q10_window_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SURVEY §2.5 W3: aggregate nested in a window —
    `COUNT(*) * 100.0 / SUM(COUNT(*)) OVER (PARTITION BY year)`
    (05_dashboard_queries.ipynb:228 vw_gender_distribution, :375
    vw_continent_distribution). Counts are exact ints so the share
    division is bit-deterministic.
    """
    t = load_tables(spark, sf_dir, "orders")
    g = (
        t["orders"]
        .groupBy(year_of("o_orderdate").alias("order_year"), "o_orderpriority")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    w = Window.partitionBy("order_year")
    return g.select(
        "order_year",
        "o_orderpriority",
        "n",
        F.round(F.col("n") * 100.0 / F.sum("n").over(w), 1).alias("share_pct"),
    )


# ===========================================================================
# §2.5 W1 — dedup-rank window (row_number + nulls-last ordering)
# ===========================================================================

@register(
    "q11_dedup_rank",
    oracle="""
    WITH ranked AS (
      SELECT
        l_returnflag,
        ROW_NUMBER() OVER (
          PARTITION BY l_orderkey
          ORDER BY l_linenumber ASC NULLS LAST, l_partkey ASC NULLS LAST, l_suppkey ASC NULLS LAST
        ) AS dup_rank
      FROM lineitem
    )
    SELECT l_returnflag, COUNT(*) AS n_first_lines
    FROM ranked
    WHERE dup_rank = 1
    GROUP BY l_returnflag
    """,
)
def q11_dedup_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SURVEY §2.5 W1: the bronze dedup-rank window
    (02_bronze.ipynb:214-218) — row_number PARTITION BY key ORDER BY
    rank asc_nulls_last with tiebreak, keep rank 1.
    """
    t = load_tables(spark, sf_dir, "lineitem")
    w = Window.partitionBy("l_orderkey").orderBy(
        F.col("l_linenumber").asc_nulls_last(),
        F.col("l_partkey").asc_nulls_last(),
        F.col("l_suppkey").asc_nulls_last(),
    )
    return (
        t["lineitem"]
        .withColumn("dup_rank", F.row_number().over(w))
        .filter(F.col("dup_rank") == 1)
        .groupBy("l_returnflag")
        .agg(F.count(F.lit(1)).alias("n_first_lines"))
    )


# ===========================================================================
# §2.5 W2 — latest-record-per-key (argmax) window
# ===========================================================================

@register(
    "q12_argmax_latest",
    oracle="""
    WITH ranked AS (
      SELECT
        user_id, event_id, event_type, value,
        ROW_NUMBER() OVER (
          PARTITION BY user_id ORDER BY ts DESC NULLS LAST, event_id DESC
        ) AS rn
      FROM events
    )
    SELECT user_id, event_id AS latest_event_id, event_type AS latest_event_type
    FROM ranked WHERE rn = 1
    """,
)
def q12_argmax_latest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SURVEY §2.5 W2: SCD-1 latest-record selection
    (04a_gold_dim_athletes.ipynb:159-168) — row_number over
    (key ORDER BY time DESC NULLS LAST, tiebreak) then rn = 1.
    """
    t = load_tables(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(
        F.col("ts").desc_nulls_last(), F.col("event_id").desc()
    )
    return (
        t["events"]
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "user_id",
            F.col("event_id").alias("latest_event_id"),
            F.col("event_type").alias("latest_event_type"),
        )
    )


# ===========================================================================
# §2.6 O1-O5 — multi-column sort + top-k
# ===========================================================================

def q13_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SURVEY §2.6 O1-O5: orderBy().limit() top-k — Spark plans
    TakeOrderedAndProject (no global sort). Reference top-10s:
    04a:356-363, 04b:480-484. Tiebreak on key for determinism.

    Not registered — the ordered-top-k family is driver-verified through
    q26 (formatted top-k) and q66 (grouped top-k); this minimal shape
    remains as the TakeOrderedAndProject plan-regression fixture.
    """
    t = load_tables(spark, sf_dir, "customer")
    return (
        t["customer"]
        .orderBy(F.col("c_acctbal").desc(), F.col("c_custkey").asc())
        .select("c_custkey", "c_name", "c_acctbal")
        .limit(10)
    )


# ===========================================================================
# §2.7 U1 — unionByName with missing-column tolerance
# ===========================================================================

@register(
    "q14_union_by_name",
    oracle="""
    SELECT c_custkey, c_name, c_acctbal, CAST(NULL AS VARCHAR) AS c_mktsegment
    FROM customer WHERE c_custkey % 2 = 0
    UNION ALL
    SELECT c_custkey, c_name, CAST(NULL AS DOUBLE) AS c_acctbal, c_mktsegment
    FROM customer WHERE c_custkey % 2 = 1
    """,
)
def q14_union_by_name(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SURVEY §2.7 U1: `unionByName(allowMissingColumns=True)` — the
    bronze multi-file ingest fold (02_bronze.ipynb:184-186) where later
    files may carry a column subset.
    """
    t = load_tables(spark, sf_dir, "customer")
    c = t["customer"]
    evens = c.filter(F.col("c_custkey") % 2 == 0).select("c_custkey", "c_name", "c_acctbal")
    odds = c.filter(F.col("c_custkey") % 2 == 1).select("c_custkey", "c_name", "c_mktsegment")
    return evens.unionByName(odds, allowMissingColumns=True)


# ===========================================================================
# §2.4 A10 — group-by on computed expression (histogram bucketing)
# ===========================================================================

@register(
    "q15_histogram",
    oracle="""
    SELECT
      CAST(FLOOR(o_totalprice / 20000) AS BIGINT) AS price_bucket,
      COUNT(*) AS n_orders
    FROM orders
    GROUP BY 1
    """,
)
def q15_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SURVEY §2.4 A10: GROUP BY FLOOR(x / width) histogram —
    vw_finish_time_distribution (05_dashboard_queries.ipynb:549-559).
    """
    t = load_tables(spark, sf_dir, "orders")
    return (
        t["orders"]
        .groupBy(
            F.floor(F.col("o_totalprice") / 20000).cast("bigint").alias("price_bucket")
        )
        .agg(F.count(F.lit(1)).alias("n_orders"))
    )


# ===========================================================================
# §2.8 — scalar string-function battery
# ===========================================================================

@register(
    "q16_string_functions",
    oracle="""
    SELECT
      c_custkey,
      LOWER(c_name)  AS name_lower,
      UPPER(TRIM(c_mktsegment)) AS segment_upper,
      REGEXP_REPLACE(c_name, '[^a-zA-Z0-9]', '', 'g') AS name_stripped,
      CONCAT_WS('_', c_mktsegment, CAST(c_custkey AS VARCHAR)) AS natural_key,
      STRING_SPLIT(c_name, '#')[1] AS name_prefix,
      STRING_SPLIT(c_name, '#')[-1] AS name_suffix,
      CAST(LEN(STRING_SPLIT(c_name, '#')) AS INTEGER) AS n_parts,
      LPAD(CAST(c_custkey % 100 AS VARCHAR), 5, '0') AS padded,
      CAST(ABS(c_custkey - 750) AS BIGINT) AS abs_delta
    FROM customer
    """,
)
def q16_string_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SURVEY §2.8: the reference's scalar function surface — lower
    (02:211), upper/trim (03:252-255), regexp_replace strip-non-alnum
    (02:211, 04a:135), concat_ws (04a:134), split + getItem/element_at/
    size (03:134,298-303), LPAD (05:617), abs (03:295).
    """
    t = load_tables(spark, sf_dir, "customer")
    parts = F.split(F.col("c_name"), "#")
    return t["customer"].select(
        "c_custkey",
        F.lower("c_name").alias("name_lower"),
        F.upper(F.trim(F.col("c_mktsegment"))).alias("segment_upper"),
        F.regexp_replace(F.col("c_name"), "[^a-zA-Z0-9]", "").alias("name_stripped"),
        F.concat_ws("_", F.col("c_mktsegment"), F.col("c_custkey").cast("string")).alias(
            "natural_key"
        ),
        parts.getItem(0).alias("name_prefix"),
        F.element_at(parts, -1).alias("name_suffix"),
        F.size(parts).alias("n_parts"),
        F.lpad((F.col("c_custkey") % 100).cast("string"), 5, "0").alias("padded"),
        F.abs(F.col("c_custkey") - 750).cast("bigint").alias("abs_delta"),
    )


# ===========================================================================
# §2.8 parse_time_to_seconds: driver-verified inside q76 (datetime
# battery, suite_more.py); golden unit cases in tests/test_scalar.py.
# §2.4 A4 DISTINCT projection: driver-verified inside q73 (set-ops
# battery builds its inputs with select().filter(isNotNull).distinct()).
# ===========================================================================
# §2.1 S5 / §2.3 J4 — local-list source + static-mapping enrichment
# ===========================================================================

@register(
    "q19_static_mapping_join",
    oracle="""
    SELECT
      COALESCE(m.zone_code, 'Unknown') AS zone_code,
      COUNT(*) AS n_suppliers,
      CAST(SUM(CAST(s.s_acctbal AS DECIMAL(18,4))) AS DOUBLE) / COUNT(s.s_acctbal) AS avg_acctbal
    FROM supplier s
    LEFT JOIN nation n ON s.s_nationkey = n.n_nationkey
    LEFT JOIN (VALUES (0, 'ZA'), (1, 'ZB'), (2, 'ZC'), (3, 'ZD')) AS m(regionkey, zone_code)
      ON n.n_regionkey = m.regionkey
    GROUP BY COALESCE(m.zone_code, 'Unknown')
    """,
)
def q19_static_mapping_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SURVEY §2.1 S5 (spark.createDataFrame local-list source) + §2.3
    J4 (static-mapping broadcast enrichment) + the coalesce-to-sentinel
    fallback — the dim_countries country-map idiom
    (04b_gold_dim_countries.ipynb:144-266, :310-322), exercised on the
    supplier table. The 4-row mapping deliberately misses one region
    so the 'Unknown' branch is populated."""
    t = load_tables(spark, sf_dir, "supplier", "nation")
    s, n = t["supplier"], t["nation"]
    mapping = spark.createDataFrame(
        [(0, "ZA"), (1, "ZB"), (2, "ZC"), (3, "ZD")], ["regionkey", "zone_code"]
    ).coalesce(1)
    return (
        s.join(F.broadcast(n), s.s_nationkey == n.n_nationkey, "left")
        .join(F.broadcast(mapping), n.n_regionkey == mapping.regionkey, "left")
        .groupBy(
            F.coalesce(F.col("zone_code"), F.lit("Unknown")).alias("zone_code")
        )
        .agg(
            F.count(F.lit(1)).alias("n_suppliers"),
            davg("s_acctbal", "avg_acctbal"),
        )
    )


# ---------------------------------------------------------------------------
# public accessors consumed by __spark_entry__.py
# ---------------------------------------------------------------------------

def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """Every registered entry, in registration order."""
    _load_all()
    return {name: q.fn for name, q in QUERIES.items()}


def oracle_sql() -> dict[str, str]:
    """The DuckDB oracle of every entry that has one, in registration
    order."""
    _load_all()
    return {name: q.oracle for name, q in QUERIES.items() if q.oracle is not None}


def _load_all() -> None:
    """Import the sibling suite modules so their @register calls run.
    Deferred (not top-of-module) to avoid a circular import: those
    modules import ``register`` from here."""
    import ironman_medallion_lakehouse_spark.suite_analytics  # noqa: F401
    import ironman_medallion_lakehouse_spark.suite_extensions  # noqa: F401
    import ironman_medallion_lakehouse_spark.suite_more  # noqa: F401
    import ironman_medallion_lakehouse_spark.suite_training  # noqa: F401
    import ironman_medallion_lakehouse_spark.suite_views  # noqa: F401
