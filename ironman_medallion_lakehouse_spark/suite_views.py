"""Suite entries for the 15 dashboard-view shapes (SURVEY §2.11),
re-expressed on the driver's TPC-H-ish tables.

Shapes already covered by core entries (noted in docstrings):
vw_kpi_metrics ≈ q09, vw_finish_rate_trend ≈ q07, vw_gender_distribution
≈ q10, vw_year_over_year ≈ q05, vw_finish_time_distribution ≈ q15.
This module adds the remaining shapes: multi-status breakdowns,
dim-join leaderboards, null-rejecting post-left-join WHERE (P8),
share-of-group over joins, multi-measure averages, category splits,
H:MM:SS formatting, and exact/approx percentiles.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ironman_medallion_lakehouse_spark.session import load_tables
from ironman_medallion_lakehouse_spark.suite import davg, register, year_of


@register(
    "q20_status_by_year_priority",
    oracle="""
    SELECT
      CAST(EXTRACT(year FROM o_orderdate) AS BIGINT) AS order_year,
      o_orderpriority,
      COUNT(*) AS total_orders,
      CAST(SUM(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END) AS BIGINT) AS n_f,
      CAST(SUM(CASE WHEN o_orderstatus = 'O' THEN 1 ELSE 0 END) AS BIGINT) AS n_o,
      CAST(SUM(CASE WHEN o_orderstatus = 'P' THEN 1 ELSE 0 END) AS BIGINT) AS n_p,
      ROUND(SUM(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END) * 100.0 / COUNT(*), 1) AS f_rate_pct,
      ROUND(SUM(CASE WHEN o_orderstatus = 'P' THEN 1 ELSE 0 END) * 100.0 / COUNT(*), 1) AS p_rate_pct
    FROM orders
    GROUP BY 1, 2
    """,
)
def q20_status_by_year_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """vw_athletes_by_year + vw_dnf_analysis shape (05:108-119, 805-816):
    two-key group, one conditional sum per status enum value, two rates."""
    t = load_tables(spark, sf_dir, "orders")
    cnt = F.count(F.lit(1))

    def status(s):
        return F.sum(F.when(F.col("o_orderstatus") == s, 1).otherwise(0))

    return (
        t["orders"]
        .groupBy(year_of("o_orderdate").alias("order_year"), "o_orderpriority")
        .agg(
            cnt.alias("total_orders"),
            status("F").alias("n_f"),
            status("O").alias("n_o"),
            status("P").alias("n_p"),
            F.round(status("F") * 100.0 / cnt, 1).alias("f_rate_pct"),
            F.round(status("P") * 100.0 / cnt, 1).alias("p_rate_pct"),
        )
    )


@register(
    "q21_top_nations",
    oracle="""
    SELECT
      n.n_name AS nation_name,
      r.r_name AS region_name,
      COUNT(*) AS total_customers,
      CAST(SUM(CASE WHEN c.c_acctbal > 0 THEN 1 ELSE 0 END) AS BIGINT) AS positive_bal,
      ROUND(SUM(CASE WHEN c.c_acctbal > 0 THEN 1 ELSE 0 END) * 100.0 / COUNT(*), 1) AS positive_rate_pct,
      CAST(SUM(CAST(c.c_acctbal AS DECIMAL(18,4))) AS DOUBLE) / COUNT(c.c_acctbal) AS avg_acctbal,
      COUNT(DISTINCT c.c_mktsegment) AS segments
    FROM customer c
    LEFT JOIN nation n ON c.c_nationkey = n.n_nationkey
    LEFT JOIN region r ON n.n_regionkey = r.r_regionkey
    WHERE n.n_name IS NOT NULL
    GROUP BY n.n_name, r.r_name
    """,
)
def q21_top_nations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """vw_top_countries shape (05:277-288): dim join + P8 null-rejecting
    WHERE after LEFT JOIN (Catalyst's EliminateOuterJoin converts to
    inner — we keep the LEFT JOIN, never hand-optimize; SURVEY §7.3)."""
    t = load_tables(spark, sf_dir, "customer", "nation", "region")
    c, n, r = t["customer"], t["nation"], t["region"]
    cnt = F.count(F.lit(1))
    pos = F.sum(F.when(F.col("c_acctbal") > 0, 1).otherwise(0))
    return (
        c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey, "left")
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey, "left")
        .filter(F.col("n_name").isNotNull())
        .groupBy(F.col("n_name").alias("nation_name"), F.col("r_name").alias("region_name"))
        .agg(
            cnt.alias("total_customers"),
            pos.alias("positive_bal"),
            F.round(pos * 100.0 / cnt, 1).alias("positive_rate_pct"),
            davg("c_acctbal", "avg_acctbal"),
            F.countDistinct("c_mktsegment").alias("segments"),
        )
    )


@register(
    "q22_nations_by_year",
    oracle="""
    SELECT
      CAST(EXTRACT(year FROM o.o_orderdate) AS BIGINT) AS order_year,
      n.n_name AS nation_name,
      COUNT(*) AS total_orders,
      CAST(SUM(CASE WHEN o.o_orderstatus = 'F' THEN 1 ELSE 0 END) AS BIGINT) AS finished
    FROM orders o
    LEFT JOIN customer c ON o.o_custkey = c.c_custkey
    LEFT JOIN nation n   ON c.c_nationkey = n.n_nationkey
    WHERE n.n_name IS NOT NULL
    GROUP BY 1, 2
    """,
)
def q22_nations_by_year(spark: SparkSession, sf_dir: str) -> DataFrame:
    """vw_countries_by_year shape (05:336-346)."""
    t = load_tables(spark, sf_dir, "orders", "customer", "nation")
    o, c, n = t["orders"], t["customer"], t["nation"]
    return (
        o.join(F.broadcast(c), o.o_custkey == c.c_custkey, "left")
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey, "left")
        .filter(F.col("n_name").isNotNull())
        .groupBy(year_of("o_orderdate").alias("order_year"), F.col("n_name").alias("nation_name"))
        .agg(
            F.count(F.lit(1)).alias("total_orders"),
            F.sum(F.when(F.col("o_orderstatus") == "F", 1).otherwise(0)).alias("finished"),
        )
    )


@register(
    "q23_region_share",
    oracle="""
    WITH g AS (
      SELECT
        CAST(EXTRACT(year FROM o.o_orderdate) AS BIGINT) AS order_year,
        r.r_name AS region_name,
        COUNT(*) AS n_orders
      FROM orders o
      LEFT JOIN customer c ON o.o_custkey = c.c_custkey
      LEFT JOIN nation n   ON c.c_nationkey = n.n_nationkey
      LEFT JOIN region r   ON n.n_regionkey = r.r_regionkey
      WHERE r.r_name IS NOT NULL AND r.r_name != 'AFRICA'
      GROUP BY 1, 2
    )
    SELECT
      order_year, region_name, n_orders,
      ROUND(n_orders * 100.0 / SUM(n_orders) OVER (PARTITION BY order_year), 1) AS share_pct
    FROM g
    """,
)
def q23_region_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """vw_continent_distribution shape (05:370-381): join + group +
    share-of-year window, with the != sentinel filter."""
    t = load_tables(spark, sf_dir, "orders", "customer", "nation", "region")
    o, c, n, r = t["orders"], t["customer"], t["nation"], t["region"]
    g = (
        o.join(F.broadcast(c), o.o_custkey == c.c_custkey, "left")
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey, "left")
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey, "left")
        .filter(F.col("r_name").isNotNull() & (F.col("r_name") != "AFRICA"))
        .groupBy(year_of("o_orderdate").alias("order_year"), F.col("r_name").alias("region_name"))
        .agg(F.count(F.lit(1)).alias("n_orders"))
    )
    w = Window.partitionBy("order_year")
    return g.select(
        "order_year",
        "region_name",
        "n_orders",
        F.round(F.col("n_orders") * 100.0 / F.sum("n_orders").over(w), 1).alias("share_pct"),
    )


@register(
    "q24_measure_averages",
    oracle="""
    SELECT
      l_returnflag,
      CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) / COUNT(l_quantity) AS avg_qty,
      CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4))) AS DOUBLE) / COUNT(l_extendedprice) AS avg_price,
      CAST(SUM(CAST(l_tax AS DECIMAL(18,4))) AS DOUBLE) / COUNT(l_tax) AS avg_tax,
      ROUND(
        CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))) AS DOUBLE) * 100.0
        / CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4))) AS DOUBLE), 1) AS disc_price_pct
    FROM lineitem
    WHERE l_linestatus = 'O' AND l_returnflag IS NOT NULL
    GROUP BY l_returnflag
    """,
)
def q24_measure_averages(spark: SparkSession, sf_dir: str) -> DataFrame:
    """vw_segment_times shape (05:426-443): filtered multi-measure
    averages + ratio-of-aggregates percentage (A7/A9)."""
    t = load_tables(spark, sf_dir, "lineitem")
    li = t["lineitem"].filter(
        (F.col("l_linestatus") == "O") & F.col("l_returnflag").isNotNull()
    )
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    sum_price = F.sum(F.col("l_extendedprice").cast("decimal(18,4)")).cast("double")
    sum_disc = F.sum(disc_price.cast("decimal(18,4)")).cast("double")
    return li.groupBy("l_returnflag").agg(
        davg("l_quantity", "avg_qty"),
        davg("l_extendedprice", "avg_price"),
        davg("l_tax", "avg_tax"),
        F.round(sum_disc * 100.0 / sum_price, 1).alias("disc_price_pct"),
    )


@register(
    "q25_size_bucket_perf",
    oracle="""
    SELECT
      CAST(FLOOR(p.p_size / 10) AS BIGINT) AS size_bucket,
      CONCAT(CAST(CAST(FLOOR(p.p_size / 10) * 10 AS BIGINT) AS VARCHAR), '-',
             CAST(CAST(FLOOR(p.p_size / 10) * 10 + 9 AS BIGINT) AS VARCHAR)) AS size_group,
      COUNT(*) AS n_lines,
      CAST(SUM(CASE WHEN l.l_quantity > 25 THEN 1 ELSE 0 END) AS BIGINT) AS big_lines,
      ROUND(SUM(CASE WHEN l.l_quantity > 25 THEN 1 ELSE 0 END) * 100.0 / COUNT(*), 1) AS big_rate_pct,
      CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,4))) AS DOUBLE) / COUNT(l.l_extendedprice) AS avg_price
    FROM lineitem l
    LEFT JOIN part p ON l.l_partkey = p.p_partkey
    WHERE p.p_size IS NOT NULL AND p.p_brand != 'Brand#13'
    GROUP BY 1, 2
    """,
)
def q25_size_bucket_perf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """vw_age_group_performance shape (05:489-503): dim attribute
    bucketing (age-group analogue = p_size decades), P8 null-rejecting
    WHERE + attribute exclusion after LEFT JOIN, CONCAT label."""
    t = load_tables(spark, sf_dir, "lineitem", "part")
    li, p = t["lineitem"], t["part"]
    bucket = F.floor(F.col("p_size") / 10).cast("bigint")
    label = F.concat(
        (bucket * 10).cast("string"), F.lit("-"), (bucket * 10 + 9).cast("string")
    )
    big = F.sum(F.when(F.col("l_quantity") > 25, 1).otherwise(0))
    cnt = F.count(F.lit(1))
    return (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey, "left")
        .filter(F.col("p_size").isNotNull() & (F.col("p_brand") != "Brand#13"))
        .groupBy(bucket.alias("size_bucket"), label.alias("size_group"))
        .agg(
            cnt.alias("n_lines"),
            big.alias("big_lines"),
            F.round(big * 100.0 / cnt, 1).alias("big_rate_pct"),
            davg("l_extendedprice", "avg_price"),
        )
    )


@register(
    "q26_formatted_topk",
    oracle="""
    SELECT
      o.o_orderkey,
      c.c_name,
      n.n_name AS nation_name,
      o.o_totalprice,
      CONCAT(
        CAST(CAST(FLOOR((o.o_orderkey % 50000) / 3600) AS BIGINT) AS VARCHAR), ':',
        LPAD(CAST(CAST(FLOOR(((o.o_orderkey % 50000) % 3600) / 60) AS BIGINT) AS VARCHAR), 2, '0'), ':',
        LPAD(CAST((o.o_orderkey % 50000) % 60 AS VARCHAR), 2, '0')
      ) AS duration_formatted
    FROM orders o
    LEFT JOIN customer c ON o.o_custkey = c.c_custkey
    LEFT JOIN nation n   ON c.c_nationkey = n.n_nationkey
    WHERE o.o_orderstatus = 'F'
    ORDER BY o.o_totalprice DESC, o.o_orderkey ASC
    LIMIT 15
    """,
)
def q26_formatted_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """vw_top_finishers shape (05:605-628): star join + the
    FLOOR / % / LPAD / CONCAT H:MM:SS re-formatting battery + ordered
    top-k (TakeOrderedAndProject)."""
    t = load_tables(spark, sf_dir, "orders", "customer", "nation")
    o, c, n = t["orders"], t["customer"], t["nation"]
    secs = F.col("o_orderkey") % 50000
    formatted = F.concat(
        F.floor(secs / 3600).cast("string"),
        F.lit(":"),
        F.lpad(F.floor((secs % 3600) / 60).cast("string"), 2, "0"),
        F.lit(":"),
        F.lpad((secs % 60).cast("string"), 2, "0"),
    )
    return (
        o.join(F.broadcast(c), o.o_custkey == c.c_custkey, "left")
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey, "left")
        .filter(F.col("o_orderstatus") == "F")
        .select(
            "o_orderkey",
            "c_name",
            F.col("n_name").alias("nation_name"),
            "o_totalprice",
            formatted.alias("duration_formatted"),
        )
        .orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey").asc())
        .limit(15)
    )


@register(
    "q27_category_split",
    oracle="""
    SELECT
      CASE WHEN p.p_type = 'ECONOMY' THEN 'Economy' ELSE 'Other' END AS category,
      COUNT(*) AS n_lines,
      CAST(SUM(CASE WHEN l.l_returnflag = 'R' THEN 1 ELSE 0 END) AS BIGINT) AS returned,
      ROUND(SUM(CASE WHEN l.l_returnflag = 'R' THEN 1 ELSE 0 END) * 100.0 / COUNT(*), 1) AS return_rate_pct,
      MIN(l.l_extendedprice) AS min_price,
      CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,4))) AS DOUBLE) / COUNT(l.l_extendedprice) AS avg_price
    FROM lineitem l
    LEFT JOIN part p ON l.l_partkey = p.p_partkey
    WHERE p.p_type IS NOT NULL
    GROUP BY 1
    """,
)
def q27_category_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """vw_pro_vs_age_group shape (05:746-761): boolean dim attribute →
    two-way category split with rates and MIN."""
    t = load_tables(spark, sf_dir, "lineitem", "part")
    li, p = t["lineitem"], t["part"]
    category = F.when(F.col("p_type") == "ECONOMY", "Economy").otherwise("Other")
    ret = F.sum(F.when(F.col("l_returnflag") == "R", 1).otherwise(0))
    cnt = F.count(F.lit(1))
    return (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey, "left")
        .filter(F.col("p_type").isNotNull())
        .groupBy(category.alias("category"))
        .agg(
            cnt.alias("n_lines"),
            ret.alias("returned"),
            F.round(ret * 100.0 / cnt, 1).alias("return_rate_pct"),
            F.min("l_extendedprice").alias("min_price"),
            davg("l_extendedprice", "avg_price"),
        )
    )


@register(
    "q28_quantiles",
    oracle="""
    SELECT
      l_returnflag,
      MIN(l_quantity) AS min_qty,
      MIN(l_extendedprice) AS min_price,
      CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4))) AS DOUBLE) / COUNT(l_extendedprice) AS avg_price,
      quantile_cont(l_quantity, 0.5) AS median_qty,
      TRUE AS approx_within_1pct
    FROM lineitem
    GROUP BY l_returnflag
    """,
)
def q28_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """vw_fastest_times shape (05:864-881): exact interpolated median
    (Spark `percentile` ≡ DuckDB `quantile_cont`) hash-matched against
    the oracle, plus SURVEY §2.4 A8 PERCENTILE_APPROX (the reference's
    median, 05:877) verified as a *tolerance assertion*: the sketch
    estimate must land within 1% of the exact median, emitted as a
    boolean the oracle pins to TRUE. That turns the engine-specific
    sketch into a driver-checkable contract instead of a rows-only row."""
    t = load_tables(spark, sf_dir, "lineitem")
    exact_median = F.expr("percentile(l_quantity, 0.5)")
    approx_median = F.percentile_approx("l_quantity", 0.5, 10000)
    return t["lineitem"].groupBy("l_returnflag").agg(
        F.min("l_quantity").alias("min_qty"),
        F.min("l_extendedprice").alias("min_price"),
        davg("l_extendedprice", "avg_price"),
        exact_median.alias("median_qty"),
        (
            # +1.0 absolute slack: the exact median INTERPOLATES between
            # adjacent values on an even-count straddle (e.g. 25.5 for
            # integer quantities) while the sketch returns an actual
            # data value — without the slack that legitimate 0.5 gap
            # exceeds the 1% relative bound and flips the pinned TRUE
            F.abs(approx_median - exact_median)
            <= 0.01 * F.abs(exact_median) + F.lit(1.0)
        ).alias("approx_within_1pct"),
    )
