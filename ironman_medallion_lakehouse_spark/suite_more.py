"""Suite entries beyond the core/view/extension sets: CSV ingest
roundtrip, table-store merge semantics vs pure SQL, as-of join,
rollup/cube, salted aggregation, embedding near-dup pairs."""

from __future__ import annotations

import os
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ironman_medallion_lakehouse_spark.operators.asof import as_of_join
from ironman_medallion_lakehouse_spark.session import load_tables
from ironman_medallion_lakehouse_spark.sources.tablestore import TableStore
from ironman_medallion_lakehouse_spark.suite import dsum, register, year_of


# ===========================================================================
# §2.1 S1-S3 — CSV landing-zone ingest roundtrip
# ===========================================================================

@register(
    "q56_file_ingest",
    oracle="""
    SELECT 'csv' AS src_format, c_mktsegment AS group_key,
           COUNT(*) AS n_rows,
           CAST(COUNT(DISTINCT c_nationkey) AS BIGINT) AS metric
    FROM customer
    GROUP BY c_mktsegment
    UNION ALL
    SELECT 'json', lang, COUNT(*), CAST(SUM(n_chars) AS BIGINT)
    FROM documents
    GROUP BY lang
    """,
)
def q56_file_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SURVEY §2.1 S1-S3 + the semi-structured source family
    (previously q56 + q64), both staged through a warehouse-rooted
    directory (driver-local /tmp is invisible to executors on a real
    cluster — r1 finding):

    - CSV: the bronze ingest path (plans/bronze.read_csv_with_metadata
      — header'd all-string read, dash→null, lineage metadata),
      customer staged as a landing CSV, re-ingested, re-typed.
    - JSON-lines: documents staged and re-read with spark.read.json
      under an explicit schema (schema-on-read — never inferSchema
      over 100 TB).

    The oracle reads the original parquet — both roundtrips must be
    lossless."""
    from ironman_medallion_lakehouse_spark.plans.bronze import read_csv_with_metadata
    from ironman_medallion_lakehouse_spark.session import staging_dir

    sf_tag = os.path.basename(sf_dir.rstrip("/"))
    t = load_tables(spark, sf_dir, "customer", "documents")

    csv_stage = staging_dir(spark, f"csv_ingest_{sf_tag}")
    t["customer"].select(
        F.col("c_custkey").cast("string"),
        F.col("c_nationkey").cast("string"),
        F.col("c_mktsegment"),
    ).write.mode("overwrite").option("header", "true").csv(csv_stage)
    ingested_csv = read_csv_with_metadata(spark, csv_stage, year=2024, gender="M")
    assert "load_timestamp" in ingested_csv.columns  # S3 metadata attached
    csv_agg = (
        ingested_csv.withColumn("c_nationkey", F.col("c_nationkey").cast("int"))
        .groupBy(F.col("c_mktsegment").alias("group_key"))
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.countDistinct("c_nationkey").cast("bigint").alias("metric"),
        )
        .select(F.lit("csv").alias("src_format"), "group_key", "n_rows", "metric")
    )

    json_stage = staging_dir(spark, f"json_ingest_{sf_tag}")
    t["documents"].select("doc_id", "lang", "n_chars").write.mode("overwrite").json(json_stage)
    ingested_json = spark.read.schema("doc_id bigint, lang string, n_chars bigint").json(
        json_stage
    )
    json_agg = (
        ingested_json.groupBy(F.col("lang").alias("group_key"))
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum("n_chars").alias("metric"),
        )
        .select(F.lit("json").alias("src_format"), "group_key", "n_rows", "metric")
    )
    return csv_agg.unionByName(json_agg)


# ===========================================================================
# mergeable-sketch rollups (operators/sketches.py): store fine-grained,
# answer coarse by union — the 100 TB COUNT(DISTINCT)/quantile pattern
# ===========================================================================

@register(
    "q82_sketch_rollup",
    oracle="""
    SELECT
      CAST(EXTRACT(year FROM o_orderdate) AS BIGINT) AS order_year,
      COUNT(DISTINCT o_custkey) AS exact_distinct_buyers,
      quantile_cont(o_totalprice, 0.5) AS median_price,
      TRUE AS hll_within_5pct,
      TRUE AS theta_within_5pct,
      TRUE AS kll_within_5pct
    FROM orders
    GROUP BY 1
    """,
)
def q82_sketch_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch rollups driver-attested via the q28 tolerance-boolean
    protocol (sketch estimates are engine-specific — DataSketches
    binaries can't hash-match a DuckDB value, so the contract becomes
    a boolean the oracle pins TRUE, alongside exact columns that ARE
    hash-matched):

    - fine grain: per-(year, priority) HLL + Theta sketches of buyers
      and a KLL sketch of price (operators/sketches.py — ONE shuffle
      over raw rows, each group reduced to a ~KB sketch);
    - coarse answer: per-year rollups by sketch union/merge — input is
      5 sketch rows per year, never raw data (at 100 TB: the fact
      table is read once ever, every coarser dashboard grain is
      answered from stored sketches);
    - checks: hll/theta distinct-buyer estimates within 5% of the
      hash-matched exact countDistinct (lgK=12 ≈ 2% stderr, 5% ≈ 3σ);
      KLL median within 5% of the hash-matched exact interpolated
      median (k=200 ≈ 1.7% rank error on a smooth price
      distribution)."""
    from ironman_medallion_lakehouse_spark.operators import sketches as SK

    t = load_tables(spark, sf_dir, "orders")
    o = t["orders"].withColumn("order_year", year_of("o_orderdate"))

    hll_fine = SK.distinct_sketches(o, ["order_year", "o_orderpriority"], "o_custkey")
    hll_year = SK.rollup_distinct(hll_fine, ["order_year"])
    theta_fine = SK.theta_sketches(o, ["order_year", "o_orderpriority"], "o_custkey")
    theta_year = SK.rollup_theta(theta_fine, ["order_year"], op="union")
    kll_fine = SK.quantile_sketches(o, ["order_year", "o_orderpriority"], "o_totalprice")
    kll_year = SK.rollup_quantiles(kll_fine, ["order_year"], probs=[0.5])

    exact = o.groupBy("order_year").agg(
        F.countDistinct("o_custkey").alias("exact_distinct_buyers"),
        F.expr("percentile(o_totalprice, 0.5)").alias("median_price"),
    )

    def within(est, ref, tol=0.05):
        return F.abs(est - ref) <= tol * F.abs(ref)

    return (
        exact.join(hll_year.withColumnRenamed("approx_distinct", "hll_est"), "order_year")
        .join(theta_year.withColumnRenamed("approx_distinct", "theta_est"), "order_year")
        .join(kll_year.withColumnRenamed("q_0_5", "kll_median"), "order_year")
        .select(
            "order_year",
            "exact_distinct_buyers",
            "median_price",
            within(F.col("hll_est"), F.col("exact_distinct_buyers")).alias("hll_within_5pct"),
            within(F.col("theta_est"), F.col("exact_distinct_buyers")).alias("theta_within_5pct"),
            within(F.col("kll_median"), F.col("median_price")).alias("kll_within_5pct"),
        )
    )


# ===========================================================================
# §2.1 S6-S10 — the full table lifecycle through the TableStore:
# overwrite → insert-only MERGE → SCD-1 MERGE → OPTIMIZE → time travel
# → change-data-feed, every stage's observable state checked in SQL
# ===========================================================================

@register(
    "q57_table_lifecycle",
    oracle="""
    WITH base AS (
      SELECT *, CAST(EXTRACT(year FROM o_orderdate) AS BIGINT) AS order_year
      FROM orders
    ),
    target0 AS (
      SELECT * FROM base WHERE o_orderkey % 3 != 0
    ),
    inserted AS (
      SELECT * FROM base s
      WHERE order_year IN (1997, 1998)
        AND NOT EXISTS (SELECT 1 FROM target0 t WHERE t.o_orderkey = s.o_orderkey)
    ),
    v2 AS (
      SELECT * FROM target0 UNION ALL SELECT * FROM inserted
    ),
    final AS (
      SELECT o_orderkey, order_year,
             CASE WHEN o_orderkey % 2 = 0 THEN o_totalprice + 100
                  ELSE o_totalprice END AS o_totalprice
      FROM v2
      UNION ALL
      SELECT o_orderkey, order_year, o_totalprice + 100
      FROM base s
      WHERE o_orderkey % 2 = 0
        AND NOT EXISTS (SELECT 1 FROM v2 t WHERE t.o_orderkey = s.o_orderkey)
    )
    SELECT
      f.order_year,
      f.n_final,
      f.revenue_final,
      v.n_v2,
      COALESCE(c.n_inserted, 0) AS n_cdc_inserted
    FROM (
      SELECT order_year, COUNT(*) AS n_final,
             CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS revenue_final
      FROM final GROUP BY order_year
    ) f
    LEFT JOIN (
      SELECT order_year, COUNT(*) AS n_v2 FROM v2 GROUP BY order_year
    ) v USING (order_year)
    LEFT JOIN (
      SELECT order_year, COUNT(*) AS n_inserted FROM inserted GROUP BY order_year
    ) c USING (order_year)
    """,
)
def q57_table_lifecycle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SURVEY §2.1 S6-S10 through the real TableStore
    (sources/tablestore.py), driver-attested end-to-end:

    1. save_overwrite, year-partitioned (S6; 02_bronze.ipynb:301-310)
    2. merge_insert_only of the 1997/1998 slice (S7; 02:311-318) —
       file-appending, partition-pruned anti-join
    3. merge_scd1 price restatement on even order keys (S8;
       04a_gold_dim_athletes.ipynb:311-328)
    4. optimize() compaction (S10; 02:354) — must not change data
    5. read(version=2): time travel to the pre-SCD1 state → n_v2
    6. table_changes(1, 2): CDC of the insert-only merge → the added
       files hold exactly the inserted rows → n_cdc_inserted

    The oracle reconstructs every stage's state in pure SQL; the final
    projection joins per-year aggregates of the post-OPTIMIZE state,
    the time-traveled state, and the change feed."""
    from ironman_medallion_lakehouse_spark.session import staging_dir

    t = load_tables(spark, sf_dir, "orders")
    orders = t["orders"].withColumn("order_year", year_of("o_orderdate"))
    root = tempfile.mkdtemp(prefix="lifecycle_", dir=staging_dir(spark, "tablestore"))
    store = TableStore(spark, root)

    store.save_overwrite(
        orders.filter(F.col("o_orderkey") % 3 != 0), "db.orders", partition_by=["order_year"]
    )  # v1
    store.merge_insert_only(
        orders.filter(F.col("order_year").isin(1997, 1998)),
        "db.orders",
        keys=["o_orderkey"],
    )  # v2
    updates = orders.filter(F.col("o_orderkey") % 2 == 0).withColumn(
        "o_totalprice", F.col("o_totalprice") + 100
    )
    store.merge_scd1(updates, "db.orders", keys=["o_orderkey"], update_cols=["o_totalprice"])  # v3
    store.optimize("db.orders")  # v4 — compaction only, same rows

    final_agg = (
        store.read("db.orders")
        .groupBy("order_year")
        .agg(F.count(F.lit(1)).alias("n_final"), dsum("o_totalprice", "revenue_final"))
    )
    tt_agg = (
        store.read("db.orders", version=2)
        .groupBy("order_year")
        .agg(F.count(F.lit(1)).alias("n_v2"))
    )
    cdc_agg = (
        store.table_changes("db.orders", 1, 2)
        .groupBy("order_year")
        .agg(F.count(F.lit(1)).alias("n_inserted"))
    )
    return (
        final_agg.join(tt_agg, "order_year", "left")
        .join(cdc_agg, "order_year", "left")
        .select(
            "order_year",
            "n_final",
            "revenue_final",
            "n_v2",
            F.coalesce(F.col("n_inserted"), F.lit(0)).cast("bigint").alias("n_cdc_inserted"),
        )
    )


# ===========================================================================
# §2.1 S8+ — SCD-2 history-tracking merge: a three-merge attribute
# timeline (close + reopen per changed key) replayed by the oracle
# ===========================================================================

_SCD2_T1, _SCD2_T2, _SCD2_T3 = (
    "2024-01-01 00:00:00",
    "2024-02-01 00:00:00",
    "2024-03-01 00:00:00",
)


@register(
    "q133_scd2_timeline",
    oracle=f"""
    WITH s1 AS (SELECT c_custkey, c_mktsegment, c_acctbal FROM customer),
    s2 AS (
      SELECT c_custkey, c_mktsegment,
             CASE WHEN c_custkey % 4 = 0 THEN c_acctbal + 50
                  ELSE c_acctbal END AS c_acctbal
      FROM customer
    ),
    s3 AS (
      SELECT c_custkey,
             CASE WHEN c_custkey % 6 = 0 THEN 'CHURNED'
                  ELSE c_mktsegment END AS c_mktsegment,
             c_acctbal
      FROM s2
    ),
    flags AS (
      SELECT c_custkey,
             (c_custkey % 4 = 0) AS ch2,
             (c_custkey % 6 = 0) AS ch3
      FROM customer
    ),
    timeline AS (
      SELECT s1.c_acctbal,
             TIMESTAMP '{_SCD2_T1}' AS valid_from,
             CASE WHEN f.ch2 THEN TIMESTAMP '{_SCD2_T2}'
                  WHEN f.ch3 THEN TIMESTAMP '{_SCD2_T3}'
                  ELSE NULL END AS valid_to,
             (NOT f.ch2 AND NOT f.ch3) AS is_current
      FROM s1 JOIN flags f USING (c_custkey)
      UNION ALL
      SELECT s2.c_acctbal,
             TIMESTAMP '{_SCD2_T2}',
             CASE WHEN f.ch3 THEN TIMESTAMP '{_SCD2_T3}' ELSE NULL END,
             NOT f.ch3
      FROM s2 JOIN flags f USING (c_custkey) WHERE f.ch2
      UNION ALL
      SELECT s3.c_acctbal,
             TIMESTAMP '{_SCD2_T3}', NULL, TRUE
      FROM s3 JOIN flags f USING (c_custkey) WHERE f.ch3
    )
    SELECT valid_from, valid_to, is_current,
           COUNT(*) AS n_rows,
           CAST(SUM(CAST(c_acctbal AS DECIMAL(18,4))) AS DOUBLE) AS total_bal
    FROM timeline
    GROUP BY 1, 2, 3
    """,
)
def q133_scd2_timeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD Type-2 history tracking through the real TableStore
    (sources/tablestore.py merge_scd2), driver-attested end-to-end
    (VERDICT r5 item 4 — previously pytest-only):

    1. merge @ T1 initializes the dimension (every key open at T1);
    2. merge @ T2 restates c_acctbal for custkey % 4 == 0 — each
       changed key's T1 version is CLOSED (valid_to = T2) and a new
       current version opens;
    3. merge @ T3 flips c_mktsegment to 'CHURNED' for custkey % 6 == 0
       — closes whichever version is current (the T2 row for keys
       divisible by 12, else the T1 row) and opens a third;
    4. a REPLAY of merge 3 at a later timestamp must be a no-op (no
       tracked attribute changed), proving version boundaries are
       deterministic, not now()-driven.

    The result groups the final table by (valid_from, valid_to,
    is_current): six timeline buckets whose closed rows (n_closed > 0
    via the T2/T3 valid_to buckets) the oracle replays in pure SQL.
    Reference: the Delta MERGE upsert lifecycle (Readme.md:149-172)
    extended to the Kimball two-branch SCD-2 MERGE Delta users write.
    """
    from ironman_medallion_lakehouse_spark.session import staging_dir

    t = load_tables(spark, sf_dir, "customer")
    cust = t["customer"].select("c_custkey", "c_mktsegment", "c_acctbal")
    s2 = cust.withColumn(
        "c_acctbal",
        F.when(F.col("c_custkey") % 4 == 0, F.col("c_acctbal") + 50).otherwise(
            F.col("c_acctbal")
        ),
    )
    s3 = s2.withColumn(
        "c_mktsegment",
        F.when(F.col("c_custkey") % 6 == 0, F.lit("CHURNED")).otherwise(
            F.col("c_mktsegment")
        ),
    )
    root = tempfile.mkdtemp(prefix="scd2_", dir=staging_dir(spark, "tablestore"))
    store = TableStore(spark, root)
    store.merge_scd2(cust, "db.dim_customer", keys=["c_custkey"], effective_ts=_SCD2_T1)
    store.merge_scd2(s2, "db.dim_customer", keys=["c_custkey"], effective_ts=_SCD2_T2)
    store.merge_scd2(s3, "db.dim_customer", keys=["c_custkey"], effective_ts=_SCD2_T3)
    # replay with the SAME source at a LATER ts: nothing tracked-changed,
    # so the timeline must be byte-identical (no close, no open)
    store.merge_scd2(
        s3, "db.dim_customer", keys=["c_custkey"], effective_ts="2024-03-15 00:00:00"
    )
    return (
        store.read("db.dim_customer")
        .groupBy("valid_from", "valid_to", "is_current")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            dsum("c_acctbal", "total_bal"),
        )
    )


# ===========================================================================
# as-of (point-in-time) join — custom operator, DuckDB ASOF as oracle
# ===========================================================================

@register(
    "q60_asof_join",
    oracle="""
    WITH clicks AS (
      SELECT user_id, ts, MAX(event_id) AS click_id
      FROM events WHERE event_type = 'click'
      GROUP BY user_id, ts
    ),
    purchases AS (
      SELECT event_id AS purchase_id, user_id, ts
      FROM events WHERE event_type = 'purchase'
    )
    SELECT p.purchase_id, p.user_id, p.ts, c.click_id AS click_id_asof, c.ts AS ts_asof
    FROM purchases p
    ASOF LEFT JOIN clicks c ON p.user_id = c.user_id AND p.ts >= c.ts
    """,
)
def q60_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join (operators/asof.py): each purchase attaches the
    latest preceding click of the same user. Union-tag-window plan —
    one shuffle, no range explosion; DuckDB's native ASOF JOIN is the
    oracle."""
    t = load_tables(spark, sf_dir, "events")
    ev = t["events"]
    clicks = (
        ev.filter(F.col("event_type") == "click")
        .groupBy("user_id", "ts")
        .agg(F.max("event_id").alias("click_id"))
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"), "user_id", "ts"
    )
    return as_of_join(
        purchases, clicks, on=["user_id"], left_ts="ts", right_ts="ts",
        right_payload=["click_id"],
    )


# ===========================================================================
# ROLLUP / CUBE / GROUPING SETS — multi-level aggregation battery
# (beyond-reference; previously q61 + q62 + q78)
# ===========================================================================

@register(
    "q61_grouping_battery",
    oracle="""
    SELECT 'rollup' AS mode,
      CAST(EXTRACT(year FROM o_orderdate) AS BIGINT) AS order_year,
      o_orderstatus,
      COUNT(*) AS n_orders,
      CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS revenue
    FROM orders
    GROUP BY ROLLUP (CAST(EXTRACT(year FROM o_orderdate) AS BIGINT), o_orderstatus)
    UNION ALL
    SELECT 'cube',
      CAST(EXTRACT(year FROM o_orderdate) AS BIGINT),
      o_orderstatus,
      COUNT(*),
      CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE)
    FROM orders
    GROUP BY CUBE (CAST(EXTRACT(year FROM o_orderdate) AS BIGINT), o_orderstatus)
    UNION ALL
    SELECT 'gsets',
      CAST(EXTRACT(year FROM o_orderdate) AS BIGINT),
      o_orderstatus,
      COUNT(*),
      CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE)
    FROM orders
    GROUP BY GROUPING SETS (
      (CAST(EXTRACT(year FROM o_orderdate) AS BIGINT)),
      (o_orderstatus),
      ()
    )
    """,
)
def q61_grouping_battery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """All three multi-level aggregation surfaces over the same
    (year, status) keys — absent from the reference (SURVEY §2.4
    'grouping sets absent') but core serving-layer machinery:

    - df.rollup  → {(y,s), (y), ()}           (hierarchy totals)
    - df.cube    → {(y,s), (y), (s), ()}      (all 2^k sets)
    - SQL GROUPING SETS ((y),(s),()) via spark.sql — the parser path

    Each variant plans as a single Expand + one-shuffle aggregate;
    the Expand factor (number of sets) is the scale knob, not row
    count."""
    t = load_tables(spark, sf_dir, "orders")
    aggs = [F.count(F.lit(1)).alias("n_orders"), dsum("o_totalprice", "revenue")]
    rollup = (
        t["orders"]
        .rollup(year_of("o_orderdate").alias("order_year"), F.col("o_orderstatus"))
        .agg(*aggs)
        .select(F.lit("rollup").alias("mode"), "*")
    )
    cube = (
        t["orders"]
        .cube(year_of("o_orderdate").alias("order_year"), F.col("o_orderstatus"))
        .agg(*aggs)
        .select(F.lit("cube").alias("mode"), "*")
    )
    gsets = spark.sql(
        """
        SELECT 'gsets' AS mode,
          CAST(EXTRACT(YEAR FROM o_orderdate) AS BIGINT) AS order_year,
          o_orderstatus,
          COUNT(*) AS n_orders,
          CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS revenue
        FROM orders
        GROUP BY GROUPING SETS (
          (CAST(EXTRACT(YEAR FROM o_orderdate) AS BIGINT)),
          (o_orderstatus),
          ()
        )
        """
    )
    return rollup.unionByName(cube).unionByName(gsets)


# ===========================================================================
# classic heavy shapes: shipping-priority top-k, 6-way volume join,
# moving-average window frame
# ===========================================================================

@register(
    "q66_shipping_priority",
    oracle="""
    SELECT
      l.l_orderkey,
      CAST(SUM(CAST(l.l_extendedprice * (1 - l.l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS revenue,
      o.o_orderdate,
      o.o_orderpriority
    FROM customer c
    JOIN orders o   ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    WHERE c.c_mktsegment = 'BUILDING'
      AND o.o_orderdate < TIMESTAMP '1998-03-15 00:00:00'
      AND l.l_shipdate  > TIMESTAMP '1998-03-15 00:00:00'
    GROUP BY l.l_orderkey, o.o_orderdate, o.o_orderpriority
    ORDER BY revenue DESC, o.o_orderdate ASC, l.l_orderkey ASC
    LIMIT 10
    """,
)
def q66_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3 shape: selective filters on three tables feeding a
    grouped top-k. All three filters push to their scans; customer
    broadcasts; lineitem⋈orders is the only real shuffle."""
    t = load_tables(spark, sf_dir, "customer", "orders", "lineitem")
    c, o, li = t["customer"], t["orders"], t["lineitem"]
    cutoff = F.lit("1998-03-15").cast("timestamp")
    revenue = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        c.filter(F.col("c_mktsegment") == "BUILDING")
        .join(o, c.c_custkey == o.o_custkey)
        .filter(F.col("o_orderdate") < cutoff)
        .join(li, li.l_orderkey == o.o_orderkey)
        .filter(F.col("l_shipdate") > cutoff)
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(dsum(revenue, "revenue"))
        .select("l_orderkey", "revenue", "o_orderdate", "o_orderpriority")
        .orderBy(
            F.col("revenue").desc(), F.col("o_orderdate").asc(), F.col("l_orderkey").asc()
        )
        .limit(10)
    )


def q67_regional_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5 shape: 6-way join with a same-nation constraint between
    customer and supplier. customer/supplier/nation/region broadcast;
    the fact-side shuffle is lineitem⋈orders only.

    Not registered as a suite entry since round 3: the Q5 join shape
    overlaps q66 (Q3) and q04 (star join), and its driver slot went to
    the serving-catalog SQL row (q80). The salted-agg plan properties
    stay enforced by tests/test_plans_round2.py.

    The final aggregate runs as a **salted two-phase aggregation**
    (previously the standalone q63): the group key has only ~5 values
    per region, so at 100 TB a direct shuffle lands hundreds of GB on
    5 reducers. Salting by hash(l_orderkey)%16 spreads the partial
    aggregation over 80 reducers; the combine over (key, salt) partials
    is tiny. Decimal accumulation keeps the two-phase sum exactly equal
    to the direct GROUP BY oracle."""
    t = load_tables(
        spark, sf_dir, "customer", "orders", "lineitem", "supplier", "nation", "region"
    )
    c, o, li = t["customer"], t["orders"], t["lineitem"]
    s, n, r = t["supplier"], t["nation"], t["region"]
    revenue = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    joined = (
        c.join(o, c.c_custkey == o.o_custkey)
        .filter(
            (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
            & (F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp"))
        )
        .join(li, li.l_orderkey == o.o_orderkey)
        .join(
            F.broadcast(s),
            (li.l_suppkey == s.s_suppkey) & (c.c_nationkey == s.s_nationkey),
        )
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .filter(F.col("r_name") == "ASIA")
    )
    partial = (
        joined.withColumn("_salt", F.pmod(F.hash("l_orderkey"), F.lit(16)))
        .groupBy(F.col("n_name").alias("nation_name"), "_salt")
        .agg(
            F.sum(revenue.cast("decimal(18,4)")).alias("_rev"),
            F.count(F.lit(1)).alias("_n"),
        )
    )
    return partial.groupBy("nation_name").agg(
        F.sum("_rev").cast("double").alias("revenue"),
        F.sum("_n").alias("n_lines"),
    )


# ===========================================================================
# serving catalog: publish + persistent-view SQL from a fresh session
# (SURVEY §3 entry-point 3 — 05_dashboard_queries.ipynb:49 ff.)
# ===========================================================================

@register(
    "q80_catalog_sql",
    oracle="""
    WITH fact AS (
      SELECT
        CAST(EXTRACT(year FROM o_orderdate) AS BIGINT) AS year,
        o_custkey % 25 AS country_key,
        o_orderstatus = 'F' AS is_finisher
      FROM orders
    ),
    cty AS (
      SELECT n_nationkey AS country_key, n_name AS country_name, r_name AS continent
      FROM nation JOIN region ON n_regionkey = r_regionkey
    )
    SELECT f.year, c.country_name, c.continent,
           COUNT(*) AS total_athletes,
           CAST(SUM(CASE WHEN f.is_finisher THEN 1 ELSE 0 END) AS BIGINT) AS finishers
    FROM fact f
    LEFT JOIN cty c ON f.country_key = c.country_key
    WHERE c.country_name IS NOT NULL
    GROUP BY f.year, c.country_name, c.continent
    """,
)
def q80_catalog_sql(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL serving catalog end-to-end (plans/catalog.publish_catalog,
    SURVEY §3 entry-point 3): gold tables land in a real TableStore,
    ``publish_catalog`` snapshots them into the session catalog and
    issues the reference's 15 persistent-view DDLs
    (05_dashboard_queries.ipynb:49 ff.), and the answer is read back
    with ``spark.sql`` **from a fresh ``spark.newSession()``** — no
    temp-view registration, exactly how a BI client would connect. The
    driver row therefore attests the whole serving path: manifest table
    → saveAsTable → CREATE VIEW gold.vw_* → cross-session qualified
    SQL.

    The gold schema is mapped from the driver's TPC-H-ish tables with
    pure-SQL derivations (status flags from o_orderstatus, country_key
    from o_custkey % 25, dims from nation ⋈ region) so DuckDB can
    replay the published view's semantics — vw_countries_by_year: dim
    LEFT JOIN + null-rejecting WHERE + per-(year, country) counts. All
    15 views are created (their DDL resolves against the published
    tables); counts-only output keeps the oracle float-free."""
    from ironman_medallion_lakehouse_spark import config as C
    from ironman_medallion_lakehouse_spark.plans.catalog import publish_catalog
    from ironman_medallion_lakehouse_spark.session import staging_dir

    t = load_tables(spark, sf_dir, "orders", "customer", "nation", "region")
    o, n, r = t["orders"], t["nation"], t["region"]
    price = F.col("o_totalprice")
    fact = o.select(
        F.col("o_custkey").alias("athlete_key"),
        year_of("o_orderdate").alias("year"),
        F.when(F.col("o_orderkey") % 2 == 0, "M").otherwise("F").alias("source_gender"),
        (F.col("o_orderstatus") == "F").alias("is_finisher"),
        (F.col("o_orderstatus") == "O").alias("is_dnf"),
        (F.col("o_orderstatus") == "P").alias("is_dns"),
        F.lit(False).alias("is_dq"),
        F.lit(False).alias("has_data_issue"),
        price.cast("bigint").alias("finish_time_seconds"),
        (price / 4).cast("bigint").alias("swim_time_seconds"),
        (price / 2).cast("bigint").alias("bike_time_seconds"),
        (price / 5).cast("bigint").alias("run_time_seconds"),
        (F.col("o_orderkey") % 300).alias("transition_1_seconds"),
        (F.col("o_orderkey") % 200).alias("transition_2_seconds"),
        F.when(F.col("o_orderkey") % 10 == 0, F.lit(1)).cast("int").alias("rank"),
        (F.col("o_custkey") % 25).alias("country_key"),
        (F.col("o_custkey") % 8).alias("division_key"),
    )
    cty = n.join(r, n.n_regionkey == r.r_regionkey).select(
        F.col("n_nationkey").alias("country_key"),
        F.col("n_name").alias("country_name"),
        F.col("r_name").alias("continent"),
    )
    ath = t["customer"].select(
        F.col("c_custkey").alias("athlete_key"), F.col("c_name").alias("athlete_name")
    )
    div = spark.range(8).select(
        F.col("id").alias("division_key"),
        F.concat(F.lit("DIV-"), F.col("id")).alias("division_description"),
        F.when(F.col("id") % 2 == 0, "M").otherwise("F").alias("gender"),
        (F.col("id") == 0).alias("is_professional"),
        (18 + 5 * F.col("id")).cast("int").alias("age_group_start"),
        (22 + 5 * F.col("id")).cast("int").alias("age_group_end"),
    )

    root = tempfile.mkdtemp(prefix="catalog_", dir=staging_dir(spark, "tablestore"))
    store = TableStore(spark, root)
    store.save_overwrite(fact, C.FACT_RESULTS, partition_by=["year"])
    store.save_overwrite(cty, C.DIM_COUNTRIES)
    store.save_overwrite(ath, C.DIM_ATHLETES)
    store.save_overwrite(div, C.DIM_DIVISIONS)
    publish_catalog(
        spark,
        store,
        tables=[C.DIM_ATHLETES, C.DIM_COUNTRIES, C.DIM_DIVISIONS, C.FACT_RESULTS],
    )

    fresh = spark.newSession()  # shares the metastore, not temp state
    return fresh.sql(
        "SELECT year, country_name, continent, total_athletes, finishers "
        "FROM gold.vw_countries_by_year"
    )


def q68_moving_average(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit window frame (rowsBetween): 7-row trailing totals over
    the daily aggregate. Lost its driver slot to q84_sequence_packing
    in round 3 (the ROWS-BETWEEN frame surface is exercised by the
    packing prefix sum); the plan contract stays enforced in
    tests/test_plans_round2.py."""
    from pyspark.sql import Window

    t = load_tables(spark, sf_dir, "orders")
    daily = (
        t["orders"]
        .groupBy(F.date_trunc("day", F.col("o_orderdate")).alias("order_date"))
        .agg(F.count(F.lit(1)).alias("n_orders"), dsum("o_totalprice", "revenue"))
    )
    # bounded-serial: input is the per-DAY aggregate (calendar-bounded)
    w = Window.orderBy("order_date").rowsBetween(-6, Window.currentRow)
    return daily.select(
        "order_date",
        "n_orders",
        "revenue",
        F.sum(F.col("revenue").cast("decimal(18,4)")).over(w).cast("double").alias("revenue_7d"),
        F.sum("n_orders").over(w).alias("orders_7d"),
    )


@register(
    "q84_sequence_packing",
    oracle="""
    WITH t AS (
      SELECT doc_id,
             CAST(len(string_split_regex(lower(text), '\\s+')) AS BIGINT) AS n_tokens
      FROM documents
    ),
    c AS (
      SELECT doc_id, n_tokens,
             SUM(n_tokens) OVER (ORDER BY doc_id
                                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               - n_tokens AS excl
      FROM t
    )
    SELECT doc_id, n_tokens,
           CAST(excl // 2048 AS BIGINT) AS start_pack,
           CAST(excl % 2048 AS BIGINT) AS start_offset,
           CAST((excl + greatest(n_tokens, 1) - 1) // 2048 AS BIGINT) AS end_pack,
           CAST((excl + greatest(n_tokens, 1) - 1) // 2048
                - excl // 2048 + 1 AS BIGINT) AS n_packs
    FROM c
    """,
)
def q84_sequence_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Concat-then-chunk sequence packing (operators/packing.py): every
    document's coordinates in the 2048-token training-chunk stream,
    ordered by doc_id. The Spark side runs the two-level distributed
    prefix sum (range shuffle + range-local cumulative window + an
    O(ranges) driver fold) — NOT a global orderBy window, which would
    serialize the corpus through one task; the oracle states the same
    arithmetic as one DuckDB window cumsum."""
    from ironman_medallion_lakehouse_spark.operators.packing import pack_sequences

    t = load_tables(spark, sf_dir, "documents")
    return pack_sequences(t["documents"], budget=2048)


# ===========================================================================
# pivot / unpivot / set ops / semi-anti joins / range join
# ===========================================================================

@register(
    "q71_pivot_unpivot",
    oracle="""
    SELECT user_id % 10 AS user_bucket, 'click' AS event_type,
           CAST(SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS BIGINT) AS n
    FROM events GROUP BY 1
    UNION ALL
    SELECT user_id % 10, 'view',
           CAST(SUM(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS BIGINT)
    FROM events GROUP BY 1
    UNION ALL
    SELECT user_id % 10, 'purchase',
           CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT)
    FROM events GROUP BY 1
    """,
)
def q71_pivot_unpivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot → unpivot roundtrip (previously q71 + q72):
    df.groupBy().pivot(values=[...]) with an explicit value list (the
    explicit list matters at scale — without it Spark runs an extra
    distinct-collect job over the full column), then df.unpivot melts
    the wide result back to long (one narrow Expand, no shuffle). The
    oracle states the long form directly, so the roundtrip must be
    lossless."""
    t = load_tables(spark, sf_dir, "events")
    wide = (
        t["events"]
        .groupBy((F.col("user_id") % 10).alias("user_bucket"))
        .pivot("event_type", ["click", "view", "purchase"])
        .agg(F.count(F.lit(1)))
        .fillna(0, subset=["click", "view", "purchase"])
    )
    return wide.unpivot(
        ids=["user_bucket"],
        values=["click", "view", "purchase"],
        variableColumnName="event_type",
        valueColumnName="n",
    )


@register(
    "q73_set_ops",
    oracle="""
    SELECT 'both' AS side, CAST(c_nationkey AS BIGINT) AS val FROM (
      SELECT DISTINCT c_nationkey FROM customer WHERE c_mktsegment = 'BUILDING'
      INTERSECT
      SELECT DISTINCT c_nationkey FROM customer WHERE c_mktsegment = 'MACHINERY'
    )
    UNION ALL
    SELECT 'only_building', CAST(c_nationkey AS BIGINT) FROM (
      SELECT DISTINCT c_nationkey FROM customer WHERE c_mktsegment = 'BUILDING'
      EXCEPT
      SELECT DISTINCT c_nationkey FROM customer WHERE c_mktsegment = 'MACHINERY'
    )
    UNION ALL
    SELECT 'has_urgent', COUNT(*) FROM customer c
    WHERE EXISTS (
      SELECT 1 FROM orders o
      WHERE o.o_custkey = c.c_custkey AND o.o_orderpriority = '1-URGENT'
    )
    UNION ALL
    SELECT 'no_orders', COUNT(*) FROM customer c
    WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
    """,
)
def q73_set_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The set-operator battery (previously q73 + q74), all absent from
    the reference (SURVEY §2.7/§2.3) but first-class engine surface:

    - select().filter(isNotNull-ish).distinct() domain extraction
      (SURVEY §2.4 A4) feeding INTERSECT / EXCEPT;
    - left_semi / left_anti joins ≡ EXISTS / NOT EXISTS — the join
      types the merge layer uses internally.

    Uniform (side, val) schema: set members for the set ops, counts
    for the semi/anti sides."""
    t = load_tables(spark, sf_dir, "customer", "orders")
    c, o = t["customer"], t["orders"]
    building = (
        c.filter(F.col("c_mktsegment") == "BUILDING")
        .select("c_nationkey")
        .filter(F.col("c_nationkey").isNotNull())
        .distinct()
    )
    machinery = (
        c.filter(F.col("c_mktsegment") == "MACHINERY")
        .select("c_nationkey")
        .filter(F.col("c_nationkey").isNotNull())
        .distinct()
    )
    both = building.intersect(machinery).select(
        F.lit("both").alias("side"), F.col("c_nationkey").cast("bigint").alias("val")
    )
    only_b = building.exceptAll(machinery).select(
        F.lit("only_building").alias("side"), F.col("c_nationkey").cast("bigint").alias("val")
    )
    urgent = o.filter(F.col("o_orderpriority") == "1-URGENT")
    semi = (
        c.join(urgent, c.c_custkey == urgent.o_custkey, "left_semi")
        .agg(F.count(F.lit(1)).alias("val"))
        .select(F.lit("has_urgent").alias("side"), "val")
    )
    anti = (
        c.join(o, c.c_custkey == o.o_custkey, "left_anti")
        .agg(F.count(F.lit(1)).alias("val"))
        .select(F.lit("no_orders").alias("side"), "val")
    )
    return both.unionByName(only_b).unionByName(semi).unionByName(anti)


@register(
    "q75_range_join",
    oracle="""
    WITH purchases AS (
      SELECT event_id AS purchase_id, user_id, CAST(floor(epoch(ts)) AS BIGINT) AS pt
      FROM events WHERE event_type = 'purchase'
    ),
    errors AS (
      SELECT event_id AS error_id, user_id, CAST(floor(epoch(ts)) AS BIGINT) AS et
      FROM events WHERE event_type = 'error'
    )
    SELECT p.purchase_id, e.error_id
    FROM purchases p JOIN errors e
      ON p.user_id = e.user_id AND ABS(p.pt - e.et) <= 3600
    """,
)
def q75_range_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binned range join (operators/rangejoin.py): purchases paired
    with same-user errors within ±1 h. The bin-replicate-refine rewrite
    turns the θ-join into an equi-join — O(n+m+pairs), not O(n·m);
    the oracle states the naive θ-join semantics directly."""
    from ironman_medallion_lakehouse_spark.operators.rangejoin import range_join_within

    t = load_tables(spark, sf_dir, "events")
    ev = t["events"]
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"), "user_id", F.col("ts").alias("pts")
    )
    errors = ev.filter(F.col("event_type") == "error").select(
        F.col("event_id").alias("error_id"), "user_id", F.col("ts").alias("ets")
    )
    return range_join_within(
        purchases, errors, on=["user_id"], left_ts="pts", right_ts="ets",
        window_seconds=3600,
    ).select("purchase_id", "error_id")


# ===========================================================================
# SQL entry point: scalar subquery + grouping sets (spark.sql path)
# ===========================================================================

@register(
    "q77_scalar_subquery",
    oracle="""
    SELECT o_orderkey, o_totalprice,
           o_totalprice / (SELECT CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE)
                                  / COUNT(o_totalprice) FROM orders) AS price_ratio
    FROM orders
    WHERE o_totalprice > 1.8 * (SELECT CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE)
                                     / COUNT(o_totalprice) FROM orders)
    """,
)
def q77_scalar_subquery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL entry point (SURVEY §3 entry-3): scalar subqueries in both
    projection and predicate, submitted as SQL text over the registered
    temp views — exercising the parser → analyzer → optimizer path the
    reference's %sql cells use. Catalyst plans the subquery once and
    broadcasts the scalar."""
    load_tables(spark, sf_dir, "orders")
    return spark.sql(
        """
        SELECT o_orderkey, o_totalprice,
               o_totalprice / (SELECT CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE)
                                      / COUNT(o_totalprice) FROM orders) AS price_ratio
        FROM orders
        WHERE o_totalprice > 1.8 * (SELECT CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE)
                                         / COUNT(o_totalprice) FROM orders)
        """
    )


# ===========================================================================
# date/time function battery (+ parse_time_to_seconds, previously q17)
# ===========================================================================

@register(
    "q76_datetime_battery",
    oracle="""
    SELECT
      o_orderkey,
      CAST(EXTRACT(year FROM o_orderdate) AS BIGINT) AS y,
      CAST(EXTRACT(month FROM o_orderdate) AS BIGINT) AS m,
      CAST(EXTRACT(quarter FROM o_orderdate) AS BIGINT) AS q,
      CAST(EXTRACT(day FROM o_orderdate) AS BIGINT) AS d,
      CAST(floor(epoch(o_orderdate)) AS BIGINT) AS epoch_sec,
      CAST(floor(epoch(o_orderdate)) / 86400 AS BIGINT) AS epoch_day,
      o_orderdate + INTERVAL 30 DAY AS plus_30d,
      date_trunc('month', o_orderdate) AS month_start,
      CASE WHEN o_orderkey % 7 = 3 THEN NULL
           WHEN (o_custkey % 10) * 3600 + (o_custkey % 60) * 60 + (o_orderkey % 60) = 0
             THEN NULL
           ELSE (o_custkey % 10) * 3600
                + (o_custkey % 60) * 60
                + (o_orderkey % 60)
      END AS parsed_seconds
    FROM orders
    WHERE o_orderkey % 50 = 0
    """,
)
def q76_datetime_battery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Date/time function surface beyond the reference's
    current_timestamp/current_date: extracts, epoch arithmetic,
    interval addition, month truncation. Timestamp-typed outputs
    throughout (date-typed cells hash differently between engines'
    pandas conversions).

    Also carries the reference's one domain expression,
    `parse_time_to_seconds` (03_silver.ipynb:133-139; previously q17):
    H:MM:SS strings are synthesized from integer columns, parsed with
    the engine helper — pure Column composition, not a UDF — and the
    oracle derives the same seconds arithmetically (a stronger oracle
    than re-parsing)."""
    from ironman_medallion_lakehouse_spark.functions.scalar import parse_time_to_seconds

    t = load_tables(spark, sf_dir, "orders")
    ts = F.col("o_orderdate")
    h = (F.col("o_custkey") % 10).cast("int")
    m = (F.col("o_custkey") % 60).cast("int")
    s = (F.col("o_orderkey") % 60).cast("int")
    time_str = F.when(
        F.col("o_orderkey") % 7 == 3, F.lit(None).cast("string")
    ).otherwise(
        F.concat_ws(
            ":",
            h.cast("string"),
            F.lpad(m.cast("string"), 2, "0"),
            F.lpad(s.cast("string"), 2, "0"),
        )
    )
    return (
        t["orders"]
        .filter(F.col("o_orderkey") % 50 == 0)
        .select(
            "o_orderkey",
            F.year(ts).cast("bigint").alias("y"),
            F.month(ts).cast("bigint").alias("m"),
            F.quarter(ts).cast("bigint").alias("q"),
            F.dayofmonth(ts).cast("bigint").alias("d"),
            # NTZ→long needs an LTZ hop; session tz is pinned UTC so the
            # epoch matches DuckDB's naive-UTC interpretation
            ts.cast("timestamp").cast("long").alias("epoch_sec"),
            F.floor(ts.cast("timestamp").cast("long") / 86400).cast("bigint").alias("epoch_day"),
            (ts + F.expr("INTERVAL 30 DAYS")).alias("plus_30d"),
            F.date_trunc("month", ts).alias("month_start"),
            parse_time_to_seconds(time_str).cast("bigint").alias("parsed_seconds"),
        )
    )


# ===========================================================================
# embedding-cosine near-dup pairs (dedup family, vector variant)
# ===========================================================================

_DOT = "list_dot_product(CAST({a} AS DOUBLE[]), CAST({b} AS DOUBLE[]))"


@register(
    "q59_embedding_neardup",
    oracle=f"""
    WITH n AS (
      SELECT vec_id, embedding, sqrt({_DOT.format(a='embedding', b='embedding')}) AS nrm
      FROM embeddings
    )
    SELECT a.vec_id AS id_a, b.vec_id AS id_b
    FROM n a JOIN n b ON a.vec_id < b.vec_id
    WHERE {_DOT.format(a='a.embedding', b='b.embedding')} / (a.nrm * b.nrm) >= 0.45
    """,
)
def q59_embedding_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-duplicate pairs via the lossless blocked
    equi-join (operators/similarity.cosine_neardup_pairs): projections
    onto data-chosen principal directions, binned at width sqrt(2−2t),
    guarantee every qualifying pair shares a bin tuple (recall exactly
    1 — provable, unlike sign-LSH banding), so the DuckDB all-pairs
    θ-join oracle stays the spec while the Spark plan is an equi-join
    whose cost is per-block products, not n².

    Threshold 0.45, NOT 0.99: the synthetic embeddings corpus is
    near-isotropic (max pairwise cosine ≈ 0.51 at sf0.01), so any
    higher threshold makes both engines return 0 pairs and the green
    row proves nothing (the r2 verdict's "vacuous row" finding). At
    0.45 the oracle emits 14 pairs at sf0.01 — the row attests recall,
    not just agreement on emptiness. Recall on genuinely
    near-duplicate corpora is covered by tests/test_neardup.py
    (dim-256 clustered fixture, planted dupes, threshold 0.99)."""
    from ironman_medallion_lakehouse_spark.operators.similarity import (
        cosine_neardup_pairs,
    )

    t = load_tables(spark, sf_dir, "embeddings")
    return cosine_neardup_pairs(t["embeddings"], threshold=0.45)


# ===========================================================================
# analytic window-function battery: ntile / percent_rank / cume_dist /
# first_value / last_value / lag-with-default (the §2.6 functions the
# earlier entries don't touch)
# ===========================================================================

@register(
    "q113_window_battery",
    oracle="""
    SELECT o_orderkey, o_orderpriority, o_totalprice,
           CAST(ntile(4) OVER w AS BIGINT) AS quartile,
           percent_rank() OVER w AS pct_rank,
           cume_dist() OVER w AS cum_dist,
           CAST(dense_rank() OVER w AS BIGINT) AS drank,
           first_value(o_totalprice) OVER w AS cheapest,
           last_value(o_totalprice)
             OVER (PARTITION BY o_orderpriority
                   ORDER BY o_totalprice ASC, o_orderkey ASC
                   ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
             AS priciest,
           lag(o_totalprice, 1, 0.0) OVER w AS prev_price
    FROM orders
    WHERE o_orderpriority IN ('1-URGENT', '2-HIGH')
      AND EXTRACT(year FROM o_orderdate) = 1997
    WINDOW w AS (PARTITION BY o_orderpriority
                 ORDER BY o_totalprice ASC, o_orderkey ASC)
    """,
)
def q113_window_battery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Analytic window battery over one shared sort (SURVEY §2.6
    beyond the dedup-rank/argmax/share entries): ntile quartiles,
    percent_rank, cume_dist, dense_rank, first/last value with an
    explicit unbounded frame (last_value under the DEFAULT frame is
    the famous wrong-answer trap — the frame is stated), and
    lag-with-default. All eight functions share ONE window spec →
    Catalyst plans a single Exchange + sort. Ties are impossible (the
    unique order key is in the sort), so every rank-derived value is
    an exact integer ratio — one IEEE divide, engine-exact UNROUNDED
    (r13)."""
    from pyspark.sql import Window

    t = load_tables(spark, sf_dir, "orders")
    o = t["orders"].filter(
        F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
        & (F.year("o_orderdate") == 1997)
    )
    w = Window.partitionBy("o_orderpriority").orderBy(
        F.col("o_totalprice").asc(), F.col("o_orderkey").asc()
    )
    wfull = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    return o.select(
        "o_orderkey",
        "o_orderpriority",
        "o_totalprice",
        F.ntile(4).over(w).cast("bigint").alias("quartile"),
        F.percent_rank().over(w).alias("pct_rank"),
        F.cume_dist().over(w).alias("cum_dist"),
        F.dense_rank().over(w).cast("bigint").alias("drank"),
        F.first("o_totalprice").over(w).alias("cheapest"),
        F.last("o_totalprice").over(wfull).alias("priciest"),
        F.lag("o_totalprice", 1, 0.0).over(w).alias("prev_price"),
    )


# ===========================================================================
# interval × interval overlap join (binned θ→equi rewrite, span form)
# ===========================================================================

_Q117_BIN = 21600  # 6 h ≈ the max span (8.2 h) — replication ≤ 3 bins


@register(
    "q117_interval_overlap",
    oracle="""
    WITH iv AS (
      SELECT event_id, user_id,
             CAST(floor(epoch(ts)) AS BIGINT) AS s,
             CAST(floor(epoch(ts)) AS BIGINT) + CAST(floor(value * 60) AS BIGINT) AS e
      FROM events
    )
    SELECT a.event_id AS a_id, b.event_id AS b_id, a.user_id,
           CAST(least(a.e, b.e) - greatest(a.s, b.s) AS BIGINT) AS overlap_sec
    FROM iv a JOIN iv b
      ON a.user_id = b.user_id AND a.event_id < b.event_id
     AND a.s <= b.e AND b.s <= a.e
    """,
)
def q117_interval_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval × interval overlap join (operators/rangejoin.
    interval_overlap_join): per-user activity spans [ts, ts + value
    minutes] paired where they overlap in time — the span-vs-span θ
    shape (concurrent sessions / reservation conflicts) that the
    point-vs-window rewrite (q75) can't express. Bin-replicate both
    sides (6 h bins ≈ max span → ≤3 replicas), equi-join on (user,
    bin), distinct, exact predicate — O(n·3 + pairs), never O(n²); the
    oracle states the naive θ-join. Durations floor()ed to integers on
    both engines (cast-rounding divergence avoided); 763 pairs at
    sf0.01."""
    from ironman_medallion_lakehouse_spark.operators.rangejoin import (
        interval_overlap_join,
    )

    t = load_tables(spark, sf_dir, "events")
    sec = F.col("ts").cast("long")
    iv = t["events"].select(
        "event_id",
        "user_id",
        sec.alias("s"),
        (sec + F.floor(F.col("value") * 60).cast("long")).alias("e"),
    )
    a = iv.select(
        F.col("event_id").alias("a_id"), "user_id",
        F.col("s").alias("a_s"), F.col("e").alias("a_e"),
    )
    b = iv.select(
        F.col("event_id").alias("b_id"), "user_id",
        F.col("s").alias("b_s"), F.col("e").alias("b_e"),
    )
    pairs = interval_overlap_join(
        a, b, on=["user_id"], left_start="a_s", left_end="a_e",
        right_start="b_s", right_end="b_e", bin_seconds=_Q117_BIN,
    ).filter(F.col("a_id") < F.col("b_id"))
    return pairs.select(
        "a_id", "b_id", "user_id",
        (F.least("a_e", "b_e") - F.greatest("a_s", "b_s"))
        .cast("bigint")
        .alias("overlap_sec"),
    )


# ===========================================================================
# blocked fuzzy entity matching (levenshtein + lossless length band)
# ===========================================================================

@register(
    "q119_fuzzy_match",
    oracle="""
    SELECT a.c_custkey AS id_a, b.c_custkey AS id_b,
           a.c_name AS name_a, b.c_name AS name_b,
           CAST(levenshtein(a.c_name, b.c_name) AS BIGINT) AS distance
    FROM customer a JOIN customer b
      ON a.c_nationkey = b.c_nationkey AND a.c_custkey < b.c_custkey
    WHERE levenshtein(a.c_name, b.c_name) <= 2
    """,
)
def q119_fuzzy_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Blocked fuzzy entity matching (operators/dedup.
    fuzzy_match_pairs): same-nation customer-name pairs within 2
    Levenshtein edits — the entity-resolution primitive, with the
    provably-lossless length-band guard (lev ≥ length diff) gating
    the O(len²) kernel behind codegen integer compares. The oracle
    states block + threshold semantics directly; 8.3k pairs at
    sf0.01. Nation blocking is demonstration-grade — the operator
    docstring routes production blocking to q-gram/LSH keys."""
    t = load_tables(spark, sf_dir, "customer")
    from ironman_medallion_lakehouse_spark.operators.dedup import (
        fuzzy_match_pairs,
    )

    return fuzzy_match_pairs(
        t["customer"], ["c_nationkey"], "c_name", "c_custkey", max_distance=2
    )


# ===========================================================================
# ABC / Pareto classification (cumulative-share window over exact decimals)
# ===========================================================================

@register(
    "q125_abc_analysis",
    oracle="""
    WITH rev AS (
      SELECT l_partkey,
             SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))) AS r
      FROM lineitem GROUP BY 1
    ),
    tot AS (SELECT SUM(r) AS t FROM rev),
    c AS (
      SELECT l_partkey, r,
             SUM(r) OVER (ORDER BY r DESC, l_partkey ASC
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
      FROM rev
    )
    SELECT l_partkey,
           ROUND(CAST(r AS DOUBLE), 4) AS revenue,
           CAST(cum AS DOUBLE) / CAST(t AS DOUBLE) AS cum_share,
           CASE WHEN CAST(cum AS DOUBLE) / CAST(t AS DOUBLE) <= 0.80 THEN 'A'
                WHEN CAST(cum AS DOUBLE) / CAST(t AS DOUBLE) <= 0.95 THEN 'B'
                ELSE 'C' END AS abc_class
    FROM c CROSS JOIN tot
    """,
)
def q125_abc_analysis(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ABC / Pareto classification — the classic BI cut: parts ranked
    by revenue, cumulative share thresholds 80/95% splitting A/B/C
    tiers. The cumulative sum runs over EXACT decimals (per-row
    revenue cast DECIMAL(18,4) before any sum), so the running total
    — the one place sequential double addition would drift across
    engines — is order-free by construction; the share is one IEEE
    divide of mantissa-fitting decimal casts, engine-exact UNROUNDED
    (r13), and the class boundaries compare on that exact value.

    Scale (VERDICT r6 item 4): the running sum uses
    ``cumulative.partitioned_running_sum`` — range-partition on the
    sort key, per-partition parallel running sums, broadcast prefix
    offsets — so no single task ever sees all parts. The only serial
    step is the prefix window over ONE ROW PER RANGE PARTITION
    (cluster-sized, not data-sized); the grand total for the share
    rides the same broadcast instead of a second scan branch."""
    from ironman_medallion_lakehouse_spark.operators.cumulative import (
        partitioned_running_sum,
    )

    t = load_tables(spark, sf_dir, "lineitem")
    rev = (
        t["lineitem"]
        .groupBy("l_partkey")
        .agg(
            F.sum(
                (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast(
                    "decimal(18,4)"
                )
            ).alias("r")
        )
    )
    cum = partitioned_running_sum(
        rev,
        [F.col("r").desc(), F.col("l_partkey").asc()],
        "r",
        "cum",
        total_col="t",
    )
    share = F.col("cum").cast("double") / F.col("t").cast("double")
    return cum.select(
        "l_partkey",
        F.round(F.col("r").cast("double"), 4).alias("revenue"),
        share.alias("cum_share"),
        F.when(share <= 0.80, F.lit("A"))
        .when(share <= 0.95, F.lit("B"))
        .otherwise(F.lit("C"))
        .alias("abc_class"),
    )


# ===========================================================================
# exact order statistics: median (avg-of-middle) + mode (deterministic tie)
# ===========================================================================

@register(
    "q132_exact_order_stats",
    oracle="""
    WITH o AS (
      SELECT c.c_nationkey AS nk, o_totalprice, o_orderpriority
      FROM orders JOIN customer c ON o_custkey = c.c_custkey
    ),
    ranked AS (
      SELECT nk, o_totalprice,
             ROW_NUMBER() OVER (PARTITION BY nk ORDER BY o_totalprice ASC, o_orderpriority ASC) AS rn,
             COUNT(*) OVER (PARTITION BY nk) AS cnt
      FROM o
    ),
    med AS (
      SELECT nk,
             ROUND(AVG(o_totalprice), 4) AS median_price
      FROM ranked
      WHERE rn IN ((cnt + 1) // 2, (cnt + 2) // 2)
      GROUP BY nk
    ),
    pc AS (
      SELECT nk, o_orderpriority, COUNT(*) AS c FROM o GROUP BY 1, 2
    ),
    mode_ AS (
      SELECT nk, o_orderpriority AS mode_priority FROM (
        SELECT nk, o_orderpriority,
               ROW_NUMBER() OVER (PARTITION BY nk ORDER BY c DESC, o_orderpriority ASC) AS mr
        FROM pc
      ) WHERE mr = 1
    ),
    ext AS (
      SELECT nk, COUNT(*) AS n_orders,
             MIN(o_totalprice) AS min_price, MAX(o_totalprice) AS max_price
      FROM o GROUP BY nk
    )
    SELECT e.nk AS nationkey, e.n_orders, e.min_price, e.max_price,
           m.median_price, md.mode_priority
    FROM ext e JOIN med m ON e.nk = m.nk JOIN mode_ md ON e.nk = md.nk
    """,
)
def q132_exact_order_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT order statistics per nation — the exact complements of
    the approx family (q28 percentile_approx, q82 KLL): median as the
    average of the middle element(s) over a full per-group sort
    (rn ∈ {⌈n/2⌉, ⌊n/2⌋+1}), mode with a deterministic lexicographic
    tiebreak, min/max/count. Exact medians DO require the per-group
    sort the approx family avoids — that cost asymmetry is the point
    of having both; here the sort shares one Exchange across all four
    statistics. Median averages at most two doubles — no accumulation
    order to diverge."""
    from pyspark.sql import Window

    t = load_tables(spark, sf_dir, "orders", "customer")
    o = (
        t["orders"]
        .join(t["customer"], F.col("o_custkey") == F.col("c_custkey"))
        .select(F.col("c_nationkey").alias("nk"), "o_totalprice", "o_orderpriority")
    )
    w = Window.partitionBy("nk").orderBy(
        F.col("o_totalprice").asc(), F.col("o_orderpriority").asc()
    )
    wc = Window.partitionBy("nk")
    ranked = o.select(
        "nk",
        "o_totalprice",
        F.row_number().over(w).alias("rn"),
        F.count(F.lit(1)).over(wc).alias("cnt"),
    )
    med = (
        ranked.filter(
            (F.col("rn") == F.floor((F.col("cnt") + 1) / 2))
            | (F.col("rn") == F.floor((F.col("cnt") + 2) / 2))
        )
        .groupBy("nk")
        .agg(F.round(F.avg("o_totalprice"), 4).alias("median_price"))
    )
    pc = o.groupBy("nk", "o_orderpriority").agg(F.count(F.lit(1)).alias("c"))
    wm = Window.partitionBy("nk").orderBy(
        F.col("c").desc(), F.col("o_orderpriority").asc()
    )
    mode = (
        pc.withColumn("mr", F.row_number().over(wm))
        .filter(F.col("mr") == 1)
        .select("nk", F.col("o_orderpriority").alias("mode_priority"))
    )
    ext = o.groupBy("nk").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.min("o_totalprice").alias("min_price"),
        F.max("o_totalprice").alias("max_price"),
    )
    return (
        ext.join(med, "nk")
        .join(mode, "nk")
        .select(
            F.col("nk").alias("nationkey"), "n_orders", "min_price",
            "max_price", "median_price", "mode_priority",
        )
    )


# ===========================================================================
# §2.1 S6+ — RESTORE: point-in-time rollback as a first-class commit
# ===========================================================================


@register(
    "q138_restore_lifecycle",
    oracle="""
    WITH base AS (
      SELECT *, CAST(EXTRACT(year FROM o_orderdate) AS BIGINT) AS order_year
      FROM orders
    ),
    v1 AS (SELECT * FROM base WHERE o_orderkey % 2 = 0),
    inserted AS (
      SELECT * FROM base s
      WHERE order_year IN (1997, 1998)
        AND NOT EXISTS (SELECT 1 FROM v1 t WHERE t.o_orderkey = s.o_orderkey)
    ),
    v2 AS (SELECT * FROM v1 UNION ALL SELECT * FROM inserted),
    v3 AS (SELECT * FROM v2 WHERE NOT (o_totalprice > 200000))
    SELECT
      a.order_year,
      a.n_restored,
      a.revenue_restored,
      d.n_after_delete,
      CAST(a.n_restored - d.n_after_delete AS BIGINT) AS n_resurrected
    FROM (
      SELECT order_year, COUNT(*) AS n_restored,
             CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS revenue_restored
      FROM v2 GROUP BY order_year
    ) a
    JOIN (
      SELECT order_year, COUNT(*) AS n_after_delete FROM v3 GROUP BY order_year
    ) d USING (order_year)
    """,
)
def q138_restore_lifecycle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RESTORE driver-attested end-to-end (sources/tablestore.restore —
    the Delta ``RESTORE TABLE ... TO VERSION AS OF`` analogue, the one
    lifecycle op without an oracle row until r6):

    1. save_overwrite of the even-key orders slice (v1);
    2. merge_insert_only of the 1997/1998 odd keys (v2);
    3. delete_where(o_totalprice > 200000) — copy-on-write, only
       matching files rewritten (v3);
    4. restore(to version 2) — a NEW commit whose manifest re-references
       v2's files, no data copied (v4).

    The final read must equal the v2 state exactly — every deleted row
    resurrected (n_resurrected > 0 proves the delete and the restore
    both bit). The time-traveled v3 read cross-checks that history
    SURVIVES the restore (restore is a commit, not a rewind). The
    oracle replays v1→v2→v3 in pure SQL."""
    from ironman_medallion_lakehouse_spark.session import staging_dir

    t = load_tables(spark, sf_dir, "orders")
    orders = t["orders"].withColumn("order_year", year_of("o_orderdate"))
    root = tempfile.mkdtemp(prefix="restore_", dir=staging_dir(spark, "tablestore"))
    store = TableStore(spark, root)
    store.save_overwrite(orders.filter(F.col("o_orderkey") % 2 == 0), "db.orders")  # v1
    store.merge_insert_only(
        orders.filter(F.col("order_year").isin(1997, 1998)),
        "db.orders",
        keys=["o_orderkey"],
    )  # v2
    store.delete_where("db.orders", F.col("o_totalprice") > 200000)  # v3
    store.restore("db.orders", 2)  # v4: current state == v2 state again
    restored = (
        store.read("db.orders")
        .groupBy("order_year")
        .agg(
            F.count(F.lit(1)).alias("n_restored"),
            dsum("o_totalprice", "revenue_restored"),
        )
    )
    after_delete = (
        store.read("db.orders", version=3)
        .groupBy("order_year")
        .agg(F.count(F.lit(1)).alias("n_after_delete"))
    )
    return restored.join(after_delete, "order_year").select(
        "order_year",
        "n_restored",
        "revenue_restored",
        "n_after_delete",
        (F.col("n_restored") - F.col("n_after_delete"))
        .cast("bigint")
        .alias("n_resurrected"),
    )


# ===========================================================================
# §2.3 J+ — point-in-time-correct fact ⋈ SCD-2 dimension join (the query
# side of SCD-2: q133 attests the writes, this attests the reads)
# ===========================================================================

_Q140_T1, _Q140_T2, _Q140_T3 = (
    "1993-01-01 00:00:00",
    "1995-07-01 00:00:00",
    "1997-01-01 00:00:00",
)


@register(
    "q140_scd2_asof_join",
    oracle=f"""
    WITH s1 AS (SELECT c_custkey, c_mktsegment FROM customer),
    s3 AS (
      SELECT c_custkey,
             CASE WHEN c_custkey % 6 = 0 THEN 'CHURNED'
                  ELSE c_mktsegment END AS c_mktsegment
      FROM customer
    ),
    flags AS (
      SELECT c_custkey,
             (c_custkey % 4 = 0) AS ch2,
             (c_custkey % 6 = 0) AS ch3
      FROM customer
    ),
    timeline AS (
      SELECT s1.c_custkey, s1.c_mktsegment,
             TIMESTAMP '{_Q140_T1}' AS valid_from,
             CASE WHEN f.ch2 THEN TIMESTAMP '{_Q140_T2}'
                  WHEN f.ch3 THEN TIMESTAMP '{_Q140_T3}'
                  ELSE NULL END AS valid_to
      FROM s1 JOIN flags f USING (c_custkey)
      UNION ALL
      SELECT s1.c_custkey, s1.c_mktsegment,
             TIMESTAMP '{_Q140_T2}',
             CASE WHEN f.ch3 THEN TIMESTAMP '{_Q140_T3}' ELSE NULL END
      FROM s1 JOIN flags f USING (c_custkey) WHERE f.ch2
      UNION ALL
      SELECT s3.c_custkey, s3.c_mktsegment,
             TIMESTAMP '{_Q140_T3}', NULL
      FROM s3 JOIN flags f USING (c_custkey) WHERE f.ch3
    )
    SELECT CAST(EXTRACT(year FROM o.o_orderdate) AS BIGINT) AS order_year,
           COALESCE(tl.c_mktsegment, 'NO_VERSION_YET') AS segment_at_order,
           COUNT(*) AS n_orders,
           CAST(SUM(CAST(o.o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS revenue
    FROM orders o
    LEFT JOIN timeline tl
      ON tl.c_custkey = o.o_custkey
     AND tl.valid_from <= o.o_orderdate
     AND (tl.valid_to IS NULL OR o.o_orderdate < tl.valid_to)
    GROUP BY 1, 2
    """,
)
def q140_scd2_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-time-correct fact ⋈ SCD-2 dimension join — THE query
    SCD-2 exists to serve (Kimball: "which segment was this customer
    in WHEN they ordered?", the attribute-leakage-free historical
    rollup). Builds the dimension through three real merge_scd2 calls
    (T1 init / T2 acctbal restatement on %4 / T3 segment churn on %6,
    timestamps inside the order-date range so every regime — plus
    pre-T1 orders with NO valid version — occurs), then joins orders
    by key + validity interval: valid_from ≤ o_orderdate < valid_to.

    Scale shape: equi-join on c_custkey with the interval as a post-
    join filter — versions per key are few (≤3 here, bounded by
    change frequency in production), so there is no range explosion;
    the dimension side broadcasts or shuffles like any SCD-1 dim.
    Note the r6 change note: c_acctbal in the m2 restatement exercises
    the close/reopen machinery; this query reads only the segment.
    The oracle replays the timeline and the interval join in SQL.
    q133 attests the WRITE side of SCD-2; this attests the READ side.
    """
    from ironman_medallion_lakehouse_spark.session import staging_dir

    t = load_tables(spark, sf_dir, "customer", "orders")
    cust = t["customer"].select("c_custkey", "c_mktsegment", "c_acctbal")
    s2 = cust.withColumn(
        "c_acctbal",
        F.when(F.col("c_custkey") % 4 == 0, F.col("c_acctbal") + 50).otherwise(
            F.col("c_acctbal")
        ),
    )
    s3 = s2.withColumn(
        "c_mktsegment",
        F.when(F.col("c_custkey") % 6 == 0, F.lit("CHURNED")).otherwise(
            F.col("c_mktsegment")
        ),
    )
    root = tempfile.mkdtemp(prefix="scd2pit_", dir=staging_dir(spark, "tablestore"))
    store = TableStore(spark, root)
    store.merge_scd2(cust, "db.dim", keys=["c_custkey"], effective_ts=_Q140_T1)
    store.merge_scd2(s2, "db.dim", keys=["c_custkey"], effective_ts=_Q140_T2)
    store.merge_scd2(s3, "db.dim", keys=["c_custkey"], effective_ts=_Q140_T3)
    dim = store.read("db.dim").select(
        "c_custkey", "c_mktsegment", "valid_from", "valid_to"
    )
    o = t["orders"]
    joined = o.join(
        dim,
        (dim["c_custkey"] == o["o_custkey"])
        & (dim["valid_from"] <= o["o_orderdate"])
        & (dim["valid_to"].isNull() | (o["o_orderdate"] < dim["valid_to"])),
        "left",
    )
    return joined.groupBy(
        year_of("o_orderdate").alias("order_year"),
        F.coalesce(F.col("c_mktsegment"), F.lit("NO_VERSION_YET")).alias(
            "segment_at_order"
        ),
    ).agg(
        F.count(F.lit(1)).alias("n_orders"),
        dsum("o_totalprice", "revenue"),
    )
