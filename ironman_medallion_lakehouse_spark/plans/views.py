"""The 13+2 gold dashboard views — the reference's query/serving layer.

Reference: notebooks_databricks/05_dashboard_queries.ipynb (view DDL at
raw-JSON lines 49,108,165,220,277,336,370,426,489,549,605,674,746,805,
864). Semantics preserved verbatim; only the table identifiers change
(``ironman.gold.<t>`` → temp views ``gold_<t>`` registered by
TableStore.register_views) and views are created as temporary views
(stored plans, re-expanded per query — same freshness behavior as the
reference's catalog views, SURVEY §3 entry-point 3).
"""

from __future__ import annotations

from pyspark.sql import SparkSession

FACT = "gold_fact_race_results"
ATH = "gold_dim_athletes"
CTY = "gold_dim_countries"
DIV = "gold_dim_divisions"

_TEMPLATES: dict[str, str] = {
    "vw_kpi_metrics": """
        SELECT
        COUNT(*) as total_athletes,
        SUM(CASE WHEN is_finisher THEN 1 ELSE 0 END) as total_finishers,
        SUM(CASE WHEN is_dnf THEN 1 ELSE 0 END) as total_dnf,
        SUM(CASE WHEN is_dns THEN 1 ELSE 0 END) as total_dns,
        ROUND(SUM(CASE WHEN is_finisher THEN 1 ELSE 0 END) * 100.0 / COUNT(*), 1) as finish_rate_pct,
        ROUND(AVG(CASE WHEN is_finisher THEN finish_time_seconds END) / 3600, 2) as avg_finish_hours,
        ROUND(MIN(CASE WHEN is_finisher AND rank = 1 THEN finish_time_seconds END) / 3600, 2) as fastest_finish_hours,
        COUNT(DISTINCT country_key) as total_countries,
        COUNT(DISTINCT year) as total_years,
        MIN(year) as first_year,
        MAX(year) as latest_year
        FROM {FACT}
    """,
    "vw_athletes_by_year": """
        SELECT
        year,
        source_gender as gender,
        COUNT(*) as total_athletes,
        SUM(CASE WHEN is_finisher THEN 1 ELSE 0 END) as finishers,
        SUM(CASE WHEN is_dnf THEN 1 ELSE 0 END) as dnf,
        SUM(CASE WHEN is_dns THEN 1 ELSE 0 END) as dns,
        ROUND(SUM(CASE WHEN is_finisher THEN 1 ELSE 0 END) * 100.0 / COUNT(*), 1) as finish_rate_pct
        FROM {FACT}
        GROUP BY year, source_gender
        ORDER BY year, source_gender
    """,
    "vw_finish_rate_trend": """
        SELECT
        year,
        COUNT(*) as total_athletes,
        SUM(CASE WHEN is_finisher THEN 1 ELSE 0 END) as finishers,
        ROUND(SUM(CASE WHEN is_finisher THEN 1 ELSE 0 END) * 100.0 / COUNT(*), 1) as finish_rate_pct,
        ROUND(AVG(CASE WHEN is_finisher THEN finish_time_seconds END) / 3600, 2) as avg_finish_hours
        FROM {FACT}
        GROUP BY year
        ORDER BY year
    """,
    "vw_gender_distribution": """
        SELECT
        year,
        CASE WHEN source_gender = 'M' THEN 'Male' ELSE source_gender END as gender,
        COUNT(*) as athletes,
        ROUND(COUNT(*) * 100.0 / SUM(COUNT(*)) OVER (PARTITION BY year), 1) as percentage
        FROM {FACT}
        GROUP BY year, source_gender
        ORDER BY year, source_gender
    """,
    "vw_top_countries": """
        SELECT
        c.country_name,
        c.continent,
        COUNT(*) as total_athletes,
        SUM(CASE WHEN f.is_finisher THEN 1 ELSE 0 END) as finishers,
        ROUND(SUM(CASE WHEN f.is_finisher THEN 1 ELSE 0 END) * 100.0 / COUNT(*), 1) as finish_rate_pct,
        ROUND(AVG(CASE WHEN f.is_finisher THEN f.finish_time_seconds END) / 3600, 2) as avg_finish_hours,
        COUNT(DISTINCT f.year) as years_participated
        FROM {FACT} f
        LEFT JOIN {CTY} c ON f.country_key = c.country_key
        WHERE c.country_name IS NOT NULL
        GROUP BY c.country_name, c.continent
        ORDER BY total_athletes DESC
    """,
    "vw_countries_by_year": """
        SELECT
        f.year,
        c.country_name,
        c.continent,
        COUNT(*) as total_athletes,
        SUM(CASE WHEN f.is_finisher THEN 1 ELSE 0 END) as finishers
        FROM {FACT} f
        LEFT JOIN {CTY} c ON f.country_key = c.country_key
        WHERE c.country_name IS NOT NULL
        GROUP BY f.year, c.country_name, c.continent
        ORDER BY f.year, total_athletes DESC
    """,
    "vw_continent_distribution": """
        SELECT
        year,
        c.continent,
        COUNT(*) as athletes,
        ROUND(COUNT(*) * 100.0 / SUM(COUNT(*)) OVER (PARTITION BY year), 1) as percentage
        FROM {FACT} f
        LEFT JOIN {CTY} c ON f.country_key = c.country_key
        WHERE c.continent IS NOT NULL AND c.continent != 'Unknown'
        GROUP BY year, c.continent
        ORDER BY year, athletes DESC
    """,
    "vw_segment_times": """
        SELECT
        year,
        CASE WHEN source_gender = 'M' THEN 'Male' ELSE 'Female' END as gender,
        ROUND(AVG(swim_time_seconds) / 60, 1) as avg_swim_minutes,
        ROUND(AVG(transition_1_seconds) / 60, 1) as avg_t1_minutes,
        ROUND(AVG(bike_time_seconds) / 60, 1) as avg_bike_minutes,
        ROUND(AVG(transition_2_seconds) / 60, 1) as avg_t2_minutes,
        ROUND(AVG(run_time_seconds) / 60, 1) as avg_run_minutes,
        ROUND(AVG(finish_time_seconds) / 60, 1) as avg_total_minutes,
        ROUND(AVG(swim_time_seconds) * 100.0 / AVG(finish_time_seconds), 1) as swim_pct,
        ROUND(AVG(bike_time_seconds) * 100.0 / AVG(finish_time_seconds), 1) as bike_pct,
        ROUND(AVG(run_time_seconds) * 100.0 / AVG(finish_time_seconds), 1) as run_pct
        FROM {FACT}
        WHERE is_finisher = true AND has_data_issue = false
        GROUP BY year, source_gender
        ORDER BY year, source_gender
    """,
    "vw_age_group_performance": """
        SELECT
        f.year,
        d.age_group_start,
        d.age_group_end,
        CONCAT(d.age_group_start, '-', d.age_group_end) as age_group,
        COUNT(*) as total_athletes,
        SUM(CASE WHEN f.is_finisher THEN 1 ELSE 0 END) as finishers,
        ROUND(SUM(CASE WHEN f.is_finisher THEN 1 ELSE 0 END) * 100.0 / COUNT(*), 1) as finish_rate_pct,
        ROUND(AVG(CASE WHEN f.is_finisher THEN f.finish_time_seconds END) / 3600, 2) as avg_finish_hours
        FROM {FACT} f
        LEFT JOIN {DIV} d ON f.division_key = d.division_key
        WHERE d.age_group_start IS NOT NULL AND d.is_professional = false
        GROUP BY f.year, d.age_group_start, d.age_group_end
        ORDER BY f.year, d.age_group_start
    """,
    "vw_finish_time_distribution": """
        SELECT
        year,
        CASE WHEN source_gender = 'M' THEN 'Male' ELSE 'Female' END as gender,
        FLOOR(finish_time_seconds / 3600) as finish_hour,
        CONCAT(FLOOR(finish_time_seconds / 3600), '-', FLOOR(finish_time_seconds / 3600) + 1, ' hrs') as finish_hour_range,
        COUNT(*) as athletes
        FROM {FACT}
        WHERE is_finisher = true AND finish_time_seconds IS NOT NULL
        GROUP BY year, source_gender, FLOOR(finish_time_seconds / 3600)
        ORDER BY year, source_gender, finish_hour
    """,
    "vw_top_finishers": """
        SELECT
        f.year,
        f.rank,
        a.athlete_name,
        c.country_name,
        c.continent,
        d.division_description,
        CASE WHEN f.source_gender = 'M' THEN 'Male' ELSE 'Female' END as gender,
        f.finish_time_seconds,
        CONCAT(
        FLOOR(f.finish_time_seconds / 3600), ':',
        LPAD(FLOOR((f.finish_time_seconds % 3600) / 60), 2, '0'), ':',
        LPAD(f.finish_time_seconds % 60, 2, '0')
        ) as finish_time_formatted,
        ROUND(f.swim_time_seconds / 60, 1) as swim_minutes,
        ROUND(f.bike_time_seconds / 60, 1) as bike_minutes,
        ROUND(f.run_time_seconds / 60, 1) as run_minutes
        FROM {FACT} f
        LEFT JOIN {ATH} a ON f.athlete_key = a.athlete_key
        LEFT JOIN {CTY} c ON f.country_key = c.country_key
        LEFT JOIN {DIV} d ON f.division_key = d.division_key
        WHERE f.is_finisher = true AND f.rank IS NOT NULL
        ORDER BY f.year DESC, f.rank
    """,
    "vw_year_over_year": """
        WITH yearly_stats AS (
        SELECT
        year,
        COUNT(*) as total_athletes,
        SUM(CASE WHEN is_finisher THEN 1 ELSE 0 END) as finishers,
        ROUND(SUM(CASE WHEN is_finisher THEN 1 ELSE 0 END) * 100.0 / COUNT(*), 1) as finish_rate_pct,
        ROUND(AVG(CASE WHEN is_finisher THEN finish_time_seconds END) / 3600, 2) as avg_finish_hours,
        COUNT(DISTINCT country_key) as countries
        FROM {FACT}
        GROUP BY year
        )
        SELECT
        curr.year,
        curr.total_athletes,
        curr.finishers,
        curr.finish_rate_pct,
        curr.avg_finish_hours,
        curr.countries,
        curr.total_athletes - COALESCE(prev.total_athletes, 0) as athletes_change,
        ROUND((curr.total_athletes - COALESCE(prev.total_athletes, curr.total_athletes)) * 100.0 / NULLIF(prev.total_athletes, 0), 1) as athletes_change_pct,
        curr.finish_rate_pct - COALESCE(prev.finish_rate_pct, 0) as finish_rate_change,
        curr.avg_finish_hours - COALESCE(prev.avg_finish_hours, 0) as avg_time_change_hours
        FROM yearly_stats curr
        LEFT JOIN yearly_stats prev ON curr.year = prev.year + 1
        ORDER BY curr.year
    """,
    "vw_pro_vs_age_group": """
        SELECT
        f.year,
        CASE WHEN d.is_professional THEN 'Professional' ELSE 'Age Group' END as category,
        COUNT(*) as athletes,
        SUM(CASE WHEN f.is_finisher THEN 1 ELSE 0 END) as finishers,
        ROUND(SUM(CASE WHEN f.is_finisher THEN 1 ELSE 0 END) * 100.0 / COUNT(*), 1) as finish_rate_pct,
        ROUND(AVG(CASE WHEN f.is_finisher THEN f.finish_time_seconds END) / 3600, 2) as avg_finish_hours,
        ROUND(MIN(CASE WHEN f.is_finisher THEN f.finish_time_seconds END) / 3600, 2) as fastest_hours
        FROM {FACT} f
        LEFT JOIN {DIV} d ON f.division_key = d.division_key
        WHERE d.is_professional IS NOT NULL
        GROUP BY f.year, d.is_professional
        ORDER BY f.year, category
    """,
    "vw_dnf_analysis": """
        SELECT
        year,
        CASE WHEN source_gender = 'M' THEN 'Male' ELSE 'Female' END as gender,
        COUNT(*) as total_athletes,
        SUM(CASE WHEN is_finisher THEN 1 ELSE 0 END) as finishers,
        SUM(CASE WHEN is_dnf THEN 1 ELSE 0 END) as dnf,
        SUM(CASE WHEN is_dns THEN 1 ELSE 0 END) as dns,
        SUM(CASE WHEN is_dq THEN 1 ELSE 0 END) as dq,
        ROUND(SUM(CASE WHEN is_dnf THEN 1 ELSE 0 END) * 100.0 / COUNT(*), 1) as dnf_rate_pct,
        ROUND(SUM(CASE WHEN is_dns THEN 1 ELSE 0 END) * 100.0 / COUNT(*), 1) as dns_rate_pct
        FROM {FACT}
        GROUP BY year, source_gender
        ORDER BY year, source_gender
    """,
    "vw_fastest_times": """
        SELECT
        year,
        CASE WHEN source_gender = 'M' THEN 'Male' ELSE 'Female' END as gender,
        ROUND(MIN(finish_time_seconds) / 3600, 2) as fastest_finish_hours,
        ROUND(MIN(swim_time_seconds) / 60, 1) as fastest_swim_minutes,
        ROUND(MIN(bike_time_seconds) / 60, 1) as fastest_bike_minutes,
        ROUND(MIN(run_time_seconds) / 60, 1) as fastest_run_minutes,
        ROUND(AVG(finish_time_seconds) / 3600, 2) as avg_finish_hours,
        ROUND(PERCENTILE_APPROX(finish_time_seconds, 0.5) / 3600, 2) as median_finish_hours
        FROM {FACT}
        WHERE is_finisher = true
        GROUP BY year, source_gender
        ORDER BY year, source_gender
    """,
}


def view_sql(
    fact: str = FACT, ath: str = ATH, cty: str = CTY, div: str = DIV
) -> dict[str, str]:
    """The 15 view definitions with table identifiers bound to the
    given names — temp-view names for in-process serving (default) or
    catalog-qualified names (``gold.fact_race_results``) when
    publishing persistent views (plans/catalog.publish_catalog)."""
    return {
        name: tpl.format(FACT=fact, ATH=ath, CTY=cty, DIV=div)
        for name, tpl in _TEMPLATES.items()
    }


VIEW_SQL: dict[str, str] = view_sql()


def create_views(spark: SparkSession) -> None:
    """Register all dashboard views as temporary views. Requires the
    gold tables to be registered first (TableStore.register_views).

    A SQL temp view stores its SQL text and resolves the ``gold_*``
    temp views it names when it is queried, so a view already in the
    session follows a re-registered table by itself. DDL is issued
    only for a view that is missing or whose stored text (Spark keeps
    the query's trimmed text) differs from ``VIEW_SQL``'s: a second
    pipeline run in a session issues none."""
    catalog = spark._jsparkSession.sessionState().catalog()
    for name, sql in VIEW_SQL.items():
        view = catalog.getTempView(name)
        text = view.get().desc().viewText() if view.isDefined() else None
        if text is None or not text.isDefined() or text.get() != sql.strip():
            spark.sql(f"CREATE OR REPLACE TEMPORARY VIEW {name} AS {sql}")
