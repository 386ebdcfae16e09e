"""EP2 parity: the five analytics queries as Spark SQL over the warehouse
star schema (/root/reference/pipeline/analytics.py:21-118), plus CSV export.

SQL text mirrors the reference query-for-query (same joins on
dim_event_types, same COALESCE/ROUND/CASE shapes, same output headers) so a
user of the reference can run the exact workload against this warehouse.
The missing-table graceful-empty behavior of intl revenue is preserved
(/root/reference/pipeline/analytics.py:139-142).
"""

from __future__ import annotations

import os
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession

from data_engineering_etl_demo_spark.functions.local_rows import empty_df
from data_engineering_etl_demo_spark.operators.warehouse import Warehouse
from data_engineering_etl_demo_spark.sources.ingest import write_csv_export


@dataclass
class QueryResult:
    name: str
    df: DataFrame
    csv_path: str | None = None


DAU_SQL = """
SELECT event_date, COUNT(DISTINCT user_id) AS dau
FROM fact_events
WHERE user_id IS NOT NULL
GROUP BY event_date
ORDER BY event_date
"""

REVENUE_SQL = """
SELECT f.event_date, ROUND(SUM(COALESCE(f.amount, 0)), 2) AS revenue
FROM fact_events f
JOIN dim_event_types e ON e.event_type_id = f.event_type_id
WHERE e.event = 'purchase'
GROUP BY f.event_date
ORDER BY f.event_date
"""

INTL_REVENUE_SQL = """
SELECT substr(ts, 1, 10) AS event_date,
       ROUND(SUM(COALESCE(gross_amt, 0)), 2) AS intl_revenue
FROM fact_international_sales
GROUP BY 1
ORDER BY 1
"""

EVENT_COUNTS_SQL = """
SELECT f.event_date, e.event, COUNT(*) AS events
FROM fact_events f
JOIN dim_event_types e ON e.event_type_id = f.event_type_id
GROUP BY f.event_date, e.event
ORDER BY f.event_date, e.event
"""

FUNNEL_SQL = """
WITH daily AS (
    SELECT f.event_date,
           COUNT(DISTINCT CASE WHEN e.event = 'signup' THEN f.user_id END) AS signup_users,
           COUNT(DISTINCT CASE WHEN e.event = 'purchase' THEN f.user_id END) AS purchasers
    FROM fact_events f
    JOIN dim_event_types e ON e.event_type_id = f.event_type_id
    WHERE f.user_id IS NOT NULL
    GROUP BY f.event_date
)
SELECT event_date, signup_users, purchasers,
       CASE WHEN signup_users = 0 THEN 0.0
            ELSE ROUND(CAST(1.0 AS DOUBLE) * purchasers / signup_users, 4)
       END AS signup_to_purchase_rate
FROM daily
ORDER BY event_date
"""

QUERIES = {
    "dau": DAU_SQL,
    "revenue": REVENUE_SQL,
    "international_revenue": INTL_REVENUE_SQL,
    "event_counts": EVENT_COUNTS_SQL,
    "funnel": FUNNEL_SQL,
}


def run_all(
    spark: SparkSession, wh: Warehouse, export_dir: str | None = None
) -> dict[str, QueryResult]:
    wh.register_views()
    out: dict[str, QueryResult] = {}
    for name, sql in QUERIES.items():
        if name == "international_revenue" and not wh.exists("fact_international_sales"):
            # graceful empty (reference swallows the missing table)
            df = empty_df(spark, "event_date string, intl_revenue double")
        else:
            df = spark.sql(sql)
        csv_path = None
        if export_dir is not None:
            csv_path = os.path.join(export_dir, name)
            write_csv_export(df, csv_path)
        out[name] = QueryResult(name=name, df=df, csv_path=csv_path)
    return out
