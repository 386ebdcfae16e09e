"""End-to-end ETL driver — EP1 parity
(/root/reference/pipeline/run_pipeline.py:29-119).

raw events JSONL + users CSV (+ optional intl sales JSONL)
  → ingest (validate + quarantine)          [materialized once, good/bad split]
  → transform (normalize/dedup/derive/join) [clean rows materialized once]
  → quarantine JSONL sink (ingest-bad ∪ transform-bad)
  → warehouse upserts (dims + facts, idempotent MERGE)
  → preview query (fact ⟕ dim_users, ORDER BY ts LIMIT 50) CSV export
  → quality report JSON

Every sink, MERGE step and counter reuses two relations: the tagged ingest
lines and the transform's clean rows.  Each is computed once per call
(``functions.caching.materialized``), so the raw events file is scanned
by the line-numbering pre-pass and the ingest materialization only, and
the dedup window and users join run once.  Both are released before the call
returns, also when a step fails.
"""

from __future__ import annotations

import os
from contextlib import ExitStack
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from data_engineering_etl_demo_spark.functions.caching import materialized
from data_engineering_etl_demo_spark.operators.transform import transform
from data_engineering_etl_demo_spark.operators.warehouse import Warehouse
from data_engineering_etl_demo_spark.quality import (
    QualityReport,
    now_utc_iso,
    write_quality_report,
)
from data_engineering_etl_demo_spark.sources.ingest import (
    read_events_jsonl,
    read_intl_sales_jsonl,
    read_users_csv,
    write_bad_records,
    write_csv_export,
)


@dataclass
class PipelineResult:
    warehouse: Warehouse
    report: QualityReport
    preview: DataFrame


def run_pipeline(
    spark: SparkSession,
    events_path: str,
    users_path: str,
    warehouse_dir: str,
    output_dir: str,
    intl_path: str | None = None,
) -> PipelineResult:
    with ExitStack() as scope:
        ingest = read_events_jsonl(spark, events_path, scope)
        users = read_users_csv(spark, users_path)

        res = transform(ingest.events, users)
        # the dims, both touched-partition collects and the fact write read
        # clean; materializing it also fills the transform's counters
        clean = scope.enter_context(materialized(res.clean))

        # T1: union of quarantine streams, one sink
        bad_all = ingest.bad_records.unionByName(
            res.bad.withColumn("_raw", F.lit(None).cast("string")),
            allowMissingColumns=True,
        )
        write_bad_records(bad_all, os.path.join(output_dir, "bad_records"))

        wh = Warehouse(spark, warehouse_dir)
        wh.upsert_dim_users(users)
        wh.upsert_fact_events(clean)

        if intl_path and os.path.exists(intl_path):
            wh.upsert_fact_international_sales(
                read_intl_sales_jsonl(spark, intl_path)
            )

        # preview export (J3 + O2): fact ⟕ dim_users, first 50 by ts
        fact = wh.table("fact_events")
        dim_u = wh.table("dim_users")
        preview = (
            fact.join(F.broadcast(dim_u), on="user_id", how="left")
            .select(
                "event_id",
                F.date_format("ts", "yyyy-MM-dd HH:mm:ssXXX").alias("ts"),
                "user_id",
                "event_type_id",
                "amount",
                "event_date",
                "event_hour",
                "country",
                "signup_source",
            )
            .orderBy("ts", "event_id")
            .limit(50)
        )
        write_csv_export(
            preview, os.path.join(output_dir, "exports", "fact_events_preview")
        )

        ingest_good, ingest_bad = ingest.counts()
        report = QualityReport(
            run_utc=now_utc_iso(),
            raw_lines=ingest_good + ingest_bad,  # blank lines are dropped pre-count
            ingest_good=ingest_good,
            ingest_bad=ingest_bad,
            transform_invalid_event_type=res.metrics["invalid_event_type"],
            loaded_rows=res.metrics["rows_out"],
            dedup_removed=res.metrics["dedup_removed"],
            null_user_id=res.metrics["null_user_id"],
        )
        write_quality_report(os.path.join(output_dir, "quality_report.json"), report)
    return PipelineResult(warehouse=wh, report=report, preview=preview)
