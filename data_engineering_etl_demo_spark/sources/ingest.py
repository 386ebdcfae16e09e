"""Validating sources with quarantine split (SURVEY.md §2.1 S1-S8).

The reference reads JSONL line-by-line, routing malformed JSON / missing
required fields / unparseable timestamps to a bad-records list
(/root/reference/pipeline/ingest.py:28-70).  Spark-first, the same contract
is a text scan + from_json with a corrupt-record column and a three-way
filter split — declarative, no row-at-a-time Python.

`_line` provenance (reference enumerate(f, start=1), ingest.py:41): true
per-file 1-based line numbers, computed distributed and without a shuffle
of the lines — a tiny per-input-split pre-pass gives each (file, split) its
line count and first row id, and every line's number is its row id shifted
by its split's offset.  The offset table is #splits rows.  Numbering
includes blank lines (the reference counts them before skipping), and bad
records keep the raw line (`_raw`) for decode errors exactly as the
reference does.

The tagged relation (every parsed line with its `_reason`) feeds the good
rows, the bad rows and both ingest counts.  `read_events_jsonl` computes
it once and releases it when the caller's scope closes, so a pipeline that
runs several actions over it scans its input twice (numbering pre-pass,
materialization), not once per action.  The counts are observed
(`DataFrame.observe`) by the materialization's own job, so reading them
costs no further job.
"""

from __future__ import annotations

from contextlib import ExitStack
from dataclasses import dataclass

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from data_engineering_etl_demo_spark.functions.caching import materialized
from data_engineering_etl_demo_spark.functions.cleaning import strict_utc_ts
from data_engineering_etl_demo_spark.functions.local_rows import local_df
from data_engineering_etl_demo_spark.schemas import RAW_EVENT

REQUIRED_EVENT_FIELDS = ("event_id", "ts", "event")  # pipeline/ingest.py:12


def _count_exprs() -> list:
    bad = F.col("_reason").isNotNull()
    return [F.count_if(~bad).alias("good"), F.count_if(bad).alias("bad")]


@dataclass
class IngestResult:
    events: DataFrame  # good rows, ts parsed to TimestampType
    bad_records: DataFrame  # quarantined rows tagged with _reason + _line
    tagged: DataFrame  # every non-blank line, _reason null on good rows
    observed: Observation  # (good, bad), filled by the materialization

    def counts(self) -> tuple[int, int]:
        """(good, bad) row counts.  Free when the materialization of the
        tagged lines filled ``observed``; otherwise (no row, or one the JVM
        cannot hand back, as the transform's counters can on pipeline
        re-runs) one aggregate over the tagged lines."""
        try:
            if not self.observed._jo.getRowOrEmpty().isEmpty():
                r = self.observed.get
                return r["good"], r["bad"]
        except Exception:
            pass  # unusable observation: aggregate instead
        r = self.tagged.agg(*_count_exprs()).first()
        return r["good"], r["bad"]


def _numbered_lines(spark: SparkSession, path: str) -> DataFrame:
    """(value, _file, _line): every text line with its per-file 1-based
    line number.  Within one scan partition a file's lines stream in file
    order with consecutive row ids (``monotonically_increasing_id`` counts
    every row of the partition), and a file's splits are planned
    offset-ascending (equal-size splits keep their relative order through
    Spark's stable size sort, and the odd-size tail is the file's last
    chunk).  So a line's number is its row id minus the first row id of
    its (file, split), plus the lines of the file's earlier splits — the
    sequential reader's numbering from one projection over the scan, with
    no window and no shuffle of the lines."""
    txt = spark.read.text(path).select(
        "value",
        F.col("_metadata.file_path").alias("_file"),
        F.spark_partition_id().alias("_pid"),
        F.monotonically_increasing_id().alias("_mid"),
    )
    # pre-pass: rows and first row id per (file, split).  #splits rows —
    # driver-safe.
    splits = (
        txt.groupBy("_file", "_pid")
        .agg(F.count(F.lit(1)).alias("n"), F.min("_mid").alias("first"))
        .collect()
    )
    offsets, running = [], {}
    for r in sorted(splits, key=lambda r: (r["_file"], r["_pid"])):
        before = running.get(r["_file"], 0)
        offsets.append((r["_file"], r["_pid"], before + 1 - r["first"]))
        running[r["_file"]] = before + r["n"]

    off = local_df(spark, offsets, "_file string, _pid int, _off long")
    return (
        txt.join(F.broadcast(off), on=["_file", "_pid"])
        .withColumn("_line", F.col("_mid") + F.col("_off"))
        .select("value", "_file", "_line")
    )


def read_events_jsonl(
    spark: SparkSession, path: str, scope: ExitStack
) -> IngestResult:
    """S1: JSONL event source with validation + quarantine.

    Split rules (matching /root/reference/pipeline/ingest.py:41-66):
      1. malformed JSON line          → _reason 'json_decode_error'
      2. missing any required field   → _reason 'missing_fields=<names>'
      3. ts present but unparseable   → _reason 'invalid_timestamp'
    Blank lines are counted for `_line` then dropped (reference ingest.py:
    42-44); bad records carry the true source line number.

    The tagged lines are materialized once (one scan of the input after
    the numbering pre-pass) and released when ``scope`` closes; every
    relation of the result reads the stored rows, so use it inside
    ``scope`` only.
    """
    numbered = _numbered_lines(spark, path).filter(
        F.trim(F.col("value")) != ""
    )
    raw = numbered.withColumn(
        "_p",
        F.from_json(
            "value",
            RAW_EVENT,
            {"mode": "PERMISSIVE", "columnNameOfCorruptRecord": "_corrupt_record"},
        ),
    ).select("_line", "_p.*")
    parsed_ts = strict_utc_ts(F.col("ts"))

    corrupt = F.col("_corrupt_record").isNotNull()
    missing_list = F.concat_ws(
        ",",
        *[
            F.when(F.col(f).isNull(), F.lit(f))
            for f in REQUIRED_EVENT_FIELDS
        ],
    )
    missing = ~corrupt & (missing_list != "")
    bad_ts = ~corrupt & ~missing & parsed_ts.isNull()

    reason = (
        F.when(corrupt, F.lit("json_decode_error"))
        .when(missing, F.concat(F.lit("missing_fields="), missing_list))
        .when(bad_ts, F.lit("invalid_timestamp"))
    )

    # the counts ride the materialization's own job (CollectMetrics)
    observed = Observation()
    tagged = scope.enter_context(
        materialized(
            raw.withColumn("_reason", reason).observe(observed, *_count_exprs())
        )
    )
    bad = tagged.filter(F.col("_reason").isNotNull()).select(
        "event_id",
        "ts",
        "user_id",
        "event",
        F.col("_line"),
        F.col("_reason"),
        F.col("_corrupt_record").alias("_raw"),
    )
    good = (
        tagged.filter(F.col("_reason").isNull())
        .withColumn("ts", parsed_ts)
        .drop("_reason", "_corrupt_record", "_line")
    )
    return IngestResult(events=good, bad_records=bad, tagged=tagged, observed=observed)


def read_users_csv(spark: SparkSession, path: str) -> DataFrame:
    """S2: users CSV; user_id kept as trimmed string (the reference's
    numeric Int64 coerce is legacy — transform re-casts to TEXT anyway,
    /root/reference/pipeline/transform.py:78-85)."""
    return (
        spark.read.option("header", True)
        .option("encoding", "UTF-8")
        .csv(path)
        .withColumn("user_id", F.trim(F.col("user_id").cast("string")))
    )


def read_intl_sales_jsonl(spark: SparkSession, path: str) -> DataFrame:
    """S3: optional international-sales JSONL."""
    return spark.read.json(path)


def write_bad_records(bad: DataFrame, path: str) -> None:
    """S6: quarantine sink — one JSON object per line."""
    bad.write.mode("overwrite").json(path)


def write_csv_export(df: DataFrame, path: str) -> None:
    """S7: CSV export sink.  coalesce(1) is export parity with the
    reference's single to_csv file — only ever used on tiny query results
    (SURVEY.md §7 watch-out 7), never on facts."""
    df.coalesce(1).write.mode("overwrite").option("header", True).csv(path)
