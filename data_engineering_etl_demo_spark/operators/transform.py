"""Clean/normalize/dedup/derive/enrich transform (SURVEY.md §2 P1,P7,F1-F3,
F9,F11,F13,A6,J1 — reference /root/reference/pipeline/transform.py:11-120).

Semantics preserved exactly (pinned by the ported unit tests):
  1. strict UTC ts parse, invalid → null            (F9)
  2. event canonicalization (trim/lower/sep/alias)  (F1-F3)
  3. disallowed events → quarantine with _reason    (P1)
  4. dedup by event_id, keep latest ts              (A6)
  5. user_id → trimmed TEXT, sentinel strings → null (P7)
  6. amount → double, garbage → null                (F13)
  7. derive event_date ('YYYY-MM-DD'), event_hour   (F11)
  8. left join users dim (broadcast)                (J1)
metrics: dedup_removed, null_user_id, invalid_event_type, rows_out.

Scale notes: the good/bad split is two filters over the same input (EP1
hands in its materialized ingest rows, so neither re-reads the raw file);
dedup windows by event_id — maximal-cardinality key, so the shuffle is
even; the users dim is broadcast (J1 is fact⟕dim).  Metrics ride on the
pipeline's own actions via ``df.observe()`` (CollectMetrics nodes on the
input and output of the transform): EP1's one materialization of ``clean``
populates every counter, zero extra jobs.  Only a caller that asks for
metrics before ever running an action triggers one fallback noop action.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from data_engineering_etl_demo_spark.functions.cleaning import (
    ALLOWED_EVENTS,
    canonicalize_event,
    normalize_id,
    strict_utc_ts,
)


@dataclass
class TransformResult:
    clean: DataFrame
    bad: DataFrame
    obs_in: Observation = None  # rows_in / invalid, observed on the input
    obs_out: Observation = None  # rows_out / null_uid, observed on clean
    _ev: DataFrame = None  # normalized pre-split input (aggregate fallback)
    _metrics: dict | None = field(default=None, repr=False)

    def _observed(self) -> tuple[dict, dict]:
        """Free path: counters from the CollectMetrics nodes that rode the
        pipeline's own writes.  Raises if the observations are unusable
        (no action ran, or the JVM handed back a schemaless row — seen on
        pipeline re-runs, where ``Observation.get``'s ``toPyRow`` asserts)."""
        if self.obs_out._jo.getRowOrEmpty().isEmpty():
            # no action has consumed clean yet (direct library use):
            # clean's plan contains BOTH observe nodes, so one noop
            # action populates obs_in and obs_out together.
            self.clean.write.format("noop").mode("overwrite").save()
        return self.obs_in.get, self.obs_out.get

    def _aggregated(self) -> tuple[dict, dict]:
        """Fallback: the same four counters from two aggregate jobs.
        Deterministic and re-entrant, at the cost of re-scanning the input."""
        invalid = ~F.col("event").isin(*ALLOWED_EVENTS)
        mi = (
            self._ev.agg(
                F.count(F.lit(1)).alias("rows_in"),
                F.sum(F.when(invalid, 1).otherwise(0)).alias("invalid"),
            )
            .first()
            .asDict()
        )
        mo = (
            self.clean.agg(
                F.count(F.lit(1)).alias("rows_out"),
                F.sum(F.when(F.col("user_id").isNull(), 1).otherwise(0)).alias(
                    "null_uid"
                ),
            )
            .first()
            .asDict()
        )
        return mi, mo

    @property
    def metrics(self) -> dict:
        """Counters (A8).  Free when any action has already run on ``clean``
        (the normal pipeline path: materializing clean populates both
        CollectMetrics nodes); falls back to explicit aggregation when the
        observation machinery fails (e.g. idempotent pipeline re-runs)."""
        if self._metrics is None:
            try:
                mi, mo = self._observed()
            except Exception:
                mi, mo = self._aggregated()
            valid_rows = mi["rows_in"] - (mi["invalid"] or 0)
            self._metrics = {
                "dedup_removed": int(valid_rows - mo["rows_out"]),
                "null_user_id": int(mo["null_uid"] or 0),
                "invalid_event_type": int(mi["invalid"] or 0),
                "rows_out": int(mo["rows_out"]),
            }
        return self._metrics


def _normalize(events: DataFrame) -> DataFrame:
    cols = set(events.columns)
    df = events
    df = df.withColumn("ts", strict_utc_ts(F.col("ts")) if "ts" in cols else F.lit(None).cast("timestamp"))
    df = df.withColumn(
        "event",
        canonicalize_event(F.col("event")) if "event" in cols else F.lit(""),
    )
    return df


def transform(events: DataFrame, users: DataFrame) -> TransformResult:
    """(events, users) → (clean, bad, metrics) with reference semantics."""
    # keep arrival order for deterministic dedup tie-breaking (SURVEY.md §7
    # watch-out 1: pandas keep='last' is file-order-last on equal ts)
    ev = _normalize(events).withColumn(
        "_ingest_order", F.monotonically_increasing_id()
    )

    invalid = ~F.col("event").isin(*ALLOWED_EVENTS)
    # A8 metrics, streaming-style: CollectMetrics on the input — every row
    # flows through this node regardless of the good/bad split below, so
    # whichever downstream write runs first reports rows_in/invalid.
    obs_in = Observation()
    ev = ev.observe(
        obs_in,
        F.count(F.lit(1)).alias("rows_in"),
        F.sum(F.when(invalid, 1).otherwise(0)).alias("invalid"),
    )
    bad = ev.filter(invalid).select(
        F.col("event_id").cast("string").alias("event_id"),
        F.col("ts").cast("string").alias("ts"),
        (
            F.col("user_id").cast("string")
            if "user_id" in events.columns
            else F.lit(None).cast("string")
        ).alias("user_id"),
        F.col("event").cast("string").alias("event"),
        F.lit("invalid_event_type").alias("_reason"),
    )

    valid = ev.filter(~invalid)

    # A6: keep latest ts per event_id; ties → last arrival wins
    w = Window.partitionBy("event_id").orderBy(
        F.col("ts").desc_nulls_last(), F.col("_ingest_order").desc()
    )
    deduped = (
        valid.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )

    cols = set(events.columns)
    deduped = deduped.withColumn(
        "user_id",
        normalize_id("user_id") if "user_id" in cols else F.lit(None).cast("string"),
    ).withColumn(
        "amount",
        F.col("amount").try_cast("double") if "amount" in cols else F.lit(None).cast("double"),
    )

    derived = deduped.withColumn(
        "event_date", F.date_format("ts", "yyyy-MM-dd")
    ).withColumn("event_hour", F.hour("ts"))

    users_dim = users.select(
        normalize_id("user_id").alias("user_id"),
        *[c for c in ("country", "signup_source") if c in users.columns],
    )
    # Deliberately NOT deduplicated: the reference merges users as-is
    # (pandas events.merge(users, how="left"), transform.py:103), so a
    # duplicate user_id in users.csv fans out event rows identically in
    # both engines — parity over prettiness.  The warehouse DIM is
    # protected separately (upsert_dim_users dedupes, like the
    # reference's ON CONFLICT insert).
    clean = derived.join(F.broadcast(users_dim), on="user_id", how="left").drop(
        "_ingest_order"
    )

    # A8 metrics on the output: rides on whatever action consumes clean
    # (EP1's materialization of it) — no dedicated jobs.
    obs_out = Observation()
    clean = clean.observe(
        obs_out,
        F.count(F.lit(1)).alias("rows_out"),
        F.sum(F.when(F.col("user_id").isNull(), 1).otherwise(0)).alias("null_uid"),
    )
    return TransformResult(
        clean=clean, bad=bad, obs_in=obs_in, obs_out=obs_out, _ev=ev
    )
