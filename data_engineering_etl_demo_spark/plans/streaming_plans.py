"""Streaming queries over the events table, oracle-checked.

Each query runs a REAL Structured Streaming job (file source → stateful
transformation → memory sink, drained with availableNow) and returns the
materialized result; the DuckDB oracle recomputes the same answer with
batch SQL.  Timestamps are compared as epoch microseconds.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from data_engineering_etl_demo_spark.functions.hashing import md5_stream
from data_engineering_etl_demo_spark.plans import register
from data_engineering_etl_demo_spark.streaming import pipeline as P

def _events_read_schema(sf_dir: str) -> tuple[T.StructType, str]:
    """Build the streaming read schema for events.parquet from its actual
    footer.  The testdata's physical ts encoding has drifted across
    generations (TIMESTAMP(NANOS), then timestamp[us] no-tz); a hardcoded
    schema silently corrupts timestamps when the data drifts again, so
    inspect the file and return (schema, ts_mode) where ts_mode is one of
    'nanos_long' | 'ntz' | 'ltz'."""
    import pyarrow.parquet as pq

    import pyarrow as pa

    ts_type = pq.read_schema(f"{sf_dir}/events.parquet").field("ts").type
    if not pa.types.is_timestamp(ts_type):
        # int64 epoch-nanos is the only non-timestamp drift seen in the
        # wild (pandas writing raw ns); anything else must fail loudly,
        # not AttributeError inside the drift-resilience helper itself
        if pa.types.is_int64(ts_type):
            return _schema_with_ts(T.LongType()), "nanos_long"
        raise TypeError(
            f"events.ts has unsupported parquet type {ts_type}; expected a "
            "timestamp (any unit/tz) or int64 epoch-nanos"
        )
    if ts_type.unit == "ns":
        spark_ts, mode = T.LongType(), "nanos_long"
    elif ts_type.tz is None:
        spark_ts, mode = T.TimestampNTZType(), "ntz"
    else:
        spark_ts, mode = T.TimestampType(), "ltz"
    return _schema_with_ts(spark_ts), mode


def _schema_with_ts(spark_ts: T.DataType) -> T.StructType:
    return T.StructType(
        [
            T.StructField("event_id", T.LongType()),
            T.StructField("ts", spark_ts),
            T.StructField("user_id", T.LongType()),
            T.StructField("event_type", T.StringType()),
            T.StructField("value", T.DoubleType()),
            T.StructField("props", T.StringType()),
        ]
    )


def _link_events(link, sf_dir: str) -> None:
    """Point the staging symlink ``link`` at ``sf_dir``'s events.parquet.
    Staging dirs are keyed by the input dir's NAME, so a link left by an
    earlier input dir of the same name — removed since (dangling) or
    living elsewhere — is replaced, never trusted.  The swap is a rename,
    so a concurrent reader sees the old link or the new one."""
    import os
    import uuid

    target = f"{sf_dir}/events.parquet"
    if os.path.islink(link) and os.readlink(link) == target:
        return
    tmp = f"{link}.{uuid.uuid4().hex}.tmp"
    os.symlink(target, tmp)
    os.replace(tmp, link)


def _drain_name(prefix: str, sf_dir: str) -> str:
    """Deterministic per-input memory-sink name: ``prefix`` plus the input
    dir's name with every character that is not valid in an identifier
    mapped to ``_`` (the sink registers a temp view of this name)."""
    import re
    from pathlib import Path

    return f"{prefix}_{re.sub(r'[^0-9A-Za-z_]', '_', Path(sf_dir).name)}"


def _event_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """File-source stream over the events table.  The file source needs a
    directory, so the single events.parquet is exposed via a symlink in a
    per-sf staging dir (no data copy)."""
    from pathlib import Path

    stage = Path("/tmp/spark_graft_stream") / Path(sf_dir).name
    stage.mkdir(parents=True, exist_ok=True)
    _link_events(stage / "events.parquet", sf_dir)

    schema, mode = _events_read_schema(sf_dir)
    if mode == "nanos_long":
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    raw = spark.readStream.schema(schema).parquet(str(stage))
    if mode == "nanos_long":
        # integer division — epoch nanos (~1.7e18) overflow double precision
        return raw.withColumn("ts", F.timestamp_micros(F.expr("ts DIV 1000")))
    if mode == "ntz":
        # UTC session tz → cast preserves the wall clock (DuckDB naive read)
        return raw.withColumn("ts", F.col("ts").cast("timestamp"))
    return raw


@register(
    "streaming_window_counts",
    """
    SELECT epoch_us(time_bucket(INTERVAL '1 hour', ts)) AS window_start_us,
           event_type,
           CAST(COUNT(*) AS BIGINT) AS events
    FROM events
    GROUP BY 1, 2
    ORDER BY 1, 2
    """,
    doc="Structured Streaming tumbling-window counts (watermark + complete drain).",
    memoize=False,
)
def q_streaming_window_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    def build(s: SparkSession) -> DataFrame:
        return (
            _event_stream(s, sf_dir)
            .withWatermark("ts", "10 minutes")
            .groupBy(F.window("ts", "1 hour").alias("w"), F.col("event_type"))
            .agg(F.count(F.lit(1)).alias("events"))
        )

    # complete-mode agg: the sink is replaced wholesale every batch, so
    # the trailing no-data batch (watermark-only trigger) re-emits the
    # identical table — elided (see run_to_completion).
    result = P.run_to_completion(
        build, "stream_window_counts", "complete", shuffle_partitions=4,
        spark=spark, no_data_batch=False,
    )
    return result.select(
        F.unix_micros(F.col("w.start")).alias("window_start_us"),
        "event_type",
        "events",
    ).orderBy("window_start_us", "event_type")


@register(
    "streaming_sessionize",
    """
    WITH e AS (
        SELECT CAST(user_id AS VARCHAR) AS user_id, ts
        FROM events WHERE user_id IS NOT NULL
    ),
    m AS (
        SELECT user_id, ts,
               CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts)
                         > INTERVAL 30 MINUTE THEN 1 ELSE 0 END AS brk
        FROM e
    ),
    s AS (
        SELECT user_id, ts,
               SUM(brk) OVER (PARTITION BY user_id ORDER BY ts
                              ROWS UNBOUNDED PRECEDING) AS sid
        FROM m
    ),
    g AS (
        SELECT user_id, sid, MIN(ts) AS session_start, MAX(ts) AS session_end,
               CAST(COUNT(*) AS BIGINT) AS n_events
        FROM s GROUP BY 1, 2
    ),
    last AS (SELECT user_id, MAX(sid) AS max_sid FROM g GROUP BY 1)
    SELECT g.user_id,
           epoch_us(session_start) AS session_start_us,
           epoch_us(session_end) AS session_end_us,
           n_events
    FROM g JOIN last ON g.user_id = last.user_id
    WHERE g.sid < last.max_sid
    ORDER BY 1, 2
    """,
    doc="applyInPandasWithState sessionization (closed sessions; 30-min gap).",
    memoize=False,
)
def q_streaming_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    def build(s: SparkSession) -> DataFrame:
        events = (
            _event_stream(s, sf_dir)
            .filter(F.col("user_id").isNotNull())
            .select(F.col("user_id").cast("string").alias("user_id"), "ts")
        )
        return P.sessionize(events, gap_minutes=30)

    # 16 state partitions for the pandas-state kernels (here and the EMA
    # drains): measured sweet spot at sf0.1/local[32] — per-store
    # commit+Arrow overhead x32 outweighs extra Python parallelism at this
    # key cardinality (32->16 cut the four drains 13.2s -> 9.9s total); a
    # cluster deployment sizes this to executor cores like any shuffle.
    # NoTimeout kernel: closed sessions emit on the arrival that closes
    # them; a no-data batch fires nothing — elided.
    result = P.run_to_completion(
        build, "stream_sessions", "append", shuffle_partitions=16,
        spark=spark, no_data_batch=False,
    )
    return result.select(
        "user_id",
        F.unix_micros("session_start").alias("session_start_us"),
        F.unix_micros("session_end").alias("session_end_us"),
        "n_events",
    ).orderBy("user_id", "session_start_us")


@register(
    "streaming_sessionize_flush",
    """
    WITH e AS (
        SELECT CAST(user_id AS VARCHAR) AS user_id, ts
        FROM events WHERE user_id IS NOT NULL
    ),
    wm AS (
        -- final event-time watermark in ms: max event ts minus the 10-min
        -- delay (Spark tracks watermarks at ms precision)
        SELECT (epoch_us(MAX(ts)) // 1000) - 600000 AS w_ms FROM e
    ),
    m AS (
        SELECT user_id, ts,
               CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts)
                         > INTERVAL 30 MINUTE THEN 1 ELSE 0 END AS brk
        FROM e
    ),
    s AS (
        SELECT user_id, ts,
               SUM(brk) OVER (PARTITION BY user_id ORDER BY ts
                              ROWS UNBOUNDED PRECEDING) AS sid
        FROM m
    ),
    g AS (
        SELECT user_id, sid, MIN(ts) AS session_start, MAX(ts) AS session_end,
               CAST(COUNT(*) AS BIGINT) AS n_events
        FROM s GROUP BY 1, 2
    ),
    last AS (SELECT user_id, MAX(sid) AS max_sid FROM g GROUP BY 1)
    SELECT g.user_id,
           epoch_us(session_start) AS session_start_us,
           epoch_us(session_end) AS session_end_us,
           n_events
    FROM g JOIN last ON g.user_id = last.user_id
    WHERE g.sid < last.max_sid
       OR (epoch_us(session_end) // 1000) + 1800000 < (SELECT w_ms FROM wm)
    ORDER BY 1, 2
    """,
    doc="sessionization with EventTimeTimeout flush: idle sessions emit "
    "once the watermark passes last-event + gap; the oracle applies the "
    "identical watermark cutoff to the batch gaps-and-islands form.",
    memoize=False,
)
def q_streaming_sessionize_flush(spark: SparkSession, sf_dir: str) -> DataFrame:
    def build(s: SparkSession) -> DataFrame:
        events = (
            _event_stream(s, sf_dir)
            .filter(F.col("user_id").isNotNull())
            .select(F.col("user_id").cast("string").alias("user_id"), "ts")
            .withWatermark("ts", "10 minutes")
        )
        return P.sessionize(events, gap_minutes=30, flush_on_timeout=True)

    result = P.run_to_completion(
        build, "stream_sessions_flush", "append", shuffle_partitions=16,
        spark=spark,
    )
    return result.select(
        "user_id",
        F.unix_micros("session_start").alias("session_start_us"),
        F.unix_micros("session_end").alias("session_end_us"),
        "n_events",
    ).orderBy("user_id", "session_start_us")


@register(
    "streaming_click_purchase_join",
    """
    SELECT p.event_id AS purchase_id,
           c.event_id AS click_id,
           p.user_id,
           epoch_us(p.ts) - epoch_us(c.ts) AS gap_us
    FROM (SELECT * FROM events WHERE event_type = 'purchase'
                                 AND user_id IS NOT NULL) p
    JOIN (SELECT * FROM events WHERE event_type = 'click'
                                 AND user_id IS NOT NULL) c
      ON c.user_id = p.user_id
     AND c.ts >= p.ts - INTERVAL 30 MINUTE
     AND c.ts <= p.ts
    ORDER BY 1, 2
    """,
    doc="watermarked stream-stream interval join: each purchase inner-"
    "joined to the same user's clicks in the preceding 30 minutes.  Both "
    "sides carry event-time watermarks and the join condition bounds "
    "click_ts to a purchase-relative range, so Spark buffers only a "
    "watermark-deep window of each stream instead of unbounded state — "
    "the contract that makes stream-stream joins feasible in production.",
    memoize=False,
)
def q_streaming_click_purchase_join(spark: SparkSession, sf_dir: str) -> DataFrame:
  def build(s: SparkSession) -> DataFrame:
    purchases = (
        _event_stream(s, sf_dir)
        .filter((F.col("event_type") == "purchase") & F.col("user_id").isNotNull())
        .select(
            F.col("event_id").alias("purchase_id"),
            F.col("user_id").alias("p_user"),
            F.col("ts").alias("p_ts"),
        )
        .withWatermark("p_ts", "10 minutes")
    )
    clicks = (
        _event_stream(s, sf_dir)
        .filter((F.col("event_type") == "click") & F.col("user_id").isNotNull())
        .select(
            F.col("event_id").alias("click_id"),
            F.col("user_id").alias("c_user"),
            F.col("ts").alias("c_ts"),
        )
        .withWatermark("c_ts", "10 minutes")
    )
    return purchases.join(
        clicks,
        F.expr(
            """
            c_user = p_user AND
            c_ts >= p_ts - INTERVAL 30 MINUTES AND
            c_ts <= p_ts
            """
        ),
    )

  # inner join: pairs emit on match arrival; the no-data batch only
  # evicts state and emits nothing — elided (the OUTER variants below
  # keep it: their null rows ARE watermark-gated).
  result = P.run_to_completion(
      build, "stream_click_purchase", "append", shuffle_partitions=4,
      spark=spark, no_data_batch=False,
  )
  return result.select(
        "purchase_id",
        "click_id",
        F.col("p_user").alias("user_id"),
        (F.unix_micros("p_ts") - F.unix_micros("c_ts")).alias("gap_us"),
    ).orderBy("purchase_id", "click_id")


@register(
    "streaming_left_outer_join",
    """
    WITH p AS (SELECT event_id AS purchase_id, user_id, ts FROM events
               WHERE event_type = 'purchase' AND user_id IS NOT NULL),
    c AS (SELECT event_id AS click_id, user_id, ts FROM events
          WHERE event_type = 'click' AND user_id IS NOT NULL),
    -- final global watermark: per-side max event time FLOORS to ms, the
    -- join takes the min of both sides, delay 10 min (ms domain)
    wm AS (SELECT LEAST((SELECT epoch_us(MAX(ts)) // 1000 FROM p),
                        (SELECT epoch_us(MAX(ts)) // 1000 FROM c))
                  - 600000 AS wm_ms),
    m AS (
        SELECT p.purchase_id, c.click_id, p.user_id,
               epoch_us(p.ts) - epoch_us(c.ts) AS gap_us
        FROM p JOIN c
          ON c.user_id = p.user_id
         AND c.ts >= p.ts - INTERVAL 30 MINUTE
         AND c.ts <= p.ts
    ),
    um AS (
        -- null emission on state expiry: the purchase's event time,
        -- CEILED to ms, must be strictly below the final watermark
        -- (pinned by tests/test_streaming.py on ±1µs boundary rows)
        SELECT p.purchase_id, CAST(NULL AS BIGINT) AS click_id, p.user_id,
               CAST(NULL AS BIGINT) AS gap_us
        FROM p, wm
        WHERE NOT EXISTS (SELECT 1 FROM m WHERE m.purchase_id = p.purchase_id)
          AND (epoch_us(p.ts) + 999) // 1000 < wm.wm_ms
    )
    SELECT * FROM m
    UNION ALL SELECT * FROM um
    ORDER BY purchase_id, click_id
    """,
    doc="watermarked stream-stream LEFT OUTER interval join: matched "
    "purchase-click pairs emit immediately (same plan as the inner "
    "join), and a purchase with NO click in its preceding 30 minutes "
    "emits one null-extended row — but only once the global watermark "
    "(min of both sides' event-time maxima, minus the 10-minute delay) "
    "passes its state-expiry point, the guarantee that no future click "
    "can still match.  That expiry boundary is the part no batch engine "
    "has to think about: the oracle models Spark's exact ms-domain "
    "semantics — per-side max FLOORS to ms, the purchase's event time "
    "CEILS to ms, strict < — pinned by a ±1µs boundary fixture in "
    "tests/test_streaming.py.  Purchases younger than the final "
    "watermark stay in state (a real deployment would emit them as the "
    "stream advances); bounded state is what makes outer stream joins "
    "production-feasible.",
    memoize=False,
)
def q_streaming_left_outer_join(spark: SparkSession, sf_dir: str) -> DataFrame:
  def build(s: SparkSession) -> DataFrame:
    purchases = (
        _event_stream(s, sf_dir)
        .filter((F.col("event_type") == "purchase") & F.col("user_id").isNotNull())
        .select(
            F.col("event_id").alias("purchase_id"),
            F.col("user_id").alias("p_user"),
            F.col("ts").alias("p_ts"),
        )
        .withWatermark("p_ts", "10 minutes")
    )
    clicks = (
        _event_stream(s, sf_dir)
        .filter((F.col("event_type") == "click") & F.col("user_id").isNotNull())
        .select(
            F.col("event_id").alias("click_id"),
            F.col("user_id").alias("c_user"),
            F.col("ts").alias("c_ts"),
        )
        .withWatermark("c_ts", "10 minutes")
    )
    return purchases.join(
        clicks,
        F.expr(
            """
            c_user = p_user AND
            c_ts >= p_ts - INTERVAL 30 MINUTES AND
            c_ts <= p_ts
            """
        ),
        "leftOuter",
    )

  result = P.run_to_completion(
      build, "stream_left_outer", "append", shuffle_partitions=4,
      spark=spark,
  )
  return result.select(
        "purchase_id",
        "click_id",
        F.col("p_user").alias("user_id"),
        (F.unix_micros("p_ts") - F.unix_micros("c_ts")).alias("gap_us"),
    ).orderBy("purchase_id", "click_id")


@register(
    "streaming_enriched_counts",
    """
    SELECT epoch_us(time_bucket(INTERVAL '1 day', e.ts)) AS window_start_us,
           c.c_mktsegment AS segment,
           CAST(COUNT(*) AS BIGINT) AS events,
           ROUND(CAST(SUM(CAST(ROUND(COALESCE(e.value, 0) * 1000000)
                                AS BIGINT)) AS BIGINT) / 1000000.0, 2)
               AS revenue
    FROM events e
    JOIN customer c ON e.user_id = c.c_custkey
    WHERE e.user_id IS NOT NULL
    GROUP BY 1, 2
    ORDER BY 1, 2
    """,
    doc="Stream-static enrichment join — the most common production "
    "streaming shape: the event stream broadcast-joins a static customer "
    "dimension (per micro-batch, no state needed for the static side), "
    "then daily tumbling-window counts + exact fixed-point revenue per "
    "market segment.  The revenue stays a LONG sum inside the streaming "
    "aggregate (order-independent across micro-batches) and is only "
    "scaled/rounded AFTER the drain, so arrival order can't move the "
    "result.  At scale the dim side refreshes per batch from the table "
    "source; the stream side shuffles once on the window+segment key.",
    memoize=False,
)
def q_streaming_enriched_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    def build(s: SparkSession) -> DataFrame:
        events = _event_stream(s, sf_dir).filter(F.col("user_id").isNotNull())
        cust = s.read.parquet(f"{sf_dir}/customer.parquet").select(
            "c_custkey", F.col("c_mktsegment").alias("segment")
        )
        rev_fixed = F.round(
            F.coalesce(F.col("value"), F.lit(0.0)) * F.lit(1000000)
        ).cast("long")
        return (
            events.withWatermark("ts", "10 minutes")
            .join(F.broadcast(cust), events["user_id"] == cust["c_custkey"])
            .groupBy(F.window("ts", "1 day").alias("w"), F.col("segment"))
            .agg(
                F.count(F.lit(1)).alias("events"),
                F.sum(rev_fixed).alias("rev_f"),
            )
        )

    # complete-mode agg — no-data batch re-emits the identical table,
    # elided.
    result = P.run_to_completion(
        build, "stream_enriched_counts", "complete", shuffle_partitions=4,
        spark=spark, no_data_batch=False,
    )
    return result.select(
        F.unix_micros(F.col("w.start")).alias("window_start_us"),
        "segment",
        "events",
        F.round(F.col("rev_f") / F.lit(1000000.0), 2).alias("revenue"),
    ).orderBy("window_start_us", "segment")


def _doubled_event_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """File-source stream that delivers EVERY event twice: the staging dir
    symlinks the same events.parquet under two names, so the source reads
    two files and each event_id arrives as a genuine duplicate — the
    at-least-once delivery a dedup stage exists to absorb."""
    from pathlib import Path

    stage = Path("/tmp/spark_graft_stream_dup") / Path(sf_dir).name
    stage.mkdir(parents=True, exist_ok=True)
    for name in ("events_a.parquet", "events_b.parquet"):
        _link_events(stage / name, sf_dir)

    schema, mode = _events_read_schema(sf_dir)
    if mode == "nanos_long":
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    raw = (
        spark.readStream.schema(schema)
        # one file per micro-batch: the duplicate pairs land in DIFFERENT
        # batches, so the dedup state genuinely carries across batches
        .option("maxFilesPerTrigger", "1")
        .parquet(str(stage))
    )
    if mode == "nanos_long":
        return raw.withColumn("ts", F.timestamp_micros(F.expr("ts DIV 1000")))
    if mode == "ntz":
        return raw.withColumn("ts", F.col("ts").cast("timestamp"))
    return raw


@register(
    "streaming_dedup_counts",
    """
    SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_events
    FROM events
    GROUP BY 1 ORDER BY 1
    """,
    doc="Streaming exact dedup under at-least-once delivery: the source "
    "replays the whole event file TWICE in separate micro-batches, and "
    "dropDuplicatesWithinWatermark(event_id) absorbs the replay — the "
    "state store holds only a watermark-deep window of ids, the bound "
    "that makes streaming dedup feasible in production.  The oracle is "
    "the plain batch count over the SINGLE copy: if any duplicate "
    "leaked past the dedup (or any original was wrongly dropped) the "
    "counts hash-mismatch.",
    memoize=False,
)
def q_streaming_dedup_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
  def build(s: SparkSession) -> DataFrame:
    events = (
        _doubled_event_stream(s, sf_dir)
        # the full file replays in a later batch: allow the duplicate's
        # event time to be arbitrarily 'late' relative to the watermark
        # already advanced by batch 1 — a huge delay keeps every replayed
        # id inside the dedup state for this bounded drain
        .withWatermark("ts", "365 days")
        .dropDuplicatesWithinWatermark(["event_id"])
    )
    return events.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_events")
    )

  # dedup decides on arrival and the 365-day watermark never evicts in
  # this drain; complete-mode sink — the no-data batch is a no-op, elided.
  result = P.run_to_completion(
      build, "stream_dedup_counts", "complete", shuffle_partitions=4,
      spark=spark, no_data_batch=False,
  )
  return result.orderBy("event_type")


# ---------------------------------------------------------------------------
# Streaming EMA: the batch recurrence replayed with cross-batch state
# ---------------------------------------------------------------------------


from data_engineering_etl_demo_spark.plans.timeseries import SQL_VALUE_EMA


@register(
    "streaming_value_ema",
    SQL_VALUE_EMA,
    doc="Per-user EMA as a REAL streaming job: applyInPandasWithState "
    "carries (ema, n) across micro-batches and each batch folds its "
    "event-time-ordered rows on top of the inherited state "
    "(streaming/pipeline.value_ema).  The oracle is the identical batch "
    "recurrence (events_value_ema's SQL) — stream result == batch "
    "result, the replayability contract a lakehouse pipeline needs.  "
    "The fixed-point v6 terms are computed Spark-side before the kernel "
    "so rounding matches the batch query bit-for-bit; per-batch "
    "cumulative emissions are resolved to each user's final state with "
    "one max_by.  State = four LONGs per user (bounded by key "
    "cardinality); tests drain it multi-batch via maxFilesPerTrigger.",
    memoize=False,
)
def q_streaming_value_ema(spark: SparkSession, sf_dir: str) -> DataFrame:
    def build(s: SparkSession) -> DataFrame:
        ev = (
            _event_stream(s, sf_dir)
            .filter(F.col("user_id").isNotNull() & F.col("value").isNotNull())
            .select(
                "user_id",
                "ts",
                "event_id",
                F.round(F.col("value") * 1_000_000).cast("long").alias("v6"),
            )
        )
        return P.value_ema(ev)

    # deterministic per-sf name (str hash is PYTHONHASHSEED-salted and
    # collision-prone mod a small space)
    # NoTimeout fold, no watermark: every emission rides an input batch;
    # the no-data batch is a no-op, elided.
    out = P.run_to_completion(
        build,
        query_name=_drain_name("ema", sf_dir),
        shuffle_partitions=16,
        spark=spark,
        no_data_batch=False,
    )
    return (
        out.groupBy("user_id")
        .agg(
            F.max("n_events").cast("long").alias("n_events"),
            F.max_by("ema_e6", "n_events").cast("long").alias("ema_e6"),
        )
        .orderBy("user_id")
    )


# ---------------------------------------------------------------------------
# Out-of-order streaming EMA: watermark-buffered fold over a shuffled feed
# ---------------------------------------------------------------------------

_OOO_SHIFT_US = 3 * 3600 * 1_000_000  # disorder window (< the 6-h watermark)
_OOO_DELAY_MS = 21_600_000  # the stream's 6-hour watermark delay, in ms


def _ooo_staged_dir(spark: SparkSession, sf_dir: str) -> str:
    """Stage the events table as THREE time-sliced parquet files where a
    deterministic md5-picked half of the rows in the 3 hours below each
    slice boundary are MOVED to the next file — so each later batch
    delivers rows that predate the previous batch's maximum event time
    (genuine cross-batch disorder), while every row's lateness stays
    under the 6-hour watermark delay (nothing is dropped; the window is
    sized for the testdata's ~43-minute sparsest event spacing).  Built once
    per sf_dir; files get increasing mtimes so the file source replays
    them in slice order."""
    import os
    import shutil
    from pathlib import Path

    from data_engineering_etl_demo_spark.catalog import load

    import hashlib

    # cache key = full path + source file size/mtime: regenerated testdata
    # or a different tree with the same basename must NOT replay stale
    # staged slices against a fresh oracle read
    src = Path(sf_dir) / "events.parquet"
    st = src.stat()
    fp = hashlib.md5(
        f"{src.resolve()}|{st.st_size}|{st.st_mtime_ns}".encode()
    ).hexdigest()[:12]
    stage = Path("/tmp/spark_graft_stream_ooo") / f"{Path(sf_dir).name}-{fp}"
    done = stage / "_built"
    if done.exists():
        return str(stage)
    # Build into a UNIQUE scratch dir and atomically rename it into the
    # fingerprinted path: two processes staging the same sf_dir can no
    # longer interleave half-built slice files (ADVICE r5); whichever
    # rename lands first wins and the loser discards its build.
    import uuid

    build = stage.parent / f".build-{stage.name}-{uuid.uuid4().hex}"
    build.mkdir(parents=True, exist_ok=True)
    ev = load(spark, sf_dir, "events")
    lo, hi = ev.agg(
        F.min(F.unix_micros("ts")), F.max(F.unix_micros("ts"))
    ).first()
    b1 = lo + (hi - lo) // 3
    b2 = lo + 2 * (hi - lo) // 3
    e = F.unix_micros("ts")
    in_window = (
        ((e >= b1 - _OOO_SHIFT_US) & (e < b1))
        | ((e >= b2 - _OOO_SHIFT_US) & (e < b2))
    )
    pick = md5_stream("ooo:", F.col("event_id")) % 2 == 0
    base = F.when(e < b1, 0).when(e < b2, 1).otherwise(2)
    fidx = base + (in_window & pick).cast("int")
    tagged = ev.withColumn("_f", fidx)
    for k in range(3):
        tmp = build / f"_tmp{k}"
        tagged.filter(F.col("_f") == k).drop("_f").coalesce(1).write.mode(
            "overwrite"
        ).parquet(str(tmp))
        part = next(p for p in tmp.iterdir() if p.name.endswith(".parquet"))
        dst = build / f"f{k}.parquet"
        os.replace(part, dst)
        os.utime(dst, (k, k))  # file source replays in mtime order
        shutil.rmtree(tmp, ignore_errors=True)
    (build / "_built").touch()
    try:
        os.rename(build, stage)  # atomic publish (rename preserves mtimes)
    except OSError:
        # another builder won the rename race; its fully-built dir stands
        shutil.rmtree(build, ignore_errors=True)
        if not done.exists():
            raise
    return str(stage)


@register(
    "streaming_value_ema_ooo",
    f"""
    WITH e AS (
        SELECT user_id, ts, event_id,
               CAST(ROUND(value * 1000000) AS BIGINT) AS v6
        FROM events
        WHERE user_id IS NOT NULL AND value IS NOT NULL
    ),
    wm AS (
        SELECT ((epoch_us(MAX(ts)) // 1000) - {_OOO_DELAY_MS}) * 1000
            AS w_us
        FROM e
    ),
    seq AS (
        SELECT user_id,
               list(v6 ORDER BY epoch_us(ts), event_id) AS vals
        FROM e
        WHERE epoch_us(ts) <= (SELECT w_us FROM wm)
        GROUP BY user_id
    )
    SELECT user_id,
           CAST(len(vals) AS BIGINT) AS n_events,
           CAST(list_reduce(vals, (acc, x) -> (2*x + 8*acc) // 10)
                AS BIGINT) AS ema_e6
    FROM seq
    ORDER BY user_id
    """,
    doc="The EMA recurrence under OUT-OF-ORDER delivery (the one streaming "
    "property the in-order variant enforces away): the source replays "
    "three time slices of the events table with a deterministic half of "
    "each 3-hour slice-boundary window delayed into the NEXT micro-"
    "batch, so "
    "later batches deliver rows that predate earlier batches' max event "
    "time.  value_ema_ooo buffers rows in state and folds only the "
    "≤-watermark prefix in (ts, event_id) order — EventTimeTimeout "
    "drains the buffer as the watermark advances — so the shuffled feed "
    "produces the SAME fold as the ordered batch recurrence.  The "
    "oracle is that batch fold with the final-watermark cutoff applied "
    "(rows in the last 6 hours stay buffered, exactly as a live "
    "stream would hold them).  State per key = (ema, n) + a "
    "delay-bounded buffer, the standard watermarked-operator bound.",
    memoize=False,
)
def q_streaming_value_ema_ooo(spark: SparkSession, sf_dir: str) -> DataFrame:
    stage = _ooo_staged_dir(spark, sf_dir)

    def build(s: SparkSession) -> DataFrame:
        raw = (
            s.readStream.schema(_schema_with_ts(T.TimestampType()))
            # one slice per micro-batch: the delayed rows genuinely arrive
            # in a later batch than newer rows, exercising the state buffer
            .option("maxFilesPerTrigger", "1")
            .parquet(stage)
        )
        ev = (
            raw.filter(
                F.col("user_id").isNotNull() & F.col("value").isNotNull()
            )
            .select(
                "user_id",
                "ts",
                "event_id",
                F.round(F.col("value") * 1_000_000).cast("long").alias("v6"),
            )
            .withWatermark("ts", "6 hours")
        )
        return P.value_ema_ooo(ev)

    out = P.run_to_completion(
        build,
        query_name=_drain_name("ema_ooo", sf_dir),
        shuffle_partitions=16,
        spark=spark,
    )
    return (
        out.groupBy("user_id")
        .agg(
            F.max("n_events").cast("long").alias("n_events"),
            F.max_by("ema_e6", "n_events").cast("long").alias("ema_e6"),
        )
        .orderBy("user_id")
    )


# ---------------------------------------------------------------------------
# Streaming KMV distinct sketch: order-insensitive mergeable state
# ---------------------------------------------------------------------------


from data_engineering_etl_demo_spark.operators import sketches as K

_KMV_SRC = (
    "(SELECT event_type, user_id FROM events WHERE user_id IS NOT NULL)"
)


@register(
    "streaming_kmv_distinct",
    f"""
    SELECT event_type, kmv_users
    FROM ({K.sql_kmv_distinct(_KMV_SRC, "event_type", K.sql_hash60("user_id"))})
    ORDER BY 1
    """,
    doc="Distinct-user KMV sketch computed AS A STREAM: per event_type, "
    "applyInPandasWithState carries the k=64 smallest distinct md5-60 "
    "hashes across micro-batches (streaming/pipeline.kmv_sketch) — "
    "bounded mergeable state, the streaming-sketch contract: O(k) LONGs "
    "per key forever, an estimate after every batch, and an answer "
    "that is invariant to arrival order, so the feed is deliberately "
    "the OUT-OF-ORDER 3-slice staging the EMA-ooo query needs watermark "
    "machinery for — a min-set monoid needs none.  The oracle is the "
    "batch KMV SQL (operators/sketches.sql_kmv_distinct) and the final "
    "estimate is applied by the SAME shared Catalyst expression "
    "(sketches.kmv_estimate), so stream == batch bit-for-bit.  At "
    "100 TB this is how distinct-cardinality dashboards actually run: "
    "per-partition partial sketches merged per key, never a "
    "countDistinct re-scan.",
    memoize=False,
)
def q_streaming_kmv_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    stage = _ooo_staged_dir(spark, sf_dir)

    def build(s: SparkSession) -> DataFrame:
        raw = (
            s.readStream.schema(_schema_with_ts(T.TimestampType()))
            # one slice per micro-batch: the sketch state genuinely merges
            # across three batches (and absorbs the staged disorder)
            .option("maxFilesPerTrigger", "1")
            .parquet(stage)
        )
        hashed = raw.filter(F.col("user_id").isNotNull()).select(
            "event_type", K.hash60(F.col("user_id")).alias("h")
        )
        return P.kmv_sketch(hashed)

    # order-insensitive min-set monoid, NoTimeout, no watermark — the
    # no-data batch is a no-op, elided.
    out = P.run_to_completion(
        build,
        query_name=_drain_name("kmv", sf_dir),
        shuffle_partitions=4,
        spark=spark,
        no_data_batch=False,
    )
    last = out.groupBy("event_type").agg(
        F.max_by("kth_hash", "n_seen").alias("_hk"),
        F.max_by("n_mins", "n_seen").alias("_nh"),
    )
    return last.select(
        "event_type",
        K.kmv_estimate(F.col("_hk"), F.col("_nh")).alias("kmv_users"),
    ).orderBy("event_type")


# ---------------------------------------------------------------------------
# Streaming exact top-k by value: bounded selection state
# ---------------------------------------------------------------------------


@register(
    "streaming_topk_values",
    f"""
    SELECT event_type, rank, event_id, v6
    FROM (
        SELECT event_type, event_id,
               CAST(ROUND(value * 1000000) AS BIGINT) AS v6,
               ROW_NUMBER() OVER (
                   PARTITION BY event_type
                   ORDER BY CAST(ROUND(value * 1000000) AS BIGINT) DESC,
                            event_id
               ) AS rank
        FROM events WHERE value IS NOT NULL
    )
    WHERE rank <= {P.TOPK_K}
    ORDER BY event_type, rank
    """,
    doc="EXACT top-k-by-value leaderboard computed AS A STREAM: per "
    "event_type, applyInPandasWithState carries the 5 best (v6, "
    "event_id) pairs across micro-batches (streaming/pipeline."
    "topk_values) — the third streaming-state shape in the suite: "
    "selection under a total order is a commutative idempotent monoid "
    "like KMV's min-set (order-invariant, no watermark needed — the "
    "feed is deliberately the out-of-order staged slices), but EXACT "
    "like the EMA rather than an estimate.  v6 is the same "
    "ROUND(value*1e6) LONG every batch query uses and ties break on "
    "event_id, so the DuckDB oracle is a plain window top-k over "
    "identical integers — stream == batch bit-for-bit.  State: 2k+1 "
    "LONGs per key forever.  At 100 TB this is the always-on "
    "leaderboard pattern: per-partition candidate top-k merges into "
    "per-key state, the full event history is never rescanned.",
    memoize=False,
)
def q_streaming_topk_values(spark: SparkSession, sf_dir: str) -> DataFrame:
    stage = _ooo_staged_dir(spark, sf_dir)

    def build(s: SparkSession) -> DataFrame:
        raw = (
            s.readStream.schema(_schema_with_ts(T.TimestampType()))
            # one slice per micro-batch: the selection state genuinely
            # merges across three batches (and absorbs the disorder)
            .option("maxFilesPerTrigger", "1")
            .parquet(stage)
        )
        scored = raw.filter(F.col("value").isNotNull()).select(
            "event_type",
            F.round(F.col("value") * 1_000_000).cast("long").alias("v6"),
            "event_id",
        )
        return P.topk_values(scored)

    # selection monoid, NoTimeout, no watermark — the no-data batch is a
    # no-op, elided.
    out = P.run_to_completion(
        build,
        query_name=_drain_name("topk", sf_dir),
        shuffle_partitions=4,
        spark=spark,
        no_data_batch=False,
    )
    last = out.groupBy("event_type").agg(
        F.max_by("top_v6", "n_seen").alias("_vs"),
        F.max_by("top_ids", "n_seen").alias("_ids"),
    )
    return (
        last.select(
            "event_type",
            F.posexplode(F.arrays_zip(F.col("_vs"), F.col("_ids"))).alias(
                "pos", "pair"
            ),
        )
        .select(
            "event_type",
            (F.col("pos") + 1).cast("int").alias("rank"),
            F.col("pair").getField("_ids").alias("event_id"),
            F.col("pair").getField("_vs").alias("v6"),
        )
        .orderBy("event_type", "rank")
    )


@register(
    "streaming_full_outer_join",
    """
    WITH p AS (SELECT event_id AS purchase_id, user_id, ts FROM events
               WHERE event_type = 'purchase' AND user_id IS NOT NULL),
    c AS (SELECT event_id AS click_id, user_id, ts FROM events
          WHERE event_type = 'click' AND user_id IS NOT NULL),
    wm AS (SELECT LEAST((SELECT epoch_us(MAX(ts)) // 1000 FROM p),
                        (SELECT epoch_us(MAX(ts)) // 1000 FROM c))
                  - 600000 AS wm_ms),
    m AS (
        SELECT p.purchase_id, c.click_id, p.user_id,
               epoch_us(p.ts) - epoch_us(c.ts) AS gap_us
        FROM p JOIN c
          ON c.user_id = p.user_id
         AND c.ts >= p.ts - INTERVAL 30 MINUTE
         AND c.ts <= p.ts
    ),
    um AS (
        SELECT p.purchase_id, CAST(NULL AS BIGINT) AS click_id, p.user_id,
               CAST(NULL AS BIGINT) AS gap_us
        FROM p, wm
        WHERE NOT EXISTS (SELECT 1 FROM m WHERE m.purchase_id = p.purchase_id)
          AND (epoch_us(p.ts) + 999) // 1000 < wm.wm_ms
    ),
    uc AS (
        -- click-side expiry: its latest matchable purchase is c_ts+30min,
        -- so the click's CEILED event time must clear wm - 30min, strict
        -- (probed on ±1ms/±1µs rows: cutoff-1ms emits, cutoff-1µs and
        -- cutoff do not — tests/test_streaming.py)
        SELECT CAST(NULL AS BIGINT) AS purchase_id, c.click_id, c.user_id,
               CAST(NULL AS BIGINT) AS gap_us
        FROM c, wm
        WHERE NOT EXISTS (SELECT 1 FROM m WHERE m.click_id = c.click_id)
          AND (epoch_us(c.ts) + 999) // 1000 < wm.wm_ms - 1800000
    )
    SELECT * FROM m
    UNION ALL SELECT * FROM um
    UNION ALL SELECT * FROM uc
    ORDER BY purchase_id, click_id
    """,
    doc="watermarked stream-stream FULL OUTER interval join — both "
    "unmatched sides null-emit on state expiry, each under its OWN "
    "ms-domain rule: a purchase expires when ceil_ms(p_ts) < wm (no "
    "earlier-or-equal click can still arrive), a click when "
    "ceil_ms(c_ts) < wm - 30min (its latest matchable purchase, "
    "c_ts+30min, is now below the watermark) — the second boundary "
    "probed and pinned the same way the LEFT OUTER's was "
    "(tests/test_streaming.py ±1ms/±1µs fixture).  Matched pairs emit "
    "immediately; rows younger than their expiry stay in state exactly "
    "as a live deployment would hold them.  Per-side interval-bounded "
    "state is what makes full outer joins production-feasible on "
    "unbounded streams.",
    memoize=False,
)
def q_streaming_full_outer_join(spark: SparkSession, sf_dir: str) -> DataFrame:
  def build(s: SparkSession) -> DataFrame:
    purchases = (
        _event_stream(s, sf_dir)
        .filter((F.col("event_type") == "purchase") & F.col("user_id").isNotNull())
        .select(
            F.col("event_id").alias("purchase_id"),
            F.col("user_id").alias("p_user"),
            F.col("ts").alias("p_ts"),
        )
        .withWatermark("p_ts", "10 minutes")
    )
    clicks = (
        _event_stream(s, sf_dir)
        .filter((F.col("event_type") == "click") & F.col("user_id").isNotNull())
        .select(
            F.col("event_id").alias("click_id"),
            F.col("user_id").alias("c_user"),
            F.col("ts").alias("c_ts"),
        )
        .withWatermark("c_ts", "10 minutes")
    )
    return purchases.join(
        clicks,
        F.expr(
            """
            c_user = p_user AND
            c_ts >= p_ts - INTERVAL 30 MINUTES AND
            c_ts <= p_ts
            """
        ),
        "fullOuter",
    )

  result = P.run_to_completion(
      build, "stream_full_outer", "append", shuffle_partitions=4,
      spark=spark,
  )
  return result.select(
        "purchase_id",
        "click_id",
        F.coalesce(F.col("p_user"), F.col("c_user")).alias("user_id"),
        (F.unix_micros("p_ts") - F.unix_micros("c_ts")).alias("gap_us"),
    ).orderBy("purchase_id", "click_id")


# ---------------------------------------------------------------------------
# Disorder profile of the staged OOO feed: the data that picks the delay
# ---------------------------------------------------------------------------

from data_engineering_etl_demo_spark.functions.hashing import (  # noqa: E402
    sql_md5_stream as _sql_md5_stream,
)


@register(
    "events_disorder_profile",
    f"""
    WITH ev AS (
        SELECT event_id, user_id, epoch_us(ts) AS t
        FROM events WHERE user_id IS NOT NULL
    ),
    b AS (SELECT min(t) AS lo, max(t) AS hi FROM ev),
    f AS (
        SELECT ev.user_id, ev.event_id, ev.t,
               (CASE WHEN t < lo + (hi - lo) // 3 THEN 0
                     WHEN t < lo + 2 * (hi - lo) // 3 THEN 1
                     ELSE 2 END)
               + (CASE WHEN ((t >= lo + (hi - lo) // 3 - {_OOO_SHIFT_US}
                              AND t < lo + (hi - lo) // 3)
                          OR (t >= lo + 2 * (hi - lo) // 3 - {_OOO_SHIFT_US}
                              AND t < lo + 2 * (hi - lo) // 3))
                         AND {_sql_md5_stream("'ooo:' || CAST(event_id AS VARCHAR)")}
                             % 2 = 0
                     THEN 1 ELSE 0 END) AS fidx
        FROM ev, b
    ),
    seq AS (
        SELECT user_id, t,
               max(t) OVER (
                   PARTITION BY user_id ORDER BY fidx, event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
               ) AS runmax
        FROM f
    ),
    lateness AS (
        SELECT CASE WHEN runmax IS NULL OR runmax <= t THEN 0
                    ELSE (runmax - t) // 1000000 END AS late_s
        FROM seq
    )
    SELECT CASE WHEN late_s = 0 THEN -1
                ELSE CAST(floor(log2(late_s + 1)) AS BIGINT) END AS bucket_pow2,
           CAST(count(*) AS BIGINT) AS n_events,
           CAST(max(late_s) AS BIGINT) AS max_late_s
    FROM lateness
    GROUP BY 1
    ORDER BY 1
    """,
    doc="Event-time DISORDER profile of the staged out-of-order feed — "
    "the analysis that justifies a watermark delay before deploying "
    "the streaming jobs: per user, each row's lateness is how far its "
    "event time sits behind the running max of earlier-ARRIVING rows "
    "(arrival = slice index, then event_id — exactly the staged "
    "source's replay order), bucketed into power-of-two seconds "
    "(-1 = in-order).  Read the top bucket against the delay: the "
    "planted 3-hour shifts land in buckets ≤ log2(10800), all inside "
    "streaming_value_ema_ooo's 6-hour watermark — and anything above "
    "would be what that watermark drops.  The oracle re-derives the "
    "slice assignment (tercile boundaries + md5 pick) rather than "
    "reading the staged files, so it independently checks the stager "
    "too.  Plan: one running-max window on the user key into a "
    "≤40-bucket census — events_inter_arrival's single-shuffle shape.",
)
def q_events_disorder_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    from data_engineering_etl_demo_spark.catalog import load

    ev = (
        load(spark, sf_dir, "events")
        .filter(F.col("user_id").isNotNull())
        .select("event_id", "user_id", F.unix_micros("ts").alias("t"))
    )
    lo, hi = ev.agg(F.min("t"), F.max("t")).first()
    b1 = lo + (hi - lo) // 3
    b2 = lo + 2 * (hi - lo) // 3
    t = F.col("t")
    in_window = ((t >= b1 - _OOO_SHIFT_US) & (t < b1)) | (
        (t >= b2 - _OOO_SHIFT_US) & (t < b2)
    )
    pick = md5_stream("ooo:", F.col("event_id")) % 2 == 0
    base = F.when(t < b1, 0).when(t < b2, 1).otherwise(2)
    f = ev.withColumn("fidx", base + (in_window & pick).cast("int"))
    w = (
        Window.partitionBy("user_id")
        .orderBy("fidx", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    seq = f.select("t", F.max("t").over(w).alias("runmax"))
    late = seq.select(
        F.when(
            F.col("runmax").isNull() | (F.col("runmax") <= F.col("t")),
            F.lit(0),
        )
        .otherwise(F.expr("(runmax - t) DIV 1000000"))
        .alias("late_s")
    )
    bucket = (
        F.when(F.col("late_s") == 0, F.lit(-1))
        .otherwise(F.floor(F.log2(F.col("late_s") + 1)))
        .cast("long")
    )
    return (
        late.groupBy(bucket.alias("bucket_pow2"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_events"),
            F.max("late_s").cast("long").alias("max_late_s"),
        )
        .orderBy("bucket_pow2")
    )
