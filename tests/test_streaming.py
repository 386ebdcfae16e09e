"""Structured-Streaming pipeline tests: dedup-within-watermark,
foreachBatch MERGE idempotency, and stateful sessionization.
(Oracle parity for the registered streaming queries runs in
test_oracle_parity.)"""

from __future__ import annotations

import json
from datetime import datetime, timedelta

import pytest

from data_engineering_etl_demo_spark.streaming import pipeline as P

T0 = datetime(2024, 1, 1, 8, 0, 0)


def _write_batch(dirpath, name, rows):
    dirpath.mkdir(parents=True, exist_ok=True)
    with open(dirpath / name, "w") as f:
        for r in rows:
            f.write(json.dumps(r) + "\n")


def _ev(eid, minutes, user="u1", event="pageview", amount=None):
    return {
        "event_id": eid,
        "ts": (T0 + timedelta(minutes=minutes)).strftime("%Y-%m-%dT%H:%M:%S"),
        "user_id": user,
        "event": event,
        "amount": amount,
    }


def test_dedup_within_watermark_drops_retransmits(spark, tmp_path):
    src = tmp_path / "src"
    _write_batch(
        src,
        "b1.jsonl",
        [_ev("e1", 0), _ev("e1", 0), _ev("e2", 1), _ev("e2", 1), _ev("e3", 2)],
    )
    stream = P.read_event_stream(spark, str(src))
    out = P.run_to_completion(P.dedup_within_watermark(stream), "t_dedup")
    assert sorted(r["event_id"] for r in out.collect()) == ["e1", "e2", "e3"]


def test_foreach_batch_merge_is_idempotent_upsert(spark, tmp_path):
    src = tmp_path / "src"
    wh = str(tmp_path / "fact_events")
    _write_batch(src, "b1.jsonl", [_ev("e1", 0, amount=10.0), _ev("e2", 1, amount=5.0)])
    _write_batch(
        src, "b2.jsonl", [_ev("e1", 30, amount=20.0), _ev("e3", 31, amount=7.0)]
    )

    def run():
        stream = P.read_event_stream(spark, str(src))
        q = (
            stream.writeStream.foreachBatch(P.foreach_batch_merge(wh))
            .option("checkpointLocation", str(tmp_path / f"ckpt{run.i}"))
            .trigger(availableNow=True)
            .start()
        )
        run.i += 1
        q.awaitTermination()

    run.i = 0
    run()
    rows = {r["event_id"]: r for r in spark.read.parquet(wh).collect()}
    assert set(rows) == {"e1", "e2", "e3"}
    assert rows["e1"]["amount"] == 20.0  # later ts wins (last-writer-wins MERGE)

    # Fresh checkpoint → every batch replays: the merge must converge, not
    # duplicate (the reference's "safe to run multiple times" contract).
    run()
    rows2 = {r["event_id"]: r for r in spark.read.parquet(wh).collect()}
    assert {k: (v["ts"], v["amount"]) for k, v in rows2.items()} == {
        k: (v["ts"], v["amount"]) for k, v in rows.items()
    }


def test_foreach_batch_merge_recovers_from_crashed_swap(spark, tmp_path):
    """The rename-swap is two renames, not atomic.  Simulate both crash
    states the recovery block must handle:

    1. crash BETWEEN the renames: table stranded in .old, no live dir —
       the retried batch must restore .old and merge against full history
       (not silently rebuild from only the current batch);
    2. crash AFTER the second rename: stale .old next to a live dir —
       the next batch must clear it (os.rename into a non-empty dir would
       raise ENOTEMPTY)."""
    import os
    import shutil

    src = tmp_path / "src"
    wh = str(tmp_path / "fact_events")
    _write_batch(src, "b1.jsonl", [_ev("e1", 0, amount=10.0), _ev("e2", 1, amount=5.0)])

    def run(i):
        stream = P.read_event_stream(spark, str(src))
        q = (
            stream.writeStream.foreachBatch(P.foreach_batch_merge(wh))
            .option("checkpointLocation", str(tmp_path / f"ckpt{i}"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    run(0)
    assert {r["event_id"] for r in spark.read.parquet(wh).collect()} == {"e1", "e2"}

    # state 1: crash between renames — live dir gone, history in .old
    os.rename(wh, wh + ".old")
    _write_batch(src, "b2.jsonl", [_ev("e3", 30, amount=7.0)])
    run(1)  # fresh checkpoint: replays b1 + b2
    rows = {r["event_id"] for r in spark.read.parquet(wh).collect()}
    assert rows == {"e1", "e2", "e3"}
    assert not os.path.exists(wh + ".old")

    # state 2: stale .old alongside a live dir
    shutil.copytree(wh, wh + ".old")
    _write_batch(src, "b3.jsonl", [_ev("e4", 60, amount=1.0)])
    run(2)
    rows = {r["event_id"] for r in spark.read.parquet(wh).collect()}
    assert rows == {"e1", "e2", "e3", "e4"}
    assert not os.path.exists(wh + ".old")


def test_sessionize_emits_closed_sessions(spark, tmp_path):
    src = tmp_path / "src"
    # u1: two sessions (gap 45 min > 30); u2: one open session -> not emitted.
    _write_batch(
        src,
        "b1.jsonl",
        [
            _ev("a1", 0, user="u1"),
            _ev("a2", 10, user="u1"),
            _ev("a3", 55, user="u1"),
            _ev("b1", 0, user="u2"),
        ],
    )
    stream = P.read_event_stream(spark, str(src)).select("user_id", "ts")
    out = P.run_to_completion(P.sessionize(stream, gap_minutes=30), "t_sessions")
    sessions = out.collect()
    assert len(sessions) == 1
    s = sessions[0]
    assert s["user_id"] == "u1"
    assert s["n_events"] == 2
    assert s["session_start"] == T0
    assert s["session_end"] == T0 + timedelta(minutes=10)


# ---------------------------------------------------------------------------
# Multi-micro-batch drains (maxFilesPerTrigger=1): state, watermark and
# timeout semantics must hold ACROSS batch boundaries, not just inside one
# availableNow batch.  File mtimes are staggered so the source processes
# the files in writing order.
# ---------------------------------------------------------------------------


def _stagger_mtimes(src, names):
    import os
    import time

    base = time.time() - 3600
    for i, n in enumerate(names):
        os.utime(src / n, (base + i * 60, base + i * 60))


def test_dedup_state_survives_micro_batch_boundary(spark, tmp_path):
    """A retransmit arriving in a LATER micro-batch (within the watermark
    delay) must still be dropped — the dedup state store carries across
    batches."""
    src = tmp_path / "src"
    _write_batch(src, "b1.jsonl", [_ev("e1", 0), _ev("e2", 1)])
    _write_batch(src, "b2.jsonl", [_ev("e1", 0), _ev("e3", 2)])  # e1 again
    _stagger_mtimes(src, ["b1.jsonl", "b2.jsonl"])
    stream = P.read_event_stream(spark, str(src), max_files_per_trigger=1)
    out = P.run_to_completion(P.dedup_within_watermark(stream), "t_dedup_mb")
    assert sorted(r["event_id"] for r in out.collect()) == ["e1", "e2", "e3"]


def test_sessionize_continues_session_across_batches(spark, tmp_path):
    """Events in a later micro-batch within the gap must EXTEND the open
    session (state carries over); an out-of-gap event in a later batch
    closes the batch-1 session with batch-1's start."""
    src = tmp_path / "src"
    _write_batch(src, "b1.jsonl", [_ev("a1", 0, user="u1"), _ev("a2", 10, user="u1")])
    # 20 min after a2: inside the 30-min gap -> same session continues
    _write_batch(src, "b2.jsonl", [_ev("a3", 30, user="u1")])
    # 90 min: beyond gap -> closes the session spanning batches 1 and 2
    _write_batch(src, "b3.jsonl", [_ev("a4", 120, user="u1")])
    _stagger_mtimes(src, ["b1.jsonl", "b2.jsonl", "b3.jsonl"])
    stream = P.read_event_stream(spark, str(src), max_files_per_trigger=1).select(
        "user_id", "ts"
    )
    out = P.run_to_completion(P.sessionize(stream, gap_minutes=30), "t_sess_mb")
    sessions = out.collect()
    assert len(sessions) == 1
    s = sessions[0]
    assert s["session_start"] == T0
    assert s["session_end"] == T0 + timedelta(minutes=30)  # extended in b2
    assert s["n_events"] == 3


def test_sessionize_timeout_flush_across_batches(spark, tmp_path):
    """EventTimeTimeout: a session idle in batch 1 must flush once a LATER
    batch's events advance the watermark past its gap deadline — without
    any further events for that user."""
    src = tmp_path / "src"
    _write_batch(src, "b1.jsonl", [_ev("a1", 0, user="u1"), _ev("a2", 5, user="u1")])
    # other user far in the future: watermark jumps past u1's deadline
    _write_batch(src, "b2.jsonl", [_ev("b1", 180, user="u2")])
    _stagger_mtimes(src, ["b1.jsonl", "b2.jsonl"])
    stream = (
        P.read_event_stream(spark, str(src), max_files_per_trigger=1)
        .select("user_id", "ts")
        .withWatermark("ts", "10 minutes")
    )
    out = P.run_to_completion(
        P.sessionize(stream, gap_minutes=30, flush_on_timeout=True), "t_flush_mb"
    )
    by_user = {r["user_id"]: r for r in out.collect()}
    # u1 flushed by timeout (no u1 event after batch 1); u2 flushed at
    # end-of-drain by the final watermark advance
    assert "u1" in by_user
    assert by_user["u1"]["session_start"] == T0
    assert by_user["u1"]["session_end"] == T0 + timedelta(minutes=5)
    assert by_user["u1"]["n_events"] == 2


def test_windowed_counts_merge_late_data_across_batches(spark, tmp_path):
    """A late row arriving in a later micro-batch (inside the watermark
    delay) must still land in its original window."""
    src = tmp_path / "src"
    _write_batch(src, "b1.jsonl", [_ev("e1", 0), _ev("e2", 12)])
    # minute 3 is LATE relative to batch-1's max (12) but within the
    # 10-minute delay -> must still count into the [0,10) window
    _write_batch(src, "b2.jsonl", [_ev("e3", 3)])
    _stagger_mtimes(src, ["b1.jsonl", "b2.jsonl"])
    stream = P.read_event_stream(spark, str(src), max_files_per_trigger=1)
    out = P.run_to_completion(
        P.windowed_event_counts(stream), "t_win_mb", output_mode="complete"
    )
    counts = {r["window_start"]: r["events"] for r in out.collect()}
    assert counts[T0] == 2  # e1 + late e3
    assert counts[T0 + timedelta(minutes=10)] == 1


def test_doubled_source_actually_replays_every_event(spark):
    """Guards streaming_dedup_counts against vacuous success: WITHOUT the
    dedup stage the doubled staging dir must deliver exactly 2x the
    events — if the second symlink ever stops arriving, the dedup query
    would 'pass' while testing nothing."""
    from data_engineering_etl_demo_spark.plans.streaming_plans import (
        _doubled_event_stream,
    )
    from data_engineering_etl_demo_spark.streaming import pipeline as P

    sf_dir = "/root/testdata/sf0.001"
    raw = _doubled_event_stream(spark, sf_dir).groupBy().count()
    result = P.run_to_completion(raw, "stream_doubled_raw", "complete")
    doubled = result.collect()[0][0]
    single = spark.read.parquet(f"{sf_dir}/events.parquet").count()
    assert doubled == 2 * single


def test_value_ema_state_carries_across_batches(spark, tmp_path):
    """The EMA recurrence must fold batch-2 events ON TOP of batch-1
    state: final = fold([100, 200, 300]) = 156, not fold([300])."""
    from datetime import datetime, timedelta as _td

    from pyspark.sql import functions as F

    src = tmp_path / "ema_src"
    src.mkdir()
    schema = "user_id long, ts timestamp, event_id long, v6 long"

    def write(name, rows):
        spark.createDataFrame(rows, schema).coalesce(1).write.mode(
            "overwrite"
        ).parquet(str(src / name))

    t = datetime(2026, 1, 1)
    m = _td(minutes=1)
    write("b1", [(1, t, 10, 100), (1, t + m, 11, 200), (2, t, 20, 50)])
    write("b2", [(1, t + 2 * m, 12, 300)])
    _stagger_mtimes(src, ["b1", "b2"])

    stream = spark.readStream.schema(schema).option(
        "maxFilesPerTrigger", 1
    ).parquet(str(src) + "/*")
    out = P.run_to_completion(P.value_ema(stream), "t_ema_mb")
    rows = out.collect()
    # cumulative emission per batch: user 1 appears twice (n=2 then n=3)
    assert sorted(
        (r["user_id"], r["n_events"], r["ema_e6"]) for r in rows
    ) == [(1, 2, 120), (1, 3, 156), (2, 1, 50)]
    final = {
        r["user_id"]: (r["n"], r["ema"])
        for r in out.groupBy("user_id")
        .agg(
            F.max("n_events").alias("n"),
            F.max_by("ema_e6", "n_events").alias("ema"),
        )
        .collect()
    }
    assert final == {1: (3, 156), 2: (1, 50)}


def test_value_ema_rejects_cross_batch_disorder(spark, tmp_path):
    """ADVICE r4: the in-order kernel must FAIL LOUDLY when a later batch
    delivers an earlier row, not silently diverge from the batch oracle."""
    from datetime import datetime, timedelta as _td

    import pytest as _pytest

    src = tmp_path / "ema_ooo_bad"
    src.mkdir()
    schema = "user_id long, ts timestamp, event_id long, v6 long"

    def write(name, rows):
        spark.createDataFrame(rows, schema).coalesce(1).write.mode(
            "overwrite"
        ).parquet(str(src / name))

    t = datetime(2026, 1, 1)
    m = _td(minutes=1)
    write("b1", [(1, t, 10, 100), (1, t + 2 * m, 12, 300)])
    write("b2", [(1, t + m, 11, 200)])  # predates batch 1's last row
    _stagger_mtimes(src, ["b1", "b2"])
    stream = spark.readStream.schema(schema).option(
        "maxFilesPerTrigger", 1
    ).parquet(str(src) + "/*")
    with _pytest.raises(Exception, match="event-time-ordered arrival"):
        P.run_to_completion(P.value_ema(stream), "t_ema_disorder")


def test_value_ema_ooo_folds_cross_batch_disorder_in_event_order(
    spark, tmp_path
):
    """The watermark-buffered variant folds a late-delivered row in its
    event-time position: batch order [100, 300], [200] must fold as
    [100, 200, 300] = 156.  Rows above the final watermark stay
    buffered (the 30-min row never folds under a 10-min delay)."""
    from datetime import datetime, timedelta as _td

    from pyspark.sql import functions as F

    src = tmp_path / "ema_ooo_src"
    src.mkdir()
    schema = "user_id long, ts timestamp, event_id long, v6 long"

    def write(name, rows):
        spark.createDataFrame(rows, schema).coalesce(1).write.mode(
            "overwrite"
        ).parquet(str(src / name))

    t = datetime(2026, 1, 1)
    m = _td(minutes=1)
    write("b1", [(1, t, 10, 100), (1, t + 2 * m, 12, 300)])
    write("b2", [(1, t + m, 11, 200)])  # arrives later, predates row 12
    write("b3", [(1, t + 30 * m, 13, 400)])  # advances the watermark
    _stagger_mtimes(src, ["b1", "b2", "b3"])
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src) + "/*")
        .withWatermark("ts", "10 minutes")
    )
    out = P.run_to_completion(P.value_ema_ooo(stream), "t_ema_ooo_mb")
    final = {
        r["user_id"]: (r["n"], r["ema"])
        for r in out.groupBy("user_id")
        .agg(
            F.max("n_events").alias("n"),
            F.max_by("ema_e6", "n_events").alias("ema"),
        )
        .collect()
    }
    # fold([100, 200, 300]) in EVENT order = 156; arrival order would give
    # fold([100, 300, 200]) = 164; the t+30m row is above the final
    # watermark (t+20m) and must remain buffered
    assert final == {1: (3, 156)}


def test_ooo_staged_source_is_genuinely_out_of_order(spark):
    """The registered streaming_value_ema_ooo source must deliver real
    cross-batch disorder (a later file contains rows predating the
    earlier file's max) with lateness bounded under the watermark delay
    (nothing may be dropped)."""
    import shutil

    from data_engineering_etl_demo_spark.plans.streaming_plans import (
        _ooo_staged_dir,
    )

    sf = "/root/testdata/sf0.001"
    shutil.rmtree("/tmp/spark_graft_stream_ooo", ignore_errors=True)
    stage = _ooo_staged_dir(spark, sf)
    from pyspark.sql import functions as F

    f = [
        spark.read.parquet(f"{stage}/f{k}.parquet")
        .agg(F.min("ts").alias("min"), F.max("ts").alias("max"))
        .first()
        for k in range(3)
    ]
    for k in (1, 2):
        late_by = (f[k - 1]["max"] - f[k]["min"]).total_seconds()
        assert late_by > 0, f"file {k} is not out of order"
        assert late_by < 21600, f"file {k} lateness {late_by}s >= watermark"


def test_ooo_staging_cache_invalidates_on_source_change(spark, tmp_path):
    """The staged-slice cache must key on the SOURCE file's identity
    (path + size + mtime), not the directory basename: regenerated
    testdata or a same-named tree must get fresh slices, not a stale
    replay against a fresh oracle."""
    import os
    import shutil

    from data_engineering_etl_demo_spark.plans.streaming_plans import (
        _ooo_staged_dir,
    )

    src = tmp_path / "sfX"
    src.mkdir()
    shutil.copy("/root/testdata/sf0.001/events.parquet", src / "events.parquet")
    stage1 = _ooo_staged_dir(spark, str(src))
    assert (os.path.exists(f"{stage1}/_built"))
    # same source, untouched -> same cache dir
    assert _ooo_staged_dir(spark, str(src)) == stage1
    # "regenerate" the source (content change simulated by an mtime bump)
    os.utime(src / "events.parquet", None)
    stage2 = _ooo_staged_dir(spark, str(src))
    assert stage2 != stage1, "stale staged slices would be replayed"


def test_run_to_completion_shuffle_override_never_touches_session(spark):
    """The per-stream shuffle_partitions override is scoped to a session
    clone (ADVICE r5): the shared session's batch parallelism must stay
    untouched while the drain runs AND after it fails — and the prebuilt-
    DataFrame form must refuse the override outright rather than mutate
    the DataFrame's shared session."""
    import pytest as _pytest

    saved = spark.conf.get("spark.sql.shuffle.partitions")
    seen = {}

    def build(s):
        # the clone carries the override; the parent conf is unchanged at
        # plan-build time (i.e. while a concurrent batch query would plan)
        seen["clone"] = s.conf.get("spark.sql.shuffle.partitions")
        seen["parent_during"] = spark.conf.get("spark.sql.shuffle.partitions")
        return s.readStream.format("rate").load()  # wrong sink mode below

    with _pytest.raises(Exception):
        # memory sink + complete mode on a non-agg stream -> analysis error
        P.run_to_completion(build, "t_conf_scope", "complete",
                            shuffle_partitions=3, spark=spark)
    assert seen["clone"] == "3"
    assert seen["parent_during"] == saved
    assert spark.conf.get("spark.sql.shuffle.partitions") == saved

    bogus = spark.readStream.format("rate").load()
    with _pytest.raises(ValueError, match="builder form"):
        P.run_to_completion(bogus, "t_conf_refuse", "complete",
                            shuffle_partitions=3)


def test_value_ema_checkpoint_restart_resumes_state(spark, tmp_path):
    """Crash-recovery contract: a NEW query instance pointed at the SAME
    checkpoint resumes the state store and the source offsets — the
    second drain processes only the new file, folds ON TOP of the
    recovered (ema, n), and never re-reads batch 1 (the in-order kernel
    would raise loudly on the duplicate delivery if it did).  This is
    the restart semantics a production stream relies on; the memory
    sink is ephemeral by design, so drain 2's table contains only the
    post-restart emissions."""
    from datetime import datetime, timedelta as _td

    src = tmp_path / "ema_restart_src"
    src.mkdir()
    ckpt = str(tmp_path / "ema_restart_ckpt")
    schema = "user_id long, ts timestamp, event_id long, v6 long"

    def write(name, rows):
        spark.createDataFrame(rows, schema).coalesce(1).write.mode(
            "overwrite"
        ).parquet(str(src / name))

    out_dir = str(tmp_path / "ema_restart_out")

    def drain(qname):
        # file sink, not memory: the memory sink refuses checkpoint
        # recovery (it cannot replay committed batches); the parquet sink
        # is the exactly-once recovery path a real job uses
        stream = spark.readStream.schema(schema).parquet(str(src) + "/*")
        q = (
            P.value_ema(stream)
            .writeStream.format("parquet")
            .queryName(qname)
            .outputMode("append")
            .option("path", out_dir)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        return spark.read.parquet(out_dir)

    t = datetime(2026, 1, 1)
    m = _td(minutes=1)
    write("b1", [(1, t, 10, 100), (1, t + m, 11, 200), (2, t, 20, 50)])
    r1 = drain("t_ema_restart1").collect()
    assert sorted((r.user_id, r.n_events, r.ema_e6) for r in r1) == [
        (1, 2, 120),
        (2, 1, 50),
    ]
    # restart: new data lands while the query is down
    write("b2", [(1, t + 2 * m, 12, 300), (3, t, 30, 70)])
    r2 = drain("t_ema_restart2").collect()
    # the file sink accumulates: drain-1 rows plus the post-restart
    # emissions.  user 1 reaching n=3/ema=156 proves the recovered
    # (120, 2) was folded on ((2*300 + 8*120) // 10 == 156; state loss
    # would emit n=1/ema=300, a b1 re-read would raise in the kernel);
    # user 2 gains nothing; user 3 is fresh.
    assert sorted((r.user_id, r.n_events, r.ema_e6) for r in r2) == [
        (1, 2, 120),
        (1, 3, 156),
        (2, 1, 50),
        (3, 1, 70),
    ]


def test_left_outer_join_null_emission_boundary(spark, tmp_path):
    """Pins the oracle's ms-domain watermark model for the stream-stream
    LEFT OUTER join (streaming_left_outer_join): per-side max event time
    FLOORS to ms, a left row's expiry point CEILS its event time to ms,
    and null emission needs strict <.  Probed on ±1ms / ±1µs rows around
    the exact cutoff: cutoff−1ms emits, cutoff−1µs (same ms after ceil)
    and cutoff itself do not."""
    import datetime as dt

    import pandas as pd
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    base = dt.datetime(2024, 1, 1, 12, 0, 0)
    anchor = base + dt.timedelta(minutes=60, microseconds=500)
    cutoff = dt.datetime(2024, 1, 1, 12, 50, 0)  # floor_ms(anchor) - 10 min
    rows = [
        (1, anchor, 1, "purchase", 1.0, None),
        (2, anchor, 1, "click", 1.0, None),
        (10, cutoff - dt.timedelta(milliseconds=1), 99, "purchase", 1.0, None),
        (11, cutoff - dt.timedelta(microseconds=1), 98, "purchase", 1.0, None),
        (12, cutoff, 97, "purchase", 1.0, None),
    ]
    pdf = pd.DataFrame(
        rows, columns=["event_id", "ts", "user_id", "event_type", "value", "props"]
    )
    stage = tmp_path / "louter_src"
    stage.mkdir()
    pdf.to_parquet(
        stage / "events.parquet",
        coerce_timestamps="us",
        allow_truncated_timestamps=True,
    )
    schema = T.StructType(
        [
            T.StructField("event_id", T.LongType()),
            T.StructField("ts", T.TimestampType()),
            T.StructField("user_id", T.LongType()),
            T.StructField("event_type", T.StringType()),
            T.StructField("value", T.DoubleType()),
            T.StructField("props", T.StringType()),
        ]
    )

    def build(s):
        raw = s.readStream.schema(schema).parquet(str(stage))
        purchases = (
            raw.filter(
                (F.col("event_type") == "purchase") & F.col("user_id").isNotNull()
            )
            .select(
                F.col("event_id").alias("purchase_id"),
                F.col("user_id").alias("p_user"),
                F.col("ts").alias("p_ts"),
            )
            .withWatermark("p_ts", "10 minutes")
        )
        clicks = (
            raw.filter(
                (F.col("event_type") == "click") & F.col("user_id").isNotNull()
            )
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
                "c_user = p_user AND c_ts >= p_ts - INTERVAL 30 MINUTES "
                "AND c_ts <= p_ts"
            ),
            "leftOuter",
        )

    res = P.run_to_completion(build, "t_louter_boundary", "append", spark=spark)
    got = {
        (r.purchase_id, r.click_id)
        for r in res.select("purchase_id", "click_id").collect()
    }
    assert got == {(1, 2), (10, None)}


def test_full_outer_join_click_expiry_boundary(spark, tmp_path):
    """Pins the FULL OUTER oracle's click-side expiry model
    (streaming_full_outer_join): a click's latest matchable purchase is
    c_ts + 30min, so it null-emits iff ceil_ms(c_ts) < wm - 30min,
    STRICT.  Probed on ±1ms / ±1µs rows around that cutoff: cutoff−1ms
    emits, cutoff−1µs (same ms after ceil), cutoff, and cutoff+1ms do
    not.  The purchase-side boundary row doubles as a sanity check that
    the left-outer rule is unchanged under fullOuter."""
    import datetime as dt

    import pandas as pd
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    from data_engineering_etl_demo_spark.streaming import pipeline as P

    base = dt.datetime(2024, 1, 1, 12, 0, 0)
    anchor = base + dt.timedelta(minutes=60, microseconds=500)
    wm = dt.datetime(2024, 1, 1, 12, 50, 0)  # floor_ms(anchor) - 10 min
    cut2 = wm - dt.timedelta(minutes=30)  # click cutoff: wm - interval
    rows = [
        (1, anchor, 1, "purchase", 1.0, None),
        (2, anchor, 1, "click", 1.0, None),
        (10, wm - dt.timedelta(milliseconds=1), 99, "purchase", 1.0, None),
        (20, cut2 - dt.timedelta(milliseconds=1), 89, "click", 1.0, None),
        (21, cut2 - dt.timedelta(microseconds=1), 88, "click", 1.0, None),
        (22, cut2, 87, "click", 1.0, None),
        (23, cut2 + dt.timedelta(milliseconds=1), 86, "click", 1.0, None),
    ]
    pdf = pd.DataFrame(
        rows, columns=["event_id", "ts", "user_id", "event_type", "value", "props"]
    )
    stage = tmp_path / "fouter_src"
    stage.mkdir()
    pdf.to_parquet(
        stage / "events.parquet",
        coerce_timestamps="us",
        allow_truncated_timestamps=True,
    )
    schema = T.StructType(
        [
            T.StructField("event_id", T.LongType()),
            T.StructField("ts", T.TimestampType()),
            T.StructField("user_id", T.LongType()),
            T.StructField("event_type", T.StringType()),
            T.StructField("value", T.DoubleType()),
            T.StructField("props", T.StringType()),
        ]
    )

    def build(s):
        raw = s.readStream.schema(schema).parquet(str(stage))
        purchases = (
            raw.filter(
                (F.col("event_type") == "purchase") & F.col("user_id").isNotNull()
            )
            .select(
                F.col("event_id").alias("purchase_id"),
                F.col("user_id").alias("p_user"),
                F.col("ts").alias("p_ts"),
            )
            .withWatermark("p_ts", "10 minutes")
        )
        clicks = (
            raw.filter(
                (F.col("event_type") == "click") & F.col("user_id").isNotNull()
            )
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
                "c_user = p_user AND c_ts >= p_ts - INTERVAL 30 MINUTES"
                " AND c_ts <= p_ts"
            ),
            "fullOuter",
        )

    out = P.run_to_completion(
        build, "fo_boundary", "append", shuffle_partitions=2, spark=spark
    )
    got = sorted(
        [
            (r.purchase_id, r.click_id)
            for r in out.select("purchase_id", "click_id").collect()
        ],
        key=repr,
    )
    assert got == sorted([(1, 2), (10, None), (None, 20)], key=repr)


def _tiny_events(sf_dir, n: int) -> None:
    """An events.parquet of ``n`` rows in ``sf_dir``: 3 users, one event a
    minute."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    sf_dir.mkdir(parents=True)
    t0 = datetime(2026, 1, 1)
    pq.write_table(
        pa.table(
            {
                "event_id": pa.array(range(1, n + 1), pa.int64()),
                "ts": pa.array([t0 + timedelta(minutes=i) for i in range(n)], pa.timestamp("us")),
                "user_id": pa.array([i % 3 for i in range(n)], pa.int64()),
                "event_type": pa.array(["view"] * n),
                "value": pa.array([float(i) for i in range(n)]),
                "props": pa.array(["{}"] * n),
            }
        ),
        str(sf_dir / "events.parquet"),
    )


def _drop_stream_staging(name: str) -> None:
    import glob
    import shutil

    for path in glob.glob(f"/tmp/spark_graft_stream*/{glob.escape(name)}*"):
        shutil.rmtree(path, ignore_errors=True)


def test_stream_staging_follows_an_input_dir_recreated_under_the_same_name(
    spark, tmp_path
):
    """Staging links are keyed by the input dir's name: after that dir is
    removed and a new one of the same name appears elsewhere, both staged
    sources read the new dir's rows (the old link dangles)."""
    import shutil
    import uuid

    from data_engineering_etl_demo_spark.plans.streaming_plans import (
        _doubled_event_stream,
        _event_stream,
    )

    name = f"restaged_{uuid.uuid4().hex[:8]}"

    def drained(sf_dir, tag):
        single = _event_stream(spark, str(sf_dir)).groupBy().count()
        doubled = _doubled_event_stream(spark, str(sf_dir)).groupBy().count()
        return (
            P.run_to_completion(single, f"{name}_{tag}_1", "complete").collect()[0][0],
            P.run_to_completion(doubled, f"{name}_{tag}_2", "complete").collect()[0][0],
        )

    try:
        first = tmp_path / "a" / name
        _tiny_events(first, 5)
        assert drained(first, "a") == (5, 10)
        shutil.rmtree(first)
        second = tmp_path / "b" / name
        _tiny_events(second, 7)
        assert drained(second, "b") == (7, 14)
    finally:
        _drop_stream_staging(name)


def test_drain_over_an_input_dir_with_a_dash_in_its_name(spark, tmp_path):
    """A drain names its memory sink after the input dir; a name that is
    not an identifier (here a ``-``) must give the same rows as a plain
    one."""
    import shutil
    import uuid

    from data_engineering_etl_demo_spark.plans import all_specs

    fn = all_specs()["streaming_value_ema"].spark_fn
    tag = uuid.uuid4().hex[:8]
    plain, dashed = tmp_path / f"plain_{tag}", tmp_path / f"with-dash_{tag}"
    try:
        _tiny_events(plain, 12)
        dashed.mkdir()
        shutil.copy(plain / "events.parquet", dashed / "events.parquet")
        want = sorted(map(tuple, fn(spark, str(plain)).collect()))
        assert want
        assert sorted(map(tuple, fn(spark, str(dashed)).collect())) == want
    finally:
        _drop_stream_staging(plain.name)
        _drop_stream_staging(dashed.name)
