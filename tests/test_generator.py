"""Bulk dirty-data generator → REAL JSONL ingest: the quarantine path
fuzz-tested at generator scale (reference scripts/generate_events.py:23-49
scenarios; VERDICT r4 item 5).  The generator's configured rates must be
observable through sources/ingest.read_events_jsonl + the P1 anti-split —
this is a property of the whole path, not of the generator alone."""

from __future__ import annotations

import math

from pyspark.sql import functions as F

from data_engineering_etl_demo_spark.functions.cleaning import (
    ALLOWED_EVENTS,
    canonicalize_event,
)
from data_engineering_etl_demo_spark.sources.generator import (
    INVALID_GEN_EVENTS,
    generate_dirty_events,
)
from data_engineering_etl_demo_spark.sources.ingest import read_events_jsonl

N = 20_000
N_BAD_TS = 3


def _binomial_tol(p: float, n: int) -> float:
    # 5 standard deviations: deterministic md5 streams aren't binomial
    # draws, but their rate concentrates the same way; 5σ never flakes
    return 5 * math.sqrt(p * (1 - p) / n)


def test_generated_rates_observed_through_real_ingest(spark, tmp_path, scope):
    out = tmp_path / "gen_events"
    generate_dirty_events(
        spark, N, invalid_pct=10, null_user_pct=5, n_bad_ts=N_BAD_TS
    ).coalesce(1).write.mode("overwrite").text(str(out))

    res = read_events_jsonl(spark, str(out), scope)
    bad = res.bad_records.collect()
    # every BAD_TIME row lands in the ingest quarantine with the exact
    # reference reason, and nothing else does
    assert len(bad) == N_BAD_TS
    assert all(r["_reason"] == "invalid_timestamp" for r in bad)

    good = res.events.cache()
    total = good.count()
    assert total == N - N_BAD_TS

    invalid = good.filter(
        ~canonicalize_event(F.col("event")).isin(*ALLOWED_EVENTS)
    ).count()
    rate = invalid / total
    assert abs(rate - 0.10) < _binomial_tol(0.10, total), rate

    null_users = good.filter(F.col("user_id").isNull()).count()
    nu_rate = null_users / total
    assert abs(nu_rate - 0.05) < _binomial_tol(0.05, total), nu_rate
    good.unpersist()


def test_generator_is_deterministic_and_ids_unique(spark):
    a = generate_dirty_events(spark, 500, n_bad_ts=1)
    b = generate_dirty_events(spark, 500, n_bad_ts=1)
    ra = sorted(r["value"] for r in a.collect())
    rb = sorted(r["value"] for r in b.collect())
    assert ra == rb
    import json

    ids = [json.loads(v)["event_id"] for v in ra]
    assert len(set(ids)) == 500
    events = {json.loads(v)["event"] for v in ra}
    assert events <= set(INVALID_GEN_EVENTS) | {"pageview", "signup", "purchase"}
    # amount present exactly on purchases, as a parseable money string
    for v in ra:
        d = json.loads(v)
        if d["event"] == "purchase":
            assert float(d["amount"]) > 0
        else:
            assert d["amount"] is None
