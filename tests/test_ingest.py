"""S1/S2 source contract: validation + quarantine split
(reference behavior /root/reference/pipeline/ingest.py:28-78)."""

import json

import pytest

from data_engineering_etl_demo_spark.sources.ingest import (
    read_events_jsonl,
    read_users_csv,
    write_bad_records,
)

GOOD = {"event_id": "e1", "ts": "2026-01-01T00:00:01Z", "user_id": "1",
        "event": "signup", "amount": "19.99"}
MISSING_TS = {"event_id": "e2", "user_id": "1", "event": "signup"}
BAD_TS = {"event_id": "e3", "ts": "BAD_TIME", "user_id": "1", "event": "signup"}
MALFORMED = '{"event_id": "e4", busted'


@pytest.fixture
def events_path(tmp_path):
    p = tmp_path / "events.jsonl"
    # blank line at position 2: the reference counts it in _line numbering
    # (enumerate start=1) and then skips it — pinned below
    lines = [json.dumps(GOOD), "", json.dumps(MISSING_TS), json.dumps(BAD_TS),
             MALFORMED]
    p.write_text("\n".join(lines) + "\n")
    return str(p)


def test_three_way_quarantine_split(spark, events_path, scope):
    res = read_events_jsonl(spark, events_path, scope)
    good = res.events.collect()
    assert [r["event_id"] for r in good] == ["e1"]
    assert good[0]["ts"].isoformat().startswith("2026-01-01T00:00:01")

    bad = {r["event_id"]: r for r in res.bad_records.collect()}
    reasons = sorted(r["_reason"] for r in bad.values())
    assert "invalid_timestamp" in reasons
    assert any(r.startswith("missing_fields=") and "ts" in r for r in reasons)
    assert "json_decode_error" in reasons
    assert bad["e2"]["_reason"] == "missing_fields=ts"
    assert bad["e3"]["_reason"] == "invalid_timestamp"
    # true line provenance (reference ingest.py:41 enumerate start=1,
    # blank line at 2 counted): e2 is line 3, e3 line 4, malformed line 5
    assert bad["e2"]["_line"] == 3
    assert bad["e3"]["_line"] == 4
    assert bad[None]["_line"] == 5  # malformed JSON: no event_id, raw kept
    assert bad[None]["_raw"] == MALFORMED


def test_line_numbers_survive_multi_split_reads(spark, tmp_path, scope):
    """Per-file numbering must hold when one read spans several files (and
    therefore several input splits): each file restarts at 1."""
    a, b = tmp_path / "a.jsonl", tmp_path / "b.jsonl"
    a.write_text(json.dumps(GOOD) + "\n" + MALFORMED + "\n")
    b.write_text(MALFORMED + "\n")
    res = read_events_jsonl(spark, str(tmp_path / "*.jsonl"), scope)
    from data_engineering_etl_demo_spark.sources.ingest import _numbered_lines

    nums = {
        (r["_file"].rsplit("/", 1)[-1], r["_line"])
        for r in _numbered_lines(spark, str(tmp_path / "*.jsonl")).collect()
    }
    assert nums == {("a.jsonl", 1), ("a.jsonl", 2), ("b.jsonl", 1)}
    bad_lines = sorted(r["_line"] for r in res.bad_records.collect())
    assert bad_lines == [1, 2]  # a.jsonl line 2 and b.jsonl line 1


@pytest.fixture
def many_splits(spark):
    """Read every file as many small input splits (~8 KB each)."""
    confs = {"spark.sql.files.maxPartitionBytes": "8192",
             "spark.sql.files.openCostInBytes": "0"}
    saved = {k: spark.conf.get(k) for k in confs}
    for k, v in confs.items():
        spark.conf.set(k, v)
    yield
    for k, v in saved.items():
        spark.conf.set(k, v)


def _split_file(tmp_path, lines):
    p = tmp_path / "split.jsonl"
    p.write_text("\n".join(lines) + "\n")
    return str(p)


def test_line_numbers_hold_across_many_splits_of_one_file(
    spark, tmp_path, many_splits, scope
):
    """One file read as dozens of splits: every line keeps its 1-based
    file line number, blank and malformed lines included."""
    from data_engineering_etl_demo_spark.sources.ingest import _numbered_lines

    lines = []
    for n in range(1, 2001):
        if n % 97 == 0:
            lines.append("")
        elif n % 89 == 0:
            lines.append(f"broken line {n} {{")
        else:
            lines.append(json.dumps({**GOOD, "event_id": f"e{n}", "page": "x" * 40}))
    path = _split_file(tmp_path, lines)
    assert spark.read.text(path).rdd.getNumPartitions() >= 10

    got = {r["_line"]: r["value"] for r in _numbered_lines(spark, path).collect()}
    assert got == {n: text for n, text in enumerate(lines, 1)}

    bad = read_events_jsonl(spark, path, scope).bad_records.collect()
    assert sorted(r["_line"] for r in bad) == [n for n in range(1, 2001) if n % 89 == 0 and n % 97]
    assert all(r["_raw"] == f"broken line {r['_line']} {{" for r in bad)


def test_dedup_keeps_file_last_equal_ts_duplicate_across_splits(
    spark, tmp_path, many_splits, scope
):
    """Equal-ts duplicates of one event_id placed in different splits:
    dedup keeps the one latest in the file."""
    from data_engineering_etl_demo_spark.operators.transform import transform

    # event_id -> lines holding an equal-ts copy; user_id = the copy's line
    copies = {"d1": (5, 900, 1990), "d2": (1500, 30), "d3": (700, 701, 1400)}
    at = {n: eid for eid, ns in copies.items() for n in ns}
    lines = [
        json.dumps({**GOOD, "event_id": at.get(n, f"e{n}"), "user_id": str(n),
                    "page": "x" * 40})
        for n in range(1, 2001)
    ]
    path = _split_file(tmp_path, lines)
    assert spark.read.text(path).rdd.getNumPartitions() >= 10
    users = spark.createDataFrame([], "user_id string, country string")
    clean = transform(read_events_jsonl(spark, path, scope).events, users).clean
    kept = {
        r["event_id"]: r["user_id"]
        for r in clean.filter(clean.event_id.isin(*copies)).collect()
    }
    assert kept == {eid: str(max(ns)) for eid, ns in copies.items()}


def test_bad_records_sink_roundtrip(spark, events_path, tmp_path, scope):
    res = read_events_jsonl(spark, events_path, scope)
    out = str(tmp_path / "bad")
    write_bad_records(res.bad_records, out)
    back = spark.read.json(out)
    assert back.count() == 3
    assert "_reason" in back.columns


def test_users_csv_reader(spark, tmp_path):
    p = tmp_path / "users.csv"
    p.write_text("user_id,country,signup_source\n 1 ,US,organic\n2,DE,paid\n")
    users = read_users_csv(spark, str(p))
    rows = {r["user_id"]: r for r in users.collect()}
    assert set(rows) == {"1", "2"}  # trimmed string ids
    assert rows["1"]["country"] == "US"


def test_observed_counts_equal_the_aggregate_on_a_dirty_batch_and_a_rerun(
    spark, events_path
):
    """The (good, bad) counts ride the materialization of the tagged lines;
    on every run, re-runs of the same input included, they must be
    filled and equal the aggregate over the tagged lines."""
    from contextlib import ExitStack

    from pyspark.sql import functions as F

    bad = F.col("_reason").isNotNull()
    for _ in range(2):
        with ExitStack() as scope:
            res = read_events_jsonl(spark, events_path, scope)
            assert not res.observed._jo.getRowOrEmpty().isEmpty()
            observed = res.observed.get
            agg = res.tagged.agg(
                F.count_if(~bad).alias("good"), F.count_if(bad).alias("bad")
            ).first()
            assert (observed["good"], observed["bad"]) == (agg["good"], agg["bad"])
            assert res.counts() == (agg["good"], agg["bad"]) == (1, 3)
