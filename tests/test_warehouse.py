"""Warehouse upsert semantics (U1-U6) + EP1/EP2 end-to-end.

Pins: idempotent re-run convergence ("Safe to run multiple times",
/root/reference/sql/warehouse_star.sql:2), last-writer-wins on conflict,
surrogate-key stability across merges, null-FK row drops, required-column
contract, and warehouse-analytics consistency with direct computation."""

import json

import pytest
from pyspark.sql import functions as F

from data_engineering_etl_demo_spark.operators.warehouse import Warehouse


def df_users(spark, rows):
    return spark.createDataFrame(rows, "user_id string, country string, signup_source string")


def df_clean(spark, rows):
    return spark.createDataFrame(
        rows,
        "event_id string, ts timestamp, user_id string, event string, "
        "amount double, page string, event_date string, event_hour int",
    )


CLEAN_ROWS = [
    ("e1", None, "1", "signup", None, None, "2026-01-01", 0),
    ("e2", None, "1", "purchase", 10.0, None, "2026-01-01", 1),
    ("e3", None, "2", "pageview", None, "/home", "2026-01-02", 2),
]


def test_dim_users_upsert_last_writer_wins(spark, tmp_path):
    wh = Warehouse(spark, str(tmp_path))
    wh.upsert_dim_users(df_users(spark, [("1", "US", "organic"), ("2", None, "paid")]))
    first = {r["user_id"]: r for r in wh.table("dim_users").collect()}
    assert first["2"]["country"] == "unknown"  # null → 'unknown' default

    wh.upsert_dim_users(df_users(spark, [("1", "DE", "organic"), ("3", "FR", "ads")]))
    second = {r["user_id"]: r for r in wh.table("dim_users").collect()}
    assert set(second) == {"1", "2", "3"}
    assert second["1"]["country"] == "DE"  # updated
    assert second["2"]["country"] == "unknown"  # untouched


def test_event_type_surrogate_ids_stable_and_sorted(spark, tmp_path):
    wh = Warehouse(spark, str(tmp_path))
    wh.upsert_dim_event_types(df_clean(spark, CLEAN_ROWS))
    ids1 = {r["event"]: r["event_type_id"] for r in wh.table("dim_event_types").collect()}
    # sorted natural keys get sequential ids (AUTOINCREMENT parity)
    assert ids1 == {"pageview": 1, "purchase": 2, "signup": 3}

    # re-run with one new event: existing ids unchanged, new id appended
    more = CLEAN_ROWS + [("e4", None, "2", "click", None, None, "2026-01-02", 3)]
    wh.upsert_dim_event_types(df_clean(spark, more))
    ids2 = {r["event"]: r["event_type_id"] for r in wh.table("dim_event_types").collect()}
    assert ids2["pageview"] == 1 and ids2["purchase"] == 2 and ids2["signup"] == 3
    assert ids2["click"] == 4


def test_dim_dates_split_and_skip_malformed(spark, tmp_path):
    wh = Warehouse(spark, str(tmp_path))
    rows = CLEAN_ROWS + [("e9", None, "1", "signup", None, None, "garbage", 0)]
    wh.upsert_dim_dates(df_clean(spark, rows))
    dates = {r["date_key"]: r for r in wh.table("dim_dates").collect()}
    assert set(dates) == {"2026-01-01", "2026-01-02"}  # malformed skipped
    assert (dates["2026-01-01"]["year"], dates["2026-01-01"]["month"], dates["2026-01-01"]["day"]) == (2026, 1, 1)


def test_fact_events_merge_idempotent(spark, tmp_path):
    wh = Warehouse(spark, str(tmp_path))
    wh.upsert_fact_events(df_clean(spark, CLEAN_ROWS))
    assert wh.table("fact_events").count() == 3

    # re-run same batch → converges (no duplicates); update wins on conflict
    updated = [("e2", None, "1", "purchase", 99.0, None, "2026-01-01", 1)]
    wh.upsert_fact_events(df_clean(spark, updated))
    fact = {r["event_id"]: r for r in wh.table("fact_events").collect()}
    assert len(fact) == 3
    assert fact["e2"]["amount"] == 99.0


INTL_SCHEMA = (
    "sale_id string, ts string, date_key string, customer string, sku string, "
    "pcs long, rate double, gross_amt double, currency string, source_dataset string"
)


def test_intl_fact_contract_and_null_fk_drop(spark, tmp_path):
    wh = Warehouse(spark, str(tmp_path))
    with pytest.raises(ValueError, match="missing required columns"):
        wh.upsert_fact_international_sales(spark.createDataFrame([("s1",)], "sale_id string"))

    rows = [
        ("s1", "2026-01-01T12:00:00", "2026-01-01", "acme", "SKU1", 2, 5.0, 10.0, "USD", "f.csv"),
        ("s2", "2026-01-01T12:00:00", "2026-01-01", None, "SKU2", 1, 5.0, 5.0, "USD", "f.csv"),  # null customer → dropped
        ("s3", "2026-01-02T12:00:00", "2026-01-02", "bob", "SKU1", 1, 5.0, None, "USD", "f.csv"),  # null gross → dropped
    ]
    wh.upsert_fact_international_sales(spark.createDataFrame(rows, INTL_SCHEMA))
    fact = wh.table("fact_international_sales").collect()
    assert [r["sale_id"] for r in fact] == ["s1"]
    # FK resolved to surrogate ids
    cust = {r["customer_name"]: r["customer_id"] for r in wh.table("dim_customers").collect()}
    assert fact[0]["customer_id"] == cust["acme"]


def _ep1_inputs(tmp_path):
    """Dirty events JSONL and users CSV: bogus event types, a same-id
    duplicate, a non-JSON line and a line missing ts."""
    events = tmp_path / "events.jsonl"
    lines = []
    for i in range(20):
        ev = ["pageview", "signup", "purchase", "bogus"][i % 4]
        rec = {"event_id": f"e{i}", "ts": f"2026-01-{1 + i % 3:02d}T0{i % 10}:00:00Z",
               "user_id": str(i % 5) if i % 7 else None, "event": ev}
        if ev == "purchase":
            rec["amount"] = f"{i}.50"
        lines.append(json.dumps(rec))
    lines.append('{"event_id": "dup", "ts": "2026-01-01T00:00:01Z", "user_id": "1", "event": "signup"}')
    lines.append('{"event_id": "dup", "ts": "2026-01-01T00:00:02Z", "user_id": "1", "event": "signup"}')
    lines.append("not json at all")
    lines.append('{"event_id": "nots", "event": "signup"}')
    events.write_text("\n".join(lines) + "\n")

    users = tmp_path / "users.csv"
    users.write_text("user_id,country,signup_source\n" + "\n".join(f"{i},C{i},src" for i in range(5)) + "\n")
    return events, users


def test_ep1_ep2_end_to_end(spark, tmp_path):
    """Full pipeline on dirty JSONL, then the 5 analytics queries over the
    warehouse must agree with direct computation on the clean output."""
    import os

    from data_engineering_etl_demo_spark.etl import run_pipeline
    from data_engineering_etl_demo_spark.plans.warehouse_analytics import run_all

    events, users = _ep1_inputs(tmp_path)
    res = run_pipeline(
        spark,
        str(events),
        str(users),
        warehouse_dir=str(tmp_path / "wh"),
        output_dir=str(tmp_path / "out"),
    )
    rep = res.report
    assert rep.ingest_bad == 2  # malformed + missing ts
    assert rep.transform_invalid_event_type == 5  # 'bogus' events
    assert rep.dedup_removed == 1
    assert rep.loaded_rows == rep.ingest_good - rep.transform_invalid_event_type - rep.dedup_removed
    assert rep.rejected_total == 7
    report_file = json.loads((tmp_path / "out" / "quality_report.json").read_text())
    assert report_file["reject_rate"] == pytest.approx(7 / rep.raw_lines)

    # idempotence: re-run the whole pipeline, warehouse must converge
    fact_before = res.warehouse.table("fact_events").count()
    res2 = run_pipeline(spark, str(events), str(users),
                        warehouse_dir=str(tmp_path / "wh"), output_dir=str(tmp_path / "out2"))
    assert res2.warehouse.table("fact_events").count() == fact_before

    # EP2 over the warehouse == direct computation over the fact
    queries = run_all(spark, res2.warehouse, export_dir=str(tmp_path / "exports"))
    fact = res2.warehouse.table("fact_events")
    expect_dau = (
        fact.filter(F.col("user_id").isNotNull())
        .groupBy("event_date").agg(F.countDistinct("user_id").alias("dau"))
        .orderBy("event_date").collect()
    )
    assert queries["dau"].df.collect() == expect_dau
    assert queries["international_revenue"].df.count() == 0  # graceful empty
    assert os.path.exists(queries["funnel"].csv_path)
    funnel = queries["funnel"].df.collect()
    assert funnel and all(r["signup_to_purchase_rate"] is not None for r in funnel)


def _stored_rdds(spark) -> set[int]:
    return {r.id() for r in spark.sparkContext._jsc.sc().getRDDStorageInfo()}


def _text_scans(spark, path) -> int:
    """Text scans of ``path`` in the SQL executions the status store keeps
    (the CSV reader scans the users file as text too, for its header)."""
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
    store = spark._jsparkSession.sharedState().statusStore()
    n, execs = 0, store.executionsList().iterator()
    while execs.hasNext():
        nodes = store.planGraph(execs.next().executionId()).allNodes().iterator()
        while nodes.hasNext():
            node = nodes.next()
            n += node.name().startswith("Scan text") and str(path) in node.desc()
    return n


def test_ep1_reads_raw_events_at_most_twice_and_releases_storage(spark, tmp_path):
    """EP1 materializes its ingest lines and clean rows once: the raw
    events file is scanned by the line-numbering pre-pass and the ingest
    materialization only, however many sinks, MERGE steps and counters
    follow, and nothing the run stored outlives the call."""
    from data_engineering_etl_demo_spark.etl import run_pipeline

    events, users = _ep1_inputs(tmp_path)
    before = _stored_rdds(spark)
    # untruncated scan locations in the plan graph, so the events file's
    # scans can be told from the users file's
    key = "spark.sql.maxMetadataStringLength"
    saved = spark.conf.get(key)
    spark.conf.set(key, "10000")
    try:
        res = run_pipeline(spark, str(events), str(users),
                           warehouse_dir=str(tmp_path / "wh"),
                           output_dir=str(tmp_path / "out"))
    finally:
        spark.conf.set(key, saved)
    assert res.report.loaded_rows > 0
    assert 1 <= _text_scans(spark, events) <= 2
    assert _stored_rdds(spark) - before == set()


def test_ep1_releases_storage_when_a_sink_fails(spark, tmp_path, monkeypatch):
    from data_engineering_etl_demo_spark import etl

    held = []

    def failing_export(df, path):
        held.append(_stored_rdds(spark) - before)
        raise RuntimeError("export sink down")

    monkeypatch.setattr(etl, "write_csv_export", failing_export)
    events, users = _ep1_inputs(tmp_path)
    before = _stored_rdds(spark)
    with pytest.raises(RuntimeError, match="export sink down"):
        etl.run_pipeline(spark, str(events), str(users),
                         warehouse_dir=str(tmp_path / "wh"),
                         output_dir=str(tmp_path / "out"))
    assert len(held[0]) == 2  # ingest lines + clean rows, live mid-run
    assert _stored_rdds(spark) - before == set()


# ---------------------------------------------------------------------------
# User erasure (right-to-be-forgotten)
# ---------------------------------------------------------------------------


def test_erase_users_partition_targeted(spark, tmp_path):
    import os

    wh = Warehouse(spark, str(tmp_path))
    wh.upsert_dim_users(
        df_users(spark, [("1", "US", "web"), ("2", "DE", "app")])
    )
    wh.upsert_fact_events(df_clean(spark, CLEAN_ROWS))
    # remember the physical file of the untouched partition (user 2's day)
    p2 = os.path.join(str(tmp_path), "fact_events", "event_date=2026-01-02")
    before = sorted(os.listdir(p2))

    report = wh.erase_users(["1"])
    assert report["dim_users_removed"] == 1
    assert report["fact_rows_removed"] == 2
    # user 1's rows were BOTH on 2026-01-01 and that partition emptied
    assert report["partitions_deleted"] == 1
    assert not os.path.exists(
        os.path.join(str(tmp_path), "fact_events", "event_date=2026-01-01")
    )
    # the untouched partition's files were never rewritten
    assert sorted(os.listdir(p2)) == before
    left = wh.table("fact_events").collect()
    assert {r["user_id"] for r in left} == {"2"}
    assert {r["user_id"] for r in wh.table("dim_users").collect()} == {"2"}


def test_erase_users_rewrites_mixed_partition_and_is_idempotent(spark, tmp_path):
    wh = Warehouse(spark, str(tmp_path))
    rows = CLEAN_ROWS + [("e4", None, "2", "click", None, None, "2026-01-01", 3)]
    wh.upsert_dim_users(df_users(spark, [("1", "US", "web"), ("2", "DE", "app")]))
    wh.upsert_fact_events(df_clean(spark, rows))

    report = wh.erase_users(["1"])
    # 2026-01-01 now holds user 2's click only — rewritten, not deleted
    assert report["fact_rows_removed"] == 2
    assert report["partitions_rewritten"] == 1
    assert report["partitions_deleted"] == 0
    assert wh.table("fact_events").count() == 2

    again = wh.erase_users(["1"])  # idempotent: nothing left to erase
    assert again["fact_rows_removed"] == 0
    assert again["partitions_rewritten"] == 0
    assert wh.table("fact_events").count() == 2


def test_erase_users_empty_list_is_noop(spark, tmp_path):
    wh = Warehouse(spark, str(tmp_path))
    wh.upsert_fact_events(df_clean(spark, CLEAN_ROWS))
    report = wh.erase_users([])
    assert report["fact_rows_removed"] == 0
    assert wh.table("fact_events").count() == 3


def test_fact_merge_removes_stale_row_when_key_changes_partition(spark, tmp_path):
    """An update that MOVES a key's partition value (event's date
    corrected) must also rewrite the key's old partition — otherwise a
    stale duplicate survives there despite 'MERGE on event_id'."""
    wh = Warehouse(spark, str(tmp_path))
    wh.upsert_fact_events(df_clean(spark, CLEAN_ROWS))
    # e3 was the ONLY row in 2026-01-02; it moves to 2026-01-03
    moved = [("e3", None, "2", "pageview", None, "/home", "2026-01-03", 2)]
    wh.upsert_fact_events(df_clean(spark, moved))
    fact = wh.table("fact_events")
    rows = {r["event_id"]: r for r in fact.collect()}
    assert len(rows) == 3, "stale copy of e3 survived in its old partition"
    assert rows["e3"]["event_date"] == "2026-01-03"
    # the now-empty old partition dir must be gone, not hold the stale row
    import os

    assert not os.path.exists(
        str(tmp_path / "fact_events" / "event_date=2026-01-02")
    )


def test_merge_duplicate_keys_within_batch_deterministic(spark, tmp_path):
    """Duplicate merge keys inside ONE batch must pick the same winner on
    every run (row_number over _prio alone is shuffle-order-broken)."""
    dup = [
        ("e9", None, "1", "purchase", 1.0, None, "2026-01-01", 1),
        ("e9", None, "1", "purchase", 2.0, None, "2026-01-01", 1),
    ]
    winners = set()
    for i in range(2):
        wh = Warehouse(spark, str(tmp_path / f"w{i}"))
        wh.upsert_fact_events(
            df_clean(spark, dup).repartition(4 if i else 1)
        )
        winners.add(wh.table("fact_events").collect()[0]["amount"])
    assert len(winners) == 1


def test_snapshot_time_travel_and_diff(spark, tmp_path):
    """Snapshot ledger semantics: v1 is immutable under a later swap
    (hardlink forest keeps old part files alive), versions are
    monotonically assigned, and snapshot_diff classifies every row-level
    change exactly."""
    wh = Warehouse(spark, str(tmp_path))
    g1 = spark.createDataFrame(
        [(1, "a", 10), (2, "b", 20), (3, "c", 30)], "id long, s string, v long"
    )
    wh._swap_write("t", g1)
    assert wh.snapshot_table("t") == 1
    assert wh.snapshot_versions("t") == [1]

    # gen2: row 2 changed, row 3 removed, row 4 added
    g2 = spark.createDataFrame(
        [(1, "a", 10), (2, "b", 99), (4, "d", 40)], "id long, s string, v long"
    )
    wh._swap_write("t", g2)
    assert wh.snapshot_table("t") == 2

    v1 = wh.read_snapshot("t", 1)
    assert sorted(tuple(r) for r in v1.collect()) == [
        (1, "a", 10),
        (2, "b", 20),
        (3, "c", 30),
    ], "snapshot v1 mutated by the later swap"

    diff = {
        r.id: r.change
        for r in Warehouse.snapshot_diff(v1, wh.table("t"), key="id").collect()
    }
    assert diff == {2: "changed", 3: "removed", 4: "added"}

    # diff of identical generations is empty
    v2 = wh.read_snapshot("t", 2)
    assert Warehouse.snapshot_diff(v2, wh.table("t"), key="id").count() == 0


def test_snapshot_missing_table_and_version_raise(spark, tmp_path):
    wh = Warehouse(spark, str(tmp_path))
    with pytest.raises(FileNotFoundError):
        wh.snapshot_table("nope")
    g1 = spark.createDataFrame([(1, 1)], "id long, v long")
    wh._swap_write("t", g1)
    wh.snapshot_table("t")
    with pytest.raises(FileNotFoundError):
        wh.read_snapshot("t", 7)


# ---------------------------------------------------------------------------
# Declared schemas, session hygiene, compile and job floors
# ---------------------------------------------------------------------------

_INFERENCE = "spark.sql.sources.partitionColumnTypeInference.enabled"


def _written_schema(spark, path):
    """The schema a bare parquet read gives with partition values kept as
    the text they were written as."""
    saved = spark.conf.get(_INFERENCE)
    spark.conf.set(_INFERENCE, "false")
    try:
        return spark.read.parquet(path).schema
    finally:
        spark.conf.set(_INFERENCE, saved)


def test_declared_schemas_match_what_the_upserts_write(spark, tmp_path):
    import os

    from pyspark.sql.types import StructType

    from data_engineering_etl_demo_spark.operators.warehouse import (
        DIMS,
        FACTS,
        SCHEMAS,
    )

    wh = Warehouse(spark, str(tmp_path))
    wh.upsert_dim_users(df_users(spark, [("1", "US", "organic")]))
    wh.upsert_fact_events(df_clean(spark, CLEAN_ROWS))
    rows = [("s1", "2026-01-01T12:00:00", "2026-01-01", "acme", "SKU1", 2, 5.0, 10.0, "USD", "f.csv")]
    wh.upsert_fact_international_sales(spark.createDataFrame(rows, INTL_SCHEMA))
    assert set(SCHEMAS) == set(DIMS + FACTS)
    for name in DIMS + FACTS:
        written = _written_schema(spark, os.path.join(str(tmp_path), name))
        assert StructType.fromDDL(SCHEMAS[name]) == written, name
        assert wh.table(name).schema == written, name


def test_warehouse_leaves_session_conf_unchanged_and_keeps_partition_text(
    spark, tmp_path
):
    """Constructing a Warehouse changes no session conf; its declared
    schemas keep a partition value the text it was written as, where
    partition type inference would read '0007' as the integer 7."""
    before = dict(spark.conf.getAll)
    wh = Warehouse(spark, str(tmp_path))
    assert dict(spark.conf.getAll) == before
    assert spark.conf.get(_INFERENCE) == "true"
    wh.upsert_fact_events(
        df_clean(spark, [("e1", None, "1", "signup", None, None, "0007", 0)])
    )
    assert [r["event_date"] for r in wh.table("fact_events").collect()] == ["0007"]
    inferred = spark.read.parquet(str(tmp_path / "fact_events"))
    assert [r["event_date"] for r in inferred.collect()] == [7]


def _lineage(df) -> str:
    return df._jdf.queryExecution().toRdd().toDebugString()


def test_empty_relations_start_no_python_worker(spark, tmp_path):
    """EP2's header-only export of a missing intl fact is planned in the
    JVM: a pickled empty createDataFrame starts a Python worker."""
    from data_engineering_etl_demo_spark.functions.local_rows import empty_df
    from data_engineering_etl_demo_spark.plans.warehouse_analytics import run_all

    ddl = "event_date string, intl_revenue double"
    assert "PythonRDD" in _lineage(spark.createDataFrame([], ddl))
    empty = empty_df(spark, ddl)
    assert "PythonRDD" not in _lineage(empty)
    assert empty.schema == spark.createDataFrame([], ddl).schema
    assert empty.count() == 0

    wh = Warehouse(spark, str(tmp_path / "wh"))
    wh.upsert_fact_events(df_clean(spark, CLEAN_ROWS))
    out = run_all(spark, wh, export_dir=str(tmp_path / "exports"))
    intl = out["international_revenue"]
    assert "PythonRDD" not in _lineage(intl.df)
    (csv,) = (tmp_path / "exports" / "international_revenue").glob("*.csv")
    assert csv.read_text() == "event_date,intl_revenue\n"


def _compiles(spark) -> int:
    metrics = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return metrics.METRIC_COMPILATION_TIME().getCount()


def test_a_repeated_pipeline_run_compiles_almost_nothing(spark, tmp_path):
    """The codegen cache holds a whole EP1 run: the same input loaded into
    a second fresh warehouse reuses the first run's generated classes.
    Spark's default LRU of 100 classes is smaller than one run, so there
    every run recompiled about as many classes as the first."""
    from data_engineering_etl_demo_spark.etl import run_pipeline

    events, users = _ep1_inputs(tmp_path)
    compiled = []
    for i in range(2):
        c0 = _compiles(spark)
        run_pipeline(spark, str(events), str(users),
                     warehouse_dir=str(tmp_path / f"wh{i}"),
                     output_dir=str(tmp_path / f"out{i}"))
        compiled.append(_compiles(spark) - c0)
    assert compiled[1] <= 0.05 * compiled[0], compiled
