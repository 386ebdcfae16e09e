"""Constraint operator semantics on a planted dirty fixture — each rule
kind must count exactly the violations planted, no more."""

import pytest
from pyspark.sql import functions as F

from data_engineering_etl_demo_spark.operators import constraints as C


def _report(rows):
    return {r["rule_id"]: r["n_violations"] for r in rows}


def test_each_rule_kind_counts_planted_violations(spark):
    child = spark.createDataFrame(
        [
            (1, "ok", 10.0),
            (1, "ok", 20.0),      # duplicate id
            (2, None, -5.0),      # null name, below range
            (3, "bad", 999.0),    # unaccepted value, above range
            (None, "ok", 50.0),   # null id (not an FK orphan: null child key)
            (9, "ok", 50.0),      # FK orphan (no parent 9)
        ],
        "id long, name string, v double",
    )
    parent = spark.createDataFrame([(1,), (2,), (3,)], "pid long")
    rows = C.constraint_report(
        [
            C.not_null(child, "t", "id"),
            C.not_null(child, "t", "name"),
            C.unique(child, "t", ["id"]),
            C.foreign_key(child, "t", "id", parent, "pid"),
            C.accepted_values(child, "t", "name", ["ok"]),
            C.in_range(child, "t", "v", 0, 100),
        ]
    ).collect()
    got = _report(rows)
    assert got == {
        "not_null:t.id": 1,
        "not_null:t.name": 1,
        "unique:t.id": 1,
        "foreign_key:t.id": 1,
        "accepted_values:t.name": 1,
        "in_range:t.v": 2,
    }
    # report is ordered by rule_id for deterministic cross-engine compare
    assert [r["rule_id"] for r in rows] == sorted(got)


def test_clean_table_reports_all_zero(spark):
    t = spark.createDataFrame([(1, "ok"), (2, "ok")], "id long, name string")
    p = spark.createDataFrame([(1,), (2,)], "pid long")
    rows = C.constraint_report(
        [
            C.not_null(t, "t", "id"),
            C.unique(t, "t", ["id"]),
            C.foreign_key(t, "t", "id", p, "pid"),
            C.accepted_values(t, "t", "name", ["ok"]),
            C.in_range(t, "t", "id", 0, 10),
        ]
    ).collect()
    assert all(r["n_violations"] == 0 for r in rows)


def test_fused_predicates_rejects_an_empty_rule_list(spark):
    t = spark.createDataFrame([(1,)], "id long")
    with pytest.raises(ValueError, match="rules is empty"):
        C.fused_predicates(t, "t", [])
