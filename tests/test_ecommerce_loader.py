"""EP3 loader parity tests (reference kaggle_amazon_sales_loader.py).

Expected values are computed here from the documented semantics — sha256
hash ids, the 9-format strptime chain with the noon rule, currency scrub,
derived-amount fallback, outlier guards — not copied from reference output.
"""

from __future__ import annotations

import hashlib

import pytest

from data_engineering_etl_demo_spark.plans import all_specs
from data_engineering_etl_demo_spark.plans.ecommerce import (
    AMAZON_CSV,
    AMAZON_NAME,
    INTL_CSV,
    INTL_NAME,
)
from data_engineering_etl_demo_spark.sources import ecommerce_loader as L


def _hid(*parts: str) -> str:
    return hashlib.sha256("|".join(p.strip() for p in parts).encode()).hexdigest()[:24]


@pytest.fixture(scope="module")
def amazon(spark):
    df = L.amazon_events(L.read_raw_csv(spark, AMAZON_CSV), AMAZON_NAME)
    return {r["order_id"]: r.asDict() for r in df.collect()}


@pytest.fixture(scope="module")
def intl(spark):
    df = L.international_sales(L.read_raw_csv(spark, INTL_CSV), INTL_NAME)
    return {r["customer"]: r.asDict() for r in df.collect()}


def test_amazon_row_counts_and_skips(spark, amazon):
    # 15 rows: A-007 (no ts anywhere), A-008 (amount outlier), A-013
    # (02-31-22 is no valid date in any format) are skipped.
    assert len(amazon) == 12
    assert "A-007" not in amazon and "A-008" not in amazon and "A-013" not in amazon
    stats = L.amazon_loader_stats(L.read_raw_csv(spark, AMAZON_CSV)).collect()[0]
    assert stats["rows_total"] == 15
    assert stats["written"] == 12
    assert stats["skipped_no_ts"] == 2
    assert stats["skipped_amount_outlier"] == 1


def test_amazon_noon_rule_and_formats(amazon):
    assert amazon["A-001"]["ts"] == "2022-04-30T12:00:00"  # MM-dd-yy + noon
    assert amazon["A-002"]["ts"] == "2022-05-01T12:00:00"  # yyyy-MM-dd + noon
    assert amazon["A-003"]["ts"] == "2022-05-02T13:45:10"  # time kept, no noon
    assert amazon["A-004"]["ts"] == "2022-01-05T12:00:00"  # M/d/yyyy wins over d/M
    assert amazon["A-005"]["ts"] == "2022-05-13T07:30:00"  # M/d/yyyy H:m
    assert amazon["A-015"]["ts"] == "2021-12-30T12:00:00"  # d-M-yyyy
    # Date column blank -> full-row token scan finds 06-05-21 in Note.
    assert amazon["A-006"]["ts"] == "2021-06-05T12:00:00"


def test_amazon_hash_id_and_fields(amazon):
    r = amazon["A-001"]
    assert r["amount"] == 21.0
    assert r["event"] == "purchase"
    assert r["event_id"] == _hid(
        AMAZON_NAME, "A-001", "B00A1", "21.0", "2022-04-30T12:00:00"
    )
    assert r["source_dataset"] == AMAZON_NAME


def test_amazon_derived_amount_fallback(amazon):
    r = amazon["A-009"]
    assert r["amount"] == pytest.approx(19.99 * 3)
    assert r["event_id"] == _hid(
        AMAZON_NAME, "A-009", "B00A9", str(19.99 * 3), "2022-04-30T12:00:00"
    )


def test_amazon_currency_scrub_and_user_fallbacks(amazon):
    r10 = amazon["A-010"]
    assert r10["amount"] == 1234.5  # ₹1,234.50 scrubbed
    assert r10["user_id"] == "Judy Smith"  # Ship Name fallback
    assert r10["currency"] == "INR"
    assert amazon["A-011"]["user_id"] == "A-011"  # order id fallback
    assert amazon["A-011"]["product_id"] == "unknown_product"
    assert amazon[""]["user_id"] == "unknown_user"  # blank order id too
    assert amazon["A-002"]["currency"] == "USD"  # default
    r14 = amazon["A-014"]  # qty "2.0" -> 2; amount "abc" -> 0.0, no fallback
    assert r14["amount"] == 0.0


def test_intl_gates_and_fields(spark, intl):
    stats = L.intl_loader_stats(L.read_raw_csv(spark, INTL_CSV)).collect()[0]
    assert stats["rows_total"] == 7
    assert stats["written"] == 4
    assert stats["skipped_no_ts"] == 1  # NOCLOCK row
    assert stats["skipped_bad_date_value"] == 1  # KURTA-XL in DATE
    assert stats["skipped_amount_outlier"] == 1  # 6,000,000 gross
    assert "SOMEONE" not in intl and "BIGCORP" not in intl and "NOCLOCK" not in intl

    r = intl["REVOGAN"]
    assert r["ts"] == "2021-06-05T12:00:00"  # 06-05-21 => %m-%d-%y
    assert r["date_key"] == "2021-06-05"
    assert r["pcs"] == 3 and r["rate"] == 249.25 and r["gross_amt"] == 747.75
    assert r["sale_id"] == _hid(
        INTL_NAME, "REVOGAN", "KU-01", "747.75", "2021-06-05T12:00:00"
    )

    # Indian-grouped amount scrub + ts recovered from the Stock column token.
    r3 = intl["LOGANBERRY"]
    assert r3["gross_amt"] == 123456.78
    assert r3["ts"] == "2021-07-06T12:00:00"

    # Defaults: blank customer/sku/gross.
    r7 = intl["unknown_customer"]
    assert r7["sku"] == "unknown_sku" and r7["gross_amt"] == 0.0
    assert intl["ACME"]["pcs"] == 3  # "3.0" -> int(float) truncation


def test_loader_specs_registered():
    specs = all_specs()
    for name in (
        "ecommerce_events_canonical",
        "ecommerce_loader_stats",
        "ecommerce_intl_canonical",
        "ecommerce_intl_stats",
    ):
        assert name in specs and specs[name].oracle is not None


def test_run_loader_end_to_end(spark, tmp_path, scope):
    """EP3 driver: canonical JSONL sinks + per-file stats report, and the
    canonical events feed EP1's ingest (loader output is pipeline input)."""
    import json
    import shutil
    from pathlib import Path

    csv_dir = tmp_path / "incoming"
    csv_dir.mkdir()
    shutil.copy(AMAZON_CSV, csv_dir / "amazon_sale_report.csv")
    shutil.copy(INTL_CSV, csv_dir / "international_sale_report.csv")
    out_dir = tmp_path / "staging"

    report = L.run_loader(spark, str(csv_dir), str(out_dir))
    assert report["files"]["amazon_sale_report.csv"]["written"] == 12
    assert report["files"]["international_sale_report.csv"]["written"] == 4
    assert json.loads((out_dir / "loader_report.json").read_text())["files"]

    # canonical events round-trip through the EP1 ingest contract
    from data_engineering_etl_demo_spark.sources.ingest import read_events_jsonl

    ingest = read_events_jsonl(spark, report["outputs"]["events"], scope)
    assert ingest.events.count() == 12
    assert ingest.bad_records.count() == 0


def test_run_loader_skips_non_target_csvs(spark, tmp_path):
    """Reference parity (loader:17-22): only the TARGET_FILES whitelist is
    event-grain; 'Sale Report.csv' / 'May-2022.csv' must be recorded as
    skipped, NOT routed through amazon_events as fake purchases, and a
    missing target is recorded like the reference's [WARN] entry."""
    import shutil

    csv_dir = tmp_path / "incoming"
    csv_dir.mkdir()
    shutil.copy(AMAZON_CSV, csv_dir / "Amazon Sale Report.csv")
    # not event-grain: same columns, must not become events
    shutil.copy(AMAZON_CSV, csv_dir / "Sale Report.csv")
    shutil.copy(AMAZON_CSV, csv_dir / "May-2022.csv")
    out_dir = tmp_path / "staging"

    report = L.run_loader(spark, str(csv_dir), str(out_dir))
    assert report["files"]["Amazon Sale Report.csv"]["written"] == 12
    assert report["files"]["Sale Report.csv"] == {
        "skipped_not_event_grain": True
    }
    assert report["files"]["May-2022.csv"] == {
        "skipped_not_event_grain": True
    }
    # the intl target is absent from this folder -> recorded as missing,
    # under the reference's TARGET_FILES spelling (ADVICE r5), not the
    # normalized lookup key
    assert report["files"]["International sale Report.csv"] == {
        "missing": True
    }
    # and the canonical events output holds ONLY the whitelisted file's rows
    ev = spark.read.json(report["outputs"]["events"])
    assert ev.count() == 12
