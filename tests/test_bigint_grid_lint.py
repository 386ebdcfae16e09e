"""BIGINT-wrap lint: every integer-literal widening multiplication in the
package (a ``* 1000000`` that wraps BIGINT once its operand passes
2^63/1e6) is on the DECIMAL(38,0) grid on the same line or classified.
Ledger: ``BIGINT`` in ``ledger_lints.py``; categories: PLANS.md
"Integer ppm grids"."""

import pytest

from ledger_lints import BIGINT, check, scan


def test_allowlist_categories_are_from_the_plansmd_vocabulary():
    check(BIGINT, "malformed")


def test_every_integer_widening_multiply_is_classified():
    check(BIGINT, "unclassified")


def test_allowlist_has_no_stale_entries():
    check(BIGINT, "stale")


def test_allowlist_occurrence_counts_match():
    check(BIGINT, "drifted")


def test_every_category_is_documented_in_plans_md():
    check(BIGINT, "undocumented")


@pytest.mark.parametrize("needle", BIGINT.categories)
def test_audited_categories_still_present(needle):
    assert needle in {cat for cat, _n in BIGINT.ledger.values()}


def test_only_same_line_decimal_code_is_exempt(tmp_path):
    (tmp_path / "m.py").write_text(
        'a = F.expr("CAST(SUM(x) AS DECIMAL(38,0)) * 1000000")\n'
        'b = F.expr("SUM(x) * 1000000")\n'
        "c = s * 1_000_000  # DECIMAL(38,0) in a comment does not count\n"
        "d = s * 1000000.0\n"
    )
    assert sorted(scan(BIGINT, str(tmp_path))) == [
        ("m.py", 'b = F.expr("SUM(x) * 1000000")'),
        ("m.py", "c = s * 1_000_000  # DECIMAL(38,0) in a comment does not count"),
    ]
