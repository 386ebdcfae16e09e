"""Driver-materialization lint: every ``.collect()``, ``.toPandas()`` and
``.coalesce(1)`` in the package is classified by why it is bounded.
Ledger: ``DRIVER`` in ``ledger_lints.py``; categories: PLANS.md
"Driver-materialization ledger"."""

from ledger_lints import DRIVER, check


def test_allowlist_categories_are_known():
    check(DRIVER, "malformed")


def test_every_driver_materialization_is_classified():
    check(DRIVER, "unclassified")


def test_allowlist_occurrence_counts_match():
    check(DRIVER, "drifted")


def test_allowlist_has_no_stale_entries():
    check(DRIVER, "stale")


def test_every_category_is_documented_in_plans_md():
    check(DRIVER, "undocumented")


def test_every_category_keys_a_site():
    check(DRIVER, "unused")
