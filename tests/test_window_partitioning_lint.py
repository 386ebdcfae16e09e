"""Window-partitioning lint: a window has no map-side partial
aggregation, so every ``Window.partitionBy`` / ``Window.orderBy``
declaration in the package is classified by why its groups stay
task-sized, and a global window may only carry a global-safe category.
Ledger: ``WINDOW`` in ``ledger_lints.py``; categories: PLANS.md
"Window-partitioning ledger"."""

from ledger_lints import WINDOW, check, misclassified_global_windows


def test_allowlist_entries_are_well_formed():
    check(WINDOW, "malformed")


def test_every_window_declaration_is_classified():
    check(WINDOW, "unclassified")


def test_window_occurrence_counts_match():
    check(WINDOW, "drifted")


def test_allowlist_has_no_stale_entries():
    check(WINDOW, "stale")


def test_every_category_is_documented_in_plans_md():
    check(WINDOW, "undocumented")


def test_audited_categories_still_present():
    check(WINDOW, "unused")


def test_global_windows_only_carry_global_safe_categories():
    bad = misclassified_global_windows(WINDOW.ledger)
    assert not bad, f"global window forms in a non-global category: {bad}"


def test_global_window_check_rejects_a_keyed_category():
    seeded = {
        ("a.py", "w = Window.orderBy(ts)"): ("high-cardinality-key", 1),
        ("a.py", "w = Window.partitionBy()"): ("bounded-vocab-audited", 1),
        ("a.py", "w = Window.orderBy(day)"): ("reduced-input", 1),
        ("a.py", 'w = Window.partitionBy("user_id")'): ("high-cardinality-key", 1),
    }
    assert [key for key, _cat in misclassified_global_windows(seeded)] == [
        ("a.py", "w = Window.orderBy(ts)"),
        ("a.py", "w = Window.partitionBy()"),
    ]
