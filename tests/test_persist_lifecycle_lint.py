"""Persist-lifecycle lint: every ``.persist(`` / ``.cache(`` /
``.unpersist(`` call in the package is classified by who owns the
handle's lifetime; the memo-bounded and call-scoped categories are
also checked against the code they rely on.  Ledger: ``PERSIST`` in
``ledger_lints.py``; categories: PLANS.md "Persist-lifecycle ledger"."""

from ledger_lints import PERSIST, check, memo_bound_violations
from ledger_lints import scoped_release_lines, unscoped_releases


def test_allowlist_entries_are_well_formed():
    check(PERSIST, "malformed")


def test_every_persist_site_is_classified():
    check(PERSIST, "unclassified")


def test_persist_occurrence_counts_match():
    check(PERSIST, "drifted")


def test_allowlist_has_no_stale_entries():
    check(PERSIST, "stale")


def test_every_category_is_documented_in_plans_md():
    check(PERSIST, "undocumented")


def test_audited_categories_still_present():
    check(PERSIST, "unused")


def test_memo_bounded_sites_live_in_memoized_builders():
    """memo-bounded-intermediate leans on ``register(memoize=True)`` in
    ``plans/__init__.py``: the sites must live under ``plans/`` and the
    default must hold, or each site needs re-adjudication."""
    bad = memo_bound_violations(PERSIST.ledger)
    assert not bad, bad


def test_memo_bound_check_rejects_a_moved_site_and_a_changed_default(tmp_path):
    (tmp_path / "plans").mkdir()
    init = tmp_path / "plans" / "__init__.py"
    init.write_text("def register(name, memoize: bool = True): ...\n")
    site = {("operators/x.py", "ex = df.persist()"): ("memo-bounded-intermediate", 1)}
    assert memo_bound_violations(site, str(tmp_path)) == [
        "operators/x.py: memo-bounded-intermediate outside plans/"
    ]
    init.write_text("def register(name, memoize: bool = False): ...\n")
    assert memo_bound_violations({}, str(tmp_path)) == [
        "plans/__init__.py: register no longer memoizes by default"
    ]


def test_call_scoped_sites_release_in_finally():
    """Every call-scoped release sits in the ``finally`` of a
    materializing ``@contextmanager``, so the caller's ``with`` block
    cannot skip it."""
    bad = unscoped_releases(PERSIST.ledger)
    assert not bad, (
        f"call-scoped release outside the finally of a materializing "
        f"@contextmanager; an error would leak the blocks: {bad}"
    )


def test_call_scoped_check_rejects_a_release_outside_finally():
    """A release that an error skips, and one in a function that never
    yields the relation, are not scoped."""
    leaky = (
        "from contextlib import contextmanager\n"
        "@contextmanager\n"
        "def held(df):\n"
        "    ck = df.localCheckpoint(eager=True)\n"
        "    yield ck\n"
        "    ck.rdd.unpersist(False)\n"
    )
    assert 6 not in scoped_release_lines(leaky)
    plain = (
        "def held(df):\n"
        "    ck = df.localCheckpoint(eager=True)\n"
        "    try:\n"
        "        return ck.count()\n"
        "    finally:\n"
        "        ck.rdd.unpersist(False)\n"
    )
    assert 6 not in scoped_release_lines(plain)
    scoped = leaky.replace(
        "    yield ck\n    ck.rdd",
        "    try:\n        yield ck\n    finally:\n        ck.rdd",
    )
    assert 8 in scoped_release_lines(scoped)
