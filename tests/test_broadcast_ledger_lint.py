"""Broadcast-size lint: every ``F.broadcast(`` hint in the package claims
the relation fits on every executor at any corpus size, so each site is
keyed to a category with a documented row bound.  Ledger: ``BROADCAST``
in ``ledger_lints.py``; categories: PLANS.md "Broadcast-size ledger"."""

from ledger_lints import BROADCAST, check, strip_comment


def test_broadcast_pattern_catches_the_forms_it_claims():
    """The hint form matches; commented-out code and the variable
    broadcast API ``sc.broadcast(`` do not."""
    pat = BROADCAST.pattern
    assert pat.search("df.join(F.broadcast(dim), on='k')")
    assert pat.search("keys = F.broadcast(keys)")
    assert not pat.search("spark.sparkContext.broadcast(lut)")
    assert not pat.search("sc.broadcast(model)")
    assert not pat.search(strip_comment("x = 1  # F.broadcast(dim) would be wrong here"))


def test_ledger_is_well_formed():
    check(BROADCAST, "malformed")


def test_every_category_is_documented_in_plans_md():
    check(BROADCAST, "undocumented")


def test_every_category_keys_a_site():
    check(BROADCAST, "unused")


def test_every_broadcast_site_is_in_the_ledger():
    check(BROADCAST, "unclassified")


def test_broadcast_occurrence_counts_match():
    check(BROADCAST, "drifted")


def test_ledger_has_no_stale_entries():
    check(BROADCAST, "stale")
