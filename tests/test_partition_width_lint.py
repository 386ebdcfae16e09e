"""Partition-width lint: every explicit ``.repartition(`` /
``.repartitionByRange(`` / ``.coalesce(N>1)`` is keyed to where its
width comes from, and no site passes a bare integer width.  Ledger:
``WIDTH`` in ``ledger_lints.py``; categories: PLANS.md
"Partition-width ledger"."""

from ledger_lints import WIDTH, bare_width_literals, check, strip_comment


def test_width_pattern_catches_the_forms_it_claims():
    """DataFrame width controls match, a receiver ending in a capital
    included; the F.coalesce column function and the driver ledger's
    .coalesce(1) do not."""
    pat = WIDTH.pattern
    assert pat.search("df.repartition(8)")
    assert pat.search('df.repartition(n, "key")')
    assert pat.search('zed.repartitionByRange(n_files, "__z")')
    assert pat.search('h.repartitionByRange("c")')
    assert pat.search("df.coalesce(8)")
    assert pat.search("dfA.coalesce(16).write")
    assert not pat.search("df.coalesce(1).write")
    assert not pat.search('F.coalesce(F.col("v"), F.lit(0.0))')
    assert not pat.search("money_sum(F.coalesce(x, y))")
    assert not pat.search(strip_comment("x = 1  # df.repartition(32) would be wrong here"))


def test_ledger_is_well_formed():
    check(WIDTH, "malformed")


def test_every_category_is_documented_in_plans_md():
    check(WIDTH, "undocumented")


def test_every_category_keys_a_site():
    check(WIDTH, "unused")


def test_every_width_site_is_in_the_ledger():
    check(WIDTH, "unclassified")


def test_width_occurrence_counts_match():
    check(WIDTH, "drifted")


def test_ledger_has_no_stale_entries():
    check(WIDTH, "stale")


def test_no_bare_integer_width_literals():
    bad = bare_width_literals()
    assert not bad, f"bare integer width literal(s); derive from the session or the data: {bad}"


def test_bare_width_check_rejects_a_literal(tmp_path):
    (tmp_path / "m.py").write_text(
        "a = df.repartition(32)\n"
        "b = dfA.coalesce(8)\n"
        "c = df.coalesce(1)\n"
        "d = df.repartition(n)\n"
        "e = F.coalesce(x, 0)  # df.repartition(16)\n"
    )
    assert bare_width_literals(str(tmp_path)) == [
        "m.py:1: a = df.repartition(32)",
        "m.py:2: b = dfA.coalesce(8)",
    ]
