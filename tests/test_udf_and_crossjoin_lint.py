"""UDF + crossJoin lint: the package has no row-at-a-time Python UDF (a
ledger with no allowed entries), and every ``.crossJoin(`` is classified
by why one side is constant-sized.  Ledgers: ``UDF`` and ``CROSSJOIN``
in ``ledger_lints.py``; categories: PLANS.md "UDF + crossJoin ledger"."""

from ledger_lints import CROSSJOIN, UDF, check


def test_no_row_at_a_time_python_udfs():
    check(UDF, "unclassified")


def test_udf_pattern_catches_the_forms_it_claims():
    """The Arrow-batched forms pass, the row-at-a-time forms match."""
    pat = UDF.pattern
    assert not pat.search("@pandas_udf('long')")
    assert not pat.search("F.pandas_udf(fn, 'long')")
    assert not pat.search("df.mapInPandas(fn, schema)")
    assert pat.search("F.udf(lambda x: x)")
    assert pat.search("@udf('string')")
    assert pat.search("@F.udf('string')")
    assert pat.search("my = udf(fn)")


def test_crossjoin_allowlist_is_well_formed():
    check(CROSSJOIN, "malformed")


def test_every_crossjoin_is_classified():
    check(CROSSJOIN, "unclassified")


def test_crossjoin_occurrence_counts_match():
    check(CROSSJOIN, "drifted")


def test_crossjoin_allowlist_has_no_stale_entries():
    check(CROSSJOIN, "stale")


def test_every_category_is_documented_in_plans_md():
    check(CROSSJOIN, "undocumented")


def test_every_category_keys_a_site():
    check(CROSSJOIN, "unused")
