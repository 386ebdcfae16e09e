"""Per-group accumulation lint: ``collect_list`` / ``collect_set`` /
``array_agg`` buffer a whole group in one row, so every site, SQL text
included, is keyed to a category with a documented per-group bound.
Ledger: ``GROUP`` in ``ledger_lints.py``; categories: PLANS.md
"Per-group accumulation ledger"."""

from ledger_lints import GROUP, check, strip_comment, strip_comment_lines


def test_pattern_catches_the_forms_it_claims():
    """The DataFrame form, the SQL form inside an expr string and the
    array_agg alias match; commented-out code and prose without a call
    paren do not.  Comment stripping keeps a '#' inside a string."""
    pat = GROUP.pattern
    assert pat.search('agg(F.collect_list("x"))')
    assert pat.search('agg(F.collect_set("x"))')
    assert pat.search('F.expr("collect_list(CASE WHEN a THEN b END)")')
    assert pat.search('spark.sql("SELECT array_agg(x) FROM t")')
    assert not pat.search("the collect_list fold would be wrong")
    assert not pat.search(strip_comment("y = 1  # collect_list(x) would OOM here"))
    # a '#' inside a string literal is not a comment start
    assert pat.search(strip_comment("spark.sql(\"SELECT '#' AS h, array_agg(x) FROM t\")"))
    # nor is a '#' on a continuation line of a triple-quoted string,
    # which the line-at-a-time strip_comment gets wrong
    multiline = ['q = """SELECT 1\n', "-- see #4: array_agg(x)\n", '"""\n']
    assert pat.search(strip_comment_lines(multiline)[1])
    assert not pat.search(strip_comment(multiline[1]))
    assert strip_comment_lines(["x = 1  # collect_list(x)\n"]) == ["x = 1  "]


def test_ledger_is_well_formed():
    check(GROUP, "malformed")


def test_every_category_is_documented_in_plans_md():
    check(GROUP, "undocumented")


def test_every_category_keys_a_site():
    check(GROUP, "unused")


def test_every_accumulation_site_is_in_the_ledger():
    check(GROUP, "unclassified")


def test_occurrence_counts_match():
    check(GROUP, "drifted")


def test_ledger_has_no_stale_entries():
    check(GROUP, "stale")
