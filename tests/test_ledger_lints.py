"""Canaries for the ledger engine in ``ledger_lints.py``: for every lint
in its table, a seeded package with an unclassified site, an extra
occurrence of a classified line and a stale entry fails each check, and
a fully classified package passes."""

from dataclasses import replace

import pytest

from ledger_lints import LINTS, audit, check

# one line each lint's pattern matches
_SAMPLE = {
    "bigint": 'x = F.expr("SUM(v) * 1000000")',
    "window": 'w = Window.partitionBy("k")',
    "broadcast": 'j = df.join(F.broadcast(dim), "k")',
    "driver": "rows = df.collect()",
    "group": 'a = df.agg(F.collect_list("x"))',
    "width": "df = df.repartition(n)",
    "persist": "df.persist()",
    "crossjoin": "p = a.crossJoin(b)",
    "udf": "f = F.udf(lambda x: x)",
}


def _seed(tmp_path, name, ledger):
    """A two-file package: ``sub/mod.py`` holds the sample line twice and
    once commented out, ``new.py`` holds it once."""
    line = _SAMPLE[name]
    (tmp_path / "sub").mkdir()
    (tmp_path / "sub" / "mod.py").write_text(f"{line}\n    {line}\n# {line}\n")
    (tmp_path / "new.py").write_text(f"{line}\n")
    return replace(LINTS[name], categories=("seeded",), ledger=ledger), str(tmp_path)


def test_every_lint_has_a_sample():
    assert set(_SAMPLE) == set(LINTS)


@pytest.mark.parametrize("kind", ["unclassified", "drifted", "stale"])
@pytest.mark.parametrize("name", sorted(LINTS))
def test_engine_fails_a_seeded_violation(tmp_path, name, kind):
    line = _SAMPLE[name]
    lint, root = _seed(
        tmp_path,
        name,
        {("sub/mod.py", line): ("seeded", 1), ("gone.py", line): ("seeded", 1)},
    )
    assert audit(lint, root)[kind] == {
        "unclassified": [("new.py", line)],
        "drifted": [(("sub/mod.py", line), 1, 2)],
        "stale": [("gone.py", line)],
    }[kind]
    with pytest.raises(AssertionError, match=name):
        check(lint, kind, root)


@pytest.mark.parametrize("name", sorted(LINTS))
def test_engine_passes_a_fully_classified_package(tmp_path, name):
    line = _SAMPLE[name]
    lint, root = _seed(
        tmp_path,
        name,
        {("sub/mod.py", line): ("seeded", 2), ("new.py", line): ("seeded", 1)},
    )
    for kind in ("malformed", "unclassified", "drifted", "stale", "unused"):
        check(lint, kind, root)


def test_engine_fails_undefined_unused_and_malformed_categories():
    lint = replace(
        LINTS["driver"],
        categories=LINTS["driver"].categories + ("not-in-plans-md",),
        ledger={**LINTS["driver"].ledger, ("x.py", "y.collect()"): ("unknown", 0)},
    )
    got = audit(lint)
    assert got["undocumented"] == ["not-in-plans-md"]
    assert got["unused"] == ["not-in-plans-md"]
    assert got["malformed"] == [("x.py", "y.collect()")]
