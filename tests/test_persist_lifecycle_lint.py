"""Persist-lifecycle lint (r11, fifth member of the structural-lint
family): every ``.persist(`` / ``.cache(`` / ``.unpersist(`` call in the
package must be classified, with pinned occurrence counts.

Why this is a scale invariant and not a style rule: a ``persist()`` with
no owned lifetime accrues one storage handle per invocation.  In memory
that is LRU-evictable; with MEMORY_AND_DISK the spilled blocks live until
``unpersist()`` or context death, so an unowned persist inside a code
path that re-runs is a disk leak on a long-lived 1000-executor cluster —
the same failure class the driver-materialization lint guards for RAM.

Categories:

memo-managed        the ``persist_latest`` primitive in
                    ``functions/caching.py``: persists the newest handle
                    and unpersists the previous one under the caller's
                    slot, so exactly ONE live handle exists per memo slot
                    by construction.
memo-bounded-intermediate
                    a persist of an intermediate relation INSIDE a
                    registered query builder, taken so an expensive
                    kernel (Arrow fingerprinting, explode+shingle, a
                    pre-aggregate feeding a broadcast max) evaluates once
                    across >= 2 consumers of the SAME returned plan.  No
                    paired unpersist by design: the builder itself is
                    memoized per (query, session, sf_dir) via
                    ``build_once`` (plans/__init__.py ``register``), so
                    at most one handle exists per memo key, and
                    ``prune_dead_memo`` drops the key when its session
                    stops.  A persist in an UN-memoized code path must
                    NOT use this category.
call-scoped         the release of a relation materialized and released
                    within one call: the site sits in the ``finally`` of
                    a ``@contextmanager`` generator that materializes the
                    relation before its ``try`` and yields it inside, so
                    the caller's ``with`` block bounds the handle's
                    lifetime, errors included.  Pinned structurally by
                    ``test_call_scoped_sites_release_in_finally``.

Keys are (package-relative path, stripped line) with pinned occurrence
counts and stale-entry failure, matching the BIGINT, materialization,
window, and UDF/crossJoin lints (ADVICE r10 rule: counts pinned so a new
duplicate-text site fails instead of inheriting an old classification).

The match requires a call-shaped receiver (identifier / ``)`` / ``]``
before the dot) so prose mentions of ``.persist()`` in docstrings do not
enter the ledger.
"""

import ast
import os
import re
from collections import Counter

_PKG_DIR = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "data_engineering_etl_demo_spark",
)

# Call-shaped only: a receiver character — or a line-leading dot, the
# broken-method-chain form — then .persist( / .cache( / .unpersist(.
# ``.cache(`` catches the DataFrame alias; RDD forms would match too,
# which is intended — an RDD cache needs the same lifetime story.  Prose
# mentions ("``.persist()``") have a backtick before the dot mid-line
# and are excluded.
_PAT = re.compile(r"(?:[\w\)\]]\s*|^\s*)\.\s*(persist|cache|unpersist)\s*\(")

_CATEGORIES = {
    "memo-managed",
    "memo-bounded-intermediate",
    "call-scoped",
}

_ALLOWLIST = {
    # persist_latest: the one place a handle's lifetime is owned
    # imperatively — newest persisted, previous unpersisted, one live
    # handle per slot (pinned by tests/test_round8_infra.py).
    ("functions/caching.py", "prev.unpersist(blocking=False)"):
        ("memo-managed", 1),
    ("functions/caching.py", "df.persist(storage_level)"):
        ("memo-managed", 1),
    ("functions/caching.py", "else df.persist()"):
        ("memo-managed", 1),
    # materialized(): releases the localCheckpoint it yielded (EP1's
    # tagged ingest lines and clean rows, one run_pipeline call each).
    ("functions/caching.py",
     "ck._jdf.queryExecution().logical().rdd().unpersist(False)"):
        ("call-scoped", 1),
    # docs_boilerplate_ngrams: exploded shingle relation feeds dfreq,
    # the flag join, and per-doc totals (3 consumers).
    ("plans/scale_patterns.py",
     'ex = sh.select("doc_id", F.explode("g").alias("g")).persist('):
        ("memo-bounded-intermediate", 1),
    # docs_winnow_overlap: Arrow winnow kernel feeds the dfreq cap and
    # both self-join sides (3 consumers).
    ("plans/scale_patterns.py",
     "ex = X.winnow_fingerprints(norm).persist(StorageLevel.MEMORY_AND_DISK)"):
        ("memo-bounded-intermediate", 1),
    # tpch q15-shape: supplier revenue pre-aggregate feeds the broadcast
    # max and the equality filter (2 consumers).
    ("plans/tpch.py", ".persist(StorageLevel.MEMORY_AND_DISK)"):
        ("memo-bounded-intermediate", 1),
}


def _scan():
    found = Counter()
    for root, _dirs, files in os.walk(_PKG_DIR):
        for fname in sorted(files):
            if not fname.endswith(".py"):
                continue
            path = os.path.join(root, fname)
            rel = os.path.relpath(path, _PKG_DIR).replace(os.sep, "/")
            with open(path) as f:
                for line in f:
                    if _PAT.search(line):
                        found[(rel, line.strip())] += 1
    return found


def test_allowlist_entries_are_well_formed():
    bad = {
        k: v
        for k, v in _ALLOWLIST.items()
        if not (
            isinstance(v, tuple)
            and len(v) == 2
            and v[0] in _CATEGORIES
            and isinstance(v[1], int)
            and v[1] >= 1
        )
    }
    assert not bad, f"malformed classification(s), want (category, n): {bad}"


def test_every_persist_site_is_classified():
    found = _scan()
    new = [k for k in found if k not in _ALLOWLIST]
    assert not new, (
        "unclassified persist/cache/unpersist site(s) — a persist with "
        "no owned lifetime accrues storage per invocation (disk blocks "
        "under MEMORY_AND_DISK outlive LRU); classify as memo-managed or "
        f"memo-bounded-intermediate, or pair an unpersist: {new}"
    )


def test_persist_occurrence_counts_match():
    found = _scan()
    drift = {
        k: (exp, found.get(k, 0))
        for k, (_cat, exp) in _ALLOWLIST.items()
        if found.get(k, 0) != exp
    }
    assert not drift, (
        "persist-site occurrence drift (key: expected, found) — "
        f"re-adjudicate each site and update the count: {drift}"
    )


def test_allowlist_has_no_stale_entries():
    found = _scan()
    stale = [k for k in _ALLOWLIST if k not in found]
    assert not stale, (
        "allowlist entries matching no current source line (site removed "
        f"or edited — re-classify the new form): {stale}"
    )


def test_memo_bounded_sites_live_in_memoized_builders():
    """The memo-bounded-intermediate story leans on plans/__init__.py's
    register(..., memoize=True) default.  Pin the lean: every site with
    that category must live under plans/, and the register decorator's
    memoize default must still be True — if either moves, the category's
    boundedness argument needs re-adjudication, not silent inheritance."""
    for (rel, _line), (cat, _n) in _ALLOWLIST.items():
        if cat == "memo-bounded-intermediate":
            assert rel.startswith("plans/"), (
                f"{rel}: memo-bounded-intermediate outside the memoized "
                "builder layer — the boundedness argument does not apply"
            )
    init_path = os.path.join(_PKG_DIR, "plans", "__init__.py")
    with open(init_path) as f:
        src = f.read()
    assert "memoize: bool = True" in src, (
        "plans.register's memoize default changed — re-adjudicate every "
        "memo-bounded-intermediate persist site"
    )


def test_audited_categories_still_present():
    present = {cat for cat, _n in _ALLOWLIST.values()}
    assert present == _CATEGORIES, (
        f"category set drifted: missing {_CATEGORIES - present}, "
        f"unknown {present - _CATEGORIES}"
    )


def _scoped_release_lines(src: str) -> set[int]:
    """Line numbers of the ``finally`` bodies of every ``@contextmanager``
    generator that materializes a relation (``localCheckpoint`` /
    ``persist``) and yields inside the ``try`` that finally closes."""
    lines = set()
    for fn in ast.walk(ast.parse(src)):
        if not isinstance(fn, ast.FunctionDef):
            continue
        decos = {getattr(d, "id", getattr(d, "attr", None)) for d in fn.decorator_list}
        materializes = any(
            isinstance(n, ast.Call)
            and getattr(n.func, "attr", None) in ("localCheckpoint", "persist")
            for n in ast.walk(fn)
        )
        if "contextmanager" not in decos or not materializes:
            continue
        for t in ast.walk(fn):
            if not isinstance(t, ast.Try) or not t.finalbody:
                continue
            if not any(isinstance(n, ast.Yield) for b in t.body for n in ast.walk(b)):
                continue
            for stmt in t.finalbody:
                lines.update(range(stmt.lineno, stmt.end_lineno + 1))
    return lines


def test_call_scoped_sites_release_in_finally():
    """Every call-scoped site is a release the caller's ``with`` block
    cannot skip: it sits in the ``finally`` of a materializing
    ``@contextmanager`` generator."""
    for (rel, line), (cat, _n) in _ALLOWLIST.items():
        if cat != "call-scoped":
            continue
        with open(os.path.join(_PKG_DIR, rel)) as f:
            src = f.read()
        hits = [
            i for i, text in enumerate(src.splitlines(), 1) if text.strip() == line
        ]
        outside = [i for i in hits if i not in _scoped_release_lines(src)]
        assert hits and not outside, (
            f"{rel}:{outside or line}: call-scoped release outside the "
            "finally of a materializing @contextmanager — an error between "
            "materialize and release would leak the blocks"
        )


def test_call_scoped_check_rejects_a_release_outside_finally():
    """Canary: the structural check fails a release that an error skips,
    and one in a function that never yields the relation."""
    leaky = (
        "from contextlib import contextmanager\n"
        "@contextmanager\n"
        "def held(df):\n"
        "    ck = df.localCheckpoint(eager=True)\n"
        "    yield ck\n"
        "    ck.rdd.unpersist(False)\n"
    )
    assert 6 not in _scoped_release_lines(leaky)
    plain = (
        "def held(df):\n"
        "    ck = df.localCheckpoint(eager=True)\n"
        "    try:\n"
        "        return ck.count()\n"
        "    finally:\n"
        "        ck.rdd.unpersist(False)\n"
    )
    assert 6 not in _scoped_release_lines(plain)
    scoped = leaky.replace(
        "    yield ck\n    ck.rdd",
        "    try:\n        yield ck\n    finally:\n        ck.rdd",
    )
    assert 8 in _scoped_release_lines(scoped)
