"""Session-timezone contract (r13).

A TZ-shifted probe (r13 NOTES) showed 24 of the 177 registered queries
are calendar-bucketing queries whose results legitimately follow the
SESSION timezone (standard Spark semantics: ``date_trunc`` /
``to_date`` on TimestampType interpret in ``spark.sql.session.timeZone``).
That is NOT a distributed-correctness hazard — one session means one
zone cluster-wide, and the physical-invariance artifact proves layout
independence — but it makes "session TZ = UTC" part of the ENGINE
CONTRACT: every session this engine builds, and every harness session
that replays the oracles, must pin UTC or the DuckDB parity gate breaks
on any non-UTC host.

This test pins the contract structurally: every
``SparkSession.builder`` construction site in the package and the
repo-root harnesses must pin ``spark.sql.session.timeZone`` to UTC
within the same builder chain (scanned over the statement's
continuation lines), and ``tune_session`` — the path for sessions the
grading driver hands us — must force it post-hoc.  A new builder site
without the pin fails here before it can fail as a mysterious
off-by-five-hours oracle mismatch.
"""

import os
import re

from ledger_lints import strip_comment_lines

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
_PKG_DIR = os.path.join(_REPO, "data_engineering_etl_demo_spark")

# Match the actual builder-chain call — .config("spark.sql.session.
# timeZone", "UTC") in either quote style, possibly split across
# continuation lines — not mere substring co-occurrence in the window
# (ADVICE r13: a comment naming both strings near an unpinned builder
# must not false-pass, and a single-quoted pin must not false-fail).
_TZ_PIN_CALL = re.compile(
    r"""config\(\s*["']spark\.sql\.session\.timeZone["']\s*,"""
    r"""\s*["']UTC["']\s*\)""",
    re.S,
)


def _builder_sites():
    """Yield (relpath, lineno, window) for every SparkSession.builder
    site in the package and the repo-root scripts; window = the site
    line plus the following 30 lines (a builder chain is a single
    statement, always shorter than that)."""
    roots = [_PKG_DIR]
    top = [
        os.path.join(_REPO, f)
        for f in sorted(os.listdir(_REPO))
        if f.endswith(".py")
    ]
    files = []
    for root in roots:
        for dirpath, _dirs, names in os.walk(root):
            files.extend(
                os.path.join(dirpath, n)
                for n in sorted(names)
                if n.endswith(".py")
            )
    files.extend(top)
    for path in files:
        with open(path) as f:
            lines = f.readlines()
        # Comment-strip the WINDOW lines too (ADVICE r14): a
        # commented-out `.config("spark.sql.session.timeZone", "UTC")`
        # near an unpinned builder must not satisfy the pin search.
        # Multi-line-aware so a '#' inside a triple-quoted string in
        # the window can't truncate real code (ledger_lints.strip_comment_lines).
        stripped = strip_comment_lines(lines)
        for i, code in enumerate(stripped):
            if re.search(r"SparkSession\.builder\b", code):
                rel = os.path.relpath(path, _REPO)
                yield rel, i + 1, "".join(stripped[i:i + 31])


def test_every_builder_site_pins_utc():
    missing = [
        f"{rel}:{lineno}"
        for rel, lineno, window in _builder_sites()
        if not _TZ_PIN_CALL.search(window)
    ]
    assert not missing, (
        "SparkSession.builder site(s) without a spark.sql.session.timeZone "
        "UTC pin in the builder chain — 24 calendar-bucketing queries "
        "follow the session zone, so an unpinned session breaks oracle "
        f"parity on any non-UTC host: {missing}"
    )


def test_builder_census_is_nonempty_and_covers_known_sites():
    """Self-test: the scan must keep finding the sites we know exist
    (session.py's get_spark and the invariance sweep); an empty census
    would mean the scanner rotted, not that the contract holds."""
    sites = {rel for rel, _l, _w in _builder_sites()}
    assert any(r.endswith("session.py") for r in sites), sites
    assert "scripts_invariance_sweep.py" in sites, sites


def test_tune_session_forces_utc():
    """Driver-handed sessions (``__spark_entry__``) go through
    tune_session, which must force UTC post-hoc — the driver's builder
    is not ours to pin."""
    import inspect

    from data_engineering_etl_demo_spark.session import tune_session

    src = inspect.getsource(tune_session)
    assert re.search(
        r"""conf\.set\(\s*["']spark\.sql\.session\.timeZone["']\s*,"""
        r"""\s*["']UTC["']\s*\)""",
        src,
    ), "tune_session no longer forces spark.sql.session.timeZone=UTC"


def test_live_session_is_utc(spark):
    assert spark.conf.get("spark.sql.session.timeZone") == "UTC"
