"""One engine and one table for the structural ledger lints.

Each lint scans every ``.py`` file of the package for one source pattern
and requires every site it matches to be classified.  Its ledger maps
``(package-relative path, stripped line)`` to ``(category, count)``.
The engine treats every lint the same way:

- lines are comment-stripped first (:func:`strip_comment_lines`), but a
  site is keyed by its whole stripped line, so an edit anywhere on the
  line forces a re-classification;
- a site with no ledger entry fails, and so does an entry whose count
  drifted (a new duplicate of a classified line must be re-adjudicated,
  not inherit the old classification) and an entry that matches nothing;
- every category must be defined in the lint's PLANS.md section,
  written in backticks, and must key at least one site.

PLANS.md defines the categories and says why each one is bounded at
scale.  This module holds the patterns, the ledgers and the few rules
that belong to one lint alone; the ``test_*_lint.py`` files run them.
"""

from __future__ import annotations

import ast
import functools
import os
import re
from collections import Counter
from dataclasses import dataclass

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PKG_DIR = os.path.join(REPO, "data_engineering_etl_demo_spark")
PLANS_MD = os.path.join(REPO, "PLANS.md")


# -- comment stripping ---------------------------------------------------


def strip_comment(line: str) -> str:
    """``line`` cut at the first '#' outside string quotes.

    Line-at-a-time: a '#' on a continuation line of a triple-quoted string
    reads as a comment here.  File scans use :func:`strip_comment_lines`."""
    return _strip_one(line, None)[0]


def strip_comment_lines(lines: list[str]) -> list[str]:
    """Comment-strip a whole file, one output line per input line.

    Triple-quote state carries across lines, so a '#' inside a multi-line
    string is never taken for a comment start, and a pattern after it is
    still scanned."""
    out = []
    triple = None  # triple-quote delimiter still open from earlier lines
    for line in lines:
        stripped, triple = _strip_one(line, triple)
        out.append(stripped)
    return out


def _strip_one(line: str, open_triple):
    """Strip one line given the triple quote open at its start (or None);
    return the stripped line and the triple quote open at its end."""
    quote = open_triple  # None, "'", '"', "'''" or '\"\"\"'
    i, n = 0, len(line)
    while i < n:
        ch = line[i]
        if quote is not None:
            if ch == "\\":
                i += 2  # skip the escaped char (harmless past EOL)
                continue
            if line.startswith(quote, i):
                i += len(quote)
                quote = None
                continue
            i += 1
            continue
        if line.startswith("'''", i) or line.startswith('"""', i):
            quote = line[i : i + 3]
            i += 3
            continue
        if ch in ("'", '"'):
            quote = ch
            i += 1
            continue
        if ch == "#":
            return line[:i], None
        i += 1
    # At EOL a 1-char quote cannot legally continue (Python forbids bare
    # newlines in single-quoted strings), so only triple state carries.
    return line, quote if quote is not None and len(quote) == 3 else None


# -- the engine ----------------------------------------------------------


@dataclass(frozen=True)
class Lint:
    name: str
    pattern: re.Pattern
    heading: str  # the PLANS.md section that defines the categories
    categories: tuple[str, ...]
    ledger: dict  # (path, stripped line) -> (category, count)
    fix: str  # what an unclassified site needs
    exempt: re.Pattern | None = None  # code matching this is not a site


@functools.cache
def sources(root: str = PKG_DIR) -> tuple:
    """``(relative path, lines, comment-stripped lines)`` for every ``.py``
    file under ``root``, in a stable order.  Cached per root: the trees
    scanned do not change while the tests run."""
    out = []
    for dirpath, dirs, files in os.walk(root):
        dirs.sort()
        for fname in sorted(files):
            if fname.endswith(".py"):
                path = os.path.join(dirpath, fname)
                with open(path) as f:
                    lines = f.readlines()
                rel = os.path.relpath(path, root).replace(os.sep, "/")
                out.append((rel, tuple(lines), tuple(strip_comment_lines(lines))))
    return tuple(out)


def scan(lint: Lint, root: str = PKG_DIR) -> Counter:
    found = Counter()
    for rel, lines, codes in sources(root):
        for line, code in zip(lines, codes):
            if lint.pattern.search(code) and not (
                lint.exempt and lint.exempt.search(code)
            ):
                found[(rel, line.strip())] += 1
    return found


def plans_section(heading: str) -> str:
    with open(PLANS_MD) as f:
        text = f.read()
    start = text.find("\n" + heading)
    assert start != -1, f"PLANS.md lost its {heading!r} section"
    end = text.find("\n## ", start + 1)
    return text[start : end if end != -1 else len(text)]


def audit(lint: Lint, root: str = PKG_DIR) -> dict[str, list]:
    """Every violation of ``lint`` over the tree at ``root``, by kind."""
    found = scan(lint, root)
    section = plans_section(lint.heading)
    used = {cat for cat, _n in lint.ledger.values()}
    return {
        "malformed": sorted(
            k
            for k, v in lint.ledger.items()
            if not (
                isinstance(v, tuple)
                and len(v) == 2
                and v[0] in lint.categories
                and isinstance(v[1], int)
                and v[1] >= 1
            )
        ),
        "unclassified": sorted(k for k in found if k not in lint.ledger),
        "drifted": sorted(
            (k, n, found[k])
            for k, (_cat, n) in lint.ledger.items()
            if k in found and found[k] != n
        ),
        "stale": sorted(k for k in lint.ledger if k not in found),
        "undocumented": [c for c in lint.categories if f"`{c}`" not in section],
        "unused": [c for c in lint.categories if c not in used],
    }


_EXPLAIN = {
    "malformed": "ledger values must be (one of the lint's categories, count >= 1)",
    "unclassified": "site(s) with no ledger entry",
    "drifted": "occurrence count drifted (key, expected, found); re-adjudicate "
    "every copy, a new duplicate must not inherit the old classification",
    "stale": "entries matching no current line: the site was removed or "
    "edited, classify its new form",
    "undocumented": "categories not defined as `category` in the PLANS.md section",
    "unused": "categories keying no site: drop them here and in PLANS.md",
}


def check(lint: Lint, kind: str, root: str = PKG_DIR) -> None:
    bad = audit(lint, root)[kind]
    fix = f" ({lint.fix})" if kind == "unclassified" else ""
    assert not bad, (
        f"{lint.name} ledger, {lint.heading[3:]!r}: {_EXPLAIN[kind]}{fix}: {bad}"
    )


# -- the ledgers ---------------------------------------------------------

_BIGINT_SITES = {
    ("plans/analytics.py",
     'f"ROUND(SUM(CAST(ROUND(({expr}) * 1000000) AS BIGINT)) / 1000000.0, {scale})"'):
        ("per-row-bounded", 1),
    ("plans/llmdata.py", '" * 1000000"'): ("decimal-grid", 1),
    ("plans/llmdata.py", '" 0L, (a, x) -> a + x) * 1000000)"'): ("per-row-bounded", 1),
    ("plans/llmdata.py", '"(size(array_distinct(w)) * 1000000)"'): ("per-row-bounded", 1),
    ("plans/llmdata.py", "(len(list_distinct(w)) * 1000000)"): ("per-row-bounded", 1),
    ("plans/llmdata.py", "(len(list_filter(w, x -> x IN ({_STOPS}))) * 1000000)"):
        ("per-row-bounded", 1),
    ("plans/llmdata.py", "(w_e6 * 1000000 // w_total) * 1000000"): ("oracle-only", 1),
    ("plans/llmdata.py", "* 1000000) // greatest(len(w), 1) AS wlen_e6,"): ("per-row-bounded", 1),
    ("plans/llmdata.py", '.otherwise(F.expr("(n_hit * 1000000) DIV n_truth"))'):
        ("count-headroom", 1),
    ("plans/llmdata.py", "// GREATEST(n_tokens * 1000000 // tok_total, 1)"): ("oracle-only", 1),
    ("plans/llmdata.py", "CAST((CAST(SUM(length(bin(c1 // c2))) AS BIGINT) * 1000000)"):
        ("per-row-bounded", 1),
    ("plans/llmdata.py", "CAST((CAST(SUM(length(bin(total // cnt))) AS BIGINT) * 1000000)"):
        ("per-row-bounded", 1),
    ("plans/llmdata.py", "CAST((SUM({_fmt(SQL_BPE)}) * 1000000)"): ("oracle-only", 1),
    ("plans/llmdata.py", "CAST(COUNT(*) * 1000000 // {_RECALL_K * _N_IVF_Q} AS BIGINT)"):
        ("count-headroom", 1),
    ("plans/llmdata.py", "CAST(FLOOR(SQRT(CAST(n_tokens AS DOUBLE)) * 1000000)"):
        ("oracle-only", 1),
    ("plans/llmdata.py", "ELSE ((SELECT count(*) FROM hit) * 1000000)"): ("count-headroom", 1),
    ("plans/llmdata.py", 'F.expr("(sum_bits * 1000000) DIV n_bigrams").alias("mean_bits_e6"),'):
        ("per-row-bounded", 1),
    ("plans/llmdata.py", 'F.expr("(sum_bits * 1000000) DIV n_tokens").alias("mean_bits_e6"),'):
        ("per-row-bounded", 1),
    ("plans/llmdata.py", 'F.expr(f"n_hits * 1000000 DIV {_RECALL_K * _N_IVF_Q}")'):
        ("count-headroom", 1),
    ("plans/llmdata.py", 'f"(size(filter(w, x -> x IN ({stops}))) * 1000000)"'):
        ("per-row-bounded", 1),
    ("plans/llmdata.py", "n_tokens * 1000000 // tok_total AS natural_ppm,"): ("oracle-only", 1),
    ("plans/llmdata.py", "w_e6 * 1000000 // w_total AS weight_ppm,"): ("oracle-only", 1),
    ("plans/multimodal.py", '>= F.expr("(tot * 1000000) DIV nb")'): ("per-row-bounded", 1),
    ("plans/multimodal.py", "AND (ps * 1000000) // pn >= (tot * 1000000) // nb"):
        ("per-row-bounded", 1),
    ("plans/multimodal.py", 'F.expr("(ps * 1000000) DIV pn")'): ("per-row-bounded", 1),
    ("plans/scale_patterns.py", "* 1_000_000"): ("per-row-bounded", 1),
    ("plans/scale_patterns.py", "CAST(ROUND(value * 1000000) AS BIGINT) AS v6"):
        ("per-row-bounded", 1),
    ("plans/scale_patterns.py", "CAST({int(_DP_EPS * 1_000_000)} AS BIGINT) AS epsilon_e6"):
        ("constant", 1),
    ("plans/scale_patterns.py",
     'F.lit(int(_DP_EPS * 1_000_000)).cast("long").alias("epsilon_e6"),'):
        ("constant", 1),
    ("plans/scale_patterns.py", 'F.round(F.col("value") * 1_000_000).cast("long").alias("v6"),'):
        ("per-row-bounded", 1),
    ("plans/streaming_plans.py", "CAST(ROUND(value * 1000000) AS BIGINT) AS v6"):
        ("per-row-bounded", 1),
    ("plans/streaming_plans.py", "CAST(ROUND(value * 1000000) AS BIGINT) AS v6,"):
        ("per-row-bounded", 1),
    ("plans/streaming_plans.py", 'F.round(F.col("value") * 1_000_000).cast("long").alias("v6"),'):
        ("per-row-bounded", 3),
    ("plans/streaming_plans.py", "ORDER BY CAST(ROUND(value * 1000000) AS BIGINT) DESC,"):
        ("per-row-bounded", 1),
    ("plans/streaming_plans.py", "ROUND(CAST(SUM(CAST(ROUND(COALESCE(e.value, 0) * 1000000)"):
        ("per-row-bounded", 1),
    ("plans/streaming_plans.py",
     "_OOO_SHIFT_US = 3 * 3600 * 1_000_000  # disorder window (< the 6-h watermark)"):
        ("constant", 1),
    ("plans/timeseries.py", '"(2 * ra_dot * 1000000)"'): ("decimal-grid", 1),
    ("plans/timeseries.py", "(CAST(sum(converted) AS BIGINT) * 1000000)"): ("count-headroom", 1),
    ("plans/timeseries.py", "(n * 1000000) // CAST(SUM(n) OVER (PARTITION BY variant, src)"):
        ("count-headroom", 1),
    ("plans/timeseries.py", "(src, d): (n * 1_000_000) // tot[src]"): ("driver-python", 1),
    ("plans/timeseries.py",
     ').withColumn("rate_e6", F.expr("(n_converted * 1000000) DIV n_users"))'):
        ("count-headroom", 1),
    ("plans/timeseries.py", "* 1000000) // (t.n * t.s)"): ("oracle-only", 1),
    ("plans/timeseries.py", "- ((t.n + 1) * 1000000) // t.n, 0) AS gini_ppm"): ("oracle-only", 1),
    ("plans/timeseries.py", "AS BIGINT) * 1000000) // t.s AS top10pct_share_ppm,"):
        ("oracle-only", 1),
    ("plans/timeseries.py", "AS BIGINT) * 1000000) // t.s AS top1pct_share_ppm,"):
        ("oracle-only", 1),
    ("plans/timeseries.py", "CAST(ROUND(COALESCE(value, 0) * 1000000) AS BIGINT) AS v_f"):
        ("per-row-bounded", 3),
    ("plans/timeseries.py", "CAST(SUM(CAST(ROUND(COALESCE(value, 0) * 1000000) AS BIGINT))"):
        ("per-row-bounded", 1),
    ("plans/timeseries.py",
     "CAST(SUM(CAST(ROUND(COALESCE(value, 0) * 1000000) AS BIGINT)) OVER w"):
        ("per-row-bounded", 1),
    ("plans/timeseries.py", "CAST(SUM(CAST(ROUND(o_totalprice * 1000000) AS BIGINT))"):
        ("per-row-bounded", 1),
    ("plans/timeseries.py", 'F.round(F.coalesce(F.col("value"), F.lit(0.0)) * 1_000_000)'):
        ("per-row-bounded", 3),
    ("plans/timeseries.py", 'F.round(F.col("value") * 1_000_000).cast("long").alias("v"),'):
        ("per-row-bounded", 1),
    ("plans/timeseries.py", "THEN tr.p_e6 * 1000000000"): ("oracle-only", 1),
    ("plans/timeseries.py", "_MK_GAP_US = 30 * 60 * 1_000_000  # session gap, µs"):
        ("constant", 1),
    ("plans/timeseries.py", "_ROLL_WINDOW_US = 3_600 * 1_000_000  # 1 hour"): ("constant", 1),
    ("plans/timeseries.py", "_SESSION_GAP_US = 6 * 3600 * 1_000_000  # 6 hours"): ("constant", 1),
    ("plans/timeseries.py", "acc += pe6 * 1_000_000_000"): ("driver-python", 1),
    ("plans/timeseries.py", "list(CAST(ROUND(value * 1000000) AS BIGINT)"): ("per-row-bounded", 1),
    ("plans/tpch.py", "> (SELECT SUM(CAST(ROUND(i.c_acctbal * 1000000) AS BIGINT))"):
        ("per-row-bounded", 1),
    ("plans/tpch.py", "> (SELECT SUM(CAST(ROUND(i.o_totalprice * 1000000) AS BIGINT))"):
        ("per-row-bounded", 1),
    ("plans/tpch.py",
     "CAST(ROUND(l.l_extendedprice * (1 - l.l_discount) * 1000000) AS BIGINT) AS rev_fixed"):
        ("per-row-bounded", 1),
    ("plans/tpch.py",
     "CAST(ROUND(l.l_extendedprice * (1 - l.l_discount) * 1000000) AS BIGINT) AS vol_fixed"):
        ("per-row-bounded", 1),
    ("plans/tpch.py", "CAST(ROUND(o_totalprice * 1000000) AS BIGINT) AS price_fixed"):
        ("per-row-bounded", 1),
    ("plans/tpch.py", "CAST(SUM(CAST(ROUND(l_extendedprice * (1 - l_discount) * 1000000)"):
        ("per-row-bounded", 1),
    ("plans/tpch.py", "CAST(SUM(CAST(ROUND(l_quantity * 1000000) AS BIGINT))"):
        ("per-row-bounded", 2),
    ("plans/tpch.py", "CAST(SUM(CAST(ROUND(o.o_totalprice * 1000000) AS BIGINT))"):
        ("per-row-bounded", 1),
    ("plans/tpch.py", 'F.round(F.col("o_totalprice") * 1_000_000)'): ("per-row-bounded", 1),
    ("plans/tpch.py",
     "ROUND(SUM(CAST(ROUND(l_quantity * 1000000) AS BIGINT)) / (COUNT(*) * 1000000.0), 4)"
     " AS avg_qty,"):
        ("per-row-bounded", 1),
    ("plans/tpch.py", "SELECT ROUND(SUM(CAST(ROUND(l.l_extendedprice * 1000000) AS BIGINT))"):
        ("per-row-bounded", 1),
    ("plans/tpch.py", "SUM(CAST(ROUND(l_extendedprice * (1 - l_discount) * 1000000)"):
        ("per-row-bounded", 1),
    ("plans/tpch.py", "WHERE 2 * CAST(ROUND(l.l_quantity * 1000000) AS BIGINT) * pa.cnt"):
        ("per-row-bounded", 1),
    ("plans/tpch.py", "WHERE CAST(ROUND(c.c_acctbal * 1000000) AS BIGINT)"):
        ("per-row-bounded", 1),
    ("plans/tpch.py", "WHERE CAST(ROUND(o_totalprice * 1000000) AS BIGINT) * ("):
        ("per-row-bounded", 1),
    # the session gap in µs, a Python int per call (cannot wrap)
    ("streaming/pipeline.py", "gap_us = gap_minutes * 60 * 1_000_000"): ("constant", 1),
}

BIGINT = Lint(
    name="bigint",
    # integer-literal widening multiply; the (?![\w.]) / (?<![\w.]) guards
    # leave float literals (1000000.0: a DOUBLE multiply cannot wrap) and
    # identifiers out
    pattern=re.compile(
        r"(\*\s*1_?000_?000(?:_?000)?(?![\w.]))"
        r"|((?<![\w.])1_?000_?000(?:_?000)?\s*\*)"
    ),
    # on the DECIMAL(38,0) grid, visibly, on the same line
    exempt=re.compile(r"DECIMAL\(38,0\)|decimal\(38,0\)"),
    heading="## Integer ppm grids",
    categories=(
        "decimal-grid", "per-row-bounded", "count-headroom", "oracle-only", "driver-python",
        "constant",
    ),
    fix="a multiplicand summing an unbounded cohort goes on the DECIMAL(38,0) grid",
    ledger=_BIGINT_SITES,
)

_WINDOW_SITES = {
    # the as-of BY key: user_id at its one caller
    ("operators/asof.py", "Window.partitionBy(*keys)"): ("high-cardinality-key", 1),
    # best match per incoming doc
    ("operators/dedup.py", 'w = Window.partitionBy("id_b").orderBy('): ("high-cardinality-key", 1),
    # per-node min label; a hub's neighbourhood shrinks each round
    ("operators/graph.py", 'w = Window.partitionBy("u")'): ("high-cardinality-key", 1),
    # SCD2 versions per entity key (user_id at its one caller)
    ("operators/scd.py", "w = Window.partitionBy(key).orderBy(ts, tiebreak)"):
        ("high-cardinality-key", 1),
    ("operators/scd.py", 'w2 = Window.partitionBy(key).orderBy("version")'):
        ("high-cardinality-key", 1),
    ("operators/similarity.py", 'w = Window.partitionBy("query_id").orderBy('):
        ("high-cardinality-key", 2),
    ("operators/similarity.py",
     'w = Window.partitionBy("query_id").orderBy(F.col("exact_fixed"), F.col("cand_id"))'):
        ("high-cardinality-key", 1),
    # KMV rank per event_type, output capped at k (kmv_distinct docstring)
    ("operators/sketches.py", "Window.partitionBy(group_col).orderBy(F.col(hash_col))"):
        ("bounded-vocab-audited", 1),
    ("operators/transform.py", 'w = Window.partitionBy("event_id").orderBy('):
        ("high-cardinality-key", 1),
    # MERGE keep-one per natural key (event_id, order line, ...)
    ("operators/warehouse.py", "w = Window.partitionBy(key).orderBy("):
        ("high-cardinality-key", 2),
    # sorted surrogate ids over the new distinct keys of an enumerable dim
    ("operators/warehouse.py", "w = Window.orderBy(natural_key)  # tiny enumerable dim: fine"):
        ("reduced-input", 1),
    ("plans/analytics.py", 'Window.partitionBy("user_id", "event")'): ("high-cardinality-key", 1),
    # corpus-packing prefix sums per source
    ("plans/llmdata.py", 'Window.partitionBy("source")'): ("bounded-vocab-audited", 2),
    ("plans/llmdata.py",
     'w = Window.partitionBy("doc_id").orderBy(F.col("score").desc(), F.col("tok"))'):
        ("high-cardinality-key", 1),
    # per-language perplexity terciles
    ("plans/llmdata.py", 'w = Window.partitionBy("lang").orderBy("mean_bits_e6", "doc_id")'):
        ("bounded-vocab-audited", 1),
    ("plans/llmdata.py", 'w = Window.partitionBy("query_id").orderBy('):
        ("high-cardinality-key", 5),
    ("plans/llmdata.py", 'w1 = Window.partitionBy("lang", "_salt").orderBy("h", "doc_id")'):
        ("salted-two-phase", 1),
    # per-salt survivors, <= SALTS*M rows per language
    ("plans/llmdata.py", 'w2 = Window.partitionBy("lang").orderBy("h", "doc_id")'):
        ("reduced-input", 1),
    ("plans/llmdata.py", 'w_adc = Window.partitionBy("query_id").orderBy('):
        ("high-cardinality-key", 1),
    ("plans/llmdata.py", 'w_rank = Window.partitionBy("component").orderBy('):
        ("high-cardinality-key", 1),
    ("plans/llmdata.py", 'w_size = Window.partitionBy("component")'): ("high-cardinality-key", 1),
    ("plans/llmdata.py", 'wh = Window.partitionBy("query_id").orderBy("hamming", "cand_id")'):
        ("high-cardinality-key", 1),
    ("plans/llmdata.py", 'wr = Window.partitionBy("query_id").orderBy('):
        ("high-cardinality-key", 1),
    # heavy-hitters top-K rank
    ("plans/scale_patterns.py", 'Window.partitionBy("event_type").orderBy('):
        ("bounded-vocab-audited", 1),
    # zone-map linear-layout comparator
    ("plans/scale_patterns.py", "w = Window.orderBy("): ("layout-simulation", 1),
    ("plans/streaming_plans.py", 'Window.partitionBy("user_id")'): ("high-cardinality-key", 1),
    ("plans/timeseries.py", 'wp = Window.partitionBy("user_id", "sid")'):
        ("high-cardinality-key", 1),
    # histogram buckets
    ("plans/timeseries.py", 'Window.orderBy("bucket").rowsBetween('): ("reduced-input", 1),
    # KMV sketches, output capped at K
    ("plans/timeseries.py", 'Window.partitionBy("event_type", "day").orderBy(F.col("h"))'):
        ("bounded-vocab-audited", 1),
    ("plans/timeseries.py", 'Window.partitionBy("event_type", "par").orderBy(F.col("h"))'):
        ("bounded-vocab-audited", 1),
    # kmv_intersect union rank over rows already capped at 2K per type
    ("plans/timeseries.py", 'Window.partitionBy("event_type").orderBy(F.col("h"))'):
        ("reduced-input", 1),
    # concentration histogram rows
    ("plans/timeseries.py", 'Window.partitionBy("pid")'): ("reduced-input", 1),
    ("plans/timeseries.py", 'Window.partitionBy("user_id")'): ("high-cardinality-key", 1),
    # monthly revenue series
    ("plans/timeseries.py", 'w = Window.orderBy("month_us")'): ("reduced-input", 1),
    ("plans/timeseries.py", 'w = Window.partitionBy("user_id")'): ("high-cardinality-key", 1),
    ("plans/timeseries.py", 'w = Window.partitionBy("user_id").orderBy("t", "event_id")'):
        ("high-cardinality-key", 1),
    ("plans/timeseries.py",
     'w = Window.partitionBy("user_id").orderBy(F.col("ts"), F.col("event_id"))'):
        ("high-cardinality-key", 2),
    # per-day revenue aggregate (lower median)
    ("plans/timeseries.py", "w_all = Window.partitionBy()"): ("reduced-input", 1),
    # one row per spark partition
    ("plans/timeseries.py",
     'w_off = Window.orderBy("pid").rowsBetween(Window.unboundedPreceding, -1)'):
        ("reduced-input", 1),
    # per-day revenue aggregate (lower median)
    ("plans/timeseries.py", 'w_rn = Window.orderBy(F.col(val), F.col("day"))'):
        ("reduced-input", 1),
    ("plans/timeseries.py", 'wp = Window.partitionBy("purchase_id")'): ("high-cardinality-key", 1),
    ("plans/timeseries.py", 'ws = Window.partitionBy("user_id", "sid").orderBy("t", "event_id")'):
        ("high-cardinality-key", 1),
    # price-bucket histogram
    ("plans/tpch.py", 'Window.partitionBy("l_returnflag")'): ("reduced-input", 1),
    # per-nation deciles; the docstring routes global quantiles elsewhere
    ("plans/tpch.py", 'w = Window.partitionBy("c_nationkey").orderBy('):
        ("bounded-vocab-audited", 1),
    # per-(cohort, age) cells
    ("plans/tpch.py", 'w = Window.partitionBy("cohort_m").orderBy("age_months")'):
        ("reduced-input", 1),
    ("plans/tpch.py", 'w = Window.partitionBy("l_partkey")'): ("high-cardinality-key", 1),
    ("plans/tpch.py", 'w = Window.partitionBy("o_custkey")'): ("high-cardinality-key", 1),
    ("plans/tpch.py", 'w = Window.partitionBy("o_custkey").orderBy('): ("high-cardinality-key", 1),
    ("plans/tpch.py", 'w = Window.partitionBy("p_partkey").orderBy('): ("high-cardinality-key", 1),
    # price-bucket histogram
    ("plans/tpch.py", 'w_all = Window.partitionBy("l_returnflag")'): ("reduced-input", 1),
    # bucket-capped, ~n/|buckets| rows per group
    ("plans/tpch.py", 'w_rank = Window.partitionBy("c_flag", "ptag").orderBy("l_extendedprice")'):
        ("bounded-vocab-audited", 1),
    # streaming upsert: keep one row per event
    ("streaming/pipeline.py", 'w = Window.partitionBy("event_id").orderBy('):
        ("high-cardinality-key", 1),
}

WINDOW = Lint(
    name="window",
    # the head of a window chain; a chained .orderBy after
    # Window.partitionBy(...) belongs to the same declaration
    pattern=re.compile(r"Window\s*\.\s*(partitionBy|orderBy)\s*\("),
    heading="## Window-partitioning ledger",
    categories=(
        "high-cardinality-key", "reduced-input", "bounded-vocab-audited", "salted-two-phase",
        "layout-simulation",
    ),
    fix="a window materializes each partition group in one task; say why its groups stay small",
    ledger=_WINDOW_SITES,
)

_BROADCAST_SITES = {
    ("etl.py", 'fact.join(F.broadcast(dim_u), on="user_id", how="left")'): ("derived-dim", 1),
    ("operators/constraints.py", "keys = F.broadcast(keys)"): ("caller-attested", 1),
    # LSH-pruned pairs entering the exact-Jaccard verify
    ("operators/dedup.py", "F.broadcast(pairs)"): ("lsh-candidates", 1),
    # ADC survivors, |Q|*R rows
    ("operators/similarity.py", '.join(F.broadcast(cands), "cand_id")'): ("lsh-candidates", 1),
    ("operators/similarity.py", "c.crossJoin(F.broadcast(q))"): ("query-cohort", 1),
    ("operators/transform.py",
     'clean = derived.join(F.broadcast(users_dim), on="user_id", how="left").drop('):
        ("derived-dim", 1),
    ("operators/warehouse.py", '.join(F.broadcast(dim_c), on="customer_name", how="left")'):
        ("derived-dim", 1),
    ("operators/warehouse.py", '.join(F.broadcast(dim_p), on="sku", how="left")'):
        ("derived-dim", 1),
    ("operators/warehouse.py", 'cleaned.join(F.broadcast(dim_et), on="event", how="left")'):
        ("derived-dim", 1),
    ("plans/analytics.py", 'F.broadcast(cust), ev["user_id"] == cust["c_custkey"], "left"'):
        ("sf-dim-pin", 1),
    # 1-row max(doc_id) count
    ("plans/llmdata.py", ".crossJoin(F.broadcast(n))"): ("one-row-total", 2),
    # the decontamination benchmark's gram set
    ("plans/llmdata.py", '.join(F.broadcast(bench), on="g")'): ("query-cohort", 1),
    # the 4-row _CURVE_TS literal
    ("plans/llmdata.py", 'F.broadcast(local_df(spark, [(t,) for t in _CURVE_TS], "t double"))'):
        ("literal-const", 1),
    ("plans/llmdata.py", "F.broadcast(lut),"): ("fitted-model", 2),
    ("plans/llmdata.py", "c.crossJoin(F.broadcast(q))"): ("query-cohort", 1),
    # 5-row vocab-growth checkpoint grid
    ("plans/llmdata.py", "first.crossJoin(F.broadcast(cps))"): ("bounded-agg", 1),
    ("plans/llmdata.py", "per.crossJoin(F.broadcast(tot))"): ("one-row-total", 1),
    ("plans/llmdata.py", 'r.join(F.broadcast(qe), on="query_id")'): ("query-cohort", 1),
    ("plans/llmdata.py", "words.crossJoin(F.broadcast(q))"): ("query-cohort", 1),
    ("plans/scale_patterns.py", ".crossJoin(F.broadcast(exact))"): ("one-row-total", 1),
    ("plans/scale_patterns.py", '.crossJoin(F.broadcast(stats(lp, "lin")))'): ("one-row-total", 1),
    # bloom-filter word array, 2^bits / 64 longs
    ("plans/scale_patterns.py", "F.broadcast(w),"): ("fitted-model", 1),
    ("plans/scale_patterns.py", "li.crossJoin(F.broadcast(bounds))"): ("one-row-total", 1),
    ("plans/scale_patterns.py", "li.crossJoin(F.broadcast(bounds)).select("): ("one-row-total", 1),
    # sampled bloom truth set
    ("plans/scale_patterns.py", 'li.join(F.broadcast(truth), on="l_orderkey", how="left")'):
        ("query-cohort", 1),
    ("plans/scale_patterns.py", "return agg.crossJoin(F.broadcast(n_bits)).select("):
        ("one-row-total", 1),
    ("plans/streaming_plans.py",
     '.join(F.broadcast(cust), events["user_id"] == cust["c_custkey"])'):
        ("sf-dim-pin", 1),
    ("plans/timeseries.py", "dev = day_rev.crossJoin(F.broadcast(med)).withColumn("):
        ("one-row-total", 1),
    ("plans/timeseries.py", "dev.crossJoin(F.broadcast(mad))"): ("one-row-total", 1),
    ("plans/timeseries.py", "ed = e.crossJoin(F.broadcast(mx))"): ("one-row-total", 1),
    # calendar-day span grid
    ("plans/timeseries.py", "grid = types.crossJoin(F.broadcast(cal))"): ("bounded-agg", 1),
    # per-pid offsets, rows = #partitions
    ("plans/timeseries.py", 'h2 = h1.join(F.broadcast(offs), "pid").select('): ("bounded-agg", 1),
    ("plans/timeseries.py", "h2.crossJoin(F.broadcast(totals))"): ("one-row-total", 1),
    ("plans/timeseries.py", "v.crossJoin(F.broadcast(st))"): ("one-row-total", 1),
    ("plans/tpch.py", ".crossJoin(F.broadcast(stats))"): ("one-row-total", 1),
    ("plans/tpch.py", '.join(F.broadcast(cust), orders["o_custkey"] == cust["c_custkey"])'):
        ("sf-dim-pin", 1),
    ("plans/tpch.py", '.join(F.broadcast(n1), supp["s_nationkey"] == F.col("n1_key"))'):
        ("static-dim", 2),
    ("plans/tpch.py", '.join(F.broadcast(n2), cust["c_nationkey"] == F.col("n2_key"))'):
        ("static-dim", 2),
    ("plans/tpch.py", '.join(F.broadcast(nation), cust["c_nationkey"] == nation["n_nationkey"])'):
        ("static-dim", 2),
    ("plans/tpch.py", '.join(F.broadcast(nation), supp["s_nationkey"] == nation["n_nationkey"])'):
        ("static-dim", 3),
    ("plans/tpch.py", '.join(F.broadcast(part), li["l_partkey"] == part["p_partkey"])'):
        ("sf-dim-pin", 1),
    ("plans/tpch.py", '.join(F.broadcast(part), sq["l_partkey"] == part["p_partkey"])'):
        ("sf-dim-pin", 1),
    ("plans/tpch.py", '.join(F.broadcast(region), F.col("n2_rkey") == region["r_regionkey"])'):
        ("static-dim", 1),
    ("plans/tpch.py",
     '.join(F.broadcast(region), nation["n_regionkey"] == region["r_regionkey"])'):
        ("static-dim", 2),
    ("plans/tpch.py", '.join(F.broadcast(supp), F.col("_late_suppkey") == supp["s_suppkey"])'):
        ("sf-dim-pin", 1),
    ("plans/tpch.py", '.join(F.broadcast(supp), li["l_suppkey"] == supp["s_suppkey"])'):
        ("sf-dim-pin", 3),
    ("plans/tpch.py", '.join(F.broadcast(supp), pairs["l_suppkey"] == supp["s_suppkey"])'):
        ("sf-dim-pin", 1),
    ("plans/tpch.py", '.join(F.broadcast(supp), rev["l_suppkey"] == supp["s_suppkey"])'):
        ("sf-dim-pin", 1),
    ("plans/tpch.py", '.join(F.broadcast(supp), sq["l_suppkey"] == supp["s_suppkey"])'):
        ("sf-dim-pin", 1),
    ("plans/tpch.py", "F.broadcast(bad_supp),"): ("sf-dim-pin", 1),
    # percentile-boundary candidates, <= flags x percentile tags
    ("plans/tpch.py", "F.broadcast(cand),"): ("bounded-agg", 1),
    ("plans/tpch.py", 'F.broadcast(cust), orders["o_custkey"] == cust["c_custkey"]'):
        ("sf-dim-pin", 1),
    ("plans/tpch.py", "F.broadcast(nation),"): ("static-dim", 1),
    ("plans/tpch.py", "F.broadcast(supp),"): ("sf-dim-pin", 1),
    ("plans/tpch.py", 'li.join(F.broadcast(part), li["l_partkey"] == part["p_partkey"])'):
        ("sf-dim-pin", 3),
    ("plans/tpch.py", 'pairs.join(F.broadcast(part), F.col("l_partkey") == part["p_partkey"])'):
        ("sf-dim-pin", 1),
    ("plans/tpch.py", 'pairs.join(F.broadcast(part), pairs["l_partkey"] == part["p_partkey"])'):
        ("sf-dim-pin", 1),
    ("plans/tpch.py", "pr.crossJoin(F.broadcast(tot))"): ("one-row-total", 1),
    ("plans/tpch.py", "rev.crossJoin(F.broadcast(max_rev))"): ("one-row-total", 1),
    # per-(file, split) line offsets, rows = #splits
    ("sources/ingest.py", 'txt.join(F.broadcast(off), on=["_file", "_pid"])'): ("bounded-agg", 1),
}

BROADCAST = Lint(
    name="broadcast",
    pattern=re.compile(r"\bF\.broadcast\("),
    heading="## Broadcast-size ledger",
    categories=(
        "static-dim", "sf-dim-pin", "derived-dim", "one-row-total", "bounded-agg",
        "fitted-model", "literal-const", "query-cohort", "lsh-candidates", "caller-attested",
    ),
    fix="a relation that grows with the corpus must not be broadcast",
    ledger=_BROADCAST_SITES,
)

_DRIVER_SITES = {
    # the CC/BFS fast paths probe limit(threshold+1) rows; larger graphs
    # take the distributed rounds
    ("operators/graph.py", "probe = ed.limit(driver_threshold + 1).collect()"):
        ("threshold-gated", 1),
    ("operators/graph.py", "ed_rows = ed.limit(driver_threshold + 1).collect()"):
        ("threshold-gated", 1),
    ("operators/graph.py", "sd_rows = sd_plan.limit(driver_threshold + 1).collect()"):
        ("threshold-gated", 1),
    ("operators/layout.py", ").collect()[0]"): ("post-aggregate-bounded", 1),
    ("operators/similarity.py",
     "corpus.filter(F.col(id_col) < n_cells).select(id_col, vec_col).collect(),"):
        ("fitted-model-constants", 1),
    ("operators/similarity.py",
     "queries.select(id_col, vec_col).collect(), key=lambda r: r[id_col]"):
        ("fitted-model-constants", 1),
    ("operators/similarity.py", ".collect()"): ("post-aggregate-bounded", 1),
    # MERGE's touched partitions (batch ∪ old keys, one query) and the
    # erasure's partitions holding the users
    ("operators/warehouse.py", ".collect()"): ("partition-metadata", 2),
    ("operators/warehouse.py", "base = existing.agg(F.max(id_col)).collect()[0][0] or 0"):
        ("post-aggregate-bounded", 1),
    ("plans/llmdata.py", ".coalesce(1)"): ("post-aggregate-bounded", 1),
    ("plans/timeseries.py", "rows = [(r.src, r.dst, r.n) for r in counts.collect()]"):
        ("post-aggregate-bounded", 1),
    ("plans/streaming_plans.py",
     'tagged.filter(F.col("_f") == k).drop("_f").coalesce(1).write.mode('):
        ("test-fixture-staging", 1),
    # per-(file, split) line count and first row id, rows = #splits
    ("sources/ingest.py", ".collect()"): ("partition-metadata", 1),
    ("sources/ingest.py",
     'df.coalesce(1).write.mode("overwrite").option("header", True).csv(path)'):
        ("tiny-export-parity", 1),
    ("sources/ecommerce_loader.py", "stats = intl_loader_stats(df).collect()[0].asDict()"):
        ("post-aggregate-bounded", 1),
    ("sources/ecommerce_loader.py", "stats = amazon_loader_stats(df).collect()[0].asDict()"):
        ("post-aggregate-bounded", 1),
}

DRIVER = Lint(
    name="driver",
    pattern=re.compile(r"\.collect\(\)|\.toPandas\(\)|\.coalesce\(1\)"),
    heading="## Driver-materialization ledger",
    categories=(
        "post-aggregate-bounded", "partition-metadata", "fitted-model-constants",
        "threshold-gated", "tiny-export-parity", "test-fixture-staging",
    ),
    fix="a collect/toPandas/coalesce(1) must be bounded by construction",
    ledger=_DRIVER_SITES,
)

_GROUP_SITES = {
    # span-dedup reassembly: one doc's kept spans
    ("operators/dedup.py", '"collect_list(CASE WHEN NOT dup THEN struct(k, txt) END)),"'):
        ("entity-bounded", 1),
    # one LSH bucket's members, capped by max_bucket_width
    ("operators/dedup.py", 'F.array_sort(F.collect_set(id_col)).alias("_ids")'):
        ("entity-bounded", 1),
    ("operators/dedup.py", 'F.collect_set(F.when(split, F.col(id_col))).alias("_ex"),'):
        ("entity-bounded", 1),
    ("operators/dedup.py", 'F.collect_set(F.when(~split, F.col(id_col))).alias("_in"),'):
        ("entity-bounded", 1),
    # one order's distinct parts (TPC-H: <= 7 lines per order)
    ("plans/tpch.py", '.agg(F.sort_array(F.collect_set("l_partkey")).alias("parts"))'):
        ("entity-bounded", 1),
}

GROUP = Lint(
    name="group",
    # also inside F.expr / SQL strings: a buffer smuggled through expr()
    # is the same buffer
    pattern=re.compile(r"\bcollect_list\(|\bcollect_set\(|\barray_agg\("),
    heading="## Per-group accumulation ledger",
    categories=("entity-bounded",),
    fix="a corpus-scale fan-in must be restructured as an aggregate or a join",
    ledger=_GROUP_SITES,
)

_WIDTH_SITES = {
    ("operators/layout.py", 'zed.repartitionByRange(n_files, "__z")'): ("caller-attested", 1),
    # n_out = ceil(total_bytes / target_bytes)
    ("operators/maintenance.py", 'df.repartition(n_out).write.mode("overwrite").parquet(staging)'):
        ("data-derived", 1),
    # defaultParallelism, passed on the next line
    ("plans/llmdata.py", 'emb = load(spark, sf_dir, "embeddings").repartition('):
        ("session-width", 1),
    ("plans/llmdata.py", "return docs.repartition(spark.sparkContext.defaultParallelism)"):
        ("session-width", 1),
    ("plans/timeseries.py", 'e.repartition(n_part, "user_id")'): ("session-width", 1),
    # no explicit N: spark.sql.shuffle.partitions
    ("plans/timeseries.py", 'h.repartitionByRange("c").withColumn('): ("session-width", 1),
    ("plans/tpch.py", 'pairs.repartition(n_shuffle, "pair")'): ("session-width", 1),
}

WIDTH = Lint(
    name="width",
    # DataFrame width controls.  (?<!\bF) drops only the column function
    # F.coalesce, so a receiver ending in a capital (dfA.coalesce) stays
    # in; .coalesce(1) belongs to the driver-materialization ledger.
    pattern=re.compile(
        r"(?<!\bF)\.(?:repartition|repartitionByRange)\(|(?<!\bF)\.coalesce\((?!1\))"
    ),
    heading="## Partition-width ledger",
    categories=("session-width", "data-derived", "caller-attested"),
    fix="a width derives from the session or the data, never from the bench geometry",
    ledger=_WIDTH_SITES,
)

_PERSIST_SITES = {
    ("functions/caching.py", "prev.unpersist(blocking=False)"): ("memo-managed", 1),
    ("functions/caching.py", "df.persist(storage_level)"): ("memo-managed", 1),
    ("functions/caching.py", "else df.persist()"): ("memo-managed", 1),
    ("functions/caching.py", "ck._jdf.queryExecution().logical().rdd().unpersist(False)"):
        ("call-scoped", 1),
    # docs_boilerplate_ngrams: 3 consumers of the exploded shingles
    ("plans/scale_patterns.py", 'ex = sh.select("doc_id", F.explode("g").alias("g")).persist('):
        ("memo-bounded-intermediate", 1),
    # docs_winnow_overlap: 3 consumers of the Arrow winnow kernel
    ("plans/scale_patterns.py",
     "ex = X.winnow_fingerprints(norm).persist(StorageLevel.MEMORY_AND_DISK)"):
        ("memo-bounded-intermediate", 1),
    # q15 shape: the revenue pre-aggregate feeds the max and the filter
    ("plans/tpch.py", ".persist(StorageLevel.MEMORY_AND_DISK)"): ("memo-bounded-intermediate", 1),
}

PERSIST = Lint(
    name="persist",
    # call-shaped only: a receiver character, or a line-leading dot (a
    # broken method chain), before the dot; prose like ``.persist()``
    # has a backtick there
    pattern=re.compile(r"(?:[\w\)\]]\s*|^\s*)\.\s*(persist|cache|unpersist)\s*\("),
    heading="## Persist-lifecycle ledger",
    categories=("memo-managed", "memo-bounded-intermediate", "call-scoped"),
    fix="a persist with no owned lifetime leaks storage on every invocation",
    ledger=_PERSIST_SITES,
)

_CROSSJOIN_SITES = {
    ("operators/similarity.py", "c.crossJoin(F.broadcast(q))"): ("broadcast-constant", 1),
    # the broadcast of the _CURVE_TS literal starts on the next line
    ("plans/llmdata.py", ".crossJoin("): ("broadcast-constant", 1),
    ("plans/llmdata.py", ".crossJoin(F.broadcast(n))"): ("broadcast-constant", 2),
    # docs_ngram_jaccard: exact all-pairs on a bounded sample
    ("plans/llmdata.py", "a.crossJoin(b)"): ("bounded-sample-baseline", 1),
    ("plans/llmdata.py", "c.crossJoin(F.broadcast(q))"): ("broadcast-constant", 1),
    ("plans/llmdata.py", "first.crossJoin(F.broadcast(cps))"): ("broadcast-constant", 1),
    ("plans/llmdata.py", "per.crossJoin(F.broadcast(tot))"): ("broadcast-constant", 1),
    ("plans/llmdata.py", "words.crossJoin(F.broadcast(q))"): ("broadcast-constant", 1),
    ("plans/scale_patterns.py", ".crossJoin(F.broadcast(exact))"): ("broadcast-constant", 1),
    ("plans/scale_patterns.py", '.crossJoin(F.broadcast(stats(lp, "lin")))'):
        ("broadcast-constant", 1),
    ("plans/scale_patterns.py", "li.crossJoin(F.broadcast(bounds))"): ("broadcast-constant", 1),
    ("plans/scale_patterns.py", "li.crossJoin(F.broadcast(bounds)).select("):
        ("broadcast-constant", 1),
    ("plans/scale_patterns.py", "return agg.crossJoin(F.broadcast(n_bits)).select("):
        ("broadcast-constant", 1),
    ("plans/timeseries.py", "dev = day_rev.crossJoin(F.broadcast(med)).withColumn("):
        ("broadcast-constant", 1),
    ("plans/timeseries.py", "dev.crossJoin(F.broadcast(mad))"): ("broadcast-constant", 1),
    ("plans/timeseries.py", "ed = e.crossJoin(F.broadcast(mx))"): ("broadcast-constant", 1),
    ("plans/timeseries.py", "grid = types.crossJoin(F.broadcast(cal))"): ("broadcast-constant", 1),
    ("plans/timeseries.py", "h2.crossJoin(F.broadcast(totals))"): ("broadcast-constant", 1),
    # A/B arms: each side a 1-row filtered aggregate
    ("plans/timeseries.py", "return a.crossJoin(b).select("): ("one-row-aggregate", 1),
    # totals: a 1-row global aggregate
    ("plans/timeseries.py", "return totals.crossJoin(shares).select("): ("one-row-aggregate", 1),
    ("plans/timeseries.py", "v.crossJoin(F.broadcast(st))"): ("broadcast-constant", 1),
    ("plans/tpch.py", ".crossJoin(F.broadcast(stats))"): ("broadcast-constant", 1),
    ("plans/tpch.py", "pr.crossJoin(F.broadcast(tot))"): ("broadcast-constant", 1),
    ("plans/tpch.py", "rev.crossJoin(F.broadcast(max_rev))"): ("broadcast-constant", 1),
}

CROSSJOIN = Lint(
    name="crossjoin",
    pattern=re.compile(r"\.crossJoin\("),
    heading="## UDF + crossJoin ledger",
    categories=("broadcast-constant", "one-row-aggregate", "bounded-sample-baseline"),
    fix="a Cartesian product needs a constant-sized side",
    ledger=_CROSSJOIN_SITES,
)

UDF = Lint(
    name="udf",
    # row-at-a-time forms only: F.udf(...), udf(...), @udf, @F.udf; the
    # Arrow-batched pandas_udf / applyInPandas / mapInPandas do not match
    pattern=re.compile(r"(?<!pandas_)\budf\s*\(|@\s*(?:F\s*\.\s*)?udf\b"),
    heading="## UDF + crossJoin ledger",
    categories=(),
    fix="use column expressions or an Arrow-batched pandas_udf/applyInPandas/mapInPandas",
    ledger={},  # the package allows no row-at-a-time Python UDF
)

LINTS = {
    lint.name: lint
    for lint in (BIGINT, WINDOW, BROADCAST, DRIVER, GROUP, WIDTH, PERSIST, CROSSJOIN, UDF)
}


# -- rules that belong to one lint ---------------------------------------

# A global window has no partition key: Window.orderBy as the chain head,
# or partitionBy with nothing before the closing paren.
GLOBAL_WINDOW = re.compile(r"Window\s*\.\s*(orderBy\s*\(|partitionBy\s*\(\s*\))")
GLOBAL_SAFE = ("reduced-input", "layout-simulation")


def misclassified_global_windows(ledger: dict) -> list:
    """Global windows, which run their whole input through one task,
    classified as anything but a global-safe category."""
    return sorted(
        (key, cat)
        for key, (cat, _n) in ledger.items()
        if GLOBAL_WINDOW.search(key[1]) and cat not in GLOBAL_SAFE
    )


def memo_bound_violations(ledger: dict, root: str = PKG_DIR) -> list:
    """``memo-bounded-intermediate`` holds only inside the memoized builder
    layer, ``plans/``, whose ``register`` memoizes by default."""
    bad = [
        f"{rel}: memo-bounded-intermediate outside plans/"
        for (rel, _line), (cat, _n) in ledger.items()
        if cat == "memo-bounded-intermediate" and not rel.startswith("plans/")
    ]
    with open(os.path.join(root, "plans", "__init__.py")) as f:
        if "memoize: bool = True" not in f.read():
            bad.append("plans/__init__.py: register no longer memoizes by default")
    return bad


def scoped_release_lines(src: str) -> set[int]:
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


def unscoped_releases(ledger: dict, root: str = PKG_DIR) -> list:
    """``call-scoped`` sites that are not in the ``finally`` of a
    materializing ``@contextmanager``, where an error could skip them."""
    bad = []
    for (rel, line), (cat, _n) in ledger.items():
        if cat != "call-scoped":
            continue
        with open(os.path.join(root, rel)) as f:
            src = f.read()
        scoped = scoped_release_lines(src)
        hits = [i for i, text in enumerate(src.splitlines(), 1) if text.strip() == line]
        bad += [f"{rel}:{i}" for i in hits if i not in scoped] or (
            [] if hits else [f"{rel}: {line!r} not found"]
        )
    return bad


_WIDTH_LITERAL = re.compile(
    r"(?<!\bF)\.(?:repartition|repartitionByRange|coalesce)\(\s*(\d+)"
)


def bare_width_literals(root: str = PKG_DIR) -> list:
    """Sites passing a bare integer > 1 as the width, ledgered or not: a
    width arrives through a named value whose derivation the ledger
    adjudicates."""
    return [
        f"{rel}:{i}: {line.strip()}"
        for rel, lines, codes in sources(root)
        for i, (line, code) in enumerate(zip(lines, codes), 1)
        if (m := _WIDTH_LITERAL.search(code)) and int(m.group(1)) > 1
    ]
