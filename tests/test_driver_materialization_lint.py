"""Driver-materialization lint (r10, companion to the BIGINT-grid lint):
every `.collect()`, `.toPandas()`, and `.coalesce(1)` in the package is a
potential 100 TB scale-killer — an unbounded collect OOMs the driver, and
a coalesce(1) funnels the whole relation through one task.  The r1-r9
reviews audited each site by hand; this test makes the audit structural.

Every site must be allowlisted under one of:

  post-aggregate-bounded  collect/first of an AGGREGATE whose cardinality
                          is fixed by construction (1-row min/max or
                          counters, <= n_cells Lloyd partials, <= (C+1)(C+2)
                          Markov transition counts, <= 16-row centroid
                          reports coalesced instead of globally sorted)
  partition-metadata      rows are one-per-touched-partition/file (merge
                          partition pruning, per-file ingest counters) —
                          O(#partitions), not O(#rows)
  fitted-model-constants  the fitted-model / query-set constants a
                          distributed assignment closes over (IVF seed
                          centroids <= n_cells, ANN query set <= N_IVF_Q)
  threshold-gated         a driver fast path behind an explicit edge/seed
                          count threshold; larger graphs take the
                          distributed BSP route instead
  tiny-export-parity      the reference's single-file CSV export (SURVEY
                          S7) — parity behavior, documented as confined
                          to tiny exports
  test-fixture-staging    builds replay fixtures for the streaming tests
                          at test SF only; never on a production path

A NEW collect/toPandas/coalesce(1) fails until classified here — so the
next contributor's driver-side loop is caught in review, not on the
cluster.  Keys are (package-relative path, stripped source line): stable
across line drift, re-classified on any content edit; stale entries fail.
"""

import os
import re
from collections import Counter

_PKG_DIR = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "data_engineering_etl_demo_spark",
)

_PAT = re.compile(r"\.collect\(\)|\.toPandas\(\)|\.coalesce\(1\)")

_CATEGORIES = {
    "post-aggregate-bounded",
    "partition-metadata",
    "fitted-model-constants",
    "threshold-gated",
    "tiny-export-parity",
    "test-fixture-staging",
}

# Value = (category, expected occurrence count).  The count closes the
# ADVICE r10 gap: keys are (path, stripped line), so a NEW site whose
# stripped text happens to equal an existing generic entry (a second
# bare `.collect()` in the same file) would otherwise inherit the old
# classification silently.  With counts pinned, any added or removed
# occurrence of an allowlisted line fails until re-adjudicated.
_ALLOWLIST = {
    # r15: the CC/BFS fast paths probe with limit(threshold+1) — bounded
    # by construction (<= threshold+1 rows of two longs); over-threshold
    # graphs discard the probe and take the distributed star/BSP rounds
    ("operators/graph.py", "probe = ed.limit(driver_threshold + 1).collect()"):
        ("threshold-gated", 1),
    ("operators/graph.py",
     "ed_rows = ed.limit(driver_threshold + 1).collect()"):
        ("threshold-gated", 1),
    ("operators/graph.py",
     "sd_rows = sd_plan.limit(driver_threshold + 1).collect()"):
        ("threshold-gated", 1),
    ("operators/layout.py", ").collect()[0]"): ("post-aggregate-bounded", 1),
    ("operators/similarity.py",
     "corpus.filter(F.col(id_col) < n_cells).select(id_col, vec_col)"
     ".collect(),"): ("fitted-model-constants", 1),
    ("operators/similarity.py",
     "queries.select(id_col, vec_col).collect(), key=lambda r: r[id_col]"):
        ("fitted-model-constants", 1),
    ("operators/similarity.py", ".collect()"): ("post-aggregate-bounded", 1),
    ("operators/warehouse.py",
     "for r in updates.select(partition_by).distinct().collect()"):
        ("partition-metadata", 1),
    ("operators/warehouse.py", ".collect()"): ("partition-metadata", 2),
    ("operators/warehouse.py",
     "base = existing.agg(F.max(id_col)).collect()[0][0] or 0"):
        ("post-aggregate-bounded", 1),
    ("plans/llmdata.py", ".coalesce(1)"): ("post-aggregate-bounded", 1),
    ("plans/timeseries.py",
     "rows = [(r.src, r.dst, r.n) for r in counts.collect()]"):
        ("post-aggregate-bounded", 1),
    ("plans/streaming_plans.py",
     'tagged.filter(F.col("_f") == k).drop("_f").coalesce(1).write.mode('):
        ("test-fixture-staging", 1),
    # per-(file, split) line count and first row id: rows = #splits
    ("sources/ingest.py", ".collect()"): ("partition-metadata", 1),
    ("sources/ingest.py",
     'df.coalesce(1).write.mode("overwrite").option("header", True)'
     ".csv(path)"): ("tiny-export-parity", 1),
    ("sources/ecommerce_loader.py",
     "stats = intl_loader_stats(df).collect()[0].asDict()"):
        ("post-aggregate-bounded", 1),
    ("sources/ecommerce_loader.py",
     "stats = amazon_loader_stats(df).collect()[0].asDict()"):
        ("post-aggregate-bounded", 1),
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


def test_allowlist_categories_are_known():
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


def test_every_driver_materialization_is_classified():
    found = _scan()
    new = [k for k in found if k not in _ALLOWLIST]
    assert not new, (
        "unclassified driver-materialization site(s): a collect/"
        "toPandas/coalesce(1) must be bounded by construction and "
        f"classified in this allowlist before it ships: {new}"
    )


def test_allowlist_occurrence_counts_match():
    """ADVICE r10: a new occurrence of an already-allowlisted stripped
    line (a second bare `.collect()` in the same file) must fail until
    re-adjudicated, not ride the old classification — so the expected
    occurrence count is part of the allowlist entry."""
    found = _scan()
    drift = {
        k: (exp, found.get(k, 0))
        for k, (_cat, exp) in _ALLOWLIST.items()
        if found.get(k, 0) != exp
    }
    assert not drift, (
        "driver-materialization occurrence drift (key: expected, found) — "
        f"re-adjudicate each site and update the count: {drift}"
    )


def test_allowlist_has_no_stale_entries():
    found = _scan()
    stale = [k for k in _ALLOWLIST if k not in found]
    assert not stale, (
        "allowlist entries matching no current source line (site removed "
        f"or edited — re-classify the new form): {stale}"
    )
