"""Declarative data-quality constraints: dbt-style table tests as ONE
Spark plan per rule, unioned into a single violations report.

The shape a pipeline actually wants before trusting or publishing a
table: each rule reduces to a per-rule 1-row aggregate (violation count),
and the report is the union of those tiny relations — k rules move k rows
total, never the tables themselves.  Rule kinds:

  not_null(col)              rows where col IS NULL
  unique(cols)               surplus rows beyond one per key
                             (sum over key groups of cnt-1; null keys
                             group together identically in both engines)
  foreign_key(col, parent)   non-null child keys with no parent row
                             (LEFT ANTI against the parent's key column)
  accepted_values(col, vals) non-null values outside the declared vocab
  in_range(col, lo, hi)      non-null values outside [lo, hi]

Scale design: not_null / accepted_values / in_range are scan-local
predicates that collapse map-side to one partial per task — and several
predicate rules over the same table can share ONE scan via
fused_predicates (r16); unique is one
groupBy on the key (the same shuffle a dedup pays — unavoidable for exact
uniqueness; swap in a KMV/HLL sketch when an estimate suffices);
foreign_key broadcasts the parent's distinct key column only when the
caller declares the parent dim-sized (broadcast=True); a fact-sized
parent stays unhinted so AQE sizes the anti-join itself.  Nothing ever
collects rows to the driver; the report is |rules| rows.

Reference parity note: the reference's quality layer reports row counters
(pipeline/quality.py); this operator generalizes it to declared,
per-rule, re-runnable constraints — the missing "tests for data" tier.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _report_row(rule_id: str, table: str, kind: str, count_df: DataFrame):
    return count_df.select(
        F.lit(rule_id).alias("rule_id"),
        F.lit(table).alias("table_name"),
        F.lit(kind).alias("kind"),
        F.col("n").cast("long").alias("n_violations"),
    )


# -- scan-local predicate rules: declared as (rule_id, kind, bad) triples
# so several rules over the SAME table can share one scan (r16, guide §6:
# one pass per table, not one per rule).  Each single-rule entry point
# below delegates to fused_predicates with a one-element list, so the
# per-rule declarative contract (one report row per declared rule) is
# unchanged whether rules are fused or not.


def not_null_rule(table: str, col: str) -> tuple:
    return (f"not_null:{table}.{col}", "not_null", F.col(col).isNull())


def accepted_values_rule(
    table: str, col: str, values: list[str]
) -> tuple:
    return (
        f"accepted_values:{table}.{col}",
        "accepted_values",
        F.col(col).isNotNull() & ~F.col(col).isin(values),
    )


def in_range_rule(table: str, col: str, lo: float, hi: float) -> tuple:
    return (
        f"in_range:{table}.{col}",
        "in_range",
        F.col(col).isNotNull()
        & ((F.col(col) < F.lit(lo)) | (F.col(col) > F.lit(hi))),
    )


def fused_predicates(
    df: DataFrame, table: str, rules: list[tuple]
) -> DataFrame:
    """Evaluate several scan-local predicate rules over ONE scan of
    ``df``: a single aggregate computes every rule's violation count
    (all counts collapse map-side to one partial row per task), then the
    counts unpivot into the standard |rules|-row report shape.  The
    report rows are identical to evaluating each rule separately — only
    the number of table scans changes (k rules: k scans → 1).  An empty
    ``rules`` list raises ``ValueError``: there is no report to build."""
    if not rules:
        raise ValueError(f"fused_predicates({table!r}): rules is empty")
    counts = df.agg(
        *[
            F.count_if(bad).alias(f"_n{i}")
            for i, (_rid, _kind, bad) in enumerate(rules)
        ]
    )
    rows = [
        F.struct(
            F.lit(rid).alias("rule_id"),
            F.lit(table).alias("table_name"),
            F.lit(kind).alias("kind"),
            F.col(f"_n{i}").cast("long").alias("n_violations"),
        )
        for i, (rid, kind, _bad) in enumerate(rules)
    ]
    return counts.select(F.explode(F.array(*rows)).alias("_r")).select("_r.*")


def not_null(df: DataFrame, table: str, col: str) -> DataFrame:
    return fused_predicates(df, table, [not_null_rule(table, col)])


def unique(df: DataFrame, table: str, cols: list[str]) -> DataFrame:
    g = df.groupBy(*cols).agg(F.count(F.lit(1)).alias("cnt"))
    c = g.agg(F.coalesce(F.sum(F.col("cnt") - 1), F.lit(0)).alias("n"))
    return _report_row(
        f"unique:{table}.{'+'.join(cols)}", table, "unique", c
    )


def foreign_key(
    child: DataFrame,
    table: str,
    col: str,
    parent: DataFrame,
    parent_col: str,
    broadcast: bool = False,
) -> DataFrame:
    """``broadcast=True`` force-ships the parent's distinct key column to
    every executor — only ask for it when the parent is genuinely
    dim-sized; for a fact-sized parent leave it False so the optimizer
    (AQE) picks shuffle vs broadcast from the observed size."""
    keys = parent.select(F.col(parent_col).alias(col)).distinct()
    if broadcast:
        keys = F.broadcast(keys)
    orphans = (
        child.select(col)
        .filter(F.col(col).isNotNull())
        .join(keys, on=col, how="left_anti")
    )
    c = orphans.agg(F.count(F.lit(1)).alias("n"))
    return _report_row(
        f"foreign_key:{table}.{col}", table, "foreign_key", c
    )


def accepted_values(
    df: DataFrame, table: str, col: str, values: list[str]
) -> DataFrame:
    return fused_predicates(
        df, table, [accepted_values_rule(table, col, values)]
    )


def in_range(
    df: DataFrame, table: str, col: str, lo: float, hi: float
) -> DataFrame:
    return fused_predicates(df, table, [in_range_rule(table, col, lo, hi)])


def constraint_report(rules: list[DataFrame]) -> DataFrame:
    """Union the per-rule relations into one report, ordered by rule_id."""
    return reduce(lambda a, b: a.unionByName(b), rules).orderBy("rule_id")
