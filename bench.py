"""Benchmark harness: runs the full query registry at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints ONE
compact JSON line: {"metric": ..., "value": N, "unit": "sec",
"oracle_total_sec": N, "n_queries": N, "sf": ...}.  The 160-entry
per-query breakdown (Spark + DuckDB oracle timings) is written to
BENCH_DETAIL.json next to this file and echoed to stderr.

Output hygiene: the driver parses stdout as JSON, but the JVM child process
inherits fd 1 and Spark/log4j can write to it before any Python-level
logging config lands.  So fd 1 is duplicated away to stderr for the whole
run and the JSON line is written to the *saved* real stdout at the end —
stdout carries exactly one line, guaranteed.

Baseline: every oracle-backed query's DuckDB SQL is also timed on the same
parquet (one pass, same process), so the per-query "within 2x of baseline"
contract is auditable from this artifact alone.

Each Spark query is executed to a noop sink — full plan execution JVM-side,
no Python row materialization.  A warmup pass first amortizes JVM/codegen
startup so numbers reflect steady-state engine throughput, not session boot.
"""

from __future__ import annotations

import json
import os
import re
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

# Capture the real stdout, then point fd 1 at stderr so nothing the JVM or
# any library prints can pollute the JSON protocol line.
_REAL_STDOUT = os.dup(1)
os.dup2(2, 1)
sys.stdout = sys.stderr

# TABLES from the catalog, not a local literal (ADVICE r12 rot class: a
# table added to the catalog must appear in the oracle views here too)
from data_engineering_etl_demo_spark.catalog import TABLES, load  # noqa: E402
from data_engineering_etl_demo_spark.plans import all_specs  # noqa: E402
from data_engineering_etl_demo_spark.session import get_spark  # noqa: E402


def _oracle_timings(sf_dir: str, specs) -> dict[str, float]:
    """Time each query's DuckDB oracle SQL on the same parquet files —
    the BASELINE.md reference numbers, regenerated next to the Spark runs."""
    import duckdb

    con = duckdb.connect()
    for t in TABLES:
        path = os.path.join(sf_dir, f"{t}.parquet")
        if os.path.exists(path):
            con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')"
            )
    out: dict[str, float] = {}
    for name, spec in specs:
        if spec.oracle is None:
            continue
        t0 = time.perf_counter()
        con.execute(spec.oracle).fetchall()
        out[name] = round(time.perf_counter() - t0, 4)
    return out


def _codegen_compiles(spark) -> int | None:
    """Generated classes Janino has compiled in this JVM so far: each
    codegen-cache miss compiles once (``CodegenMetrics``).  None under
    Spark Connect, which has no co-located JVM."""
    jvm = getattr(spark, "_jvm", None)
    if jvm is None:
        return None
    metrics = jvm.org.apache.spark.metrics.source.CodegenMetrics
    return metrics.METRIC_COMPILATION_TIME().getCount()


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    m = re.search(r"sf([\d.]+)", sf_dir)
    sf = float(m.group(1)) if m else None

    # 8 shuffle partitions by default: bench SFs fit comfortably (AQE
    # coalesces to size regardless); a cluster deployment sizes this to
    # ~2-3x total cores via the env override (scale-dependent settings
    # stay parameterised, never hard-coded for the local harness).
    raw_shuffle = os.environ.get("SPARK_GRAFT_SHUFFLE_PARTITIONS", "8")
    try:
        shuffle = int(raw_shuffle)
    except ValueError as e:
        raise SystemExit(
            f"SPARK_GRAFT_SHUFFLE_PARTITIONS must be an integer, "
            f"got {raw_shuffle!r}"
        ) from e
    spark = get_spark(app_name="bench", shuffle_partitions=shuffle)
    spark.sparkContext.setLogLevel("ERROR")

    def run(spec) -> None:
        # noop sink: full plan execution JVM-side, no Python row
        # materialization — measures engine throughput, same as the writes
        # a production job would do.
        spec.spark_fn(spark, sf_dir).write.format("noop").mode("overwrite").save()

    # Warmup: one untimed pass compiles each plan's whole-stage codegen and
    # primes file listings, so the timed pass measures steady-state engine
    # throughput rather than one-time JVM compilation.  That holds while
    # the codegen cache holds a whole pass (session.get_spark sizes it);
    # ``codegen_compiles`` in the detail shows whether it did.
    compiles0 = _codegen_compiles(spark)
    load(spark, sf_dir, "lineitem").count()
    specs = sorted(all_specs().items())
    for _, spec in specs:
        run(spec)

    # Settle before the timed pass: collect both heaps and give trailing
    # daemon work (state-store maintenance, shuffle cleanup, any co-tenant
    # JVMs exiting) a moment to quiesce.  A round-7 A/B showed +2-3 s
    # phantom regressions on scheduler-latency-sensitive many-small-job
    # queries (CC/BFS) when the machine wasn't idle; this cannot fix a
    # busy host but removes the bench's own trailing noise.
    import gc
    import time as _t

    gc.collect()
    # _jvm is a classic-session-only attribute (absent under Spark
    # Connect): guard with getattr like the caching prune, keeping the
    # try/except for the gateway-gone case only, and skip the settle
    # sleep entirely when there is no co-located JVM to quiesce.
    jvm = getattr(spark, "_jvm", None)
    if jvm is not None:
        try:
            jvm.System.gc()
        except Exception:
            pass  # gateway already torn down
        _t.sleep(2)

    compiles1 = _codegen_compiles(spark)
    timings: dict[str, float] = {}
    for name, spec in specs:
        t0 = time.perf_counter()
        run(spec)
        timings[name] = round(time.perf_counter() - t0, 4)
    compiles2 = _codegen_compiles(spark)

    oracle = {}
    if os.environ.get("SPARK_GRAFT_BENCH_ORACLE", "1") != "0":
        oracle = _oracle_timings(sf_dir, specs)

    total = round(sum(timings.values()), 4)
    oracle_total = round(sum(oracle.values()), 4)
    # Protocol line: COMPACT on purpose.  Rounds 1-3 emitted the 160-entry
    # per-query detail inline (~5 KB) and the driver's stdout tail capture
    # truncated it -> `parsed: null` in every BENCH_r*.json, so the <=2x
    # contract was never machine-verified.  stdout now carries only this
    # ~150-byte line; the full detail goes to BENCH_DETAIL.json + stderr.
    protocol = {
        "metric": "total_query_sec",
        "value": total,
        "unit": "sec",
        "oracle_total_sec": oracle_total,
        "n_queries": len(timings),
        "sf": sf,
        "detail": "BENCH_DETAIL.json",
    }
    codegen = None
    if compiles0 is not None:
        codegen = {"warmup": compiles1 - compiles0, "timed": compiles2 - compiles1}
    detail = dict(protocol, queries=timings, oracle=oracle, codegen_compiles=codegen)
    detail_path = os.environ.get("SPARK_GRAFT_BENCH_DETAIL") or os.path.join(
        os.path.dirname(os.path.abspath(__file__)), "BENCH_DETAIL.json"
    )
    with open(detail_path, "w") as f:
        json.dump(detail, f, indent=1, sort_keys=True)
    print(json.dumps(detail), file=sys.stderr)
    os.write(_REAL_STDOUT, (json.dumps(protocol) + "\n").encode())


if __name__ == "__main__":
    main()
