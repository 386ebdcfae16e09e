"""Cold-process benchmark over the query registry, the streaming drains and
the EP1/EP2 pipelines.

    python3 perfbench/run.py --workload registry_sf01 --seed 1 --seconds 5 --trace 0

Run from the root of a checkout.  Each run is one fresh process: it builds
its session through ``session.get_spark``, generates its inputs from
``--seed`` under a work directory inside the checkout (removed at exit),
runs the workload once from cold (``--seconds`` is accepted and unused:
the pass is fixed work), checks every output and prints one JSON
object as the last line of stdout.  ``--trace 0`` reports the end-to-end
metrics; ``--trace 1`` records spans and Spark status-store counters around
every call into the package and reports the per-layer metrics.  The line
before it holds every metric of the run, and a traced run also writes its
spans to ``.perfbench-out/``.  See ``perfbench/README.md``.
"""

from __future__ import annotations

import argparse
import csv
import glob
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time
import traceback
import uuid

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT_DIR = os.path.join(ROOT, ".perfbench-out")
sys.path.insert(0, ROOT)

from spans import StatusCounters, Tracer  # noqa: E402

SHUFFLE_PARTITIONS = 8  # bench.py's default
TABLE_SCALE = 0.1
SETUP_SAMPLES = 3  # this process plus two child processes
EP1_LINES, EP1_USERS = 2_000, 200

# Fixed query lists.  A cold pass over all 164 batch queries and 13 drains
# takes minutes, beyond one run's budget, so the registry workload runs a
# fixed cross-section of both families (README.md, "Workloads").
BATCH_QUERIES = (
    "events_markov_attribution",  # runs its jobs while building
    "docs_exact_dedup",
    "pricing_summary",
    "important_parts",  # persists its per-part aggregate (persist_latest)
    "docs_perplexity_buckets",  # first fill of a shared persisted relation
    "dau",
)
STREAM_QUERIES = (
    "streaming_window_counts",
    "streaming_dedup_counts",  # reads every event twice, dedups on a watermark
)
WORKLOADS = ("registry_sf01", "etl_upsert")


def _process_age_s() -> float:
    """Seconds since this process started, from /proc."""
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return uptime - start_ticks / os.sysconf("SC_CLK_TCK")


def _proc_table() -> dict[int, tuple[int, int]]:
    """pid -> (parent pid, CPU ticks of it and its reaped children)."""
    table = {}
    for path in glob.glob("/proc/[0-9]*/stat"):
        try:
            with open(path) as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:  # exited while we listed /proc
            continue
        table[int(path.split("/")[2])] = (int(fields[1]), sum(map(int, fields[11:15])))
    return table


def _tree(root: int, table: dict) -> set[int]:
    """``root`` and its live descendants."""
    tree, grew = {root}, True
    while grew:
        grew = False
        for pid, (ppid, _) in table.items():
            if ppid in tree and pid not in tree:
                tree.add(pid)
                grew = True
    return tree


def _running(pid: int) -> bool:
    """True while ``pid`` exists and has not exited (a zombie has)."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def _tree_cpu_s(root: int) -> float:
    """CPU seconds used so far by ``root`` and its live descendants (the
    JVM and its Python workers), with reaped children folded in by the
    kernel through each parent's cutime/cstime."""
    table = _proc_table()
    ticks = sum(table[pid][1] for pid in _tree(root, table) if pid in table)
    return ticks / os.sysconf("SC_CLK_TCK")


def _cpu_ticks() -> tuple[int, int]:
    """(all, steal) ticks of the host's CPUs so far, from /proc/stat."""
    with open("/proc/stat") as f:
        ticks = [int(x) for x in f.readline().split()[1:9]]
    return sum(ticks), ticks[7]


def _vm_hwm_mb(pid: int | str) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM for pid {pid}")


def isolate(work: str) -> None:
    """Point every scratch path of this process, its JVM and the JVM's
    Python workers into ``work``, and run on ``local[nproc]``."""
    os.environ.update(
        SPARK_GRAFT_CPUS=str(len(os.sched_getaffinity(0))),
        SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"),
        TMPDIR=work,
        PYTHONPATH=os.pathsep.join(filter(None, [ROOT, os.environ.get("PYTHONPATH")])),
        JAVA_TOOL_OPTIONS=f"-Djava.io.tmpdir={work} -XX:-UsePerfData",
    )


def set_up():
    """Session plus registry: returns (spark, seconds since process start,
    CPU seconds the process tree has used since it started, seconds inside
    get_spark)."""
    from data_engineering_etl_demo_spark.session import get_spark

    t0 = time.perf_counter()
    spark = get_spark(app_name="perfbench", shuffle_partitions=SHUFFLE_PARTITIONS)
    get_spark_s = time.perf_counter() - t0
    spark.sparkContext.setLogLevel("ERROR")
    from data_engineering_etl_demo_spark.plans import all_specs

    all_specs()  # imports every plan module, which registers its queries
    return spark, _process_age_s(), _tree_cpu_s(os.getpid()), get_spark_s


def stop(spark) -> None:
    """Stop the session and wait for its JVM and the JVM's Python workers
    to exit."""
    from pyspark import SparkContext

    proc = SparkContext._gateway.proc
    workers = _tree(proc.pid, _proc_table()) - {proc.pid}
    spark.stop()
    proc.stdin.close()  # the gateway exits when its stdin closes
    try:
        proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
    deadline = time.monotonic() + 30
    while workers and time.monotonic() < deadline:
        workers = {pid for pid in workers if _running(pid)}
        time.sleep(0.05)
    for pid in workers:
        try:
            os.kill(pid, signal.SIGKILL)
        except ProcessLookupError:
            pass


def child_setup_cpu_s() -> float:
    """CPU seconds of one cold set-up in a fresh process."""
    out = subprocess.run(
        [sys.executable, os.path.abspath(__file__), "--setup-probe"],
        capture_output=True,
        text=True,
        timeout=170,
        check=True,
    )
    return float(out.stdout.strip().splitlines()[-1].split()[1])


def input_dir(work: str) -> str:
    """A fresh directory name for the registry's tables.  The drains stage
    symlinks to the input under /tmp keyed by this name and name their
    memory sinks after it, so it must be new each run and an identifier
    (README.md, "Side effects outside the checkout")."""
    return os.path.join(work, f"tables_{uuid.uuid4().hex[:12]}")


def remove_stream_staging(name: str) -> None:
    """Remove what the drains staged for this run's input directory."""
    for path in glob.glob(f"/tmp/spark_graft_stream*/{glob.escape(name)}*"):
        shutil.rmtree(path, ignore_errors=True)


def digest(columns: list[str], rows: list) -> str:
    """Order-independent content digest, canonicalised like the oracle
    compare (columns sorted by name, values canonicalised, rows sorted)."""
    from tests.oracle_compare import rows_canonical

    canon = rows_canonical(columns, [tuple(r) for r in rows])
    h = hashlib.sha256(repr(sorted(columns)).encode())
    for r in canon:
        h.update(repr(r).encode())
    return h.hexdigest()


def load_expected() -> dict:
    with open(os.path.join(HERE, "expected.json"), encoding="utf-8") as f:
        return json.load(f)


# -- workloads ---------------------------------------------------------------


def run_queries(spark, names, data_dir, tr: Tracer, traced: bool, ops: list) -> None:
    """Closed loop, one client: each query's spark_fn, then collect and
    check its result.  Latency spans the spark_fn call to the check."""
    from data_engineering_etl_demo_spark.plans import all_specs

    specs, expected = all_specs(), load_expected()
    for name in names:
        ok = False
        # a drain runs its stream inside spark_fn
        build = "streaming.drain" if name in STREAM_QUERIES else "plans.build"
        t0 = time.perf_counter()
        with tr.span("query", query=name) as q:
            try:
                with tr.span(build):
                    df = specs[name].spark_fn(spark, data_dir)
                with tr.span("operators.action"):
                    rows = df.collect()
                got = dict(rows=len(rows), digest=digest(df.columns, rows))
                ok = got == expected[name]
                if not ok:
                    print(f"MISMATCH {name}: {got} != {expected[name]}", file=sys.stderr)
                if traced:
                    phases = df._jdf.queryExecution().tracker().phases()
                    q["catalyst_ms"] = sum(
                        phases.get(p).get().durationMs()
                        for p in ("analysis", "optimization", "planning")
                        if phases.get(p).isDefined()
                    )
            except Exception:  # a failing query counts, the run goes on
                print(f"FAILED {name}", file=sys.stderr)
                traceback.print_exc()
        ops.append(dict(op=name, s=time.perf_counter() - t0, ok=ok))


def _warehouse_files(root: str) -> dict[tuple, int]:
    """(path-independent identity) -> size of every parquet data file."""
    out = {}
    for p in glob.glob(os.path.join(root, "**", "*.parquet"), recursive=True):
        st = os.stat(p)
        out[(st.st_ino, st.st_mtime_ns)] = st.st_size
    return out


def _fact_rows(root: str) -> int:
    """Rows of fact_events, counted from the parquet footers without Spark."""
    import pyarrow.dataset as ds

    return ds.dataset(os.path.join(root, "fact_events"), partitioning="hive").count_rows()


def _fact_bytes(root: str) -> int:
    pattern = os.path.join(root, "fact_events", "**", "*.parquet")
    return sum(os.path.getsize(p) for p in glob.glob(pattern, recursive=True))


def _trace_ep1(tr: Tracer):
    """Wrap the public functions EP1/EP2 call, in their callers' module
    namespaces, so each gets a span.  Returns an undo function."""
    from data_engineering_etl_demo_spark import etl
    from data_engineering_etl_demo_spark.operators.warehouse import Warehouse
    from data_engineering_etl_demo_spark.plans import warehouse_analytics

    targets = [
        (etl, "read_events_jsonl", "sources.read_events_jsonl"),
        (etl, "read_users_csv", "sources.read_users_csv"),
        (etl, "transform", "operators.transform"),
        (etl, "write_bad_records", "etl.write_bad_records"),
        (etl, "write_csv_export", "etl.write_csv_export"),
        (etl, "write_quality_report", "quality.write_quality_report"),
        (Warehouse, "upsert_dim_users", "etl.upsert_dim_users"),
        (Warehouse, "upsert_fact_events", "etl.upsert_fact_events"),
        (warehouse_analytics, "write_csv_export", "ep2.write_csv_export"),
    ]
    saved = [(obj, attr, getattr(obj, attr)) for obj, attr, _ in targets]
    for obj, attr, span in targets:
        setattr(obj, attr, tr.wrap(span, getattr(obj, attr)))

    def undo():
        for obj, attr, fn in saved:
            setattr(obj, attr, fn)

    return undo


def run_etl(spark, work: str, tr: Tracer, traced: bool, ops: list, stats: dict):
    """EP1 load, EP1 upsert of an overlapping batch, then EP2."""
    from data_engineering_etl_demo_spark.etl import run_pipeline
    from data_engineering_etl_demo_spark.plans.warehouse_analytics import run_all

    batches = stats["batches"]
    wh_dir = os.path.join(work, "warehouse")
    undo = _trace_ep1(tr) if traced else (lambda: None)
    try:
        wh = None
        for i, b in enumerate(batches, 1):
            ok = False
            before = _warehouse_files(wh_dir) if traced else {}
            t0 = time.perf_counter()
            try:
                with tr.span("etl.run_pipeline", batch=i) as sp:
                    res = run_pipeline(spark, b["events"], b["users"], wh_dir, os.path.join(work, f"out{i}"))
                elapsed = time.perf_counter() - t0
                wh = res.warehouse
                r = res.report
                got = dict(
                    raw_lines=r.raw_lines,
                    ingest_bad=r.ingest_bad,
                    invalid_event_type=r.transform_invalid_event_type,
                    ingest_good=r.ingest_good,
                    loaded_rows=r.loaded_rows,
                    dedup_removed=r.dedup_removed,
                    null_user_id=r.null_user_id,
                )
                fact_rows = _fact_rows(wh_dir)
                ok = got == b["truth"] and fact_rows == b["fact_rows"]
                if not ok:
                    print(f"MISMATCH ep1 batch {i}: {got}, fact_rows={fact_rows} != {b}", file=sys.stderr)
                stats["quarantined"] += r.rejected_total
            except Exception:
                elapsed = time.perf_counter() - t0
                print(f"FAILED ep1 batch {i}", file=sys.stderr)
                traceback.print_exc()
            ops.append(dict(op=f"ep1_batch{i}", s=elapsed, ok=ok))
            if traced:
                after = _warehouse_files(wh_dir)
                new = [size for key, size in after.items() if key not in before]
                stats["ep1"].append(
                    dict(
                        written_bytes=sum(new),
                        written_files=len(new),
                        sql_range=sp["sql_range"],
                        raw_size=os.path.getsize(b["events"]) + os.path.getsize(b["users"]),
                    )
                )
                stats["files_live"] = len(after)
                stats["fact_bytes"] = _fact_bytes(wh_dir)

        ok = False
        t0 = time.perf_counter()
        try:
            with tr.span("ep2.run_all"):
                run_all(spark, wh, export_dir=os.path.join(work, "ep2"))
            elapsed = time.perf_counter() - t0
            total = 0
            for p in glob.glob(os.path.join(work, "ep2", "event_counts", "*.csv")):
                with open(p, newline="", encoding="utf-8") as f:
                    total += sum(int(row["events"]) for row in csv.DictReader(f))
            ok = total == batches[-1]["fact_rows"]
            if not ok:
                print(f"MISMATCH ep2: {total} events != {batches[-1]['fact_rows']}", file=sys.stderr)
        except Exception:
            elapsed = time.perf_counter() - t0
            print("FAILED ep2", file=sys.stderr)
            traceback.print_exc()
        ops.append(dict(op="ep2_run_all", s=elapsed, ok=ok))
    finally:
        undo()


# -- metrics -----------------------------------------------------------------


def end_to_end(ops, pass_s, pass_cpu_s, setup_samples, rss_mb, workload) -> tuple[dict, dict]:
    """(gated metrics, every end-to-end metric).  Only set-up and pass CPU
    time are steady enough on a shared host to gate (README.md).
    ``setup_samples`` are CPU seconds of cold set-ups."""
    lat = [o["s"] for o in ops]
    m = {
        "setup_s": (statistics.median(setup_samples), "s"),
        "pass_cpu_s": (pass_cpu_s, "s"),
    }
    detail = dict(m)
    detail["pass_s"] = (pass_s, "s")
    detail["peak_rss_mb"] = (rss_mb, "MB")
    detail["ops_failed_frac"] = (sum(not o["ok"] for o in ops) / len(ops), "ratio")
    if workload == "etl_upsert":
        by = {o["op"]: o["s"] for o in ops}
        detail["etl_load_s"] = (by["ep1_batch1"], "s")
        detail["etl_upsert_s"] = (by["ep1_batch2"], "s")
        detail["ep2_s"] = (by["ep2_run_all"], "s")
    else:
        detail["query_p50_s"] = (statistics.median(lat), "s")
        detail["query_p90_s"] = (statistics.quantiles(lat, n=10)[-1], "s")
    return m, detail


def per_layer(tr: Tracer, counters: StatusCounters, spark, get_spark_s, pass_s, pass_cpu_s, stats) -> tuple[dict, dict]:
    exec_spans = ("operators.action", "etl.run_pipeline", "ep2.run_all")

    def ctr(key):
        return sum(tr.counter(s, key) for s in exec_spans)

    storage = spark.sparkContext._jsc.sc().getRDDStorageInfo()
    ep1 = stats["ep1"]  # one entry per run_pipeline call, empty on the registry
    raw_read = sum(counters.raw_scan_bytes(*e["sql_range"]) for e in ep1)
    raw_size = sum(e["raw_size"] for e in ep1)
    upsert_bytes = ep1[-1]["written_bytes"] if len(ep1) > 1 else 0
    m = {
        "session.get_spark_s": (get_spark_s, "s"),
        "operators.exec_s": (sum(tr.total_s(s) for s in exec_spans), "s"),
        "operators.jobs": (ctr("jobs"), "count"),
        "operators.stages": (ctr("stages"), "count"),
        "operators.tasks": (ctr("tasks"), "count"),
        "operators.task_run_s": (ctr("task_run_ms") / 1000.0, "s"),
        "operators.input_bytes": (ctr("input_bytes"), "bytes"),
        "operators.input_records": (ctr("input_records"), "count"),
        "operators.shuffle_write_bytes": (ctr("shuffle_write_bytes"), "bytes"),
        "operators.spill_bytes": (ctr("spill_bytes"), "bytes"),
        "plans.build_jobs": (tr.counter("plans.build", "jobs"), "count"),
        "caching.persisted_rdds": (len(storage), "count"),
        "caching.persisted_bytes": (sum(r.memSize() + r.diskSize() for r in storage), "bytes"),
        "streaming.microbatches": (counters.totals["microbatches"], "count"),
        "streaming.jobs": (counters.totals["stream_jobs"], "count"),
        "streaming.tasks": (counters.totals["stream_tasks"], "count"),
        "sources.quarantined_rows": (stats["quarantined"], "count"),
        "sources.input_read_ratio": (raw_read / raw_size if raw_size else 0.0, "ratio"),
        "warehouse.bytes_written": (sum(e["written_bytes"] for e in ep1), "bytes"),
        "warehouse.files_written": (sum(e["written_files"] for e in ep1), "count"),
        "warehouse.files_live": (stats.get("files_live", 0), "count"),
        "warehouse.write_amp": (
            upsert_bytes / stats["fact_bytes"] if stats.get("fact_bytes") else 0.0,
            "ratio",
        ),
        "trace.pass_s": (pass_s, "s"),
        "trace.pass_cpu_s": (pass_cpu_s, "s"),
    }
    detail = dict(m)
    detail.update(
        {
            "plans.build_s": (tr.total_s("plans.build"), "s"),
            "plans.catalyst_s": (sum(q.get("catalyst_ms", 0) for q in tr.named("query")) / 1000.0, "s"),
            "streaming.drain_s": (tr.total_s("streaming.drain"), "s"),
            "streaming.batch_p50_ms": (statistics.median(counters.batch_durations_ms() or [0]), "ms"),
            "etl.write_bad_records_s": (tr.total_s("etl.write_bad_records"), "s"),
            "etl.upsert_dim_users_s": (tr.total_s("etl.upsert_dim_users"), "s"),
            "etl.upsert_fact_events_s": (tr.total_s("etl.upsert_fact_events"), "s"),
            "etl.write_csv_export_s": (tr.total_s("etl.write_csv_export"), "s"),
            "etl.self_s": (tr.self_s("etl.run_pipeline"), "s"),
        }
    )
    return m, detail


def _as_json(metrics: dict) -> dict:
    return {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}


# -- main --------------------------------------------------------------------


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=0)
    # one run is one cold pass of fixed work, however long it takes
    ap.add_argument("--seconds", type=float, default=10.0, help="accepted, unused")
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--setup-probe", action="store_true", help=argparse.SUPPRESS)
    args = ap.parse_args(argv)
    # on SIGTERM, unwind through the finally blocks: stop the JVM, remove
    # the work directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    work = os.path.join(OUT_DIR, f"work-{os.getpid()}")
    os.makedirs(work)
    try:
        isolate(work)
        if args.setup_probe:
            spark, setup_s, setup_cpu_s, _ = set_up()
            stop(spark)
            print(setup_s, setup_cpu_s)
            return 0
        if args.workload is None:
            ap.error("--workload is required")
        return run(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def run(args, work: str) -> int:
    traced = bool(args.trace)
    registry = args.workload == "registry_sf01"
    data_dir = input_dir(work)
    spark, setup_wall_s, own_setup_cpu_s, get_spark_s = set_up()
    try:
        setup_samples = [own_setup_cpu_s] + [
            child_setup_cpu_s() for _ in range(SETUP_SAMPLES - 1)
        ]
        from datagen import write_ep1_batches, write_tables

        stats: dict = {"quarantined": 0, "ep1": []}
        if registry:
            write_tables(data_dir, TABLE_SCALE)
            # fixed order: a seeded shuffle moved pass_s by a third between
            # seeds, as each order pays the JIT warm-up on a different query
            names = list(BATCH_QUERIES + STREAM_QUERIES)
        else:
            stats["batches"] = write_ep1_batches(os.path.join(work, "ep1"), args.seed, EP1_LINES, EP1_USERS)

        counters = StatusCounters(spark) if traced else None
        tr = Tracer(counters)
        ops: list[dict] = []
        cpu0, ticks0 = _tree_cpu_s(os.getpid()), _cpu_ticks()
        t0 = time.perf_counter()
        with tr.span("pass"):
            if registry:
                run_queries(spark, names, data_dir, tr, traced, ops)
            else:
                run_etl(spark, work, tr, traced, ops, stats)
        pass_s = time.perf_counter() - t0
        pass_cpu_s = _tree_cpu_s(os.getpid()) - cpu0
        ticks1 = _cpu_ticks()
        # share of the host's CPU time a hypervisor took from this VM during
        # the pass: a disturbed run shows here first
        steal = (ticks1[1] - ticks0[1]) / max(ticks1[0] - ticks0[0], 1)

        from pyspark import SparkContext

        rss_mb = _vm_hwm_mb("self") + _vm_hwm_mb(SparkContext._gateway.proc.pid)
        e2e, detail = end_to_end(ops, pass_s, pass_cpu_s, setup_samples, rss_mb, args.workload)
        detail["setup_wall_s"] = (setup_wall_s, "s")
        detail["host.steal_frac"] = (steal, "ratio")
        if traced:
            metrics, layer_detail = per_layer(
                tr, counters, spark, get_spark_s, pass_s, pass_cpu_s, stats
            )
            detail.update(layer_detail)
            os.makedirs(OUT_DIR, exist_ok=True)
            tr.dump(os.path.join(OUT_DIR, f"trace-{args.workload}-seed{args.seed}.jsonl"))
        else:
            metrics = e2e
    finally:
        try:
            stop(spark)
        finally:
            if registry:
                remove_stream_staging(os.path.basename(data_dir))

    failed = sum(not o["ok"] for o in ops)
    print(
        json.dumps(
            dict(
                workload=args.workload,
                seed=args.seed,
                trace=args.trace,
                ops=[[o["op"], round(o["s"], 4), o["ok"]] for o in ops],
                setup_cpu_samples=setup_samples,
                detail=_as_json(detail),
            )
        )
    )
    print(
        json.dumps(
            dict(correct=failed == 0, attempted=len(ops), failed=failed, metrics=_as_json(metrics))
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
