"""In-memory spans and Spark status-store counters for the traced run.

A span records name, start, end, parent and run id, plus the cumulative
status-store counters read at its start and end, so each span carries the
jobs, stages, tasks and bytes that ran inside it.  Counters are read at
every span boundary: the store keeps only ``spark.ui.retainedJobs`` jobs,
and reading as we go means none is evicted before it is counted.
"""

from __future__ import annotations

import json
import re
import time
import uuid
from contextlib import contextmanager

_BATCH_DESC = re.compile(r"runId = (\S+)\s+batch = (\d+)")
_SIZE_UNITS = {"B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30, "TiB": 1 << 40}
_RAW_SCANS = ("scan text", "scan csv", "scan json")

COUNTERS = (
    "jobs",
    "stages",
    "tasks",
    "task_run_ms",
    "input_bytes",
    "input_records",
    "shuffle_write_bytes",
    "spill_bytes",
    "stream_jobs",
    "stream_tasks",
    "microbatches",
    "next_sql_id",
)


class StatusCounters:
    """Cumulative counts over every finished job of one SparkContext.

    Jobs come from the DAG scheduler's next job id, so none is missed;
    a stage is counted once, when it has run (skipped stages reused a
    shuffle and did no work).  Micro-batches are the distinct
    ``(runId, batch)`` pairs in job descriptions, which streaming sets on
    its own thread even when the query runs on a cloned session."""

    def __init__(self, spark):
        sc = spark.sparkContext._jsc.sc()
        self._dag = sc.dagScheduler()
        self._bus = sc.listenerBus()
        self._store = sc.statusStore()
        self._sql = spark._jsparkSession.sharedState().statusStore()
        self._next_job = self._dag.nextJobId()
        self._pending: list[int] = []
        self._seen_stages: set[int] = set()
        self.batch_ms: dict[tuple, list[int]] = {}  # (runId, batch) -> [start, end]
        self.totals = dict.fromkeys(COUNTERS, 0)

    def _job(self, jid: int) -> bool:
        """Fold one job into the totals; False if it has not finished."""
        j = self._store.job(jid)
        if j.status().toString() in ("RUNNING", "UNKNOWN"):
            return False
        t = self.totals
        t["jobs"] += 1
        desc = j.description()
        m = _BATCH_DESC.search(desc.get()) if desc.isDefined() else None
        tasks = 0
        it = j.stageIds().iterator()
        while it.hasNext():
            sid = it.next()
            if sid in self._seen_stages:
                continue
            s = self._store.lastStageAttempt(sid)
            if s.status().toString() == "SKIPPED":
                continue
            self._seen_stages.add(sid)
            t["stages"] += 1
            tasks += s.numCompleteTasks()
            t["task_run_ms"] += s.executorRunTime()
            t["input_bytes"] += s.inputBytes()
            t["input_records"] += s.inputRecords()
            t["shuffle_write_bytes"] += s.shuffleWriteBytes()
            t["spill_bytes"] += s.diskBytesSpilled()
        t["tasks"] += tasks
        if m:
            t["stream_jobs"] += 1
            t["stream_tasks"] += tasks
            start = j.submissionTime().get().getTime()
            end = j.completionTime().get().getTime()
            span = self.batch_ms.setdefault(m.groups(), [start, end])
            span[0], span[1] = min(span[0], start), max(span[1], end)
            t["microbatches"] = len(self.batch_ms)
        return True

    def read(self) -> dict:
        self._bus.waitUntilEmpty()
        nxt = self._dag.nextJobId()
        todo = self._pending + list(range(self._next_job, nxt))
        self._next_job = nxt
        self._pending = [jid for jid in todo if not self._job(jid)]
        self.totals["next_sql_id"] = self._next_sql_id()
        return dict(self.totals)

    def _next_sql_id(self) -> int:
        """One past the newest SQL execution id (ids ascend from 0; the
        store may have evicted the oldest, so its count is not the id)."""
        n = self._sql.executionsCount()
        return self._sql.executionsList(n - 1, 1).head().executionId() + 1 if n else 0

    def raw_scan_bytes(self, first_exec: int, last_exec: int) -> int:
        """Bytes of text/CSV/JSON files scanned by SQL executions in
        ``[first_exec, last_exec)``: each executed file scan reads its
        files whole, so the scan's file size is what it read."""
        total = 0
        for eid in range(first_exec, last_exec):
            graph, vals = self._sql.planGraph(eid), self._sql.executionMetrics(eid)
            nodes = graph.allNodes().iterator()
            while nodes.hasNext():
                n = nodes.next()
                if not n.name().lower().startswith(_RAW_SCANS):
                    continue
                found = {}
                ms = n.metrics().iterator()
                while ms.hasNext():
                    metric = ms.next()
                    v = vals.get(metric.accumulatorId())
                    if v.isDefined():
                        found[metric.name()] = v.get()
                if "number of output rows" in found and "size of files read" in found:
                    num, unit = found["size of files read"].split()[:2]
                    total += int(float(num) * _SIZE_UNITS[unit])
        return total

    def batch_durations_ms(self) -> list[int]:
        return [end - start for start, end in self.batch_ms.values()]


class Tracer:
    """Spans kept in memory and written out when the run ends.  With
    ``counters=None`` spans carry times only."""

    def __init__(self, counters: StatusCounters | None):
        self.counters = counters
        self.run_id = uuid.uuid4().hex[:12]
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, **attrs):
        rec = dict(
            id=len(self.spans),
            name=name,
            parent=self._stack[-1] if self._stack else None,
            run_id=self.run_id,
            **attrs,
        )
        self.spans.append(rec)
        self._stack.append(rec["id"])
        c0 = self.counters.read() if self.counters else None
        rec["start"] = time.perf_counter()
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            if c0 is not None:
                c1 = self.counters.read()
                rec["counters"] = {k: c1[k] - c0[k] for k in COUNTERS}
                rec["sql_range"] = [c0["next_sql_id"], c1["next_sql_id"]]

    def wrap(self, name: str, fn):
        def traced(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)

        return traced

    # -- analysis ----------------------------------------------------------

    def named(self, name: str) -> list[dict]:
        return [s for s in self.spans if s["name"] == name]

    def total_s(self, name: str) -> float:
        return sum(s["end"] - s["start"] for s in self.named(name))

    def counter(self, name: str, key: str) -> int:
        return sum(s["counters"][key] for s in self.named(name))

    def self_s(self, name: str) -> float:
        """Span time minus the time its direct children cover."""
        total = 0.0
        for s in self.named(name):
            kids = [c for c in self.spans if c["parent"] == s["id"]]
            total += (s["end"] - s["start"]) - sum(c["end"] - c["start"] for c in kids)
        return total

    def dump(self, path: str) -> None:
        with open(path, "w", encoding="utf-8") as f:
            for s in self.spans:
                f.write(json.dumps(s) + "\n")

