"""Per-call Spark counters and spans, read from outside the engine.

Every number here comes from Spark's own status stores (the job/stage
store behind the status tracker and the SQL execution store), from a
``StreamingQueryListener`` or from the wall clock around a call.  The
engine is never patched.

``Collector.call(group)`` wraps one call into a layer's public function
and adds the call's deltas to the group's totals.  The jobs and SQL
executions of a call are those started between its entry and its exit:
both ends settle the listener bus and read the stores' next ids, so
Spark work done between two calls is counted against neither.  Calls
made at the same time from several threads (set-up only) cannot be told
apart and count each other's jobs.

- ``s``: wall time of the call;
- ``driver_s``: wall time minus the union of the Spark job intervals
  that ran inside it (plan construction, Python and driver bookkeeping);
- ``jobs``, ``tasks``, ``task_cpu_s``, ``shuffle_write_bytes``,
  ``spill_bytes``: summed over the jobs and stages the call started;
- ``sort_fallback_tasks``: the SQL metric "number of sort fallback
  tasks" summed over the SQL executions the call started.

Spans (name, start, end, parent, cycle id) are kept in memory and
written out once, when the run ends.
"""

from __future__ import annotations

import json
import re
import threading
import time
from contextlib import contextmanager

from py4j.protocol import Py4JJavaError

STANDARD = (
    "s",
    "driver_s",
    "jobs",
    "tasks",
    "task_cpu_s",
    "shuffle_write_bytes",
    "spill_bytes",
    "sort_fallback_tasks",
)

SETUP_GROUPS = ("generate",)

_SIZE_UNITS = {
    "B": 1,
    "KiB": 1024,
    "MiB": 1024**2,
    "GiB": 1024**3,
    "TiB": 1024**4,
}
_TIME_UNITS = {"ns": 1e-6, "us": 1e-3, "ms": 1.0, "s": 1e3, "m": 6e4, "h": 3.6e6}


def parse_sql_metric(text: str) -> float:
    """Total of one formatted SQL metric value, in bytes for size metrics
    and milliseconds for timing metrics.

    Spark formats sums as a bare number and size/timing metrics as
    ``"total (min, med, max ...)\\n12.3 MiB (...)"``; the first figure
    after the header is the total.
    """
    body = text.split("\n", 1)[-1].strip()
    m = re.match(r"(-?[\d.,]+)\s*([A-Za-z]*)", body)
    if not m:
        return 0.0
    value = float(m.group(1).replace(",", ""))
    unit = m.group(2)
    if unit in _SIZE_UNITS:
        return value * _SIZE_UNITS[unit]
    if unit in _TIME_UNITS:
        return value * _TIME_UNITS[unit]
    return value


def _union_seconds(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    total, cur_a, cur_b = 0.0, None, None
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= a:
            continue
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


class Collector:
    """Per-call-group counter deltas plus spans for one traced run."""

    def __init__(self, spark):
        self.spark = spark
        self._store = spark.sparkContext._jsc.sc().statusStore()
        self._sql = spark._jsparkSession.sharedState().statusStore()
        self._next_job = self._scan(self._job_exists, 0)
        self._next_exec = self._scan(self._exec_exists, 0)
        self.totals: dict[str, dict[str, float]] = {}
        self.extra: dict[str, float] = {}
        self.spans: list[dict] = []
        self._local = threading.local()
        self._lock = threading.Lock()
        self.cycle = 0
        # totals count calls made once set-up is over (set-up layers
        # always); spans cover every call
        self.timed = False
        self.overhead_s = 0.0
        # executions started by the last finished call, for plan metrics
        self.last_execs: list[int] = []

    # ------------------------------------------------------------ reads

    def _job_exists(self, job_id: int) -> bool:
        try:
            self._store.job(job_id)
        except Py4JJavaError:  # NoSuchElementException: not submitted
            return False
        return True

    def _exec_exists(self, exec_id: int) -> bool:
        return self._sql.execution(exec_id).isDefined()

    @staticmethod
    def _scan(exists, start: int) -> int:
        """First id at or after ``start`` that the store does not hold.
        Job and execution ids are dense, and every finished one is in
        the store once the listener bus is empty."""
        n = start
        while exists(n):
            n += 1
        return n

    def _ends(self) -> tuple[int, int]:
        """The next job id and execution id, once the bus is settled."""
        self._settle()
        self._next_job = self._scan(self._job_exists, self._next_job)
        self._next_exec = self._scan(self._exec_exists, self._next_exec)
        return self._next_job, self._next_exec

    def _job_deltas(self, jobs: range, t0: float, t1: float) -> dict[str, float]:
        out = dict.fromkeys(STANDARD[2:7], 0.0)
        out["jobs"] = float(len(jobs))
        intervals = []
        for jid in jobs:
            job = self._store.job(jid)
            sub, done = job.submissionTime(), job.completionTime()
            if sub.isDefined():
                start = sub.get().getTime() / 1000.0
                stop = done.get().getTime() / 1000.0 if done.isDefined() else t1
                intervals.append((start, stop))
            stage_ids = job.stageIds()
            for i in range(stage_ids.size()):
                try:
                    st = self._store.lastStageAttempt(stage_ids.apply(i))
                except Py4JJavaError:  # a skipped stage has no attempt
                    continue
                out["tasks"] += st.numCompleteTasks()
                out["task_cpu_s"] += st.executorCpuTime() / 1e9
                out["shuffle_write_bytes"] += st.shuffleWriteBytes()
                out["spill_bytes"] += st.diskBytesSpilled()
        out["driver_s"] = (t1 - t0) - _union_seconds(intervals, t0, t1)
        return out

    def sql_metric_total(self, exec_ids, metric: str, node=None, desc=None) -> float:
        """Sum one named SQL metric over plan nodes of the given
        executions; ``node``/``desc`` filter by node name and by a
        substring of the node description."""
        total = 0.0
        for eid in exec_ids:
            values = self._sql.executionMetrics(eid)
            graph = self._sql.planGraph(eid)
            nodes = graph.allNodes()
            for i in range(nodes.size()):
                n = nodes.apply(i)
                if node is not None and n.name() != node:
                    continue
                if desc is not None and not all(d in n.desc() for d in desc):
                    continue
                ms = n.metrics()
                for k in range(ms.size()):
                    m = ms.apply(k)
                    if m.name() != metric:
                        continue
                    v = values.get(m.accumulatorId())
                    if v.isDefined():
                        total += parse_sql_metric(v.get())
        return total

    # ------------------------------------------------------------ calls

    @contextmanager
    def call(self, group: str):
        """Time one call into a layer and add its deltas to ``group``.
        Calls may come from several threads during set-up; each thread
        keeps its own span stack, and the accounting is serialized."""
        stack = self._local.__dict__.setdefault("stack", [])
        with self._lock:
            t = time.time()
            first = self._ends()
            sid = len(self.spans)
            span = {"name": group, "parent": stack[-1] if stack else None, "cycle": self.cycle}
            self.spans.append(span)
            self.overhead_s += time.time() - t
        stack.append(sid)
        t0 = time.time()
        try:
            yield
        finally:
            t1 = time.time()
            stack.pop()
            span["start"], span["end"] = t0, t1
            with self._lock:
                self._account(group, t0, t1, first)
                self.overhead_s += time.time() - t1

    def _account(self, group: str, t0: float, t1: float, first: tuple[int, int]) -> None:
        job_end, exec_end = self._ends()
        d = self._job_deltas(range(first[0], job_end), t0, t1)
        self.last_execs = list(range(first[1], exec_end))
        d["sort_fallback_tasks"] = self.sql_metric_total(
            self.last_execs, "number of sort fallback tasks"
        )
        d["s"] = t1 - t0
        if self.timed or group in SETUP_GROUPS:
            tot = self.totals.setdefault(group, dict.fromkeys(STANDARD, 0.0))
            tot["calls"] = tot.get("calls", 0) + 1
            for k in STANDARD:
                tot[k] += d[k]

    def _settle(self) -> None:
        """Wait until the listener bus has delivered every event, so the
        status stores hold every job and execution started so far."""
        self.spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()

    def add(self, name: str, value: float) -> None:
        self.extra[name] = self.extra.get(name, 0.0) + value

    def write_spans(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(self.spans, f)


class StreamCounts:
    """``StreamingQueryListener`` summing per-micro-batch progress."""

    FIELDS = (
        "batches",
        "input_rows",
        "add_batch_ms",
        "query_planning_ms",
        "wal_commit_ms",
        "state_rows",
        "state_mem_bytes",
        "state_commit_ms",
        "rows_dropped_by_watermark",
    )

    def __init__(self):
        self.totals = dict.fromkeys(self.FIELDS, 0.0)
        self._lock = threading.Lock()

    def listener(self):
        from pyspark.sql.streaming import StreamingQueryListener

        counts = self

        class _Listener(StreamingQueryListener):
            def onQueryStarted(self, event):  # noqa: N802 (Spark API)
                pass

            def onQueryProgress(self, event):  # noqa: N802
                counts.on_progress(event.progress)

            def onQueryIdle(self, event):  # noqa: N802
                pass

            def onQueryTerminated(self, event):  # noqa: N802
                pass

        return _Listener()

    def on_progress(self, p) -> None:
        dur = p.durationMs or {}
        with self._lock:
            t = self.totals
            t["batches"] += 1
            t["input_rows"] += p.numInputRows or 0
            t["add_batch_ms"] += dur.get("addBatch", 0)
            t["query_planning_ms"] += dur.get("queryPlanning", 0)
            t["wal_commit_ms"] += dur.get("walCommit", 0)
            ops = p.stateOperators or []
            # state size is a level, not a flow: keep the latest batch's
            t["state_rows"] = sum(op.numRowsTotal for op in ops)
            t["state_mem_bytes"] = sum(op.memoryUsedBytes for op in ops)
            for op in ops:
                t["state_commit_ms"] += op.commitTimeMs
                t["rows_dropped_by_watermark"] += op.numRowsDroppedByWatermark
