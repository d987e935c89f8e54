"""Tracing for the benchmark's traced run, from outside the package.

Everything here observes the program through its public functions and
what Spark exposes to any caller: spans around calls into the package,
job groups and the ``StatusTracker``, the SQL status store, and a
``StreamingQueryListener``. No package file changes; the one intrusion
is a timing wrapper around ``tables.table`` that the traced run installs
and removes.
"""

from __future__ import annotations

import re
import threading
import time
from collections import defaultdict
from contextlib import contextmanager

from workloads import KEY_LAYERS, LAYERS

# Per-key counters read from Spark, summed per layer into the per-layer
# metrics. Order is the output order.
SPARK_COUNTERS = (
    "jobs",
    "stages",
    "tasks",
    "shuffle_write_bytes",
    "spill_bytes",
    "peak_exec_mem_bytes",
    "python_sent_bytes",
    "python_received_bytes",
)
PHASES = ("build_s", "plan_s", "exec_s")
STREAM_COUNTERS = (
    "micro_batches",
    "add_batch_s",
    "query_planning_s",
    "wal_commit_s",
    "state_commit_s",
    "state_update_s",
    "state_rows",
    "state_mem_bytes",
    "rows_dropped_by_watermark",
    "output_rows",
)
SQL_METRICS = {
    "shuffle bytes written": "shuffle_write_bytes",
    "spill size": "spill_bytes",
    "peak memory": "peak_exec_mem_bytes",
    "data sent to Python workers": "python_sent_bytes",
    "data returned from Python workers": "python_received_bytes",
}


def per_layer_names() -> list[str]:
    """Every per-layer metric name, in output order."""
    names = ["session.start_s", "tables.resolve_s", "tables.resolved", "tables.calls"]
    for layer in KEY_LAYERS:
        names += [f"{layer}.{m}" for m in PHASES + SPARK_COUNTERS]
    names += [f"streaming.{m}" for m in STREAM_COUNTERS]
    names += ["streaming.handler_events_per_s", "streaming.native_events_per_s"]
    names += [f"{layer}.self_s" for layer in LAYERS]
    names += ["jvm.jit_cpu_s", "jvm.peak_rss_mb", "python.peak_rss_mb"]
    names += ["trace.traced_pass_s", "trace.traced_pass_cpu_s", "trace.spans"]
    return names


def unit_of(name: str) -> str:
    """Unit of a per-layer metric, from its name's suffix."""
    if name.endswith("_per_s"):
        return "events/s"
    if name.endswith("_s"):
        return "s"
    if name.endswith("_bytes"):
        return "bytes"
    if name.endswith("_mb"):
        return "MB"
    return "count"


class Tracer:
    """Spans kept in memory: name, layer, key, start, end, parent, run id."""

    def __init__(self, run_id: str):
        self.run_id = run_id
        self.spans: list[dict] = []
        self._stack: list[int] = []

    def record(self, name: str, layer: str, start: float, end: float) -> None:
        """Add a finished top-level span."""
        self.spans.append({
            "id": len(self.spans), "name": name, "layer": layer, "key": None,
            "parent": None, "run": self.run_id, "start": start, "end": end,
        })

    @contextmanager
    def span(self, name: str, layer: str, key: str | None = None):
        rec = {
            "id": len(self.spans),
            "name": name,
            "layer": layer,
            "key": key,
            "parent": self._stack[-1] if self._stack else None,
            "run": self.run_id,
            "start": time.perf_counter(),
            "end": None,
        }
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()

    def self_times(self) -> dict[str, float]:
        """Per-layer self time: each span's duration minus the part of
        it its children cover (children are sequential, so a sum)."""
        child = defaultdict(float)
        for s in self.spans:
            if s["parent"] is not None:
                child[s["parent"]] += s["end"] - s["start"]
        out = defaultdict(float)
        for s in self.spans:
            out[s["layer"]] += s["end"] - s["start"] - child[s["id"]]
        return dict(out)


_NUM = re.compile(r"([0-9][0-9,]*(?:\.[0-9]+)?)\s*([A-Za-z]*)")
_SCALE = {
    "": 1, "B": 1, "KiB": 2**10, "MiB": 2**20, "GiB": 2**30, "TiB": 2**40,
    "ns": 1e-9, "ms": 1e-3, "s": 1, "m": 60, "h": 3600,
}


def parse_metric(text: str) -> float:
    """Value of a rendered SQL metric: ``'600,000'``, ``'10.3 MiB'`` or
    ``'total (min, med, max ...)\\n1.3 s (...)'`` (the total is read)."""
    body = text.split("\n", 1)[1] if "\n" in text else text
    m = _NUM.match(body.strip())
    if m is None:
        raise ValueError(f"unparseable SQL metric {text!r}")
    return float(m.group(1).replace(",", "")) * _SCALE[m.group(2)]


class SparkProbe:
    """Reads the job, stage and SQL-metric counts of one key run."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.tracker = self.sc.statusTracker()
        self.store = spark._jsparkSession.sharedState().statusStore()
        self._seen = self._last_execution()

    def _last_execution(self) -> int:
        execs = self.store.executionsList()
        n = execs.size()
        return execs.apply(n - 1).executionId() if n else -1

    @contextmanager
    def key_run(self, group: str, description: str):
        self.sc.setJobGroup(group, description)
        try:
            yield
        finally:
            self.sc.setJobGroup(None, None)

    def counts(self, group: str) -> dict[str, float]:
        out = dict.fromkeys(SPARK_COUNTERS, 0.0)
        jobs = set(self.tracker.getJobIdsForGroup(group))
        # SQL executions started since the previous read all belong to
        # this key run (keys run one at a time). Their jobs include the
        # micro-batch jobs of a stream, which run on the stream's own
        # thread and so outside the job group.
        execs = self.store.executionsList()
        for i in range(execs.size()):
            e = execs.apply(i)
            eid = e.executionId()
            if eid <= self._seen:
                continue
            self._seen = max(self._seen, eid)
            ids = e.jobs().keys().toSeq()
            jobs.update(ids.apply(k) for k in range(ids.size()))
            values = self.store.executionMetrics(eid)
            ms = e.metrics()
            for k in range(ms.size()):
                m = ms.apply(k)
                name = SQL_METRICS.get(m.name())
                if name is None:
                    continue
                v = values.get(m.accumulatorId())
                if v.isDefined():
                    out[name] += parse_metric(v.get())
        out["jobs"] = len(jobs)
        for j in jobs:
            info = self.tracker.getJobInfo(j)
            for sid in info.stageIds if info else ():
                st = self.tracker.getStageInfo(sid)
                if st is not None and st.numCompletedTasks > 0:
                    out["stages"] += 1
                    out["tasks"] += st.numCompletedTasks
        return out


def make_stream_listener():
    """A StreamingQueryListener that keeps every progress event by
    query id; ``wait_terminated`` blocks until a query's last event."""
    from pyspark.sql.streaming import StreamingQueryListener

    class Listener(StreamingQueryListener):
        def __init__(self):
            self.lock = threading.Lock()
            self.started: list[str] = []
            self.progress: dict[str, list] = defaultdict(list)
            self.terminated: set[str] = set()

        def onQueryStarted(self, event):
            with self.lock:
                self.started.append(str(event.id))

        def onQueryProgress(self, event):
            p = event.progress
            with self.lock:
                self.progress[str(p.id)].append(p)

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            with self.lock:
                self.terminated.add(str(event.id))

        def take(self, since: int, timeout: float = 30.0) -> dict[str, float]:
            """Stream counters of the queries started after the first
            ``since`` starts, once each has reported termination."""
            deadline = time.monotonic() + timeout
            while True:
                with self.lock:
                    ids = self.started[since:]
                    done = all(i in self.terminated for i in ids)
                if done or time.monotonic() > deadline:
                    break
                time.sleep(0.01)
            if not done:
                raise TimeoutError("stream listener missed a termination event")
            out = dict.fromkeys(STREAM_COUNTERS, 0.0)
            with self.lock:
                runs = [self.progress.pop(i, []) for i in ids]
            for progs in runs:
                for p in progs:
                    d = p.durationMs
                    out["micro_batches"] += 1
                    out["add_batch_s"] += d.get("addBatch", 0) / 1e3
                    out["query_planning_s"] += d.get("queryPlanning", 0) / 1e3
                    out["wal_commit_s"] += (
                        d.get("walCommit", 0) + d.get("commitOffsets", 0)
                    ) / 1e3
                    out["output_rows"] += max(p.sink.numOutputRows, 0)
                    for op in p.stateOperators:
                        out["state_commit_s"] += op.commitTimeMs / 1e3
                        out["state_update_s"] += (
                            op.allUpdatesTimeMs + op.allRemovalsTimeMs
                        ) / 1e3
                        out["rows_dropped_by_watermark"] += op.numRowsDroppedByWatermark
                if progs:  # state size at the end of the replay
                    for op in progs[-1].stateOperators:
                        out["state_rows"] += op.numRowsTotal
                        out["state_mem_bytes"] += op.memoryUsedBytes
            return out

        def count_started(self) -> int:
            with self.lock:
                return len(self.started)

    return Listener()


@contextmanager
def traced_table_calls(tracer: Tracer, stats: dict):
    """Time every ``tables.table`` call the keys make; a first call per
    (dir, table) is a relation resolve and gets a ``tables.resolve``
    span. The wrapper replaces the name in each package module that
    imported it and is removed on exit."""
    import sys

    from flink_large_window_spark import tables

    original = tables.table
    seen: set[tuple[str, str]] = set()

    def table(spark, sf_dir, name):
        stats["calls"] += 1
        if (sf_dir, name) in seen:
            return original(spark, sf_dir, name)
        seen.add((sf_dir, name))
        with tracer.span(f"tables.resolve:{name}", "tables") as s:
            df = original(spark, sf_dir, name)
        stats["resolved"] += 1
        stats["resolve_s"] += s["end"] - s["start"]
        return df

    patched = [
        m for name, m in list(sys.modules.items())
        if name.startswith("flink_large_window_spark") and getattr(m, "table", None) is original
    ]
    for m in patched:
        m.table = table
    try:
        yield
    finally:
        for m in patched:
            m.table = original
