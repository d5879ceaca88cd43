"""Tracing from outside the library: spans around public layer calls,
Spark plan metrics of every SQL execution, scheduler counts, and the
resident memory of the process tree.

Nothing here reaches into ``go_tdigest_spark``.  Plan metrics come from a
``QueryExecutionListener`` registered through py4j: for every execution
it walks the executed plan (under AQE the final physical plan, descending
into each query stage) and sums the raw SQL metric values.  Jobs, stages
and tasks come from ``statusTracker`` by job group, one group per span.
"""

from __future__ import annotations

import json
import os
import threading
import time
from collections import defaultdict
from contextlib import contextmanager

# raw SQL metric name -> (rolled-up counter, scale to the counter's unit)
_PLAN_METRICS = {
    "pythonBootTime": ("python_boot_s", 1e-3),
    "pythonTotalTime": ("python_total_s", 1e-3),
    "pythonDataSent": ("python_sent_bytes", 1),
    "pythonDataReceived": ("python_received_bytes", 1),
    "scanTime": ("scan_s", 1e-3),
    "shuffleBytesWritten": ("exchange_bytes", 1),
    "shuffleRecordsWritten": ("exchange_records", 1),
}


def _iter_plan(plan, seen_cached: set, identity):
    """Yield every physical node of an executed plan, AQE-aware.  The plan
    of a cached relation is entered once per ``seen_cached`` set (keyed by
    ``identity``): its metrics were made by the action that filled it."""
    stack = [plan]
    while stack:
        node = stack.pop()
        cls = node.getClass().getSimpleName()
        if cls == "AdaptiveSparkPlanExec":
            stack.append(node.finalPhysicalPlan())
            continue
        if cls.endswith("QueryStageExec"):
            stack.append(node.plan())
            continue
        if cls == "InMemoryTableScanExec":
            cached = node.relation().cacheBuilder().cachedPlan()
            ident = identity(cached)
            if ident not in seen_cached:
                seen_cached.add(ident)
                stack.append(cached)
        yield node
        if cls == "ReusedExchangeExec":
            continue  # its child was counted where it ran
        children = node.children().iterator()
        while children.hasNext():
            stack.append(children.next())


def plan_counters(plan, seen_cached: set, identity) -> dict:
    out: dict = defaultdict(float)
    for node in _iter_plan(plan, seen_cached, identity):
        if node.nodeName() == "Exchange":
            out["exchanges"] += 1
        metrics = node.metrics().iterator()
        while metrics.hasNext():
            kv = metrics.next()
            spec = _PLAN_METRICS.get(kv._1())
            if spec is not None:
                out[spec[0]] += kv._2().value() * spec[1]
    return out


class _PlanListener:
    """py4j implementation of Spark's QueryExecutionListener."""

    def __init__(self, tracer: "Tracer") -> None:
        self.tracer = tracer

    def onSuccess(self, func_name, qe, duration_ns):  # noqa: N802 (Java API)
        try:
            tr = self.tracer
            counters = plan_counters(qe.executedPlan(), tr.seen_cached, tr.identity)
        except Exception as e:  # a listener must never fail the query
            self.tracer.listener_errors.append(repr(e))
            return
        self.tracer._on_execution(counters)

    def onFailure(self, func_name, qe, exception):  # noqa: N802
        pass  # the failed action raises in the benchmark itself

    class Java:
        implements = ["org.apache.spark.sql.util.QueryExecutionListener"]


class Tracer:
    """Spans (name, start, end, parent, run id) with counts attached at
    the same boundaries.  Kept in memory; ``dump`` writes them out."""

    def __init__(self, spark, run_id: str) -> None:
        from pyspark.java_gateway import ensure_callback_server_started

        self.spark = spark
        self.sc = spark.sparkContext
        self.run_id = run_id
        self.spans: list[dict] = []
        self.listener_errors: list[str] = []
        self.seen_cached: set = set()
        self.identity = self.sc._jvm.java.lang.System.identityHashCode
        self._stack: list[dict] = []
        self._lock = threading.Lock()
        ensure_callback_server_started(self.sc._gateway)
        self._listener = _PlanListener(self)
        spark._jsparkSession.listenerManager().register(self._listener)

    def close(self) -> None:
        self._drain()
        self.spark._jsparkSession.listenerManager().unregister(self._listener)

    def _drain(self) -> None:
        # listener callbacks are asynchronous: wait until every event of
        # the actions run so far has been delivered
        self.sc._jsc.sc().listenerBus().waitUntilEmpty()

    def _on_execution(self, counters: dict) -> None:
        with self._lock:
            if self._stack:
                span = self._stack[-1]
                span["counts"]["executions"] += 1
                for k, v in counters.items():
                    span["counts"][k] += v

    @contextmanager
    def span(self, name: str):
        self._drain()
        parent = self._stack[-1] if self._stack else None
        span = {
            "name": name,
            "run_id": self.run_id,
            "id": len(self.spans),
            "parent": parent["id"] if parent else None,
            "counts": defaultdict(float),
        }
        group = f"{self.run_id}-{span['id']}"
        self.spans.append(span)
        with self._lock:
            self._stack.append(span)
        self.sc.setJobGroup(group, name)
        span["start"] = time.perf_counter()
        try:
            yield span
        finally:
            self._drain()
            span["end"] = time.perf_counter()
            with self._lock:
                self._stack.pop()
            self._count_scheduler(span, group)
            if parent is not None:
                self.sc.setJobGroup(f"{self.run_id}-{parent['id']}", parent["name"])
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)

    def _count_scheduler(self, span: dict, group: str) -> None:
        tracker = self.sc.statusTracker()
        for job in tracker.getJobIdsForGroup(group):
            info = tracker.getJobInfo(job)
            if info is None:
                continue
            span["counts"]["jobs"] += 1
            for stage in info.stageIds:
                span["counts"]["stages"] += 1
                sinfo = tracker.getStageInfo(stage)
                if sinfo is not None:
                    span["counts"]["tasks"] += sinfo.numTasks

    def count(self, name: str, value: float) -> None:
        self._stack[-1]["counts"][name] += value

    # ------------------------------------------------------------ reading

    def duration(self, name: str) -> float:
        return sum(s["end"] - s["start"] for s in self.spans if s["name"] == name)

    def total(self, key: str, name: str | None = None) -> float:
        """Sum of one count over spans (all spans, or those named)."""
        return sum(
            s["counts"].get(key, 0.0)
            for s in self.spans
            if name is None or s["name"] == name
        )

    def self_times(self) -> dict:
        """Per span name: duration minus the time its children cover."""
        child = defaultdict(float)
        for s in self.spans:
            if s["parent"] is not None:
                child[s["parent"]] += s["end"] - s["start"]
        out: dict = defaultdict(float)
        for s in self.spans:
            out[s["name"]] += s["end"] - s["start"] - child[s["id"]]
        return dict(out)

    def dump(self, path: str) -> None:
        t0 = min((s["start"] for s in self.spans), default=0.0)
        rows = [
            {
                **{k: v for k, v in s.items() if k not in ("start", "end", "counts")},
                "start_s": s["start"] - t0,
                "end_s": s["end"] - t0,
                "counts": dict(s["counts"]),
            }
            for s in self.spans
        ]
        with open(path, "w") as f:
            json.dump(
                {"spans": rows, "self_s": self.self_times(),
                 "listener_errors": self.listener_errors},
                f,
                indent=1,
            )


def _tree_stats(root: int) -> dict:
    """pid -> fields of /proc/<pid>/stat after the command name, for
    ``root`` and all its descendants."""
    stats, children = {}, defaultdict(list)
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        # the command name may hold spaces; fields resume after ')'
        fields = stat[stat.rindex(")") + 2 :].split()
        stats[int(entry)] = fields
        children[int(fields[1])].append(int(entry))
    out, todo = {}, [root]
    while todo:
        pid = todo.pop()
        if pid in stats:
            out[pid] = stats[pid]
        todo.extend(children.get(pid, ()))
    return out


def tree_cpu_seconds(root: int) -> float:
    """User plus system CPU seconds of ``root`` and its descendants,
    including descendants that already exited and were waited for."""
    ticks = sum(
        sum(int(x) for x in fields[11:15]) for fields in _tree_stats(root).values()
    )
    return ticks / os.sysconf("SC_CLK_TCK")


def _tree_rss_bytes(root: int) -> int:
    """Resident bytes of ``root`` and all its descendants (from /proc)."""
    page = os.sysconf("SC_PAGE_SIZE")
    return sum(int(fields[21]) * page for fields in _tree_stats(root).values())


class RssSampler:
    """Samples the process tree's RSS on a thread while active."""

    def __init__(self, interval: float = 0.1) -> None:
        self.interval = interval
        self.peak = 0
        self._stop = threading.Event()
        self._thread: threading.Thread | None = None

    def __enter__(self) -> "RssSampler":
        self._stop.clear()
        self._thread = threading.Thread(target=self._run, daemon=True)
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)

    def _run(self) -> None:
        root = os.getpid()
        while True:
            self.peak = max(self.peak, _tree_rss_bytes(root))
            if self._stop.wait(self.interval):
                return
