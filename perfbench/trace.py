"""Measurement plumbing: spans, Spark plan metrics, job counts, RSS.

Everything here observes the engine from outside: spans wrap the
benchmark's calls into the engine's public functions, plan metrics are
read from each request's final adaptive plan, job/stage/task counts
come from ``SparkContext.statusTracker`` and memory from ``/proc``.
With tracing off, :class:`Tracer` records nothing and the request path
is the same code minus the bookkeeping.
"""

from __future__ import annotations

import contextlib
import json
import os
import threading
import time


class Tracer:
    """In-memory spans: (name, start, end, parent, request id).

    Spans nest through a per-tracer stack; a span's parent is the span
    open when it started.  ``enabled=False`` makes :meth:`span` a no-op.
    """

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self._next_id = 0
        self.request = None

    @contextlib.contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        parent = self._stack[-1]["id"] if self._stack else None
        rec = {"id": self._next_id, "name": name, "parent": parent,
               "request": self.request, "start": time.perf_counter(), "end": None}
        self._next_id += 1
        self._stack.append(rec)
        try:
            yield
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            self.spans.append(rec)

    @contextlib.contextmanager
    def root(self, request: str):
        """Open the root span of one request (or of set-up)."""
        prev, self.request = self.request, request
        try:
            with self.span(request.split("-")[0]):
                yield
        finally:
            self.request = prev

    def write(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            for s in sorted(self.spans, key=lambda s: s["id"]):
                f.write(json.dumps(s) + "\n")


# ---------------------------------------------------------------------------
# Spark SQL metrics from the final adaptive plan
# ---------------------------------------------------------------------------

_STAGE_WRAPPERS = ("ShuffleQueryStageExec", "BroadcastQueryStageExec",
                   "TableCacheQueryStageExec", "ResultQueryStageExec")


def _children(node) -> list:
    cls = node.getClass().getSimpleName()
    if cls in _STAGE_WRAPPERS:
        return [node.plan()]
    if cls == "AdaptiveSparkPlanExec":
        return [node.executedPlan()]
    if cls == "ReusedExchangeExec":
        return [node.child()]
    out, it = [], node.children().iterator()
    while it.hasNext():
        out.append(it.next())
    return out


def _metric_values(node) -> dict[str, float]:
    """Non-zero SQL metrics of one node; times in seconds, sizes in bytes."""
    out = {}
    it = node.metrics().iterator()
    while it.hasNext():
        kv = it.next()
        m = kv._2()
        v = m.value()
        if not v:
            continue
        kind = m.metricType()
        if kind == "timing":
            v = v / 1e3
        elif kind == "nsTiming":
            v = v / 1e9
        out[kv._1()] = float(v)
    return out


def plan_nodes(df) -> list[dict]:
    """Flatten the executed plan of ``df`` (after an action) into
    ``{"name", "metrics", "parent", "index"}`` records, pre-order."""
    root = df._jdf.queryExecution().executedPlan()
    nodes: list[dict] = []

    def walk(node, parent):
        idx = len(nodes)
        nodes.append({"name": node.nodeName(), "metrics": _metric_values(node),
                      "parent": parent, "index": idx})
        for c in _children(node):
            walk(c, idx)

    walk(root, None)
    return nodes


def metric_sum(nodes: list[dict], metric: str, name_prefix: str = "") -> float:
    return sum(n["metrics"].get(metric, 0.0) for n in nodes
               if n["name"].startswith(name_prefix))


def plan_summary(nodes: list[dict]) -> dict[str, float]:
    """Engine-wide numbers every request reports."""
    return {
        "python_s": metric_sum(nodes, "pythonTotalTime"),
        "shuffle_bytes": metric_sum(nodes, "shuffleBytesWritten"),
        "broadcast_bytes": metric_sum(nodes, "dataSize", "BroadcastExchange"),
        "broadcast_build_s": metric_sum(nodes, "buildTime", "BroadcastExchange"),
        "agg_peak_mem_bytes": metric_sum(nodes, "peakMemory", "HashAggregate"),
    }


# ---------------------------------------------------------------------------
# jobs, stages, tasks
# ---------------------------------------------------------------------------

class JobCounter:
    """Counts the Spark jobs (and their stages and tasks) a block runs,
    by tagging it with a job group and asking ``statusTracker``."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self._n = 0

    @contextlib.contextmanager
    def group(self, out: dict, prefix: str = ""):
        self._n += 1
        gid = f"perfbench-{self._n}"
        self.sc.setJobGroup(gid, gid)
        try:
            yield
        finally:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            st = self.sc.statusTracker()
            jobs = st.getJobIdsForGroup(gid)
            stages = tasks = 0
            for j in jobs:
                info = st.getJobInfo(j)
                for s in (info.stageIds if info else ()):
                    sinfo = st.getStageInfo(s)
                    if sinfo is not None:
                        stages += 1
                        tasks += sinfo.numTasks
            out[prefix + "jobs"] = len(jobs)
            out[prefix + "stages"] = stages
            out[prefix + "tasks"] = tasks


# ---------------------------------------------------------------------------
# peak RSS of this process tree (driver JVM + Python workers)
# ---------------------------------------------------------------------------

def _tree_rss_bytes(root_pid: int) -> int:
    parent: dict[int, int] = {}
    rss: dict[int, int] = {}
    page = os.sysconf("SC_PAGE_SIZE")
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        fields = stat[stat.rfind(")") + 2:].split()
        parent[int(d)] = int(fields[1])
        rss[int(d)] = int(fields[21]) * page
    total, todo, seen = 0, [root_pid], set()
    children: dict[int, list[int]] = {}
    for pid, ppid in parent.items():
        children.setdefault(ppid, []).append(pid)
    while todo:
        pid = todo.pop()
        if pid in seen:
            continue
        seen.add(pid)
        total += rss.get(pid, 0)
        todo.extend(children.get(pid, ()))
    return total


class RssSampler:
    """Background thread sampling the RSS of this process and all its
    descendants every ``interval`` seconds; ``peak`` is the maximum."""

    def __init__(self, interval: float = 0.2):
        self.interval = interval
        self.peak = 0
        self.samples = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        pid = os.getpid()
        while not self._stop.is_set():
            self.peak = max(self.peak, _tree_rss_bytes(pid))
            self.samples += 1
            self._stop.wait(self.interval)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=5)
        self.peak = max(self.peak, _tree_rss_bytes(os.getpid()))
