"""Spans, Spark SQL metrics and process-tree memory for the benchmark.

Nothing here changes what the program does: spans wrap calls the benchmark
makes into karta_spark, SQL metrics are read from the executed plan of a
DataFrame after its own action, and memory is read from ``/proc``.
"""

from __future__ import annotations

import os
import threading
import time
from collections import defaultdict
from contextlib import contextmanager


class Tracer:
    """Records top-level spans (name, start, end, Spark jobs started).

    Each span runs under its own Spark job group, so the jobs, stages and
    tasks it started are read back from the status tracker when it ends.
    Spans live in memory until the run reports them."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.spans: list[dict] = []
        self._seq = 0

    @contextmanager
    def span(self, name: str, kind: str = "pipeline"):
        self._seq += 1
        group = f"perfbench-{os.getpid()}-{self._seq}"
        self.sc.setJobGroup(group, name)
        rec = {"name": name, "kind": kind, "t0": time.monotonic()}
        try:
            yield rec
        finally:
            rec["t1"] = time.monotonic()
            rec.update(job_counts(self.sc, group))
            self.sc.setJobGroup("perfbench-idle", "idle")
            self.spans.append(rec)

    def pass_spans(self, t0: float, t1: float) -> list[dict]:
        return [s for s in self.spans if s["t0"] >= t0 and s["t1"] <= t1]


def job_counts(sc, group: str) -> dict:
    """Jobs, stages that ran at least one task, and tasks, for a job group."""
    st = sc.statusTracker()
    jobs = stages = tasks = 0
    for jid in st.getJobIdsForGroup(group):
        info = st.getJobInfo(jid)
        if info is None:
            continue
        jobs += 1
        for sid in info.stageIds:
            sinfo = st.getStageInfo(sid)
            if sinfo is not None and sinfo.numCompletedTasks > 0:
                stages += 1
                tasks += sinfo.numCompletedTasks
    return {"jobs": jobs, "stages": stages, "tasks": tasks}


def span_cover(spans: list[dict], t0: float, t1: float) -> float:
    """Share of [t0, t1] covered by the union of the spans."""
    if t1 <= t0:
        return 0.0
    covered, end = 0.0, t0
    for s in sorted(spans, key=lambda s: s["t0"]):
        a, b = max(s["t0"], end), min(s["t1"], t1)
        if b > a:
            covered += b - a
            end = b
    return covered / (t1 - t0)


# ---------------------------------------------------------------------------
# Spark SQL metrics from the executed plan
# ---------------------------------------------------------------------------

def plan_nodes(df, into_cache: bool = True):
    """Every physical node of *df*'s executed plan, as (node, parent index)
    pairs; the root's parent index is -1.

    The walk enters ``AdaptiveSparkPlanExec.executedPlan()``, each
    ``*QueryStageExec.plan()`` and (unless *into_cache* is false) the cached
    plan under an ``InMemoryTableScanExec``, so it sees the final adaptive
    plan and the operators that filled a cache.  Read it after an action that ran on
    *df*'s own query execution (``collect``, ``toPandas``, or
    ``_jdf.queryExecution().toRdd().count()``): a ``write`` plans a new
    query execution and leaves these metrics at zero."""
    out = []
    stack = [(df._jdf.queryExecution().executedPlan(), -1)]
    while stack:
        node, parent = stack.pop()
        here = len(out)
        out.append((node, parent))
        cls = node.getClass().getSimpleName()
        if cls == "AdaptiveSparkPlanExec":
            stack.append((node.executedPlan(), here))
            continue
        if cls.endswith("QueryStageExec"):
            stack.append((node.plan(), here))
            continue
        if cls == "InMemoryTableScanExec" and into_cache:
            stack.append((node.relation().cachedPlan(), here))
        it = node.children().iterator()
        while it.hasNext():
            stack.append((it.next(), here))
    return out


def node_metrics(node) -> dict:
    vals = {}
    it = node.metrics().iterator()
    while it.hasNext():
        kv = it.next()
        vals[kv._1()] = kv._2().value()
    return vals


_PY = ("ArrowEvalPythonExec", "MapInPandasExec", "FlatMapGroupsInPandasExec",
       "BatchEvalPythonExec", "MapInArrowExec")


def operator_metrics(df, into_cache: bool = True) -> dict:
    """Spark's own operator metrics of *df*'s executed plan, summed over
    nodes, in benchmark units (s and MB).  Pass into_cache=False for a plan
    that read a cache another action filled, so its operators count once."""
    m = defaultdict(float)
    for node, _ in plan_nodes(df, into_cache):
        cls = node.getClass().getSimpleName()
        v = node_metrics(node)
        if cls in _PY:
            m["python.boot_s"] += v.get("pythonBootTime", 0) / 1e3
            m["python.total_s"] += v.get("pythonTotalTime", 0) / 1e3
            m["arrow.sent_mb"] += v.get("pythonDataSent", 0) / 1e6
            m["arrow.recv_mb"] += v.get("pythonDataReceived", 0) / 1e6
        elif cls == "ShuffleExchangeExec":
            m["shuffle.write_mb"] += v.get("shuffleBytesWritten", 0) / 1e6
            m["shuffle.write_s"] += v.get("shuffleWriteTime", 0) / 1e9
        elif cls == "BroadcastExchangeExec":
            m["broadcast.mb"] += v.get("dataSize", 0) / 1e6
            m["broadcast.build_s"] += (v.get("collectTime", 0)
                                       + v.get("buildTime", 0)) / 1e3
        elif cls in ("HashAggregateExec", "ObjectHashAggregateExec",
                     "SortAggregateExec"):
            m["agg.s"] += v.get("aggTime", 0) / 1e3
        elif cls == "WholeStageCodegenExec":
            m["codegen.s"] += v.get("pipelineTime", 0) / 1e3
    return dict(m)


def node_classes(df) -> set[str]:
    return {node.getClass().getSimpleName() for node, _ in plan_nodes(df)}


def _is_join(node) -> bool:
    return node.getClass().getSimpleName() in (
        "BroadcastHashJoinExec", "ShuffledHashJoinExec", "SortMergeJoinExec",
        "BroadcastNestedLoopJoinExec")


def rows_kept_after_join(df, key: str) -> int:
    """Rows that leave the joins on *key* and the Filter right above each
    (when Catalyst folds the filter into the join condition, the join's own
    output rows already are the kept rows)."""
    nodes = plan_nodes(df)
    total = 0
    for node, parent in nodes:
        if not _is_join(node) or key not in node.simpleString(200):
            continue
        kept = int(node_metrics(node).get("numOutputRows", 0))
        while parent >= 0:
            p, parent = nodes[parent]
            cls = p.getClass().getSimpleName()
            if cls == "FilterExec":
                kept = int(node_metrics(p).get("numOutputRows", 0))
                break
            if _is_join(p) or "Exchange" in cls or cls.endswith("QueryStageExec"):
                break
        total += kept
    return total


def run_plan(df) -> int:
    """Execute *df*'s own physical plan without moving rows to Python (the
    count-action span of a layer); its SQL metrics stay readable."""
    return int(df._jdf.queryExecution().toRdd().count())


# ---------------------------------------------------------------------------
# memory
# ---------------------------------------------------------------------------

def _tree_stats(root_pid: int) -> tuple[int, float]:
    """(resident bytes, CPU seconds) of *root_pid* and its descendants."""
    children = defaultdict(list)
    rss, cpu = {}, {}
    page = os.sysconf("SC_PAGE_SIZE")
    tick = os.sysconf("SC_CLK_TCK")
    for ent in os.listdir("/proc"):
        if not ent.isdigit():
            continue
        try:
            with open(f"/proc/{ent}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        fields = stat[stat.rfind(")") + 2:].split()
        pid = int(ent)
        children[int(fields[1])].append(pid)
        rss[pid] = int(fields[21]) * page
        cpu[pid] = (int(fields[11]) + int(fields[12])) / tick
    total, cpu_s, todo = 0, 0.0, [root_pid]
    while todo:
        pid = todo.pop()
        total += rss.get(pid, 0)
        cpu_s += cpu.get(pid, 0.0)
        todo.extend(children.get(pid, ()))
    return total, cpu_s


def tree_cpu_s() -> float:
    """CPU seconds used so far by this process and its live descendants."""
    return _tree_stats(os.getpid())[1]


def _tree_rss_bytes(root_pid: int) -> int:
    return _tree_stats(root_pid)[0]


class RssSampler:
    """Peak resident memory of this process and all its descendants (the
    Python driver, the JVM and its Python workers), sampled from /proc."""

    def __init__(self, period_s: float = 0.2):
        self.period_s = period_s
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self):
        pid = os.getpid()
        while not self._stop.is_set():
            self.peak = max(self.peak, _tree_rss_bytes(pid))
            self._stop.wait(self.period_s)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=5)
        self.peak = max(self.peak, _tree_rss_bytes(os.getpid()))
