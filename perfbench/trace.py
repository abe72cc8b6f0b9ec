"""Spans and per-layer counters, recorded from the benchmark's side.

A span is (op id, name, parent, start, end); spans are kept in memory
and written as JSON lines when the run ends. A layer's self time is its
span minus the spans nested in it. Spark-side counters come from three
places the benchmark can reach without touching the engine:

- the job/stage status store, for jobs, stages, tasks, shuffle and
  spill bytes of every job launched between two snapshots;
- the physical plan a query actually ran (the final adaptive plan,
  query stages included), for Python-worker and broadcast SQL metrics,
  taken from the DataFrame or from a query-execution listener;
- ``/proc``, for the CPU time and the peak resident memory of the JVM
  and the Python workers.
"""

from __future__ import annotations

import json
import os
import time
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import dataclass, field


@dataclass
class Span:
    op: int
    name: str
    parent: int | None
    start: float
    end: float = 0.0


@dataclass
class Tracer:
    """In-memory span recorder. With ``enabled`` false every span is a
    no-op, so untraced runs pay nothing for the calls left in place."""
    enabled: bool
    spans: list[Span] = field(default_factory=list)
    _stack: list[int] = field(default_factory=list)
    _op: int = 0

    def new_op(self) -> int:
        self._op += 1
        return self._op

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        parent = self._stack[-1] if self._stack else None
        s = Span(self._op, name, parent, time.perf_counter())
        self.spans.append(s)
        self._stack.append(len(self.spans) - 1)
        try:
            yield
        finally:
            s.end = time.perf_counter()
            self._stack.pop()

    def wrap(self, name: str, fn):
        """``fn`` with every call recorded as a span named ``name``."""
        def traced(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)
        return traced

    def totals(self, ops: set[int]) -> dict[str, float]:
        """Seconds per span name (children included) over ``ops``."""
        out: dict[str, float] = defaultdict(float)
        for s in self.spans:
            if s.op in ops:
                out[s.name] += s.end - s.start
        return dict(out)

    def write(self, path: str) -> None:
        """One JSON line per span, with its self time: the span minus
        the spans directly nested in it."""
        child = defaultdict(float)
        for s in self.spans:
            if s.parent is not None:
                child[s.parent] += s.end - s.start
        os.makedirs(os.path.dirname(path), exist_ok=True)
        t0 = self.spans[0].start if self.spans else 0.0
        with open(path, "w", encoding="utf-8") as fh:
            for i, s in enumerate(self.spans):
                fh.write(json.dumps({
                    "id": i, "op": s.op, "name": s.name, "parent": s.parent,
                    "start_s": round(s.start - t0, 6),
                    "end_s": round(s.end - t0, 6),
                    "self_s": round(s.end - s.start - child[i], 6)}) + "\n")


# ------------------------------------------------------------ Spark side

class JobWindow:
    """Counts the jobs the client launched between ``__init__`` and
    ``collect`` (the benchmark's client is single-threaded, so every job
    without a job group in that window is its own), with their stages,
    tasks and shuffle/spill bytes from the status store."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self._drain()
        self.before = set(self.sc.statusTracker().getJobIdsForGroup(None))

    def _drain(self) -> None:
        # status-store updates arrive through the listener bus; wait for
        # it so a finished job's final stage metrics are visible
        self.sc._jsc.sc().listenerBus().waitUntilEmpty()

    def collect(self) -> dict[str, float]:
        self._drain()
        tracker = self.sc.statusTracker()
        store = self.sc._jsc.sc().statusStore()
        jobs = set(tracker.getJobIdsForGroup(None)) - self.before
        out = {"jobs": len(jobs), "stages": 0, "tasks": 0,
               "failed_tasks": 0, "shuffle_write_bytes": 0,
               "spill_bytes": 0}
        seen: set[int] = set()
        for j in jobs:
            info = tracker.getJobInfo(j)
            for sid in (info.stageIds if info else ()):
                if sid in seen:
                    continue
                seen.add(sid)
                sd = store.lastStageAttempt(sid)
                if str(sd.status()) == "SKIPPED":
                    continue
                out["stages"] += 1
                out["tasks"] += sd.numTasks()
                out["failed_tasks"] += sd.numFailedTasks()
                out["shuffle_write_bytes"] += sd.shuffleWriteBytes()
                out["spill_bytes"] += (sd.memoryBytesSpilled()
                                       + sd.diskBytesSpilled())
        return out


#: SQL metrics read from executed plans: plan-node metric -> layer key
PLAN_METRICS = {
    "pythonTotalTime": "python_eval_ms",
    "pythonBootTime": "python_boot_ms",
    "pythonInitTime": "python_boot_ms",
    "pythonDataSent": "python_bytes",
    "pythonDataReceived": "python_bytes",
    "pythonNumRowsReceived": "python_rows",
}
_STAGE_NODES = ("ShuffleQueryStageExec", "BroadcastQueryStageExec",
                "TableCacheQueryStageExec", "ResultQueryStageExec")


def plan_metrics(plan) -> dict[str, float]:
    """Sum the Python-worker and broadcast SQL metrics of an executed
    physical plan, walking into adaptive plans, query stages and
    subqueries (reused exchanges are counted once, where they ran)."""
    out: dict[str, float] = defaultdict(float)

    def walk(p) -> None:
        cls = p.getClass().getSimpleName()
        it = p.metrics().iterator()
        while it.hasNext():
            kv = it.next()
            key = PLAN_METRICS.get(kv._1())
            if key is not None:
                out[key] += kv._2().value()
            elif cls == "BroadcastExchangeExec" and kv._1() == "dataSize":
                out["broadcast_bytes"] += kv._2().value()
        if cls == "AdaptiveSparkPlanExec":
            walk(p.executedPlan())
            return
        if cls in _STAGE_NODES:
            walk(p.plan())
            return
        if cls == "ReusedExchangeExec":
            return
        for seq in (p.children(), p.subqueries()):
            ch = seq.iterator()
            while ch.hasNext():
                walk(ch.next())

    walk(plan)
    return dict(out)


def plan_layer_metrics(pm: dict[str, float]) -> dict[str, float]:
    """``plan_metrics`` totals as the benchmark's layer metrics."""
    return {"python.eval_s": pm.get("python_eval_ms", 0) / 1000,
            "python.boot_s": pm.get("python_boot_ms", 0) / 1000,
            "python.io_bytes": pm.get("python_bytes", 0),
            "python.rows": pm.get("python_rows", 0),
            "exec.broadcast_bytes": pm.get("broadcast_bytes", 0)}


class PlanMetricsListener:
    """Sums ``plan_metrics`` and the Catalyst phase times over every
    query the session executes while the listener is registered, for
    callers that never hold the DataFrames they run (the DAG's nodes).
    Spark calls it back from its listener bus, through the Py4J
    callback server."""

    def __init__(self, spark):
        from pyspark.java_gateway import ensure_callback_server_started
        self.spark = spark
        self.totals: dict[str, float] = defaultdict(float)
        self.phases: dict[str, float] = defaultdict(float)
        ensure_callback_server_started(spark.sparkContext._gateway)

    def __enter__(self):
        self.spark._jsparkSession.listenerManager().register(self)
        return self

    def __exit__(self, *exc) -> None:
        # deliver the last queries' end events, then remove the listener;
        # ``unregister`` cannot find it (each call through Py4J makes a new
        # Java proxy), and the engine registers no listener of its own
        self.spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
        self.spark._jsparkSession.listenerManager().clear()

    def onSuccess(self, func_name, qe, duration_ns) -> None:
        for k, v in plan_metrics(qe.executedPlan()).items():
            self.totals[k] += v
        for k, v in catalyst_phases(qe).items():
            self.phases[k] += v

    def onFailure(self, func_name, qe, exception) -> None:
        pass

    class Java:
        implements = ["org.apache.spark.sql.util.QueryExecutionListener"]


def catalyst_phases(qe) -> dict[str, float]:
    """Seconds per Catalyst phase recorded by a QueryExecution, as the
    layer metrics ``catalyst.<phase>_s``."""
    out = {f"catalyst.{p}_s": 0.0
           for p in ("parse", "analysis", "optimization", "planning")}
    it = qe.tracker().phases().iterator()
    while it.hasNext():
        kv = it.next()
        phase = kv._1().replace("parsing", "parse")
        out[f"catalyst.{phase}_s"] = kv._2().durationMs() / 1000.0
    return out


# ---------------------------------------------------------------- memory

def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = defaultdict(list)
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat", encoding="ascii") as fh:
                ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
        except (OSError, ValueError, IndexError):
            continue
        kids[ppid].append(int(d))
    return kids


_TICK = os.sysconf("SC_CLK_TCK")


def _descendants() -> list[int]:
    kids = _children()
    out, stack = [], [os.getpid()]
    while stack:
        pid = stack.pop()
        out.append(pid)
        stack.extend(kids.get(pid, []))
    return out


def tree_cpu_s() -> float:
    """CPU seconds (user + system, reaped children included) this
    process and its descendants (the JVM, the Python workers) have used.
    Time the hypervisor steals from the guest is charged to no process,
    so unlike wall time this does not grow when a neighbour takes the
    host's CPUs."""
    ticks = 0
    for pid in _descendants():
        try:
            with open(f"/proc/{pid}/stat", encoding="ascii") as fh:
                fields = fh.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        ticks += sum(int(x) for x in fields[11:15])
    return ticks / _TICK


def _status(pid: int) -> tuple[str, float]:
    """(command name, VmHWM in MB) of a process; ('', 0) if gone."""
    name, hwm = "", 0.0
    try:
        with open(f"/proc/{pid}/status", encoding="ascii",
                  errors="replace") as fh:
            for line in fh:
                if line.startswith("Name:"):
                    name = line.split()[1]
                elif line.startswith("VmHWM:"):
                    hwm = int(line.split()[1]) / 1024.0
    except OSError:
        pass
    return name, hwm


def memory_peaks() -> dict[str, float]:
    """Peak RSS (VmHWM) of the JVM and the largest Python worker among
    this process's descendants."""
    jvm = worker = 0.0
    for pid in _descendants()[1:]:
        name, hwm = _status(pid)
        if name == "java":
            jvm = max(jvm, hwm)
        elif name.startswith("python"):
            worker = max(worker, hwm)
    return {"jvm_peak_mb": jvm, "py_worker_peak_mb": worker}
