"""Instrumentation for the traced run: spans recorded around calls into the
package's public functions, plus counters read from Spark's own bookkeeping
(query-execution phase tracker, SQL metrics, the app status store, codegen
counters, the block manager and streaming progress).

Nothing here changes package code: wrappers are installed on module
attributes for the duration of a traced run and removed afterwards.
"""

from __future__ import annotations

import contextlib
import functools
import json
import os
import statistics
import sys
import threading
import time
from collections import defaultdict

from py4j.protocol import Py4JJavaError

PKG = "python_cdc_postgres_to_clickhouse_spark"


# ---------------------------------------------------------------------------
# Spans
# ---------------------------------------------------------------------------


class Tracer:
    """In-memory span recorder. A span has a name, start and end (seconds on
    the ``perf_counter`` clock), a parent span id and a trace id; the trace
    id is set per query call or per micro-batch. Spans opened on a thread
    nest under that thread's open span."""

    def __init__(self) -> None:
        self.spans: list[dict] = []
        self.active = False  # wrappers record only while this is set
        self._local = threading.local()
        self._lock = threading.Lock()

    @contextlib.contextmanager
    def on(self, enabled: bool = True):
        prev, self.active = self.active, enabled
        try:
            yield
        finally:
            self.active = prev

    def _stack(self) -> list[dict]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    @contextlib.contextmanager
    def span(self, name: str, trace_id: str | None = None):
        stack = self._stack()
        parent = stack[-1] if stack else None
        rec = {
            "name": name,
            "trace_id": trace_id or (parent["trace_id"] if parent else name),
            "parent": parent["id"] if parent else None,
            "start": time.perf_counter(),
            "end": None,
        }
        with self._lock:
            rec["id"] = len(self.spans)
            self.spans.append(rec)
        stack.append(rec)
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            stack.pop()

    def root(self) -> dict | None:
        """The outermost span open on this thread."""
        stack = self._stack()
        return stack[0] if stack else None

    def self_times(self) -> dict[int, float]:
        """Span duration minus the part of its interval its children cover."""
        children: dict[int, list[tuple[float, float]]] = defaultdict(list)
        for s in self.spans:
            if s["parent"] is not None and s["end"] is not None:
                children[s["parent"]].append((s["start"], s["end"]))
        out = {}
        for s in self.spans:
            if s["end"] is None:
                continue
            covered, cur_lo, cur_hi = 0.0, None, None
            for lo, hi in sorted(children.get(s["id"], [])):
                lo, hi = max(lo, s["start"]), min(hi, s["end"])
                if cur_hi is None or lo > cur_hi:
                    if cur_hi is not None:
                        covered += cur_hi - cur_lo
                    cur_lo, cur_hi = lo, hi
                else:
                    cur_hi = max(cur_hi, hi)
            if cur_hi is not None:
                covered += cur_hi - cur_lo
            out[s["id"]] = (s["end"] - s["start"]) - covered
        return out

    def self_time_by_name(self) -> dict[str, float]:
        totals: dict[str, float] = defaultdict(float)
        for sid, t in self.self_times().items():
            totals[self.spans[sid]["name"]] += t
        return dict(totals)

    def dump(self, path: str, extra: dict) -> None:
        selfs = self.self_times()
        spans = [
            {**s, "self_s": selfs.get(s["id"])} for s in self.spans if s["end"] is not None
        ]
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump({**extra, "spans": spans}, f, default=str)


# ---------------------------------------------------------------------------
# Wrapping package functions from outside
# ---------------------------------------------------------------------------


@contextlib.contextmanager
def patched(targets: list[tuple[str, str, object]]):
    """Replace ``module.attr`` with a wrapper in every loaded package module
    that bound the original object (``from .x import f`` copies the name),
    restoring all of them on exit. ``targets`` holds (module, attr, wrapper
    factory) triples; the factory receives the original callable."""
    undo = []
    try:
        for mod_name, attr, make in targets:
            mod = sys.modules[mod_name]
            orig = getattr(mod, attr, None)
            if orig is None:
                continue
            wrapper = make(orig)
            for m in list(sys.modules.values()):
                if m is None or not getattr(m, "__name__", "").startswith(PKG):
                    continue
                if getattr(m, attr, None) is orig:
                    undo.append((m, attr, orig))
                    setattr(m, attr, wrapper)
        yield
    finally:
        for m, attr, orig in reversed(undo):
            setattr(m, attr, orig)


@contextlib.contextmanager
def patched_method(cls, attr: str, make):
    orig = getattr(cls, attr)
    setattr(cls, attr, make(orig))
    try:
        yield
    finally:
        setattr(cls, attr, orig)


class Counters:
    """Named counters written by wrappers (possibly from py4j callback
    threads) and read by the workload."""

    def __init__(self) -> None:
        self.values: dict[str, float] = defaultdict(float)
        self.lists: dict[str, list[float]] = defaultdict(list)
        self._lock = threading.Lock()

    def add(self, name: str, v: float = 1.0) -> None:
        with self._lock:
            self.values[name] += v

    def sample(self, name: str, v: float) -> None:
        with self._lock:
            self.lists[name].append(v)


def gated(tracer: Tracer, orig, traced):
    """``traced`` while the tracer is active, ``orig`` otherwise."""

    @functools.wraps(orig)
    def wrapper(*args, **kwargs):
        return (traced if tracer.active else orig)(*args, **kwargs)

    return wrapper


# ---------------------------------------------------------------------------
# JVM-side probes
# ---------------------------------------------------------------------------


def _seq(jseq) -> list:
    it = jseq.iterator()
    out = []
    while it.hasNext():
        out.append(it.next())
    return out


def _plan_nodes(node) -> list:
    """Every physical node under ``node``, looking through adaptive plans
    and query stages."""
    out, todo = [], [node]
    while todo:
        n = todo.pop()
        out.append(n)
        cls = n.getClass().getSimpleName()
        if cls == "AdaptiveSparkPlanExec":
            todo.append(n.executedPlan())
        elif cls.endswith("QueryStageExec"):
            todo.append(n.plan())
        todo.extend(_seq(n.children()))
        todo.extend(_seq(n.subqueries()))
    return out


class QueryProbe:
    """A ``QueryExecutionListener`` implemented over the py4j callback
    server. For each successful execution it keeps the catalyst phase
    durations and the SQL metrics of the executed plan, summed by metric
    name (Python-worker metrics, file-scan metrics)."""

    WANTED = {
        "pythonTotalTime", "pythonDataSent", "pythonDataReceived",
        "pythonNumRowsReceived", "numFiles", "numOutputRows",
    }

    class Java:
        implements = ["org.apache.spark.sql.util.QueryExecutionListener"]

    def __init__(self, spark) -> None:
        from pyspark.java_gateway import ensure_callback_server_started

        self.spark = spark
        self.records: list[dict] = []
        self._cv = threading.Condition()
        ensure_callback_server_started(spark.sparkContext._gateway)
        spark._jsparkSession.listenerManager().register(self)

    def close(self) -> None:
        self.spark._jsparkSession.listenerManager().unregister(self)

    # -- listener interface -------------------------------------------------
    @staticmethod
    def empty_record(func_name: str) -> dict:
        return {"func": func_name, "phases": {}, "metrics": defaultdict(int), "scan_rows": 0}

    def onSuccess(self, func_name, qe, duration_ns):
        rec = self.empty_record(func_name)
        try:
            rec["phases"] = phases(qe)
            for n in _plan_nodes(qe.executedPlan()):
                cls = n.getClass().getSimpleName()
                ms = n.metrics()
                for key in _seq(ms.keys()):
                    if key not in self.WANTED:
                        continue
                    v = ms.apply(key).value()
                    if key == "numOutputRows":
                        if "Scan" in cls:
                            rec["scan_rows"] += v
                        continue
                    rec["metrics"][key] += v
        finally:
            with self._cv:
                self.records.append(rec)
                self._cv.notify_all()

    def onFailure(self, func_name, qe, exc):
        with self._cv:
            self.records.append(self.empty_record(func_name))
            self._cv.notify_all()

    def wait_for(self, start: int, func: str, count: int = 1, timeout: float = 30.0) -> list[dict]:
        """Records from index ``start`` on, once ``count`` of them come from
        action ``func`` (listener events are delivered asynchronously, in
        order)."""

        def ready():
            return sum(r["func"] == func for r in self.records[start:]) >= count

        with self._cv:
            self._cv.wait_for(ready, timeout)
            return self.records[start:]


def phases(jqe) -> dict[str, int]:
    """Catalyst phase durations (ms) from ``QueryExecution.tracker()``."""
    out = {}
    for kv in _seq(jqe.tracker().phases()):
        out[kv._1()] = kv._2().durationMs()
    return out


class JvmCounters:
    def __init__(self, spark) -> None:
        self.spark = spark
        self.jvm = spark._jvm
        self.jsc = spark.sparkContext._jsc.sc()

    def codegen(self) -> tuple[int, int]:
        """(total compile nanoseconds, classes compiled) since JVM start."""
        cg = self.jvm.org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
        hist = self.jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME()
        return int(cg.compileTime()), int(hist.getCount())

    def stages(self, job_group: str) -> dict[str, float]:
        """Stage-execution totals over every job tagged ``job_group``."""
        sc = self.spark.sparkContext
        tracker = sc.statusTracker()
        store = self.jsc.statusStore()
        gw = sc._gateway
        q = gw.new_array(self.jvm.double, 2)
        q[0], q[1] = 0.5, 1.0
        tot = defaultdict(float)
        skews = []
        seen = set()
        for job in tracker.getJobIdsForGroup(job_group):
            info = tracker.getJobInfo(job)
            if info is None:
                continue
            for sid in info.stageIds:
                if sid in seen:
                    continue
                seen.add(sid)
                try:
                    sd = store.lastStageAttempt(sid)
                except Py4JJavaError:  # stage evicted from the status store
                    continue
                if sd.status().toString() == "SKIPPED":
                    continue
                tot["stages"] += 1
                tot["tasks"] += sd.numCompleteTasks()
                tot["executor_run_s"] += sd.executorRunTime() / 1e3
                tot["executor_cpu_s"] += sd.executorCpuTime() / 1e9
                tot["gc_s"] += sd.jvmGcTime() / 1e3
                tot["shuffle_read_bytes"] += sd.shuffleReadBytes()
                tot["shuffle_write_bytes"] += sd.shuffleWriteBytes()
                tot["spill_bytes"] += sd.memoryBytesSpilled() + sd.diskBytesSpilled()
                summ = store.taskSummary(sid, sd.attemptId(), q)
                if summ.isDefined():
                    rt = summ.get().executorRunTime()
                    med, mx = rt.apply(0), rt.apply(1)
                    if sd.numCompleteTasks() > 1 and med > 0:
                        skews.append(mx / med)
        tot["task_skew"] = max(skews) if skews else 1.0
        return dict(tot)

    def storage(self) -> tuple[int, int]:
        """(bytes held by persisted RDDs, number of persisted RDDs)."""
        infos = self.jsc.getRDDStorageInfo()
        held = sum(int(i.memSize()) + int(i.diskSize()) for i in infos)
        return held, int(self.jsc.getPersistentRDDs().size())


# ---------------------------------------------------------------------------
# Streaming progress
# ---------------------------------------------------------------------------


def make_progress_listener(spark):
    """A ``StreamingQueryListener`` keeping every progress event (unlike
    ``query.recentProgress``, which keeps the last 100)."""
    from pyspark.sql.streaming import StreamingQueryListener

    class ProgressLog(StreamingQueryListener):
        def __init__(self) -> None:
            self.progress: list[dict] = []
            self._lock = threading.Lock()

        def onQueryStarted(self, event):
            pass

        def onQueryProgress(self, event):
            with self._lock:
                self.progress.append(json.loads(event.progress.json))

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            pass

        def batches(self, n: int, timeout: float = 30.0) -> list[dict]:
            """Wait until progress for ``n`` data batches has arrived."""
            deadline = time.monotonic() + timeout
            while time.monotonic() < deadline:
                with self._lock:
                    got = [p for p in self.progress if p.get("numInputRows", 0) > 0]
                if len(got) >= n:
                    return got
                time.sleep(0.05)
            return got

    log = ProgressLog()
    spark.streams.addListener(log)
    return log


# ---------------------------------------------------------------------------
# Process memory
# ---------------------------------------------------------------------------


def peak_rss_mb(pids: list[int]) -> float:
    """Sum of the peak resident set sizes (VmHWM) of ``pids``."""
    total_kb = 0
    for pid in pids:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    total_kb += int(line.split()[1])
    return total_kb / 1024.0


def median(xs: list[float]) -> float:
    return statistics.median(xs) if xs else 0.0
