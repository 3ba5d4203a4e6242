"""Tracing tools for the traced run: spans, Spark plan counters, job counts
and Python worker memory.

Spans are recorded from the benchmark's side, around each call into a
public function of the package; nothing inside the package is
instrumented. Spark's own counters are read from the AQE-final physical
plan of every query execution, which a ``QueryExecutionListener`` hands
over after each action (actions the package runs internally included).
"""

from __future__ import annotations

import contextlib
import json
import os
import re
import threading
import time
from dataclasses import dataclass

# ---------------------------------------------------------------------------
# spans
# ---------------------------------------------------------------------------


@dataclass
class Span:
    id: int
    parent: int | None
    trace: int
    name: str
    start: float
    end: float = 0.0

    @property
    def duration(self) -> float:
        return self.end - self.start


class SpanRecorder:
    """In-memory span recorder. Spans opened inside ``new_trace`` share
    its trace id (one id per round); they are written out by ``dump``.
    A disabled recorder keeps nothing."""

    def __init__(self, enabled: bool = True):
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._trace = 0

    def new_trace(self) -> int:
        self._trace += 1
        return self._trace

    @contextlib.contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield None
            return
        parent = self._stack[-1].id if self._stack else None
        sp = Span(len(self.spans), parent, self._trace, name, time.perf_counter())
        self.spans.append(sp)
        self._stack.append(sp)
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            self._stack.pop()

    def dump(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as fh:
            json.dump([sp.__dict__ for sp in self.spans], fh)


def self_times(spans: list[Span]) -> dict[int, float]:
    """Self time per span id: its duration minus the part of its interval
    that its children cover (children may overlap each other)."""
    kids: dict[int, list[Span]] = {}
    for sp in spans:
        if sp.parent is not None:
            kids.setdefault(sp.parent, []).append(sp)
    out = {}
    for sp in spans:
        covered = 0.0
        cur_lo = cur_hi = None
        for c in sorted(kids.get(sp.id, []), key=lambda s: s.start):
            lo, hi = max(c.start, sp.start), min(c.end, sp.end)
            if hi <= lo:
                continue
            if cur_hi is None or lo > cur_hi:
                if cur_hi is not None:
                    covered += cur_hi - cur_lo
                cur_lo, cur_hi = lo, hi
            else:
                cur_hi = max(cur_hi, hi)
        if cur_hi is not None:
            covered += cur_hi - cur_lo
        out[sp.id] = sp.duration - covered
    return out


# ---------------------------------------------------------------------------
# Spark plan counters
# ---------------------------------------------------------------------------

PLAN_COUNTERS = (
    "scan_s", "scan_mib", "codegen_s", "arrow_sent_mib", "arrow_received_mib",
    "python_s", "python_init_s", "shuffle_mib", "broadcast_mib",
)
JOB_COUNTERS = ("jobs", "stages", "tasks")

_MIB = float(1 << 20)
# the SQL metrics read, and their scale to seconds or MiB (Spark keeps
# these timings in ms and sizes in bytes)
_METRIC_SCALE = {
    "pythonTotalTime": 1e-3, "pythonInitTime": 1e-3, "pipelineTime": 1e-3,
    "scanTime": 1e-3, "pythonDataSent": 1 / _MIB, "pythonDataReceived": 1 / _MIB,
    "dataSize": 1 / _MIB, "filesSize": 1 / _MIB, "numOutputRows": 1.0,
}
_METRIC_RE = re.compile(r"(\w+) -> SQLMetric\(id: \d+, name: .*?, value: (-?\d+)\)")


def _read_metrics(name: str) -> bool:
    """Nodes whose metrics are read; the rest are only walked through."""
    return name.startswith(("Scan", "WholeStageCodegen", "Exchange", "BroadcastExchange", "Generate")) or any(
        part in name for part in ("Python", "Pandas", "Arrow")
    )


def walk_plan(plan) -> dict:
    """Sums the counters of one executed physical plan.

    AQE plans are followed to their final form: the adaptive node to its
    executed plan and each query stage to the plan it ran. Reused
    exchanges and cached-relation scans are not walked again, so a plan
    fragment executed once is counted once. Node metrics are also kept
    per node name (``by_node``) for layer attribution. Each node costs a
    few py4j calls: metrics come from one ``toString`` of the metric map.
    """
    acc = {k: 0.0 for k in PLAN_COUNTERS}
    acc["by_node"] = {}
    _walk(plan, acc)
    return acc


def _walk(node, acc: dict) -> None:
    name = node.nodeName()
    if name == "AdaptiveSparkPlan":
        _walk(node.executedPlan(), acc)
        return
    if name.endswith("QueryStage"):
        _walk(node.plan(), acc)
        return
    if name in ("ReusedExchange", "InMemoryTableScan"):
        return
    if _read_metrics(name):
        key = name.split(" (")[0]  # "WholeStageCodegen (3)" -> one key
        metrics = {
            k: int(v) * _METRIC_SCALE[k]
            for k, v in _METRIC_RE.findall(node.metrics().toString())
            if k in _METRIC_SCALE
        }
        per = acc["by_node"].setdefault(key, {})
        for k, v in metrics.items():
            per[k] = per.get(k, 0.0) + v
        _fold(key, metrics, acc)
    # index the Seq: py4j's iterator protocol ends in a Java exception,
    # which costs tens of milliseconds per node
    children = node.children()
    for i in range(children.length()):
        _walk(children.apply(i), acc)


def _fold(key: str, m: dict, acc: dict) -> None:
    if key.startswith("Scan"):
        acc["scan_s"] += m.get("scanTime", 0.0)
        acc["scan_mib"] += m.get("filesSize", 0.0)
    elif key == "WholeStageCodegen":
        acc["codegen_s"] += m.get("pipelineTime", 0.0)
    elif key == "Exchange":
        acc["shuffle_mib"] += m.get("dataSize", 0.0)
    elif key == "BroadcastExchange":
        acc["broadcast_mib"] += m.get("dataSize", 0.0)
    elif "pythonDataSent" in m:
        acc["arrow_sent_mib"] += m["pythonDataSent"]
        acc["arrow_received_mib"] += m.get("pythonDataReceived", 0.0)
        acc["python_s"] += m.get("pythonTotalTime", 0.0)
        acc["python_init_s"] += m.get("pythonInitTime", 0.0)


class _ExecutionListener:
    """py4j proxy for ``org.apache.spark.sql.util.QueryExecutionListener``."""

    def __init__(self, sink):
        self._sink = sink

    def onSuccess(self, func_name, qe, duration_ns):  # noqa: N802 (Java API)
        self._sink(qe)

    def onFailure(self, func_name, qe, exception):  # noqa: N802 (Java API)
        self._sink(qe)

    class Java:
        implements = ["org.apache.spark.sql.util.QueryExecutionListener"]


class PlanCounters:
    """Collects plan counters of every query execution into the buckets
    open at the time (``open``/``close`` nest), and job/stage/task counts
    from the status tracker for the jobs run under each bucket's job
    group."""

    def __init__(self, spark):
        from pyspark.java_gateway import ensure_callback_server_started

        self._spark = spark
        sc = spark.sparkContext
        ensure_callback_server_started(sc._gateway)
        self._lock = threading.Lock()
        self._stack: list[tuple[str, str | None, dict]] = []
        self._seq = 0
        self._errors: list[str] = []
        self._listener = _ExecutionListener(self._on_execution)
        spark._jsparkSession.listenerManager().register(self._listener)

    def close_listener(self) -> None:
        self._spark._jsparkSession.listenerManager().unregister(self._listener)

    def _on_execution(self, qe) -> None:
        if not self._stack:  # no bucket open: an untraced round
            return
        try:
            acc = walk_plan(qe.executedPlan())
        except Exception as exc:  # a failed walk must not fail the query
            self._errors.append(repr(exc))
            return
        with self._lock:
            for _, _, bucket in self._stack:
                for k in PLAN_COUNTERS:
                    bucket[k] += acc[k]
                for name, per in acc["by_node"].items():
                    dst = bucket["by_node"].setdefault(name, {})
                    for k, v in per.items():
                        dst[k] = dst.get(k, 0.0) + v

    def _drain(self) -> None:
        """Wait until the listener has seen every execution so far (its
        callbacks run on Spark's listener-bus thread)."""
        self._spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()

    def open(self, name: str) -> int:
        sc = self._spark.sparkContext
        self._drain()  # executions before this bucket stay out of it
        self._seq += 1
        group = f"{name}#{self._seq}"
        bucket = {k: 0.0 for k in PLAN_COUNTERS + JOB_COUNTERS}
        bucket["by_node"] = {}
        prev = sc.getLocalProperty("spark.jobGroup.id")
        with self._lock:
            self._stack.append((group, prev, bucket))
        sc.setJobGroup(group, name)
        return len(self._stack)

    def close(self, token: int) -> dict:
        """Close the innermost bucket, once the listener has seen every
        execution it ran, and return it."""
        sc = self._spark.sparkContext
        if token != len(self._stack):
            raise RuntimeError("plan-counter buckets closed out of order")
        self._drain()
        with self._lock:
            group, prev, bucket = self._stack.pop()
        sc.setLocalProperty("spark.jobGroup.id", prev)
        self._count_jobs(group, bucket)
        for _, _, outer in self._stack:
            for k in JOB_COUNTERS:
                outer[k] += bucket[k]
        if self._errors:
            raise RuntimeError(f"plan walk failed: {self._errors[0]}")
        return bucket

    def _count_jobs(self, group: str, bucket: dict) -> None:
        st = self._spark.sparkContext.statusTracker()
        for jid in st.getJobIdsForGroup(group):
            info = st.getJobInfo(jid)
            if info is None:
                continue
            bucket["jobs"] += 1
            for sid in info.stageIds:
                stage = st.getStageInfo(sid)
                # a stage whose shuffle output was reused ran no task
                if stage is None or stage.numCompletedTasks + stage.numFailedTasks == 0:
                    continue
                bucket["stages"] += 1
                bucket["tasks"] += stage.numCompletedTasks + stage.numFailedTasks


# ---------------------------------------------------------------------------
# Python worker memory
# ---------------------------------------------------------------------------


def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        # the command name may hold spaces; fields resume after its ')'
        ppid = int(stat[stat.rindex(")") + 2 :].split()[1])
        kids.setdefault(ppid, []).append(int(entry))
    return kids


def descendants(pid: int) -> list[int]:
    kids = _children_map()
    out, todo = [], [pid]
    while todo:
        for c in kids.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def alive(pid: int) -> bool:
    """True while the process exists and is not a zombie."""
    try:
        with open(f"/proc/{pid}/stat") as fh:
            stat = fh.read()
    except OSError:
        return False
    return stat[stat.rindex(")") + 2] != "Z"


def _status_kib(pid: int, key: str) -> int | None:
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith(key):
                    return int(line.split()[1])
    except OSError:
        return None
    return None


def _is_python(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/comm") as fh:
            return fh.read().startswith("python")
    except OSError:
        return False


class WorkerMemory:
    """Peak resident memory of Spark's Python workers: the largest
    ``VmHWM`` (the kernel's per-process resident high-water mark) among
    the Python processes under the JVM, sampled after every round."""

    def __init__(self, jvm_pid: int):
        self.jvm_pid = jvm_pid
        self.peak_kib = 0

    def sample(self) -> None:
        for pid in descendants(self.jvm_pid):
            if _is_python(pid):
                hwm = _status_kib(pid, "VmHWM:")
                if hwm:
                    self.peak_kib = max(self.peak_kib, hwm)

    @property
    def peak_mib(self) -> float:
        return self.peak_kib / 1024.0
