"""Per-layer readings taken from outside the engine, plus an in-memory span
recorder.

Every reader here runs after the timed region it describes: Catalyst phase
times from ``QueryExecution.tracker()``, stage counters from the status store
(jobs found by job group), and operator counts from a walk of the final AQE
plan.  None of them needs the Spark UI.
"""

from __future__ import annotations

import json
import re
import statistics
from typing import Any

from py4j.protocol import Py4JJavaError

#: counters every traced entry execution reports (0 when a layer is absent)
EXEC_COUNTERS = (
    "exec.jobs", "exec.stages", "exec.tasks", "exec.executor_run_ms", "exec.executor_cpu_ms",
    "exec.jvm_gc_ms", "exec.input_bytes", "exec.shuffle_write_bytes", "exec.shuffle_read_bytes",
    "exec.spill_bytes",
)
PLAN_COUNTERS = (
    "exec.file_scans", "exec.reused_exchanges", "operators.py_nodes", "operators.py_init_ms",
    "operators.py_compute_ms", "operators.py_bytes_sent", "operators.py_bytes_received",
)
PHASES = ("analysis", "optimization", "planning")

_SCANS = ("FileSourceScanExec", "BatchScanExec")
#: heap occupancy after a full collection in ``-Xlog:gc`` lines, e.g.
#: ``GC(15) Pause Full (System.gc()) 159M->54M(334M) 55.8ms``
_GC_FULL = re.compile(r"Pause Full .*?->(\d+)([KMG])\(")
_MB = {"K": 1 / 1024, "M": 1, "G": 1024}


class Tracer:
    """Spans kept in memory until the run ends: name, trace id (one per entry
    execution), parent span, start/end on ``perf_counter`` and the counters
    read at that boundary."""

    def __init__(self) -> None:
        self.spans: list[dict[str, Any]] = []

    def add(self, name: str, trace: str, start: float, end: float, parent: int | None = None,
            counters: dict[str, float] | None = None) -> int:
        self.spans.append({"id": len(self.spans), "name": name, "trace": trace, "parent": parent,
                           "start": start, "end": end, "counters": counters or {}})
        return len(self.spans) - 1

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            for rec, self_s in zip(self.spans, self_times(self.spans)):
                f.write(json.dumps({**rec, "self_s": self_s}) + "\n")


def self_times(spans: list[dict[str, Any]]) -> list[float]:
    """Each span's duration minus the part of its interval covered by its
    children (overlapping children are counted once, and clipped to the
    parent's interval)."""
    kids: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s["parent"] is not None:
            kids.setdefault(s["parent"], []).append((s["start"], s["end"]))
    out = []
    for s in spans:
        covered, reach = 0.0, s["start"]
        for a, b in sorted(kids.get(s["id"], [])):
            a, b = max(a, reach), min(b, s["end"])
            if b > a:
                covered += b - a
                reach = b
        out.append(s["end"] - s["start"] - covered)
    return out


def catalyst_phases(df) -> dict[str, float]:
    phases = df._jdf.queryExecution().tracker().phases()
    out = {}
    for p in PHASES:
        opt = phases.get(p)
        out[f"catalyst.{p}_ms"] = float(opt.get().durationMs()) if opt.isDefined() else 0.0
    return out


def drain_listener_bus(spark) -> None:
    """Stage metrics reach the status store through the async listener bus."""
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()


def stage_counters(spark, group: str) -> dict[str, float]:
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    store = sc._jsc.sc().statusStore()
    out = dict.fromkeys(EXEC_COUNTERS, 0.0)
    for job in tracker.getJobIdsForGroup(group):
        out["exec.jobs"] += 1
        info = tracker.getJobInfo(job)
        for stage in info.stageIds if info else ():
            try:
                sd = store.lastStageAttempt(stage)
            except Py4JJavaError:  # stage no longer in the store
                continue
            if sd.status().toString() == "SKIPPED":  # its shuffle output was reused
                continue
            out["exec.stages"] += 1
            out["exec.tasks"] += sd.numCompleteTasks()
            out["exec.executor_run_ms"] += sd.executorRunTime()
            out["exec.executor_cpu_ms"] += sd.executorCpuTime() / 1e6
            out["exec.jvm_gc_ms"] += sd.jvmGcTime()
            out["exec.input_bytes"] += sd.inputBytes()
            out["exec.shuffle_write_bytes"] += sd.shuffleWriteBytes()
            out["exec.shuffle_read_bytes"] += sd.shuffleReadBytes()
            out["exec.spill_bytes"] += sd.memoryBytesSpilled() + sd.diskBytesSpilled()
    return out


def _seq(scala_seq) -> list:
    it = scala_seq.iterator()
    out = []
    while it.hasNext():
        out.append(it.next())
    return out


def _metric(node, key: str) -> float:
    opt = node.metrics().get(key)
    if not opt.isDefined():
        return 0.0
    m = opt.get()
    v = float(m.value())
    return v / 1e6 if m.metricType() == "nsTiming" else v


def plan_counters(df) -> dict[str, float]:
    """Walk the executed plan: through the AQE wrapper into its final plan,
    through each query stage into the plan it ran, and into subqueries.  A
    ReusedExchange is counted, not descended, so a reused subtree's scans and
    Python nodes count once."""
    out = dict.fromkeys(PLAN_COUNTERS, 0.0)
    jclass = df.sparkSession._jvm.java.lang.Class
    query_stage = jclass.forName("org.apache.spark.sql.execution.adaptive.QueryStageExec")
    stack = [df._jdf.queryExecution().executedPlan()]
    while stack:
        node = stack.pop()
        cls = node.getClass().getSimpleName()
        if cls == "AdaptiveSparkPlanExec":
            stack.append(node.executedPlan())
            continue
        if query_stage.isInstance(node):
            stack.append(node.plan())
            continue
        if cls == "ReusedExchangeExec":
            out["exec.reused_exchanges"] += 1
            continue
        if cls in _SCANS:
            out["exec.file_scans"] += 1
        if node.metrics().contains("pythonDataSent"):
            out["operators.py_nodes"] += 1
            out["operators.py_init_ms"] += _metric(node, "pythonBootTime") + _metric(node, "pythonInitTime")
            out["operators.py_compute_ms"] += _metric(node, "pythonTotalTime")
            out["operators.py_bytes_sent"] += _metric(node, "pythonDataSent")
            out["operators.py_bytes_received"] += _metric(node, "pythonDataReceived")
        stack.extend(_seq(node.children()))
        stack.extend(_seq(node.subqueries()))
    return out


def heap_retained_mb(gc_log: str) -> float:
    """Median heap occupancy after the full collections the run forces between
    passes and after the last one, from the one after the warm-up pass on (the
    two before and after the cold pass are skipped): the memory the session
    keeps live across queries.
    Any one of them reads up to 70 MB more or less depending on which of the
    last entries' broadcasts the ContextCleaner had released; the median over
    the passes does not.  Occupancy after young pauses instead depends on how
    much garbage the old generation held, that is on when G1's concurrent
    cycles ran, which on a busy host varies from run to run."""
    with open(gc_log) as f:
        after = [int(n) * _MB[unit] for n, unit in _GC_FULL.findall(f.read())][2:]
    if not after:
        raise RuntimeError(f"no full collection after the cold pass in {gc_log}")
    return float(statistics.median(after))


def jvm_rss_peak_mb(spark) -> float:
    pid = spark._jvm.java.lang.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    raise RuntimeError("VmHWM missing from /proc status")
