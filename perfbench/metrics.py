"""Metric schema and the order statistics the benchmark reports.

``END_TO_END`` and ``PER_LAYER`` are the source of truth for the metric names,
units and directions in ``BENCHMARK.json`` (a test keeps the two in step).
Each per-layer metric also records which end-to-end metric it should move and
on which workloads, the prediction a later change is checked against.
"""

from __future__ import annotations

import math
import statistics
from typing import NamedTuple


class EndToEnd(NamedTuple):
    name: str
    unit: str
    better: str
    bound: float
    doc: str


class Layer(NamedTuple):
    name: str
    unit: str
    better: str
    moves: str  # end-to-end metric (or FAILED_SHARE) this layer metric should move
    on: tuple[str, ...]  # workloads where it should move it
    doc: str


#: failed / attempted; reported through the result line's counts, not as a
#: bounded metric, because it is 0 on a healthy run
FAILED_SHARE = "failed_share"

SQL = ("sql_sf0.01",)
PYTHON = ("python_sf0.01",)
ALL = SQL + PYTHON

END_TO_END: tuple[EndToEnd, ...] = (
    EndToEnd("setup_s", "s", "lower", 0.25,
             "process start to session up with tables registered: interpreter, imports, JVM launch, "
             "get_spark, register_tables"),
    EndToEnd("cold_pass_s", "s", "lower", 0.25,
             "first execution of every entry, build + collect summed (compile and codegen included)"),
    EndToEnd("warm_pass_s", "s", "lower", 0.25,
             "median warm pass, build + collect summed over entries"),
    EndToEnd("entry_p50_s", "s", "lower", 0.25, "median warm per-entry latency"),
    EndToEnd("entry_tail_s", "s", "lower", 0.25,
             "warm per-entry latency at the highest ladder percentile with >=10 samples beyond it"),
    EndToEnd("heap_retained_mb", "MB", "lower", 0.25,
             "median JVM heap occupancy after the full collections forced between warm passes (GC log): "
             "the memory the session keeps live across queries"),
)

PER_LAYER: tuple[Layer, ...] = (
    Layer("session.import_s", "s", "lower", "setup_s", ALL,
          "process start to the get_spark call: interpreter, pyspark and engine imports"),
    Layer("session.get_spark_s", "s", "lower", "setup_s", ALL, "get_spark, JVM launch included"),
    Layer("catalog.register_tables_s", "s", "lower", "setup_s", ALL, "register_tables"),
    Layer("queries.build_s", "s", "lower", "warm_pass_s", PYTHON, "entry callable: DataFrame construction plus eager work"),
    Layer("queries.build_jobs", "count", "lower", "warm_pass_s", PYTHON, "Spark jobs run inside the entry callable"),
    Layer("catalyst.analysis_ms", "ms", "lower", "entry_p50_s", SQL, "QueryExecution tracker phase"),
    Layer("catalyst.optimization_ms", "ms", "lower", "entry_p50_s", SQL, "QueryExecution tracker phase"),
    Layer("catalyst.planning_ms", "ms", "lower", "entry_p50_s", SQL, "QueryExecution tracker phase"),
    Layer("exec.collect_s", "s", "lower", "warm_pass_s", SQL, "toPandas wall time"),
    Layer("exec.jobs", "count", "lower", "entry_p50_s", SQL, "jobs in the collect's job group"),
    Layer("exec.stages", "count", "lower", "entry_p50_s", SQL, "stages that ran (skipped ones excluded)"),
    Layer("exec.tasks", "count", "lower", "entry_p50_s", SQL, "tasks that completed"),
    Layer("exec.executor_run_ms", "ms", "lower", "warm_pass_s", SQL, "stage executorRunTime"),
    Layer("exec.executor_cpu_ms", "ms", "lower", "warm_pass_s", SQL, "stage executorCpuTime"),
    Layer("exec.jvm_gc_ms", "ms", "lower", "entry_tail_s", SQL, "stage jvmGcTime"),
    Layer("exec.input_bytes", "bytes", "lower", "warm_pass_s", SQL, "stage inputBytes"),
    Layer("exec.shuffle_write_bytes", "bytes", "lower", "warm_pass_s", SQL, "stage shuffleWriteBytes"),
    Layer("exec.shuffle_read_bytes", "bytes", "lower", "warm_pass_s", SQL, "stage shuffleReadBytes"),
    Layer("exec.spill_bytes", "bytes", "lower", "entry_tail_s", SQL, "memory + disk bytes spilled"),
    Layer("exec.result_rows", "count", "lower", "warm_pass_s", SQL, "rows collected"),
    Layer("exec.rss_peak_mb", "MB", "lower", "heap_retained_mb", ALL,
          "VmHWM of the JVM process; follows how far G1 grew the heap, so it is bimodal on a busy host"),
    Layer("exec.file_scans", "count", "lower", "warm_pass_s", SQL, "file scan nodes in the final AQE plan"),
    Layer("exec.reused_exchanges", "count", "higher", "warm_pass_s", SQL, "ReusedExchange nodes in the final plan"),
    Layer("operators.py_nodes", "count", "lower", "warm_pass_s", PYTHON, "Python exec nodes in the final plan"),
    Layer("operators.py_init_ms", "ms", "lower", "warm_pass_s", PYTHON, "pythonBootTime + pythonInitTime"),
    Layer("operators.py_compute_ms", "ms", "lower", "warm_pass_s", PYTHON, "pythonTotalTime"),
    Layer("operators.py_bytes_sent", "bytes", "lower", "warm_pass_s", PYTHON, "pythonDataSent"),
    Layer("operators.py_bytes_received", "bytes", "lower", "warm_pass_s", PYTHON, "pythonDataReceived"),
    Layer("scratch.tmp_dirs_left", "count", "lower", "failed_share", PYTHON, "entries left in the run's TMPDIR"),
    Layer("scratch.shm_bytes_left", "bytes", "lower", "failed_share", PYTHON, "bytes the run left under /dev/shm"),
    Layer("trace.overhead_s", "s", "lower", "warm_pass_s", ALL, "traced pass minus the mean of the untraced passes on either side, median"),
)

#: percentiles the tail is chosen from, highest first
TAIL_LADDER = (99.9, *range(99, 49, -1))


def tail(samples: list[float], beyond: int = 10) -> tuple[float, float, int]:
    """(value, percentile, sample count) at the highest ladder percentile that
    leaves at least ``beyond`` samples above its nearest-rank position; with
    fewer than ``2 * beyond`` samples that is not possible, and the median
    stands in for the tail."""
    xs = sorted(samples)
    n = len(xs)
    if n == 0:
        raise ValueError("no samples")
    for p in TAIL_LADDER:
        rank = math.ceil(p / 100 * n)  # nearest-rank, 1-based
        if n - rank >= beyond:
            return xs[rank - 1], float(p), n
    return statistics.median(xs), 50.0, n
