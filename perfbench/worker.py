"""One benchmark run, in the process that ``run.py`` starts for it.

Sets the session up once, timed from the moment ``run.py`` spawned the
process (interpreter start, imports, JVM launch and table registration all
included), runs every entry of the workload once (the cold pass), one
unmeasured warm-up pass, then the workload's warm passes for ``--seconds``.
Each pass visits the entries in an order drawn from ``--seed``.  Every
collected result is checked against its pinned digest.  With ``--trace 1``
every other warm pass is traced: spans and per-layer counters are recorded
around each entry, and the untraced passes in between give the tracing
overhead.

The result goes to ``--out`` as JSON; ``run.py`` turns it into the result line.
"""

from __future__ import annotations

import argparse
import json
import os
import random
import statistics
import sys
import time
import traceback

from perfbench import layers
from perfbench.digest import digest
from perfbench.metrics import tail
from perfbench.workloads import PINS, SF_DIR, WORKLOADS, warm_passes

#: passes after the cold one that run and are checked but not measured: the
#: JIT is still compiling the engine's hot paths, and the steep early part of
#: its warm-up curve varies most with host speed
WARMUP_PASSES = 1
#: the JVM's GC log, in the run directory
GC_LOG = "gc.log"


def ram_mb() -> int:
    return os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") // 2**20


def session_conf(run_dir: str) -> dict[str, str]:
    """Conf overrides that fit the engine to this machine and keep the run's
    files inside ``run_dir``."""
    from native_sql_engine_spark import ENGINE_CONF

    tmp = os.path.join(run_dir, "tmp")
    return {
        # ENGINE_CONF's 24g heap exceeds small hosts; a quarter of RAM is far
        # above the workloads' working set, so peak RSS follows their demand
        "spark.driver.memory": f"{ram_mb() // 4}m",
        # MaxHeapFreeRatio=100: the full GC run_pass forces between passes
        # would otherwise hand most of the heap back to the OS, and every pass
        # would pay page faults to take it back
        "spark.driver.extraJavaOptions":
            f"{ENGINE_CONF['spark.driver.extraJavaOptions']} -Djava.io.tmpdir={tmp} -XX:-UsePerfData "
            f"-XX:MaxHeapFreeRatio=100 -Xlog:gc:file={os.path.join(run_dir, GC_LOG)}",
        "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
    }


def host_steal() -> tuple[int, int]:
    """(steal, total) CPU ticks of the whole machine so far, from /proc/stat;
    steal is time the hypervisor gave to other guests."""
    with open("/proc/stat") as f:
        ticks = [int(x) for x in f.readline().split()[1:]]
    return ticks[7], sum(ticks)


def permuted(entries: tuple[str, ...], seed: int, pass_no: int) -> list[str]:
    order = sorted(entries)
    random.Random(f"{seed}/{pass_no}").shuffle(order)
    return order


class Run:
    def __init__(self, spark, workload, tracer: layers.Tracer) -> None:
        from native_sql_engine_spark.queries import all_queries

        self.spark = spark
        self.wl = workload
        self.entries = workload.entries
        self.queries = all_queries()
        with open(PINS) as f:
            self.pinned = json.load(f)[workload.name]
        self.tracer = tracer
        self.attempted = 0
        self.failures: list[str] = []

    def entry(self, name: str, trace: str | None) -> tuple[float, float, dict[str, float]]:
        """Build and collect one entry; returns (build_s, collect_s, counters).
        ``trace`` names the entry execution when it is traced."""
        sc = self.spark.sparkContext
        self.attempted += 1
        counters: dict[str, float] = {}
        try:
            if trace:
                sc.setJobGroup(f"{trace}/build", name)
            t0 = time.perf_counter()
            df = self.queries[name](self.spark, SF_DIR)
            t1 = time.perf_counter()
            if trace:
                sc.setJobGroup(f"{trace}/collect", name)
            pdf = df.toPandas()
            t2 = time.perf_counter()
            if trace:
                sc._jsc.clearJobGroup()
                layers.drain_listener_bus(self.spark)
                counters = {
                    "queries.build_jobs": float(len(sc.statusTracker().getJobIdsForGroup(f"{trace}/build"))),
                    **layers.stage_counters(self.spark, f"{trace}/collect"),
                    **layers.catalyst_phases(df),
                    **layers.plan_counters(df),
                    "exec.result_rows": float(len(pdf)),
                }
                root = self.tracer.add("entry", trace, t0, t2)
                self.tracer.add("queries.build", trace, t0, t1, root)
                self.tracer.add("exec.collect", trace, t1, t2, root, counters)
            got = digest(pdf)
        except Exception:  # an entry that raises counts as failed; the run goes on
            self.failures.append(f"{name}: {traceback.format_exc(limit=3)}")
            return 0.0, 0.0, {}
        want = self.pinned.get(name, {}).get("digest")
        if got != want:
            self.failures.append(f"{name}: digest {got} != pinned {want}")
        return t1 - t0, t2 - t1, counters

    def run_pass(self, pass_no: int, seed: int, traced: bool) -> dict:
        self.spark.sparkContext._jvm.System.gc()  # untimed: clean up the last pass's shuffles
        steal0 = host_steal()
        times, layer_sums = {}, {}
        build = collect = 0.0
        for name in permuted(self.entries, seed, pass_no):
            b, c, counters = self.entry(name, f"p{pass_no}/{name}" if traced else None)
            times[name] = b + c
            build += b
            collect += c
            for k, v in counters.items():
                layer_sums[k] = layer_sums.get(k, 0.0) + v
        if traced:
            layer_sums["queries.build_s"] = build
            layer_sums["exec.collect_s"] = collect
        steal1 = host_steal()
        return {"traced": traced, "total": build + collect, "times": times, "layers": layer_sums,
                "steal": (steal1[0] - steal0[0]) / max(1, steal1[1] - steal0[1])}


def shutdown(spark) -> None:
    """Stop the session and wait until its JVM has exited."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    gateway.shutdown()
    gateway.proc.stdin.close()  # the JVM exits when its stdin closes
    gateway.proc.wait(timeout=60)


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), required=True)
    ap.add_argument("--run-dir", required=True)
    ap.add_argument("--out", required=True)
    ap.add_argument("--spans", required=True)
    args = ap.parse_args(argv)

    from native_sql_engine_spark import get_spark, register_tables

    wl = WORKLOADS[args.workload]
    conf = session_conf(args.run_dir)
    tracer = layers.Tracer()
    spawned = float(os.environ["PERFBENCH_SPAWN_TIME"])
    imported = time.time()
    t0 = time.perf_counter()
    spark = get_spark("perfbench", **conf)
    t1 = time.perf_counter()
    register_tables(spark, SF_DIR)
    t2 = time.perf_counter()
    setup_s = time.time() - spawned
    tracer.add("session.get_spark", "setup", t0, t1)
    tracer.add("catalog.register_tables", "setup", t1, t2)

    run = Run(spark, wl, tracer)
    cold = run.run_pass(0, args.seed, traced=False)
    measured = warm_passes(args.seconds)
    if args.trace and measured % 2 == 0:
        measured -= 1  # untraced, traced, ..., untraced: each traced pass sits between two untraced
    passes = [
        run.run_pass(k, args.seed, traced=bool(args.trace) and k > WARMUP_PASSES and (k - WARMUP_PASSES) % 2 == 0)
        for k in range(1, WARMUP_PASSES + measured + 1)
    ]
    warm = passes[WARMUP_PASSES:]
    spark.sparkContext._jvm.System.gc()  # what the last pass left, for heap_retained_mb

    plain = [p for p in warm if not p["traced"]]
    samples = [t for p in plain for t in p["times"].values()]
    tail_value, tail_pct, n = tail(samples)
    if args.trace:
        traced = [p for p in warm if p["traced"]]
        keys = sorted({k for p in traced for k in p["layers"]})
        values = {k: statistics.median(p["layers"].get(k, 0.0) for p in traced) for k in keys}
        # against the mean of the untraced neighbours, which cancels the
        # warm-up trend across passes
        values["trace.overhead_s"] = statistics.median(
            warm[i]["total"] - (warm[i - 1]["total"] + warm[i + 1]["total"]) / 2
            for i in range(1, len(warm) - 1, 2)
        )
        values.update({"session.import_s": imported - spawned, "session.get_spark_s": t1 - t0,
                       "catalog.register_tables_s": t2 - t1})
        tracer.write(args.spans)
    else:
        values = {
            "setup_s": setup_s,
            "cold_pass_s": cold["total"],
            "warm_pass_s": statistics.median(p["total"] for p in plain),
            "entry_p50_s": statistics.median(samples),
            "entry_tail_s": tail_value,
        }
    values["exec.rss_peak_mb"] = layers.jvm_rss_peak_mb(spark)
    jvm = spark._jvm.java.lang.System
    result = {
        "attempted": run.attempted,
        "failed": len(run.failures),
        "values": values,
        "failures": run.failures,
        "info": {
            "workload": wl.name, "seed": args.seed, "entries": len(run.entries),
            "warm_passes": len(warm), "pass_totals": [p["total"] for p in passes],
            # share of the machine's CPU the hypervisor took during each pass:
            # on a shared host it swings pass times by a third
            "pass_steal": [p["steal"] for p in passes],
            "entry_tail_percentile": tail_pct, "entry_samples": n,
            "entry_cold_s": cold["times"],
            "entry_warm_median_s": {e: statistics.median(p["times"][e] for p in plain) for e in run.entries},
            "nproc": os.environ.get("SPARK_GRAFT_CPUS"),
            "ram_mb": ram_mb(),
            "heap": conf["spark.driver.memory"], "spark": spark.version,
            "pyarrow": __import__("pyarrow").__version__, "java": jvm.getProperty("java.version"),
        },
    }
    shutdown(spark)  # the GC log is complete once the JVM has exited
    values["heap_retained_mb"] = layers.heap_retained_mb(os.path.join(args.run_dir, GC_LOG))
    with open(args.out, "w") as f:
        json.dump(result, f)
    return 0


if __name__ == "__main__":
    sys.exit(main())
