#!/usr/bin/env python
"""Scale probe: execute the engine's heaviest scale paths far above battery SF.

SCALE.md argues the engine's dedup/graph/ANN paths survive a 100-TB
cluster because every candidate generator is a bucketed equi-join and no
driver-side materialization grows with the data.  This script converts
that argument into measured evidence, on synthetic `spark.range` data (no
new testdata), at up to 50x the sf0.1 row counts:

  1. ``minhash_lsh_pairs``       — 5k / 50k / 250k documents (1x/10x/50x sf0.1)
  2. ``connected_components``    — 6M / 12M edges (forces the distributed
                                   path-halving loop; SMALL_GRAPH_EDGES=5M)
  3. ``knn_join_lsh``            — 2k / 20k / 100k embeddings (1x/10x/50x)
  4. ``read_iceberg`` merge-on-read — 1M / 4M-row tables, 8 data files,
     8 positional delete files + 4 equality delete files each (the
     round-9 row-level machinery: (path,pos) anti-join + null-safe
     equality anti-join with sequence residual over a broadcast seq map)
  5. ``simhash_pairs``           — 5k / 50k / 250k documents: the round-11
     MapInArrow vote kernel AND the checkpoint-truncated (materialize.py)
     signature/shingle path, far above battery SF
  6. ``shj_smj_guard``           — the round-10 shuffled-hash-join
     enablement and its OOM guard: SHJ when the build side provably fits,
     spill-safe SMJ kept when it cannot be proven, SMJ again under stock
     confs (three plan-shape assertions on 16M-row joins)
  7. ``bucketed_write_alignment`` — the round-10 repartition-before-
     bucketed-write: at 2M rows x 16 buckets every write task must hold
     exactly one bucket (k files per bucket on disk, k = parts/buckets)
  8. ``core_scaling``            — the CPU-bound signature kernel at 400k
     docs on local[32] vs local[8] (fresh sessions): wall-clock ratio must
     be >= 2x, the scale-out evidence the sf0.1 battery cannot show
     (every battery entry is floor-bound; PERF_r10 scaling ratios ~= 1)

Asserted per the round-8 verdict's order #5:

  (a) **completion under a fixed memory cap** — the session is built with
      ``spark.driver.memory=6g`` (local mode: the single JVM, so this is
      the -Xmx of every executor thread too); the probe verifies the cap
      was actually applied (MemoryMXBean heap max) and completion itself
      is the proof the workload fits — an over-cap run OOMs rather than
      finishing.  The per-pool peak sum is reported as an upper bound.
  (b) **shuffle bytes grow ~linearly** — total shuffle-write bytes are
      read from the Spark UI REST API before/after each run; for each
      consecutive scale pair with row ratio r the probe asserts
      ``bytes_ratio <= r * SLACK`` (quadratic blowup would be ~r^2).
  (c) **zero driver collects above the documented thresholds** — while a
      path runs, ``DataFrame.collect`` is wrapped and every invocation
      must return <= 1 row (the connected-components convergence scalar is
      the only legitimate driver materialization on these paths).

For the kNN probe, ``n_planes`` scales with log2(N_right) so per-bucket
occupancy stays constant — the documented 100-TB recipe (bucket the right
side once, probes touch n_tables buckets); holding planes fixed while N
grows is the known quadratic trap and exactly what the assertion would
catch.

Run:  python scripts/scale_probe.py [--quick]
Emits one JSON line; exit 0 iff every assertion holds.
"""

from __future__ import annotations

import json
import math
import os
import sys
import time
import traceback
import urllib.request
from contextlib import contextmanager

sys.path.insert(0, ".")

from pyspark.sql import DataFrame, functions as F  # noqa: E402

from native_sql_engine_spark.session import get_spark  # noqa: E402
from native_sql_engine_spark.operators.dedup import (  # noqa: E402
    SMALL_GRAPH_EDGES,
    connected_components,
    minhash_lsh_pairs,
)
from native_sql_engine_spark.operators.similarity import knn_join_lsh  # noqa: E402

DRIVER_MEM_GB = 6
#: linearity tolerance on shuffle-bytes growth vs row growth.  AQE replans
#: (skew splits, coalesce decisions, range-partition sampling) change the
#: absolute shuffle bytes of the SAME code by up to ~2x between runs, so
#: the tolerance must absorb that; a quadratic path grows >= r^2 (25x at
#: r=5), which 2.5x still separates from cleanly.
SLACK = 2.5


# ---------------------------------------------------------------- metrics
def _shuffle_write_bytes(spark) -> int:
    """Cumulative shuffle-write bytes across all completed stages (REST API)."""
    base = spark.sparkContext.uiWebUrl
    app = spark.sparkContext.applicationId
    url = f"{base}/api/v1/applications/{app}/stages?status=complete"
    with urllib.request.urlopen(url, timeout=30) as r:
        stages = json.loads(r.read())
    return sum(s.get("shuffleWriteBytes", 0) for s in stages)


def _heap_mb(spark) -> tuple[int, int]:
    """(heap_max_mb, pool_peak_sum_mb).  heap_max is the -Xmx the JVM is
    actually running under — the ENFORCED cap, so mere completion proves
    the workload fits it.  The pool-peak sum is reported as an upper
    bound only: per-pool peaks happen at different times (G1 Eden + Old
    peaks can sum past -Xmx), and an instantaneous Runtime read would
    under-report spikes already collected — neither is a true heap-wide
    high-water mark, which the JVM does not expose."""
    mf = spark._jvm.java.lang.management.ManagementFactory
    heap_max = mf.getMemoryMXBean().getHeapMemoryUsage().getMax()
    total = 0
    it = mf.getMemoryPoolMXBeans().iterator()
    while it.hasNext():
        pool = it.next()
        if pool.getType().toString() == "Heap memory":
            total += pool.getPeakUsage().getUsed()
    return int(heap_max / (1024 * 1024)), int(total / (1024 * 1024))


@contextmanager
def collect_guard(spark, log: list):
    """Fail any driver collect returning more than one row.

    The scale paths' contract (SCALE.md) is that nothing data-sized ever
    reaches the driver; the one allowed collect is the connected-components
    per-round convergence scalar (1 row).  ``count()`` does not route
    through ``collect`` and is unaffected.  PySpark 4 note: instances are
    ``pyspark.sql.classic.dataframe.DataFrame`` which OVERRIDES the
    abstract ``pyspark.sql.DataFrame.collect`` — the patch must land on
    the concrete class or it intercepts nothing.
    """
    cls = type(spark.range(1))
    orig = cls.collect

    def guarded(self):
        rows = orig(self)
        log.append(len(rows))
        if len(rows) > 1:
            raise AssertionError(
                f"driver collect returned {len(rows)} rows on a scale path"
            )
        return rows

    cls.collect = guarded
    try:
        yield
    finally:
        cls.collect = orig


# ------------------------------------------------------------ generators
def gen_documents(spark, n: int) -> DataFrame:
    """n docs; doc 2k+1 is a 3-token mutation of doc 2k (near-dup pairs).

    Tokens are xxhash64-derived from (id div 2, position) so distinct
    pairs share no shingles — bucket joins stay candidate-only, like real
    near-dup corpora and unlike adversarial all-same-text inputs.
    """
    return spark.range(n).selectExpr(
        "id AS doc_id",
        """concat_ws(' ', transform(sequence(0, 39), j ->
             hex(xxhash64(id div 2, j,
                          CASE WHEN j >= 37 AND id % 2 = 1 THEN 1 ELSE 0 END))
           )) AS text""",
    )


def gen_chain_edges(spark, n_edges: int, block: int = 16) -> DataFrame:
    """Undirected chains of length ``block`` — n_edges total, ~log2(block)
    path-halving rounds; node ids are non-contiguous (x17 stride) so the
    min-label is not trivially the partition-local min."""
    blocks = n_edges // (block - 1)
    return (
        spark.range(blocks * block)
        .selectExpr("id", f"id div {block} AS b", f"id % {block} AS pos")
        .filter(F.col("pos") < block - 1)
        .selectExpr("id * 17 AS a_id", "(id + 1) * 17 AS b_id")
    )


def gen_embeddings(spark, n: int, dim: int = 32) -> DataFrame:
    """Clustered vectors: center(id % clusters) + small hash noise — the
    realistic (clusterable) regime LSH is designed for.  Cluster COUNT
    scales with corpus size (new data brings new content) while cluster
    size stays ~64: the regime where bucket occupancy — and therefore
    candidate count — stays flat per row.  Holding cluster count fixed
    while N grows makes every row's true-neighbor set grow with N, i.e. a
    genuinely quadratic kNN-join output no index can linearize."""
    clusters = max(32, n // 64)
    return spark.range(n).selectExpr(
        "id AS vec_id",
        f"""transform(sequence(0, {dim - 1}), j ->
              cast(pmod(xxhash64(id % {clusters}, j), 1000) / 500.0 - 1.0
                   + pmod(xxhash64(id, j), 100) / 2000.0 AS float)
            ) AS embedding""",
    )


def gen_iceberg_mor(spark, n: int) -> str:
    """Build an Iceberg MOR table of ``n`` rows on disk: 8 data files,
    8 positional delete files (1% of each file's rows) and 4 GLOBAL
    sequence-tracked equality delete files, each deleting a key stripe.
    Returns the table dir; the read under test is the full row-level
    merge-on-read scan (anti-joins for both delete kinds)."""
    import tempfile

    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    from native_sql_engine_spark.operators.iceberg import (
        write_equality_delete_file,
        write_iceberg_fixture,
        write_position_delete_file,
    )

    d = tempfile.mkdtemp(prefix=f"ice_mor_{n}_")
    per = n // 8
    entries = []
    for i in range(8):
        p = os.path.join(d, "data", f"part-{i}.parquet")
        os.makedirs(os.path.dirname(p), exist_ok=True)
        ks = np.arange(i * per, (i + 1) * per, dtype="int64")
        pq.write_table(
            pa.table({"k": ks, "v": (ks * 7) % 1000}), p
        )
        entries.append({"status": 1, "path": p, "sequence": 1})
        pos = write_position_delete_file(
            os.path.join(d, "data", f"posdel-{i}.parquet"),
            [(p, int(x)) for x in range(0, per, 100)],  # 1% of rows
        )
        entries.append({"status": 1, "path": pos, "content": 1, "sequence": 2})
    for j in range(4):
        stripe = np.arange(j * per // 2, j * per // 2 + per // 8, dtype="int64")
        eq = write_equality_delete_file(
            os.path.join(d, "data", f"eqdel-{j}.parquet"), {"k": pa.array(stripe)}
        )
        entries.append(
            {"status": 1, "path": eq, "content": 2, "equality_ids": [1], "sequence": 3}
        )
    write_iceberg_fixture(
        d, {3: entries}, current=3, schema_fields=[(1, "k", "long")]
    )
    return d


# ----------------------------------------------------------------- probes
def probe_shj_smj_guard(spark) -> bool:
    """Round-10 enabled shuffled-hash join under a provable build-side
    bound (session.py: preferSortMergeJoin=false + 64 MB AQE local-map
    threshold).  Three plan-shape assertions on real 16M-row joins with
    incompressible payloads (constant strings compress to nothing in the
    shuffle and AQE then runtime-broadcasts, hiding the decision):

      1. probe 16M x build 4M (build provably ~3x smaller, partitions fit
         under the bound) -> ShuffledHashJoin: no sort of either side;
      2. probe 16M x build 16M (no provably-smaller side, so no per-
         partition fit proof) -> the planner KEEPS the spill-safe
         SortMergeJoin -- the OOM guard at scale;
      3. shape 1 re-planned with stock confs (preferSortMergeJoin=true,
         AQE threshold 0) -> SortMergeJoin: the round-10 conf pair is
         load-bearing, not coincidence.
    """
    import re

    def side(n: int, salt: int) -> DataFrame:
        return spark.range(n).selectExpr(
            "id AS k",
            f"concat_ws('', transform(sequence(0, 3),"
            f" j -> hex(xxhash64(id, j, {salt})))) AS pay_{salt}",
        )

    def final_join_nodes(df) -> str:
        df.write.format("noop").mode("overwrite").save()
        plan = df._jdf.queryExecution().executedPlan().toString().split(
            "== Initial Plan ==")[0]
        return " ".join(re.findall(r"\b\w*Join\w*\b", plan))

    asym = final_join_nodes(side(16_000_000, 1).join(side(4_000_000, 2), "k"))
    ok_shj = "ShuffledHashJoin" in asym
    sym = final_join_nodes(side(16_000_000, 1).join(side(16_000_000, 2), "k"))
    ok_smj = "SortMergeJoin" in sym and "ShuffledHashJoin" not in sym

    saved = {
        k: spark.conf.get(k)
        for k in ("spark.sql.join.preferSortMergeJoin",
                  "spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold")
    }
    spark.conf.set("spark.sql.join.preferSortMergeJoin", "true")
    spark.conf.set("spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold", "0")
    try:
        stock = final_join_nodes(side(16_000_000, 1).join(side(4_000_000, 2), "k"))
    finally:
        for k, v in saved.items():
            spark.conf.set(k, v)
    ok_conf = "SortMergeJoin" in stock and "ShuffledHashJoin" not in stock
    print(f"  shj_smj_guard: SHJ-when-provable={ok_shj} "
          f"SMJ-when-unprovable={ok_smj} stock-confs-SMJ={ok_conf}",
          file=sys.stderr)
    return ok_shj and ok_smj and ok_conf


def probe_bucketed_write(spark) -> bool:
    """Round-10 repartition-before-bucketed-write (sources/io.py): with
    k·n_buckets write partitions sharing Murmur3 HashPartitioning with the
    bucket assignment, every write task holds exactly ONE bucket — so the
    table directory must contain exactly k files per bucket (k = parts /
    buckets), not n_buckets files per scan task."""
    import glob as _glob

    from native_sql_engine_spark.sources.io import write_bucketed

    n, buckets = 2_000_000, 16
    nparts = int(spark.conf.get("spark.sql.shuffle.partitions"))
    k = max(1, nparts // buckets)
    df = spark.range(n).selectExpr("id AS k", "id % 1000 AS v")
    spark.sql("DROP TABLE IF EXISTS scale_probe_bucketed")
    write_bucketed(df, "scale_probe_bucketed", ["k"], buckets, sort_cols=["k"])
    loc = spark.sql("DESCRIBE EXTENDED scale_probe_bucketed").filter(
        "col_name = 'Location'").first()[1].replace("file:", "")
    files = [f for f in _glob.glob(os.path.join(loc, "*")) if "_SUCCESS" not in f]
    per_bucket: dict[str, int] = {}
    for f in files:
        b = os.path.basename(f).split("_")[-1].split(".")[0].split("-")[0]
        per_bucket[b] = per_bucket.get(b, 0) + 1
    ok = len(per_bucket) == buckets and all(c == k for c in per_bucket.values())
    print(f"  bucketed_write: {len(files)} files for {buckets} buckets (k={k}, "
          f"per-bucket counts {sorted(set(per_bucket.values()))}) "
          f"-> {'aligned' if ok else 'MISALIGNED'}", file=sys.stderr)
    spark.sql("DROP TABLE IF EXISTS scale_probe_bucketed")
    return ok


def probe_core_scaling() -> dict:
    """CPU-bound kernel (the simhash signature build: interpreted xxhash64
    tokenization + the MapInArrow vote matrix) at 400k docs on local[32]
    vs local[8], fresh session each.  The sf0.1 battery cannot show
    scale-out (per-query stage-launch floor dominates: PERF_r10 8v32
    ratios ~= 1); at this volume the kernel must speed up >= 2x with 4x
    the cores for the 100 TB scale-out story to hold."""
    from native_sql_engine_spark.operators.dedup import simhash_table

    timings = {}
    try:
        for cores in (32, 8):
            os.environ["SPARK_GRAFT_CPUS"] = str(cores)
            s = get_spark(f"scale_probe_cores_{cores}",
                          **{"spark.driver.memory": f"{DRIVER_MEM_GB}g",
                             "spark.sql.shuffle.partitions": "64"})
            try:
                # let the previous JVM's executor/GC threads actually wind
                # down — measured: the first leg right after the main
                # session's stop() ran 2.4x slow and flipped the ratio
                # assertion on a run that passes in isolation (shared-VM
                # noise; min-of-3 below bounds the rest)
                time.sleep(5)
                docs = gen_documents(s, 400_000)
                sig = lambda: simhash_table(docs, "doc_id", "text").write.format(
                    "noop").mode("overwrite").save()
                sig()  # warm (analysis + codegen + python workers)
                timings[cores] = round(min(_timed(sig) for _ in range(3)), 2)
            finally:
                s.stop()
    finally:
        os.environ.pop("SPARK_GRAFT_CPUS", None)
    ratio = round(timings[8] / timings[32], 2)
    print(f"  core_scaling: 32c {timings[32]}s vs 8c {timings[8]}s -> {ratio}x",
          file=sys.stderr)
    return {"rows": 400_000, "sec_32c": timings[32], "sec_8c": timings[8],
            "ratio": ratio}


def _timed(fn) -> float:
    t0 = time.monotonic()
    fn()
    return time.monotonic() - t0


def run_path(spark, name, scales, build_df, run, collects: list):
    from native_sql_engine_spark.materialize import release_materialized

    out = []
    for rows in scales:
        # inter-run hygiene: earlier paths' materialized blocks (checkpointed
        # signature/shingle/label tables are MEMORY_AND_DISK) otherwise squeeze
        # the unified region under the 6g cap — release deterministically
        # instead of waiting for driver GC + ContextCleaner
        spark.catalog.clearCache()
        release_materialized(spark)
        spark.sparkContext._jvm.System.gc()
        before = _shuffle_write_bytes(spark)
        t0 = time.monotonic()
        with collect_guard(spark, collects):
            n_out = run(build_df(spark, rows))
        sec = round(time.monotonic() - t0, 2)
        bytes_ = _shuffle_write_bytes(spark) - before
        out.append({"rows": rows, "sec": sec, "shuffle_bytes": bytes_, "out_rows": n_out})
        print(f"  {name} rows={rows:>9,} {sec:7.1f}s shuffle={bytes_ / 1e6:,.1f}MB "
              f"out={n_out:,}", file=sys.stderr)
    return out


def check_linear(points) -> bool:
    ok = True
    for lo, hi in zip(points, points[1:]):
        if lo["shuffle_bytes"] <= 0:
            continue
        r = hi["rows"] / lo["rows"]
        ok &= hi["shuffle_bytes"] / lo["shuffle_bytes"] <= r * SLACK
    return ok


def main() -> int:
    quick = "--quick" in sys.argv
    only = next((a.split("=", 1)[1] for a in sys.argv if a.startswith("--only=")), None)
    spark = get_spark(
        "scale_probe",
        **{
            "spark.driver.memory": f"{DRIVER_MEM_GB}g",
            "spark.sql.shuffle.partitions": "64",
            # the engine default disables the UI (battery startup cost);
            # the probe needs the status REST API for shuffle-bytes reads
            "spark.ui.enabled": "true",
        },
    )
    results, collects = {}, []

    doc_scales = [5_000, 50_000] if quick else [5_000, 50_000, 250_000]
    if only in (None, "minhash"):
        results["minhash_lsh"] = run_path(
            spark, "minhash_lsh", doc_scales, gen_documents,
            lambda df: minhash_lsh_pairs(df, "doc_id", "text", threshold=0.5).count(),
            collects,
        )

    edge_scales = [6_000_000] if quick else [6_000_000, 12_000_000]
    assert all(s > SMALL_GRAPH_EDGES for s in edge_scales)
    if only in (None, "cc"):
        results["connected_components"] = run_path(
            spark, "connected_components", edge_scales, gen_chain_edges,
            lambda df: connected_components(df).count(),
            collects,
        )

    emb_scales = [2_000, 20_000] if quick else [2_000, 20_000, 100_000]

    def knn(df):
        n = df.count()
        planes = max(6, int(math.ceil(math.log2(max(n, 2) / 16))))  # ~16 rows/bucket
        left = df.limit(max(200, n // 10)).withColumnRenamed("vec_id", "q_id")
        return knn_join_lsh(left, df, k=5, left_id="q_id", right_id="vec_id",
                            n_planes=planes).count()

    if only in (None, "knn"):
        results["knn_join_lsh"] = run_path(
            spark, "knn_join_lsh", emb_scales, gen_embeddings, knn, collects)

    ice_scales = [1_000_000] if quick else [1_000_000, 4_000_000]
    if only in (None, "iceberg"):
        results["iceberg_mor_read"] = run_path(
            spark, "iceberg_mor_read", ice_scales, gen_iceberg_mor,
            lambda table_dir: __import__(
                "native_sql_engine_spark.operators.iceberg", fromlist=["read_iceberg"]
            ).read_iceberg(spark, table_dir).count(),
            collects,
        )

    if only in (None, "simhash"):
        from native_sql_engine_spark.operators.dedup import simhash_pairs

        results["simhash_pairs"] = run_path(
            spark, "simhash_pairs", doc_scales, gen_documents,
            lambda df: simhash_pairs(df, "doc_id", "text", max_hamming=7).count(),
            collects,
        )

    extra_checks: dict[str, bool] = {}
    if only in (None, "shj"):
        extra_checks["shj_below_smj_above_threshold"] = probe_shj_smj_guard(spark)
    if only in (None, "bucketed"):
        extra_checks["bucketed_write_aligned"] = probe_bucketed_write(spark)

    heap_max, pool_peak_sum = _heap_mb(spark)
    checks = {
        # the cap is ENFORCED by -Xmx: the check is that the cap was
        # actually applied (heap max ~= requested) AND the run completed
        # (an over-cap workload would have OOMed, not finished)
        "completed_under_mem_cap": heap_max <= DRIVER_MEM_GB * 1024 * 1.05,
        "shuffle_linear": all(check_linear(v) for v in results.values()),
        "zero_big_driver_collects": all(c <= 1 for c in collects),
        **extra_checks,
    }
    core_scaling = None
    spark.stop()
    if only in (None, "cores") and not quick:
        # needs fresh sessions with different masters — after the main stop;
        # a failure is a false check, and the JSON line below still prints
        checks["cpu_kernel_scales_with_cores"] = False
        try:
            core_scaling = probe_core_scaling()
            checks["cpu_kernel_scales_with_cores"] = core_scaling["ratio"] >= 2.0
        except Exception as exc:
            traceback.print_exc()
            core_scaling = {"error": repr(exc)}
    print(json.dumps({
        "probe": "scale_probe", "driver_mem_cap_gb": DRIVER_MEM_GB,
        "jvm_heap_max_mb": heap_max, "pool_peak_sum_mb": pool_peak_sum,
        "slack": SLACK, "paths": results, "core_scaling": core_scaling,
        "driver_collect_row_counts": collects, "checks": checks,
        "ok": all(checks.values()),
    }))
    return 0 if all(checks.values()) else 1


if __name__ == "__main__":
    sys.exit(main())
