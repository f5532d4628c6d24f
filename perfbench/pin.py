"""Size and pin every candidate entry: ``perfbench/pins.json``.

Run through ``python3 perfbench/run.py --pin [--workload NAME]``.  Each
candidate of a workload's group runs twice in one session at ``SF_DIR``; its
record keeps both execution times, the row count and the digest.  For a
workload with ``oracle=True`` the digest is the DuckDB oracle's
(``queries.all_oracles()``), otherwise Spark's own result at the current
commit.  The record says whether the entry is eligible for selection and, if
not, why; ``workloads.select`` picks from the eligible ones.
"""

from __future__ import annotations

import argparse
import json
import subprocess
import sys
import time

from perfbench.digest import digest
from perfbench.worker import session_conf
from perfbench.workloads import PINS, SF_DIR, WORKLOADS


def _commit() -> str:
    try:
        return subprocess.run(["git", "rev-parse", "--short", "HEAD"], capture_output=True,
                              text=True, check=True).stdout.strip()
    except (OSError, subprocess.CalledProcessError):
        return "unknown"


def pin_entry(spark, build, oracle_df, source: str) -> dict:
    try:
        t0 = time.perf_counter()
        first = build(spark, SF_DIR).toPandas()
        t1 = time.perf_counter()
        second = build(spark, SF_DIR).toPandas()
        t2 = time.perf_counter()
    except Exception as e:  # recorded, so the entry is visibly left out
        return {"eligible": False, "reason": f"raised {type(e).__name__}: {str(e)[:200]}"}
    rec = {"cold_s": t1 - t0, "warm_s": t2 - t1, "rows": len(second), "digest": digest(second),
           "source": source}
    reasons = []
    if digest(first) != rec["digest"]:
        reasons.append("result differs between two executions")
    if oracle_df is not None:
        rec.update(digest=digest(oracle_df), rows=len(oracle_df), source="duckdb-oracle")
        if digest(second) != rec["digest"]:
            reasons.append("Spark disagrees with the oracle")
    rec["eligible"] = not reasons
    if reasons:
        rec["reason"] = "; ".join(reasons)
    return rec


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workloads", nargs="+", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--run-dir", required=True)
    ap.add_argument("--out", required=True)
    args = ap.parse_args(argv)

    from native_sql_engine_spark import get_spark, register_tables
    from native_sql_engine_spark.compare import duck_connection
    from native_sql_engine_spark.queries import all_oracles, all_queries

    spark = get_spark("perfbench-pin", **session_conf(args.run_dir))
    register_tables(spark, SF_DIR)
    queries, oracles = all_queries(), all_oracles()
    try:
        with open(PINS) as f:
            pins = {k: v for k, v in json.load(f).items() if k in WORKLOADS}
    except FileNotFoundError:
        pins = {}
    source = f"spark@{_commit()}"
    for name in args.workloads:
        wl = WORKLOADS[name]
        con = duck_connection(SF_DIR) if wl.oracle else None
        records = {}
        for entry in wl.candidates(queries):
            want = con.execute(oracles[entry]).fetchdf() if con is not None else None
            records[entry] = pin_entry(spark, queries[entry], want, source)
            print(f"pinned {name}/{entry}: {records[entry]}", file=sys.stderr, flush=True)
        if con is not None:
            con.close()
        pins[name] = records
    with open(PINS, "w") as f:
        json.dump(pins, f, indent=1, sort_keys=True)
        f.write("\n")
    spark.stop()
    left_out = sorted(f"{w}/{e}: {r['reason']}" for w in args.workloads for e, r in pins[w].items()
                      if not r["eligible"])
    for line in left_out:
        print(f"not eligible: {line}", file=sys.stderr)
    with open(args.out, "w") as f:
        json.dump({"left_out": left_out}, f)
    return 0


if __name__ == "__main__":
    sys.exit(main())
