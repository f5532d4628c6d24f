"""Benchmark entry point.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1
    python3 perfbench/run.py --all [--seed N] [--seconds S]
    python3 perfbench/run.py --pin [--workload NAME]

Run from the repository root.  A single run starts the measured program in a
fresh process (``perfbench/worker.py``) whose TMPDIR, Spark local dir, JVM
temp dir and warehouse live in a run directory under ``.perfbench/runs``.
When that process exits, every process of its session (JVM, Python workers)
is stopped and waited for, what the run left in its TMPDIR and the engine's
streaming state it added under /dev/shm are counted (the ``scratch.*``
metrics) and then deleted.  The last line on stdout is the result:
``correct``, ``attempted``, ``failed`` and the end-to-end metrics
(``--trace 0``) or the per-layer metrics (``--trace 1``).
Spans and the run's full record go to ``.perfbench/out``.

``--all`` runs every workload untraced and traced and prints one table.
``--pin`` re-sizes and re-pins every candidate entry in ``perfbench/pins.json``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import tempfile
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from perfbench.metrics import END_TO_END, FAILED_SHARE, PER_LAYER  # noqa: E402
from perfbench.workloads import WORKLOADS  # noqa: E402

STATE = os.path.join(ROOT, ".perfbench")
OUT = os.path.join(STATE, "out")
SHM = "/dev/shm"
#: what the engine puts under /dev/shm and never removes: streaming
#: checkpoints (``ckpt_<name>_*``, ``q_stream_*``) and the RocksDB state root
SHM_PREFIXES = ("ckpt_", "q_stream_", "spark_rocksdb_state")
RUN_TIMEOUT_S = 150
PIN_TIMEOUT_S = 3600


def tree_bytes(path: str) -> int:
    if os.path.isfile(path) or os.path.islink(path):
        try:
            return os.lstat(path).st_size
        except FileNotFoundError:
            return 0
    total = 0
    for root, _dirs, files in os.walk(path):
        for name in files:
            try:
                total += os.lstat(os.path.join(root, name)).st_size
            except FileNotFoundError:
                pass
    return total


def _shm_entries() -> set[str]:
    try:
        return {n for n in os.listdir(SHM) if n.startswith(SHM_PREFIXES)}
    except OSError:  # no /dev/shm, or not readable here
        return set()


def _session_pids(sid: int) -> list[int]:
    """Live (non-zombie) processes whose session id is ``sid``."""
    pids = []
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        fields = stat[stat.rindex(")") + 2:].split()
        if fields[0] != "Z" and int(fields[3]) == sid:
            pids.append(int(entry))
    return pids


def _stop_session(sid: int) -> None:
    """Stop every process the run started and wait until each has ended."""
    for sig, grace in ((signal.SIGTERM, 10.0), (signal.SIGKILL, 10.0)):
        pids = _session_pids(sid)
        for pid in pids:
            try:
                os.kill(pid, sig)
            except ProcessLookupError:
                pass
        deadline = time.monotonic() + grace
        while pids and time.monotonic() < deadline:
            time.sleep(0.05)
            pids = _session_pids(sid)
        if not pids:
            return
    raise RuntimeError(f"processes {pids} outlived SIGKILL")


def isolated(module: str, args: list[str], timeout: float) -> tuple[dict | None, dict[str, float]]:
    """Run ``python3 -m module args`` in its own session and run directory.
    Returns (the JSON it wrote to --out or None, scratch counts)."""
    os.makedirs(os.path.join(STATE, "runs"), exist_ok=True)
    run_dir = tempfile.mkdtemp(prefix="run-", dir=os.path.join(STATE, "runs"))
    tmp = os.path.join(run_dir, "tmp")
    for sub in ("tmp", "local", "warehouse"):
        os.makedirs(os.path.join(run_dir, sub))
    shm_before = _shm_entries()
    out = os.path.join(run_dir, "result.json")
    env = {
        **os.environ,
        "TMPDIR": tmp,
        "SPARK_LOCAL_DIRS": os.path.join(run_dir, "local"),
        # executor Python workers import the engine's kernels
        "PYTHONPATH": os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p),
        "SPARK_GRAFT_CPUS": str(len(os.sched_getaffinity(0))),
        "PERFBENCH_SPAWN_TIME": repr(time.time()),
    }
    proc = subprocess.Popen(
        [sys.executable, "-m", module, *args, "--run-dir", run_dir, "--out", out],
        cwd=ROOT, env=env, stdout=sys.stderr.fileno(), start_new_session=True,
    )
    try:
        proc.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        print(f"perfbench: {module} exceeded {timeout:.0f}s", file=sys.stderr)
    finally:
        _stop_session(proc.pid)
        proc.wait()
    try:
        with open(out) as f:
            result = json.load(f) if proc.returncode == 0 else None
    except FileNotFoundError:
        result = None
    shm_new = _shm_entries() - shm_before
    scratch = {
        "scratch.tmp_dirs_left": float(len(os.listdir(tmp))),
        "scratch.shm_bytes_left": float(sum(tree_bytes(os.path.join(SHM, n)) for n in shm_new)),
    }
    for name in shm_new:  # only what this run added
        path = os.path.join(SHM, name)
        if os.path.isdir(path) and not os.path.islink(path):
            shutil.rmtree(path, ignore_errors=True)
        else:
            try:
                os.remove(path)
            except FileNotFoundError:
                pass
    shutil.rmtree(run_dir)
    return result, scratch


def one_run(workload: str, seed: int, seconds: float, trace: int) -> dict | None:
    """One measured run; returns the result line's object, or None on failure."""
    os.makedirs(OUT, exist_ok=True)
    stem = os.path.join(OUT, f"{workload}-s{seed}-t{trace}")
    result, scratch = isolated(
        "perfbench.worker",
        ["--workload", workload, "--seed", str(seed), "--seconds", str(seconds),
         "--trace", str(trace), "--spans", stem + "-spans.jsonl"],
        RUN_TIMEOUT_S,
    )
    if result is None:
        return None
    values = {**result["values"], **scratch}
    schema = PER_LAYER if trace else END_TO_END
    missing = [m.name for m in schema if m.name not in values]
    if missing:
        print(f"perfbench: run produced no value for {missing}", file=sys.stderr)
        return None
    with open(stem + ".json", "w") as f:
        json.dump({**result, "values": values}, f, indent=1)
    for failure in result["failures"]:
        print(f"perfbench: FAILED {failure}", file=sys.stderr)
    return {
        "correct": result["failed"] == 0,
        "attempted": result["attempted"],
        "failed": result["failed"],
        "metrics": {m.name: {"value": values[m.name], "unit": m.unit} for m in schema},
        "info": result["info"],
    }


def run_all(seed: int, seconds: float) -> int:
    """Every workload, untraced then traced, as one table on stdout."""
    rows, ok = [], True
    for name in WORKLOADS:
        for trace in (0, 1):
            res = one_run(name, seed, seconds, trace)
            if res is None:
                print(f"{name} trace={trace}: run failed", flush=True)
                ok = False
                continue
            ok &= res["correct"]
            info = res["info"]
            print(f"\n{name} (trace={trace}): attempted {res['attempted']}, "
                  f"{FAILED_SHARE} {res['failed'] / res['attempted']:.4f}, "
                  f"tail p{info['entry_tail_percentile']:g} of {info['entry_samples']} samples, "
                  f"{info['warm_passes']} warm passes", flush=True)
            for metric, v in res["metrics"].items():
                print(f"  {metric:34s} {v['value']:>16.4f} {v['unit']}", flush=True)
            rows.append({"workload": name, "trace": trace, **res})
    machine = ("nproc", "ram_mb", "heap", "spark", "pyarrow", "java")
    print("\nmachine:", json.dumps({k: rows[0]["info"][k] for k in machine} if rows else {}))
    os.makedirs(OUT, exist_ok=True)
    with open(os.path.join(OUT, "summary.json"), "w") as f:
        json.dump(rows, f, indent=1)
    return 0 if ok else 1


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    mode = ap.add_mutually_exclusive_group()
    mode.add_argument("--all", action="store_true", help="run every workload, untraced and traced")
    mode.add_argument("--pin", action="store_true",
                      help="re-size and re-pin every candidate entry in perfbench/pins.json")
    ap.add_argument("--workload", choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=18)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    if not os.path.isdir(os.path.join(ROOT, "native_sql_engine_spark")):
        print(f"perfbench: no native_sql_engine_spark package under {ROOT}", file=sys.stderr)
        return 2
    if args.all:
        return run_all(args.seed, args.seconds)
    if args.pin:
        names = [args.workload] if args.workload else list(WORKLOADS)
        result, _ = isolated("perfbench.pin", ["--workloads", *names], PIN_TIMEOUT_S)
        return 0 if result is not None else 1
    if args.workload is None:
        ap.error("--workload is required")
    res = one_run(args.workload, args.seed, args.seconds, args.trace)
    if res is None:
        return 1
    info = res.pop("info")
    print(f"perfbench: {info}", file=sys.stderr)
    print(json.dumps(res))
    return 0


if __name__ == "__main__":
    sys.exit(main())
