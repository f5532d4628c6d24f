"""Tests for the benchmark's own helpers.  Run: python3 -m pytest perfbench/tests -q"""

from __future__ import annotations

import decimal
import json
import os
import re

import pandas as pd
import pytest

from perfbench import layers
from perfbench.digest import digest
from perfbench.metrics import END_TO_END, FAILED_SHARE, PER_LAYER, tail
from perfbench.worker import permuted, session_conf
from perfbench.workloads import PASS_S, PINS, SF_DIR, WORKLOADS, select

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")


def test_tail_is_highest_percentile_with_ten_samples_beyond():
    xs = [float(i) for i in range(1, 101)]
    assert tail(xs) == (90.0, 90.0, 100)
    value, pct, n = tail(list(reversed(xs[:30])))
    assert (value, pct, n) == (20.0, 66.0, 30)
    assert sum(x > value for x in xs[:30]) == 10


def test_tail_falls_back_to_median_below_twenty_samples():
    assert tail([1.0, 2.0, 3.0, 4.0]) == (2.5, 50.0, 4)
    with pytest.raises(ValueError):
        tail([])


def test_self_time_subtracts_the_union_of_children_clipped_to_the_parent():
    spans = [
        {"id": 0, "parent": None, "start": 0.0, "end": 10.0},
        {"id": 1, "parent": 0, "start": 1.0, "end": 3.0},
        {"id": 2, "parent": 0, "start": 2.0, "end": 5.0},
        {"id": 3, "parent": 0, "start": 8.0, "end": 12.0},
        {"id": 4, "parent": 2, "start": 2.5, "end": 3.0},
    ]
    assert layers.self_times(spans) == pytest.approx([4.0, 2.0, 2.5, 4.0, 0.5])


def test_tracer_writes_one_record_per_span(tmp_path):
    tracer = layers.Tracer()
    root = tracer.add("entry", "p1/q", 0.0, 2.0)
    tracer.add("exec.collect", "p1/q", 0.5, 2.0, root, {"exec.jobs": 3.0})
    path = tmp_path / "spans.jsonl"
    tracer.write(str(path))
    recs = [json.loads(line) for line in path.read_text().splitlines()]
    assert [r["self_s"] for r in recs] == pytest.approx([0.5, 1.5])
    assert recs[1]["parent"] == 0 and recs[1]["counters"] == {"exec.jobs": 3.0}


def test_heap_retained_is_the_median_occupancy_after_full_collections_past_the_cold_pass(tmp_path):
    log = tmp_path / "gc.log"
    log.write_text(
        "[0.1s][info][gc] Using G1\n"
        "[0.2s][info][gc] GC(0) Pause Full (System.gc()) 60M->50M(256M) 9ms\n"
        "[0.3s][info][gc] GC(1) Pause Young (Normal) (G1 Evacuation Pause) 3G->2G(4G) 5.1ms\n"
        "[0.9s][info][gc] GC(2) Pause Full (System.gc()) 2G->1G(4G) 80ms\n"
        "[1.0s][info][gc] GC(3) Pause Remark 2500M->2500M(4G) 7ms\n"
        "[1.1s][info][gc] GC(4) Pause Full (System.gc()) 1500M->900M(4G) 55ms\n"
        "[1.2s][info][gc] GC(5) Pause Full (System.gc()) 1500M->100M(4G) 55ms\n"
        "[1.3s][info][gc] GC(6) Pause Full (System.gc()) 1500M->200M(4G) 55ms\n"
    )
    assert layers.heap_retained_mb(str(log)) == 200.0
    log.write_text("[0.2s][info][gc] GC(0) Pause Full (System.gc()) 60M->50M(256M) 9ms\n" * 2)
    with pytest.raises(RuntimeError):
        layers.heap_retained_mb(str(log))


def test_digest_ignores_row_order_and_number_rendering():
    a = pd.DataFrame({"k": ["x", "y"], "n": [3754, 2], "v": [0.1 + 0.2, 25.51]})
    b = pd.DataFrame({"v": [25.51, 0.3], "n": [2.0, 3754.0], "k": ["y", "x"]})
    c = pd.DataFrame({"k": ["x", "y"], "n": [3754, 2], "v": [0.3, decimal.Decimal("25.5100")]})
    assert digest(a) == digest(b) == digest(c)


def test_digest_tolerates_summation_order_noise_but_not_real_changes():
    base = pd.DataFrame({"s": [123456789.123456, 1e-9, float("nan")]})
    noisy = pd.DataFrame({"s": [123456789.123456 * (1 + 1e-13), 1e-9 * (1 - 1e-13), float("nan")]})
    changed = pd.DataFrame({"s": [123456789.2, 1e-9, float("nan")]})
    assert digest(base) == digest(noisy)
    assert digest(base) != digest(changed)
    assert digest(base) != digest(base.rename(columns={"s": "t"}))


def test_permutation_depends_on_seed_and_pass_only():
    entries = tuple(f"e{i}" for i in range(12))
    assert permuted(entries, 7, 1) == permuted(entries, 7, 1)
    assert sorted(permuted(entries, 7, 1)) == sorted(entries)
    assert permuted(entries, 7, 1) != permuted(entries, 7, 2)
    assert permuted(entries, 7, 1) != permuted(entries, 8, 1)


def test_benchmark_json_matches_the_metric_schema():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    assert list(bench) == ["command", "paths", "run_seconds", "workloads", "end_to_end", "per_layer"]
    assert bench["workloads"] == [{"name": w.name, "why": w.why} for w in WORKLOADS.values()]
    assert bench["end_to_end"] == [
        {"name": m.name, "unit": m.unit, "better": m.better, "bound": m.bound} for m in END_TO_END
    ]
    assert bench["per_layer"] == [{"name": m.name, "unit": m.unit, "better": m.better} for m in PER_LAYER]
    names = [m.name for m in END_TO_END + PER_LAYER] + list(WORKLOADS)
    assert len(names) == len(set(names)) and all(NAME.match(n) for n in names)
    assert max(m.bound for m in END_TO_END) == dict((m.name, m.bound) for m in END_TO_END)["setup_s"]
    for m in PER_LAYER:
        assert m.moves in {e.name for e in END_TO_END} | {FAILED_SHARE}, m
        assert set(m.on) <= set(WORKLOADS), m


def test_every_per_layer_metric_has_a_producer():
    produced = {
        *layers.EXEC_COUNTERS, *layers.PLAN_COUNTERS, *(f"catalyst.{p}_ms" for p in layers.PHASES),
        "queries.build_s", "queries.build_jobs", "exec.collect_s", "exec.result_rows", "exec.rss_peak_mb",
        "session.import_s", "session.get_spark_s", "catalog.register_tables_s",
        "scratch.tmp_dirs_left", "scratch.shm_bytes_left", "trace.overhead_s",
    }
    assert {m.name for m in PER_LAYER} == produced


def test_every_candidate_is_pinned_and_every_entry_is_eligible():
    from native_sql_engine_spark.queries import all_queries

    queries = all_queries()
    with open(PINS) as f:
        pins = json.load(f)
    assert set(pins) == set(WORKLOADS)
    assert os.path.isdir(SF_DIR)
    for w in WORKLOADS.values():
        assert set(pins[w.name]) == set(w.candidates(queries)), w.name
        assert w.entries and all(pins[w.name][e]["eligible"] for e in w.entries), w.name
        sources = {r["source"].split("@")[0] for r in pins[w.name].values() if r["eligible"]}
        assert sources == ({"duckdb-oracle"} if w.oracle else {"spark"}), w.name


def test_selection_spans_the_time_distribution_within_the_budget():
    warm = {f"e{i:02d}": PASS_S / 100 * (i + 1) for i in range(20)}
    picked = select(warm)
    assert 2 <= len(picked) < 20 and sum(warm[e] for e in picked) <= PASS_S
    # evenly spaced quantiles: from the fast end to the slow end, not a prefix
    ranks = sorted(int(e[1:]) for e in picked)
    assert ranks[0] < 20 / len(picked) and ranks[-1] >= 20 - 20 / len(picked)
    assert select({"slow": 2 * PASS_S}) == ()


@pytest.fixture(scope="module")
def spark(tmp_path_factory):
    # executor Python workers import the engine's kernels
    os.environ["PYTHONPATH"] = os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    from native_sql_engine_spark import get_spark

    run_dir = tmp_path_factory.mktemp("run")
    for sub in ("tmp", "warehouse"):
        (run_dir / sub).mkdir()
    session = get_spark("perfbench-test", **session_conf(str(run_dir)))
    yield session
    session.stop()


def _counters(spark, name):
    from native_sql_engine_spark.catalog import register_tables
    from native_sql_engine_spark.queries import all_queries

    sf_dir = os.path.join(ROOT, "perfbench", "data", "sf0.001")
    register_tables(spark, sf_dir)
    df = all_queries()[name](spark, sf_dir)
    spark.sparkContext.setJobGroup(f"test/{name}", name)
    df.toPandas()
    spark.sparkContext._jsc.clearJobGroup()
    layers.drain_listener_bus(spark)
    return {**layers.plan_counters(df), **layers.stage_counters(spark, f"test/{name}"),
            **layers.catalyst_phases(df)}


def test_operator_counters_are_zero_on_a_pure_sql_entry(spark):
    c = _counters(spark, "tpch_q6")
    assert c["exec.file_scans"] >= 1
    # the JVM-side readers fail loudly, not silently, if Spark renames what they read
    assert c["exec.jobs"] >= 1 and c["exec.tasks"] >= c["exec.stages"] >= 1, c
    assert c["exec.executor_run_ms"] > 0 and c["exec.input_bytes"] > 0, c
    assert sum(c[f"catalyst.{p}_ms"] for p in layers.PHASES) > 0, c
    assert all(v == 0 for k, v in c.items() if k.startswith("operators.")), c


def test_operator_counters_see_a_python_udf(spark):
    c = _counters(spark, "udf_map_in_arrow")
    assert c["operators.py_nodes"] >= 1
    assert c["operators.py_bytes_sent"] > 0 and c["operators.py_compute_ms"] > 0, c
