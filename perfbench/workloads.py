"""The benchmark's workloads: which battery entries run, and by which rule they
were chosen.

Each workload draws from a group of ``queries.all_queries()``, named by entry
prefix.  ``perfbench/pins.json`` holds one record per candidate entry of the
group, written by ``python3 perfbench/run.py --pin``: one process at ``SF_DIR``
runs every candidate twice and keeps its second (warm) execution time and its
result digest.  A candidate is eligible when both executions give the same
digest and, for SQL, that digest is the DuckDB oracle's.

Selection rule: sort the eligible entries by warm time and take ``k`` of them
at evenly spaced percentiles (the ``(i + 0.5) / k`` quantiles), with ``k`` the
largest whose warm times sum to at most ``PASS_S``.  The set then spans the
group's time distribution, floor-bound and heavy entries alike, in the
proportions the group has, and a warm pass stays short enough that 48 runs of
the two workloads fit in under an hour on a 4-core machine.

What the rule picks from the pinning run (4 vCPUs, sf0.01, local[4]; every
candidate was eligible):

- ``sql_sf0.01``: 9 of 152 tpch/ssb/tpcds entries, at p6, p17, ..., p94 of
  warm time.  Their warm time is 3.27 s, 5.8% of the group's 56.0 s.  Entries
  under 0.6 s (floor-bound): 8 of 9 selected, 143 of 152 in the group.
- ``python_sf0.01``: 5 of 91 udf/dedup/sim/source/lake/corpus entries, at
  p10, p30, ..., p90.  Their warm time is 3.12 s, 5.2% of the group's 60.5 s.
  Entries under 0.6 s: 3 of 5 selected, 54 of 91 in the group.

The input tables are a fixed copy of the deterministic synthetic TPC-H-style
data (seed 42) under ``perfbench/data``; the run's ``--seed`` only permutes
entry order.
"""

from __future__ import annotations

import json
import os
from typing import NamedTuple

HERE = os.path.dirname(os.path.abspath(__file__))
DATA_DIR = os.path.join(HERE, "data")
SF_DIR = os.path.join(DATA_DIR, "sf0.01")
PINS = os.path.join(HERE, "pins.json")

#: budget for the selected entries' summed warm time, in seconds
PASS_S = 3.5
MIN_WARM_PASSES = 3


def warm_passes(seconds: float) -> int:
    """Warm passes for a ``seconds`` budget: a fixed amount of work, so the
    same budget measures the same work on every commit and host."""
    return max(MIN_WARM_PASSES, round(seconds / PASS_S))


def select(warm_s: dict[str, float]) -> tuple[str, ...]:
    """The selection rule above, over ``{entry: warm seconds}``."""
    ranked = sorted(warm_s, key=lambda e: (warm_s[e], e))
    n, best = len(ranked), ()
    for k in range(1, n + 1):
        picked = tuple(ranked[int((i + 0.5) * n / k)] for i in range(k))
        if sum(warm_s[e] for e in picked) <= PASS_S:
            best = picked
    return tuple(sorted(best))


class Workload(NamedTuple):
    name: str
    prefixes: tuple[str, ...]  # the group: entries whose name starts with one of these
    oracle: bool  # digests pinned from the DuckDB oracle (else from Spark)
    why: str

    def candidates(self, names) -> list[str]:
        return sorted(n for n in names if n.startswith(self.prefixes))

    @property
    def entries(self) -> tuple[str, ...]:
        with open(PINS) as f:
            pins = json.load(f)[self.name]
        return select({e: r["warm_s"] for e, r in pins.items() if r["eligible"]})


WORKLOADS: dict[str, Workload] = {
    w.name: w
    for w in (
        Workload(
            "sql_sf0.01",
            ("tpch_", "ssb_", "tpcds_"),
            True,
            "TPC-H, SSB and TPC-DS entries on small data: JVM scan/join/aggregate jobs plus "
            "Catalyst, AQE and scheduling fixed cost, no Python workers",
        ),
        Workload(
            "python_sf0.01",
            ("udf_", "dedup_", "sim_", "source_", "lake_", "corpus_"),
            False,
            "Python workers and pure-Python codecs: Arrow/pandas UDFs, dedup and similarity "
            "kernels, file fixtures written and read back",
        ),
    )
}
