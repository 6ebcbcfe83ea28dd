"""The benchmark's counters repeat exactly.

    python3 -m pytest perfbench/test_repeatability.py -q

Two short traced runs with the same seed must count the same Spark
jobs, stages and tasks, the same input and shuffle bytes and the same
output rows. A run with another seed must do the same work (same ops,
same totals) in a different order. Each run is a fresh process, as the
benchmark runs, so this takes a few minutes per workload.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
COUNTERS = ("jobs", "stages", "tasks", "input_bytes", "shuffle_read_bytes",
            "shuffle_write_bytes", "rows")


def _traced(workload: str, seed: int) -> dict:
    p = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", "1", "--trace", "1"],
        cwd=ROOT, capture_output=True, text=True, timeout=180,
    )
    assert p.returncode == 0, p.stderr[-2000:]
    assert json.loads(p.stdout.strip().splitlines()[-1])["correct"], p.stdout[-2000:]
    with open(os.path.join(ROOT, ".perfbench", "out", f"{workload}_seed{seed}_trace1.json")) as f:
        return json.load(f)


def _totals(rec: dict, order_free: bool = False) -> dict[str, int]:
    """Counter sums over the run's ops. ``order_free`` leaves out the
    rows of ops whose output grows with what ran before them (SHOW ALL)."""
    return {
        k: sum(op.get(k) or 0 for op in rec["ops"]
               if not (order_free and k == "rows" and op.get("grows")))
        for k in COUNTERS
    }


@pytest.mark.parametrize("workload", ["sql_adhoc", "curation_pipeline"])
def test_counters_repeat_and_seed_only_reorders(workload):
    a, b, c = _traced(workload, 7), _traced(workload, 7), _traced(workload, 8)
    assert _totals(a) == _totals(b)
    assert [op["key"] for op in a["ops"]] == [op["key"] for op in b["ops"]]
    # per op too, not only in sum
    for x, y in zip(a["ops"], b["ops"]):
        assert {k: x.get(k) for k in COUNTERS} == {k: y.get(k) for k in COUNTERS}, x["key"]
    keys_a, keys_c = [op["key"] for op in a["ops"]], [op["key"] for op in c["ops"]]
    assert sorted(keys_a) == sorted(keys_c) and keys_a != keys_c
    assert _totals(a, order_free=True) == _totals(c, order_free=True)
    assert _totals(a)["jobs"] > 0 and _totals(a)["input_bytes"] > 0
