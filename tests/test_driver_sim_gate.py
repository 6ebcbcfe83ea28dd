"""Pre-commit gate for oracle edits (VERDICT r3 next-round #4).

Two enforcement layers:

1. ``test_sim_flags_hugeint_dtype`` proves the driver-sim machinery
   (tools_driver_sim.compare_frames) catches the exact bug class that
   cost 7 driver rows in round 2: a DuckDB oracle surfacing HUGEINT
   (SUM(BIGINT) widened), which pandas materializes as float64 and the
   driver hash-mismatches against Spark's int64 even on equal values.
   A deliberately broken oracle dtype MUST fail locally.

2. ``test_changed_oracle_modules_pass_driver_sim`` finds query modules
   with UNCOMMITTED edits (git diff HEAD, staged or not) and runs the
   pandas-level driver simulation over every query those modules
   register. Editing an oracle and running pytest before committing —
   the repo's documented loop — therefore exercises the driver's real
   canonicalization, not just the fetchall-level value compare of
   test_queries_oracle.py. With no uncommitted query-module edits
   the test sweeps every oracle-paired query instead: an engine change
   (a result path, a cast, a format switch) can shift a Spark dtype and
   break the driver's hash without touching any query module.
"""

from __future__ import annotations

import os
import subprocess
import sys

import pandas as pd

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from tools_driver_sim import compare_frames, simulate  # noqa: E402


def test_sim_flags_hugeint_dtype(duck):
    # the oracle side of the r2 bug: SUM over BIGINT widens to HUGEINT,
    # which .df() materializes as float64
    d_pd = duck.sql("SELECT SUM(x) AS n FROM (VALUES (1::BIGINT), (2::BIGINT)) t(x)").df()
    assert str(d_pd["n"].dtype) == "float64", "HUGEINT no longer lands as float64?"
    s_pd = pd.DataFrame({"n": pd.array([3], dtype="int64")})
    rec = compare_frames(s_pd, d_pd)
    assert not rec["ok"] and not rec["dtype_family_match"], rec
    # and the fixed form (oracle CAST ... AS BIGINT) passes
    d_ok = duck.sql(
        "SELECT CAST(SUM(x) AS BIGINT) AS n FROM (VALUES (1::BIGINT), (2::BIGINT)) t(x)"
    ).df()
    assert compare_frames(s_pd, d_ok)["ok"]


def test_sim_flags_value_drift():
    a = pd.DataFrame({"k": [1, 2], "v": [0.5, 0.25]})
    b = pd.DataFrame({"k": [1, 2], "v": [0.5, 0.250000001]})
    assert not compare_frames(a, b)["ok"]
    assert compare_frames(a, a.copy())["ok"]


def _changed_query_modules() -> set[str]:
    # tracked edits (staged or not) PLUS untracked new modules — a
    # brand-new query module must not bypass the gate (ADVICE r4)
    out = subprocess.run(
        ["git", "diff", "HEAD", "--name-only"],
        cwd=REPO,
        capture_output=True,
        text=True,
        check=True,
    ).stdout.split()
    out += subprocess.run(
        ["git", "ls-files", "--others", "--exclude-standard"],
        cwd=REPO,
        capture_output=True,
        text=True,
        check=True,
    ).stdout.split()
    prefix = "datafusion_wasm_bindings_spark/queries/"
    return {
        "datafusion_wasm_bindings_spark.queries."
        + os.path.basename(f)[: -len(".py")]
        for f in out
        if f.startswith(prefix) and f.endswith(".py")
        and os.path.basename(f) != "__init__.py"
    }


def test_changed_oracle_modules_pass_driver_sim(spark, duck, sf_dir):
    from datafusion_wasm_bindings_spark.queries import load_all

    mods = _changed_query_modules()
    registry = load_all()
    todo = [
        (n, s) for n, s in registry.items() if s.oracle and (not mods or s.module in mods)
    ]
    assert todo, f"modules {mods or 'all'} register no oracle-paired queries?"
    results = simulate(todo, spark, duck, sf_dir)
    bad = {k: v for k, v in results.items() if not v["ok"]}
    assert not bad, f"driver-sim failures in edited modules: {bad}"
