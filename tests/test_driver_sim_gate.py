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
from datetime import date

import numpy as np
import pandas as pd
import pytest

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


# The relaxed comparison (the hostile replay's): the same SQL NULL
# reaches pandas as None, NaN, NaT or <NA> depending on the engine and
# the column type; relaxed mode counts all four as one NULL.
def _relaxed(spark_pd, duck_pd) -> dict:
    return compare_frames(spark_pd, duck_pd, relaxed=True)


@pytest.mark.parametrize("null", [np.nan, pd.NA], ids=["nan", "pd_na"])
def test_relaxed_unifies_null_spellings(null):
    # a NULL in an object column: None from Spark, NaN (or pd.NA) from DuckDB
    spark_pd = pd.DataFrame({"k": [1, 2], "v": pd.Series([None, "x"], dtype=object)})
    duck_pd = pd.DataFrame({"k": [1, 2], "v": pd.Series([null, "x"], dtype=object)})
    assert _relaxed(spark_pd, duck_pd)["ok"]
    assert not compare_frames(spark_pd, duck_pd)["ok"]


def test_relaxed_unifies_nat_and_int_na():
    # a NULL DATE is None from Spark (object of date) and NaT from
    # DuckDB (datetime64); a NULL in a nullable integer column prints <NA>
    spark_pd = pd.DataFrame(
        {"d": pd.Series([date(2020, 1, 1), None], dtype=object),
         "i": pd.Series([1, None], dtype=object)}
    )
    duck_pd = pd.DataFrame(
        {"d": pd.Series([pd.Timestamp("2020-01-01"), pd.NaT]),
         "i": pd.Series([1, None], dtype="Int64")}
    )
    rec = _relaxed(spark_pd, duck_pd)
    assert rec["values_match"], rec
    assert not compare_frames(spark_pd, duck_pd)["values_match"]
    # same NaT pair with matching dtype families: the whole record passes
    assert _relaxed(spark_pd[["d"]], duck_pd[["d"]])["ok"]
    assert not compare_frames(spark_pd[["d"]], duck_pd[["d"]])["ok"]


def test_relaxed_keeps_float_nan_distinct_from_null():
    # float on both sides: NaN is a value, and NaN matches NaN
    a = pd.DataFrame({"f": [np.nan, 1.0]})
    assert _relaxed(a, a.copy())["ok"]
    assert compare_frames(a, a.copy())["ok"]
    # a float NaN against a NULL spelled None is a different value
    b = pd.DataFrame({"f": pd.Series([None, 1.0], dtype=object)})
    assert not _relaxed(a, b)["values_match"]


def test_relaxed_unifies_nulls_before_sorting_rows():
    # 'None' < 'Oslo' < 'nan' and '2020-…' < 'NaT' < 'None': with the
    # spellings unified only after the row sort, the two frames would
    # sort differently and every later row would misalign
    spark_pd = pd.DataFrame(
        {"city": pd.Series([None, "Oslo", "Bergen"], dtype=object),
         "d": pd.Series([None, date(2020, 1, 2), date(2020, 1, 1)], dtype=object),
         "k": [1, 2, 3]}
    )
    duck_pd = pd.DataFrame(
        {"city": pd.Series(["Oslo", np.nan, "Bergen"], dtype=object),
         "d": pd.Series([pd.Timestamp("2020-01-02"), pd.NaT, pd.Timestamp("2020-01-01")]),
         "k": [2, 1, 3]}
    )
    assert _relaxed(spark_pd, duck_pd)["ok"]
    assert not compare_frames(spark_pd, duck_pd)["ok"]


def test_relaxed_skips_family_check_on_two_empty_frames():
    # a zero-row Spark DATE column is plain object: its family cannot be
    # sampled, so relaxed mode does not compare families on empty frames
    spark_pd = pd.DataFrame({"d": pd.Series([], dtype=object)})
    duck_pd = pd.DataFrame({"d": pd.Series([], dtype="datetime64[ns]")})
    assert _relaxed(spark_pd, duck_pd)["ok"]
    assert not compare_frames(spark_pd, duck_pd)["ok"]
    # one empty side is still a row-count failure
    assert not _relaxed(spark_pd, pd.DataFrame({"d": [pd.Timestamp(0)]}))["ok"]


@pytest.mark.parametrize(
    "argv, kind, bad, valid",
    [
        (["tools_driver_sim.py", "q_no_such_id"], "query ids", "q_no_such_id", "q_join_inner"),
        # a count takes no ids after it: the args are an id list
        (["tools_driver_sim.py", "50", "q_join_inner"], "query ids", "50", "q_join_inner"),
        (["tools_adversarial_replay.py", "nulls", "q_no_such_id"], "query ids", "q_no_such_id",
         "q_join_inner"),
        (["tools_adversarial_replay.py", "nuls"], "modes", "nuls", "skewex"),
        (["tools_stability.py", "q_no_such_id"], "query ids", "q_no_such_id", "q_join_inner"),
        (["tools_triage.py", "q_no_such_id"], "query ids", "q_no_such_id", "q_join_inner"),
    ],
    ids=["driver_sim", "driver_sim_count_and_id", "replay_id", "replay_mode", "stability",
         "triage"],
)
def test_gate_tools_reject_unknown_names(argv, kind, bad, valid):
    # JAVA_HOME and the stability source point nowhere: a Spark session
    # or a fixture write started before the check fails with another code
    env = dict(os.environ, JAVA_HOME="/nonexistent", SPARK_GRAFT_STAB_SRC="/nonexistent")
    proc = subprocess.run(
        [sys.executable, *argv], cwd=REPO, env=env, capture_output=True, text=True, timeout=120
    )
    assert proc.returncode == 2, proc.stderr[-2000:]
    unknown, listed = proc.stderr.split(f"valid {kind}:", 1)
    assert f"unknown {kind}: {bad}" in unknown
    assert valid in listed.split()


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
