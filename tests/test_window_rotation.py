"""Rotation-correctness guard for the driver's 50-slot window.

The single cheapest high-stakes mistake in this repo (VERDICT r3 #1)
is a stale `_WINDOW`: the driver would re-verify 50 already-green ids
and waste the whole round. This test mechanizes the rotation rule
against the recorded CORRECTNESS files:

1. every id whose LATEST driver verdict is non-green must be in the
   window (fail-closure first);
2. no id with a green latest verdict may occupy a slot while any
   registered id has never been checked (never re-verify green while
   unchecked ids remain);
3. the window holds exactly 50 distinct registered ids and load_all()
   puts them first.

4. (zero-backlog era, VERDICT r6 #2) staleness: once every id has a
   verdict, rule 2 is vacuously satisfiable forever — so a third rule
   forces oldest-first re-verification: no FRESH green id (verified
   within the last 2 recorded rounds) may occupy a slot while a STALE
   id (last verified ≥3 recorded rounds ago) sits outside the window.

INTENTIONAL side effect: the moment a new CORRECTNESS_r{N}.json lands
recording the current window green, rule 2 (backlog era) or rule 4
(zero-backlog era) starts failing — that is the next round's builder
being forced to rotate `_WINDOW` (and run `python tools_ledger.py`)
BEFORE any other work, exactly the always-first action every verdict
has demanded. Rotate, driver-sim the chosen 50, and this test goes
green again.
"""

from __future__ import annotations

import glob
import json
import os
import re

from datafusion_wasm_bindings_spark.queries import _WINDOW, load_all

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _correctness_files():
    out = []
    for path in glob.glob(os.path.join(REPO, "CORRECTNESS_r*.json")):
        m = re.search(r"CORRECTNESS_r0*(\d+)\.json$", path)
        if m:
            out.append((int(m.group(1)), path))
    return sorted(out)


def _latest_verdicts():
    last: dict[str, bool] = {}
    for _rnd, path in _correctness_files():
        data = json.load(open(path))
        for qid, v in data.items():
            last[qid] = bool(
                v.get("rows_match")
                and v.get("schema_match")
                and v.get("hash_match")
                and not v.get("err")
            )
    return last


def _latest_rounds():
    """Round number of each id's most recent driver verdict."""
    rounds: dict[str, int] = {}
    for rnd, path in _correctness_files():
        for qid in json.load(open(path)):
            rounds[qid] = rnd
    return rounds


def test_window_is_50_distinct_registered_ids_and_leads_registry():
    registry = load_all()
    assert len(_WINDOW) == 50 and len(set(_WINDOW)) == 50
    missing = [q for q in _WINDOW if q not in registry]
    assert not missing, f"window names unregistered ids: {missing}"
    assert list(registry)[:50] == list(_WINDOW)


def test_registry_order_does_not_depend_on_import_order():
    """load_all() orders the ids after the window by module, not by
    which query module the process imported first. Each order comes
    from a fresh interpreter (no Spark session), one per first import."""
    import subprocess
    import sys

    def order(first: str) -> list[str]:
        pre = f"import datafusion_wasm_bindings_spark.queries.{first}; " if first else ""
        code = pre + (
            "from datafusion_wasm_bindings_spark.queries import load_all; "
            "print(' '.join(load_all()))"
        )
        out = subprocess.run(
            [sys.executable, "-c", code], cwd=REPO, capture_output=True, text=True, check=True
        ).stdout
        return out.splitlines()[-1].split()

    plain = order("")
    assert len(plain) == len(set(plain)) > 50
    for first in ("sources_q", "analytics5"):
        assert order(first) == plain, first


def test_window_rotation_priorities():
    registry = load_all()
    last = _latest_verdicts()
    nongreen = {q for q, ok in last.items() if not ok and q in registry}
    never = [q for q in registry if q not in last]
    w = set(_WINDOW)
    # 1. fail-closure: every non-green id is in the window (until its
    # re-check is recorded green in a later CORRECTNESS file)
    left_out = nongreen - w
    assert not left_out, f"non-green ids not in window: {sorted(left_out)}"
    # 2. no green id occupies a slot while never-checked ids remain
    # OUTSIDE the window — when every never-checked id already has a
    # slot, the spare slots legitimately re-verify the oldest greens
    # (VERDICT r5 #1: 46 never-checked + 4 re-verify slots).
    never_left_out = [q for q in never if q not in w]
    if never_left_out:
        greens_in_window = sorted(
            q for q in _WINDOW if last.get(q) is True
        )
        assert not greens_in_window, (
            f"window re-verifies green ids {greens_in_window} while "
            f"{len(never_left_out)} ids have never been checked and "
            f"are not in the window"
        )


def test_window_staleness_oldest_first():
    """Zero-backlog rotation forcing function (VERDICT r6 #2).

    Once every registered id has a driver verdict, the window must
    spend its slots on the STALEST greens: it may not hold an id whose
    latest verdict is from the last 2 recorded rounds (fresh) while an
    id last verified >=3 recorded rounds ago (stale) sits outside the
    window. Non-green and never-checked ids are exempt (rules 1/2 own
    them). The moment CORRECTNESS_r{N}.json lands recording this
    window green, every window id becomes fresh and the r1/r2-era ids
    outside go stale — this test fails until `_WINDOW` rotates
    oldest-first again.
    """
    registry = load_all()
    last = _latest_verdicts()
    rounds = _latest_rounds()
    never = [q for q in registry if q not in rounds]
    if never:
        return  # backlog era: rule 2 governs
    latest = max(rounds[q] for q in registry)
    w = set(_WINDOW)
    stale_outside = sorted(
        q for q in registry if q not in w and rounds[q] <= latest - 3
    )
    fresh_green_inside = sorted(
        q
        for q in _WINDOW
        if rounds.get(q, 0) >= latest - 1 and last.get(q) is True
    )
    if stale_outside and fresh_green_inside:
        raise AssertionError(
            f"window holds fresh greens {fresh_green_inside[:8]}... "
            f"while {len(stale_outside)} stale ids (last verified "
            f"round <= {latest - 3}) wait outside, e.g. "
            f"{stale_outside[:8]} — rotate _WINDOW oldest-first "
            f"(python tools_ledger.py, then COVERAGE.md's plan)"
        )
