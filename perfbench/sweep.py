"""Repeat the benchmark over seeds and summarise its spread.

    python3 perfbench/sweep.py --runs 10 [--workloads sql_adhoc] [--seed0 1] [--traced 1]

Runs ``run.py`` ``--runs`` times per workload (seeds ``seed0 …``), each
in a fresh process, then ``--traced`` traced runs. For every end-to-end
metric a run measures it prints the median, the quartiles
(``statistics.quantiles(n=4)``) and their distance as a share of the
median, next to the metric's bound from BENCHMARK.json if it is gated.
For every run it prints the host's CPU steal, and per pass the median
wall and JIT time over the runs. Each traced run follows an untraced run
of the same seed; the pair gives the tracing overhead, traced minus
untraced ``latency_p50_ms`` and ``cpu_ms_per_op``. The summary is also
written to ``.perfbench/out/sweep.json``.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT = os.path.join(ROOT, ".perfbench", "out")


def run_once(workload: str, seed: int, seconds: int, trace: int) -> dict:
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)]
    p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=180)
    if p.returncode != 0:
        raise RuntimeError(f"{cmd} exited {p.returncode}: {p.stderr[-2000:]}")
    last = json.loads(p.stdout.strip().splitlines()[-1])
    with open(os.path.join(OUT, f"{workload}_seed{seed}_trace{trace}.json")) as f:
        rec = json.load(f)
    return {"result": last, "record": rec}


def spread(values: list[float]) -> tuple[float, float, float, float]:
    """(median, q1, q3, (q3 - q1) / median)."""
    q1, med, q3 = statistics.quantiles(values, n=4)
    med = statistics.median(values)
    return med, q1, q3, (q3 - q1) / med if med else float("inf")


def main() -> int:
    bench = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--seed0", type=int, default=1)
    ap.add_argument("--traced", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=bench["run_seconds"])
    ap.add_argument("--workloads", default=",".join(w["name"] for w in bench["workloads"]))
    args = ap.parse_args()
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}

    summary: dict = {}
    for wl in args.workloads.split(","):
        runs = []
        for i in range(args.runs):
            r = run_once(wl, args.seed0 + i, args.seconds, 0)
            h = r["record"]["host"]
            res = r["result"]
            print(f"{wl} seed {args.seed0 + i}: correct={res['correct']} "
                  f"failed={res['failed']}/{res['attempted']} steal_s={h['steal_s']} "
                  f"steal_share={h['steal_share']} cpu_jvm_s={h['cpu_jvm_s']} "
                  f"cpu_py_s={h['cpu_py_s']} run_s={h['run_s']} "
                  + " ".join(f"{k}={v['value']:.4g}" for k, v in res["metrics"].items()),
                  flush=True)
            runs.append(r)
        rows = {}
        # every end-to-end metric a run measures, gated in BENCHMARK.json or not
        for m in runs[0]["record"]["end_to_end"]:
            vals = [r["record"]["end_to_end"][m] for r in runs]
            med, q1, q3, sp = spread(vals)
            rows[m] = {"median": med, "q1": q1, "q3": q3, "spread": sp, "bound": bounds.get(m),
                       "values": vals}
            gate = (f"bound {bounds[m]} (a third: {bounds[m] / 3:.4f})" if m in bounds
                    else "not gated")
            print(f"{wl} {m}: median {med:.4g} q1 {q1:.4g} q3 {q3:.4g} spread {sp:.4f} {gate}")
        # JIT levelling: median over the runs of each pass's JIT time and wall
        logs = [r["record"]["pass_log"] for r in runs]
        curve = {
            k: [statistics.median(log[i][k] for log in logs) for i in range(len(logs[0]))]
            for k in ("wall_s", "jit_ms", "compiles")
        }
        print(f"{wl} per pass, median of runs (set-up, warm, timed): " + " ".join(
            f"{k} {[round(v, 2) for v in vs]}" for k, vs in curve.items()))
        summary[wl] = {"end_to_end": rows, "host": [r["record"]["host"] for r in runs],
                       "pass_curve": curve}
        for i in range(args.traced):
            # a traced run right after an untraced run of the same seed, so
            # that both see about the same host noise
            seed = args.seed0 + args.runs + i
            u = run_once(wl, seed, args.seconds, 0)["record"]
            t = run_once(wl, seed, args.seconds, 1)["record"]
            over = {
                m: t["end_to_end"][m] - u["end_to_end"][m]
                for m in ("latency_p50_ms", "cpu_ms_per_op")
            }
            summary[wl].setdefault("traced", []).append(
                {"per_layer": t["per_layer"], "overhead": over, "host": t["host"],
                 "untraced": {"end_to_end": u["end_to_end"], "host": u["host"]},
                 "per_pass": t["per_pass"], "pass_log": t["pass_log"],
                 "self_ms_per_op": t["self_ms_per_op"],
                 "trace_unaccounted_share_max": t["trace_unaccounted_share_max"]})
            print(f"{wl} tracing overhead, seed {seed} (steal_share untraced "
                  f"{u['host']['steal_share']}, traced {t['host']['steal_share']}): " + " ".join(
                      f"{m} {v:+.4g} ({100 * v / u['end_to_end'][m]:+.1f}%)"
                      for m, v in over.items()))
    os.makedirs(OUT, exist_ok=True)
    with open(os.path.join(OUT, "sweep.json"), "w") as f:
        json.dump(summary, f, indent=1)
    return 0


if __name__ == "__main__":
    sys.exit(main())
