"""Benchmark for ``SQLEngine.execute_sql`` and the registry's curation
operators.

    python3 perfbench/run.py --workload sql_adhoc --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. One run is one fresh process with one
closed-loop client thread against Spark ``local[nproc]``. It generates
its tables under ``.perfbench/`` (reused across runs), starts the
session, runs a set-up pass that checks every registry id against its
DuckDB oracle, and ``workloads.WARM_PASSES`` warm passes, then runs
``round(seconds / pass_s)`` timed passes of the workload's ops in seeded
orders. The first run of an op records an order-insensitive digest of
its output; a later run that raises or whose digest differs counts as
failed.

``--trace 0`` reports the end-to-end metrics; ``--trace 1`` runs the same
sequence with spans and JVM counters around every call and reports the
per-layer metrics instead. The last line of stdout is one JSON object;
lines before it print every metric with its unit and the host noise
(CPU steal) of the run. A full record of the run (every op, and the
spans of a traced run) goes to ``.perfbench/out/``.
"""

from __future__ import annotations

import argparse
import contextlib
import hashlib
import itertools
import json
import os
import re
import statistics
import sys
import time

import datagen
import probes
import workloads

T_START = time.time()
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench")


def _env() -> None:
    """Keep every file Spark and Python write inside the checkout."""
    for sub in ("tmp", "spark-local"):
        os.makedirs(os.path.join(WORK, sub), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(WORK, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "spark-local")
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(len(os.sched_getaffinity(0))))
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "2g")


# -- output checks -------------------------------------------------------

def _sha(lines) -> str:
    h = hashlib.sha1()
    for line in sorted(lines):
        h.update(line.encode())
        h.update(b"\n")
    return h.hexdigest()


def text_lines(out: str) -> list[str]:
    """The rows of a TABLE-format ``execute_sql`` result, normalised for
    comparison: plan expression ids (``#123``) are numbered per session
    and masked, and so is table cell padding, which follows the widest
    value. A plan string cut to a fixed length (``…, (o_orderke...``)
    ends at a point that moves with the ids' digit counts, so its cut
    token is masked too."""
    out = re.sub(r"#\d+L?", "#", out)
    out = re.sub(r"[\w#]*\.\.\.", "...", out)
    out = re.sub(r"(plan_id=|id=#?)\d+", r"\1", out)
    return [re.sub(r" +", " ", line) for line in out.split("\n") if not line.startswith("+")]


def frame_digest(pdf) -> str:
    pdf = pdf[sorted(pdf.columns)]
    return _sha("\x1f".join(map(str, row)) for row in pdf.astype(str).itertuples(index=False))


def rows_out(out: str) -> int:
    # per statement: border, header, border, rows…, border
    lines = out.split("\n")
    borders = sum(1 for line in lines if line.startswith("+"))
    return sum(1 for line in lines if line.startswith("|")) - borders // 3


def read_back(path: str):
    """(rows, digest, files, bytes) of a parquet output directory."""
    import pyarrow.parquet as pq

    files = [f for f in os.listdir(path) if f.endswith(".parquet")]
    t = pq.read_table(path)
    size = sum(os.path.getsize(os.path.join(path, f)) for f in files)
    return t.num_rows, frame_digest(t.to_pandas()), len(files), size


# -- tracing -------------------------------------------------------------

class Tracer:
    """Spans kept in memory, written out when the run ends. Every span
    opened while an op runs carries that op's job-group id."""

    def __init__(self) -> None:
        self.spans: list[dict] = []
        self.stack: list[int] = []
        self.group: str | None = None

    @contextlib.contextmanager
    def span(self, name: str):
        parent = self.stack[-1] if self.stack else None
        self.spans.append({"name": name, "group": self.group, "parent": parent,
                           "start": time.time(), "end": None})
        self.stack.append(len(self.spans) - 1)
        try:
            yield self.stack[-1]
        finally:
            self.spans[self.stack.pop()]["end"] = time.time()

    def attach_jobs(self, op_span: int, jobs: list[dict]) -> None:
        """Add each job as a child of the innermost span of the op that
        contains its start. The op's spans are the last ones opened, and
        of two that contain an instant the later one is the inner one."""
        for j in jobs:
            if j["start"] is None or j["end"] is None:
                continue
            host = max(
                (i for i in range(op_span, len(self.spans)) if not self.spans[i].get("job")
                 and self.spans[i]["start"] <= j["start"] <= self.spans[i]["end"]),
                default=op_span,
            )
            self.spans.append({"name": f"spark.job.{j['id']}", "group": self.group,
                               "parent": host, "start": j["start"], "end": j["end"], "job": True})

    def self_times(self) -> list[float]:
        """Each span's duration minus the part its children cover."""
        kids: dict[int, list[tuple[float, float]]] = {}
        for s in self.spans:
            if s["parent"] is not None:
                kids.setdefault(s["parent"], []).append((s["start"], s["end"]))
        return [
            (s["end"] - s["start"]) - _covered(kids.get(i, []), s["start"], s["end"])
            for i, s in enumerate(self.spans)
        ]


def _covered(intervals, lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted((max(s, lo), min(e, hi)) for s, e in intervals):
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


# -- the run -------------------------------------------------------------

def _pctl_tail(xs: list[float]) -> tuple[float, float, int]:
    """Highest percentile with at least ten samples beyond it:
    (value, percentile, n)."""
    s = sorted(xs)
    n = len(s)
    if n <= 10:
        return s[-1], 100.0, n
    return s[n - 11], 100.0 * (n - 10) / n, n


class _NoTrace:
    @staticmethod
    def span(name: str):
        return contextlib.nullcontext()


class Runner:
    def __init__(self, wl, spark, eng, data_dir: str, trace: bool) -> None:
        from datafusion_wasm_bindings_spark import compat, engine, formats

        self.wl, self.spark, self.eng, self.data_dir = wl, spark, eng, data_dir
        self.trace = trace
        self.compat, self.engine, self.formats = compat, engine, formats
        self.jvm = probes.Jvm(spark)
        self.py_pid = os.getpid()
        self.tracer = Tracer() if trace else _NoTrace()
        self.frames: dict[str, object] = {}  # curation op → the DataFrame its read built
        self.ref: dict[str, str] = {}  # op key → digest of its first run
        self.ref_lines: dict[str, list[str]] = {}  # SQL op key → rows of its first run
        self.out_root = os.path.join(WORK, "writes")
        self.records: list[dict] = []
        self.partitions = spark.conf.get("spark.sql.shuffle.partitions")
        self.last = None  # the last op's result
        self.groups = itertools.count()  # job-group ids, never reused in a run

    def run_op(self, op, registry) -> dict:
        """Run one op, timed from outside; then read its counters (traced
        runs) and check its output. Returns the op's record."""
        rec = {"key": op.key, "kind": op.kind}
        if op.grows:
            rec["grows"] = True
        tr = self.tracer
        if self.trace:
            tr.group = f"perfbench-{next(self.groups)}"
            self.spark.sparkContext.setJobGroup(tr.group, op.key)
            c0 = (self.jvm.compiles(), self.jvm.jit_ms(), self.jvm.gc_ms())
        cj0, cp0 = probes.proc_cpu_s(self.jvm.pid), probes.proc_cpu_s(self.py_pid)
        t0 = time.perf_counter()
        try:
            with tr.span("op") as op_span:
                if self.wl.fmt:
                    result = self._call_sql(op, tr)
                else:
                    result = self._call_curation(op, registry, tr)
            err = None
        except Exception as exc:  # noqa: BLE001 — a failing op is counted, not fatal
            result, err = None, f"{type(exc).__name__}: {exc}"[:300]
        rec["wall"] = time.perf_counter() - t0
        rec["cpu_jvm"] = probes.proc_cpu_s(self.jvm.pid) - cj0
        rec["cpu_py"] = probes.proc_cpu_s(self.py_pid) - cp0
        if self.trace:
            c1 = (self.jvm.compiles(), self.jvm.jit_ms(), self.jvm.gc_ms())
            rec["compiles"], rec["jit_ms"], rec["gc_ms"] = (b - a for a, b in zip(c0, c1))
            self.jvm.drain()
            jobs = self.jvm.group_jobs(tr.group)
            if err is None:
                tr.attach_jobs(op_span, jobs)
            rec["jobs"] = len(jobs)
            rec["job_ms"] = sum((j["end"] - j["start"]) * 1000 for j in jobs if j["end"])
            rec.update(self.jvm.stage_totals(s for j in jobs for s in j["stages"]))
            rec["group"] = tr.group
        if err is None:
            v0 = time.perf_counter()
            try:
                with tr.span("verify"):
                    rec.update(self._verify(op, result))
            except Exception as exc:  # noqa: BLE001
                err = f"verify: {type(exc).__name__}: {exc}"[:300]
            rec["verify_s"] = time.perf_counter() - v0
        rec["error"] = err
        self.last = result
        return rec

    def _call_sql(self, op, tr):
        text = op.text.replace("{out}", self.out_root).replace("{partitions}", self.partitions)
        if not self.trace:
            return self.eng.execute_sql(text)
        # execute_sql's steps, one call per layer
        eng, fmt = self.eng, self.eng.result_format
        with tr.span("engine.front"):
            stmts = self.engine.split_statements(text)
            for s in stmts:
                self.compat.rewrite(s)
        outs = []
        for s in stmts:
            with tr.span("write" if op.kind == "write" else "catalyst.analyze"):
                df = eng.sql(s)
            with tr.span("catalyst.plan"):
                df._jdf.queryExecution().executedPlan()
            with tr.span("formats.format_result"):
                outs.append(self.formats.format_result(df, fmt, eng.max_rows))
        return "\n".join(outs)

    def _call_curation(self, op, registry, tr):
        if op.kind == "write":
            with tr.span("write"):
                self.frames[op.qid].write.mode("overwrite").parquet(
                    os.path.join(self.out_root, op.out))
            return None
        with tr.span("operators.build"):
            df = registry[op.qid].spark_fn(self.spark, self.data_dir)
        if self.trace:
            with tr.span("catalyst.plan"):
                df._jdf.queryExecution().executedPlan()
        with tr.span("exec.collect"):
            pdf = df.toPandas()
        self.frames[op.qid] = df
        return pdf

    def _verify(self, op, result) -> dict:
        """Digest the op's output (reading back a write); compare it with
        the op's first digest, or record it on the op's first run."""
        info: dict = {}
        if self.wl.fmt:  # the formatted result, also a COPY's row-count table
            info.update(rows_out=rows_out(result), bytes_out=len(result.encode()))
        if op.kind == "write":
            rows, dig, files, size = read_back(os.path.join(self.out_root, op.out))
            info.update(rows=rows, write_files=files, write_bytes=size)
        elif self.wl.fmt:
            lines = text_lines(result)
            dig = _sha(lines)
            ref = self.ref_lines.setdefault(op.key, lines)
            if op.grows and set(ref) <= set(lines):
                dig = self.ref.setdefault(op.key, dig)
            if dig != self.ref.get(op.key, dig):
                info["diff"] = sorted(set(lines) ^ set(ref))[:6]
            info["rows"] = info["rows_out"]
        else:
            dig = frame_digest(result)
            info.update(rows=len(result))
        ref = self.ref.setdefault(op.key, dig)
        info["ok"] = dig == ref
        return info


def _oracle(con, registry, qid: str, spark_pd, data_dir: str) -> dict:
    """The pandas-level comparison of one registry id's first result
    against its DuckDB oracle (tools_driver_sim.compare_frames)."""
    from datafusion_wasm_bindings_spark.queries import resolve_oracle
    from tools_driver_sim import compare_frames

    oracle = registry[qid].oracle
    if oracle is None:
        return {"ok": len(spark_pd) > 0, "rows_only": True, "rows": len(spark_pd)}
    rec = compare_frames(spark_pd, con.sql(resolve_oracle(oracle, data_dir)).df())
    return {k: rec[k] for k in rec if k != "dtype_mismatch"} | {"rows": len(spark_pd)}


def _median(xs) -> float:
    return statistics.median(xs) if xs else 0.0


def _end_to_end(recs: list[dict], setup_s: float, peak_mb: float) -> tuple[dict, float, int]:
    reads = [r["wall"] * 1000 for r in recs if r["kind"] == "read"]
    writes = [r["wall"] * 1000 for r in recs if r["kind"] == "write"]
    busy = sum(r["wall"] for r in recs)
    tail, pctl, n = _pctl_tail(reads)
    e2e = {
        "setup_s": (setup_s, "s"),
        "latency_p50_ms": (_median(reads), "ms"),
        "latency_tail_ms": (tail, "ms"),
        "write_p50_ms": (_median(writes), "ms"),
        "throughput_ops_s": (len(recs) / busy, "1/s"),
        "cpu_ms_per_op": (sum(r["cpu_jvm"] + r["cpu_py"] for r in recs) * 1000 / len(recs), "ms"),
        "peak_rss_mb": (peak_mb, "MB"),
    }
    return e2e, pctl, n


_LAYER_UNITS = {
    "engine.front_ms": "ms", "catalyst.analyze_ms": "ms", "catalyst.plan_ms": "ms",
    "spark.jobs": "count", "spark.stages": "count", "spark.tasks": "count",
    "spark.job_ms": "ms", "codegen.compiles": "count", "jvm.jit_ms": "ms",
    "jvm.gc_ms": "ms", "exec.input_bytes": "B", "exec.shuffle_read_bytes": "B",
    "exec.shuffle_write_bytes": "B", "exec.spill_bytes": "B", "exec.task_cpu_ms": "ms",
    "formats.render_ms": "ms", "formats.rows_out": "count", "formats.bytes_out": "B",
    "operators.build_ms": "ms", "write.ms": "ms", "write.bytes": "B", "write.files": "count",
    "cpu.jvm_ms": "ms", "cpu.py_ms": "ms", "session.start_s": "s",
    "catalog.register_s": "s", "warmup_s": "s", "host.steal_share": "1",
}


def _per_layer(tracer: Tracer, recs: list[dict], record: dict) -> tuple[dict, list[dict]]:
    """Per-op means of every layer metric, from the spans and counters
    of a traced run. Span-timed layers are averaged over the ops that
    pass through the layer."""
    spans = tracer.spans
    selft = tracer.self_times()
    by_group: dict[str, list[int]] = {}
    jobs_of: dict[int, list[tuple[float, float]]] = {}
    for i, s in enumerate(spans):
        by_group.setdefault(s["group"], []).append(i)
        s["self"] = selft[i]
        if s.get("job"):
            jobs_of.setdefault(s["parent"], []).append((s["start"], s["end"]))

    def dur(i):
        return (spans[i]["end"] - spans[i]["start"]) * 1000

    def jobs_in(i):
        return _covered(jobs_of.get(i, []), spans[i]["start"], spans[i]["end"]) * 1000

    acc: dict[str, list[float]] = {}
    worst = 0.0
    for r in recs:
        idx = by_group.get(r["group"], [])
        named: dict[str, list[int]] = {}
        for i in idx:
            named.setdefault(spans[i]["name"], []).append(i)
        # the self times along the op's tree, with overlapping jobs merged,
        # must add up to the op's wall time
        layer = [i for i in idx if not spans[i].get("job") and spans[i]["name"] != "verify"]
        accounted = sum(spans[i]["self"] * 1000 + jobs_in(i) for i in layer)
        op_ms = dur(named["op"][0])
        worst = max(worst, abs(accounted - op_ms) / op_ms)

        def add(k, v):
            acc.setdefault(k, []).append(v)

        if "engine.front" in named:
            front = sum(dur(i) for i in named["engine.front"])
            add("engine.front_ms", front)
            if r["kind"] == "read":
                add("catalyst.analyze_ms", sum(dur(i) for i in named.get("catalyst.analyze", [])) - front)
            add("formats.render_ms", sum(dur(i) - jobs_in(i) for i in named["formats.format_result"]))
            add("formats.rows_out", r.get("rows_out", 0))
            add("formats.bytes_out", r.get("bytes_out", 0))
        if "catalyst.plan" in named:
            add("catalyst.plan_ms", sum(dur(i) for i in named["catalyst.plan"]))
        if "operators.build" in named:
            add("operators.build_ms", sum(dur(i) for i in named["operators.build"]))
        if r["kind"] == "write":
            add("write.ms", sum(dur(i) for i in named.get("write", [])))
            add("write.bytes", r.get("write_bytes", 0))
            add("write.files", r.get("write_files", 0))
        for k, src in (("spark.jobs", "jobs"), ("spark.stages", "stages"), ("spark.tasks", "tasks"),
                       ("spark.job_ms", "job_ms"), ("codegen.compiles", "compiles"),
                       ("jvm.jit_ms", "jit_ms"), ("jvm.gc_ms", "gc_ms"),
                       ("exec.input_bytes", "input_bytes"),
                       ("exec.shuffle_read_bytes", "shuffle_read_bytes"),
                       ("exec.shuffle_write_bytes", "shuffle_write_bytes"),
                       ("exec.spill_bytes", "spill_bytes"), ("exec.task_cpu_ms", "task_cpu_ms")):
            add(k, r[src])
        add("cpu.jvm_ms", r["cpu_jvm"] * 1000)
        add("cpu.py_ms", r["cpu_py"] * 1000)
    layers = {k: (sum(acc[k]) / len(acc[k]) if acc.get(k) else 0.0) for k in _LAYER_UNITS}
    st = record["setup"]
    layers["session.start_s"] = st["session_s"]
    layers["catalog.register_s"] = st["register_s"]
    layers["warmup_s"] = st["warmup_s"]
    layers["host.steal_share"] = record["host"]["steal_share"]
    record["trace_unaccounted_share_max"] = worst
    n_pass = max(r["pass"] for r in recs) + 1
    record["per_pass"] = {
        k: [sum(r[k] for r in recs if r["pass"] == p) for p in range(n_pass)]
        for k in ("jobs", "stages", "tasks")
    }
    self_by_name: dict[str, float] = {}
    for s in spans:
        if s["name"] != "verify":
            key = "spark.job" if s.get("job") else s["name"]
            self_by_name[key] = self_by_name.get(key, 0.0) + s["self"] * 1000
    record["self_ms_per_op"] = {k: v / max(1, len(recs)) for k, v in sorted(self_by_name.items())}
    return layers, spans


def _listed(kind: str) -> list[str]:
    """The names of the ``kind`` metrics in BENCHMARK.json, in its order."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return [m["name"] for m in json.load(f)[kind]]


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    sys.path.insert(0, ROOT)
    if args.workload not in workloads.NAMES:
        print(f"unknown workload {args.workload!r}; one of {workloads.NAMES}", file=sys.stderr)
        return 2
    _env()
    # the program under test: a checkout without it fails here
    from datafusion_wasm_bindings_spark.queries import load_all
    from datafusion_wasm_bindings_spark.session import get_spark

    host0 = probes.host_cpu()
    registry = load_all()
    wl = workloads.build(args.workload, registry)
    t = time.time()
    data_dir = datagen.ensure(os.path.join(WORK, "data"), wl.sf, wl.tables, wl.name)
    datagen_s = time.time() - t

    t = time.time()
    spark = get_spark(
        "perfbench",
        extra_conf={
            # no hsperfdata file under /tmp either
            "spark.driver.extraJavaOptions":
                f"-Djava.io.tmpdir={os.environ['TMPDIR']} -XX:+PerfDisableSharedMem",
            "spark.sql.warehouse.dir": os.path.join(WORK, "warehouse"),
        },
    )
    session_s = time.time() - t
    try:
        return _run(args, spark, registry, wl, data_dir, datagen_s, session_s, host0)
    finally:
        probes.stop(spark)


def _run(args, spark, registry, wl, data_dir, datagen_s, session_s, host0) -> int:
    import duckdb

    from datafusion_wasm_bindings_spark import ResultFormat, SQLEngine
    from datafusion_wasm_bindings_spark.session import size_scan_splits
    from datafusion_wasm_bindings_spark.sources.catalog import register_tables

    t = time.time()
    size_scan_splits(spark, data_dir)
    register_tables(spark, data_dir)
    register_s = time.time() - t

    eng = SQLEngine(spark)
    if wl.fmt:
        eng.set_result_format(ResultFormat(wl.fmt))
        # the engine's SET statement, with the value the session already
        # has: the op changes no later result
        eng.execute_sql(workloads.SET_STATEMENT.replace(
            "{partitions}", spark.conf.get("spark.sql.shuffle.partitions")))
    runner = Runner(wl, spark, eng, data_dir, bool(args.trace))
    passes = wl.order(args.seed, wl.passes(args.seconds))

    # per pass (set-up, warm, timed): wall time, JIT time, codegen
    # compiles and JVM plus Python CPU, read once per pass outside every
    # op, so every run shows how far JIT cost had levelled off when
    # timing began
    pass_log: list[dict] = []

    def counters() -> tuple[float, float, int, float]:
        return (time.time(), runner.jvm.jit_ms(), runner.jvm.compiles(),
                probes.proc_cpu_s(runner.jvm.pid) + probes.proc_cpu_s(runner.py_pid))

    def log_pass(phase: str, c0: tuple) -> None:
        c1 = counters()
        pass_log.append({"phase": phase, "wall_s": c1[0] - c0[0], "jit_ms": c1[1] - c0[1],
                         "compiles": c1[2] - c0[2], "cpu_s": c1[3] - c0[3]})

    # set-up pass: every op once, every registry id checked against its
    # DuckDB oracle, writes checked for row count
    t = time.time()
    c0 = counters()
    con = duckdb.connect()
    for name in wl.tables:
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{data_dir}/{name}.parquet')")
    oracle: dict[str, dict] = {}
    setup_fail = []
    setup_steps: list[list] = []  # [op key, wall s of its run, wall s of its oracle check]
    for op in passes[0]:
        s0 = time.time()
        setup_steps.append([op.key, None, None])
        if wl.fmt and op.kind == "read" and op.qid and op.qid not in oracle:
            # the oracle check runs the registry text once, through
            # SQLEngine.sql (a registry text is one statement); the first
            # warm pass records the digest of its formatted result
            oracle[op.qid] = _oracle(con, registry, op.qid, eng.sql(op.text).toPandas(), data_dir)
            setup_steps[-1][2] = time.time() - s0
            continue
        rec = runner.run_op(op, registry)
        setup_steps[-1][1] = rec["wall"]
        if rec["error"]:
            setup_fail.append(rec)
            continue
        if op.qid and op.qid not in oracle:
            pdf = (eng.sql(workloads.registry_sql(registry[op.qid])).toPandas()
                   if wl.fmt else runner.last)
            oracle[op.qid] = _oracle(con, registry, op.qid, pdf, data_dir)
        setup_steps[-1][2] = time.time() - s0 - rec["wall"]
        if op.kind == "write" and rec.get("rows") != oracle[op.qid]["rows"]:
            setup_fail.append({**rec, "error": f"wrote {rec.get('rows')} rows, query returns "
                                               f"{oracle[op.qid]['rows']}"})
    con.close()
    log_pass("setup", c0)

    def run_pass(seq, phase: str) -> list[dict]:
        c0 = counters()
        recs = [runner.run_op(op, registry) for op in seq]
        log_pass(phase, c0)
        return recs

    for seq in passes[1 : 1 + workloads.WARM_PASSES]:
        setup_fail += [r for r in run_pass(seq, "warm") if r["error"] or not r.get("ok")]
    if args.trace:
        runner.tracer = Tracer()  # set-up spans are not part of the record
    warmup_s = time.time() - t
    setup_s = time.time() - T_START - datagen_s

    # timed passes
    t = time.time()
    for p, seq in enumerate(passes[1 + workloads.WARM_PASSES :]):
        runner.records += [r | {"pass": p} for r in run_pass(seq, "timed")]
    loop_s = time.time() - t
    host1 = probes.host_cpu()

    recs = runner.records
    failed = [r for r in recs if r["error"] or not r.get("ok")]
    bad_oracle = sorted(k for k, v in oracle.items() if not v.get("ok"))
    peak_mb = probes.proc_hwm_mb(runner.jvm.pid) + probes.proc_hwm_mb(os.getpid())
    e2e, pctl, n_tail = _end_to_end(recs, setup_s, peak_mb)
    steal_s = host1[0] - host0[0]
    noise = {
        "steal_s": round(steal_s, 3),
        "steal_share": round(steal_s / max(1e-9, host1[1] - host0[1]), 5),
        "vcpus": os.cpu_count(),
        "cpu_jvm_s": round(probes.proc_cpu_s(runner.jvm.pid), 3),
        "cpu_py_s": round(probes.proc_cpu_s(os.getpid()), 3),
        "run_s": round(time.time() - T_START, 3),
    }
    record = {
        "workload": wl.name, "seed": args.seed, "seconds": args.seconds, "trace": args.trace,
        "sf": wl.sf, "tables": datagen.describe(data_dir), "warm_passes": workloads.WARM_PASSES,
        "passes": len(passes) - 1 - workloads.WARM_PASSES, "pass_log": pass_log,
        "setup_steps": setup_steps,
        "ops_per_pass": len(wl.ops), "loop_s": loop_s,
        "setup": {"setup_s": setup_s, "datagen_s": datagen_s, "session_s": session_s,
                  "register_s": register_s, "warmup_s": warmup_s},
        "end_to_end": {k: v for k, (v, _) in e2e.items()},
        "failed_share": len(failed) / len(recs), "tail_pctl": pctl, "tail_n": n_tail,
        "host": noise, "oracle": oracle, "setup_failures": setup_fail, "ops": recs,
    }
    if args.trace:
        layers, spans = _per_layer(runner.tracer, recs, record)
        record["per_layer"], record["spans"] = layers, spans
    out_dir = os.path.join(WORK, "out")
    os.makedirs(out_dir, exist_ok=True)
    with open(os.path.join(out_dir, f"{wl.name}_seed{args.seed}_trace{args.trace}.json"), "w") as f:
        json.dump(record, f, default=str)

    name = wl.name
    for k, (v, u) in e2e.items():
        print(f"{name} {k} = {v:.6g} {u}")
    print(f"{name} failed_share = {record['failed_share']:.6g} 1 ({len(failed)} of {len(recs)} ops; "
          f"{len(oracle)} registry ids oracle-checked, failing: {bad_oracle})")
    print(f"{name} latency_tail_ms is p{pctl:.1f} of n={n_tail} reads")
    print(f"{name} per pass (set-up, {workloads.WARM_PASSES} warm, timed): "
          f"wall_s {[round(x['wall_s'], 2) for x in pass_log]} "
          f"jit_ms {[round(x['jit_ms']) for x in pass_log]} "
          f"codegen compiles {[x['compiles'] for x in pass_log]} "
          f"cpu_s {[round(x['cpu_s'], 2) for x in pass_log]}")
    print(f"{name} host steal_s = {noise['steal_s']} steal_share = {noise['steal_share']} "
          f"cpu_jvm_s = {noise['cpu_jvm_s']} cpu_py_s = {noise['cpu_py_s']} run_s = {noise['run_s']}")
    if args.trace:
        for k, v in record["per_layer"].items():
            print(f"{name} {k} = {v:.6g} {_LAYER_UNITS[k]}")
        print(f"{name} self ms per op: {json.dumps({k: round(v, 2) for k, v in record['self_ms_per_op'].items()})}")
        print(f"{name} per timed pass: {json.dumps(record['per_pass'])}")
        print(f"{name} trace: worst |wall - sum of self times| = "
              f"{100 * record['trace_unaccounted_share_max']:.3f}% of an op's wall")
        metrics = {k: {"value": layers[k], "unit": _LAYER_UNITS[k]} for k in _listed("per_layer")}
    else:
        # the end-to-end metrics BENCHMARK.json gates; the others are
        # printed above and kept in the run's record
        metrics = {k: {"value": e2e[k][0], "unit": e2e[k][1]} for k in _listed("end_to_end")}
    for r in setup_fail + failed[:5]:
        print(f"{name} FAILED {r['key']}: {r.get('error') or 'digest differs'} {r.get('diff', '')}",
              file=sys.stderr)
    correct = not failed and not bad_oracle and not setup_fail
    print(json.dumps({"correct": correct, "attempted": len(recs), "failed": len(failed),
                      "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
