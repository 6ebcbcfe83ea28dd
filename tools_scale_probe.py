"""Scale-headroom probes: replay a registered query's or operator's
physical SHAPE over generated inputs far past the fixtures and report
warm wall-clock, so BASELINE.md's 100 TB-posture claims are measured.

Usage: ``python tools_scale_probe.py [id ...]``. No ids runs the 26
``sweep=True`` cases; the rest (the ``*_xl`` 10x headroom probes,
``pagerank_deep``, ``widerow``, ``megadoc``, ``tokenizer_ab``) take tens
of minutes and run by id. Result lines are teed to
``$SPARK_GRAFT_PROBE_LOG`` (default /tmp/dfwb_probe_log.txt). A ``Case``
is data; ``run_case`` is the one harness, shared with the smoke tests.
"""

from __future__ import annotations

import math
import os
import shutil
import statistics
import sys
import tempfile
import time
from collections.abc import Callable, Sequence
from dataclasses import dataclass
from types import SimpleNamespace
from typing import Any, NamedTuple

from pyspark.sql import Window
from pyspark.sql import functions as F

from datafusion_wasm_bindings_spark.operators import (
    asof, clustering, dedup, graph, multimodal, profiling, rangejoin, scale, similarity,
)
from datafusion_wasm_bindings_spark.operators import text as optext
from datafusion_wasm_bindings_spark.operators.checkpoint import release
from datafusion_wasm_bindings_spark.queries._util import DEC, dsum
from datafusion_wasm_bindings_spark.queries.analytics5 import ks_from_scores
from datafusion_wasm_bindings_spark.session import get_spark
from datafusion_wasm_bindings_spark.sources.catalog import DEFAULT_SF_DIR, table
from datafusion_wasm_bindings_spark.streaming.events import sessionized

_PROBE_LOG = os.environ.get("SPARK_GRAFT_PROBE_LOG", "/tmp/dfwb_probe_log.txt")
SF01 = os.path.join(os.path.dirname(DEFAULT_SF_DIR), "sf0.1")  # next to the default sf dir


def _emit(line: str) -> None:
    """Print a RESULT line and tee it to the append-only probe log (immune to \\r fragments)."""
    print(line, flush=True)
    try:
        with open(_PROBE_LOG, "a") as fh:
            fh.write(line + "\n")
    except OSError:
        pass  # the log is advisory; never fail a probe over it


def _time(label: str, run, repeats: int = 3) -> float:
    """Run once cold (codegen, checkpoint warm-up), then ``repeats`` times
    warm; emit and return the warm median (the cold time if no repeats)."""
    times = []
    for _ in range(1 + repeats):
        t0 = time.monotonic()
        run()
        times.append(time.monotonic() - t0)
    times = times[1:] or times
    med = statistics.median(times)
    _emit(f"{label}: warm median {med:.1f} s ({[round(t, 1) for t in times]})")
    return med


def _h(n: int) -> str:
    return f"{n // 10**6}M" if n >= 10**6 else f"{n // 1000}k" if n >= 1000 else str(n)


class Size(SimpleNamespace):
    """One size of a case: its fields, its inputs, its operators' warm
    medians ``t`` and the undo list run, newest first, when it is done."""

    def rows(self, *cols, n: int | None = None):
        """``n`` generated rows, localCheckpointed: generation stays out of the timing."""
        return self.cp(self.spark.range(self.n if n is None else n).select(*cols))

    def cp(self, df):
        df = df.localCheckpoint()
        self.undo.append(lambda: release(df))
        return df

    def tmpdir(self, prefix: str) -> str:
        d = tempfile.mkdtemp(prefix=prefix)
        self.undo.append(lambda: shutil.rmtree(d, ignore_errors=True))
        return d

    def conf(self, key: str, value: str) -> None:
        old, conf = self.spark.conf.get(key, None), self.spark.conf
        conf.set(key, value)
        self.undo.append(lambda: conf.set(key, old) if old is not None else conf.unset(key))

    def checkpoint_dir(self, prefix: str) -> None:
        """Cut lineage durably into a fresh temp dir until the size is done."""
        sc, d = self.spark.sparkContext, self.tmpdir(prefix)
        old = sc.getCheckpointDir()
        sc.setCheckpointDir(d)
        # setCheckpointDir would nest a fresh subdir under ``old``; restore it exactly
        self.undo.append(lambda: getattr(sc._jsc.sc(), "checkpointDir_$eq")(sc._jvm.scala.Option.apply(old)))


class Op(NamedTuple):
    label: str | Callable[[Size], str]  # str.format over the size's fields, or a function of it
    fn: Callable[[Size], Any]  # one run; asserts the invariant
    exp: str | None = None  # exponent line: {0}, {1} the two scales, {e} the exponent


@dataclass
class Case:
    id: str
    gen: Callable[[Size], Any]  # builds one size's input onto it; what it returns becomes ``df``
    ops: list[Op]
    sizes: Sequence = (10_000_000,)  # one or two sizes: n, or a dict of fields with n
    smoke: Sequence = (20_000,)  # the same fields, small enough for the test suite
    sweep: bool = False  # run by the no-argument sweep
    repeats: tuple[int, ...] = (3, 2)  # warm runs per size
    agree: bool = False  # every operator returns the same value
    max_exp: float | None = None  # bound on every exponent
    after: Callable[[Size], None] | None = None  # per size, after its timings
    finish: Callable[[list[Size]], None] | None = None  # after every size


def run_case(spark, case: Case, smoke: bool = False) -> list[Size]:
    """Run every size of ``case`` (the smoke sizes, cold runs only, if
    ``smoke``), emit timings and exponents, assert the case's invariants."""
    xs = []
    for i, p in enumerate(case.smoke if smoke else case.sizes):
        p = p if isinstance(p, dict) else {"n": p}
        x = Size(spark=spark, undo=[], t=[], **{"scale": _h(p["n"]), **p})
        xs.append(x)
        try:
            x.df = case.gen(x) or getattr(x, "df", None)
            last = []  # each operator's value from its last run
            for op in case.ops:
                label = op.label(x) if callable(op.label) else op.label.format_map(vars(x))
                out = []
                x.t.append(_time(label, lambda: out.append(op.fn(x)), 0 if smoke else case.repeats[i]))
                last.append(out[-1])
            if case.agree:
                assert all(v == last[0] for v in last), [str(v)[:300] for v in last]
            if case.after:
                case.after(x)
        finally:
            for undo in reversed(x.undo):
                undo()
    for i, op in enumerate(case.ops):
        if op.exp:
            e = math.log(xs[1].t[i] / xs[0].t[i]) / math.log(xs[1].n / xs[0].n)
            _emit(op.exp.format(xs[0].scale, xs[1].scale, e=e))
            assert case.max_exp is None or e <= case.max_exp, [x.t for x in xs]
    if case.finish:
        case.finish(xs)
    return xs


def _shuffle_bytes(df) -> int:
    """Shuffle bytes written by one run of ``df``, summed over the executed
    post-AQE plan's exchanges (reused ones alias the original's metrics).
    Call on a FRESHLY built DataFrame: SQLMetrics accumulate across runs."""

    def walk(node) -> int:
        cls = node.getClass().getSimpleName()
        if cls == "AdaptiveSparkPlanExec":
            return walk(node.executedPlan())
        if cls.startswith("Reused"):
            return 0
        opt = node.metrics().get("shuffleBytesWritten") if "ShuffleExchange" in cls else None
        own = opt.get().value() if opt is not None and opt.isDefined() else 0
        kids = [node.children().apply(i) for i in range(node.children().size())]
        # a query stage wraps its exchange: enter it once, via .plan()
        return own + sum(map(walk, kids + ([node.plan()] if cls.endswith("QueryStageExec") else [])))

    df.collect()
    return walk(df._jdf.queryExecution().executedPlan())


def _hashed(mult: int, mod: int, div: float | None = None):
    c = (F.col("id") * mult) % mod
    return c if div is None else c / div


def _us(days: int):
    # xxhash64 scatters times (a multiplicative lattice degenerated the survival grid)
    return F.lit(1_700_000_000_000_000) + F.expr(f"pmod(xxhash64(id), {days * 86_400_000_000})")


def _ols(x):
    # 3 groups, hash-mixed regressors
    x1, x2 = (_hashed(2654435761, 50) + 1).cast("double"), _hashed(40503, 100, 100.0)
    y = x1 * 3.0 - x2 * 7.0 + (F.col("id") % 97).cast("double")
    return x.rows((F.col("id") % 3).cast("string").alias("flag"), x1.alias("x1"), x2.alias("x2"), y.alias("y"))


def _ols_fit(x):
    c = F.col
    pairs = [("x1", "x1"), ("x1", "x2"), ("x2", "x2"), ("x1", "y"), ("x2", "y"), ("y", "y")]
    sums = [dsum(c(v), f"s{v}") for v in ("x1", "x2", "y")] + [dsum(c(a) * c(b), f"s{a}{b}") for a, b in pairs]
    g = x.df.groupBy("flag").agg(F.count(F.lit(1)).cast("long").alias("n"), *sums)
    s11, s12, s22, s1y, s2y = (c(f"s{a}{b}") - c(f"s{a}") * c(f"s{b}") / c("n") for a, b in pairs[:5])
    det = s11 * s22 - s12 * s12
    b1 = (s1y * s22 - s2y * s12) / det
    b2 = (s2y * s11 - s1y * s12) / det
    rows = g.select(
        "flag", "n", b1.cast(DEC).cast("double").alias("b1"), b2.cast(DEC).cast("double").alias("b2")
    ).collect()
    assert len(rows) == 3 and all(r.n > 3 * x.n // 10 for r in rows)


def _survival(x):
    u = x.df.groupBy("user_id").agg(
        F.min("us").alias("lo"), F.max("us").alias("hi"),
        F.max((F.col("event_type") == "error").cast("long")).alias("died"))
    dur_h = F.floor((F.col("hi") - F.col("lo")) / F.lit(3_600_000_000)).cast("long").alias("dur_h")
    grid = u.select(dur_h, "died").groupBy("dur_h").agg(
        F.sum("died").cast("long").alias("d"), F.sum(1 - F.col("died")).cast("long").alias("c"))
    w = Window.orderBy("dur_h")
    at_risk = F.col("d") + F.col("c")
    n_risk = (
        F.sum(at_risk).over(w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing))
        - F.coalesce(F.sum(at_risk).over(w.rowsBetween(Window.unboundedPreceding, -1)), F.lit(0))
    ).cast("long").alias("n_risk")
    qln = F.when(F.col("d") < F.col("n_risk"), F.floor(
        F.log(F.lit(1.0) - F.col("d") / F.cast("double", F.col("n_risk"))) * F.lit(1e6) + F.lit(0.5)
    ).cast("long")).otherwise(F.lit(-100_000_000))
    km = F.exp(F.sum("qln").over(w.rowsBetween(Window.unboundedPreceding, 0)) / F.lit(1e6))
    rows = grid.select("dur_h", "d", n_risk).withColumn("qln", qln).select(
        "dur_h", "n_risk", km.cast(DEC).cast("double").alias("survival")).collect()
    assert len(rows) > 100  # grid is bounded, not corpus-sized


def _cusum(x, bucketed: bool):
    g = x.df.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n"), F.sum(F.col("value").cast(DEC)).cast("double").alias("s"))
    staged = x.df.join(F.broadcast(g.select("event_type", (F.col("s") / F.col("n")).alias("mu"))), "event_type")
    dev, keys = (F.col("value") - F.col("mu")).cast(DEC), ["event_type"]
    if bucketed:  # 6-hour buckets: prefix offsets from bucket sums, then in-bucket running sums
        staged = staged.withColumn("bkt", F.floor(F.col("us") / F.lit(6 * 3_600_000_000)).cast("long"))
        keys = keys + ["bkt"]
        w_pref = Window.partitionBy("event_type").orderBy("bkt").rowsBetween(Window.unboundedPreceding, -1)
        offs = staged.groupBy(*keys).agg(F.sum(dev).alias("bsum")).select(
            *keys, F.coalesce(F.sum("bsum").over(w_pref), F.lit(0).cast(DEC)).alias("sum_off"))
        staged = staged.join(F.broadcast(offs), keys)
    w = Window.partitionBy(*keys).orderBy(F.col("us").asc(), F.col("event_id").asc())
    cusum = F.sum(dev).over(w.rowsBetween(Window.unboundedPreceding, 0))
    cusum = cusum + F.col("sum_off") if bucketed else cusum
    rows = staged.withColumn("cusum", cusum.cast("double")).groupBy("event_type").agg(
        F.max(F.abs(F.col("cusum"))).alias("m")).collect()
    assert len(rows) == 5


def _rank(x, bucketed: bool):
    order = [F.col("v").asc(), F.col("id").asc()]
    ranked = (
        scale.bucketed_rank(x.df, ["k"], F.floor(F.col("v") / 100.0), order) if bucketed
        else x.df.withColumn("rn", F.row_number().over(Window.partitionBy("k").orderBy(*order)).cast("long")))
    out = ranked.groupBy("k").agg(F.max("rn").alias("mx"), F.sum("rn").alias("s")).collect()
    assert len(out) == 6  # 5 keys + the NULL group
    if bucketed:
        assert sum(r.mx for r in out) == x.n  # ranks cover every row, NULLs kept


def _users(x, *extra):
    return x.rows(F.col("id").alias("user_id"), _hashed(2654435761, 1_000_000, 100.0).alias("monetary"), *extra)


def _ntile(x, bucketed: bool):
    order = [F.col("monetary").asc(), F.col("user_id").asc()]
    if bucketed:
        rn = F.col("rn")
        n = F.lit(x.n).cast("long")
        q = scale._idiv(n, F.lit(5))
        r = n - q * 5
        cut = r * (q + 1)
        tile = F.when(rn <= cut, scale._idiv(rn - 1, q + 1) + 1).otherwise(r + scale._idiv(rn - cut - 1, q) + 1)
        seg = scale.bucketed_rank(x.df, [], F.floor(F.col("monetary") / 16.0), order).select(
            tile.cast("long").alias("m_q"))
    else:
        seg = x.df.select(F.ntile(5).over(Window.orderBy(*order)).cast("long").alias("m_q"))
    out = seg.groupBy("m_q").agg(F.count(F.lit(1)).alias("n")).collect()
    assert len(out) == 5 and sum(r.n for r in out) == x.n
    return {r.m_q: r.n for r in out}


def _rank_chain(x, cut: bool):
    seg = x.df
    for i, c in enumerate(("monetary", "m2", "m3")):
        seg = scale.bucketed_rank(
            seg, [], F.floor(F.col(c) / 16.0), [F.col(c).asc(), F.col("user_id").asc()], rank_col=f"__rn_{i}")
        if cut:
            seg = seg.localCheckpoint(eager=True)
    sums = [F.sum((F.col(f"__rn_{i}") * F.col("user_id")).cast("decimal(38,0)")).alias(f"s{i}") for i in range(3)]
    return tuple(seg.agg(*sums).collect()[0])


def _pack(x, bucketed: bool):
    if bucketed:
        placed = scale.bucketed_prefix_sum(
            x.df, ["shard"], F.floor(F.col("doc_id") / 4096), [F.col("doc_id").asc()], F.col("n_tokens"),
            sum_col="end_off").withColumn("start_off", F.col("end_off") - F.col("n_tokens"))
    else:
        w = Window.partitionBy("shard").orderBy("doc_id").rowsBetween(Window.unboundedPreceding, Window.currentRow)
        placed = x.df.withColumn("start_off", F.sum("n_tokens").over(w) - F.col("n_tokens"))
    seq = F.floor(F.col("start_off") / 512).cast("long").alias("seq_id")
    return tuple(
        placed.select("shard", "n_tokens", seq).groupBy("shard", "seq_id")
        .agg(F.count(F.lit(1)).alias("n_docs"), F.sum("n_tokens").alias("t"))
        .agg(F.count(F.lit(1)).alias("n_seqs"), F.sum(F.col("seq_id") * F.col("n_docs")).alias("chk"),
             F.sum("t").alias("tok"))
        .collect()[0]
    )


def _ks(x):
    row = ks_from_scores(x.df, bucket_scale=1000.0).collect()[0]
    assert row["n_a"] == x.n // 2 and row["n_b"] == x.n - x.n // 2, row
    assert row["ks_d"] > 0.001, row


def _session(x):
    out = sessionized(x.df).agg(F.count(F.lit(1)).alias("sessions"), F.sum("n").alias("events")).collect()[0]
    assert out["events"] == x.n and out["sessions"] >= x.n // 10


def _profile(x, exact: bool):
    out = profiling.profile_columns(x.df, ["a", "b", "c", "d"], exact_distinct=exact).collect()
    assert len(out) == 4 and all(r["n" if exact else "n_distinct"] > 0 for r in out)


def _q1(x):
    net = F.col("price") * (1 - F.col("disc"))
    rows = x.df.groupBy("rf", "ls").agg(
        dsum(F.col("qty"), "sum_qty"), dsum(F.col("price"), "sum_base"), dsum(net, "sum_disc"),
        dsum(net * (1 + F.col("tax")), "sum_charge"), F.count(F.lit(1)).alias("n")).collect()
    assert len(rows) == 6 and sum(r.n for r in rows) == x.n


def _star_join(x):
    dim = x.spark.range(25).select(F.col("id").alias("nk"), F.concat(F.lit("NATION_"), F.col("id")).alias("name"))
    rows = x.df.join(F.broadcast(dim), "nk").groupBy("name").agg(
        F.count(F.lit(1)).alias("cnt"), F.sum("v").alias("sv")).collect()
    assert len(rows) == 25 and sum(r.cnt for r in rows) == x.n


def _selective(x):
    x.fact = x.rows(_hashed(2654435761, x.keys).alias("k"), (F.col("id") % 1000 / 10.0).alias("v"),
                    F.expr("repeat(uuid(), 3)").alias("payload"))
    dim = x.spark.range(x.keys).select(F.col("id").alias("k"), (F.col("id") % 100).alias("grp"))
    x.dim = x.cp(dim.filter(F.col("grp") == 42))  # 1% of keys survive
    x.conf("spark.sql.autoBroadcastJoinThreshold", "-1")


def _selective_join(x, prefilter: bool):
    joined = scale.hash_prefilter_join(x.fact, x.dim, "k") if prefilter else x.fact.join(x.dim, "k")
    # aggregate the payload, or Catalyst prunes it and ships only the key
    total = joined.agg(F.count(F.lit(1)).alias("n"), F.sum(F.length("payload")).alias("b")).collect()[0]
    if prefilter:
        assert total == x.expect
    x.expect = total


def _exchange_rows(x):
    buckets = x.dim.select(F.pmod(F.xxhash64(F.col("k")), F.lit(1 << 20)).alias("__pfb")).distinct()
    surv = x.fact.join(F.broadcast(buckets), F.pmod(F.xxhash64(x.fact["k"]), F.lit(1 << 20)) == F.col("__pfb"),
                       "left_semi").count()
    _emit(f"  rows entering join exchange: plain {x.n:,} vs prefiltered {surv:,}")


def _asof_input(x):
    # refs at ts = j*1000 with payload user*1000003 + j: each left row matches floor(ts/1000)
    j, key = (F.col("id") / x.keys).cast("long"), F.col("id") % x.keys
    x.right = x.rows(key.alias("user_id"), (j * 1000).alias("ts"), (key * 1000003 + j).alias("val"), n=x.keys * 10)
    x.left = x.rows(
        key.alias("user_id"), F.expr("pmod(xxhash64(id), 10000)").alias("ts"), F.col("id").alias("row_id"))


def _asof(x):
    ref = (F.col("ts") / 1000).cast("long")
    bad = asof.asof_join(x.left, x.right, on=["user_id"], ts="ts").filter(
        (F.col("ref_ts") != ref * 1000) | (F.col("ref_val") != F.col("user_id") * 1000003 + ref)).count()
    assert bad == 0, bad


_HOURS = 14 * 24  # 14 days of hourly intervals per key


def _intervals(x):
    key = (F.col("id") % x.keys).alias("k")
    x.ev = x.rows(key, F.timestamp_seconds(
        F.lit(1_700_000_000) + F.expr(f"pmod(xxhash64(id), {_HOURS * 3600})")).alias("ts"))
    hour = F.lit(1_700_000_000) + (F.col("id") / x.keys).cast("long") * 3600
    x.iv = x.rows(key, F.timestamp_seconds(hour).alias("start"), F.timestamp_seconds(hour + 1800).alias("end"),
                  n=x.keys * _HOURS)
    # an event matches exactly one interval iff its in-hour offset is <= 1800 s
    x.expect = x.ev.filter(F.expr("pmod(unix_seconds(ts) - 1700000000, 3600)") <= 1800).count()


def _interval(x):
    got = rangejoin.interval_join(x.ev, x.iv, on=["k"], bucket_seconds=3600).count()
    assert got == x.expect, (got, x.expect)


def _baskets(x):
    # 7 items a basket from a catalog of n/5 parts
    part = F.expr(f"pmod(xxhash64(id * 2654435761), {x.n // 5})").alias("part")
    x.items = x.cp(x.spark.range(x.n * 7).select((F.col("id") / 7).cast("long").alias("bkt"), part).distinct())
    kb = F.col("kb")
    x.expect = x.items.groupBy("bkt").agg(F.count(F.lit(1)).alias("kb")).agg(
        F.sum(kb * (kb - 1) / 2).cast("long").alias("p")).collect()[0]["p"]


def _itemsets(x):
    a, b = x.items.alias("a"), x.items.alias("b")
    pairs = (
        a.join(b, (F.col("a.bkt") == F.col("b.bkt")) & (F.col("a.part") < F.col("b.part")))
        .groupBy(F.col("a.part").alias("pa"), F.col("b.part").alias("pb"))
        .agg(F.count(F.lit(1)).alias("n_ab"))
    )
    got = pairs.agg(F.sum("n_ab").cast("long").alias("s")).collect()[0]["s"]
    assert got == x.expect, (got, x.expect)


def _ring(x):
    # (i, i+1), (i, i+2) mod n close n triangles; pad edges' degree-1 ends close none
    base = x.spark.range(x.n)
    ring = [base.select(F.col("id").alias("u"), ((F.col("id") + k) % x.n).alias("v")) for k in (1, 2)]
    pad = x.spark.range(8 * x.n).select(
        F.expr(f"pmod(xxhash64(id), {x.n})").alias("u"), (F.col("id") + x.n).alias("v"))
    return x.cp(ring[0].unionByName(ring[1]).unionByName(pad))


def _triangles(x):
    n = graph.triangle_count(x.df).collect()[0]["n_triangles"]
    assert n == x.n, n


def _chain(x):
    # diameter n: label propagation needs n rounds, large/small-star O(log n)
    chain = x.spark.range(x.n - 1).select(F.col("id").alias("id_a"), (F.col("id") + 1).alias("id_b"))
    cliques = x.spark.range(x.cliques).select(
        (F.col("id") * 2 + x.n).alias("id_a"), (F.col("id") * 2 + x.n + 1).alias("id_b"))
    return x.cp(chain.unionByName(cliques))


def _star_cc(x):
    agg = dedup.connected_components_star(x.df).agg(
        F.countDistinct("comp").alias("n_comp"), F.count(F.lit(1)).alias("n_nodes")).collect()[0]
    assert agg.n_comp == 1 + x.cliques, agg
    assert agg.n_nodes == x.n + 2 * x.cliques, agg


def _pr_graph(x, plain: bool = False):
    edges = x.spark.range(x.n).select(
        (F.col("id") % x.nodes).alias("src"), ((F.col("id") * 2654435761 + 7) % x.nodes).alias("dst"))
    if plain:
        x.edges = edges = x.cp(edges)
    name = f"probe_pr_{x.scale.lower()}"
    d = x.tmpdir(f"{name}_")
    x.prep = graph.prepare_pagerank_edges(x.spark, edges, name, buckets=32, path=d)
    # DROP TABLE on a path-backed table leaves its files to the temp dir
    x.undo.append(lambda: x.spark.sql(f"DROP TABLE IF EXISTS {name}"))


def _pr_iters(x, iters: int, plain: bool = False):
    ranks = graph.pagerank(x.edges, iters=iters) if plain else graph.pagerank(x.prep, iters=iters, prepared=True)
    assert ranks.count() == x.nodes


def _pr_identical(x):
    a = graph.pagerank(x.edges, iters=3).orderBy("node").collect()
    b = graph.pagerank(x.prep, iters=3, prepared=True).orderBy("node").collect()
    assert [tuple(r) for r in a] == [tuple(r) for r in b], "rank mismatch"
    _emit("  prepared ranks bit-identical to plain: yes")


def _pr_mixed(x):
    n = x.nodes
    src = F.col("id").alias("src")
    x.df = x.cp(
        x.spark.range(n).select(src, ((F.col("id") * 7 + 1) % n).alias("dst"))
        .unionByName(x.spark.range(n).select(src, ((F.col("id") + 1) % n).alias("dst")))
        .unionByName(x.spark.range(8 * n).select(
            F.expr(f"pmod(xxhash64(id), {n})").alias("src"), F.expr(f"pmod(xxhash64(id + 13), {n})").alias("dst"))))


def _pr_ranks(x, durable=False):
    if durable and x.spark.sparkContext.getCheckpointDir() is None:
        x.checkpoint_dir("dfwb_durable_probe_")
    return sorted((r.node, round(r.rank, 9)) for r in graph.pagerank(x.df, iters=3).collect())


_VEC = "CAST(pmod(xxhash64(id * 64 + d), 2001) - 1000 AS DOUBLE) / 1000.0"
_NOISE = "CAST(pmod(xxhash64(id * 64 + d + 99991), 2001) - 1000 AS DOUBLE) / 4000.0"
_QIDS = list(range(8))


def _planted(x):
    # vector i + n/2 is a cosine~0.97 near-copy of vector i
    x.half = half = x.n // 2
    base = x.spark.range(half).select(
        F.col("id").alias("vec_id"), F.expr(f"transform(sequence(0, 63), d -> {_VEC})").alias("embedding"))
    noisy = x.spark.range(half).select(
        (F.col("id") + half).alias("vec_id"),
        F.expr(f"transform(sequence(0, 63), d -> {_VEC} + {_NOISE})").alias("embedding"))
    return x.cp(base.unionByName(noisy))


def _lsh(x):
    pairs = similarity.cosine_pairs_lsh(x.df, threshold=0.8, planes=x.planes, tables=16).collect()
    planted = sum(1 for r in pairs if r.id_b - r.id_a == x.half)
    extras = len(pairs) - planted
    assert planted >= 0.99 * x.half, (planted, x.half)
    # random 64-dim cosines >= 0.8 are ~6-sigma events; extras stay O(1)
    assert extras <= 100, extras
    x.stats = (planted, extras)


def _ann(x, method: str):
    c, q = x.df, _QIDS
    rows = {
        "bf": lambda: similarity.cosine_topk_bruteforce(c, query_ids=q, k=3),
        "ivf": lambda: similarity.ivf_topk(c, query_ids=q, k=3, n_centroids=x.cells, n_probe=4),
        "pq": lambda: similarity.pq_topk(c, query_ids=q, k=3, m_subspaces=8, n_codes=16, rerank=64),
    }[method]().collect()
    got = {}
    for r in rows:
        got.setdefault(r.query_id, set()).add(r.cand_id)
    for qid in q:  # every query's planted partner is in its top-3
        assert qid + x.half in got.get(qid, set()), (qid, sorted(got.get(qid, set())))


def _quantized(x):
    # 32-dim vectors in 8 planted clusters: id mod 8 lifts one dimension
    return x.rows(F.col("id").alias("vec_id"), F.expr(
        "transform(sequence(0, 31), d ->"
        " CAST(pmod(xxhash64(id * 37 + d), 2001) - 1000 AS DOUBLE) / 1000.0"
        " + CAST(pmod(id, 8) AS DOUBLE) * CASE WHEN d = pmod(id, 8) THEN 2.0 ELSE 0.0 END)").alias("embedding"))


def _kmeans(x):
    assigned, centroids = clustering.fit_kmeans(x.df, k=8, iters=2)
    agg = assigned.agg(F.count(F.lit(1)).alias("n"), F.countDistinct("cid").alias("k_used")).collect()[0]
    assert agg.n == x.n and agg.k_used >= 2, agg
    assert len(centroids) == 8


def _semdedup(x):
    out = clustering.semantic_dedup(x.df, k=8, iters=2, threshold=0.9).collect()
    assert sum(r["n_members"] for r in out) == x.n
    assert all(r["n_kept"] + r["n_dups"] == r["n_members"] for r in out)


def _rrf(x):
    q1, q2 = [F.array(*[F.lit((i * m) % 2001 - 1000).cast("long") for i in range(16)]) for m in (911, 389)]
    c = x.df.select("vec_id", similarity._dot(F.col("x"), q1).alias("s1"),
                    similarity._dot(F.col("x"), q2).alias("s2")).localCheckpoint(eager=True)
    r1 = scale.bucketed_rank(c, [], scale.equidepth_bucket(c, -F.col("s1")),
                             [F.col("s1").desc(), F.col("vec_id").asc()], rank_col="r1").localCheckpoint(eager=True)
    r2 = scale.bucketed_rank(r1, [], scale.equidepth_bucket(r1, -F.col("s2")),
                             [F.col("s2").desc(), F.col("vec_id").asc()], rank_col="r2")
    one = F.lit(1).cast("double")
    fused = (one / (F.lit(60) + F.col("r1")) + one / (F.lit(60) + F.col("r2"))).alias("rrf")
    top = r2.select("vec_id", "r1", "r2", fused).orderBy(
        F.col("rrf").desc(), F.col("vec_id").asc()).limit(10).collect()
    assert len(top) == 10 and top[0]["rrf"] >= top[-1]["rrf"]


_MH = dict(bands=8, rows_per_band=2, jaccard_threshold=0.5)
_SPANS = dict(span_len=20, top_k=50)


def _replicas(x, emit: bool = False):
    # token-disjoint replicas: a per-replica token suffix, so no shingle matches across them
    docs = table(x.spark, SF01, "documents").select("doc_id", "text")
    x.base_pairs = dedup.minhash_lsh_pairs(docs, **_MH).count()
    if emit:
        _emit(f"minhash corpus: {docs.count()} docs x {x.n} replicas, {x.base_pairs} pairs/replica")
    return x.cp(docs.crossJoin(x.spark.range(x.n).select(F.col("id").alias("rep"))).select(
        (F.col("doc_id") + F.col("rep") * 1_000_000).alias("doc_id"),
        F.regexp_replace("text", F.lit(r"([A-Za-z0-9]+)"), F.concat(F.lit("$1q"), F.col("rep").cast("string")))
        .alias("text")))


def _minhash(x):
    n = dedup.minhash_lsh_pairs(x.df, **_MH).count()
    # a pair with J < 1 is caught per replica with p = 1-(1-J^2)^bands: allow that
    expect = x.n * x.base_pairs
    assert abs(n - expect) <= max(2, 0.02 * expect), (n, expect)


def _docs(x):
    # deterministic ~60-token synthetic docs (doc_id, lang, text)
    words = ("the quick brown fox jumps over a lazy dog and then runs to "
             "data spark engine query shuffle partition broadcast join").split()
    arr = F.array(*[F.lit(w) for w in words])
    tokens = F.transform(F.sequence(F.lit(1), F.lit(60)), lambda i: F.element_at(
        arr, (F.pmod(F.xxhash64(F.col("id") * 31 + i), F.lit(len(words))) + 1).cast("int")))
    return x.rows(F.col("id").alias("doc_id"), F.lit("en").alias("lang"), F.array_join(tokens, " ").alias("text"))


def _textmap(x):
    out = optext.quality_scores(x.df).agg(F.count(F.lit(1)).alias("n"), F.avg("quality").alias("q")).collect()[0]
    assert out["n"] == x.n and 0.0 < out["q"] <= 1.0


def _langid(x, joins: bool):
    df = optext.language_id(x.df)
    if joins:
        # the pre-rewrite explode -> join -> 2 groupBys -> join-back formulation
        lex = [(lang, w) for lang, ws in optext.LANG_LEXICON.items() for w in ws]
        lexicon = x.spark.createDataFrame(lex, "lang_cand string, tok string")
        toks = x.df.select("doc_id", F.explode(optext.tokens_col()).alias("tok"))
        hits = toks.join(F.broadcast(lexicon), "tok").groupBy("doc_id", "lang_cand").agg(F.count("*").alias("hits"))
        best = hits.groupBy("doc_id").agg(
            F.expr("max_by(lang_cand, struct(hits, lang_cand))").alias("lang_pred"), F.max("hits").alias("best_hits"))
        df = x.df.select("doc_id").join(best, "doc_id", "left").select(
            F.coalesce("lang_pred", F.lit("und")).alias("lang_pred"),
            F.coalesce("best_hits", F.lit(0)).alias("best_hits"))
    rows = df.groupBy("lang_pred").agg(F.count(F.lit(1)).alias("n"), F.sum("best_hits").alias("h")).collect()
    return sorted((r["lang_pred"], r["n"], int(r["h"])) for r in rows)


_TOK_A = "regexp_extract_all(lower(text), '[a-z0-9]+', 0)"
_TOK_B = "filter(split(lower(text), '[^a-z0-9]+'), x -> x != '')"


def _tok_docs(x):
    # identical token arrays by construction; checked on real and synthetic docs
    x.df, x.base = _docs(x), None
    for what, df in (("real", table(x.spark, SF01, "documents")), ("synthetic", x.df)):
        n_diff = df.filter(F.expr(f"NOT ({_TOK_A} <=> {_TOK_B})")).count()
        assert n_diff == 0, f"{n_diff} {what} docs tokenize differently"
    x.base = _tok(x, _TOK_A)


def _tok(x, tok: str):
    # a quality_scores-shaped consumer, so the downstream HOF work is timed too
    stop = F.array([F.lit(w) for w in optext.LANG_LEXICON["en"]])
    staged = x.df.select(F.expr(tok).alias("__toks")).select(
        F.size("__toks").alias("__n_tok"),
        F.size(F.filter(F.col("__toks"), lambda t: F.array_contains(stop, t))).alias("__n_stop"))
    got = staged.agg(F.count(F.lit(1)).alias("n"), F.sum("__n_tok").alias("toks"),
                     F.sum("__n_stop").alias("stops")).collect()[0]
    assert x.base is None or got == x.base
    return got


_MARKER = "PLANTEDMARKERSPAN-20"


def _hex_docs(x):
    # ~290 md5-hex chars a doc (windows collide with p ~16^-20), a marker in every 10th
    assert len(_MARKER) == 20  # uppercase: disjoint from the hex context
    t = F.expr("array_join(transform(sequence(0, 8),"
               " b -> md5(concat(CAST(id AS STRING), ':', CAST(b AS STRING)))), '')")
    marked = F.concat(F.expr("substr(t, 1, 100)"), F.lit(_MARKER), F.expr("substr(t, 101, length(t))"))
    x.planted = x.n // 10  # ids 0, 10, ... — exact by construction
    return x.cp(x.spark.range(x.n).select(F.col("id").alias("doc_id"), t.alias("t")).select(
        "doc_id", F.when(F.col("doc_id") % 10 == 0, marked).otherwise(F.col("t")).alias("text")))


def _spans(x):
    rows = dedup.duplicated_spans(x.df, span_len=20, top_k=None).collect()
    got = {r.span: r for r in rows}
    m = got[_MARKER]
    assert m.n_occurrences == x.planted == m.n_docs
    # every OTHER duplicated span is a marker-overlap window
    assert all(any(c.isupper() or c == "-" for c in s) for s in got), [s for s in got if s.islower()][:5]
    x.n_spans = len(rows)


def _words(x):
    # 5-12 chars over 12 letters; every 10th gets a distance-1 partner ending in 'z'
    base = x.spark.range(x.n).select("id", F.concat(F.lit("w"), F.expr(
        "array_join(transform(sequence(1, CAST(pmod(xxhash64(id), 8) + 4 AS INT)),"
        " i -> chr(97 + CAST(pmod(xxhash64(id * 131 + i), 12) AS INT))), '')")).alias("w"))
    planted = base.filter(F.col("id") % 10 == 0).select(
        F.concat(F.expr("substr(w, 1, length(w) - 1)"), F.lit("z")).alias("w"))
    x.n_planted = planted.distinct().join(base.select("w").distinct(), "w", "left_anti").count()
    return x.cp(base.select("w").unionByName(planted).distinct())


def _editdist(x):
    got = similarity.editdist_join(x.df, max_dist=1).count()
    # base-base accidental pairs add on top: >= is the exact floor
    assert got >= x.n_planted, (got, x.n_planted)
    x.n_pairs = got


def _wide_docs(x, n: int):
    # unique md5 blocks: map-side combine cannot hide the true span volume
    md5s = F.transform(F.sequence(F.lit(1), F.lit(x.blocks)), lambda i: F.md5(
        F.concat(F.col("id").cast("string"), F.lit("-"), i.cast("string"))))
    return x.rows(F.col("id").alias("doc_id"), F.concat_ws("", md5s).alias("text"), n=n)


def _widerow_docs(x):
    # spans shuffle ~36x their corpus: the span shape gets a fifth of the docs
    x.df, x.span_docs = _wide_docs(x, x.n), _wide_docs(x, x.n // 5)
    x.corpus, x.span_corpus = x.n * x.blocks * 32, x.n // 5 * x.blocks * 32


def _digest_df(x):
    per_key = x.df.select(F.md5(F.encode("text", "UTF-8")).alias("key")).groupBy("key").agg(
        F.count(F.lit(1)).alias("n"))
    return per_key.agg(F.count(F.lit(1)).alias("n_payloads"), F.sum("n").alias("n_media"))


def _widerow_bytes(x):
    x.b_digest = _shuffle_bytes(_digest_df(x))
    x.b_span = _shuffle_bytes(dedup.duplicated_spans(x.span_docs, **_SPANS))
    _emit(f"  {x.width}: digest shuffle {x.b_digest:,} B ({100.0 * x.b_digest / x.corpus:.3f}% of "
          f"{x.corpus:,} B corpus); span shuffle {x.b_span:,} B ({x.b_span / x.span_corpus:.1f} B/char)")


def _widerow_contract(xs):
    nar, wid = xs
    res = [(x.width, x.b_digest, x.b_span) for x in xs]
    # digests: a bounded record a ROW, so fewer rows => fewer bytes, < 100 B a row
    assert wid.b_digest < nar.b_digest, res
    assert nar.b_digest < 100 * nar.n, res
    assert wid.b_digest < 100 * wid.n, res
    # spans: width-invariant shuffle per corpus byte
    ratio = (wid.b_span / wid.span_corpus) / (nar.b_span / nar.span_corpus)
    _emit(f"  span shuffle B/char ratio wide/narrow: {ratio:.2f} (contract [0.7, 1.4]); "
          f"digest bytes wide/narrow: {wid.b_digest / nar.b_digest:.2f} (contract < 1)")
    assert 0.7 <= ratio <= 1.4, res


def _megadoc_bytes(x):
    b, corpus = _shuffle_bytes(dedup.duplicated_spans(x.df, **_SPANS)), x.n * x.blocks * 32
    _emit(f"  {x.width}: {x.t[0]:.1f} s, span shuffle {b:,} B ({b / corpus:.1f} B/char)")
    x.b_per_char = b / corpus


def _megadoc_contract(xs):
    nar, mega = xs
    ratio_t, ratio_b = mega.t[0] / nar.t[0], mega.b_per_char / nar.b_per_char
    _emit(f"  megadoc wall ratio mega/narrow: {ratio_t:.2f} (contract < 3); "
          f"shuffle B/char ratio: {ratio_b:.2f} (contract [0.7, 1.4])")
    assert ratio_t < 3.0, (ratio_t, ratio_b)
    assert 0.7 <= ratio_b <= 1.4, (ratio_t, ratio_b)


def _clustered_docs(x):
    # the first 10% form 3-doc clusters of IDENTICAL text; the rest share no token
    n, i = x.n, F.col("id")
    k = F.when(i < n // 10, i - F.pmod(i, F.lit(3))).otherwise(i + n)
    words = F.transform(F.sequence(F.lit(1), F.lit(20)), lambda j: F.hex(F.xxhash64(k * 131 + j)))
    # a trailing partial group of 2 docs is still one component
    x.expect_clusters = (n - n // 10) + (n // 10 + 2) // 3
    return x.rows(i.alias("doc_id"), F.array_join(words, " ").alias("text"))


def _split_of(c):
    h = F.substring(F.md5(F.concat(c.cast("string"), F.lit("dfwb-split"))), 1, 8)
    return F.when(h < "cccccccc", F.lit("train")).when(h < "e6666666", F.lit("val")).otherwise(F.lit("test"))


def _cluster_split(x):
    pairs = dedup.ngram_jaccard_pairs(x.df, threshold=0.9, max_doc_freq=160).localCheckpoint()
    comps = dedup.connected_components(pairs).selectExpr("node AS doc_id", "comp AS cluster_id")
    assign = x.df.select("doc_id").join(comps, "doc_id", "left").withColumn(
        "rep", F.coalesce("cluster_id", "doc_id")).withColumn("split", _split_of(F.col("rep")))
    sides = [comps.select(F.col("doc_id").alias(f"id_{s}"), _split_of(F.col("cluster_id")).alias(f"s{s}"))
             for s in "ab"]
    leaked = (
        pairs.select("id_a", "id_b").join(sides[0], "id_a").join(sides[1], "id_b")
        .filter(F.col("sa") != F.col("sb")).agg(F.count(F.lit(1)).cast("long").alias("n_cross_split_pairs")))
    rows = assign.groupBy("split").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"), F.countDistinct("rep").cast("long").alias("n_clusters")
    ).crossJoin(F.broadcast(leaked)).collect()
    assert sum(r["n_docs"] for r in rows) == x.n, rows
    assert all(r["n_cross_split_pairs"] == 0 for r in rows), rows
    assert sum(r["n_clusters"] for r in rows) == x.expect_clusters, rows


def _multimodal(x):
    agg = multimodal.extract_features(x.df).agg(
        F.count(F.lit(1)).alias("n"), F.sum("n_bytes").alias("total_bytes")).collect()[0]
    assert agg.n == x.n and agg.total_bytes > x.n * 3000, agg


_HALF = [dict(n=40_000, planes=10, cells=32)]
_HALF_XL = [*_HALF, dict(n=400_000, planes=14, cells=96)]
_HALF_SMOKE = [dict(n=1_000, planes=6, cells=8), dict(n=2_000, planes=7, cells=12)]
_EXP = "  {} scaling exponent ({{0}} -> {{1}} {}): {{e:.2f}}".format

CASES = [
    # buckets track shuffle.partitions: <= 1.0 means no O(n^2) constant in them
    Case("pagerank_xl", _pr_graph, [Op(
        lambda x: f"pagerank 3 iters, prepared ({x.scale} edges, {x.nodes // 1000}k nodes)",
        lambda x: _pr_iters(x, 3), _EXP("pagerank prepared", "edges"))],
        [dict(n=10_000_000, nodes=500_000), dict(n=100_000_000, nodes=5_000_000)],
        [dict(n=20_000, nodes=2_000), dict(n=40_000, nodes=4_000)]),
    # one O(|V|) exchange a round; each round's checkpoint blocks are released
    Case("pagerank_deep", _pr_graph, [
        Op("pagerank 3 iters, prepared ({scale} edges)", lambda x: _pr_iters(x, 3)),
        Op("pagerank 10 iters, prepared ({scale} edges)", lambda x: _pr_iters(x, 10))],
        [dict(n=100_000_000, nodes=5_000_000)], [dict(n=20_000, nodes=2_000)], repeats=(2,),
        after=lambda x: _emit(f"  marginal cost per extra iteration: {(x.t[1] - x.t[0]) / 7:.2f} s")),
    # the adversarial chain at 10x: O(log n) more alternations expected
    Case("cc_chain_xl", _chain, [Op(
        lambda x: f"star CC, {x.scale}-node chain + {x.cliques // 1000}k cliques", _star_cc,
        _EXP("star CC", "chain"))],
        [dict(n=1_000_000, cliques=100_000), dict(n=10_000_000, cliques=1_000_000)],
        [dict(n=100, cliques=1_000), dict(n=200, cliques=2_000)]),
    # banded candidates are bucket-keyed: ~1.0 passes, all-pairs shows ~2.0
    Case("minhash_xl", _replicas, [Op(
        lambda x: f"minhash-LSH dedup ({x.scale} docs, {x.n * x.base_pairs} pairs)", _minhash,
        _EXP("minhash-LSH", "docs"))],
        [dict(scale="100k", n=20), dict(scale="1M", n=200)], [dict(scale="5k", n=1), dict(scale="10k", n=2)]),
    # planes is the occupancy knob: 10 at 40k and 14 at 400k keep ~30 vectors a bucket
    Case("embedding_xl", _planted, [Op(
        "hyperplane-LSH near-dup ({scale} x 64-dim, planes={planes})", _lsh, _EXP("embedding-LSH", "vectors"))],
        _HALF_XL, _HALF_SMOKE, after=lambda x: _emit(f"  planted found / extras @ {x.scale}: {x.stats}")),
    Case("semdedup_xl", _quantized, [Op(
        "SemDeDup prune ({scale} x 32-dim, k=8, tau=0.9)", _semdedup, _EXP("SemDeDup", "vectors"))],
        [500_000, 2_000_000], [2_000, 8_000]),
    Case("substring_xl", _hex_docs, [Op(
        "duplicated spans ({scale} docs x ~290 chars, 1 planted marker)", _spans, _EXP("substring-dedup", "docs"))],
        [30_000, 300_000], [1_000, 2_000],
        after=lambda x: _emit(f"  duplicated spans @ {x.scale}: {x.n_spans} (marker-overlap family)")),
    # row WIDTH 10x at constant corpus bytes
    Case("widerow", _widerow_docs, [
        Op(lambda x: f"widerow digest dedup, {x.width} x {x.n:,} docs", lambda x: _digest_df(x).collect()),
        Op(lambda x: f"widerow duplicated_spans, {x.width} x {x.n // 5:,} docs",
           lambda x: dedup.duplicated_spans(x.span_docs, **_SPANS).collect())],
        [dict(width="narrow 2k-char", n=100_000, blocks=62), dict(width="wide 20k-char", n=10_000, blocks=625)],
        [dict(width="narrow 2k-char", n=2_000, blocks=62), dict(width="wide 20k-char", n=200, blocks=625)],
        repeats=(3, 3), after=_widerow_bytes, finish=_widerow_contract),
    # 100x wider at constant bytes; >= 32 docs a width, so neither starves
    Case("megadoc", lambda x: _wide_docs(x, x.n), [Op(
        lambda x: f"megadoc duplicated_spans, {x.width} x {x.n:,} docs",
        lambda x: dedup.duplicated_spans(x.df, **_SPANS).collect())],
        [dict(width="narrow 20k-char", n=3200, blocks=625), dict(width="mega 2M-char", n=32, blocks=65536)],
        [dict(width="narrow 20k-char", n=64, blocks=64), dict(width="mega 2M-char", n=2, blocks=2048)],
        repeats=(3, 3), after=_megadoc_bytes, finish=_megadoc_contract),
    Case("clustersplit_xl", _clustered_docs, [Op(
        "cluster split composed (pairs+CC+assign+audit), {scale} docs", _cluster_split,
        "  clustersplit_xl 10x exponent: {e:.2f} (contract <= 1.1)")],
        [200_000, 2_000_000], [2_000, 20_000], repeats=(3, 3), max_exp=1.1),
    # the length-band blocking FastSS replaced measured quadratic here
    Case("editdist_xl", _words, [Op(
        "editdist FastSS join ({scale} words, d=1)", _editdist, _EXP("editdist FastSS", "words"))],
        [30_000, 300_000], [1_000, 2_000],
        after=lambda x: _emit(f"  pairs found @ {x.scale}: {x.n_pairs} (planted floor {x.n_planted})")),
    Case("interval_xl", _intervals, [Op(
        lambda x: f"interval join ({x.scale} events x {x.keys * _HOURS // 1000}k intervals)", _interval,
        _EXP("interval-join", "events"))],
        [dict(n=5_000_000, keys=1_000), dict(n=50_000_000, keys=1_000)],
        [dict(n=10_000, keys=10), dict(n=20_000, keys=10)]),
    # basket-keyed pairs: linear where an item-keyed self-join squares hot items
    Case("itemsets_xl", _baskets, [Op(
        "itemset pair join ({scale} baskets x 7 items)", _itemsets, _EXP("itemset pair-join", "baskets"))],
        [1_000_000, 10_000_000], [2_000, 4_000]),
    Case("tokenizer_ab", _tok_docs, [
        Op("tokenize A: regexp_extract_all ({scale} docs)", lambda x: _tok(x, _TOK_A)),
        Op("tokenize B: split+filter ({scale} docs)", lambda x: _tok(x, _TOK_B))], [2_000_000], [2_000],
        after=lambda x: _emit(f"  tokenizer A/B speedup: {x.t[0] / x.t[1]:.2f}x (adopt bar 1.3x)")),
    Case("triangles_xl", _ring, [Op(
        lambda x: f"triangle count ({x.scale} edges, {x.n // 1000}k nodes)", _triangles,
        _EXP("triangle-count", "edges"))],
        [dict(scale="2M", n=200_000), dict(scale="20M", n=2_000_000)],
        [dict(scale="20k", n=2_000), dict(scale="40k", n=4_000)]),
    Case("ann_xl", _planted, [
        Op("IVF top-3 ({scale}, {cells} cells)", lambda x: _ann(x, "ivf"), _EXP("IVF", "vectors")),
        Op("PQ-ADC top-3 ({scale})", lambda x: _ann(x, "pq"), _EXP("PQ-ADC", "vectors"))], _HALF_XL, _HALF_SMOKE),
    Case("asof_xl", _asof_input, [Op(
        lambda x: f"as-of join ({x.scale} left rows, {x.keys // 1000}k keys x 10 refs)", _asof,
        _EXP("as-of join", "rows"))],
        [dict(n=5_000_000, keys=100_000), dict(n=50_000_000, keys=1_000_000)],
        [dict(n=10_000, keys=1_000), dict(n=20_000, keys=2_000)]),
    # bucketed edges exchange only the O(|V|) rank table; ranks BIT-identical
    Case("pagerank_prepared", lambda x: _pr_graph(x, plain=True), [
        Op(lambda x: f"pagerank 3 iters, plain ({x.scale} edges, {x.nodes // 1000}k nodes)",
           lambda x: _pr_iters(x, 3, plain=True)),
        Op("pagerank 3 iters, prepared bucketed edges (same input)", lambda x: _pr_iters(x, 3))],
        [dict(n=10_000_000, nodes=500_000)], [dict(n=20_000, nodes=2_000)], sweep=True, after=_pr_identical),
    # broadcast off, ~120 B rows: the sketch's ~0.3 s lost at 20M narrow, 10M wide rows
    Case("bloom_join", _selective, [
        Op("selective join, plain SMJ ({scale} x ~120B fact, 1% dim)", lambda x: _selective_join(x, False)),
        Op("selective join, hash-prefiltered (same input)", lambda x: _selective_join(x, True))],
        [dict(n=40_000_000, keys=200_000)], [dict(n=20_000, keys=2_000)], sweep=True, after=_exchange_rows),
    Case("ols2", _ols, [Op("ols2 (10 decimal cross-moments, {scale} rows, 3 groups)", _ols_fit)], sweep=True),
    Case("survival", lambda x: x.rows(
        (F.col("id") % (x.n // 10)).alias("user_id"), _us(90).alias("us"),
        F.when(_hashed(2654435761, 50) == 0, "error").otherwise("view").alias("event_type")),
        [Op(lambda x: f"survival (KM over {x.scale} events / {_h(x.n // 10)} users)", _survival)], sweep=True),
    Case("changepoint", lambda x: x.rows(
        (F.col("id") % 5).cast("string").alias("event_type"), F.col("id").alias("event_id"),
        _us(90).alias("us"), _hashed(2654435761, 10000, 100.0).alias("value")), [
        Op("cusum naive per-type window ({scale} rows, 5 types)", lambda x: _cusum(x, False)),
        Op("cusum two-pass bucketed ({scale} rows, 5 types)", lambda x: _cusum(x, True))], sweep=True),
    # 1/16 NULL keys exercise the null-safe offset join
    Case("rank", lambda x: x.rows(
        F.when(F.col("id") % 16 == 0, F.lit(None)).otherwise((F.col("id") % 5).cast("string")).alias("k"),
        _hashed(2654435761, 1_000_000, 100.0).alias("v"), F.col("id")), [
        Op("per-key rank naive window ({scale} rows, 5 keys)", lambda x: _rank(x, False)),
        Op("per-key rank bucketed two-pass ({scale} rows, 5 keys)", lambda x: _rank(x, True))], sweep=True),
    Case("minhash", lambda x: _replicas(x, emit=True), [Op(
        lambda x: f"minhash-LSH dedup ({x.scale} docs, {x.n * x.base_pairs} verified pairs)", _minhash)],
        [dict(scale="100k", n=20)], [dict(scale="5k", n=1)], sweep=True),
    Case("embedding", _planted, [Op(
        lambda x: f"hyperplane-LSH embedding dedup ({x.scale} x 64-dim, {_h(x.half)} planted pairs)", _lsh)],
        _HALF, _HALF_SMOKE[:1], sweep=True, after=lambda x: _emit(f"planted found / extras: {x.stats}")),
    Case("ann", _planted, [
        Op("ANN brute-force exact top-3 ({scale} x 64-dim, 8 queries)", lambda x: _ann(x, "bf")),
        Op("ANN IVF top-3 ({cells} cells, probe 4)", lambda x: _ann(x, "ivf")),
        Op("ANN PQ-ADC top-3 (8 subspaces, 16 codes, re-rank 64)", lambda x: _ann(x, "pq"))],
        _HALF, _HALF_SMOKE[:1], sweep=True),
    Case("triangles", _ring, [Op(
        lambda x: f"triangle count, AQE-chosen joins ({x.scale} edges, {x.n // 1000}k nodes)", _triangles)],
        [dict(scale="2M", n=200_000)], [dict(scale="20k", n=2_000)], sweep=True),
    # not checkpointed: 100M rows exceed the 8 g driver's storage comfort
    Case("q1_100m", lambda x: x.spark.range(x.n).select(
        F.expr("element_at(array('A', 'N', 'R'), CAST(id % 3 + 1 AS INT))").alias("rf"),
        F.expr("element_at(array('F', 'O'), CAST(id % 2 + 1 AS INT))").alias("ls"),
        _hashed(2654435761, 5000, 100.0).alias("qty"), _hashed(40503, 100000, 100.0).alias("price"),
        _hashed(69069, 10, 100.0).alias("disc"), _hashed(12345, 8, 100.0).alias("tax")),
        [Op("TPC-H Q1 shape, {scale} rows -> 6 groups (4 decimal measures)", _q1)],
        [100_000_000], [100_000], sweep=True),
    Case("ntile", _users, [
        Op("global ntile(5), one sort task ({scale} rows)", lambda x: _ntile(x, False)),
        Op("bucketed rank + arithmetic ntile ({scale} rows)", lambda x: _ntile(x, True))], sweep=True, agree=True),
    # uncut won ~3x: a lazy chain is ONE action reusing its exchanges (cf. rrf)
    Case("rfm_chain", lambda x: _users(x, _hashed(40503, 730).alias("m2"), _hashed(69069, 5_000).alias("m3")), [
        Op("3 chained bucketed ranks, uncut lineage ({scale} rows)", lambda x: _rank_chain(x, cut=False)),
        Op("3 chained bucketed ranks, checkpoint between ({scale} rows)", lambda x: _rank_chain(x, cut=True))],
        sweep=True, agree=True),
    Case("session", lambda x: x.rows(
        (F.col("id") % (x.n // 10)).alias("user_id"), F.timestamp_micros(_us(30)).alias("ts"),
        _hashed(2654435761, 10_000, 100.0).alias("value")),
        [Op(lambda x: f"session_window sessionization ({x.scale} events, {_h(x.n // 10)} users)", _session)],
        sweep=True),
    Case("profile", lambda x: x.rows(
        _hashed(2654435761, 1_000_000, 100.0).alias("a"),
        F.when(F.col("id") % 97 == 0, None).otherwise(_hashed(40503, 50_000)).cast("double").alias("b"),
        _hashed(69069, 365).cast("double").alias("c"),
        F.expr("CAST(pmod(xxhash64(id), 1000000) AS DOUBLE) / 7.0").alias("d")), [
        Op("column profile, exact countDistinct ({scale} rows x 4 cols)", lambda x: _profile(x, True)),
        Op("column profile, HLL mode (same input)", lambda x: _profile(x, False))], sweep=True),
    Case("textmap", _docs, [Op("text quality map path ({scale} x ~60-token docs, codegen-only)", _textmap)],
         [2_000_000], [2_000], sweep=True),
    Case("langid", _docs, [
        Op("langid pure-map argmax ({scale} docs)", lambda x: _langid(x, False)),
        Op("langid explode+join formulation (same input)", lambda x: _langid(x, True))],
        [2_000_000], [2_000], sweep=True, agree=True),
    Case("pack", lambda x: x.rows(
        F.col("id").alias("doc_id"), (F.col("id") % 8).alias("shard"),
        (F.expr("pmod(xxhash64(id * 19), 120)") + 1).alias("n_tokens")), [
        Op("packing offsets, naive per-shard window ({scale} docs, 8 shards)", lambda x: _pack(x, False)),
        Op("packing offsets, bucketed prefix sum (same input)", lambda x: _pack(x, True))], sweep=True, agree=True),
    Case("join_100m", lambda x: x.spark.range(x.n).select(
        (F.col("id") % 25).alias("nk"), _hashed(2654435761, 10000, 100.0).alias("v")),
        [Op("fact join broadcast dim, {scale} rows -> 25 groups", _star_join)], [100_000_000], [100_000], sweep=True),
    # same ranks: the delta is the per-round storage round-trip
    Case("durable", _pr_mixed, [
        Op("pagerank {scale} edges, localCheckpoint cuts (3 rounds)", _pr_ranks),
        Op("pagerank {scale} edges, durable storage checkpoints", lambda x: _pr_ranks(x, durable=True))],
        [dict(scale="2M", n=2_000_000, nodes=200_000)], [dict(scale="20k", n=20_000, nodes=2_000)],
        sweep=True, agree=True),
    Case("cc_chain", _chain, [Op(
        lambda x: f"connected components, {x.scale}-node chain + {x.cliques // 1000}k cliques (star variant)",
        _star_cc)], [dict(n=1_000_000, cliques=500_000)], [dict(n=100, cliques=1_000)], sweep=True),
    # slice A is shifted +0.01, so D is genuinely nonzero
    Case("ks", lambda x: x.rows((F.col("id") % 2 == 0).alias("is_a"), (
        _hashed(2654435761, 100003).cast("double") / 100003.0 + F.when(F.col("id") % 2 == 0, 0.01).otherwise(0.0)
    ).alias("score")), [Op("exact two-sample KS ({scale} rows, ~200k distinct scores)", _ks)], sweep=True),
    Case("rrf", lambda x: x.rows(F.col("id").alias("vec_id"), F.expr(
        "transform(sequence(0, 15), d -> CAST(pmod(xxhash64(id * 53 + d), 2001) - 1000 AS BIGINT))").alias("x")),
        [Op("RRF fusion ({scale} x 16-dim, two bucketed global ranks)", _rrf)], [1_000_000], [10_000], sweep=True),
    Case("semdedup", _quantized, [Op("SemDeDup prune ({scale} x 32-dim, k=8, tau=0.9)", _semdedup)],
         [500_000], [2_000], sweep=True),
    Case("kmeans", _quantized, [Op("k-means fit, {scale} x 32-dim, k=8, 2 iterations", _kmeans)],
         [500_000], [2_000], sweep=True),
    # ~3.7 KB binary payloads; the STUB decoder stands in for PIL/ffmpeg
    Case("multimodal", lambda x: x.rows(
        F.col("id").alias("doc_id"),
        F.encode(F.expr("repeat(concat('payload-', CAST(id AS STRING), '-'), 256)"), "UTF-8").alias("media"),
        F.struct(F.when(F.col("id") % 2 == 0, F.lit("png")).otherwise(F.lit("jpeg")).alias("format"),
                 F.lit(5000).cast("bigint").alias("declared_len")).alias("meta")), [Op(
        lambda x: f"multimodal decode plumbing, {x.scale} x ~3.7KB payloads (~{x.n * 37 // 10_000}MB)",
        _multimodal)], [200_000], [5_000], sweep=True),
]


def main(argv: list[str]) -> int:
    ids = [c.id for c in CASES]
    if unknown := sorted(set(argv) - set(ids)):
        print(f"unknown probe id(s): {' '.join(unknown)}\nvalid ids: {' '.join(ids)}", file=sys.stderr)
        return 2
    which = set(argv) or {c.id for c in CASES if c.sweep}
    # no \r progress fragments on stdout: result lines must survive pipes
    spark = get_spark("dfwb-scale-probe", extra_conf={"spark.ui.showConsoleProgress": "false"})
    _emit(f"probe log: {_PROBE_LOG} (probes: {sorted(which)})")
    for case in CASES:
        if case.id in which:
            run_case(spark, case)
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
