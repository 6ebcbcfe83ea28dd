"""The session's checkpoint dir picks every lineage cut in the package.

``operators/checkpoint.cut`` makes a localCheckpoint when the
SparkContext has no checkpoint dir and a reliable checkpoint when it
has one. These tests run one cutting entry point per module both ways
and demand the same rows, the right kind of cut, and checkpoint files
written only under a dir; ``write_bucketed`` keeps its one-file-per-
bucket layout under durable cuts.
"""

from __future__ import annotations

import glob
import os
import sys

from pyspark.sql import functions as F

from datafusion_wasm_bindings_spark.queries import load_all
from tests.conftest import checkpoint_dir

PKG = "datafusion_wasm_bindings_spark."

# one registry id per module with a lineage cut, each reaching it at sf0.001
CUTTING_IDS = {
    "queries.analytics2": "q_events_rfm",
    "queries.analytics3": "q_stats_chi2",
    "queries.analytics4": "q_sales_pareto",
    "queries.analytics5": "q_ml_auc",
    "queries.extensions": "q_text_confusion",
    "queries.flagship2": "q_tpch_q15",
    "operators.clustering": "q_cluster_quality",
    "operators.similarity": "q_dedup_embedding",
    "operators.dedup": "q_dedup_minhash",
    "operators.graph": "q_graph_pagerank",
    "operators.scale": "q_join_bucketed",
    "plans.recursive": "q_recursive_cte_loop",
    "streaming.events": "q_stream_upsert",
}


def _cutting_module() -> str:
    """The package module whose barrier asked for the cut being made."""
    f = sys._getframe(2)
    while f is not None:
        name = f.f_globals.get("__name__", "")
        if name.startswith(PKG) and name != PKG + "operators.checkpoint":
            return name[len(PKG):]
        f = f.f_back
    return "?"


def _spy_on_cuts(spark, monkeypatch) -> list[tuple[str, str, bool, str | None]]:
    """Record (kind, module, RDD locally checkpointed, checkpoint files
    on disk when cut or None) for every cut made."""
    cls, seen = type(spark.range(1)), []
    for kind in ("localCheckpoint", "checkpoint"):

        def spy(df, *args, _real=getattr(cls, kind), _kind=kind, **kwargs):
            out = _real(df, *args, **kwargs)
            rdd = out._jdf.queryExecution().analyzed().rdd()
            f = rdd.getCheckpointFile()
            f = f.get() if f.isDefined() and os.path.isdir(f.get().removeprefix("file:")) else None
            seen.append((_kind, _cutting_module(), rdd.isLocallyCheckpointed(), f))
            return out

        monkeypatch.setattr(cls, kind, spy)
    return seen


def _rows(df) -> list[str]:
    return sorted(repr(tuple(r)) for r in df.collect())


def test_every_barrier_cuts_by_the_session_checkpoint_dir(spark, sf_dir, tmp_path, monkeypatch):
    registry = load_all()
    seen = _spy_on_cuts(spark, monkeypatch)
    local = {}
    for module, qid in CUTTING_IDS.items():
        del seen[:]
        local[qid] = _rows(registry[qid].spark_fn(spark, sf_dir))
        assert {m for _, m, _, _ in seen} >= {module}, (qid, seen)
        assert all(k == "localCheckpoint" and lc and f is None for k, _, lc, f in seen), (qid, seen)

    with checkpoint_dir(spark, tmp_path / "ck") as ck:
        for module, qid in CUTTING_IDS.items():
            del seen[:]
            assert _rows(registry[qid].spark_fn(spark, sf_dir)) == local[qid], qid
            assert {m for _, m, _, _ in seen} >= {module}, (qid, seen)
            assert all(k == "checkpoint" and not lc for k, _, lc, _ in seen), (qid, seen)
            # every cut wrote its files under the session dir (spent
            # ones are deleted again by release)
            assert all(f and f.startswith(ck + "/") for _, _, _, f in seen), (qid, seen)
    assert spark.sparkContext.getCheckpointDir() is None


def test_write_bucketed_under_a_checkpoint_dir(spark, tmp_path, monkeypatch):
    """VERDICT r13 #3: the layout barrier honours the session dir and
    keeps one file per bucket on a union-fed input (the 288-file trap),
    the bucketed join plans no exchange, and ``release`` deletes the
    spent durable cut's files."""
    from datafusion_wasm_bindings_spark.operators import scale

    cuts, real_cut = [], scale.cut
    monkeypatch.setattr(scale, "cut", lambda df: cuts.append(real_cut(df)) or cuts[-1])
    half = spark.range(3000).select((F.col("id") % 97).alias("k"), F.col("id").alias("v"))
    with checkpoint_dir(spark, tmp_path / "ck"):
        for name in ("ckpt_bkt_l", "ckpt_bkt_r"):
            scale.write_bucketed(
                half.union(half.withColumn("v", -F.col("v"))), name, "k",
                buckets=4, path=str(tmp_path / name),
            )
            assert len(glob.glob(str(tmp_path / name / "*.parquet"))) == 4, name
    try:
        assert len(cuts) == 2
        for c in cuts:
            rdd = c._jdf.queryExecution().analyzed().rdd()
            assert not rdd.isLocallyCheckpointed()
            assert not os.path.exists(rdd.getCheckpointFile().get().removeprefix("file:"))
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        joined = scale.bucketed_join(spark, "ckpt_bkt_l", "ckpt_bkt_r", "k")
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "SortMergeJoin" in plan and "Exchange" not in plan, plan
        # 3000 ids over 97 keys: 31 a key below 90, 30 above; each side holds them twice
        assert joined.count() == sum((2 * (31 if k < 90 else 30)) ** 2 for k in range(97))
    finally:
        spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
        spark.sql("DROP TABLE IF EXISTS ckpt_bkt_l")
        spark.sql("DROP TABLE IF EXISTS ckpt_bkt_r")


def _cut_files_read(df) -> set[str]:
    """The rdd-* dirs of the durable cuts ``df``'s plan reads."""
    leaves, out = df._jdf.queryExecution().analyzed().collectLeaves(), set()
    for i in range(leaves.size()):
        leaf = leaves.apply(i)
        if leaf.getClass().getSimpleName() == "LogicalRDD":
            f = leaf.rdd().getCheckpointFile()
            if f.isDefined():
                out.add(os.path.basename(f.get()))
    return out


def test_release_deletes_spent_durable_cuts(spark, sf_dir, tmp_path):
    """Under a checkpoint dir, the rdd-* dirs an iterative operator
    leaves are exactly those its result still reads: ``release``
    deletes every spent round's files, so their number does not grow
    with the number of rounds."""
    from datafusion_wasm_bindings_spark.operators.dedup import connected_components
    from datafusion_wasm_bindings_spark.operators.graph import pagerank

    registry = load_all()
    edges = spark.createDataFrame(
        [(i, (i * 7 + 1) % 20) for i in range(20)] + [(i, (i + 1) % 20) for i in range(20)],
        "src long, dst long",
    )

    def chain(n):  # min-label propagation needs ~n rounds on an n-node path
        return spark.createDataFrame([(i, i + 1) for i in range(n)], "id_a long, id_b long")

    runs = {
        "q_graph_pagerank": lambda: registry["q_graph_pagerank"].spark_fn(spark, sf_dir),
        "q_dedup_clusters": lambda: registry["q_dedup_clusters"].spark_fn(spark, sf_dir),
        "pagerank 2 rounds": lambda: pagerank(edges, iters=2),
        "pagerank 6 rounds": lambda: pagerank(edges, iters=6),
        "min-label CC, 3-edge chain": lambda: connected_components(chain(3)),
        "min-label CC, 12-edge chain": lambda: connected_components(chain(12)),
    }
    left = {}
    with checkpoint_dir(spark, tmp_path / "ck") as ck:
        ck = ck.removeprefix("file:")
        for name, run in runs.items():
            before = set(os.listdir(ck))
            out = run()
            left[name] = set(os.listdir(ck)) - before
            assert left[name] == _cut_files_read(out), name
            assert left[name] and all(d.startswith("rdd-") for d in left[name]), name
            out.collect()  # the kept files still serve the result
    assert len(left["pagerank 2 rounds"]) == len(left["pagerank 6 rounds"]), left
    assert len(left["min-label CC, 3-edge chain"]) == len(left["min-label CC, 12-edge chain"]), left
