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


def _spy_on_cuts(spark, monkeypatch) -> list[tuple[str, str, bool]]:
    """Record (kind, module, RDD locally checkpointed) for every cut made."""
    cls, seen = type(spark.range(1)), []
    for kind in ("localCheckpoint", "checkpoint"):

        def spy(df, *args, _real=getattr(cls, kind), _kind=kind, **kwargs):
            out = _real(df, *args, **kwargs)
            rdd = out._jdf.queryExecution().analyzed().rdd()
            seen.append((_kind, _cutting_module(), rdd.isLocallyCheckpointed()))
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
        assert {m for _, m, _ in seen} >= {module}, (qid, seen)
        assert all(k == "localCheckpoint" and lc for k, _, lc in seen), (qid, seen)

    with checkpoint_dir(spark, tmp_path / "ck") as ck:
        ck = ck.removeprefix("file:")
        for module, qid in CUTTING_IDS.items():
            del seen[:]
            before = set(os.listdir(ck))
            assert _rows(registry[qid].spark_fn(spark, sf_dir)) == local[qid], qid
            assert {m for _, m, _ in seen} >= {module}, (qid, seen)
            assert all(k == "checkpoint" and not lc for k, _, lc in seen), (qid, seen)
            assert set(os.listdir(ck)) > before, f"{qid}: no checkpoint files written"
    assert spark.sparkContext.getCheckpointDir() is None


def test_write_bucketed_under_a_checkpoint_dir(spark, tmp_path, monkeypatch):
    """VERDICT r13 #3: the layout barrier honours the session dir and
    keeps one file per bucket on a union-fed input (the 288-file trap),
    the bucketed join plans no exchange, and ``release`` leaves the
    durable cut readable."""
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
            assert not c._jdf.queryExecution().analyzed().rdd().isLocallyCheckpointed()
            assert c.count() == 6000  # released, yet still readable from its files
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
