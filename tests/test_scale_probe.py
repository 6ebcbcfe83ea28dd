"""The scale-probe cases (tools_scale_probe.py), each run once at the
smoke size it declares, through the same ``run_case`` call the CLI
makes, so every case's invariant asserts run on every test pass."""

from __future__ import annotations

import os
import subprocess
import sys

import pytest

import tools_scale_probe as probe

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

SWEEP = {
    "ols2", "survival", "changepoint", "rank", "minhash", "embedding", "ann", "triangles", "q1_100m",
    "ntile", "join_100m", "durable", "cc_chain", "kmeans", "multimodal", "pagerank_prepared",
    "bloom_join", "ks", "rrf", "semdedup", "rfm_chain", "session", "profile", "textmap", "langid", "pack",
}
OPT_IN = {
    "pagerank_xl", "pagerank_deep", "cc_chain_xl", "minhash_xl", "embedding_xl", "semdedup_xl",
    "substring_xl", "widerow", "megadoc", "clustersplit_xl", "editdist_xl", "interval_xl",
    "itemsets_xl", "tokenizer_ab", "triangles_xl", "ann_xl", "asof_xl",
}


def test_case_table():
    ids = [c.id for c in probe.CASES]
    assert len(ids) == len(set(ids)) == 43
    assert {c.id for c in probe.CASES if c.sweep} == SWEEP
    assert set(ids) == SWEEP | OPT_IN
    for c in probe.CASES:
        assert len(c.sizes) == len(c.smoke) in (1, 2), c.id
        # an exponent needs two sizes; two sizes report one
        assert any(op.exp for op in c.ops) == (len(c.sizes) == 2) or c.finish, c.id


@pytest.mark.parametrize("case", probe.CASES, ids=lambda c: c.id)
def test_case_smoke(spark, case, tmp_path, monkeypatch):
    monkeypatch.setattr(probe, "_PROBE_LOG", str(tmp_path / "probe_log.txt"))
    ckdir = spark.sparkContext.getCheckpointDir()
    xs = probe.run_case(spark, case, smoke=True)
    assert spark.sparkContext.getCheckpointDir() == ckdir  # no case leaks its dir
    assert [len(x.t) for x in xs] == [len(case.ops)] * len(case.smoke)
    assert all(t > 0 for x in xs for t in x.t)
    assert (tmp_path / "probe_log.txt").read_text().count("warm median") == len(case.ops) * len(xs)


def test_unknown_id_fails_and_lists_valid_ids():
    r = subprocess.run(
        [sys.executable, os.path.join(ROOT, "tools_scale_probe.py"), "pagerank_x"],
        capture_output=True, text=True, timeout=300,
    )
    assert r.returncode != 0
    assert "pagerank_x" in r.stderr and "pagerank_xl" in r.stderr and "multimodal" in r.stderr
    assert "probe log" not in r.stdout  # no session started, nothing ran
