"""Adversarial NULL-replay regression (tools_adversarial_replay.py).

The full registry replay runs out-of-band (`python
tools_adversarial_replay.py`); this test keeps a SENTINEL subset in the
suite — one id per divergence class the r5 campaign fixed — so a
regression in any class fails CI without paying the full-registry cost.

Both engines read the SAME seeded NULL-mutated parquet, so any
disagreement is a genuine cross-engine semantics divergence in the
query/oracle pair, not a data difference.
"""

from __future__ import annotations

import os

import pytest

from tools_adversarial_replay import build_mode_dir
from tools_driver_sim import canon, oracle_connection, simulate

# one id per fixed divergence class (see the r5 NULL-hardening commits)
SENTINELS = [
    "q_clean_winsorize",        # k-th order statistic over NULLs
    "q_fn_string_basic",        # concat NULL semantics (skip vs propagate)
    "q_fn_argminmax",           # arg_max NULL-arg skip asymmetry
    "q_events_tumbling",        # event-time window drops NULL ts
    "q_join_asof",              # ASOF NULL-ts forward-fill / +inf probe
    "q_profile_fk",             # NOT IN + nullable subquery trap
    "q_tpch_q12",               # CASE ELSE bucket counting NULLs
    "q_events_ewma",            # window-before-WHERE vs filter-after
    "q_pipeline_manifest",      # '<NULL>' sentinel signatures
    "q_stats_kappa",            # Spark element_at NULL-index bug (F.get)
    "q_win_distinct_running",   # NULL-group offset join-back (nsjoin)
    "q_cluster_kmeans",         # NULL-vec_id pseudo-vector merge
]

# one id per divergence class the r6 DUPES campaign fixed (re-keyed
# duplicate content stresses tie-breaks and fixture-cache identity)
DUPE_SENTINELS = [
    "q_agg_order_within",       # ordered-agg peers under dup/NULL keys
    "q_fn_string_agg",          # same class, all-NULL-name group '' vs NULL
    "q_scan_arrow",             # content-stamped fixture cache (stale copy)
]

# one id per divergence class the r6 EXTREMES campaign fixed (boundary
# values in non-key columns: zeros, signs, unicode, epoch edges, zero
# vectors — CLAUDE.md r6 extremes conventions a-g)
EXTREME_SENTINELS = [
    "q_events_outliers",        # try_divide + greatest(var, 0) clamp (a)
    "q_fn_math_basic",          # sqrt domain guard + signed-zero round (b, e)
    "q_events_props_json",      # json_valid oracle guard (c)
    "q_ml_ks_drift",            # TRY_CAST of hostile numeric strings (b)
    "q_sim_topk",               # nonzero-quantized-norm cosine population (d)
    "q_dedup_minhash",          # zero-token docs have zero shingles (d)
    "q_fn_datetime_convert",    # truncating epoch-micros division (e)
    "q_fn_approx_median",       # rank-epsilon sketch contract (f)
    "q_multimodal_features",    # '?'-sanitized stub payload, CHAR = BYTE (g)
    "q_sim_pq_topk",            # zero-norm rows routed around ADC shortlist
                                # (r7 fix of the r6 waiver, VERDICT r6 #3)
    "q_fn_url_parse",           # slug-sanitized URL path segment: raw
                                # hostile chars made parse_url abort
                                # (r8 pool re-cycle finding)
]

# one id per divergence class the r7 EMPTY campaign fixed (zero-row
# tables: the filter-pruned-partition / empty-ingest-batch shape —
# 28 divergences found, 25 fixed + 3 grouping-sets engine waivers)
EMPTY_SENTINELS = [
    "q_profile_expectations",   # SUM over empty table: NULL vs the oracle's 0
    "q_scale_hll_shards",       # zero shard groups: coalesced count + vacuous tolerance
    "q_stats_kappa",            # undefined stat: 1 all-NULL global-agg row dropped
    "q_sim_pq_topk",            # pq_index dim probe on empty corpus (first() is None)
    "q_cluster_kmeans",         # zero seeds: typed empty assignment, no array_min(array())
    "q_scan_partitioned",       # schema-on-read of a zero-partition sink
    "q_scan_json",              # explicit NDJSON schema (inference has no rows to sample)
    "q_scan_csv",               # oracle TRY_CAST vs header-only all-VARCHAR inference
]


# the r9 COMPOSED skew+extremes axis (34 convention-pinning ids at
# BOTH source scales, 0 FAIL on first run) — each sentinel crosses the
# two axes: huge tie groups WHOSE PEERS carry boundary values
SKEWEX_SENTINELS = [
    "q_win_rows_frame",         # totally-ordered ROWS frame under a
                                # tie mass of extremes-injected values
    "q_tpch_q16",               # NOT-IN/NULL population class under
                                # hot keys + hostile strings
    "q_events_rfm",             # 3-rank bucketed chain: bucket balance
                                # under point mass + boundary values
    "q_ml_ks_drift",            # r9 try_cast whitelist guard under
                                # hostile source strings + skewed lang
    "q_sim_pq_topk",            # zero-vector point mass through the
                                # ADC shortlist rerank routing
    "q_tpch_q2",                # the composition-ONLY class the full
                                # r9 campaign found: a runtime filter
                                # (broadcast join on l_partkey) masked
                                # extremes' zero divisors until skew's
                                # hot key routed them through — fixed
                                # with try_divide (r6 conv a)
    "q_sales_yoy",              # same class, lag-window flavor: a
                                # hostile year's revenue sums to
                                # exactly zero under the composed axes
    "q_events_attribution",     # r11 sf0.01-source find: first/last_
                                # value frames READ event_type, which
                                # was missing from the (ts, event_id)
                                # ordering — two NULL-event_id rows at
                                # one (user_id, ts) made Spark's peer
                                # order RUN-nondeterministic (the
                                # q_events_markov lead/lag class,
                                # extended to the value-fn family)
]

# the r8 SKEW campaign (hot-key point mass on join/group keys +
# categoricals, ~50% of rows on one existing value): 287 ids ran at
# both source scales, TWO divergences total (q_win_rows_frame at
# sf0.001; q_tpch_q16 only at the sf0.01 source, where the NULL
# subquery-key draw becomes likely) — five rounds of total-ordering
# conventions held everywhere else. The fixed classes plus two ids
# whose 100 TB regime is exactly what skew stresses (AQE skew-split
# salted join, the bucketed-rank chain under unbalanced buckets).
SKEW_SENTINELS = [
    "q_win_rows_frame",         # ROWS frame peers under a 50% tie mass:
                                # ordering now total over the consumed
                                # value (l_quantity), r5 conv (a)
    "q_tpch_q16",               # NOT IN + nullable subquery key AND
                                # NULL probe keys (r5 conv (b)/(c)) —
                                # only observable at the sf0.01 source
    "q_join_salted",            # salting is the skew remedy — keep its
                                # value identity pinned under real skew
    "q_events_rfm",             # 3-rank bucketed chain: bucket balance
                                # shifts under a dominant user_id
]


@pytest.fixture(scope="module")
def adv_dir():
    return build_mode_dir("nulls")


@pytest.fixture(scope="module")
def adv_duck(adv_dir):
    con = oracle_connection(adv_dir)
    yield con
    con.close()


def test_sentinel_queries_survive_null_injection(spark, adv_dir, adv_duck):
    from datafusion_wasm_bindings_spark.queries import load_all
    from datafusion_wasm_bindings_spark.queries.sources_q import _ensure_text_fixtures

    _ensure_text_fixtures(adv_dir)
    registry = load_all()
    todo = [(n, registry[n]) for n in SENTINELS]
    results = simulate(todo, spark, adv_duck, adv_dir, relaxed=True)
    bad = {k: v for k, v in results.items() if not v["ok"]}
    assert not bad, f"adversarial NULL replay regressions: {bad}"


def _mode_sentinel_check(spark, mode: str, ids: list[str]) -> None:
    from datafusion_wasm_bindings_spark.queries import load_all
    from datafusion_wasm_bindings_spark.queries.sources_q import _ensure_text_fixtures

    mode_dir = build_mode_dir(mode)
    _ensure_text_fixtures(mode_dir)
    con = oracle_connection(mode_dir)
    try:
        registry = load_all()
        todo = [(n, registry[n]) for n in ids]
        results = simulate(todo, spark, con, mode_dir, relaxed=True)
        bad = {k: v for k, v in results.items() if not v["ok"]}
        assert not bad, f"adversarial {mode} replay regressions: {bad}"
    finally:
        con.close()


def test_sentinel_queries_survive_dupe_injection(spark):
    _mode_sentinel_check(spark, "dupes", DUPE_SENTINELS)


def test_sentinel_queries_survive_extreme_injection(spark):
    _mode_sentinel_check(spark, "extremes", EXTREME_SENTINELS)


def test_sentinel_queries_survive_empty_tables(spark):
    _mode_sentinel_check(spark, "empty", EMPTY_SENTINELS)


def test_sentinel_queries_survive_skew_point_mass(spark):
    _mode_sentinel_check(spark, "skew", SKEW_SENTINELS)


def test_sentinel_queries_survive_composed_skew_extremes(spark):
    _mode_sentinel_check(spark, "skewex", SKEWEX_SENTINELS)


# plan-perturbation stability sentinels (r11, tools_stability.py): the
# positionally-consuming window/value-fn family whose output would leak
# Spark's physical peer order if any consumed column ever left the
# window ordering again. q_events_attribution is the live precedent —
# its campaign FAIL flapped (an identical re-run passed), which is why
# this check perturbs the partitioning instead of waiting for a draw.
STABILITY_SENTINELS = [
    "q_events_attribution",  # first/last_value frames (the r11 find)
    "q_events_markov",       # lead(event_type) (the r9 find)
    "q_pipeline_scd2",       # lag/lead validity chain (the r9 find)
    "q_win_rows_frame",      # ROWS frame sum (the r8 find)
    "q_win_value_fns",       # first/last/nth_value over supplier
]


def test_stability_tool_honors_mode_scoped_waivers():
    """tools_stability's waiver resolution: a hostile mutation dir
    source inherits the replay campaign's mode-scoped waivers (a query
    that deterministically aborts on that dir's data errors identically
    at every partitioning — documented waiver, not instability); a
    benign fixture source inherits nothing."""
    from tools_stability import resolve_waiver

    abort = {"stable": False, "err": "SparkException: TASK_WRITE_FAILED"}
    assert resolve_waiver(
        "/tmp/dfwb_adversarial/skewex.2a8f1ec1", "q_scan_partitioned", abort
    ), "skewex dir must resolve the standing dirname waiver"
    assert (
        resolve_waiver("/tmp/dfwb_adversarial/skewex.2a8f1ec1", "q_join_inner", abort)
        is None
    )
    assert resolve_waiver("/root/testdata/sf0.1", "q_scan_partitioned", abort) is None


def test_stability_waiver_covers_aborts_not_variant_output():
    """ADVICE r11: a mode waiver documents a deterministic ABORT ('err'
    record). The same id producing partition-VARIANT output ('detail'
    record, no 'err') is a real finding and must NOT be waived. And the
    unscoped EXCLUDED fallback is gone: waivers never leak across modes."""
    from tools_adversarial_replay import EXCLUDED
    from tools_stability import resolve_waiver

    src = "/tmp/dfwb_adversarial/skewex.2a8f1ec1"
    abort = {"stable": False, "err": "AnalysisException: dirname too long"}
    variant = {"stable": False, "detail": "variant under: ['shuffle7']"}
    assert resolve_waiver(src, "q_scan_partitioned", abort)
    assert resolve_waiver(src, "q_scan_partitioned", variant) is None
    # an unscoped key must not resolve for any mode dir (no fallback)
    EXCLUDED["q_totally_unscoped"] = "should never fire"
    try:
        assert resolve_waiver(src, "q_totally_unscoped", abort) is None
    finally:
        del EXCLUDED["q_totally_unscoped"]


def test_stability_default_source_is_the_current_skewex_dir(monkeypatch, tmp_path):
    """With SPARK_GRAFT_STAB_SRC unset, the sweep reads the skewex dir of
    the CURRENT replay config, not whichever cached skewex dir's
    fingerprint sorts last (a dir left by a campaign against another
    SPARK_GRAFT_ADV_SRC, say)."""
    import tools_adversarial_replay as adv
    from tools_stability import source

    monkeypatch.delenv("SPARK_GRAFT_STAB_SRC", raising=False)
    monkeypatch.setattr(adv, "ROOT", str(tmp_path))
    (tmp_path / "skewex.ffffffff").mkdir()  # another config, sorts last
    src = source()
    assert src == adv.build_mode_dir("skewex")
    assert os.path.dirname(src) == str(tmp_path)
    with open(os.path.join(src, ".complete")) as f:
        assert f.read() == adv._config_fingerprint(adv.SRC_DIR)
    monkeypatch.setenv("SPARK_GRAFT_STAB_SRC", "/root/testdata/sf0.01")
    assert source() == "/root/testdata/sf0.01"


def test_sentinel_queries_are_partition_invariant(spark):
    """Run each stability sentinel at shuffle.partitions 32 and 7 on
    the composed-hostility mutation dir and demand identical
    canonicalized output (tools_stability.py's check, pinned on the
    ids where order-dependence historically lived)."""
    from datafusion_wasm_bindings_spark.queries import load_all
    from datafusion_wasm_bindings_spark.queries.sources_q import _ensure_text_fixtures

    mode_dir = build_mode_dir("skewex")
    _ensure_text_fixtures(mode_dir)
    registry = load_all()
    bad = {}
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    for name in STABILITY_SENTINELS:
        spec = registry[name]
        try:
            spark.conf.set("spark.sql.shuffle.partitions", "32")
            a = canon(spec.spark_fn(spark, mode_dir).toPandas(), relaxed=True)
            spark.conf.set("spark.sql.shuffle.partitions", "7")
            b = canon(spec.spark_fn(spark, mode_dir).toPandas(), relaxed=True)
        finally:
            # Restore the SESSION's value (conftest builds it at 8), not a
            # hardcoded "32" — ADVICE r11: the leak made every later test's
            # plan-shape/AQE assertions order-dependent on this one.
            spark.conf.set("spark.sql.shuffle.partitions", prev)
        if not a.equals(b):
            bad[name] = "partition-variant output"
    assert not bad, bad


def test_mode_dirs_are_config_keyed_no_torn_reads(tmp_path):
    """Reproduce-then-block the r8 phantom-FAIL scenario (VERDICT r8
    #4): a sentinel run against one source used to SWAP the mode dir
    out from under an in-flight campaign reading another source
    (mode-only path + last-wins rename). Mode dirs are now keyed by
    config fingerprint, so the two runs get DIFFERENT paths, the first
    build's files survive the second build untouched, and two
    concurrent same-config builders converge on one valid install."""
    import threading

    from tools_adversarial_replay import TABLES, build_mode_dir

    root = str(tmp_path / "adv")
    d1 = build_mode_dir("empty", root=root, src_dir="/root/testdata/sf0.001")
    stat_before = {
        t: os.stat(os.path.join(d1, f"{t}.parquet")).st_ino for t in TABLES
    }
    # the r8 tear: same mode, different source — must land elsewhere
    d2 = build_mode_dir("empty", root=root, src_dir="/root/testdata/sf0.01")
    assert d1 != d2
    # d1 is untouched: same inodes, stamp still valid, parquet readable
    for t in TABLES:
        p = os.path.join(d1, f"{t}.parquet")
        assert os.stat(p).st_ino == stat_before[t]
        import pyarrow.parquet as pq

        pq.read_table(p)  # no torn read
    assert os.path.exists(os.path.join(d1, ".complete"))
    # concurrent same-config builders racing a FRESH slot (nulls mode
    # is not built yet under this root): one path, valid install, no
    # leftover tmp/wreck dirs
    paths, errs = [], []

    def build():
        try:
            paths.append(
                build_mode_dir(
                    "nulls", root=root, src_dir="/root/testdata/sf0.001"
                )
            )
        except Exception as e:  # noqa: BLE001
            errs.append(e)

    shutil_probe = os.path.join(root)
    threads = [threading.Thread(target=build) for _ in range(4)]
    for th in threads:
        th.start()
    for th in threads:
        th.join()
    assert not errs and len(set(paths)) == 1
    assert os.path.exists(os.path.join(paths[0], ".complete"))
    leftovers = [
        n
        for n in os.listdir(shutil_probe)
        if ".tmp." in n or ".wreck." in n
    ]
    assert not leftovers, leftovers
