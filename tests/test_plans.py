"""Physical-plan shape assertions — the 100 TB posture checks
(SURVEY.md §7.6 'Scale posture', task brief 'Optimize for scale').

Catches regressions where a plan silently stops broadcasting a dim
table, loses parquet filter/projection pushdown, or drops the top-k
fusion. These mirror the physical properties the reference gets from
its own optimizer (SURVEY §4.2) — broadcast ≈ CollectLeft, pushdown ≈
row-group pruning, TakeOrdered ≈ the TopK rewrite.
"""

from __future__ import annotations

from datafusion_wasm_bindings_spark.queries import load_all
from datafusion_wasm_bindings_spark.sources.catalog import table

REGISTRY = load_all()


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _find_nodes(jplan, name: str) -> list:
    """Preorder-collect physical-plan nodes whose nodeName contains
    ``name``, descending through the AdaptiveSparkPlan wrapper (a
    LeafExecNode whose real tree hangs off executedPlan/inputPlan, not
    children())."""
    out, stack = [], [jplan]
    while stack:
        n = stack.pop()
        if name in n.nodeName():
            out.append(n)
        if "AdaptiveSparkPlan" in n.nodeName():
            try:
                stack.append(n.executedPlan())
            except Exception:
                stack.append(n.inputPlan())
            continue
        ch = n.children()
        for i in range(ch.size()):
            stack.append(ch.apply(i))
    return out


def test_dim_join_broadcasts(spark, sf_dir):
    df = REGISTRY["q_join_inner"].spark_fn(spark, sf_dir)
    plan = _plan(df)
    assert "BroadcastHashJoin" in plan or "BroadcastExchange" in plan, plan


def test_filter_pushdown_reaches_parquet(spark, sf_dir):
    li = table(spark, sf_dir, "lineitem")
    df = li.filter("l_quantity > 45").select("l_orderkey", "l_quantity")
    plan = _plan(df)
    assert "PushedFilters: [" in plan and "GreaterThan(l_quantity" in plan, plan


def test_column_pruning_reaches_parquet(spark, sf_dir):
    li = table(spark, sf_dir, "lineitem")
    df = li.select("l_orderkey", "l_quantity")
    plan = _plan(df)
    # ReadSchema must contain only the projected columns
    read = plan.split("ReadSchema:", 1)[1].splitlines()[0]
    assert "l_orderkey" in read and "l_quantity" in read
    assert "l_extendedprice" not in read and "l_comment" not in read, read


def test_topk_fuses_to_take_ordered(spark, sf_dir):
    df = REGISTRY["q_topk"].spark_fn(spark, sf_dir)
    assert "TakeOrderedAndProject" in _plan(df)


def test_flagship_partial_aggregation(spark, sf_dir):
    df = REGISTRY["q_flagship_pricing_summary"].spark_fn(spark, sf_dir)
    plan = _plan(df)
    # map-side partial agg before the exchange: two HashAggregate levels
    # (AQE's pre-execution string omits WholeStageCodegen wrappers, so
    # codegen presence isn't asserted here)
    assert plan.count("HashAggregate") >= 2, plan
    assert "partial_sum" in plan, plan
    # the only pre-sort exchange is on the tiny group-key space
    assert plan.count("Exchange hashpartitioning") == 1, plan


def test_q3_broadcasts_customer_and_pushes_filters(spark, sf_dir):
    df = REGISTRY["q_flagship_shipping_priority"].spark_fn(spark, sf_dir)
    plan = _plan(df)
    assert "BroadcastHashJoin" in plan, plan
    # segment + date predicates reach the parquet scans
    assert "PushedFilters: [IsNotNull(c_mktsegment), EqualTo(c_mktsegment,BUILDING)" in plan, plan
    assert "LessThan(o_orderdate" in plan and "GreaterThan(l_shipdate" in plan, plan
    # the orders⋈lineitem join shuffles each side at most once
    assert plan.count("Exchange hashpartitioning") <= 2, plan


def test_similarity_broadcasts_queries(spark, sf_dir):
    df = REGISTRY["q_sim_topk"].spark_fn(spark, sf_dir)
    assert "BroadcastExchange" in _plan(df)


def test_salted_join_matches_plain_join(spark, sf_dir):
    from pyspark.sql import functions as F

    from datafusion_wasm_bindings_spark.operators.scale import salted_join
    from datafusion_wasm_bindings_spark.sources.catalog import table as t

    orders = t(spark, sf_dir, "orders").select(
        F.col("o_custkey").alias("custkey"), "o_orderkey"
    )
    cust = t(spark, sf_dir, "customer").select(F.col("c_custkey").alias("custkey"), "c_name")
    salted = salted_join(orders, cust, "custkey", factor=4)
    plain = orders.join(cust, "custkey")
    assert salted.columns == plain.columns
    assert salted.exceptAll(plain).isEmpty() and plain.exceptAll(salted).isEmpty()


def test_bucketed_join_has_no_exchange(spark, sf_dir, tmp_path):
    from pyspark.sql import functions as F

    from datafusion_wasm_bindings_spark.operators.scale import bucketed_join, write_bucketed
    from datafusion_wasm_bindings_spark.sources.catalog import table as t

    orders = t(spark, sf_dir, "orders").select(
        F.col("o_custkey").alias("custkey"), "o_orderkey"
    )
    cust = t(spark, sf_dir, "customer").select(F.col("c_custkey").alias("custkey"), "c_name")
    write_bucketed(orders, "bkt_orders", "custkey", buckets=4, path=str(tmp_path / "o"))
    write_bucketed(cust, "bkt_cust", "custkey", buckets=4, path=str(tmp_path / "c"))
    try:
        # disable auto-broadcast so the bucket layout (not broadcast)
        # is what eliminates the exchange, as it would at 100 TB where
        # neither side fits the broadcast threshold
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        joined = bucketed_join(spark, "bkt_orders", "bkt_cust", "custkey")
        plan = _plan(joined)
        assert "SortMergeJoin" in plan, plan
        assert "Exchange hashpartitioning" not in plan, plan
        assert joined.count() == orders.join(cust, "custkey").count()
    finally:
        spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
        spark.sql("DROP TABLE IF EXISTS bkt_orders")
        spark.sql("DROP TABLE IF EXISTS bkt_cust")


def test_scan_partitioned_query_prunes(spark, sf_dir):
    """The registered COPY→scan round-trip must prune on the partition
    key: the scan carries a PartitionFilters entry on o_orderstatus and
    reads only the matching directory."""
    df = REGISTRY["q_scan_partitioned"].spark_fn(spark, sf_dir)
    plan = _plan(df)
    part_filters = plan.split("PartitionFilters:", 1)[1].splitlines()[0]
    assert "o_orderstatus" in part_filters, plan
    assert df.count() > 0


def test_scan_arrow_is_distributed(spark, sf_dir):
    """The IPC read must decode on executors (binaryFile + mapInArrow),
    not materialize on the driver: the plan carries the Arrow-eval
    python operator over a binaryFile scan — no LocalTableScan of
    driver-collected rows."""
    df = REGISTRY["q_scan_arrow"].spark_fn(spark, sf_dir)
    plan = _plan(df)
    assert "MapInArrow" in plan or "ArrowEvalPython" in plan or "PythonMapInArrow" in plan, plan
    assert "LocalTableScan" not in plan, plan


def test_partition_pruning_on_hive_layout(spark, sf_dir, tmp_path):
    """Hive-partitioned parquet + a partition-key filter must prune at
    plan time (PartitionFilters), reading only matching directories —
    the mechanism that turns a 100 TB scan into a 1-partition scan."""
    from datafusion_wasm_bindings_spark.sources.catalog import table as t

    out = str(tmp_path / "li_part")
    t(spark, sf_dir, "lineitem").write.partitionBy("l_returnflag").mode(
        "overwrite"
    ).parquet(out)
    df = spark.read.parquet(out).filter("l_returnflag = 'R'").select("l_orderkey")
    plan = _plan(df)
    part_filters = plan.split("PartitionFilters:", 1)[1].splitlines()[0]
    assert "l_returnflag" in part_filters, plan
    assert df.count() > 0


def test_dynamic_partition_pruning_from_dim_filter(spark, sf_dir, tmp_path):
    """A filter on the dimension side must prune fact partitions at
    runtime (DPP): the fact side's scan carries a dynamicpruning
    subquery on the partition key."""
    from pyspark.sql import functions as F

    from datafusion_wasm_bindings_spark.sources.catalog import table as t

    out = str(tmp_path / "li_by_flag")
    t(spark, sf_dir, "lineitem").write.partitionBy("l_returnflag").mode(
        "overwrite"
    ).parquet(out)
    fact = spark.read.parquet(out)
    dim = spark.createDataFrame(
        [("R", "returned")], "flag string, meaning string"
    ).filter("meaning = 'returned'")
    joined = fact.join(dim, fact.l_returnflag == dim.flag).groupBy("flag").agg(
        F.count("*").alias("n")
    )
    plan = joined._jdf.queryExecution().optimizedPlan().toString()
    physical = _plan(joined)
    assert "dynamicpruning" in (plan + physical).lower(), physical
    assert joined.count() == 1


def test_pipeline_training_mix_plan_shape(spark, sf_dir):
    """The composed pipeline plan must (a) prune the documents scan to
    the 4 needed columns, (b) push the partition-key-safe token filter
    below the dedup window, and (c) apply WindowGroupLimit so each
    text-partition is cut to its first row map-side before the final
    rollup."""
    from datafusion_wasm_bindings_spark.queries import load_all

    df = load_all()["q_pipeline_training_mix"].spark_fn(spark, sf_dir)
    plan = _plan(df)
    read_schema = plan.split("ReadSchema:", 1)[1].splitlines()[0]
    assert "source" not in read_schema, read_schema  # unused column pruned
    assert "WindowGroupLimit" in plan, plan
    # the token-count filter sits between the Window and the Scan in
    # the printed tree (top-down: Window … Filter … Scan), i.e. it was
    # pushed below the dedup window — sound because it is a
    # deterministic function of the partition key
    # "+- Filter" = the operator node (plain "Filter" also matches the
    # scan line's DataFilters/PushedFilters annotations)
    assert (
        plan.index("WindowGroupLimit")
        < plan.rindex("+- Filter")
        < plan.rindex("FileScan parquet")
    ), plan


def test_pipeline_cluster_split_plan_shape(spark, sf_dir):
    """Cluster-aware split (r11): (a) the near-dup pair set is
    localCheckpointed ONCE and the CC labels are materialized RDDs, so
    the final plan scans parquet exactly once (the doc_id-only
    assignment projection — ReadSchema pruned to the key); (b) the
    1-row leakage audit attaches via BroadcastNestedLoopJoin, never a
    CartesianProduct; (c) the audit column itself reads 0 — the
    remedy's defining contract."""
    from datafusion_wasm_bindings_spark.queries import load_all

    df = load_all()["q_pipeline_cluster_split"].spark_fn(spark, sf_dir)
    plan = _plan(df)
    assert plan.count("Scan parquet") == 1, plan
    read_schema = plan.split("ReadSchema:", 1)[1].splitlines()[0]
    assert "text" not in read_schema, read_schema  # assignment is key-only
    assert "BroadcastNestedLoopJoin" in plan, plan
    assert "CartesianProduct" not in plan, plan
    rows = df.collect()
    assert rows, "expected per-split rows"
    assert all(r["n_cross_split_pairs"] == 0 for r in rows), rows


def test_pipeline_pack_no_per_shard_fact_window(spark, sf_dir):
    """Sequence packing (r5 migration): the per-shard running token
    offset must come from bucketed_prefix_sum — a shard-only window
    over the corpus is one sequential task per shard and n_shards sits
    far below cluster parallelism. No window may partition by shard
    alone ordered by doc_id; the in-bucket (shard, __bkt) window must
    be present; the offset join-back broadcasts the bounded
    |shards|x|buckets| table."""
    import re

    df = REGISTRY["q_pipeline_pack"].spark_fn(spark, sf_dir)
    plan = _plan(df)
    assert not re.search(
        r"windowspecdefinition\(shard#\d+L?, doc_id#", plan
    ), plan
    assert re.search(r"windowspecdefinition\(shard#\d+L?, __bkt#", plan), plan
    assert "BroadcastHashJoin" in plan, plan


def test_pipeline_shuffle_no_per_shard_fact_window(spark, sf_dir):
    """deterministic_shuffle (r5 migration): shard positions come from
    bucketed_rank on md5-prefix buckets — no window may partition by
    shard alone ordered by the md5 draw; the (shard, __bkt) window and
    the broadcast offset join must be present (pack_sequences'
    sibling)."""
    import re

    df = REGISTRY["q_pipeline_shuffle"].spark_fn(spark, sf_dir)
    plan = _plan(df)
    assert not re.search(
        r"windowspecdefinition\(shard#\d+, __h#", plan
    ), plan
    assert re.search(r"windowspecdefinition\(shard#\d+, __bkt#", plan), plan
    assert "BroadcastHashJoin" in plan, plan


def test_text_repetition_is_shuffle_free(spark, sf_dir):
    """Repetition features are per-document array folds — the plan must
    be a single map stage over the scan: no Exchange, no Generate
    (the explode → groupBy formulation re-evaluated per-doc arrays per
    exploded row and shuffled the whole bigram stream)."""
    df = REGISTRY["q_text_repetition"].spark_fn(spark, sf_dir)
    plan = _plan(df)
    assert "Exchange" not in plan, plan
    assert "Generate" not in plan, plan


def test_weighted_sample_uses_topk_not_full_sort(spark, sf_dir):
    """A-Res weighted sampling must compile to TakeOrderedAndProject
    (per-partition heap of n, driver merge) — a global Sort before the
    limit would materialize and sort the whole corpus at 100 TB."""
    df = REGISTRY["q_sample_weighted"].spark_fn(spark, sf_dir)
    plan = _plan(df)
    assert "TakeOrderedAndProject" in plan, plan


def test_decontaminate_broadcasts_eval_shingles(spark, sf_dir):
    """The eval corpus is tiny next to the training corpus: its
    distinct-shingle set must broadcast so the contamination probe is a
    map-side hash lookup, and the only shuffle is the per-doc regroup."""
    df = REGISTRY["q_text_decontaminate"].spark_fn(spark, sf_dir)
    plan = _plan(df)
    assert "BroadcastHashJoin" in plan or "BroadcastExchange" in plan, plan


def test_deterministic_shuffle_bucketed_no_single_partition(spark, sf_dir):
    """r5 migration: shard positions come from bucketed_rank, so the
    fact windows hash-partition on (shard, __bkt) — parallel WITHIN
    shards — never on shard alone (one sequential task per shard) and
    never SinglePartition. The extra exchanges vs the old single-window
    shape all run over the bounded counts/offset tables."""
    import re

    from datafusion_wasm_bindings_spark.operators.sampling import (
        deterministic_shuffle,
    )

    docs = table(spark, sf_dir, "documents")
    plan = _plan(deterministic_shuffle(docs, "doc_id", n_shards=8))
    assert "SinglePartition" not in plan, plan
    assert not re.search(r"windowspecdefinition\(shard#\d+, __h#", plan), plan
    assert re.search(r"windowspecdefinition\(shard#\d+, __bkt#", plan), plan


def test_weighted_percentile_no_global_window_over_rows(spark, sf_dir):
    """The per-row cumulative sum must run in a window PARTITIONED by
    the value bucket (parallel), with single-partition windows allowed
    only over the |buckets|-row prefix table — never over the base
    relation (the r01 scale-killer: `SUM(wt) OVER (ORDER BY v)` with no
    PARTITION BY serializes the whole input through one task)."""
    import re

    df = REGISTRY["q_fn_weighted_percentile"].spark_fn(spark, sf_dir)
    plan = _plan(df)
    # Window nodes print as: Window [fns], [partitionSpec], [orderSpec]
    windows = re.findall(r"Window \[[^\]]*\], \[([^\]]*)\], \[([^\]]*)\]", plan)
    assert windows, plan
    for part_spec, order_spec in windows:
        if re.search(r"\bv#", order_spec):  # the per-row cumulative
            assert "bkt" in part_spec, (part_spec, order_spec, plan)
    # the partitioned window's shuffle is on the bucket key
    assert "Exchange hashpartitioning" in plan, plan


def test_q5_broadcasts_all_dims_single_fact_shuffle(spark, sf_dir):
    """The Q5-shaped star join must broadcast every dimension chain
    (region, nation, customer, supplier): the only hash exchanges left
    are orders⋈lineitem on orderkey and the final group-by."""
    df = REGISTRY["q_flagship_local_supplier"].spark_fn(spark, sf_dir)
    plan = _plan(df)
    assert plan.count("BroadcastHashJoin") >= 3, plan
    assert "PushedFilters" in plan or "pushedFilters" in plan.lower(), plan


def test_profile_columns_single_scan(spark, sf_dir):
    """The whole multi-column profile must read storage exactly once —
    per-column scans would multiply 100 TB of IO by the column count."""
    df = REGISTRY["q_profile_columns"].spark_fn(spark, sf_dir)
    plan = _plan(df)
    assert plan.count("FileScan parquet") == 1, plan


def test_zscore_outliers_broadcast_moments_no_fact_shuffle(spark, sf_dir):
    """r4 shape: the fact reduces to a |groups|-row moment table via
    ONE combinable exchange; the moments broadcast back and z derives
    map-side — the fact itself is never hashed (the per-group window
    this replaced put the whole fact through ~|groups| tasks)."""
    df = REGISTRY["q_events_outliers"].spark_fn(spark, sf_dir)
    plan = _plan(df)
    # the only hash exchange is the tiny moment aggregate's
    assert plan.count("Exchange hashpartitioning") == 1, plan
    assert "partial_count" in plan or "partial_sum" in plan, plan
    assert "BroadcastHashJoin" in plan, plan
    assert "Window" not in plan and "SortMergeJoin" not in plan, plan


def test_asof_join_single_exchange_no_join_node(spark, sf_dir):
    """The union-merge as-of rewrite must contain NO join operator (a
    range self-join would probe per-left-row; the window sweep is
    linear) and at most two hash exchanges: the (user_id, ts) dedup of
    the reference stream, then the union's window shuffle on user_id."""
    df = REGISTRY["q_join_asof"].spark_fn(spark, sf_dir)
    plan = _plan(df)
    assert plan.count("Exchange hashpartitioning") <= 2, plan
    assert (
        "SortMergeJoin" not in plan
        and "BroadcastHashJoin" not in plan
        and "CartesianProduct" not in plan
    ), plan


def test_temperature_sample_broadcasts_rates(spark, sf_dir):
    """The |domains|-row rate table must broadcast back onto the corpus
    scan — the corpus itself never shuffles for the mix selection."""
    df = REGISTRY["q_sample_temperature"].spark_fn(spark, sf_dir)
    plan = _plan(df)
    assert "BroadcastHashJoin" in plan, plan


def test_range_join_is_equi_join_not_nested_loop(spark, sf_dir):
    """The bucketed rewrite must plan a hash/sort-merge EQUI-join with a
    residual filter — never BroadcastNestedLoopJoin or CartesianProduct
    (the O(n*m)-per-key shapes a raw BETWEEN predicate degrades to)."""
    df = REGISTRY["q_join_range"].spark_fn(spark, sf_dir)
    plan = _plan(df)
    assert "BroadcastNestedLoopJoin" not in plan and "CartesianProduct" not in plan, plan
    assert "SortMergeJoin" in plan or "BroadcastHashJoin" in plan or "ShuffledHashJoin" in plan, plan


def test_embedding_dedup_is_bucketed_not_all_pairs(spark, sf_dir):
    """q_dedup_embedding's candidate generation must be the LSH
    (table, bucket) equi-join — never the all-pairs `id_a < id_b`
    theta-join (BroadcastNestedLoopJoin/CartesianProduct), the one
    quadratic shape the r2 verdict flagged. The all-pairs form lives
    on only as the DuckDB oracle, so a green driver row additionally
    proves 100% bucket recall."""
    df = REGISTRY["q_dedup_embedding"].spark_fn(spark, sf_dir)
    plan = _plan(df)
    assert "BroadcastNestedLoopJoin" not in plan and "CartesianProduct" not in plan, plan
    assert "SortMergeJoin" in plan or "BroadcastHashJoin" in plan or "ShuffledHashJoin" in plan, plan


def test_pipeline_split_is_pure_map(spark, sf_dir):
    """The leakage-safe split is a per-row md5 compare — a single map
    stage over the scan: no Exchange, no join, no aggregate. At 100 TB
    split assignment must be free at scan time."""
    df = REGISTRY["q_pipeline_split"].spark_fn(spark, sf_dir)
    plan = _plan(df)
    assert "Exchange" not in plan, plan
    assert "Join" not in plan and "HashAggregate" not in plan, plan


def test_pipeline_epochs_is_map_plus_explode(spark, sf_dir):
    """Epoch upsampling replicates rows via explode only — no shuffle:
    output volume is the requested replication and nothing else."""
    df = REGISTRY["q_pipeline_epochs"].spark_fn(spark, sf_dir)
    plan = _plan(df)
    assert "Exchange" not in plan, plan
    assert "Generate explode" in plan, plan


def test_text_and_chunk_operators_compile_no_lambda(spark, sf_dir):
    """Token counts, quality, language ID and chunking count and slice
    tokens with compiled builtins (regexp_count, explode + slice): no
    interpreted higher-order-function lambda survives optimization."""
    from datafusion_wasm_bindings_spark.operators.packing import chunk_documents
    from datafusion_wasm_bindings_spark.operators.text import (
        language_id,
        quality_scores,
        token_counts,
    )

    docs = table(spark, sf_dir, "documents")
    for op in (token_counts, quality_scores, language_id, chunk_documents):
        plan = op(docs)._jdf.queryExecution().optimizedPlan().toString()
        assert "lambdafunction" not in plan, (op.__name__, plan)


def test_text_tokens_bpe_is_shuffle_free(spark, sf_dir):
    """BPE pre-token counting is one regex pass per document — a single
    map stage: no Exchange, and exactly one scan."""
    df = REGISTRY["q_text_tokens_bpe"].spark_fn(spark, sf_dir)
    plan = _plan(df)
    assert "Exchange" not in plan, plan
    assert plan.count("FileScan parquet") == 1, plan


def test_profile_columns_approx_two_lean_aggregates(spark, sf_dir):
    """The self-verifying HLL profile runs the sketches in their OWN
    aggregate, broadcast-joined to the exact profile: exactly two scans
    and ONE Expand (the exact-distinct rewrite) — the HLL buffers must
    never ride the value-keyed Expand groups (folding them in measured
    12× wall-clock at sf0.1). The production scale mode
    (exact_distinct=False, no check) stays a single Expand-free scan —
    asserted below."""
    df = REGISTRY["q_profile_columns_approx"].spark_fn(spark, sf_dir)
    plan = _plan(df)
    assert plan.count("FileScan parquet") == 2, plan
    assert plan.count("Expand") == 1, plan
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan, plan

    from datafusion_wasm_bindings_spark.operators.profiling import profile_columns

    hll_only = profile_columns(
        table(spark, sf_dir, "lineitem"),
        ["l_quantity", "l_extendedprice"],
        exact_distinct=False,
    )
    p2 = _plan(hll_only)
    assert p2.count("FileScan parquet") == 1 and "Expand" not in p2, p2


def test_tfidf_df_table_aqe_chosen(spark, sf_dir):
    """The vocabulary (df) table is O(|vocab|) — unbounded at corpus
    scale — so it must carry NO compile-time broadcast hint (r5 (d):
    a hint past the ceiling kills the job; AQE broadcasts while it
    fits and degrades to a shuffle join when it doesn't). Only the
    1-row corpus count may be hinted. At fixture scale the FINAL
    adaptive plan still broadcasts the df table (map-side scoring),
    proving the hint's absence costs nothing where it used to apply."""
    df = REGISTRY["q_text_tfidf"].spark_fn(spark, sf_dir)
    logical = df._jdf.queryExecution().analyzed().toString()
    assert logical.lower().count("resolvedhint") == 1, logical  # n_docs only
    df.collect()
    final = _plan(df)
    assert "isFinalPlan=true" in final, final
    assert "BroadcastHashJoin" in final, final


def test_pipeline_upsert_single_exchange_no_join(spark, sf_dir):
    """CDC compaction is union + ONE keyed window shuffle — never the
    naive anti-join/join shape that shuffles the base twice."""
    df = REGISTRY["q_pipeline_upsert"].spark_fn(spark, sf_dir)
    plan = _plan(df)
    assert plan.count("Exchange hashpartitioning") == 1, plan
    assert "Join" not in plan, plan
    assert "SinglePartition" not in plan, plan


def test_kmeans_assignment_is_map_side(spark, sf_dir):
    """Nearest-centroid assignment runs against literal broadcast
    centroids — the corpus shuffles exactly once (the final per-cluster
    aggregate), and no join node ever appears."""
    df = REGISTRY["q_cluster_kmeans"].spark_fn(spark, sf_dir)
    plan = _plan(df)
    assert "Join" not in plan, plan
    assert plan.count("Exchange hashpartitioning") == 1, plan


def test_zorder_stats_broadcast_minmax_single_agg_shuffle(spark, sf_dir):
    """The min/max pre-pass joins as a broadcast (at 100 TB it comes
    from table stats); the z-key is a pure map; the only
    hash-partitioned exchange is the per-bucket aggregate."""
    df = REGISTRY["q_scale_zorder"].spark_fn(spark, sf_dir)
    plan = _plan(df)
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan, plan
    assert "SortMergeJoin" not in plan, plan
    assert plan.count("Exchange hashpartitioning") == 1, plan


def test_text_classifier_is_shuffle_free(spark, sf_dir):
    """Hashing-trick scoring is one JVM-side map pass: no Exchange, one
    scan, no Python UDF."""
    df = REGISTRY["q_text_classifier"].spark_fn(spark, sf_dir)
    plan = _plan(df)
    assert "Exchange" not in plan, plan
    assert plan.count("FileScan parquet") == 1, plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan, plan


def test_scan_orc_pushes_filter(spark, sf_dir):
    """ORC scans keep predicate pushdown + column pruning just like
    parquet — the properties that make a columnar migration free."""
    df = REGISTRY["q_scan_orc"].spark_fn(spark, sf_dir)
    plan = _plan(df)
    assert "FileScan orc" in plan, plan
    assert "PushedFilters: [" in plan and "c_acctbal" in plan.split("PushedFilters:")[1][:200], plan


def test_editdist_join_is_equi_blocked_not_all_pairs(spark, sf_dir):
    """The length-band blocking must plan an EQUI-join on the block
    key — never the theta-join (BroadcastNestedLoopJoin /
    CartesianProduct) a raw `a.w < b.w AND abs(len-len)<=2` predicate
    would produce."""
    df = REGISTRY["q_text_editdist_join"].spark_fn(spark, sf_dir)
    plan = _plan(df)
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert (
        "SortMergeJoin" in plan
        or "BroadcastHashJoin" in plan
        or "ShuffledHashJoin" in plan
    ), plan


def test_triangle_count_no_cartesian(spark, sf_dir):
    """Degree-oriented wedge enumeration: both the wedge self-join and
    the closing join are equi-joins. The O(|V|) degree-rank table is
    NOT force-broadcast (VERDICT r4): AQE picks broadcast when the
    runtime size fits and degrades to a shuffle join — never a
    nested-loop shape — when it doesn't."""
    df = REGISTRY["q_graph_triangles"].spark_fn(spark, sf_dir)
    plan = _plan(df)
    assert "CartesianProduct" not in plan, plan
    # only the final 1x1 crossJoin of the two scalar counts may be a
    # nested-loop shape; every keyed join must be a hash/SMJ join
    keyed_joins = [
        ln
        for ln in plan.splitlines()
        if "Join" in ln and "NestedLoop" not in ln and "Cross" not in ln
    ]
    assert keyed_joins, plan
    assert all(
        "SortMergeJoin" in ln or "HashJoin" in ln for ln in keyed_joins
    ), plan
    # no compile-time broadcast hint on the O(|V|) rank table: the
    # analyzed logical plan must carry no explicit broadcast hint
    logical = df._jdf.queryExecution().analyzed().toString()
    assert "broadcast" not in logical.lower(), logical


def test_funnel_reuses_user_partitioning(spark, sf_dir):
    """Every funnel step joins and aggregates on user_id; the chained
    joins must not plan any nested-loop shape, and the per-step
    aggregates partial-combine map-side."""
    df = REGISTRY["q_events_funnel"].spark_fn(spark, sf_dir)
    plan = _plan(df)
    # the per-step user_id joins must be hash joins; the only nested-loop
    # shapes allowed are the final 1x1x1 crossJoins of the scalar counts
    step_joins = [
        ln for ln in plan.splitlines()
        if ("Join" in ln and "user_id" in ln)
    ]
    assert step_joins, plan
    assert all(
        "SortMergeJoin" in ln or "HashJoin" in ln for ln in step_joins
    ), plan
    assert "CartesianProduct" not in plan, plan
    assert "partial_min" in plan, plan


def test_compaction_plan_single_manifest_window(spark, sf_dir):
    """The prefix-sum packer runs ONE global window over the file
    manifest (metadata cardinality), after a single agg exchange that
    builds the manifest from row data."""
    df = REGISTRY["q_scale_compaction"].spark_fn(spark, sf_dir)
    plan = _plan(df)
    assert plan.count("Window") == 1, plan


def test_pivot_is_single_aggregate_exchange(spark, sf_dir):
    """Declared pivot values compile to partial_pivotfirst (no
    distinct-values collect job): two map-side-combined aggregate
    exchanges — (key, pivot-col) count then key pivotfirst — both on
    tiny keyspaces."""
    df = REGISTRY["q_pivot"].spark_fn(spark, sf_dir)
    plan = _plan(df)
    assert plan.count("Exchange hashpartitioning") <= 2, plan
    assert "partial_pivotfirst" in plan, plan
    assert "partial_count" in plan, plan


def test_unpivot_is_pure_map(spark, sf_dir):
    df = REGISTRY["q_unpivot"].spark_fn(spark, sf_dir)
    plan = _plan(df)
    assert "Exchange" not in plan, plan


def test_qualify_windows_on_partition_key(spark, sf_dir):
    """The QUALIFY rewrite must partition its window (no global-sort
    single-partition window)."""
    df = REGISTRY["q_qualify"].spark_fn(spark, sf_dir)
    plan = _plan(df)
    assert "Window" in plan, plan
    assert "hashpartitioning(c_nationkey" in plan, plan


def test_manifest_single_shuffle_map_side_combine(spark, sf_dir):
    df = REGISTRY["q_pipeline_manifest"].spark_fn(spark, sf_dir)
    plan = _plan(df)
    assert plan.count("Exchange hashpartitioning") == 1, plan
    assert "partial_count" in plan or "partial_sum" in plan, plan


def test_bm25_broadcasts_stats_and_takes_ordered_topk(spark, sf_dir):
    """BM25: the df table and corpus stats broadcast onto the tf
    stream, and the final top-k is TakeOrdered (no global sort)."""
    df = REGISTRY["q_text_bm25"].spark_fn(spark, sf_dir)
    plan = _plan(df)
    assert "BroadcastExchange" in plan, plan
    assert "TakeOrderedAndProject" in plan, plan
    assert "CartesianProduct" not in plan, plan


def test_fk_audit_uses_anti_joins(spark, sf_dir):
    df = REGISTRY["q_profile_fk"].spark_fn(spark, sf_dir)
    plan = _plan(df)
    assert "LeftAnti" in plan, plan
    assert "CartesianProduct" not in plan, plan


def test_expectations_one_scan_per_table(spark, sf_dir):
    """Five rules over two tables must cost exactly two scans — rules
    sharing a table stack inside one aggregate."""
    df = REGISTRY["q_profile_expectations"].spark_fn(spark, sf_dir)
    plan = _plan(df)
    assert plan.count("FileScan parquet") == 2, plan


def test_rolling_window_single_keyed_exchange(spark, sf_dir):
    df = REGISTRY["q_events_rolling"].spark_fn(spark, sf_dir)
    plan = _plan(df)
    assert plan.count("Window") == 1, plan
    assert "hashpartitioning(user_id" in plan, plan


def test_runtime_bloom_filter_injects_on_selective_dim(spark, sf_dir):
    """100 TB posture: with a selective dim-side filter and a
    non-broadcast join, Spark's runtime bloom filter (AQE
    InjectRuntimeFilter) must pre-filter the fact scan — the mechanism
    that spares shuffling fact rows whose keys the filtered dim can
    never match. Thresholds are lowered because the default
    application-side threshold (10 GB of scan) is sized for real
    clusters, not sf0.1 fixtures."""
    confs = {
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "0",
        "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold": "100MB",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
    }
    old = {}
    for k, v in confs.items():
        try:
            old[k] = spark.conf.get(k)
        except Exception:
            old[k] = None
        spark.conf.set(k, v)
    try:
        li = table(spark, sf_dir, "lineitem")
        orders = table(spark, sf_dir, "orders").filter(
            "o_orderpriority = '1-URGENT'"
        )
        j = li.join(orders, li.l_orderkey == orders.o_orderkey).select(
            "l_orderkey", "l_quantity", "o_totalprice"
        )
        plan = _plan(j)
        assert "might_contain" in plan or "bloom" in plan.lower(), plan
    finally:
        for k, v in old.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_pipeline_rownum_no_global_window_over_rows(spark, sf_dir):
    """Global row numbering must never put the base relation through a
    single-partition window: the row_number window is PARTITIONED by
    the key bucket, offsets arrive via broadcast, and the only global
    window allowed is the |buckets|-row prefix-sum table (same contract
    as q_fn_weighted_percentile)."""
    import re

    df = REGISTRY["q_pipeline_rownum"].spark_fn(spark, sf_dir)
    plan = _plan(df)
    windows = re.findall(r"Window \[[^\]]*\], \[([^\]]*)\], \[([^\]]*)\]", plan)
    assert windows, plan
    for part_spec, order_spec in windows:
        if re.search(r"o_orderkey#", order_spec):  # the per-row numbering
            assert "bkt" in part_spec, (part_spec, order_spec, plan)
    assert "BroadcastHashJoin" in plan, plan


def test_interval_merge_single_exchange(spark, sf_dir):
    """Interval merge is one shuffle end-to-end: both windows sort
    within the user_id clustering and the final (user_id, span_id)
    group-by is satisfied by hash(user_id) — no second exchange, no
    single-partition window."""
    df = REGISTRY["q_events_interval_merge"].spark_fn(spark, sf_dir)
    plan = _plan(df)
    assert plan.count("Exchange hashpartitioning") == 1, plan
    assert "SinglePartition" not in plan, plan


def test_aqe_coalesces_small_shuffle_partitions(spark, sf_dir):
    """100 TB posture, inverse direction: AQE must be live so that a
    shuffle whose data volume is far below the static partition count
    gets its post-shuffle partitions COALESCED at runtime (the same
    machinery that re-splits skewed joins upward at real scale). The
    final adaptive plan shows AQEShuffleRead(coalesced)."""
    df = (
        table(spark, sf_dir, "nation")
        .groupBy("n_regionkey")
        .count()
    )
    df.collect()  # AQE decides after the shuffle-map stage runs
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "isFinalPlan=true" in plan, plan
    assert "AQEShuffleRead coalesced" in plan or "coalesced" in plan, plan


def test_langid_pure_map_no_exchange(spark, sf_dir):
    """q_text_langid (r5 rewrite): per-language HOF hit counts +
    array_max argmax — a pure map over the documents scan. The plan
    must contain NO exchange and NO join of any kind (the old
    formulation shuffled O(corpus tokens) twice: 6.6 s vs 11.2 s at
    2M docs, BASELINE.md `langid` probe)."""
    df = REGISTRY["q_text_langid"].spark_fn(spark, sf_dir)
    plan = _plan(df)
    assert "Exchange" not in plan, plan
    assert "Join" not in plan, plan


def test_perplexity_lm_probs_aqe_chosen(spark, sf_dir):
    """The unigram LM's probability table is O(|vocab|), so it carries
    NO compile-time broadcast hint (r5 (d)) — only the 1-row token
    total is hinted. At fixture scale the FINAL adaptive plan still
    broadcasts it back onto the token stream (map-side scoring); past
    the ceiling AQE degrades to a tok-keyed shuffle join instead of
    dying."""
    df = REGISTRY["q_text_perplexity"].spark_fn(spark, sf_dir)
    logical = df._jdf.queryExecution().analyzed().toString()
    assert logical.lower().count("resolvedhint") == 1, logical  # total only
    df.collect()
    final = _plan(df)
    assert "isFinalPlan=true" in final, final
    assert "BroadcastHashJoin" in final, final


def test_incremental_dedup_anti_join_broadcasts(spark, sf_dir):
    """Batch-vs-corpus ingest dedup: the corpus side must reach the
    anti join as a DISTINCT key set (fixed-width md5), built and
    broadcast — the corpus text never shuffles."""
    df = REGISTRY["q_pipeline_incremental_dedup"].spark_fn(spark, sf_dir)
    plan = _plan(df)
    assert "LeftAnti, BuildRight" in plan, plan
    assert "BroadcastHashJoin" in plan, plan


def test_spatial_join_is_cell_bucketed_not_cartesian(spark, sf_dir):
    """The spatial radius join must candidate-generate through the
    (cell-y, cell-x) equi-join — never CartesianProduct /
    BroadcastNestedLoopJoin (the all-pairs shape lives only in the
    DuckDB oracle as the recall proof)."""
    df = REGISTRY["q_join_spatial"].spark_fn(spark, sf_dir)
    plan = _plan(df)
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "Join" in plan, plan


def test_no_cartesian_product_anywhere_in_registry(spark, sf_dir):
    """Registry-wide guards over one plan pass.

    (1) NO registered query may plan a CartesianProduct — every
    all-pairs-shaped operator must candidate-generate through an
    equi-join (LSH buckets, grid cells, length bands, basket keys...).
    1-row scalar attachments plan BroadcastNestedLoopJoin and are
    fine; a CartesianProduct over relations is the one shape that
    cannot survive 100 TB.

    (2) NO registered query may plan a partition-less window outside
    the allowlist of BOUNDED-input cases (r5 survey): offset/grid/
    manifest tables, TakeOrdered-limited top-k rows, and the RANGE-
    frame semantics demo. A global window over a corpus-scaled table
    is one sequential task at 100 TB (q_events_rfm was the live
    instance, rewritten r5 to bucketed ranks).

    Side-effecting queries (sinks, streams) are skipped — their plan
    is read at the returned summary, not the write."""
    import re

    # EXACT ids, never substrings (r11 convention, ADVICE r10: a
    # substring skip silently exempts future queries — "balanced" was
    # also catching the non-sink q_sample_balanced, which lints clean
    # and is now covered). All skips are side-effecting (scratch
    # writers / streaming triggers) or bucketed-scan shapes whose plan
    # is read at the returned summary, not the write.
    skip = {
        "q_stream_dedup",
        "q_stream_session",
        "q_stream_stateful_totals",
        "q_stream_static_join",
        "q_stream_stream_join",
        "q_stream_upsert",
        "q_copy_csv",
        "q_copy_json",
        "q_copy_parquet",
        "q_result_json",
        "q_result_table",
        "q_insert_into",
        "q_scale_balanced_write",
        "q_values_ctas",
        "q_join_bucketed",
    }
    # global windows over provably bounded inputs (see docstrings):
    bounded_global_windows = {
        "q_scale_compaction",  # file manifest (1 row/file; 1M-file probe 0.7 s)
        "q_pipeline_rownum",  # |buckets| offset table
        "q_text_heavy_hitters",  # CMS-thresholded candidates, TakeOrdered
        "q_graph_pagerank",  # top-k rows after limit k
        "q_profile_skew",  # per-key count table
        "q_fn_weighted_percentile",  # |buckets| offset table
        "q_win_range_frame",  # SURVEY §2.5 RANGE-frame semantics demo (dim input)
        "q_pipeline_itemsets",  # TakeOrdered-limited pair ranks
        "q_stats_survival",  # bounded hour-grid KM windows
    }
    offenders = {}
    for name, spec in REGISTRY.items():
        if name in skip:
            continue
        try:
            plan = _plan(spec.spark_fn(spark, sf_dir))
        except Exception as e:  # noqa: BLE001 — surface as offender
            offenders[name] = f"ERR {type(e).__name__}: {e}"[:120]
            continue
        if "CartesianProduct" in plan:
            offenders[name] = "CartesianProduct"
        if name not in bounded_global_windows:
            for m in re.finditer(r"windowspecdefinition\(([^,)]+)", plan):
                head = m.group(1)
                # a __bkt-ordered global window is bucketed_rank's own
                # offset prefix over the |buckets| table — bounded by
                # construction
                if ("_bkt#" in head) or ("bkt#" in head.split(" ")[0]):
                    continue
                if " ASC" in head or " DESC" in head:
                    offenders[name] = f"global window: {head}"
                    break
    assert not offenders, offenders


def test_no_payload_columns_in_exchanges(spark, sf_dir):
    """Registry-wide r10 widerow lint: the raw payload columns —
    ``text`` (documents), ``media`` (binary), ``embedding`` (vector) —
    must never appear in a non-broadcast exchange's output. Payload
    movers work on digests (md5/xxhash), token/shingle hashes, or
    bounded slices; the widerow probe measures the same contract in
    bytes (BASELINE.md r10). Broadcast exchanges are exempt (bounded
    by the broadcast ceiling by construction); row-moving sinks and
    streams are skipped like the other registry lints.

    Allowlist (justified designs):
    - q_dedup_minhash: the candidates-only verification SEMI-JOINS the
      corpus against the candidate id set before shingling — when AQE
      cannot broadcast the id set, text shuffles ONCE so that only
      candidate docs pay shingling; shingling everything map-side to
      avoid it would shuffle shingle arrays (≥ text size) instead.
    - q_dedup_substring: catalog.table(parallel=True) — the guide-§2.5
      unsplittable-input remedy. When the file's row-group count is
      below session parallelism, text moves ONCE through a round-robin
      exchange directly above the scan (≤ the corpus bytes the single
      scan task already holds) so the three-level span explode runs
      wide; at healthy layouts (row_groups ≥ cores) the repartition is
      a no-op and no text exchange exists (r12, measured 5.75→1.98 s).
    """
    import re as _re

    allow = {"q_dedup_minhash", "q_dedup_substring"}
    # EXACT id set (ADVICE r10: substring matching silently exempted
    # new queries — q_pipeline_split_leakage matched "split" despite
    # not being a row mover; new ids are now linted by default)
    skip = {
        # streaming sinks / stateful triggers
        "q_stream_dedup",
        "q_stream_session",
        "q_stream_stateful_totals",
        "q_stream_static_join",
        "q_stream_stream_join",
        "q_stream_upsert",
        # sinks: write corpus rows out by contract
        "q_copy_csv",
        "q_copy_json",
        "q_copy_parquet",
        "q_result_json",
        "q_result_table",
        "q_insert_into",
        "q_values_ctas",
        "q_join_bucketed",
        # row movers: their OUTPUT is the (re-partitioned / sorted /
        # sampled / chunked) corpus rows themselves — moving payload
        # rows is the operator's contract, not an inefficiency
        "q_sample_balanced",
        "q_scale_balanced_write",
        "q_pipeline_shuffle",
        "q_scale_zorder",
        "q_scale_compaction",
        "q_pipeline_epochs",
        "q_pipeline_chunk",
        "q_pipeline_pack",
        "q_pipeline_split",
    }
    pat = _re.compile(r"\b(text|media|embedding)#")
    offenders = {}
    for name, spec in REGISTRY.items():
        if name in allow or name in skip:
            continue
        try:
            jplan = spec.spark_fn(spark, sf_dir)._jdf.queryExecution().executedPlan()
        except Exception as e:  # noqa: BLE001 — surface as offender
            offenders[name] = f"ERR {type(e).__name__}: {e}"[:120]
            continue
        for ex in _find_nodes(jplan, "Exchange"):
            if "Broadcast" in ex.getClass().getSimpleName():
                continue
            cols = ex.output().mkString(", ")
            hits = sorted(set(pat.findall(cols)))
            if hits:
                offenders[name] = f"exchange carries {hits}"
                break
    assert not offenders, offenders


def test_contingency_stats_single_fact_shuffle(spark, sf_dir):
    """q_stats_entropy_mi / q_stats_chi2: ONE shuffle touches fact-table
    volume (the joint contingency aggregate, partial-agg'd map-side);
    every later exchange moves only the category-sized joint table."""
    for qid in ("q_stats_entropy_mi", "q_stats_chi2", "q_stats_kappa"):
        df = REGISTRY[qid].spark_fn(spark, sf_dir)
        plan = _plan(df)
        # the fact table is scanned ONCE (eagerly, while materializing
        # the checkpointed contingency cells — so ZERO parquet scans
        # remain in the final plan); every branch reads the cells RDD
        # instead of re-deriving them (was 6 fact scans before the fix)
        assert plan.count("Scan parquet") == 0, (qid, plan)
        assert "Scan ExistingRDD" in plan, (qid, plan)


def test_ols_single_pass_aggregate(spark, sf_dir):
    """q_stats_ols2: all 10 cross-moments come from ONE map-side-
    combinable aggregate over one scan — no second pass, no join."""
    df = REGISTRY["q_stats_ols2"].spark_fn(spark, sf_dir)
    plan = _plan(df)
    assert plan.count("Scan parquet") == 1, plan
    assert "partial_sum" in plan, plan
    assert "Join" not in plan, plan


def test_target_encode_broadcasts_group_stats(spark, sf_dir):
    """q_ml_target_encode: the per-nation stats and global prior join
    back via broadcast — the fact side never re-shuffles for them."""
    df = REGISTRY["q_ml_target_encode"].spark_fn(spark, sf_dir)
    plan = _plan(df)
    assert "BroadcastExchange" in plan or "BroadcastHashJoin" in plan, plan


def test_ndcg_windows_are_partitioned(spark, sf_dir):
    """q_rank_ndcg: both rank windows are PARTITIONED by the query key —
    no single-partition global window anywhere in the plan."""
    df = REGISTRY["q_rank_ndcg"].spark_fn(spark, sf_dir)
    plan = _plan(df)
    assert "Window" in plan, plan
    assert "SinglePartition" not in plan, plan


def test_calibration_single_scan_ten_bins(spark, sf_dir):
    """q_ml_calibration: one scan of orders; the reliability bins and
    ECE re-aggregate a 10-row relation (broadcast back), so exactly one
    exchange is keyed on the bin."""
    df = REGISTRY["q_ml_calibration"].spark_fn(spark, sf_dir)
    plan = _plan(df)
    # orders scanned once (eagerly into the checkpointed bin table);
    # the reliability rows and the ECE branch both read the 10-row RDD
    assert plan.count("Scan parquet") == 0, plan
    assert "Scan ExistingRDD" in plan, plan
    assert "BroadcastExchange" in plan, plan


def test_target_encode_and_benford_single_fact_pass(spark, sf_dir):
    """q_ml_target_encode: the stats pass runs the orders⋈customer join
    once (prior derived from the 25-row per-nation table, not a second
    join); the only other scans are the SAMPLE-filtered output pass.
    q_stats_benford: one lineitem scan, total from the 9-row digit
    table."""
    df = REGISTRY["q_ml_target_encode"].spark_fn(spark, sf_dir)
    plan = _plan(df)
    # output pass: orders (sample-filtered) + customer = exactly 2
    # scans; the stats join ran once, eagerly, into the checkpointed
    # 25-row per-nation table that both the stats and prior reuse
    assert plan.count("Scan parquet") == 2, plan
    assert "Scan ExistingRDD" in plan, plan
    b = _plan(REGISTRY["q_stats_benford"].spark_fn(spark, sf_dir))
    assert b.count("Scan parquet") == 0 and "Scan ExistingRDD" in b, b


def test_tpch_wave_plan_shapes(spark, sf_dir):
    """The TPC-H expansion keeps the canonical physical shapes: Q6's
    predicates push to the parquet scan; Q10/Q18's top-20 fuse to
    TakeOrdered (no global sort); Q7/Q8 broadcast their nation/region
    dims; Q4's EXISTS decorrelates to a semi join (no fact
    duplication)."""
    p6 = _plan(REGISTRY["q_tpch_q6"].spark_fn(spark, sf_dir))
    assert "PushedFilters: [" in p6 and "l_shipdate" in p6.split("PushedFilters:", 1)[1].splitlines()[0], p6
    for qid in ("q_tpch_q10", "q_tpch_q18"):
        p = _plan(REGISTRY[qid].spark_fn(spark, sf_dir))
        assert "TakeOrderedAndProject" in p, (qid, p)
    for qid, min_bcast in (("q_tpch_q7", 2), ("q_tpch_q8", 3)):
        p = _plan(REGISTRY[qid].spark_fn(spark, sf_dir))
        assert p.count("BroadcastExchange") >= min_bcast, (qid, p)
    p4 = _plan(REGISTRY["q_tpch_q4"].spark_fn(spark, sf_dir))
    assert "LeftSemi" in p4, p4
    # Q21's double-correlated EXISTS/NOT EXISTS decorrelates to one
    # semi and one anti join; Q16's NOT IN to an anti join
    p21 = _plan(REGISTRY["q_tpch_q21"].spark_fn(spark, sf_dir))
    assert "LeftSemi" in p21 and "LeftAnti" in p21, p21
    p16 = _plan(REGISTRY["q_tpch_q16"].spark_fn(spark, sf_dir))
    assert "LeftAnti" in p16, p16
    # Q20's nested IN decorrelates to semi joins
    p20 = _plan(REGISTRY["q_tpch_q20"].spark_fn(spark, sf_dir))
    assert "LeftSemi" in p20, p20


def test_r4_window_extension_plan_shapes(spark, sf_dir):
    """Shape assertions for the plan-sensitive r4-window extension ids
    that had none (CLAUDE.md convention). Each pins the invariant that
    makes the operator survive 100 TB, not incidental node counts."""
    # PQ ANN: centroid/codebook state is checkpointed (ExistingRDD) and
    # broadcast — corpus codes never move at query time
    p = _plan(REGISTRY["q_sim_pq_topk"].spark_fn(spark, sf_dir))
    assert "Scan ExistingRDD" in p and "BroadcastExchange" in p, p
    # PageRank (prepared path, VERDICT r5 #5): the final iteration
    # joins the BUCKETED edge scan (planned exchange-free on the edge
    # side — the only parquet scans are the bucketed table) against
    # checkpointed rank state (ExistingRDD: per-round localCheckpoint,
    # the r3 O(iters^2) lineage fix, would regress as source-table
    # parquet re-scans here); top-k fuses to TakeOrdered
    p = _plan(REGISTRY["q_graph_pagerank"].spark_fn(spark, sf_dir))
    assert "Scan ExistingRDD" in p, p
    assert p.count("Scan parquet") > 0 and "Bucketed: true" in p, p
    assert "lineitem" not in p, p  # source scan happened at prepare time only
    assert "TakeOrderedAndProject" in p, p
    # CMS heavy hitters: sketch broadcasts, top-k fuses to TakeOrdered
    # (never a global sort of the token counts)
    p = _plan(REGISTRY["q_text_heavy_hitters"].spark_fn(spark, sf_dir))
    assert "BroadcastExchange" in p and "TakeOrderedAndProject" in p, p
    # sharded HLL union: ONE scan feeds the two-level (shard, merge)
    # aggregation — partial aggregation present at both levels
    p = _plan(REGISTRY["q_scale_hll_shards"].spark_fn(spark, sf_dir))
    assert p.count("Scan parquet") == 1 and p.count("HashAggregate") >= 4, p
    # incremental aggregate merge: reading the month-sharded state
    # table and merging to years is ONE combinable shuffle
    p = _plan(REGISTRY["q_scale_incremental_agg"].spark_fn(spark, sf_dir))
    assert p.count("Exchange hashpartitioning") == 1, p
    # dedup pipeline: the CC fixpoint result is checkpointed state, not
    # re-derived lineage
    p = _plan(REGISTRY["q_dedup_pipeline"].spark_fn(spark, sf_dir))
    assert "Scan ExistingRDD" in p, p
    # containment dedup: candidate generation stays a bucketed
    # equi-join — any nested-loop/cartesian here is the quadratic bug
    p = _plan(REGISTRY["q_dedup_containment"].spark_fn(spark, sf_dir))
    assert "BroadcastNestedLoopJoin" not in p and "CartesianProduct" not in p, p
    # Davies-Bouldin: centroids are checkpointed; the only nested-loop
    # join is the broadcast k x k centroid-pair matrix (bounded by k,
    # corpus-independent)
    p = _plan(REGISTRY["q_cluster_quality"].spark_fn(spark, sf_dir))
    assert "Scan ExistingRDD" in p and p.count("BroadcastNestedLoopJoin") <= 1, p
    # r13 single-scan rule: the per-cluster S_i aggregate is
    # checkpointed k-row state — WITHOUT the cut the corpus-sized
    # aggregate is replicated under each broadcast build and the plan
    # carries 16 HashAggregate nodes (measured; 4 after)
    assert p.count("HashAggregate") <= 6, p.count("HashAggregate")


def test_no_low_cardinality_fact_windows(spark, sf_dir):
    """r4 bucketed-rank migration: the queries that rank/cumulate the
    FACT per low-cardinality key (event_type ~5, nation ~25, lang ~10)
    must window per (key, bucket) — a key-only window over the fact is
    one sequential task per key value at 100 TB. The offset table's
    per-key prefix window is fine (|keys|x|buckets| rows)."""
    import re

    for qid, key, order_head in (
        ("q_sample_balanced", "lang", "draw"),
        ("q_sample_neyman", "event_type", "draw"),
        ("q_stats_gini", "c_nationkey", "xs"),
        ("q_clean_winsorize", "event_type", "value"),
        ("q_win_distinct_running", "event_type", "ts"),
        ("q_sales_pareto", "c_nationkey", "rev"),
    ):
        p = _plan(REGISTRY[qid].spark_fn(spark, sf_dir))
        # no window spec of (key, <sort-key>) — i.e. key-only partition
        # ordered directly by the query's sort column
        assert not re.search(
            rf"windowspecdefinition\({key}#\d+L?, {order_head}#", p
        ), (qid, p)
        # the in-bucket window is present: (key, __bkt|bkt, ...)
        assert re.search(
            rf"windowspecdefinition\({key}#\d+L?, (__)?bkt#", p
        ), (qid, p)


def test_rfm_quintiles_have_no_global_window(spark, sf_dir):
    """q_events_rfm (rewritten r5): quintile assignment must not plan a
    global ntile window over the O(|users|) per-user table — the ranks
    come from the bucketed two-pass (windows partitioned by __bkt; the
    only partition-less windows run over the bounded |buckets| offset
    table, ordered by __bkt)."""
    import re

    p = _plan(REGISTRY["q_events_rfm"].spark_fn(spark, sf_dir))
    assert "ntile" not in p, p
    # no partition-less window ordered by a user metric
    for metric in ("recency_d", "freq", "monetary"):
        assert not re.search(rf"windowspecdefinition\({metric}#\d+L? ASC", p), (metric, p)
    assert re.search(r"windowspecdefinition\(__bkt#\d+L?,", p), p


def test_changepoint_windows_are_bucketed(spark, sf_dir):
    """q_events_changepoint's cumulative windows over the FACT must
    partition by (event_type, bkt) — event_type alone has ~5 values, so
    a type-only window is one sequential task per series at any scale.
    Only the |types|x|buckets| offset table may window per type."""
    import re

    p = _plan(REGISTRY["q_events_changepoint"].spark_fn(spark, sf_dir))
    # the in-bucket cumsum/row_number windows carry bkt in the spec
    assert re.search(r"windowspecdefinition\(event_type#\d+L?, bkt#", p), p
    # no window over the fact partitioned by type alone and ordered by
    # event time (the pre-rewrite shape)
    assert not re.search(r"windowspecdefinition\(event_type#\d+L?, ts#", p), p


def test_tpch_r5_window_plan_shapes(spark, sf_dir):
    """Pin the remaining TPC-H analogues entering the r5 driver window
    (q12-q15/q17/q19/q22 had no shape assertions). Each pins the
    invariant that carries to 100 TB, not incidental node counts."""
    # Q12: the ship-date range reaches the lineitem parquet scan, so
    # the fact⋈fact join starts pruned; conditional counts partial-agg
    p12 = _plan(REGISTRY["q_tpch_q12"].spark_fn(spark, sf_dir))
    pushed12 = p12.split("PushedFilters:", 1)[1].splitlines()[0]
    assert "GreaterThanOrEqual(l_shipdate" in pushed12, p12
    assert "partial_sum" in p12 and "CartesianProduct" not in p12, p12
    # Q13: zero-order customers survive — the join stays LeftOuter —
    # and both cascaded aggregates partial-combine map-side
    p13 = _plan(REGISTRY["q_tpch_q13"].spark_fn(spark, sf_dir))
    assert "LeftOuter" in p13, p13
    assert p13.count("HashAggregate") >= 4, p13  # 2 aggs x partial/final
    # Q14: one-month shipdate slice pushed to the scan; single global
    # aggregate partial-combines
    p14 = _plan(REGISTRY["q_tpch_q14"].spark_fn(spark, sf_dir))
    pushed14 = p14.split("PushedFilters:", 1)[1].splitlines()[0]
    assert "l_shipdate" in pushed14, p14
    assert "partial_sum" in p14 and "CartesianProduct" not in p14, p14
    # Q15: the revenue view is checkpoint-materialized (ExistingRDD) —
    # lineitem is aggregated ONCE inside the checkpoint; the only
    # parquet scan left downstream is supplier; the max-revenue scalar
    # joins without any nested-loop shape over it
    p15 = _plan(REGISTRY["q_tpch_q15"].spark_fn(spark, sf_dir))
    assert "Scan ExistingRDD" in p15, p15
    assert p15.count("Scan parquet") == 1, p15
    assert "CartesianProduct" not in p15, p15
    # Q17: the brand/size filter reaches the part scan; the per-part
    # threshold table broadcasts back (never the fact); no cartesian
    p17 = _plan(REGISTRY["q_tpch_q17"].spark_fn(spark, sf_dir))
    assert "EqualTo(p_brand,Brand#1)" in p17, p17
    assert "BroadcastExchange" in p17 and "CartesianProduct" not in p17, p17
    # Q19: the disjunctive (brand, size, quantity) predicate derives
    # per-side filters pushed to BOTH parquet scans — the scans start
    # pruned even though the OR spans the join
    p19 = _plan(REGISTRY["q_tpch_q19"].spark_fn(spark, sf_dir))
    assert "Or(Or(And(GreaterThanOrEqual(l_quantity" in p19, p19
    assert "Or(Or(And(EqualTo(p_brand,Brand#1)" in p19, p19
    assert "CartesianProduct" not in p19, p19
    # Q22: NOT EXISTS decorrelates to an anti join; the scalar average
    # is the only nested-loop shape (1-row broadcast)
    p22 = _plan(REGISTRY["q_tpch_q22"].spark_fn(spark, sf_dir))
    assert "LeftAnti" in p22, p22
    assert "CartesianProduct" not in p22, p22


def test_tpch_hard_subquery_plan_shapes(spark, sf_dir):
    """VERDICT r3 #5: pin the physical shapes of the remaining hard
    TPC-H analogues — Q2 (min-cost join-back), Q9 (five-table profit
    rollup), Q11 (scalar-threshold HAVING over a checkpointed
    aggregate), and Q21's full shape (the likeliest silent-plan
    regression in the suite)."""
    # Q2: part/nation/region/min-cost all broadcast; top-20 fuses to
    # TakeOrdered; no cartesian anywhere
    p2 = _plan(REGISTRY["q_tpch_q2"].spark_fn(spark, sf_dir))
    assert "TakeOrderedAndProject" in p2, p2
    assert p2.count("BroadcastExchange") >= 4, p2
    assert "CartesianProduct" not in p2, p2
    # Q9: the part filter reaches the parquet scan (StringContains on
    # p_name) so the fact join starts pruned; nation broadcasts; the
    # rollup keeps map-side partial aggregation
    p9 = _plan(REGISTRY["q_tpch_q9"].spark_fn(spark, sf_dir))
    assert "StringContains(p_name,red)" in p9, p9
    assert "BroadcastExchange" in p9, p9
    assert p9.count("HashAggregate") >= 2 and "partial_sum" in p9, p9
    # Q11: the per-part value aggregate is checkpoint-materialized, so
    # the final plan reads the ExistingRDD — lineitem is scanned ONCE
    # (inside the checkpoint), zero parquet scans remain downstream —
    # and the top-50 fuses to TakeOrdered
    p11 = _plan(REGISTRY["q_tpch_q11"].spark_fn(spark, sf_dir))
    assert "Scan ExistingRDD" in p11 and p11.count("Scan parquet") == 0, p11
    assert "TakeOrderedAndProject" in p11, p11
    assert "CartesianProduct" not in p11, p11  # scalar total is broadcast
    # Q21 full shape: exactly one semi-decorrelated EXISTS pair — one
    # LeftSemi on orders, one residual LeftSemi + one LeftAnti on the
    # lineitem self-joins — plus broadcast nation and TakeOrdered top-20
    p21 = _plan(REGISTRY["q_tpch_q21"].spark_fn(spark, sf_dir))
    assert p21.count("LeftSemi") >= 3, p21  # orders, l2 self-join, nation
    assert p21.count("LeftAnti") == 1, p21
    assert "BroadcastExchange" in p21, p21
    assert "TakeOrderedAndProject" in p21, p21
    assert "CartesianProduct" not in p21, p21


def test_join_bloom_semi_prefilter_shape(spark, sf_dir):
    """q_join_bloom's runtime-filter posture: the fact side passes a
    broadcast LEFT-SEMI bucket probe BEFORE the exact join's exchange
    (shuffle bytes track dim selectivity, not fact size), the sketch
    side is a broadcast (bounded by m, never O(|dim|)), and the dim's
    selective predicates still push into the part scan."""
    df = REGISTRY["q_join_bloom"].spark_fn(spark, sf_dir)
    plan = _plan(df)
    assert "LeftSemi" in plan, plan
    assert "BroadcastExchange" in plan, plan
    assert "PushedFilters: [" in plan and "p_brand" in plan, plan


def test_pagerank_prepared_edges_no_edge_exchange(spark, sf_dir, tmp_path):
    """pagerank(prepared=True) over a prepare_pagerank_edges table:
    bit-identical ranks to the un-prepared run, and — with broadcast
    disabled, as at 100 TB — the per-iteration rank join reads the
    bucketed edge scan with NO exchange on the edge side (count of
    hash exchanges must not grow with the O(|E|) side; only the rank
    side and the dst re-aggregation shuffle)."""
    from pyspark.sql import functions as F

    from datafusion_wasm_bindings_spark.operators.graph import (
        pagerank,
        prepare_pagerank_edges,
    )

    edges = spark.createDataFrame(
        [(i % 23, (i * 7 + 1) % 23) for i in range(300)], "src long, dst long"
    )
    plain = pagerank(edges, iters=2)
    prep = prepare_pagerank_edges(
        spark, edges, "bkt_pr_edges", buckets=4, path=str(tmp_path / "pr")
    )
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        got = pagerank(prep, iters=2, prepared=True)
        assert sorted(map(tuple, got.collect())) == sorted(
            map(tuple, plain.collect())
        )
        # one iteration's join shape: bucketed scan on the edge side
        ranks = prep.select(F.col("src").alias("node")).distinct().select(
            "node", F.lit(1.0).alias("rank")
        )
        j = prep.join(ranks.withColumnRenamed("node", "src"), "src")
        plan = _plan(j)
        assert "SortMergeJoin" in plan, plan
        # at most ONE hash exchange (the rank side when it is not
        # already co-partitioned; here it derives from the same
        # bucketed scan, so even that disappears) — the bucketed edge
        # scan itself must plan none
        assert plan.count("Exchange hashpartitioning") <= 1, plan
        assert "Bucketed: true" in plan, plan
    finally:
        spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
        spark.sql("DROP TABLE IF EXISTS bkt_pr_edges")


def test_prepared_pagerank_scan_is_sorted_without_the_session_conf(spark, tmp_path):
    """The sorted bucketed scan travels with the operator: in a session
    with bucketedTableScan.outputOrdering set to false,
    prepare_pagerank_edges still returns a scan that reports its sortBy
    order, so the prepared round's sort-merge join plans neither a Sort
    nor an Exchange on the edge side."""
    from datafusion_wasm_bindings_spark.operators.graph import (
        pagerank,
        prepare_pagerank_edges,
    )

    conf = "spark.sql.legacy.bucketedTableScan.outputOrdering"
    edges = spark.createDataFrame(
        [(i % 13, (i * 3 + 1) % 13) for i in range(200)], "src long, dst long"
    )
    buckets = int(spark.conf.get("spark.sql.shuffle.partitions"))
    spark.conf.set(conf, "false")
    try:
        prep = prepare_pagerank_edges(
            spark, edges, "bkt_pr_sorted", buckets=buckets, path=str(tmp_path / "pr")
        )
        plan = _plan(pagerank(prep, iters=1, prepared=True))
        assert "Bucketed: true" in plan, plan
        # the rank join's left child is the edge side, down to its scan
        edge_side = plan.split("SortMergeJoin [src", 1)[1].split("FileScan parquet", 1)[0]
        assert "Sort " not in edge_side and "Exchange" not in edge_side, plan
    finally:
        spark.conf.unset(conf)
        spark.sql("DROP TABLE IF EXISTS bkt_pr_sorted")


def test_bfs_cc_prepared_edges_identity_and_bucketed_scan(spark, sf_dir, tmp_path):
    """prepare_bfs_edges / prepare_cc_edges: results identical to the
    un-prepared operators, and the per-round edge side is a bucketed
    file scan (no exchange above it with broadcast disabled)."""
    from pyspark.sql import functions as F

    from datafusion_wasm_bindings_spark.operators.dedup import (
        connected_components,
        prepare_cc_edges,
    )
    from datafusion_wasm_bindings_spark.operators.graph import (
        bfs_levels,
        prepare_bfs_edges,
    )

    edges = spark.createDataFrame(
        [(i % 17, (i * 5 + 1) % 17) for i in range(120)], "src long, dst long"
    )
    try:
        prep_b = prepare_bfs_edges(
            spark, edges, "bkt_bfs_edges", buckets=4, path=str(tmp_path / "b")
        )
        got = bfs_levels(prep_b, 0, max_depth=3, prepared=True)
        want = bfs_levels(edges, 0, max_depth=3)
        assert sorted(map(tuple, got.collect())) == sorted(map(tuple, want.collect()))

        pairs = edges.select(
            F.col("src").alias("id_a"), F.col("dst").alias("id_b")
        ).filter("id_a != id_b")
        # bucket count must match the join's partitioning (here
        # spark.sql.shuffle.partitions=32) or the planner disables the
        # bucketed scan rather than de-parallelize the other side —
        # the sizing rule prepare_*_edges documents
        prep_c = prepare_cc_edges(
            spark, pairs, "bkt_cc_edges", buckets=32, path=str(tmp_path / "c")
        )
        got_c = connected_components(prep_c, prepared=True)
        want_c = connected_components(pairs)
        assert sorted(map(tuple, got_c.collect())) == sorted(
            map(tuple, want_c.collect())
        )

        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        labels = prep_c.select(F.col("a").alias("node")).distinct().select(
            "node", F.col("node").alias("comp")
        )
        j = prep_c.join(labels.select(F.col("node").alias("b"), "comp"), "b")
        plan = _plan(j)
        assert "Bucketed: true" in plan, plan
        # label side pays its own exchanges (distinct + join
        # repartition here; one per round in the real operator) — the
        # point is the EDGE side: its bucketed scan must sit directly
        # under the SMJ with NEITHER an exchange NOR a sort between
        # (r13: write_bucketed's one-file-per-bucket layout + the
        # bucketedTableScan.outputOrdering conf make the scan's sortBy
        # order visible, so the edge-side Sort is gone too)
        edge_side = plan.split("SortMergeJoin", 1)[1].split("FileScan parquet", 1)[0]
        assert "Exchange" not in edge_side and "Sort " not in edge_side, plan
    finally:
        spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
        spark.sql("DROP TABLE IF EXISTS bkt_bfs_edges")
        spark.sql("DROP TABLE IF EXISTS bkt_cc_edges")


def test_drift_stats_single_fact_scan(spark, sf_dir):
    """q_ml_auc / q_ml_ks_drift / q_ml_psi: the distinct-score (or
    bin) table is localCheckpointed, so the FACT scan + combinable
    aggregate run exactly once — the offset/rank/totals branches all
    read the materialized cells (the r3 contingency-cells pattern;
    uncut, each branch re-ran the documents scan)."""
    for qid in ("q_ml_auc", "q_ml_ks_drift", "q_ml_psi"):
        df = REGISTRY[qid].spark_fn(spark, sf_dir)
        plan = _plan(df)
        assert plan.count("Scan parquet") == 0, (qid, plan)
        assert "Scan ExistingRDD" in plan, (qid, plan)


def test_rrf_take_ordered_topk(spark, sf_dir):
    """q_rank_rrf: the fused-score top-10 must plan as TakeOrdered
    (per-partition top-k then driver merge — never a global sort),
    and the two global ranks come from bucketed_rank, so no
    partition-less window may order by a score column (the registry
    lint asserts this too; pinned here for the query's own contract).
    Single-scan rule: the score table and the first rank are
    localCheckpointed, so the final plan reads materialized RDDs —
    zero parquet scans (uncut, the dot-product scan re-ran ~6× through
    the nested bucketed_rank lineage: 12.7 s vs 8.0 s at 1M rows,
    BASELINE.md)."""
    df = REGISTRY["q_rank_rrf"].spark_fn(spark, sf_dir)
    plan = _plan(df)
    assert "TakeOrderedAndProject" in plan, plan
    assert plan.count("Scan parquet") == 0, plan
    assert "Scan ExistingRDD" in plan, plan


def test_semantic_dedup_broadcast_rep(spark, sf_dir):
    """q_dedup_semantic: the k-row representative table must attach to
    the corpus-sized assignment via BROADCAST join (bounded by k) —
    a shuffle join here would re-exchange the whole corpus."""
    df = REGISTRY["q_dedup_semantic"].spark_fn(spark, sf_dir)
    plan = _plan(df)
    assert "BroadcastHashJoin" in plan, plan


def test_approx_rank_contract_broadcasts_sketch_frame(spark, sf_dir):
    """q_fn_approx_median / q_fn_approx_percentile (r6 rank-epsilon
    rewrite): the join-back must build on the BOUNDED |groups|-row
    sketch frame (BROADCAST(a) hint), never on the fact scan — the
    static planner's size estimates would otherwise broadcast raw
    lineitem at fixture scale, which inverts at 100 TB."""
    for qid in ("q_fn_approx_median", "q_fn_approx_percentile"):
        jplan = (
            REGISTRY[qid]
            .spark_fn(spark, sf_dir)
            ._jdf.queryExecution()
            .executedPlan()
        )
        joins = _find_nodes(jplan, "BroadcastHashJoin")
        assert joins, (qid, jplan.toString())
        # the BUILD side subtree of the join must contain the
        # percentile aggregate — not merely "percentile appears
        # somewhere after the first BroadcastExchange in the plan
        # string", which an unrelated earlier broadcast would satisfy
        # (ADVICE r6)
        build_ok = []
        for j in joins:
            build = (
                j.left()
                if "Left" in j.buildSide().toString()
                else j.right()
            )
            build_ok.append("percentile" in build.toString())
        assert any(build_ok), (qid, jplan.toString())


def test_ann_index_builds_are_shuffle_free(spark):
    """IVF/PQ index-build invariant: the corpus pass never shuffles.
    `_assign_cells` (IVF nearest-cell) and `_encode_codes` (PQ encode)
    are each one MapInArrow running the numpy argmin over Arrow
    batches — no hash-partitioning Exchange, no Window (the old PQ
    seeding ran a PARTITION BY sub_id window = m sequential partitions
    over the whole corpus), and no interpreted array_min/transform
    argmin projection."""
    from pyspark.sql import functions as F

    from datafusion_wasm_bindings_spark.operators.similarity import (
        _assign_cells,
        _encode_codes,
    )

    base = spark.range(1000).select(
        F.col("id").alias("vec_id"),
        F.array(
            *[F.pmod(F.xxhash64(F.col("id") * 8 + d), F.lit(101)).cast("double") for d in range(8)]
        ).alias("v"),
    )
    cents = [[float(j * 8 + d) for d in range(8)] for j in range(4)]
    books = [[[float(c) for _ in range(4)] for c in range(4)] for _ in range(2)]
    for p in (_plan(_assign_cells(base, cents)), _plan(_encode_codes(base, books, 4))):
        assert "MapInArrow" in p, p
        for gone in ("Exchange hashpartitioning", "Window", "array_min", "transform"):
            assert gone not in p, (gone, p)


def test_multimodal_dedup_exchange_carries_digest_only(spark, sf_dir):
    """q_multimodal_dedup (r10 widerow convention): the md5 prehash
    means every exchange in the plan is keyed on (and carries) the
    32-char digest — the binary media payload must never reach a
    shuffle. The widerow probe measures the same contract in bytes
    (36-43 B/row at any payload width); this pins the plan shape."""
    df = REGISTRY["q_multimodal_dedup"].spark_fn(spark, sf_dir)
    jplan = df._jdf.queryExecution().executedPlan()
    exchanges = _find_nodes(jplan, "Exchange")
    assert exchanges, "expected at least one exchange (groupBy key)"
    for ex in exchanges:
        out_cols = ex.output().mkString(", ")
        assert "media" not in out_cols, out_cols
        assert "text" not in out_cols, out_cols


def test_substring_dedup_plan_shape(spark, sf_dir):
    """q_dedup_substring (r9): one parquet scan, map-side explode
    (Generate) into the span projection, ONE combinable
    groupBy(span) aggregation pair — the distinct doc-count rewrite
    adds its Expand exchange, so at most TWO hashpartitioning
    exchanges total — and the top-50 fuses to TakeOrdered (never a
    global sort). No join, no cartesian, no window."""
    df = REGISTRY["q_dedup_substring"].spark_fn(spark, sf_dir)
    plan = _plan(df)
    assert plan.count("Scan parquet") == 1, plan
    assert "Generate explode" in plan or "Generate" in plan, plan
    assert plan.count("hashpartitioning") <= 2, plan
    assert "TakeOrderedAndProject" in plan, plan
    assert "CartesianProduct" not in plan and "SortMergeJoin" not in plan, plan
    assert "Window" not in plan, plan


def test_regexp_match_shim_is_arrow_vectorized(spark):
    """VERDICT r11 #3: the one remaining SQL-callable Python function,
    ``dfwb_regexp_match`` (column patterns — no builtin composes), must
    be the Arrow-batched pandas_udf path, never row-at-a-time Python:
    evalType SQL_SCALAR_PANDAS_UDF (200) and an ArrowEvalPython plan
    node (BatchEvalPython is the per-row serializer)."""
    from pyspark.sql.udf import PythonEvalType

    from datafusion_wasm_bindings_spark.functions import shims

    shims.ensure_registered(spark)
    assert (
        shims._regexp_match_udf.evalType == PythonEvalType.SQL_SCALAR_PANDAS_UDF
    )
    df = spark.sql(
        "SELECT dfwb_regexp_match(s, p) AS m "
        "FROM (SELECT 'abc123' AS s, '([a-c]+)' AS p)"
    )
    plan = _plan(df)
    assert "ArrowEvalPython" in plan, plan
    assert "BatchEvalPython" not in plan, plan
    assert [r["m"] for r in df.collect()] == [["abc"]]


def test_no_row_at_a_time_python_udfs_in_package():
    """No ``F.udf(``/``@udf`` row-at-a-time registration anywhere in the
    package source: Python in the plan tree is allowed only via Arrow
    (pandas_udf / mapInPandas / applyInPandas / UDTF)."""
    import pathlib
    import re

    pkg = pathlib.Path(__file__).resolve().parents[1] / "datafusion_wasm_bindings_spark"
    offenders = []
    for p in pkg.rglob("*.py"):
        src = p.read_text()
        for m in re.finditer(r"(?<![\w.])(?:F\.)?udf\s*\(", src):
            # allow pandas_udf (matched via lookbehind exclusion of '_')
            offenders.append((str(p), src[: m.start()].count("\n") + 1))
    assert not offenders, offenders


def test_pagerank_prepared_round_join_never_broadcast_builds_edges(
    spark, tmp_path
):
    """r12 fix: with broadcast at DEFAULTS the static planner used to
    broadcast-BUILD the O(|E|) edge table each round (BroadcastHashJoin
    Inner BuildLeft over the file scan — the checkpointed rank side has
    unknown stats and can never be the build side), silently disabling
    the bucketed scan. The merge hint in prepared mode pins the
    documented round shape: every Inner equi-join in the final round's
    plan is a SortMergeJoin over the still-bucketed edge scan
    (plans/r12/q_graph_pagerank_{before,after}.txt)."""
    from pyspark.sql import functions as F  # noqa: F401 — parity with siblings

    from datafusion_wasm_bindings_spark.operators.graph import (
        pagerank,
        prepare_pagerank_edges,
    )

    edges = spark.createDataFrame(
        [(i % 13, (i * 3 + 1) % 13) for i in range(200)], "src long, dst long"
    )
    buckets = int(spark.conf.get("spark.sql.shuffle.partitions"))
    prep = prepare_pagerank_edges(
        spark, edges, "bkt_pr_hint", buckets=buckets, path=str(tmp_path / "pr")
    )
    try:
        plan = _plan(pagerank(prep, iters=1, prepared=True))
        inner_joins = [
            ln for ln in plan.splitlines() if "Join" in ln and "Inner" in ln
        ]
        assert inner_joins, plan
        assert all("SortMergeJoin" in ln for ln in inner_joins), plan
        assert "BroadcastHashJoin" not in "".join(inner_joins), plan
        assert "Bucketed: true" in plan, plan
        assert "disabled by query planner" not in plan, plan
    finally:
        spark.sql("DROP TABLE IF EXISTS bkt_pr_hint")
