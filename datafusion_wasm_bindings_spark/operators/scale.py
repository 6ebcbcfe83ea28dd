"""Scale machinery: skew-salted joins and bucketed co-located joins.

The task's 100 TB posture names three levers for the shuffles that
built-in planning can't fix alone (SURVEY.md §7.6 "Scale posture"):
AQE (enabled at session build — session.py), key salting for skew, and
bucketing for co-located joins. AQE's skew-join split only kicks in
when runtime partition stats cross thresholds; salting is the
plan-level guarantee, and bucketing removes the shuffle entirely for
repeated joins on the same key. Both are implemented here as reusable
DataFrame transforms, semantics-checked against a plain join oracle
(queries/extensions.py:q_join_salted) and plan-shape-checked in
tests/test_plans.py.

Salting (equi inner/left join, skewed LEFT side):
  left gets a uniform random salt in [0, factor); right is replicated
  ``factor`` times via a literal salt array + explode. Joining on
  (key, salt) splits each hot key's rows across ``factor`` reducer
  partitions. Cost: right side inflates ×factor — use for
  fact ⋈ medium-dim where the dim is too big to broadcast but ×factor
  copies still shuffle cheaply.

Bucketing:
  both sides written once with ``bucketBy(n, key)`` + sortBy; every
  later equi-join on that key sort-merge-joins with NO exchange on
  either side (plan shows zero ``Exchange hashpartitioning``). The
  write cost amortizes across repeated joins — the standard layout for
  a 100 TB fact table joined nightly on the same key.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from datafusion_wasm_bindings_spark.operators.checkpoint import cut, release


def salted_join(
    left: DataFrame,
    right: DataFrame,
    on: str,
    *,
    factor: int = 8,
    how: str = "inner",
) -> DataFrame:
    """Equi-join ``left`` ⋈ ``right`` on column ``on``, salting the
    (assumed skewed) left side across ``factor`` sub-keys.

    Result is column-identical to ``left.join(right, on, how)`` for
    ``inner``/``left`` joins: output = left columns then right columns
    minus the join key, matching Spark's USING-join column order.
    """
    if how not in ("inner", "left"):
        raise ValueError(f"salted_join supports inner/left, got {how!r}")
    salt = (F.rand(seed=42) * factor).cast("int")
    lhs = left.withColumn("__salt", salt)
    rhs = right.withColumn(
        "__salt", F.explode(F.array(*[F.lit(i) for i in range(factor)]))
    )
    joined = lhs.join(rhs, [on, "__salt"], how)
    return joined.drop("__salt")


def write_bucketed(
    df: DataFrame,
    table_name: str,
    key: str,
    *,
    buckets: int = 8,
    path: str | None = None,
) -> None:
    """Persist ``df`` as a bucketed+sorted managed table (overwrite).

    Bucket count should divide evenly into target parallelism; at
    100 TB you'd size buckets so each is a few hundred MB.

    The write lays out ONE FILE PER BUCKET: the bucketed scan only
    reports the sortBy ordering when each bucket is a single file, and
    without it every downstream sort-merge join re-sorts the full
    table on EVERY read — measured r13 on q_graph_pagerank, whose
    per-round SMJ carried a Sort over the 1.18M-row edge side in all
    3 rounds. ``repartition(buckets, key)`` uses the same
    Murmur3-pmod hash as bucketBy, so each task receives exactly one
    bucket's rows — but the repartition must be MATERIALIZED
    (a lineage cut, operators/checkpoint.py) before the write: inside the V1 write command's
    re-planned query the optimizer drops a top-level repartition that
    sits above a union-fed pipeline (measured: 288 task×bucket files
    instead of 32, with or without AQE coalescing), and the barrier is
    the only arrangement that survives every caller's plan shape. A
    local cut's blocks are freed once the files are committed."""
    aligned = cut(df.repartition(buckets, F.col(key)))
    try:
        writer = (
            aligned.write.mode("overwrite")
            .bucketBy(buckets, key)
            .sortBy(key)
            .format("parquet")
        )
        if path is not None:
            writer = writer.option("path", path)
        writer.saveAsTable(table_name)
    finally:
        release(aligned)


def sorted_bucketed_scan(spark: SparkSession, table_name: str) -> DataFrame:
    """Scan a table written by ``write_bucketed`` with its sortBy order
    visible to the planner, whatever session it runs in.

    Bucketed scans report their sortBy ordering (only possible when
    each bucket is ONE file — ``write_bucketed`` guarantees that
    layout) only under the legacy conf set here: downstream sort-merge
    joins then skip re-sorting the bucketed side on EVERY read.
    Measured r13 on q_graph_pagerank: the per-round SMJ's Sort over the
    1.18M-row edge side disappears from the plan (plans/r13). Cost:
    planning lists files of bucketed tables — only the repo's own
    prepared tables, and at 100 TB one listing per plan vs a
    full-table sort per iteration is the right trade."""
    spark.conf.set("spark.sql.legacy.bucketedTableScan.outputOrdering", "true")
    return spark.table(table_name)


def bucketed_join(
    spark: SparkSession,
    left_table: str,
    right_table: str,
    on: str,
    how: str = "inner",
) -> DataFrame:
    """Join two tables previously written by ``write_bucketed`` on the
    same key/bucket-count: Spark plans a sort-merge join with no
    exchange on either side."""
    return sorted_bucketed_scan(spark, left_table).join(
        sorted_bucketed_scan(spark, right_table), on, how
    )


def _idiv(num: F.Column, den: F.Column) -> F.Column:
    """Exact integer floor-division for non-negative operands: the
    remainder is removed before dividing, so the double division is of
    exactly-divisible ints (< 2^53) and lossless."""
    return ((num - F.pmod(num, den)) / den).cast("long")


def zorder_key(x: F.Column, y: F.Column, *, bits: int = 8) -> F.Column:
    """Morton (z-order) key interleaving the low ``bits`` of two
    already-quantized non-negative ints: bit i of x lands at position
    2i+1, bit i of y at 2i."""
    parts = []
    for i in range(bits):
        parts.append(F.shiftleft(F.shiftright(x, i).bitwiseAND(F.lit(1)), 2 * i + 1))
        parts.append(F.shiftleft(F.shiftright(y, i).bitwiseAND(F.lit(1)), 2 * i))
    z = parts[0]
    for p in parts[1:]:
        z = z + p
    return z


def zorder_bucket_stats(
    df: DataFrame,
    x: str,
    y: str,
    *,
    bits: int = 8,
    bucket_bits: int = 4,
) -> DataFrame:
    """Z-order (Morton-curve) layout planning: quantize two integer
    dimensions to ``bits`` bits each against their global min/max,
    interleave into a z-key, and split the keyspace into
    ``2**bucket_bits`` contiguous z-ranges — the file boundaries a
    z-ordered rewrite (OPTIMIZE ... ZORDER BY in lakehouse engines)
    would produce. Returns per-bucket row counts and min/max of BOTH
    dimensions: bounded ranges on both axes are what lets min/max file
    stats skip files for predicates on EITHER column, which a plain
    sort can only deliver for its leading key.

    Scale: the min/max pre-pass is a 4-value broadcast (at 100 TB these
    come free from table-level stats); the z-key is a pure map; the
    per-bucket stats are one aggregation shuffle of 2^bucket_bits
    groups. An actual rewrite would ``repartitionByRange`` on the
    z-key with the same bucket boundaries.
    """
    stats = df.agg(
        F.min(x).alias("__xmn"),
        F.max(x).alias("__xmx"),
        F.min(y).alias("__ymn"),
        F.max(y).alias("__ymx"),
    )
    scale = (1 << bits) - 1

    def _quant(c: str, mn: str, mx: str) -> F.Column:
        den = F.col(mx) - F.col(mn)
        return F.when(den == 0, F.lit(0).cast("long")).otherwise(
            _idiv((F.col(c) - F.col(mn)) * scale, den)
        )

    j = df.crossJoin(F.broadcast(stats))
    z = zorder_key(_quant(x, "__xmn", "__xmx"), _quant(y, "__ymn", "__ymx"), bits=bits)
    return (
        j.withColumn("zbucket", F.shiftright(z, 2 * bits - bucket_bits))
        .groupBy("zbucket")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.min(x).alias("x_min"),
            F.max(x).alias("x_max"),
            F.min(y).alias("y_min"),
            F.max(y).alias("y_max"),
        )
    )


_DEC = "decimal(18,6)"


def partial_aggregate(
    df: DataFrame, shard_col: F.Column, group_cols: list[str], value_col: str
) -> DataFrame:
    """Mergeable per-shard aggregate state — the incremental-rollup
    pattern for a 100 TB append-only table: each shard (day, month,
    ingest batch) reduces to (shard, groups, cnt, vsum) once; global
    totals come from merging the tiny state rows, never rescanning
    history, and a late shard only recomputes its own slice.

    ``vsum`` carries the decimal-quantized sum (queries/_util.py
    recipe), so partial states merge EXACTLY regardless of merge order
    or regrouping — the property that makes the state a valid
    commutative monoid (what Spark's own partial aggregation relies on
    internally, surfaced here as a persistable table)."""
    return df.groupBy(shard_col.alias("shard"), *group_cols).agg(
        F.count(F.lit(1)).alias("cnt"),
        F.sum(F.col(value_col).cast(_DEC)).alias("vsum"),
    )


def merge_partial_aggregates(state: DataFrame, group_cols: list[str]) -> DataFrame:
    """Fold persisted partial states into final totals: counts add,
    decimal sums add exactly; ``n_partials`` reports how many shard
    states merged into each group."""
    return state.groupBy(*group_cols).agg(
        F.count(F.lit(1)).alias("n_partials"),
        F.sum("cnt").alias("n_rows"),
        F.sum("vsum").cast("double").alias("vtotal"),
    )


def bucketed_rank(
    df: DataFrame,
    partition_cols: list[str],
    bucket: F.Column,
    order_cols: list[F.Column],
    *,
    rank_col: str = "rn",
) -> DataFrame:
    """Per-partition-key row_number WITHOUT a per-key fact window — the
    two-pass bucketed rewrite (q_pipeline_rownum's shape, generalized).

    A window ``PARTITION BY key ORDER BY ...`` over a fact table with a
    low-cardinality key (event_type ~ 5, nation ~ 25, language ~ 10)
    runs ONE sequential task per key value regardless of input size — a
    hard fail at 100 TB. Here the caller supplies a ``bucket`` column
    that is MONOTONE non-decreasing in the ``order_cols`` ordering (a
    range bucket of the leading sort key: a time bucket, a value-range
    bucket, an md5-prefix bucket for content-addressed draws). Then:

    1. one map-side-combinable shuffle counts rows per (key, bucket);
    2. the |keys|x|buckets| table takes its per-key EXCLUSIVE prefix
       sum in a driver-trivial window and broadcasts back;
    3. row_number runs windowed per (key, bucket) — parallel, bounded
       by bucket width — and the offset lifts it to the per-key rank.

    The result is row-for-row identical to the naive window (bucket
    monotonicity makes cross-bucket order agree with ``order_cols``;
    the caller's order must be total, i.e. include a tiebreak id, and
    ASCENDING — for descending order pass a negated bucket and
    desc order_cols is on the caller).

    NULL order keys: a NULL leading key yields a NULL bucket, which an
    equi-join would silently DROP — so NULL buckets are coalesced to a
    minimal sentinel, placing those rows in the first bucket exactly
    like the naive ascending window's default NULLS FIRST (the
    in-bucket window then orders them by the caller's order_cols).

    NULL partition keys: the naive window keeps NULL as its own
    partition (window partitioning, like groupBy, groups NULL keys
    together), so the offset join back uses NULL-SAFE equality
    (``eqNullSafe``) on the partition columns — a plain equi-join would
    silently drop every NULL-keyed row (ADVICE r4).
    """
    from pyspark.sql import Window

    b = df.withColumn(
        "__bkt", F.coalesce(bucket.cast("long"), F.lit(-(1 << 62)))
    )
    counts = b.groupBy(*partition_cols, "__bkt").agg(F.count(F.lit(1)).alias("__n"))
    w_pref = (
        Window.partitionBy(*partition_cols)
        .orderBy(F.col("__bkt").asc())
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    offs = counts.select(
        *[F.col(c).alias(f"__pk{i}") for i, c in enumerate(partition_cols)],
        F.col("__bkt").alias("__bkt_r"),
        F.coalesce(F.sum("__n").over(w_pref), F.lit(0)).alias("__off"),
    )
    cond = F.col("__bkt") == F.col("__bkt_r")
    for i, c in enumerate(partition_cols):
        cond = cond & F.col(c).eqNullSafe(F.col(f"__pk{i}"))
    w_b = Window.partitionBy(*partition_cols, "__bkt").orderBy(*order_cols)
    return (
        b.join(F.broadcast(offs), cond)
        .withColumn(rank_col, (F.row_number().over(w_b) + F.col("__off")).cast("long"))
        .drop("__bkt", "__bkt_r", "__off", *[f"__pk{i}" for i in range(len(partition_cols))])
    )


def bucketed_prefix_sum(
    df: DataFrame,
    partition_cols: list[str],
    bucket: F.Column,
    order_cols: list[F.Column],
    value: F.Column,
    *,
    sum_col: str = "run_sum",
) -> DataFrame:
    """Per-partition-key INCLUSIVE running sum of ``value`` WITHOUT a
    per-key fact window — ``bucketed_rank``'s two-pass rewrite applied
    to cumulative sums (the CUSUM/Pareto recipe, generalized): one
    map-combinable shuffle sums ``value`` per (key, bucket); the
    |keys|x|buckets| table takes its per-key EXCLUSIVE prefix in a
    bounded window and broadcasts back; the in-bucket running sum adds
    the offset. Row-identical to
    ``sum(value) OVER (PARTITION BY key ORDER BY order_cols ROWS
    UNBOUNDED PRECEDING)`` when ``bucket`` is monotone non-decreasing
    in the ``order_cols`` ordering and the order is total (include a
    tiebreak id). Exactness is the CALLER's contract: pass integer or
    DECIMAL ``value`` so partial sums commute; NULL buckets coalesce
    to the first-bucket sentinel and the offset join-back is NULL-SAFE
    on the partition keys, both exactly as in ``bucketed_rank``.
    """
    from pyspark.sql import Window

    b = df.withColumn(
        "__bkt", F.coalesce(bucket.cast("long"), F.lit(-(1 << 62)))
    ).withColumn("__v", value)
    sums = b.groupBy(*partition_cols, "__bkt").agg(F.sum("__v").alias("__s"))
    w_pref = (
        Window.partitionBy(*partition_cols)
        .orderBy(F.col("__bkt").asc())
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    offs = sums.select(
        *[F.col(c).alias(f"__pk{i}") for i, c in enumerate(partition_cols)],
        F.col("__bkt").alias("__bkt_r"),
        F.sum("__s").over(w_pref).alias("__off"),
    )
    cond = F.col("__bkt") == F.col("__bkt_r")
    for i, c in enumerate(partition_cols):
        cond = cond & F.col(c).eqNullSafe(F.col(f"__pk{i}"))
    w_b = (
        Window.partitionBy(*partition_cols, "__bkt")
        .orderBy(*order_cols)
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return (
        b.join(F.broadcast(offs), cond)
        .withColumn(
            sum_col,
            F.sum("__v").over(w_b) + F.coalesce(F.col("__off"), F.lit(0)),
        )
        .drop(
            "__bkt", "__bkt_r", "__off", "__v",
            *[f"__pk{i}" for i in range(len(partition_cols))],
        )
    )


def equidepth_bucket(
    df: DataFrame, value: F.Column, *, n_buckets: int = 256
) -> F.Column:
    """A MONOTONE bucket column for ``bucketed_rank`` whose boundaries
    come from approximate quantiles of ``value`` — the skew-proof
    alternative to a fixed-width value bucket. A fixed width keeps
    buckets balanced only for roughly uniform values; a value
    distribution with heavy mass in one range (prices, latencies)
    piles those rows into one bucket and re-creates the single-task
    sort the rewrite exists to avoid. Equi-depth boundaries put ~1/n
    of the rows in every bucket BY CONSTRUCTION, whatever the shape.

    The returned expression is monotone non-decreasing in ``value``
    (count of boundaries <= value), so ``bucketed_rank``'s output is
    row-for-row IDENTICAL whichever bucketing is used — bucket choice
    affects distribution, never results — and the oracle contract of
    any query using it is untouched. Boundaries are collected once
    (n_buckets-1 doubles, corpus-independent driver state — same class
    as a broadcast join's build side).
    """
    qs = [i / n_buckets for i in range(1, n_buckets)]
    col_name = "__edb_v"
    probe = df.select(value.alias(col_name))
    bounds = sorted(set(probe.stat.approxQuantile(col_name, qs, 0.001)))
    if not bounds:
        return F.lit(0)
    arr = F.array(*[F.lit(float(b)) for b in bounds])
    # count of boundaries <= value == equi-depth bucket index; NULL
    # values yield NULL (bucketed_rank maps NULL to its first-bucket
    # sentinel, matching NULLS FIRST)
    return F.when(
        value.isNotNull(),
        F.aggregate(
            arr,
            F.lit(0),
            lambda acc, b: acc + F.when(b <= value.cast("double"), 1).otherwise(0),
        ),
    )


def hash_prefilter_join(
    fact: DataFrame,
    dim: DataFrame,
    on: str | list[str],
    *,
    how: str = "inner",
    m: int = 1 << 20,
) -> DataFrame:
    """Equi-join ``fact`` ⋈ ``dim`` on ``on`` with a runtime semi-join
    reduction: the fact side is pre-filtered by a broadcast membership
    sketch of the dim side's join keys BEFORE the join's shuffle — the
    "Bloom/runtime-filter" pattern every warehouse engine injects when
    a selective dim filter would otherwise shuffle the whole fact.

    The sketch is the distinct set of ``xxhash64(key) mod m`` buckets
    on the dim side: at most ``min(|dim keys|, m)`` longs, so its
    broadcast is BOUNDED BY m (8 MB at the default 2^20) no matter how
    large the dim grows — unlike broadcasting the dim itself, this
    hint can never exceed the broadcast ceiling (the r5 audit rule:
    no forced O(|input|) broadcasts). False-positive buckets only let
    extra fact rows through to the exact join, which discards them, so
    the result is row-identical to ``fact.join(dim, on, how)``; what
    changes is shuffle volume: with a selective dim (the Q17-style
    brand/container probe) the fact bytes entering the join exchange
    drop by roughly the dim's key selectivity.

    Spark's own ``spark.sql.optimizer.runtime.bloomFilter.enabled``
    injects this automatically for some shapes; the explicit operator
    makes the reduction deterministic, plan-assertable, and available
    to DataFrame pipelines the optimizer rule does not cover. ``how``
    supports ``inner``/``left_semi`` (reductions of the fact side);
    NULL fact keys hash to a bucket but never match the exact join,
    preserving inner-join semantics exactly. ``on`` may be a single
    column or a composite key list (one sketch over the combined
    xxhash64 — same bound, same guarantees).
    """
    if how not in ("inner", "left_semi"):
        raise ValueError(f"hash_prefilter_join supports inner/left_semi, got {how!r}")
    keys = [on] if isinstance(on, str) else list(on)
    buckets = dim.select(
        F.pmod(F.xxhash64(*[F.col(k) for k in keys]), F.lit(m)).alias("__pfb")
    ).distinct()
    pre = fact.join(
        F.broadcast(buckets),
        F.pmod(F.xxhash64(*[fact[k] for k in keys]), F.lit(m)) == F.col("__pfb"),
        "left_semi",
    )
    return pre.join(dim, keys, how)
