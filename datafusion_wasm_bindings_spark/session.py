"""SparkSession construction for the engine.

Maps the reference's context construction (src/core.rs:47-72) onto
Spark. Deliberate non-replications (SURVEY.md §0):

- ``target_partitions = 1`` (core.rs:61) is a WASM single-thread
  constraint, not a semantic — we parallelize.
- ``DiskManagerConfig::Disabled`` (core.rs:55) means the reference
  OOMs instead of spilling; Spark spills natively and we keep that ON
  (required for the 100 TB design point).

Scale posture: shuffle partitions default to the local core count for
tests/bench; on a real cluster this would be executors*cores*2-3 or
left to AQE coalescing, which is enabled here and does the right thing
at any scale.
"""

from __future__ import annotations

import os
from collections.abc import Sequence

from pyspark.sql import DataFrame, SparkSession

DEFAULT_APP_NAME = "datafusion-wasm-bindings-spark"


def default_parallelism() -> int:
    cpus = os.environ.get("SPARK_GRAFT_CPUS")
    if cpus:
        try:
            return max(1, int(cpus))
        except ValueError:
            pass
    return os.cpu_count() or 8


def get_spark(
    app_name: str = DEFAULT_APP_NAME,
    *,
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) the engine's SparkSession.

    Config choices, mapped from the reference session setup
    (src/core.rs:53-62) plus oracle-parity pins:

    - UTC session timezone: DuckDB oracle timestamps are UTC-naive.
    - case-insensitive resolution: DataFusion lowercases unquoted
      identifiers (Postgres style); Spark's default case-insensitive
      matching gives the same observable behavior for our queries.
    - AQE on: runtime re-plan (broadcast conversion, skew-join split,
      partition coalescing) — the scale story for 100 TB inputs.
    - Arrow transfers on: vectorized toPandas/createDataFrame paths.
    """
    par = shuffle_partitions if shuffle_partitions is not None else default_parallelism()
    builder = (
        SparkSession.builder.appName(app_name)
        .config("spark.sql.shuffle.partitions", str(par))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.caseSensitive", "false")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # DataFrame-op call-site capture (PySpark 4 error enrichment)
        # walks the Python stack and makes TWO extra py4j round trips
        # per DataFrame method call. Measured r12 (guide §4: shrink the
        # Python boundary): plan construction of the construction-heavy
        # headliners halved — q_flagship_pricing_summary 0.185→0.075 s,
        # q_flagship_shipping_priority 0.187→0.107 s, q_sim_topk
        # 0.316→0.200 s per build. Costs only error-message context.
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
        .config("spark.sql.parquet.filterPushdown", "true")
        # bucketed scans report their sortBy ordering (only possible
        # when each bucket is ONE file — operators/scale.write_bucketed
        # guarantees that layout): downstream sort-merge joins then
        # skip re-sorting the bucketed side on EVERY read. Measured r13
        # on q_graph_pagerank: the per-round SMJ's Sort over the
        # 1.18M-row edge side disappears from the plan (plans/r13).
        # Cost: planning lists files of bucketed tables — only the
        # repo's own prepared tables, and at 100 TB one listing per
        # plan vs a full-table sort per iteration is the right trade.
        .config("spark.sql.legacy.bucketedTableScan.outputOrdering", "true")
        # events.parquet carries TIMESTAMP(NANOS) which Spark rejects by
        # default (FIXTURES.md: ns → µs policy). Read nanos as long and
        # convert to µs timestamps at the view layer (sources/catalog.py).
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # Spark's codegen cache holds 100 classes by default, fewer than
        # one ad-hoc statement mix: the 14 statements of perfbench's
        # sql_adhoc compile 119-128 distinct classes, so every pass
        # recompiled, and the JVM re-JITted, 50-76 of them (traced
        # sql_adhoc, 4-vCPU VM). At 1000 the warm and timed passes
        # compile 0. One pass over the whole 290-id registry compiles
        # 3,100 distinct classes (sf0.001), so 1000 keeps several such
        # mixes without holding every class a long session compiles.
        .config("spark.sql.codegen.cache.maxEntries", "1000")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
    )
    if master is not None:
        builder = builder.master(master)
    elif not os.environ.get("SPARK_CONNECT_MODE_ENABLED"):
        builder = builder.master(f"local[{default_parallelism()}]")
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def local_rows(spark: SparkSession, rows: Sequence[tuple], schema: str) -> DataFrame:
    """Rows the engine already holds on the driver (PREPARE's empty
    relation, EXPLAIN's plan text, COPY's row count, the
    information_schema metadata) as a DataFrame with DDL ``schema``.

    Built from an Arrow table, so it plans as a ``LocalTableScan`` and
    collects without a Spark job. ``spark.createDataFrame(list, ddl)``
    goes through ``sc.parallelize`` and a Python worker instead:
    measured warm on a 4-vCPU VM at ``local[4]``, a two-row relation
    cost 1 job, 4 tasks and 370-510 ms to collect that way, against
    0 jobs and 26-50 ms from Arrow.
    """
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema
    from pyspark.sql.types import StructType

    struct = StructType.fromDDL(schema)
    table = pa.Table.from_pylist(
        [dict(zip(struct.names, r)) for r in rows], schema=to_arrow_schema(struct)
    )
    return spark.createDataFrame(table, struct)


def size_scan_splits(spark: SparkSession, data_dir: str) -> int | None:
    """Size ``spark.sql.files.maxPartitionBytes`` to the data actually
    under ``data_dir``: clamp(largest_parquet / cores, 256 KB, 128 MB)
    — the 100 TB-posture sizing rule executed from the input instead
    of guessed. Spark's 128 MB default is right when files are
    executor-memory-scale; at bench SFs it scans a few-MB table as
    1-3 tasks on a 32-core box (measured 12-18% of headline
    wall-clock, BASELINE.md). At cluster scale the same formula lands
    back on the 128 MB ceiling. Row-identity under partitioning is
    the registry's tested invariant
    (tests/test_partitioning_invariance.py).

    Returns the chosen split in bytes, or None if ``data_dir`` holds
    no readable parquet (confs left untouched).
    """
    try:
        largest = max(
            os.path.getsize(os.path.join(data_dir, f))
            for f in os.listdir(data_dir)
            if f.endswith(".parquet")
        )
    except (OSError, ValueError):
        return None
    cores = spark.sparkContext.defaultParallelism
    split = min(max(largest // max(cores, 1), 256 * 1024), 128 * 1024 * 1024)
    spark.conf.set("spark.sql.files.maxPartitionBytes", str(split))
    spark.conf.set("spark.sql.files.openCostInBytes", str(min(split, 256 * 1024)))
    return split
