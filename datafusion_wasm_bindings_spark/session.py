"""SparkSession construction for the engine, and the state the engine
keeps per session (``SessionState``).

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

Cold start: ``get_spark`` starts a new driver JVM from a class-data-sharing
archive (``cds.py``), the parsed and verified form of the ~11,000 Spark,
Scala and Hadoop classes a session loads. It lives in
``$XDG_CACHE_HOME/datafusion-wasm-bindings-spark/cds/<key>.jsa``
(``~/.cache`` without ``XDG_CACHE_HOME``). The key hashes the JDK's
module image and the Spark jar set, so a new JDK or Spark install gets
a new archive; the JVM itself also ignores an archive that no longer
fits. The first process that finds no archive writes it when its JVM
exits, a one-time ~10 s wait at that exit. Deleting the directory is
always safe: the next start writes it again. A user conf file in the
Spark conf dir, an extra driver classpath or Spark Connect mode start
the JVM plainly, as does any archive that is missing or being written.
"""

from __future__ import annotations

import os
from collections.abc import Sequence
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession

from datafusion_wasm_bindings_spark import cds

DEFAULT_APP_NAME = "datafusion-wasm-bindings-spark"


@dataclass
class SessionState:
    """What the engine keeps per SparkSession, as the reference keeps a
    session's catalog, functions and information_schema in the one
    ``SessionContext`` (core.rs:47-72):

    - ``sf_dir``: the fixture directory bound as temp views
      (``sources.catalog.register_tables``);
    - ``scans``: resolved fixture scans by (sf_dir, table, parallel),
      bounded in ``sources.catalog.table``;
    - ``shims``: whether the SQL-callable shims are registered
      (``functions.shims.ensure_registered``);
    - ``views``: definition text of the views created through
      ``SQLEngine``, by lower-cased name (``sources.infoschema``).
    """

    sf_dir: str | None = None
    scans: dict[tuple[str, str, bool], DataFrame] = field(default_factory=dict)
    shims: bool = False
    views: dict[str, str] = field(default_factory=dict)


def state(spark: SparkSession) -> SessionState:
    """The ``SessionState`` of ``spark``, created on first use. It lives
    on the session object, so it dies with the session, and a new
    session at a collected one's address (CPython reuses ids) starts
    empty. ``setdefault`` on the instance dict is one atomic step, so
    two threads asking at once get the same object."""
    st = vars(spark).get("_dfwb_state")
    return st if st is not None else vars(spark).setdefault("_dfwb_state", SessionState())


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
    spark = cds.get_or_create(builder, extra_conf or {})
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
