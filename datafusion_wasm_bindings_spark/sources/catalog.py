"""Test-fixture table registration (TESTDATA.md / FIXTURES.md §B).

The driver generates a TPC-H-ish star schema plus events/documents/
embeddings as one parquet file per table under
``/root/testdata/sf{0.001,0.01,0.1}``. Oracle-checked queries address
them as temp views so the same SQL text can run on Spark and on the
DuckDB oracle (which pre-registers views of the same files).

``spark.read.parquet`` is the reference's parquet scan equivalent
(CREATE EXTERNAL TABLE ... STORED AS PARQUET, SURVEY.md §2.1):
self-describing schema, projection + predicate pushdown, row-group
pruning — all free from Spark's vectorized parquet reader.

Scale note: a temp view over a parquet directory is a pure logical
binding — no data movement at registration. At 100 TB the same call
binds a partitioned directory tree and partition pruning applies.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from datafusion_wasm_bindings_spark.session import state

TABLE_NAMES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001")

# Per-session state (``session.state``) holds what this module keeps:
# the sf_dir bound as temp views and the resolved scans. Both are
# metadata reuse, kept because each still measures (4 vCPU, warm JVM,
# medians of 7 in each of three runs): one ``spark.read.parquet`` of
# sf0.001 ``lineitem`` runs a 1-task footer/schema job plus py4j
# round-trips, 88-109 ms, and binding the 10 fixture views from already
# resolved scans costs 60-74 ms, against ~1 µs for the memo hit.
# A query touching six tables (q_flagship_local_supplier) would pay the
# scans on every invocation. A DataFrame is an immutable logical plan,
# so handing the same resolved scan back is pure metadata reuse: every
# action still reads the parquet bytes from disk — this is NOT result
# caching (no .cache()/persist anywhere here). Bounded: a session holds
# at most _SCANS_MAX scans, oldest dropped first (hostile-replay
# campaigns walk hundreds of mutation dirs through this API).
_SCANS_MAX = 64


def _parquet_layout(path: str) -> tuple[int, int] | None:
    """(row_groups, rows) of one parquet file — the scan's REAL
    parallelism ceiling: Spark assigns each row group to exactly one
    task (whichever split holds its midpoint), so byte-range split
    sizing cannot parallelize below the row-group grain.

    Returns None for layouts this single-file probe cannot read (a
    directory-layout table, a missing path, an unreadable footer):
    those are exactly the multi-file "healthy" layouts the parallel
    widening must treat as a no-op, never crash on (VERDICT r12 #4).
    Not cached: it runs only when ``table`` resolves a scan, which
    already pays Spark's footer job, and a pyarrow footer read costs
    0.1-0.2 ms (medians of 30 reads of ``lineitem`` at sf0.001, sf0.01
    and sf0.1)."""
    import pyarrow.parquet as pq

    try:
        md = pq.read_metadata(path)
    except Exception:  # noqa: BLE001 — directory table / odd footer: healthy
        return None
    return md.num_row_groups, md.num_rows


def normalize_event_ts(df: DataFrame, col: str = "ts") -> DataFrame:
    """Coerce a parquet TIMESTAMP(NANOS) column to session-tz
    ``TimestampType`` µs — the repo-wide ns→µs policy (FIXTURES.md),
    matched by ``CAST(ts AS TIMESTAMP)`` on the DuckDB oracle side.

    Spark surfaces parquet nanos differently by version: as a long
    under ``spark.sql.legacy.parquet.nanosAsLong`` (measured on the
    shipped 4.1.2: the conf is honored, and WITHOUT it a NANOS column
    is rejected outright with PARQUET_TYPE_ILLEGAL — the conf-setting
    in ``table()`` is load-bearing), or natively as ``TIMESTAMP_NTZ``
    on versions that read ns directly. Both branches land on the same
    µs instants here (`div 1000` truncates toward zero — pinned with
    pre-1970 boundary values in tests/test_engine.py
    test_ns_timestamp_truncates_to_micros_policy); functions that
    require TIMESTAMP proper (``unix_micros``, ``withWatermark``) then
    work uniformly. The NTZ→TZ cast is value-preserving because the
    session timezone is UTC.
    """
    dt = dict(df.dtypes).get(col)
    if dt == "bigint":
        # integer `div`, not `/`: epoch-nanos exceed 2^53 so a double
        # round-trip would corrupt the low microseconds
        df = df.withColumn(col, F.expr(f"timestamp_micros({col} div 1000)"))
    elif dt == "timestamp_ntz":
        df = df.withColumn(col, F.col(col).cast("timestamp"))
    return df


def table(
    spark: SparkSession, sf_dir: str, name: str, *, parallel: bool = False
) -> DataFrame:
    """Read one fixture table (lazy parquet scan).

    ``events.ts`` is parquet TIMESTAMP(NANOS) → normalized to µs
    ``TimestampType`` (see normalize_event_ts). The conversion is a
    cheap projection; the pushdown loss on ts-filters is confined to
    this one fixture column.

    ``parallel=True`` is the guide-§2.5 "unsplittable input" remedy for
    queries whose per-row work after the scan is heavy (multi-column
    decimal aggregation, distinct-rewrite Expand): when the file's
    row-group count is below the session parallelism — a parquet row
    group is the scan's real parallelism grain, byte-range splits
    cannot cut finer — append a round-robin ``repartition(cores)`` so
    the heavy map work runs wide instead of inside the one task that
    owns the row group. Scale-adaptive by construction: at production
    scale a table has ≫cores row groups and this is a no-op; filters
    and column pruning still push through the repartition to the scan
    (PushDownPredicates/ColumnPruning handle Repartition). Callers opt
    in per query ONLY where measured to win — an exchange of the
    scanned columns is pure overhead for selective-filter, broadcast-
    probe, or light-aggregate plans (measured r12: Q1 1.17→0.81 s and
    profile_columns 3.74→1.54 s win; Q3/Q5/tumbling lose)."""
    if name == "events":
        # BEFORE the cache lookup — these session confs must hold on
        # every call, not only the resolving one: callers (the repo's
        # own nanos-policy test, the driver's mutable session) may
        # unset them between calls, and later actions on the cached
        # scan depend on them (ADVICE r12).
        # The driver hands us ITS SparkSession (no session.py configs);
        # on Spark 3.x the ns-timestamp column aborts the read without
        # this legacy conf (4.x reads it as TIMESTAMP_NTZ and ignores it)
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        # normalize_event_ts's NTZ→TIMESTAMP cast is value-preserving
        # only under a UTC session tz; a non-UTC driver JVM would shift
        # every events instant away from the UTC-naive DuckDB oracle
        spark.conf.set("spark.sql.session.timeZone", "UTC")
    scans = state(spark).scans
    key = (sf_dir, name, parallel)
    cached = scans.get(key)
    if cached is not None:
        return cached
    path = os.path.join(sf_dir, f"{name}.parquet")
    df = spark.read.parquet(path)
    if name == "events":
        df = normalize_event_ts(df)
    if parallel:
        cores = spark.sparkContext.defaultParallelism
        layout = _parquet_layout(path)
        # rows ≥ 1000: skip degenerate/tiny inputs where even heavy
        # per-row work is sub-task-sized (and empty-mode replays);
        # None = multi-file/unreadable layout → healthy, no widening
        if layout is not None and layout[0] < cores and layout[1] >= 1000:
            df = df.repartition(cores)
    while len(scans) >= _SCANS_MAX:
        try:
            # concurrent callers (the bench harness runs the registry
            # from several threads) may race the same eviction victim
            scans.pop(next(iter(scans)), None)
        except (StopIteration, RuntimeError):
            break
    scans[key] = df
    return df


def register_tables(spark: SparkSession, sf_dir: str) -> None:
    """Bind the fixture tables as temp views named after themselves.

    Idempotent per (session, sf_dir): re-binding the directory the
    session already holds is skipped, so per-query overhead stays at
    dict lookups.
    """
    st = state(spark)
    if st.sf_dir == sf_dir:
        return
    # UNCONDITIONAL UTC pin (not just when events is read): epoch
    # surfacing (unix_seconds/unix_micros over casts of DATE/TIMESTAMP
    # columns) is tz-sensitive for EVERY table, and the driver hands us
    # its own session without our session.py configs. A non-UTC driver
    # JVM would shift all epoch outputs away from the UTC-naive DuckDB
    # oracle.
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    if not os.path.isdir(sf_dir):
        # without this, a bad sf_dir would silently keep the previous
        # registration's views bound — wrong data, no error
        raise FileNotFoundError(f"scale-factor directory does not exist: {sf_dir}")
    for name in TABLE_NAMES:
        path = os.path.join(sf_dir, f"{name}.parquet")
        if os.path.exists(path):
            table(spark, sf_dir, name).createOrReplaceTempView(name)
    st.sf_dir = sf_dir
