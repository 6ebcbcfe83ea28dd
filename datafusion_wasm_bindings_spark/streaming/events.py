"""Event-time windowing over the events table.

The reference exposes NO streaming surface (SURVEY.md §2.10 — every
query fully materializes, src/core.rs:119), so parity needs only batch
semantics. These operators give the *batch* event-time windows the
north star asks for, built so the identical aggregation also runs as a
Structured Streaming query (demonstrated by ``streaming_demo`` below
and tests/test_streaming.py):
``F.window``/``F.session_window`` are the same expressions in both
modes; only source/sink and watermark differ.

Scale notes: tumbling/sliding windows shuffle on (window, keys) after
map-side partial aggregation — bytes ∝ distinct windows × keys, not
input rows. Session windows are stateful: batch mode plans a sort
within user partitions; streaming mode keeps per-key state with the
watermark bounding it.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from datafusion_wasm_bindings_spark.operators.checkpoint import cut
from datafusion_wasm_bindings_spark.queries._util import dsum
from datafusion_wasm_bindings_spark.sources.catalog import normalize_event_ts


def _scoped(name: str) -> str:
    """Memory-sink/query names scoped by pid+thread: two bench threads
    starting a stream with one queryName collide ('query with that name
    is already active'); same-thread re-runs keep reusing one name."""
    from datafusion_wasm_bindings_spark import scratch

    return f"{name}_{scratch.scope()}"


def _sized_stream_session(
    spark: SparkSession, src_bytes: int, *, target_bytes: int | None = None
) -> SparkSession:
    """Clone of ``spark`` with the streaming state-store width sized to
    the actual source (guide §2.2: fewer, larger partitions). Every
    stateful streaming operator pays a per-partition state-store commit
    PER state store PER micro-batch — measured r12 on
    q_stream_stream_join at sf0.1 (2 MB source, 40 k state rows):
    cumulative commit time 125–155 s across 32 partitions × 4 join
    state stores = 11–13.5 s wall; at width 4 the same query commits
    2.5 s cumulative / 2.9 s wall, rows identical at every width
    (32/8/4/2/1 all compared equal; width 1 re-serializes the join and
    loses, hence the floor of 2).

    Width = clamp(ceil(src_bytes / target), 2, session shuffle width),
    computed per run from the source's real size and NEVER raised above
    the session's configured width: at production micro-batches (GBs
    per trigger) the clamp lands on the configured width and this is a
    no-op — not a local[32] constant. ``target`` defaults to 1 MiB of
    source per state partition; operators whose state partitions carry
    per-group PYTHON compute (applyInPandasWithState) pass a smaller
    ``target_bytes`` — the Python boundary is an order of magnitude
    slower per byte (guide §4), so those partitions amortize at far
    fewer bytes
    (measured on q_stream_stateful_totals: width 2 = 6.2 s,
    width 8 = 4.1 s vs the old fixed-4 pin's 4.8 s, same box window).

    A session CLONE carries the narrowed width instead of a
    set/restore on the shared session because the bench harness runs
    registry queries from several threads of one process — a global
    conf flip would leak into concurrently-built plans.
    """
    import math

    cur = int(spark.conf.get("spark.sql.shuffle.partitions"))
    target = target_bytes if target_bytes else 1 << 20
    width = max(2, math.ceil(max(src_bytes, 1) / max(target, 1)))
    if width >= cur:
        return spark
    sess = spark.newSession()
    sess.conf.set("spark.sql.shuffle.partitions", str(width))
    # runtime-set confs (post-builder, e.g. session.size_scan_splits /
    # catalog.table's nanos opt-in) do not carry into a clone — copy
    # the ones the streaming scans depend on
    for key in (
        "spark.sql.files.maxPartitionBytes",
        "spark.sql.files.openCostInBytes",
        "spark.sql.legacy.parquet.nanosAsLong",
        # the UNCONDITIONAL-UTC rule: under the DRIVER's session the
        # UTC pin is runtime-set (register_tables), so a clone would
        # revert to the JVM tz and any tz-sensitive streaming surface
        # would drift from the UTC-naive oracle (ADVICE r12)
        "spark.sql.session.timeZone",
    ):
        try:
            sess.conf.set(key, spark.conf.get(key))
        except Exception:  # noqa: BLE001 — conf key absent: builder default applies
            pass
    return sess


def _events_src_bytes(sf_dir: str) -> int:
    import os

    try:
        return os.path.getsize(os.path.join(sf_dir, "events.parquet"))
    except OSError:
        return 1 << 30  # unknown source: keep the configured width


# Event-time operators process rows WITH an event time: Spark's
# window()/session_window() generators silently drop NULL-ts rows, so
# the filter below makes that semantics explicit (and every oracle
# carries the matching WHERE ts IS NOT NULL — DuckDB's time_bucket
# keeps a NULL bucket instead; adversarial NULL replay, r5).
def tumbling(events: DataFrame, width: str = "1 hour") -> DataFrame:
    return (
        events.filter(F.col("ts").isNotNull())
        .groupBy(F.window("ts", width).alias("w"), "event_type")
        .agg(F.count("*").alias("n"), dsum(F.col("value"), "total_value"))
        .select(F.col("w.start").alias("ws"), "event_type", "n", "total_value")
    )


def sliding(events: DataFrame, width: str = "1 hour", slide: str = "30 minutes") -> DataFrame:
    return (
        events.filter(F.col("ts").isNotNull())
        .groupBy(F.window("ts", width, slide).alias("w"))
        .agg(F.count("*").alias("n"), dsum(F.col("value"), "total_value"))
        .select(F.col("w.start").alias("ws"), "n", "total_value")
    )


def sessionized(events: DataFrame, gap: str = "10 minutes") -> DataFrame:
    """Session windows per user: a session ends after `gap` of silence.
    window.end in Spark's session_window = last event + gap, hence the
    session_last alias arithmetic in the oracle."""
    return (
        events.filter(F.col("ts").isNotNull())
        .groupBy(F.session_window("ts", gap).alias("w"), "user_id")
        .agg(F.count("*").alias("n"), dsum(F.col("value"), "total_value"))
        .select(
            "user_id",
            F.col("w.start").alias("session_start"),
            "n",
            "total_value",
        )
    )


def streaming_demo(spark: SparkSession, sf_dir: str, width: str = "1 hour") -> DataFrame:
    """The tumbling aggregation as a real Structured Streaming query:
    parquet readStream → watermark → windowed agg → memory sink,
    driven to completion with processAllAvailable (bounded input).
    Returns the materialized sink contents."""
    import os

    # readStream needs the RAW parquet schema (ts is INT64 nanos under
    # nanosAsLong); sources.catalog.table's µs conversion is re-applied
    # to the stream below
    sess = _sized_stream_session(spark, _events_src_bytes(sf_dir))
    raw_schema = sess.read.parquet(os.path.join(sf_dir, "events.parquet")).schema
    stream = (
        sess.readStream.schema(raw_schema)
        .format("parquet")
        .option("path", os.path.join(sf_dir))
        .option("pathGlobFilter", "events.parquet")
        .load()
    )
    # nanos→µs conversion mirrors sources.catalog.table for the ns column
    stream = normalize_event_ts(stream)
    agg = (
        stream.withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", width).alias("w"), "event_type")
        .agg(F.count("*").alias("n"))
        .select(F.col("w.start").alias("ws"), "event_type", "n")
    )
    name = _scoped("dfwb_stream_demo")
    q = (
        agg.writeStream.outputMode("complete")
        .format("memory")
        .queryName(name)
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    return sess.sql(f"SELECT * FROM {name}")


def streaming_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming exact-dedup via ``dropDuplicatesWithinWatermark`` —
    the continuous-ingest twin of operators/dedup.exact_dedup: keep the
    first arrival per (user_id, event_type) while the watermark bounds
    the dedup state (keys older than watermark − delay are evicted, so
    state is O(recent keys), not O(stream history) — the property that
    makes streaming dedup viable on an unbounded 100 TB/day ingest).

    Bounded input ⇒ the kept-key set equals batch DISTINCT
    (user_id, event_type), which is what the q_stream_dedup oracle
    checks; the per-key count summary makes the result deterministic
    regardless of which duplicate arrived first.
    """
    import os

    sess = _sized_stream_session(spark, _events_src_bytes(sf_dir))
    raw_schema = sess.read.parquet(os.path.join(sf_dir, "events.parquet")).schema
    stream = (
        sess.readStream.schema(raw_schema)
        .format("parquet")
        .option("path", os.path.join(sf_dir))
        .option("pathGlobFilter", "events.parquet")
        .load()
    )
    stream = normalize_event_ts(stream)
    kept = (
        stream.withWatermark("ts", "1 hour")
        .dropDuplicatesWithinWatermark(["user_id", "event_type"])
        .select("user_id", "event_type")
    )
    name = _scoped("dfwb_stream_dedup_demo")
    q = kept.writeStream.outputMode("append").format("memory").queryName(name).start()
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    return sess.sql(
        f"SELECT user_id, count(*) AS n_types FROM {name} GROUP BY user_id"
    )


def streaming_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAM-STREAM inner join with a time-range condition: clicks
    within 30 minutes after a purchase by the same user, both sides
    arriving as streams.

    This is the stateful join Spark's Structured Streaming is built
    for: each side is watermarked, and the range condition lets the
    engine bound the join state — a purchase can only ever match clicks
    with ``c_ts ∈ [p_ts, p_ts+30min]``, so rows older than
    watermark − 30min are evicted instead of accumulating forever. At
    100 TB/day of events, state is O(watermark-window × arrival rate),
    not O(history) — the same bounded-fan-out idea as the batch
    bucketed range join (operators/rangejoin.py), enforced by the
    streaming state store.

    Bounded input ⇒ result equals the batch join with the same
    predicate, which is what the q_stream_stream_join oracle checks
    (per-user pair counts + decimal-exact value sum).
    """
    import os

    sess = _sized_stream_session(spark, _events_src_bytes(sf_dir))
    raw_schema = sess.read.parquet(os.path.join(sf_dir, "events.parquet")).schema

    def _stream():
        s = (
            sess.readStream.schema(raw_schema)
            .format("parquet")
            .option("path", os.path.join(sf_dir))
            .option("pathGlobFilter", "events.parquet")
            .load()
        )
        return normalize_event_ts(s)

    purchases = (
        _stream()
        .filter(F.col("event_type") == "purchase")
        .select("user_id", F.col("ts").alias("p_ts"))
        .withWatermark("p_ts", "1 hour")
    )
    clicks = (
        _stream()
        .filter(F.col("event_type") == "click")
        .select(
            F.col("user_id").alias("c_user_id"),
            F.col("ts").alias("c_ts"),
            "value",
        )
        .withWatermark("c_ts", "1 hour")
    )
    pairs = purchases.join(
        clicks,
        F.expr(
            "user_id = c_user_id AND "
            "c_ts >= p_ts AND c_ts <= p_ts + INTERVAL 30 MINUTES"
        ),
    )
    name = _scoped("dfwb_stream_join_demo")
    q = (
        pairs.writeStream.outputMode("append")
        .format("memory")
        .queryName(name)
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    from datafusion_wasm_bindings_spark.queries._util import dsum_sql

    return sess.sql(
        f"SELECT user_id, count(*) AS n_pairs, "
        f"{dsum_sql('value', 'click_value')} "
        f"FROM {name} GROUP BY user_id"
    )


def streaming_enriched_windows(
    spark: SparkSession, sf_dir: str, width: str = "1 day"
) -> DataFrame:
    """Stream-static join: enrich an event stream with a static
    dimension in-flight, then window-aggregate — the canonical
    training-pipeline enrichment shape (stream of raw examples joined
    to a metadata/quality table loaded once per job).

    The dimension (event_type → weight) is built from a batch read and
    explicitly ``F.broadcast`` — in a stream-static join Spark ships
    the static side to every executor once; NO stream-side shuffle and
    no state store are involved in the join itself (state exists only
    in the downstream windowed agg). At 100 TB of stream the join cost
    is per-row hash-probe against an in-memory table, exactly like the
    batch broadcast-hash-join.

    The weighted sum is computed on decimal-cast values so streaming
    and batch accumulation orders produce bit-identical results (the
    oracle-determinism recipe used across the registry).
    """
    import os

    sess = _sized_stream_session(spark, _events_src_bytes(sf_dir))
    sess.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    raw = sess.read.parquet(os.path.join(sf_dir, "events.parquet"))
    dim = (
        raw.select("event_type")
        .distinct()
        .withColumn("type_weight", F.length("event_type"))
    )

    raw_schema = raw.schema
    stream = (
        sess.readStream.schema(raw_schema)
        .format("parquet")
        .option("path", os.path.join(sf_dir))
        .option("pathGlobFilter", "events.parquet")
        .load()
    )
    stream = normalize_event_ts(stream)

    enriched = stream.join(F.broadcast(dim), "event_type")
    agg = (
        enriched.groupBy(F.window("ts", width).alias("w"), "event_type")
        .agg(
            F.count("*").alias("n"),
            F.sum(F.col("value").cast("decimal(18,6)") * F.col("type_weight"))
            .cast("double")
            .alias("weighted_value"),
        )
        .select(F.col("w.start").alias("ws"), "event_type", "n", "weighted_value")
    )
    name = _scoped("dfwb_stream_enrich_demo")
    q = (
        agg.writeStream.outputMode("complete")
        .format("memory")
        .queryName(name)
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    return sess.sql(f"SELECT * FROM {name}")


def streaming_late_data_demo(spark: SparkSession) -> dict[str, int]:
    """Watermark late-data semantics, demonstrated end-to-end: append-
    mode windowed counts with a 1-hour watermark over three micro-batches.

    Batch 0 carries three 10:xx events plus a 12:05 event, computing a
    watermark of 11:05. Batch 1 is a benign 12:10 event — needed
    because a computed watermark takes effect one trigger LATER
    (measured on Spark 4.1: numRowsDroppedByWatermark fires one batch
    after the progress metrics first report the new watermark). Batch 2
    delivers a 10:30 event — late beyond the in-effect 11:05 watermark
    — which Spark drops: the [10:00, 11:00) window emits count 3, not
    4. Returns {window_start_iso: count}.

    At 100 TB the same two lines (withWatermark + window) bound state:
    the store holds only windows newer than the watermark, so state is
    O(active windows × keys), not O(stream history).
    """
    import os
    import shutil
    import tempfile
    import time

    from datetime import datetime

    import pyarrow as pa
    import pyarrow.parquet as pq

    src = tempfile.mkdtemp(prefix="dfwb_stream_late_")
    try:
        batch1 = [
            ("2024-01-01 10:05:00", "u1"),
            ("2024-01-01 10:20:00", "u2"),
            ("2024-01-01 10:40:00", "u1"),
            ("2024-01-01 12:05:00", "u3"),  # computes watermark 11:05
        ]
        batch_mid = [("2024-01-01 12:10:00", "u3")]  # lets the watermark take effect
        batch2 = [("2024-01-01 10:30:00", "u2")]  # late: 10:30 < 11:05
        pa_schema = pa.schema([("ts", pa.timestamp("us")), ("user_id", pa.string())])
        for i, rows in enumerate([batch1, batch_mid, batch2]):
            t = pa.table(
                {
                    "ts": [datetime.fromisoformat(ts) for ts, _ in rows],
                    "user_id": [u for _, u in rows],
                },
                schema=pa_schema,
            )
            # one literal file per intended trigger (a df.write dir would
            # bundle part-files + _SUCCESS, breaking maxFilesPerTrigger=1)
            pq.write_table(t, os.path.join(src, f"b{i}.parquet"))
            time.sleep(1.1)  # distinct mtimes → deterministic oldest-first order

        schema = "ts timestamp, user_id string"
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )
        agg = (
            stream.withWatermark("ts", "1 hour")
            .groupBy(F.window("ts", "1 hour").alias("w"))
            .agg(F.count("*").alias("n"))
            .select(F.col("w.start").alias("ws"), "n")
        )
        name = _scoped("dfwb_stream_late_demo")
        q = agg.writeStream.outputMode("append").format("memory").queryName(name).start()
        try:
            q.processAllAvailable()
        finally:
            q.stop()
        return {
            str(r.ws): r.n
            for r in spark.sql(f"SELECT ws, n FROM {name}").collect()
        }
    finally:
        shutil.rmtree(src, ignore_errors=True)


def streaming_running_totals(
    spark: SparkSession, sf_dir: str, *, num_input_files: int = 3
) -> DataFrame:
    """Custom stateful streaming operator via ``applyInPandasWithState``
    (the PySpark surface for operators Spark's built-ins can't express
    — task brief "custom stateful operators").

    Per-user running totals maintained in explicit group state across
    micro-batches: the events table is split into ``num_input_files``
    parquet files streamed one file per trigger, so state genuinely
    carries over multiple triggers. Each trigger appends the group's
    updated running total; the last row per user equals the batch
    groupBy total (asserted in tests/test_streaming.py).

    Scale notes: state is per-user (two longs + a double), partitioned
    by the group key across executors — the state store grows with
    |users|, not |events|; at 100 TB you bound it with a timeout
    (``GroupStateTimeout.ProcessingTimeTimeout``) evicting idle keys.
    """
    import os
    import shutil
    import tempfile

    from pyspark.sql.streaming.state import GroupStateTimeout

    # bare driver sessions reject the ns-timestamp column otherwise
    # (same runtime opt-in as sources.catalog.table)
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    # the running total reads only (user_id, value): project before the
    # staging write so neither the rewrite nor the per-trigger scans
    # carry the other columns (the ns ts column never needs converting)
    events = spark.read.parquet(os.path.join(sf_dir, "events.parquet")).select(
        "user_id", "value"
    )
    src = tempfile.mkdtemp(prefix="dfwb_stream_src_")
    try:
        events.repartition(num_input_files).write.mode("overwrite").parquet(src)
        # state width sized to the staged source: each state partition costs
        # a Python worker + state-store commit PER micro-batch (see
        # _sized_stream_session; replaces the r6 fixed-width pin — same
        # bounded-demo reasoning, now input-derived and clone-scoped instead
        # of a set/restore on the shared session). Python-state target:
        # 64 KiB/partition (see docstring measurement).
        staged_bytes = sum(
            os.path.getsize(os.path.join(src, f))
            for f in os.listdir(src)
            if f.endswith(".parquet")
        )
        sess = _sized_stream_session(spark, staged_bytes, target_bytes=64 * 1024)
        stream = (
            sess.readStream.schema(sess.read.parquet(src).schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )

        out_schema = "user_id bigint, events_seen bigint, value_sum double"
        state_schema = "events_seen bigint, value_sum double"

        # self-contained closure (no module globals): executors deserialize
        # it by value even when the package isn't importable on workers
        def update(key, pdfs, state):
            import pandas as pd

            (user_id,) = key
            n, s = state.get if state.exists else (0, 0.0)
            for pdf in pdfs:
                n += len(pdf)
                s += float(pdf["value"].fillna(0.0).sum())
            state.update((n, s))
            yield pd.DataFrame(
                {"user_id": [user_id], "events_seen": [n], "value_sum": [s]}
            )

        updates = stream.groupBy("user_id").applyInPandasWithState(
            update, out_schema, state_schema, "append", GroupStateTimeout.NoTimeout
        )
        name = _scoped("dfwb_stream_state_demo")
        q = (
            updates.writeStream.outputMode("append")
            .format("memory")
            .queryName(name)
            .start()
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()
        # final per-user totals = the row with the highest events_seen
        # (monotonic per trigger; value_sum itself may go down when values
        # are negative, so max_by on the counter, not MAX of the sum)
        return sess.sql(
            f"SELECT user_id, MAX(events_seen) AS events_seen, "
            f"MAX_BY(value_sum, events_seen) AS value_sum "
            f"FROM {name} GROUP BY user_id"
        )
    finally:
        shutil.rmtree(src, ignore_errors=True)


def streaming_incremental_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental materialized-state maintenance with ``foreachBatch``:
    a CDC change feed (upserts + delete tombstones) streams in
    micro-batches, and each batch MERGEs into a parquet state snapshot
    via the same latest-wins compaction the batch operator uses
    (operators/cdc.apply_changelog semantics) — the Structured
    Streaming shape of a continuously-maintained table.

    Order-insensitive by construction: tombstones stay IN the state
    (op='D' rows survive the per-key latest-wins window) until the
    final read filters them, so the result is identical whatever order
    the micro-batches arrive in — which also makes it oracle-checkable.
    State swaps between two scratch dirs (read current → union batch →
    keep per-key max version → write next), the classic
    compact-on-write loop; at scale the state table would be
    partitioned/bucketed by key and the merge would rewrite only
    touched partitions (see operators/scale.write_bucketed).
    """
    import os
    import shutil
    import tempfile

    from pyspark.sql import Window

    from datafusion_wasm_bindings_spark.sources.catalog import table as cat_table

    orders = cat_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice"
    )
    base = orders.withColumn("version", F.lit(0).cast("long")).withColumn(
        "op", F.lit("I")
    )
    updates = (
        orders.filter(F.col("o_orderkey") % 3 == 0)
        .withColumn("o_orderstatus", F.lit("U"))
        .withColumn("o_totalprice", F.col("o_totalprice") + F.lit(10.0))
        .withColumn("version", F.lit(1).cast("long"))
        .withColumn("op", F.lit("U"))
    )
    deletes = (
        orders.filter(F.col("o_orderkey") % 7 == 0)
        .withColumn("version", F.lit(2).cast("long"))
        .withColumn("op", F.lit("D"))
    )

    root = tempfile.mkdtemp(prefix="dfwb_stream_upsert_")
    try:
        src = os.path.join(root, "changes")
        # one parquet file per change wave → one micro-batch per wave
        updates.coalesce(1).write.mode("overwrite").parquet(os.path.join(src, "w1"))
        deletes.coalesce(1).write.mode("overwrite").parquet(os.path.join(src, "w2"))

        state = {"path": os.path.join(root, "state0")}
        base.write.mode("overwrite").parquet(state["path"])
        w = Window.partitionBy("o_orderkey").orderBy(F.col("version").desc())

        def merge(batch_df, batch_id):
            cur = batch_df.sparkSession.read.parquet(state["path"])
            merged = (
                cur.unionByName(batch_df)
                .withColumn("__rn", F.row_number().over(w))
                .filter(F.col("__rn") == 1)
                .drop("__rn")
            )
            nxt = os.path.join(root, f"state{batch_id + 1}")
            merged.write.mode("overwrite").parquet(nxt)
            state["path"] = nxt

        # the per-batch MERGE (window over |state| rows + parquet rewrite)
        # runs on the stream's session: size its shuffle width to the state
        # snapshot it rewrites each batch, not the tiny change feed — at
        # production state sizes the clamp keeps the configured width
        state_bytes = sum(
            os.path.getsize(os.path.join(state["path"], f))
            for f in os.listdir(state["path"])
            if f.endswith(".parquet")
        )
        sess = _sized_stream_session(spark, state_bytes)
        stream = (
            sess.readStream.schema(sess.read.parquet(os.path.join(src, "w1")).schema)
            .option("maxFilesPerTrigger", 1)
            .option("recursiveFileLookup", "true")
            .parquet(src)
        )
        q = stream.writeStream.foreachBatch(merge).start()
        try:
            q.processAllAvailable()
        finally:
            q.stop()

        snapshot = (
            spark.read.parquet(state["path"])
            .filter((F.col("op") != "D") & (F.col("o_orderkey") % 5 == 0))
            .select(
                "o_orderkey",
                "o_custkey",
                F.col("o_orderstatus").alias("status"),
                F.col("o_totalprice").alias("price"),
            )
        )
        return cut(snapshot)  # materialize before scratch cleanup
    finally:
        shutil.rmtree(root, ignore_errors=True)


def streaming_sessions(
    spark: SparkSession, sf_dir: str, gap: str = "10 minutes"
) -> DataFrame:
    """SESSION WINDOWS as a real Structured Streaming query — the
    stateful merging-window operator (state stores per-key open
    sessions; arrivals extend/merge them until `gap` of silence).
    Complete output mode on bounded input ⇒ the final sink equals the
    batch sessionization exactly (q_events_session's oracle). In
    production the same query runs append-mode with the watermark
    closing sessions and evicting their state — the property that
    keeps state O(open sessions), not O(stream history)."""
    import os

    sized = _sized_stream_session(spark, _events_src_bytes(sf_dir))
    raw_schema = sized.read.parquet(os.path.join(sf_dir, "events.parquet")).schema
    stream = (
        sized.readStream.schema(raw_schema)
        .format("parquet")
        .option("path", os.path.join(sf_dir))
        .option("pathGlobFilter", "events.parquet")
        .load()
    )
    stream = normalize_event_ts(stream)
    sess = (
        stream.withWatermark("ts", "1 hour")
        .groupBy(F.session_window("ts", gap).alias("w"), "user_id")
        .agg(F.count("*").alias("n"), dsum(F.col("value"), "total_value"))
        .select(
            "user_id",
            F.unix_micros(F.col("w.start")).alias("session_start"),
            "n",
            "total_value",
        )
    )
    name = _scoped("dfwb_stream_sessions")
    q = (
        sess.writeStream.outputMode("complete")
        .format("memory")
        .queryName(name)
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    return sized.sql(f"SELECT * FROM {name}")
