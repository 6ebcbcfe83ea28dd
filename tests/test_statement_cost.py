"""Fixed cost per statement: the Spark jobs and codegen compiles an
``SQLEngine`` statement pays regardless of data size.

Each statement runs under its own job group and its jobs are counted
with the status tracker. The engine's own result rows (PREPARE,
DEALLOCATE, EXPLAIN, DDL, COPY's count) are local relations and run no
job; COPY runs its query once, inside the write; and the session's
codegen cache holds more classes than one statement mix generates, so
re-running the mix compiles nothing.
"""

from __future__ import annotations

import gc
import uuid

import pytest

from datafusion_wasm_bindings_spark.engine import SQLEngine
from datafusion_wasm_bindings_spark.functions import shims


@pytest.fixture(scope="module")
def engine(spark):
    return SQLEngine(spark)


def _jobs(spark, fn) -> tuple[object, int]:
    """(fn(), number of Spark jobs fn started)."""
    sc = spark.sparkContext
    group = f"stmt-cost-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    # the status tracker is fed by the listener bus: drain it first
    spark._jsc.sc().listenerBus().waitUntilEmpty()
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def _count(out: str) -> int:
    """COPY's one-cell result table → the copied row count."""
    return int(out.splitlines()[3].strip("| "))


def test_engine_statements_run_no_spark_job(engine, tmp_path):
    csv = tmp_path / "ext.csv"
    csv.write_text("id,name\n1,a\n2,b\n")
    statements = [
        "PREPARE cost_p (BIGINT) AS SELECT $1 + 1 AS x",
        "DEALLOCATE cost_p",
        "EXPLAIN SELECT id FROM range(10) WHERE id > 3",
        f"SET datafusion.execution.target_partitions = "
        f"{engine.spark.conf.get('spark.sql.shuffle.partitions')}",
        f"CREATE EXTERNAL TABLE cost_ext (id INT, name STRING) STORED AS CSV "
        f"LOCATION '{csv}'",
    ]
    for stmt in statements:
        _, n = _jobs(engine.spark, lambda: engine.execute_sql(stmt))
        assert n == 0, f"{n} Spark job(s) for {stmt}"


def test_execute_binds_its_arguments_without_a_job(engine):
    # the body runs over OneRowRelation: one job, and nothing more for
    # evaluating the typed arguments
    engine.execute_sql("PREPARE cost_e (BIGINT, DATE) AS SELECT $1 + 1 AS x, $2 AS d")
    _, body_jobs = _jobs(
        engine.spark,
        lambda: engine.execute_sql("SELECT CAST(41 AS BIGINT) + 1 AS x, DATE'2024-02-29' AS d"),
    )
    out, n = _jobs(engine.spark, lambda: engine.execute_sql("EXECUTE cost_e(41, '2024-02-29')"))
    assert "42" in out and "2024-02-29" in out
    assert n == body_jobs
    engine.execute_sql("DEALLOCATE cost_e")


def test_copy_runs_the_jobs_of_one_write(engine, tmp_path):
    query = "SELECT id, id % 7 AS k FROM range(1000)"
    _, write_jobs = _jobs(
        engine.spark,
        lambda: engine.spark.sql(query).write.mode("overwrite").parquet(str(tmp_path / "w")),
    )
    out, copy_jobs = _jobs(
        engine.spark,
        lambda: engine.execute_sql(f"COPY ({query}) TO '{tmp_path / 'c'}' STORED AS PARQUET"),
    )
    assert _count(out) == 1000
    assert copy_jobs == write_jobs


def test_copy_of_an_empty_query_counts_zero(engine, tmp_path):
    dest = str(tmp_path / "empty")
    out = engine.execute_sql(
        f"COPY (SELECT id FROM range(10) WHERE id < 0) TO '{dest}' STORED AS PARQUET"
    )
    assert _count(out) == 0
    assert engine.spark.read.parquet(dest).count() == 0


def test_copy_partitioned_by_counts_every_row(engine, tmp_path):
    dest = str(tmp_path / "part")
    out = engine.execute_sql(
        f"COPY (SELECT id, id % 3 AS k FROM range(100)) TO '{dest}' "
        "STORED AS PARQUET PARTITIONED BY (k)"
    )
    assert _count(out) == 100
    assert engine.spark.read.parquet(dest).count() == 100


def test_get_spark_session_sizes_the_codegen_cache(spark):
    assert spark.conf.get("spark.sql.codegen.cache.maxEntries") == "1000"


def test_rerun_of_a_statement_mix_past_100_classes_compiles_nothing(engine):
    # each statement inlines its own constant, so each compiles its own
    # class: 120 of them overflow Spark's default 100-entry cache
    codegen = engine.spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    statements = [f"SELECT id * 3 + {7_300_000 + k} AS x FROM range(4)" for k in range(120)]

    def compiles() -> int:
        before = codegen.METRIC_COMPILATION_TIME().getCount()
        for stmt in statements:
            engine.execute_sql(stmt)
        return codegen.METRIC_COMPILATION_TIME().getCount() - before

    assert compiles() > 100
    assert compiles() == 0


def test_shims_register_in_a_session_that_reuses_a_collected_ones_id(spark):
    # CPython hands a collected session's address to the next session
    # of the same size; registration keyed on id(spark) skipped it
    seen: set[int] = set()
    reused = 0
    for _ in range(40):
        session = spark.newSession()
        reused += id(session) in seen
        seen.add(id(session))
        shims.ensure_registered(session)
        assert session.sql("SELECT dfwb_gcd(12, 18) AS g").collect()[0].g == 6
        del session
        gc.collect()
        if reused >= 3:
            break
    assert reused, "no session reused an id: the case under test never arose"
