"""Shared pytest fixtures: one SparkSession per test run, a DuckDB
connection with the same fixture views the driver registers, and the
oracle-comparison helper replicating the driver's check (row count +
schema width + order-insensitive values)."""

from __future__ import annotations

import math
import os
import sys
from collections import Counter
from contextlib import contextmanager
from datetime import date, datetime
from decimal import Decimal

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from datafusion_wasm_bindings_spark.session import get_spark
from tools_driver_sim import oracle_connection

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    s = get_spark("dfwb-spark-tests", shuffle_partitions=8)
    yield s


@contextmanager
def checkpoint_dir(spark, path):
    """Make every lineage cut inside the block durable, into ``path``.

    The checkpoint dir lives on the session-wide SparkContext, so the
    previous dir (normally none) comes back on exit: no later test in the
    process cuts into this one's temp dir. Yields the dir Spark made
    (a fresh subdir of ``path``)."""
    sc = spark.sparkContext
    old = sc.getCheckpointDir()
    sc.setCheckpointDir(str(path))
    try:
        yield sc.getCheckpointDir()
    finally:
        # setCheckpointDir would nest a fresh subdir under ``old``; restore it exactly
        getattr(sc._jsc.sc(), "checkpointDir_$eq")(sc._jvm.scala.Option.apply(old))


@pytest.fixture(scope="session")
def sf_dir():
    return SF_DIR


@pytest.fixture(scope="session")
def duck():
    con = oracle_connection(SF_DIR)
    yield con
    con.close()


def _norm(v):
    """Normalize a cell for cross-engine comparison — and REJECT types
    the driver's hash is not robust to. The driver hashes raw cell
    representations: Decimal vs float64 hash differently, list/dict
    cells crash pandas factorize, and tz-aware vs tz-naive timestamps
    diverge (CORRECTNESS_r01 q_win_ranking / q_agg_order_within).
    Normalizing here would make local green NOT predict driver green,
    so those types raise instead. DATE stays allowed."""
    if v is None:
        return None
    if isinstance(v, (Decimal, datetime, list, tuple, dict)):
        raise AssertionError(
            f"hash-unsafe cell {type(v).__name__}: {v!r} — surface as "
            "DOUBLE/STRING/DATE/epoch (queries/__init__.py determinism rules)"
        )
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        # SPARK_GRAFT_RAW_FLOATS=1 compares raw float bits — the
        # driver's own semantics. Measured 2026-08-13: all 142
        # oracle-paired queries pass RAW at sf0.01 (the determinism
        # recipes produce bit-identical doubles). Default keeps a 1e-9
        # cushion so a future Spark partial-agg reorder in the rounded
        # stats queries degrades to a visible-but-soft failure first.
        if os.environ.get("SPARK_GRAFT_RAW_FLOATS", "").lower() in ("1", "true"):
            return v
        # cut the last couple of noise bits without hiding real diffs
        return round(v, 9) if abs(v) < 1e10 else round(v, 2)
    if isinstance(v, date):
        return v.isoformat()
    if isinstance(v, bytearray):
        return bytes(v)
    return v


# output types the driver's row canonicalizer cannot hash stably
# (shared by tests/test_registry_lint.py and assert_oracle_match)
from pyspark.sql import types as _T  # noqa: E402

HASH_UNSAFE_TYPES = (
    _T.DecimalType,
    _T.ArrayType,
    _T.MapType,
    _T.StructType,
    _T.TimestampType,
    _T.TimestampNTZType,
)


# DuckDB result types whose pandas materialization (`rel.df()`) does
# NOT round-trip to the Spark column's dtype — the driver canonicalizes
# BOTH sides via pandas before hashing, so these make the hash diverge
# even when every cell value is equal. Root cause of all 7 round-2
# driver failures: SUM(BIGINT) widens to HUGEINT, which `.df()`
# materializes as float64 while Spark's sum stays int64 (VERDICT r2
# "What's wrong" #1). Fix at the oracle: CAST(SUM(…) AS BIGINT).
ORACLE_UNSAFE_TYPES = (
    "HUGEINT",
    "UHUGEINT",
    "DECIMAL",
    "TIMESTAMP",  # any flavor; Spark side is rejected too (HASH_UNSAFE_TYPES)
    "INTERVAL",
    "STRUCT",
    "MAP",
    "UNION",
    "[]",  # DuckDB list spelling, e.g. VARCHAR[]
    "LIST",
)


def assert_oracle_match(spark_df, duck_rel, name=""):
    """Compare a Spark DataFrame against a DuckDB relation the way the
    driver does: row count, column-name set, and multiset of rows with
    columns sorted by name."""
    unsafe = [
        (f.name, f.dataType.simpleString())
        for f in spark_df.schema.fields
        if isinstance(f.dataType, HASH_UNSAFE_TYPES)
    ]
    assert not unsafe, f"{name}: hash-unsafe output columns {unsafe}"
    # oracle-side dtype lint: local green must predict driver green, and
    # the driver hashes pandas dtypes, not Python values (3 == 3.0 here
    # but int64 != float64 there)
    d_unsafe = [
        (c, str(t))
        for c, t in zip(duck_rel.columns, duck_rel.types)
        if any(k in str(t).upper() for k in ORACLE_UNSAFE_TYPES)
    ]
    assert not d_unsafe, (
        f"{name}: oracle columns with pandas-unstable DuckDB types "
        f"{d_unsafe} — CAST to BIGINT/DOUBLE/VARCHAR/DATE in the oracle SQL"
    )
    # Cross-side dtype-FAMILY parity: the driver hashes pandas dtypes,
    # so an int64 Spark column against a float64 oracle column fails
    # even on equal values (pandas hashes float bits). Int width doesn't
    # matter (hash_pandas_object converts via value), so families are
    # int / float / bool / date / other. Caught live by
    # tools_driver_sim.py on q_fn_math_basic: Spark ceil/floor→BIGINT
    # vs DuckDB→DOUBLE, Spark sign→DOUBLE vs DuckDB→TINYINT.
    def _spark_family(dt) -> str:
        from pyspark.sql import types as T

        if isinstance(dt, (T.ByteType, T.ShortType, T.IntegerType, T.LongType)):
            return "int"
        if isinstance(dt, (T.FloatType, T.DoubleType)):
            return "float"
        if isinstance(dt, T.BooleanType):
            return "bool"
        if isinstance(dt, T.DateType):
            return "date"
        return "other"

    def _duck_family(t: str) -> str:
        t = t.upper()
        if t in ("TINYINT", "SMALLINT", "INTEGER", "BIGINT", "UTINYINT", "USMALLINT", "UINTEGER", "UBIGINT"):
            return "int"
        if t in ("FLOAT", "DOUBLE", "REAL"):
            return "float"
        if t == "BOOLEAN":
            return "bool"
        if t == "DATE":
            return "date"
        return "other"

    s_fam = {f.name.lower(): _spark_family(f.dataType) for f in spark_df.schema.fields}
    fam_mismatch = [
        (c, s_fam.get(c.lower()), str(t))
        for c, t in zip(duck_rel.columns, duck_rel.types)
        if c.lower() in s_fam and s_fam[c.lower()] != _duck_family(str(t))
    ]
    assert not fam_mismatch, (
        f"{name}: dtype-family mismatch between Spark schema and oracle "
        f"types {fam_mismatch} — CAST one side so pandas dtypes agree"
    )
    s_cols = sorted(spark_df.columns)
    d_cols = sorted(duck_rel.columns)
    assert [c.lower() for c in s_cols] == [c.lower() for c in d_cols], (
        f"{name}: column names differ: spark={s_cols} duck={d_cols}"
    )
    s_rows = spark_df.collect()
    d_rows = duck_rel.fetchall()
    assert len(s_rows) == len(d_rows), (
        f"{name}: row count differs: spark={len(s_rows)} duck={len(d_rows)}"
    )
    d_index = {c: i for i, c in enumerate(duck_rel.columns)}
    d_order = [d_index[c] for c in sorted(duck_rel.columns, key=str.lower)]
    s_set = Counter(
        tuple(_norm(row[c]) for c in sorted(spark_df.columns, key=str.lower))
        for row in s_rows
    )
    d_set = Counter(tuple(_norm(row[i]) for i in d_order) for row in d_rows)
    if s_set != d_set:
        only_s = list((s_set - d_set).items())[:5]
        only_d = list((d_set - s_set).items())[:5]
        raise AssertionError(
            f"{name}: value multiset differs.\n only in spark: {only_s}\n only in duck: {only_d}"
        )
