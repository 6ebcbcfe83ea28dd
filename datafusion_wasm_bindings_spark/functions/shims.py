"""DataFusion-name → Spark-function shim registry (SURVEY.md §7.3).

Nearly every scalar function the reference compiles in
(datafusion-functions*, Cargo.lock:783-861) is a pure name-mapping to
a Spark builtin — those mappings live in ``NAME_MAP`` and cost
nothing at runtime (Catalyst sees the builtin). Only functions with
no Spark equivalent get a real implementation, preferring expression
composition (JVM-side, codegen-friendly): even gcd/lcm, which have no
closed form, run as a bounded Euclid fold via the ``aggregate``
higher-order function — pure JVM, no Python workers.

``ensure_registered(spark)`` makes the SQL-callable shims available
under a ``dfwb_`` prefix (Spark has no schema-qualified function
namespaces for session UDFs); gcd/lcm register as Spark 4 SQL UDFs
that Catalyst inlines into the calling plan.

Scale note: the only remaining pandas UDF (regexp_match with column
patterns) is Arrow-batched; at 100 TB it runs once per ~10k-row batch
per core. Everything else stays in codegen.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from datafusion_wasm_bindings_spark.session import state

# DataFusion name -> pyspark.sql.functions name, where it is a pure
# rename (identical semantics). Identity mappings are omitted.
NAME_MAP = {
    "ln": "log",
    "power": "pow",
    "signum": "signum",
    "array_agg": "collect_list",
    "approx_distinct": "approx_count_distinct",
    "approx_median": "percentile_approx",  # with p=0.5
    "character_length": "char_length",
    "strpos": "locate",  # arg order differs: locate(sub, str)
    "substr_index": "substring_index",
    "datepart": "date_part",
    "datetrunc": "date_trunc",
    "now": "current_timestamp",
    "today": "current_date",
    "mean": "avg",
    "nvl": "ifnull",
}


# --- expression-composition shims (stay JVM-side) --------------------

def iszero(col: Column) -> Column:
    """DataFusion iszero(x) — true when x == ±0.0 (not for NaN/null)."""
    return F.when(col.isNull(), F.lit(None).cast("boolean")).otherwise(col == 0.0)


def nanvl(x: Column, y: Column) -> Column:
    """Spark has a native nanvl; exposed here for the name registry."""
    return F.nanvl(x, y)


def date_bin(stride_seconds: int, ts: Column, origin_epoch_us: int = 0) -> Column:
    """DataFusion date_bin(stride, ts, origin): floor ts into stride-
    aligned buckets. Pure integer arithmetic on epoch micros — stays in
    whole-stage codegen (SURVEY §2.8 datetime gaps).
    """
    stride_us = F.lit(int(stride_seconds) * 1_000_000)
    # cast first: unix_micros rejects TIMESTAMP_NTZ (how Spark 4 reads
    # parquet nanos), and the cast is a no-op on TIMESTAMP inputs
    off = F.unix_micros(ts.cast("timestamp")) - F.lit(origin_epoch_us)
    bucket = F.floor(off / stride_us).cast("long") * stride_us + F.lit(origin_epoch_us)
    return F.timestamp_micros(bucket.cast("long"))


def trunc(col: Column, decimals: int = 0) -> Column:
    """DataFusion numeric ``trunc(x[, d])`` — truncate toward zero to
    ``d`` decimal places (d may be negative). Spark's builtin ``trunc``
    is date-only; this composition stays in whole-stage codegen.
    Differential note: DuckDB/Postgres ``trunc`` agrees; Spark's bare
    ``CAST(double AS INT)`` also truncates while DuckDB's CAST rounds
    half-even (tests/test_fuzz_differential.py cast grammar)."""
    if decimals == 0:
        t = F.when(col >= 0, F.floor(col)).otherwise(F.ceil(col))
    else:
        f = F.lit(10.0) ** F.lit(decimals)
        t = (F.when(col >= 0, F.floor(col * f)).otherwise(F.ceil(col * f))) / f
    return t.cast("double")


def concat(*cols: Column) -> Column:
    """DataFusion/Postgres ``concat``: NULL arguments are skipped.
    Spark's ``concat`` null-propagates instead (found by the
    differential fuzzer, tests/test_fuzz_differential.py) —
    ``concat_ws('', …)`` reproduces the reference semantics."""
    return F.concat_ws("", *cols)


# Euclid's algorithm as a bounded fold: each mod step at least halves
# the smaller operand every two iterations, and the worst case
# (consecutive Fibonacci numbers) needs ~91 steps for 64-bit inputs,
# so folding 96 steps over a constant sequence is exact for any BIGINT
# pair. The fold is a Catalyst higher-order function — pure JVM,
# no Python workers (was an Arrow pandas UDF before).
_GCD_STEPS = 96


def gcd(a: Column, b: Column) -> Column:
    """DataFusion/Postgres ``gcd(a, b)`` on BIGINT, JVM-side.

    Nulls propagate through the fold naturally; gcd(0, 0) = 0 as in
    Postgres/``math.gcd``. Caveat: abs(-2^63) overflows BIGINT (ANSI
    error) — Postgres raises on the same input.
    """
    pair = F.struct(
        F.abs(a.cast("long")).alias("x"), F.abs(b.cast("long")).alias("y")
    )
    res = F.aggregate(
        F.sequence(F.lit(1), F.lit(_GCD_STEPS)),
        pair,
        lambda acc, _: F.when(acc.y == 0, acc).otherwise(
            F.struct(acc.y.alias("x"), (acc.x % acc.y).alias("y"))
        ),
    )
    return res.getField("x")


def lcm(a: Column, b: Column) -> Column:
    """DataFusion/Postgres ``lcm(a, b)`` on BIGINT, JVM-side.

    lcm(0, 0) = 0; divides by gcd before multiplying to minimize
    overflow (|a|/g * |b|).
    """
    g = gcd(a, b)
    ax = F.abs(a.cast("long"))
    bx = F.abs(b.cast("long"))
    return F.when((ax == 0) | (bx == 0), F.lit(0).cast("long")).otherwise(
        (ax / g).cast("long") * bx
    )


# SQL UDF bodies (Spark 4 CREATE TEMPORARY FUNCTION ... RETURN expr):
# inlined into the calling plan by Catalyst, so gcd/lcm in SQL text
# stay inside whole-stage codegen too.
_GCD_BODY = f"""
    aggregate(sequence(1, {_GCD_STEPS}),
              struct(abs(CAST({{a}} AS BIGINT)) AS x, abs(CAST({{b}} AS BIGINT)) AS y),
              (acc, i) -> IF(acc.y = 0L, acc, struct(acc.y AS x, acc.x % acc.y AS y))).x
"""


def _gcd_sql(a: str, b: str) -> str:
    return _GCD_BODY.format(a=a, b=b)


# --- introspection helpers (SURVEY §2.8 "—" rows) ---------------------

# Spark typeof() name -> Arrow type name as DataFusion's arrow_typeof
# prints it (datafusion/functions arrow_typeof; the reference compiles
# it in via datafusion-functions, Cargo.lock:783).
_ARROW_TYPE_NAMES = {
    "tinyint": "Int8",
    "smallint": "Int16",
    "int": "Int32",
    "bigint": "Int64",
    "float": "Float32",
    "double": "Float64",
    "string": "Utf8",
    "boolean": "Boolean",
    "date": "Date32",
    "binary": "Binary",
    "timestamp": 'Timestamp(Microsecond, Some("UTC"))',
    "timestamp_ntz": "Timestamp(Microsecond, None)",
}


def arrow_typeof(col: Column) -> Column:
    """DataFusion ``arrow_typeof(x)`` — the Arrow type name of the
    argument. Composed from Spark's ``typeof`` plus a name map (a
    constant-folded CASE chain); decimals print as Decimal128(p, s) —
    with the space after the comma, matching arrow-rs's Debug form that
    DataFusion's arrow_typeof emits. Unmapped Spark-only names pass
    through unchanged."""
    t = F.typeof(col)
    out = F.when(
        t.startswith("decimal"),
        F.concat(
            F.lit("Decimal128"),
            F.regexp_replace(F.regexp_replace(t, "^decimal", ""), ",", ", "),
        ),
    )
    for spark_name, arrow_name in _ARROW_TYPE_NAMES.items():
        out = out.when(t == spark_name, F.lit(arrow_name))
    return out.otherwise(t)


def version_string() -> str:
    """DataFusion ``version()`` analogue: this engine's version over
    its Spark runtime (reference surfaces DataFusion 45's)."""
    import pyspark

    from datafusion_wasm_bindings_spark import __version__

    return f"datafusion-wasm-bindings-spark {__version__} (spark {pyspark.__version__})"


def regexp_match(col: Column, pattern: str) -> Column:
    """DataFusion/Postgres ``regexp_match`` for a LITERAL pattern,
    composed from JVM builtins — stays in whole-stage codegen, unlike
    the SQL-callable UDF below (which must accept column patterns).
    Returns capture groups of the first match when the pattern has
    groups, else the whole match; NULL when no match.

    Edge divergence (documented, not hit by parity queries): a group
    that exists but did not participate in the match yields '' here,
    NULL in Postgres/DataFusion.
    """
    import re as _re

    ngroups = _re.compile(pattern).groups
    idxs = range(1, ngroups + 1) if ngroups else [0]
    arr = F.array(*[F.regexp_extract(col, pattern, i) for i in idxs])
    return F.when(col.rlike(pattern), arr)


@F.pandas_udf(T.ArrayType(T.StringType()))
def _regexp_match_udf(s: pd.Series, p: pd.Series) -> pd.Series:
    # DataFusion regexp_match: first match; capture groups if the
    # pattern has any, else the whole match, as array<string>.
    # Arrow-batched; compiled patterns cached per batch. Self-contained
    # imports: runs on Python workers that may not import the package.
    import re as _re

    cache: dict[str, object] = {}
    out = []
    for x, pat in zip(s, p):
        if x is None or pat is None:
            out.append(None)
            continue
        rx = cache.get(pat)
        if rx is None:
            rx = cache[pat] = _re.compile(pat)
        m = rx.search(x)
        out.append(None if m is None else (list(m.groups()) if m.groups() else [m.group(0)]))
    return pd.Series(out)


def ensure_registered(spark: SparkSession) -> None:
    """Register the SQL-callable shims once per session.

    gcd/lcm are SQL scalar UDFs (Spark 4 ``CREATE TEMPORARY FUNCTION …
    RETURN expr``) — Catalyst inlines the body into the calling plan,
    so they codegen like any builtin. Only regexp_match (column
    patterns) remains a Python UDF.
    """
    st = state(spark)
    if st.shims:
        return
    spark.sql(
        "CREATE OR REPLACE TEMPORARY FUNCTION dfwb_gcd(a BIGINT, b BIGINT) "
        "RETURNS BIGINT RETURN CASE WHEN a IS NULL OR b IS NULL THEN "
        "CAST(NULL AS BIGINT) ELSE " + _gcd_sql("a", "b") + " END"
    )
    spark.sql(
        "CREATE OR REPLACE TEMPORARY FUNCTION dfwb_lcm(a BIGINT, b BIGINT) "
        "RETURNS BIGINT RETURN CASE WHEN a IS NULL OR b IS NULL THEN "
        "CAST(NULL AS BIGINT) WHEN a = 0L OR b = 0L THEN 0L ELSE "
        "abs(a) DIV (" + _gcd_sql("a", "b") + ") * abs(b) END"
    )
    spark.udf.register("dfwb_regexp_match", _regexp_match_udf)
    spark.sql(
        "CREATE OR REPLACE TEMPORARY FUNCTION dfwb_version() "
        f"RETURNS STRING RETURN '{version_string()}'"
    )
    st.shims = True
