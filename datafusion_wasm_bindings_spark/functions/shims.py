"""SQL functions the engine registers in each session (SURVEY.md §7.3).

``compat.py`` maps DataFusion function names to Spark: pure renames in
``FN_RENAMES``, everything else as text rewrites. A few rewrite targets
have no Spark builtin; ``ensure_registered(spark)`` makes them callable
under a ``dfwb_`` prefix (Spark has no schema-qualified function
namespaces for session UDFs): ``dfwb_gcd``, ``dfwb_lcm``,
``dfwb_regexp_match`` and ``dfwb_version``.

Scale note: the only pandas UDF (regexp_match with column patterns) is
Arrow-batched; at 100 TB it runs once per ~10k-row batch per core.
Everything else stays in codegen.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from datafusion_wasm_bindings_spark.session import state

# Euclid's algorithm as a bounded fold: each mod step at least halves
# the smaller operand every two iterations, and the worst case
# (consecutive Fibonacci numbers) needs ~91 steps for 64-bit inputs,
# so folding 96 steps over a constant sequence is exact for any BIGINT
# pair. gcd(0, 0) = 0 as in Postgres/``math.gcd``; abs(-2^63)
# overflows BIGINT (ANSI error), as Postgres raises on the same input.
# The body is a Spark 4 SQL UDF (CREATE TEMPORARY FUNCTION ... RETURN
# expr): Catalyst inlines it into the calling plan, so gcd/lcm in SQL
# text stay inside whole-stage codegen.
_GCD_STEPS = 96
_GCD_BODY = f"""
    aggregate(sequence(1, {_GCD_STEPS}),
              struct(abs(CAST({{a}} AS BIGINT)) AS x, abs(CAST({{b}} AS BIGINT)) AS y),
              (acc, i) -> IF(acc.y = 0L, acc, struct(acc.y AS x, acc.x % acc.y AS y))).x
"""


def _gcd_sql(a: str, b: str) -> str:
    return _GCD_BODY.format(a=a, b=b)


def version_string() -> str:
    """DataFusion ``version()`` analogue: this engine's version over
    its Spark runtime (reference surfaces DataFusion 45's)."""
    import pyspark

    from datafusion_wasm_bindings_spark import __version__

    return f"datafusion-wasm-bindings-spark {__version__} (spark {pyspark.__version__})"


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
