"""Dialect-rewrite tests: SIMILAR TO, arrow_cast, information_schema
(compat.py), driven through the engine surface."""

from __future__ import annotations

import pytest

from datafusion_wasm_bindings_spark.compat import rewrite, similar_to_regex
from datafusion_wasm_bindings_spark.engine import SQLEngine


@pytest.fixture(scope="module")
def engine(spark):
    return SQLEngine(spark)


def test_similar_to_translation():
    assert similar_to_regex("abc%") == "^(?:abc.*)$"
    assert similar_to_regex("a_c") == "^(?:a.c)$"
    out = rewrite("SELECT * FROM t WHERE x SIMILAR TO 'ab%'")
    assert "RLIKE" in out and "'^(?:ab.*)$'" in out


def test_similar_to_executes(engine, spark, sf_dir):
    from datafusion_wasm_bindings_spark.sources.catalog import register_tables

    register_tables(spark, sf_dir)
    df = engine.sql("SELECT n_name FROM nation WHERE n_name SIMILAR TO 'A%A'")
    names = {r.n_name for r in df.collect()}
    assert all(n.startswith("A") and n.endswith("A") for n in names)


def test_arrow_cast(engine):
    df = engine.sql("SELECT arrow_cast(3.9, 'Int64') AS v, arrow_cast(7, 'Utf8') AS s")
    row = df.first()
    assert row.v == 3 and row.s == "7"
    assert dict(df.dtypes) == {"v": "bigint", "s": "string"}


def test_literal_protection():
    out = rewrite("SELECT 'keep SIMILAR TO % as-is' AS s")
    assert "keep SIMILAR TO % as-is" in out and "RLIKE" not in out


def test_information_schema_tables(engine, spark, sf_dir):
    from datafusion_wasm_bindings_spark.sources.catalog import register_tables

    register_tables(spark, sf_dir)
    df = engine.sql(
        "SELECT table_name FROM information_schema.tables WHERE table_name = 'nation'"
    )
    assert df.count() == 1


def test_information_schema_columns(engine, spark, sf_dir):
    from datafusion_wasm_bindings_spark.sources.catalog import register_tables

    register_tables(spark, sf_dir)
    df = engine.sql(
        "SELECT column_name, data_type FROM information_schema.columns "
        "WHERE table_name = 'region' ORDER BY ordinal_position"
    )
    cols = [r.column_name for r in df.collect()]
    assert cols == ["r_regionkey", "r_name"]


def test_gcd_lcm_jvm_shims_exact(spark):
    # gcd/lcm run as a bounded Euclid fold (96 mod steps) in Catalyst's
    # `aggregate` higher-order function — no Python workers. The
    # consecutive-Fibonacci pair near 2^62 is the worst case for
    # Euclid's algorithm on BIGINT (~91 steps), pinning the bound.
    import math

    from datafusion_wasm_bindings_spark.functions.shims import ensure_registered

    ensure_registered(spark)
    fa, fb = 2880067194370816120, 4660046610375530309  # F(90), F(91)
    rows = spark.sql(
        f"SELECT dfwb_gcd(a, b) AS g, a, b FROM VALUES (12L, 18L), (0L, 0L), "
        f"(-8L, 12L), (CAST(NULL AS BIGINT), 5L), (987654321987L, 1234567890L), "
        f"(1L, 0L), ({fa}L, {fb}L), (-6L, -4L) t(a, b)"
    ).collect()
    for r in rows:
        expected = None if r.a is None or r.b is None else math.gcd(r.a, r.b)
        assert r.g == expected, (r.a, r.b, r.g, expected)
    rows = spark.sql(
        "SELECT dfwb_lcm(a, b) AS l, a, b FROM VALUES (12L, 18L), (0L, 0L), "
        "(4L, 6L), (CAST(NULL AS BIGINT), 5L), (1L, 0L), (-6L, -4L) t(a, b)"
    ).collect()
    for r in rows:
        expected = None if r.a is None or r.b is None else math.lcm(r.a, r.b)
        assert r.l == expected, (r.a, r.b, r.l, expected)


def test_to_char_rewrite_through_engine(spark):
    from datafusion_wasm_bindings_spark.engine import SQLEngine

    eng = SQLEngine(spark)
    out = eng.execute_sql("SELECT to_char(DATE '2024-05-01', '%Y-%m (%d)') AS s")
    assert "2024-05 (01)" in out


def test_date_bin_rewrite_through_engine(spark):
    from datafusion_wasm_bindings_spark.engine import SQLEngine

    eng = SQLEngine(spark)
    out = eng.execute_sql(
        "SELECT date_bin(INTERVAL '15' MINUTE, TIMESTAMP '2024-05-01 10:34:56', "
        "TIMESTAMP '1970-01-01 00:00:00') AS b"
    )
    assert "2024-05-01 10:30:00" in out


def test_distinct_on_rewrite_through_engine(spark, sf_dir):
    from datafusion_wasm_bindings_spark.engine import SQLEngine
    from datafusion_wasm_bindings_spark.sources.catalog import register_tables

    register_tables(spark, sf_dir)
    eng = SQLEngine(spark)
    df = eng.sql(
        "SELECT DISTINCT ON (n_regionkey) n_regionkey, n_name "
        "FROM nation ORDER BY n_regionkey, n_name"
    )
    rows = df.collect()
    # one row per region, and it is the lexicographically first name
    assert len(rows) == 5
    assert all(r.n_name.endswith(f"_{r.n_regionkey}") or r.n_name for r in rows)
    keys = [r.n_regionkey for r in rows]
    assert keys == sorted(set(keys))


def test_distinct_on_with_cte_prefix(spark, sf_dir):
    from datafusion_wasm_bindings_spark.engine import SQLEngine
    from datafusion_wasm_bindings_spark.sources.catalog import register_tables

    register_tables(spark, sf_dir)
    eng = SQLEngine(spark)
    df = eng.sql(
        "WITH n AS (SELECT n_regionkey, n_name FROM nation WHERE n_regionkey < 3) "
        "SELECT DISTINCT ON (n_regionkey) n_regionkey, n_name "
        "FROM n ORDER BY n_regionkey, n_name DESC"
    )
    rows = df.collect()
    assert len(rows) == 3
    # DESC tiebreak: the kept name is the max per key
    for r in rows:
        mx = spark.sql(
            f"SELECT max(n_name) m FROM nation WHERE n_regionkey = {r.n_regionkey}"
        ).first().m
        assert r.n_name == mx


def test_chrono_to_java_literal_quoting():
    from datafusion_wasm_bindings_spark.compat import chrono_to_java

    assert chrono_to_java("%Y-%m-%d") == "yyyy-MM-dd"
    assert chrono_to_java("at %H:%M") == "'at' HH:mm"


def test_datafusion_function_spellings_through_engine(spark):
    """Every DataFusion spelling from SURVEY §2.8 that Spark SQL lacks
    must work through execute_sql via the compat rename/shim layer."""
    from datafusion_wasm_bindings_spark.engine import SQLEngine

    eng = SQLEngine(spark)
    cases = {
        "SELECT strpos('hello','ll') AS r": "3",
        "SELECT strpos(upper(concat('he','llo')),'LL') AS r": "3",  # nested args
        "SELECT regexp_match('ab123cd','[0-9]+') AS r": "123",
        "SELECT regexp_match('ab123cd','([a-z]+)([0-9]+)') AS r": "ab",
        "SELECT to_hex(255) AS r": "FF",
        "SELECT ends_with('hello','lo') AS r": "true",
        "SELECT starts_with('hello','he') AS r": "true",
        "SELECT list_extract(array(1,2,3), 2) AS r": "2",
        "SELECT gcd(12, 18) AS r": "6",
        "SELECT lcm(4, 6) AS r": "12",
        "SELECT iszero(0.0) AS r": "true",
        "SELECT iszero(1.5) AS r": "false",
        "SELECT datetrunc('month', TIMESTAMP '2024-05-15 10:00:00') AS r": "2024-05-01",
        "SELECT substr_index('a.b.c', '.', 2) AS r": "a.b",
        "SELECT trunc(1.9) AS r": "1.0",
        "SELECT trunc(-1.9) AS r": "-1.0",
        "SELECT trunc(3.14159, 2) AS r": "3.14",
        "SELECT trunc(123.456, -1) AS r": "120.0",
        # 2-arg with a string literal = Spark's DATE trunc: passes through
        "SELECT trunc(DATE '2024-05-15', 'MM') AS r": "2024-05-01",
        "SELECT today() IS NOT NULL AS r": "true",
        "SELECT character_length('abc') AS r": "3",
        "SELECT datepart('year', DATE '2024-05-15') AS r": "2024",
    }
    for sql, want in cases.items():
        out = eng.execute_sql(sql)
        assert want.lower() in out.lower(), f"{sql} -> {out}"


def test_fn_renames_are_pure_renames(spark):
    """Every FN_RENAMES key is a name Spark does not resolve, and every
    target one it does once the session's shims are registered. A name
    Spark already resolves keeps Spark's meaning, so where DataFusion's
    differs it needs a call rewrite, not a rename."""
    from datafusion_wasm_bindings_spark.compat import FN_RENAMES
    from datafusion_wasm_bindings_spark.functions.shims import ensure_registered

    ensure_registered(spark)
    exists = spark.catalog.functionExists
    assert [k for k in FN_RENAMES if exists(k)] == []
    assert [v for v in FN_RENAMES.values() if not exists(v)] == []


def test_information_schema_views_and_settings(engine, spark, sf_dir):
    from datafusion_wasm_bindings_spark.sources.catalog import register_tables

    register_tables(spark, sf_dir)
    views = engine.sql(
        "SELECT table_name FROM information_schema.views WHERE table_name = 'nation'"
    )
    assert views.count() == 1  # fixture temp views are VIEW-typed
    settings = engine.sql(
        "SELECT name, value FROM information_schema.df_settings "
        "WHERE name = 'spark.sql.adaptive.enabled'"
    )
    assert settings.count() == 1


# Dialect oracle coverage: each case is a DataFusion-dialect text that
# needs a compat rewrite to run on Spark (run through SQLEngine.sql) and
# the DuckDB text with the same meaning, compared like the registry's
# oracle gate. Each case fails when its rewrite is disabled.
_DIALECT_CASES = {
    "similar_to": (
        "SELECT n_name, n_name SIMILAR TO '%(1|2)_' AS two_digit FROM nation "
        "WHERE n_name NOT SIMILAR TO '%[5-9]'",
        "SELECT n_name, regexp_full_match(n_name, '.*(1|2).') AS two_digit "
        "FROM nation WHERE NOT regexp_full_match(n_name, '.*[5-9]')",
    ),
    "distinct_on_derived_table": (
        "SELECT t.n_regionkey, t.n_name FROM "
        "(SELECT DISTINCT ON (n_regionkey) n_regionkey, n_name "
        " FROM nation ORDER BY n_regionkey, n_name) t "
        "WHERE t.n_regionkey < 3 ORDER BY t.n_regionkey",
        "same",
    ),
    "distinct_on_cte_body": (
        "WITH firsts AS (SELECT DISTINCT ON (n_regionkey) n_regionkey, n_name "
        "  FROM nation ORDER BY n_regionkey, n_name DESC) "
        "SELECT n_regionkey, n_name FROM firsts ORDER BY n_regionkey",
        "same",
    ),
    "distinct_on_cte_body_and_final_select": (
        "WITH firsts AS (SELECT DISTINCT ON (n_regionkey) n_regionkey, n_name "
        "  FROM nation ORDER BY n_regionkey, n_name) "
        "SELECT DISTINCT ON (n_name) n_name, n_regionkey FROM firsts "
        "ORDER BY n_name, n_regionkey",
        "same",
    ),
    "date_bin": (
        "SELECT o_orderkey, CAST(date_bin(INTERVAL '7' DAY, "
        "CAST(o_orderdate AS TIMESTAMP), TIMESTAMP '1970-01-05 00:00:00') AS STRING) AS wk "
        "FROM orders WHERE o_orderkey <= 200",
        "SELECT o_orderkey, CAST(time_bucket(INTERVAL '7 days', "
        "CAST(o_orderdate AS TIMESTAMP), TIMESTAMP '1970-01-05 00:00:00') AS VARCHAR) AS wk "
        "FROM orders WHERE o_orderkey <= 200",
    ),
    "to_char": (
        "SELECT o_orderkey, to_char(o_orderdate, '%Y-%m (%d)') AS s "
        "FROM orders WHERE o_orderkey <= 200",
        "SELECT o_orderkey, strftime(o_orderdate, '%Y-%m (%d)') AS s "
        "FROM orders WHERE o_orderkey <= 200",
    ),
    "arrow_cast": (
        "SELECT o_orderkey, arrow_cast(o_totalprice, 'Int64') AS p, "
        "arrow_cast(o_orderkey, 'Utf8') AS k FROM orders WHERE o_orderkey <= 200",
        "SELECT o_orderkey, CAST(trunc(o_totalprice) AS BIGINT) AS p, "
        "CAST(o_orderkey AS VARCHAR) AS k FROM orders WHERE o_orderkey <= 200",
    ),
    "gcd_lcm": (
        "SELECT p_partkey, gcd(p_size - 25, 24) AS g, lcm(p_size % 5, 4) AS l "
        "FROM part WHERE p_partkey <= 200",
        "same",
    ),
    "approx_distinct": (
        "SELECT approx_distinct(n_regionkey) AS n FROM nation",
        "SELECT count(DISTINCT n_regionkey) AS n FROM nation",
    ),
    "approx_median": (
        "SELECT approx_median(n_nationkey) AS m FROM nation",
        "SELECT quantile_disc(n_nationkey, 0.5) AS m FROM nation",
    ),
}


@pytest.mark.parametrize("case", sorted(_DIALECT_CASES))
def test_dialect_case_matches_duckdb(case, engine, spark, duck, sf_dir):
    from datafusion_wasm_bindings_spark.sources.catalog import register_tables
    from tests.conftest import assert_oracle_match

    datafusion_sql, duckdb_sql = _DIALECT_CASES[case]
    register_tables(spark, sf_dir)
    got = engine.sql(datafusion_sql)
    want = duck.sql(datafusion_sql if duckdb_sql == "same" else duckdb_sql)
    assert_oracle_match(got, want, case)


def test_groups_frame_through_engine(spark):
    """GROUPS window frames (SURVEY §2.5) through the SQL-text surface:
    rewritten to DENSE_RANK + RANGE (compat.rewrite_groups_frames)."""
    from datafusion_wasm_bindings_spark.engine import SQLEngine

    eng = SQLEngine(spark)
    out = eng.execute_sql(
        "SELECT id, SUM(x) OVER (ORDER BY o GROUPS BETWEEN 1 PRECEDING AND 1 FOLLOWING) AS s "
        "FROM (VALUES (1, 10, 1), (2, 10, 2), (3, 20, 4), (4, 30, 8)) AS t(id, o, x) "
        "ORDER BY id"
    )
    # peers {10}={1,2}, {20}={4}, {30}={8}: frames -> 7, 7, 15, 12
    for v in ("7", "15", "12"):
        assert v in out


def test_double_quoted_identifiers_rewrite(spark):
    """DataFusion/Postgres "ident" quoting (SURVEY §1.1) reaches Spark
    as backticks; double quotes inside string literals are untouched;
    "" escapes an embedded quote."""
    from datafusion_wasm_bindings_spark.compat import rewrite

    assert rewrite('SELECT "a" FROM t') == "SELECT `a` FROM t"
    assert rewrite('SELECT 1 AS "x;y"') == "SELECT 1 AS `x;y`"
    assert rewrite('SELECT 1 AS "wi""th"') == "SELECT 1 AS `wi\"th`"
    assert rewrite("SELECT 'he said \"hi\"' AS s") == "SELECT 'he said \"hi\"' AS s"
    # end-to-end through the session
    rows = spark.sql(rewrite('SELECT "v" FROM (SELECT 7 AS v)')).collect()
    assert rows[0][0] == 7


def test_literal_masking_scanner_quote_interplay():
    """The single-pass masker must not let a single quote inside a
    double-quoted identifier or a comment open a phantom string
    literal (the regex-per-quote-kind approach swallowed everything up
    to the next real quote)."""
    from datafusion_wasm_bindings_spark.compat import rewrite

    assert rewrite('SELECT "a\'b" AS x, \'y\' AS s') == "SELECT `a'b` AS x, 'y' AS s"
    assert (
        rewrite("-- it's a comment\nSELECT 1 AS a, 'x' AS s")
        == "-- it's a comment\nSELECT 1 AS a, 'x' AS s"
    )
    assert rewrite("SELECT /* don't */ 'y' AS s") == "SELECT /* don't */ 'y' AS s"
    assert rewrite("SELECT 'don''t' AS s, \"col\" AS c") == "SELECT 'don''t' AS s, `col` AS c"


def test_comments_are_masked_from_rewrites():
    """Comment text must be invisible to dialect rewrites: a function
    name or DISTINCT ON mentioned in a -- or /* */ comment must come
    back verbatim, never rewritten (ADVICE r4 — the scanner now masks
    comments with literal placeholders)."""
    from datafusion_wasm_bindings_spark.compat import rewrite

    s = (
        "SELECT x FROM t -- use arrow_cast(x, 'Int64') on DISTINCT ON\n"
        "WHERE y /* strpos(a,b) SIMILAR TO 'z%' */ = 1"
    )
    assert rewrite(s) == s
    # and real rewrites around the comments still fire
    r = rewrite("SELECT strpos(a, b) AS p /* strpos stays */ FROM t")
    assert r == "SELECT locate(b, a) AS p /* strpos stays */ FROM t"


def test_fuzz_comments_invisible_to_rewrites():
    """Property (hypothesis): inserting a comment — whose body is built
    ENTIRELY from rewrite-trigger tokens — at any whitespace boundary
    of a statement (1) leaves the statement's own rewrite unchanged
    modulo the insertion, (2) preserves /* block */ comments verbatim
    (an adjacency rewrite that consumes one re-emits it after the
    rewritten expression), and (3) preserves -- line comments verbatim
    EXCEPT inside a rewritten construct, where they are dropped —
    moving a line comment would swallow the rest of its new line, and
    comments are whitespace to the parser. Guards the r5 scanner
    change against regressions where a rewrite fires on comment text
    or a comment defeats/shifts code rewrites."""
    from hypothesis import given, settings, strategies as st

    from datafusion_wasm_bindings_spark.compat import rewrite

    bases = [
        "SELECT a FROM t WHERE b = 1",
        "SELECT strpos(a, b) AS p FROM t",
        "SELECT arrow_cast(x, 'Int64') AS a FROM t",
        "SELECT a FROM t WHERE n SIMILAR TO 'ab%'",
        "SELECT 'don''t' AS s, \"col\" AS c FROM t",
    ]
    trigger_words = st.lists(
        st.sampled_from(
            ["arrow_cast(x, 'Int64')", "strpos(a,b)", "SIMILAR TO 'z%'",
             "DISTINCT ON", "trunc(1.5)", "it's", "information_schema.tables"]
        ),
        min_size=1,
        max_size=3,
    ).map(" ".join)

    @settings(max_examples=250, deadline=None)
    @given(
        base=st.sampled_from(bases),
        body=trigger_words,
        block=st.booleans(),
        pos_seed=st.integers(min_value=0, max_value=10**6),
    )
    def check(base, body, block, pos_seed):
        comment = f"/* {body} */" if block else f"-- {body}\n"
        gaps = [i for i, ch in enumerate(base) if ch == " "]
        at = gaps[pos_seed % len(gaps)]
        s_with = base[:at] + " " + comment + base[at:]
        out = rewrite(s_with)
        if block:
            assert comment in out, (s_with, out)
        stripped = out.replace(comment, " ") if comment in out else out
        if not block:
            # a dropped line comment must be FULLY dropped, never a
            # mangled fragment
            assert body not in stripped, (s_with, out)
        # arg-reordering rewrites (strpos->locate) may move a comment
        # WITH its argument and leave extra spaces — compare the code
        # parts whitespace-free
        assert "".join(stripped.split()) == "".join(rewrite(base).split()), (
            s_with,
            out,
        )

    check()
