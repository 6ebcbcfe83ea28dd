"""Statements & control surface — SURVEY.md §2.9: multi-statement
scripts, CTEs, recursive CTEs, prepared statements, DDL views.

Recursive CTEs: the reference inherits RecursiveQueryExec
(Cargo.lock:978). Spark 4.0+ supports WITH RECURSIVE natively — used
here, with the driver-side fixpoint loop (plans/recursive.py) kept as
the documented fallback for older Sparks and registered as its own
rows-checked query.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from datafusion_wasm_bindings_spark.engine import SQLEngine
from datafusion_wasm_bindings_spark.queries import query, sql_query

# --- q_multi_statement: script through the engine wrapper --------------
def _multi_statement(spark: SparkSession, sf_dir: str) -> DataFrame:
    eng = SQLEngine(spark)
    eng.execute_sql(
        """
        CREATE OR REPLACE TEMP VIEW ms_big_orders AS
          SELECT * FROM orders WHERE o_totalprice > 100000;
        CREATE OR REPLACE TEMP VIEW ms_counts AS
          SELECT o_orderstatus, COUNT(*) AS n FROM ms_big_orders GROUP BY o_orderstatus
        """
    )
    return eng.sql("SELECT o_orderstatus, n FROM ms_counts")


query(
    "q_multi_statement",
    """
    SELECT o_orderstatus, COUNT(*) AS n
    FROM orders WHERE o_totalprice > 100000
    GROUP BY o_orderstatus
    """,
    tags=("statements",),
)(_multi_statement)

# --- q_cte ---------------------------------------------------------------
sql_query(
    "q_cte",
    """
    WITH regional AS (
      SELECT n_nationkey, n_name, r_name
      FROM nation JOIN region ON n_regionkey = r_regionkey
    ),
    counts AS (
      SELECT r_name, COUNT(*) AS n_nations FROM regional GROUP BY r_name
    )
    SELECT r_name, n_nations FROM counts
    """,
    tags=("statements", "cte"),
)

# --- q_recursive_cte: native WITH RECURSIVE (Spark 4) ----------------------
sql_query(
    "q_recursive_cte",
    """
    WITH RECURSIVE seq(n) AS (
      SELECT 1
      UNION ALL
      SELECT n + 1 FROM seq WHERE n < 25
    )
    SELECT n, n * n AS sq FROM seq
    """,
    tags=("statements", "recursive"),
)

# --- q_recursive_cte_loop: driver-side fixpoint fallback (SURVEY §7.4) ------
def _recursive_loop(spark: SparkSession, sf_dir: str) -> DataFrame:
    from datafusion_wasm_bindings_spark.plans.recursive import recursive_fixpoint

    seed = SQLEngine(spark).sql("SELECT 1 AS n")

    def step(prev: DataFrame) -> DataFrame:
        return prev.filter("n < 25").selectExpr("n + 1 AS n")

    out = recursive_fixpoint(seed, step, max_iterations=50)
    return out.selectExpr("n", "n * n AS sq")


query(
    "q_recursive_cte_loop",
    """
    WITH RECURSIVE seq(n) AS (
      SELECT 1 UNION ALL SELECT n + 1 FROM seq WHERE n < 25
    )
    SELECT n, n * n AS sq FROM seq
    """,
    tags=("statements", "recursive", "compat"),
)(_recursive_loop)

# --- q_prepared: the engine's PREPARE / EXECUTE with typed binding ----------
def _prepared(spark: SparkSession, sf_dir: str) -> DataFrame:
    eng = SQLEngine(spark)
    eng.sql(
        "PREPARE p(DOUBLE, STRING) AS SELECT o_orderkey, o_totalprice FROM orders "
        "WHERE o_totalprice > $1 AND o_orderstatus = $2"
    )
    return eng.sql("EXECUTE p(150000, 'O')")


query(
    "q_prepared",
    """
    SELECT o_orderkey, o_totalprice FROM orders
    WHERE o_totalprice > 150000 AND o_orderstatus = 'O'
    """,
    tags=("statements",),
)(_prepared)

# --- q_ddl_view ---------------------------------------------------------------
def _ddl_view(spark: SparkSession, sf_dir: str) -> DataFrame:
    eng = SQLEngine(spark)
    eng.sql("DROP VIEW IF EXISTS ddl_rich_customers")
    eng.sql(
        """
        CREATE TEMP VIEW ddl_rich_customers AS
        SELECT c_custkey, c_name, c_acctbal FROM customer WHERE c_acctbal > 5000
        """
    )
    return eng.sql(
        "SELECT c_custkey, c_name FROM ddl_rich_customers WHERE c_custkey <= 1000"
    )


query(
    "q_ddl_view",
    """
    SELECT c_custkey, c_name FROM customer
    WHERE c_acctbal > 5000 AND c_custkey <= 1000
    """,
    tags=("statements", "ddl"),
)(_ddl_view)
