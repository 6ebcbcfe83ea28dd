"""Third-wave extension queries: reshaping (PIVOT/UNPIVOT), QUALIFY
and LATERAL compat, behavioral event analytics (funnel, retention),
SCD2 dimension builds, compaction planning, string-similarity joins,
per-key reservoir sampling, triangle counting, and dataset manifests.

Everything here is SQL the reference engine (DataFusion via
datafusion-wasm-bindings, `/root/reference/src/lib.rs` executes
arbitrary statements) could run textually; we register them as
first-class oracle-checked operators because they are the daily verbs
of a 100 TB training-data / product-analytics pipeline, with
Spark-first physical shapes (equi-join blocking, degree-oriented
wedges, prefix-sum packing) chosen to survive 1000 executors.
"""

from __future__ import annotations

import datetime

from pyspark.sql import DataFrame, SparkSession

from datafusion_wasm_bindings_spark.queries import query, sql_query
from datafusion_wasm_bindings_spark.queries._util import dsum_sql
from datafusion_wasm_bindings_spark.sources.catalog import table

_TOK = "regexp_extract_all(lower(text), '[a-z0-9]+', 0)"


# ====================== reshaping =====================================
def _pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PIVOT: order counts per priority, one column per status. The
    pivot values are declared explicitly so Spark skips the extra
    distinct-scan job and the plan is a single partial+final aggregate
    (pivot with known values compiles to pivot_first, no shuffle
    beyond the groupBy)."""
    from pyspark.sql import functions as F

    piv = (
        table(spark, sf_dir, "orders")
        .groupBy("o_orderpriority")
        .pivot("o_orderstatus", ["F", "O", "P"])
        .agg(F.count(F.lit(1)))
    )
    return piv.select(
        "o_orderpriority",
        *[
            F.coalesce(F.col(s), F.lit(0)).cast("long").alias(f"cnt_{s.lower()}")
            for s in ("F", "O", "P")
        ],
    )


query(
    "q_pivot",
    """
    SELECT o_orderpriority,
           COUNT(*) FILTER (WHERE o_orderstatus = 'F') AS cnt_f,
           COUNT(*) FILTER (WHERE o_orderstatus = 'O') AS cnt_o,
           COUNT(*) FILTER (WHERE o_orderstatus = 'P') AS cnt_p
    FROM orders GROUP BY o_orderpriority
    """,
    tags=("extension", "reshape", "agg"),
)(_pivot)


def _unpivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNPIVOT (wide→long melt): part metrics as (metric, value) rows.
    Pure per-row map — no shuffle at any scale; the value columns are
    cast to a common type first (unpivot requires it)."""
    from pyspark.sql import functions as F

    part = (
        table(spark, sf_dir, "part")
        .filter(F.col("p_partkey") % 10 == 0)
        .select(
            "p_partkey",
            F.col("p_size").cast("double").alias("p_size"),
            "p_retailprice",
        )
    )
    return part.unpivot(["p_partkey"], ["p_size", "p_retailprice"], "metric", "value")


query(
    "q_unpivot",
    """
    SELECT p_partkey, 'p_size' AS metric, CAST(p_size AS DOUBLE) AS value
    FROM part WHERE p_partkey % 10 = 0
    UNION ALL
    SELECT p_partkey, 'p_retailprice' AS metric, p_retailprice AS value
    FROM part WHERE p_partkey % 10 = 0
    """,
    tags=("extension", "reshape"),
)(_unpivot)


# ====================== compat: QUALIFY / LATERAL / GROUP BY ALL ======
def _qualify(spark: SparkSession, sf_dir: str) -> DataFrame:
    """QUALIFY compat: Spark has no QUALIFY clause; the canonical
    rewrite is window + filter (exactly what engines with QUALIFY
    desugar to). Top-3 customers by balance per nation, ties broken by
    key. The window partitions on the group key — no global sort."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    # explicit null ordering on BOTH sort keys: Spark DESC defaults to
    # NULLS LAST but DuckDB DESC to NULLS FIRST — a NULL balance would
    # make the top-3 diverge (adversarial NULL replay, r5)
    w = Window.partitionBy("c_nationkey").orderBy(
        F.col("c_acctbal").desc_nulls_last(), F.col("c_custkey").asc_nulls_last()
    )
    return (
        table(spark, sf_dir, "customer")
        .withColumn("rn", F.row_number().over(w).cast("long"))
        .filter(F.col("rn") <= 3)
        .select("c_nationkey", "c_custkey", "c_acctbal", "rn")
    )


query(
    "q_qualify",
    """
    SELECT c_nationkey, c_custkey, c_acctbal,
           CAST(row_number() OVER (PARTITION BY c_nationkey
                                   ORDER BY c_acctbal DESC NULLS LAST,
                                            c_custkey ASC NULLS LAST) AS BIGINT) AS rn
    FROM customer
    QUALIFY rn <= 3
    """,
    tags=("extension", "compat", "window"),
)(_qualify)


sql_query(
    "q_agg_groupby_all",
    f"""
    SELECT l_returnflag, l_linestatus, count(*) AS n,
           {dsum_sql("l_quantity", "sum_qty")}
    FROM lineitem GROUP BY ALL
    """,
    tags=("extension", "compat", "agg"),
)


sql_query(
    "q_join_lateral",
    """
    SELECT c.c_custkey, t.n_orders, t.max_price
    FROM customer c, LATERAL (
      SELECT count(*) AS n_orders, max(o_totalprice) AS max_price
      FROM orders o WHERE o.o_custkey = c.c_custkey
    ) t
    WHERE c.c_custkey % 10 = 0
    """,
    tags=("extension", "compat", "join", "subquery"),
)


# ====================== behavioral event analytics ====================
def _events_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered signup→view→purchase funnel; see operators/behavior.py
    for the one-shuffle-per-step, monotonically-shrinking join chain."""
    from datafusion_wasm_bindings_spark.operators.behavior import funnel

    return funnel(table(spark, sf_dir, "events"), ["signup", "view", "purchase"])


query(
    "q_events_funnel",
    """
    WITH s1 AS (
      SELECT user_id, min(CAST(ts AS TIMESTAMP)) AS t0
      FROM events WHERE event_type = 'signup' GROUP BY user_id
    ),
    s2 AS (
      SELECT e.user_id, min(CAST(e.ts AS TIMESTAMP)) AS t1
      FROM events e JOIN s1 ON e.user_id = s1.user_id
      WHERE e.event_type = 'view' AND CAST(e.ts AS TIMESTAMP) > s1.t0
      GROUP BY e.user_id
    ),
    s3 AS (
      SELECT e.user_id, min(CAST(e.ts AS TIMESTAMP)) AS t2
      FROM events e JOIN s2 ON e.user_id = s2.user_id
      WHERE e.event_type = 'purchase' AND CAST(e.ts AS TIMESTAMP) > s2.t1
      GROUP BY e.user_id
    )
    SELECT (SELECT count(*) FROM s1) AS step_1,
           (SELECT count(*) FROM s2) AS step_2,
           (SELECT count(*) FROM s3) AS step_3
    """,
    tags=("extension", "events", "behavior"),
)(_events_funnel)


def _events_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    from datafusion_wasm_bindings_spark.operators.behavior import retention

    return retention(table(spark, sf_dir, "events"))


query(
    "q_events_retention",
    """
    WITH cohort AS (
      SELECT user_id, min(CAST(ts AS DATE)) AS cohort_day FROM events GROUP BY user_id
    ),
    active AS (
      SELECT DISTINCT user_id, CAST(ts AS DATE) AS active_day FROM events
    )
    SELECT c.cohort_day,
           CAST(date_diff('day', c.cohort_day, a.active_day) AS BIGINT) AS day_offset,
           count(DISTINCT a.user_id) AS n_users
    FROM active a JOIN cohort c ON a.user_id = c.user_id
    GROUP BY 1, 2
    """,
    tags=("extension", "events", "behavior"),
)(_events_retention)


# ====================== SCD2 dimension build ==========================
_HIGH_DATE = datetime.date(2099, 12, 31)


def _pipeline_scd2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Type-2 slowly-changing dimension from the orders change stream:
    per customer, collapse consecutive same-status runs into validity
    intervals (valid_to = next run's start; open intervals closed with
    the conventional high date so the output stays null-free)."""
    from pyspark.sql import functions as F

    from datafusion_wasm_bindings_spark.operators.cdc import scd2_intervals

    # a change record needs an effective date (NULL odate rows are
    # unplaceable in the run order); NULLS LAST on the id tie-break —
    # adversarial NULL replay, r5
    src = (
        table(spark, sf_dir, "orders")
        .filter((F.col("o_custkey") % 20 == 0) & F.col("o_orderdate").isNotNull())
        .select(
            "o_custkey",
            F.to_date("o_orderdate").alias("odate"),
            "o_orderkey",
            "o_orderstatus",
        )
    )
    # o_orderstatus joins the ordering (r9, same class as
    # q_events_markov): the run-collapse READS the status, and
    # (odate, o_orderkey) is not total when o_orderkey is NULL — a
    # skew-hot customer with duplicate dates makes those tie groups
    # real and Spark's peer order there is run-nondeterministic.
    iv = scd2_intervals(
        src,
        key_cols=["o_custkey"],
        attr_col="o_orderstatus",
        order_cols=[
            "odate",
            F.col("o_orderkey").asc_nulls_last(),
            F.col("o_orderstatus").asc_nulls_last(),
        ],
    )
    return iv.select(
        "o_custkey",
        F.col("o_orderstatus").alias("status"),
        "valid_from",
        F.coalesce("valid_to", F.lit(_HIGH_DATE)).alias("valid_to"),
        "is_current",
    )


query(
    "q_pipeline_scd2",
    """
    WITH src AS (
      SELECT o_custkey, CAST(o_orderdate AS DATE) AS odate, o_orderkey, o_orderstatus
      FROM orders WHERE o_custkey % 20 = 0 AND o_orderdate IS NOT NULL
    ),
    lagged AS (
      SELECT *,
             row_number() OVER (PARTITION BY o_custkey
                                ORDER BY odate, o_orderkey NULLS LAST,
                                         o_orderstatus NULLS LAST) AS rn,
             lag(o_orderstatus) OVER (PARTITION BY o_custkey
                                      ORDER BY odate, o_orderkey NULLS LAST,
                                               o_orderstatus NULLS LAST) AS prev
      FROM src
    ),
    runs AS (
      SELECT * FROM lagged WHERE rn = 1 OR prev IS DISTINCT FROM o_orderstatus
    ),
    iv AS (
      SELECT o_custkey, o_orderstatus AS status, odate AS valid_from,
             lead(odate) OVER (PARTITION BY o_custkey
                               ORDER BY odate, o_orderkey NULLS LAST,
                                        o_orderstatus NULLS LAST) AS valid_to
      FROM runs
    )
    SELECT o_custkey, status, valid_from,
           COALESCE(valid_to, DATE '2099-12-31') AS valid_to,
           valid_to IS NULL AS is_current
    FROM iv
    """,
    tags=("extension", "pipeline", "cdc"),
)(_pipeline_scd2)


# ====================== compaction planning ===========================
def _scale_compaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Small-file compaction plan over a synthetic file manifest
    (lineitem bucketed into 997 'files'); see
    operators/packing.compaction_plan for the prefix-sum packer and
    why its global window is safe (it sorts file METADATA, not rows)."""
    from pyspark.sql import functions as F

    from datafusion_wasm_bindings_spark.operators.packing import compaction_plan

    # a NULL key has no file id, and a NULL file_id would sit at the
    # engine-dependent head/tail of the packer's ORDER BY file_id
    # (adversarial NULL replay, r5)
    files = (
        table(spark, sf_dir, "lineitem")
        .filter(F.col("l_orderkey").isNotNull())
        .groupBy((F.col("l_orderkey") % 997).alias("file_id"))
        .agg(F.count(F.lit(1)).alias("n_rows"))
        .withColumn("bytes", (F.col("n_rows") * 64).cast("long"))
    )
    return compaction_plan(
        files, size_col="bytes", order_col="file_id", target_bytes=262144
    ).select("file_id", "n_rows", "bytes", "bin")


query(
    "q_scale_compaction",
    """
    WITH files AS (
      SELECT l_orderkey % 997 AS file_id,
             count(*) AS n_rows,
             CAST(count(*) * 64 AS BIGINT) AS bytes
      FROM lineitem WHERE l_orderkey IS NOT NULL GROUP BY 1
    ),
    pre AS (
      SELECT file_id, n_rows, bytes,
             CAST(sum(bytes) OVER (ORDER BY file_id
                                   ROWS UNBOUNDED PRECEDING) AS BIGINT) - bytes AS before
      FROM files
    )
    SELECT file_id, n_rows, bytes, CAST(before // 262144 AS BIGINT) AS bin FROM pre
    """,
    tags=("extension", "scale", "pipeline"),
)(_scale_compaction)


# ====================== string-similarity join ========================
def _text_editdist_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Edit-distance similarity self-join over the corpus+catalog
    vocabulary via length-band equi-blocking (operators/similarity.
    editdist_join). The corpus-side distinct-token projection is the
    scale-heavy step and is map-side combinable; the pair join runs on
    the (always tiny relative to corpus) vocabulary."""
    from pyspark.sql import functions as F

    from datafusion_wasm_bindings_spark.operators.similarity import editdist_join

    docs = table(spark, sf_dir, "documents")
    part = table(spark, sf_dir, "part")
    v1 = docs.select(F.explode(F.expr(_TOK)).alias("w"))
    v2 = part.select(F.explode(F.split(F.lower("p_type"), " ")).alias("w"))
    vocab = (
        v1.unionAll(v2)
        .filter((F.length("w") >= 3) & (F.length("w") <= 12))
        .distinct()
    )
    return editdist_join(vocab, word_col="w", max_dist=2)


query(
    "q_text_editdist_join",
    """
    WITH v1 AS (
      SELECT unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS w FROM documents
    ),
    v2 AS (
      SELECT unnest(string_split(lower(p_type), ' ')) AS w FROM part
    ),
    vocab AS (
      SELECT DISTINCT w FROM (SELECT w FROM v1 UNION ALL SELECT w FROM v2)
      WHERE length(w) BETWEEN 3 AND 12
    )
    SELECT a.w AS wa, b.w AS wb, CAST(levenshtein(a.w, b.w) AS BIGINT) AS dist
    FROM vocab a JOIN vocab b
      ON a.w < b.w AND abs(length(a.w) - length(b.w)) <= 2
    WHERE levenshtein(a.w, b.w) <= 2
    """,
    tags=("extension", "text", "similarity", "join"),
)(_text_editdist_join)


# ====================== per-key reservoir sample ======================
def _sample_per_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    from datafusion_wasm_bindings_spark.operators.sampling import per_key_sample

    from pyspark.sql import functions as F

    # the md5 draw needs an id: NULL doc_id rows are undrawable (and
    # their NULL draw sorts FIRST in Spark, LAST in DuckDB) —
    # adversarial NULL replay, r5
    docs = table(spark, sf_dir, "documents").filter(F.col("doc_id").isNotNull())
    return per_key_sample(
        docs, key_col="lang", id_col="doc_id", n=5
    ).select("doc_id", "lang", "rn")


query(
    "q_sample_per_key",
    """
    SELECT doc_id, lang, rn FROM (
      SELECT doc_id, lang,
             CAST(row_number() OVER (
               PARTITION BY lang
               ORDER BY md5(CAST(doc_id AS VARCHAR) || 'dfwb-k'), doc_id
             ) AS BIGINT) AS rn
      FROM documents WHERE doc_id IS NOT NULL
    ) WHERE rn <= 5
    """,
    tags=("extension", "sampling"),
)(_sample_per_key)


# ====================== triangle counting =============================
_TRI_MOD = 311
_TRI_THR = "13333333"  # md5-prefix keep threshold ≈ 0.075


def _graph_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact triangle count over a deterministic synthetic graph
    (lineitem-derived edges, md5-sparsified). The Spark side uses
    degree-oriented wedge enumeration (operators/graph.triangle_count,
    O(E^1.5) work bound); the oracle counts the same triangles with
    the textbook three-way join — independent formulations, equal
    counts."""
    from pyspark.sql import functions as F

    from datafusion_wasm_bindings_spark.operators.graph import triangle_count

    li = table(spark, sf_dir, "lineitem")
    raw = li.select(
        (F.col("l_partkey") % _TRI_MOD).alias("u"),
        (F.col("l_orderkey") % _TRI_MOD).alias("v"),
    ).filter(
        F.substring(
            F.md5(
                F.concat(
                    F.col("u").cast("string"),
                    F.lit("-"),
                    F.col("v").cast("string"),
                    F.lit("t3"),
                )
            ),
            1,
            8,
        )
        < _TRI_THR
    )
    und = (
        raw.filter(F.col("u") != F.col("v"))
        .select(F.least("u", "v").alias("a"), F.greatest("u", "v").alias("b"))
        .distinct()
    )
    tri = triangle_count(und.select(F.col("a").alias("u"), F.col("b").alias("v")))
    n_edges = und.agg(F.count(F.lit(1)).alias("n_edges"))
    return tri.crossJoin(n_edges)


query(
    "q_graph_triangles",
    f"""
    WITH raw AS (
      SELECT l_partkey % {_TRI_MOD} AS u, l_orderkey % {_TRI_MOD} AS v
      FROM lineitem
    ),
    kept AS (
      SELECT u, v FROM raw
      WHERE substr(md5(CAST(u AS VARCHAR) || '-' || CAST(v AS VARCHAR) || 't3'), 1, 8)
            < '{_TRI_THR}'
        AND u <> v
    ),
    und AS (
      SELECT DISTINCT least(u, v) AS a, greatest(u, v) AS b FROM kept
    )
    SELECT (SELECT count(*)
            FROM und e1
            JOIN und e2 ON e2.a = e1.b
            JOIN und e3 ON e3.a = e1.a AND e3.b = e2.b) AS n_triangles,
           (SELECT count(*) FROM und) AS n_edges
    """,
    tags=("extension", "graph", "scale"),
)(_graph_triangles)


# ====================== dataset manifest ==============================
def _pipeline_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    from datafusion_wasm_bindings_spark.operators.packing import dataset_manifest

    return dataset_manifest(
        table(spark, sf_dir, "documents"),
        key_col="doc_id",
        payload_cols=("lang", "n_chars"),
        n_shards=8,
    )


query(
    "q_pipeline_manifest",
    """
    WITH routed AS (
      SELECT CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR) || 'dfwb-manifest'), 1, 4)
                  AS BIGINT) % 8 AS shard,
             CAST('0x' || substr(md5(COALESCE(CAST(doc_id AS VARCHAR), '<NULL>')
                                     || ':' || COALESCE(lang, '<NULL>') || ':'
                                     || COALESCE(CAST(n_chars AS VARCHAR), '<NULL>')),
                               1, 8)
                  AS BIGINT) AS sig
      FROM documents
    )
    SELECT shard, count(*) AS n_rows, CAST(sum(sig) AS BIGINT) AS checksum
    FROM routed GROUP BY shard
    """,
    tags=("extension", "pipeline", "cdc"),
)(_pipeline_manifest)


# ====================== BM25 full-text ranking ========================
_BM25_TERMS = ("data", "fast", "scan")


def _text_bm25(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 top-20 for a fixed bag-of-terms query; see
    operators/text.bm25_topk for the determinism recipe (decimal-exact
    per-doc sum, rounded surfaced score) and the one-scan shape."""
    from datafusion_wasm_bindings_spark.operators.text import bm25_topk

    return bm25_topk(
        table(spark, sf_dir, "documents"), list(_BM25_TERMS), k=20
    )


query(
    "q_text_bm25",
    f"""
    WITH toks AS (
      SELECT doc_id, unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS tok
      FROM documents
    ),
    doclen AS (SELECT doc_id, count(*) AS len FROM toks GROUP BY doc_id),
    stats AS (
      SELECT CAST(count(*) AS BIGINT) AS n_docs,
             CAST(sum(len) AS BIGINT) AS total_len
      FROM doclen
    ),
    tf AS (
      SELECT doc_id, tok, count(*) AS tf FROM toks
      WHERE tok IN ('data', 'fast', 'scan') GROUP BY doc_id, tok
    ),
    dfc AS (SELECT tok, count(*) AS df FROM tf GROUP BY tok),
    contrib AS (
      SELECT tf.doc_id,
             CAST(ln(1.0 + (n_docs - df + 0.5) / (df + 0.5))
                  * ((tf * 2.2) / (tf + 1.2 * (0.25 + 0.75 * len / (total_len / n_docs))))
                  AS DECIMAL(18,9)) AS c
      FROM tf
      JOIN dfc USING (tok)
      JOIN doclen USING (doc_id)
      CROSS JOIN stats
    )
    SELECT doc_id,
           round(CAST(sum(c) AS DOUBLE), 6) AS score,
           count(*) AS n_terms
    FROM contrib GROUP BY doc_id
    ORDER BY score DESC NULLS LAST, doc_id ASC
    LIMIT 20
    """,
    tags=("extension", "text", "search"),
)(_text_bm25)


# ====================== data-quality audits ===========================
def _profile_fk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from datafusion_wasm_bindings_spark.operators.profiling import fk_orphan_audit

    li = table(spark, sf_dir, "lineitem")
    orders = table(spark, sf_dir, "orders")
    cust = table(spark, sf_dir, "customer")
    part = table(spark, sf_dir, "part")
    nation = table(spark, sf_dir, "nation")
    return fk_orphan_audit(
        [
            ("lineitem.l_orderkey->orders", li, "l_orderkey", orders, "o_orderkey"),
            ("orders.o_custkey->customer", orders, "o_custkey", cust, "c_custkey"),
            ("lineitem.l_partkey->part", li, "l_partkey", part, "p_partkey"),
            ("customer.c_nationkey->nation", cust, "c_nationkey", nation, "n_nationkey"),
        ]
    )


query(
    "q_profile_fk",
    # parent PK subqueries filter NULLs: one NULL in a NOT IN list
    # makes the predicate never-true (3VL) and silently reports ZERO
    # orphans — the classic NOT-IN trap, hit live by the adversarial
    # NULL replay (r5); the Spark side's LEFT ANTI join never had it
    """
    SELECT 'lineitem.l_orderkey->orders' AS fk_rule,
           (SELECT count(*) FROM lineitem WHERE l_orderkey IS NOT NULL) AS n_checked,
           (SELECT count(*) FROM lineitem
            WHERE l_orderkey IS NOT NULL
              AND l_orderkey NOT IN (SELECT o_orderkey FROM orders WHERE o_orderkey IS NOT NULL)) AS n_orphans
    UNION ALL
    SELECT 'orders.o_custkey->customer',
           (SELECT count(*) FROM orders WHERE o_custkey IS NOT NULL),
           (SELECT count(*) FROM orders
            WHERE o_custkey IS NOT NULL
              AND o_custkey NOT IN (SELECT c_custkey FROM customer WHERE c_custkey IS NOT NULL))
    UNION ALL
    SELECT 'lineitem.l_partkey->part',
           (SELECT count(*) FROM lineitem WHERE l_partkey IS NOT NULL),
           (SELECT count(*) FROM lineitem
            WHERE l_partkey IS NOT NULL
              AND l_partkey NOT IN (SELECT p_partkey FROM part WHERE p_partkey IS NOT NULL))
    UNION ALL
    SELECT 'customer.c_nationkey->nation',
           (SELECT count(*) FROM customer WHERE c_nationkey IS NOT NULL),
           (SELECT count(*) FROM customer
            WHERE c_nationkey IS NOT NULL
              AND c_nationkey NOT IN (SELECT n_nationkey FROM nation WHERE n_nationkey IS NOT NULL))
    """,
    tags=("extension", "profiling", "quality"),
)(_profile_fk)


def _profile_expectations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Five-rule expectation suite over orders + lineitem: rules on the
    same table share ONE scan/aggregate (operators/profiling.
    expectation_report stacks them inside the plan)."""
    from pyspark.sql import functions as F

    from datafusion_wasm_bindings_spark.operators.profiling import expectation_report

    orders = table(spark, sf_dir, "orders")
    li = table(spark, sf_dir, "lineitem")
    return expectation_report(
        [
            ("r_price_pos", orders, F.col("o_totalprice") > 0),
            (
                "r_status_domain",
                orders,
                F.col("o_orderstatus").isin("F", "O", "P"),
            ),
            ("r_qty_pos", li, F.col("l_quantity") > 0),
            (
                "r_discount_range",
                li,
                (F.col("l_discount") >= 0) & (F.col("l_discount") <= 1),
            ),
            ("r_tax_range", li, (F.col("l_tax") >= 0) & (F.col("l_tax") < 0.5)),
        ]
    )


query(
    "q_profile_expectations",
    """
    SELECT 'r_price_pos' AS rule_id,
           (SELECT count(*) FROM orders) AS n_rows,
           (SELECT count(*) FROM orders
            WHERE NOT (o_totalprice > 0) OR o_totalprice IS NULL) AS n_violations
    UNION ALL
    SELECT 'r_status_domain',
           (SELECT count(*) FROM orders),
           (SELECT count(*) FROM orders
            WHERE NOT (o_orderstatus IN ('F', 'O', 'P')) OR o_orderstatus IS NULL)
    UNION ALL
    SELECT 'r_qty_pos',
           (SELECT count(*) FROM lineitem),
           (SELECT count(*) FROM lineitem
            WHERE NOT (l_quantity > 0) OR l_quantity IS NULL)
    UNION ALL
    SELECT 'r_discount_range',
           (SELECT count(*) FROM lineitem),
           (SELECT count(*) FROM lineitem
            WHERE NOT (l_discount >= 0 AND l_discount <= 1) OR l_discount IS NULL)
    UNION ALL
    SELECT 'r_tax_range',
           (SELECT count(*) FROM lineitem),
           (SELECT count(*) FROM lineitem
            WHERE NOT (l_tax >= 0 AND l_tax < 0.5) OR l_tax IS NULL)
    """,
    tags=("extension", "profiling", "quality"),
)(_profile_expectations)


# ====================== trailing time-range features ==================
def _events_rolling(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import functions as F

    from datafusion_wasm_bindings_spark.operators.behavior import rolling_window

    ev = table(spark, sf_dir, "events").filter(F.col("user_id") % 50 == 0)
    return rolling_window(ev, window_seconds=3600)


query(
    "q_events_rolling",
    """
    WITH ev AS (
      SELECT user_id, epoch_us(CAST(ts AS TIMESTAMP)) AS ts_us, value
      FROM events WHERE user_id % 50 = 0
    )
    SELECT user_id, ts_us,
           count(*) OVER w AS n_trailing,
           CAST(sum(CAST(value AS DECIMAL(18,6))) OVER w AS DOUBLE) AS value_trailing
    FROM ev
    WINDOW w AS (PARTITION BY user_id ORDER BY ts_us
                 RANGE BETWEEN 3599999999 PRECEDING AND CURRENT ROW)
    """,
    tags=("extension", "events", "window", "behavior"),
)(_events_rolling)


# ====================== function-catalog: bitwise / arrays ============
# Bitwise operator coverage (mirrors DataFusion's binary bit
# expressions, reference Cargo DataFusion 45 `&`/`|`/`#`/`<<`/`>>`):
# pure-map projection, codegen'd JVM-side.
sql_query(
    "q_fn_bitwise",
    """
    SELECT n_nationkey,
           CAST(n_nationkey & 12 AS BIGINT) AS b_and,
           CAST(n_nationkey | 5 AS BIGINT) AS b_or,
           CAST(n_nationkey ^ 9 AS BIGINT) AS b_xor,
           CAST(shiftleft(n_nationkey, 2) AS BIGINT) AS b_shl,
           CAST(shiftright(n_nationkey, 1) AS BIGINT) AS b_shr,
           CAST(bit_count(n_nationkey) AS BIGINT) AS b_pop,
           CAST(~n_nationkey AS BIGINT) AS b_not
    FROM nation
    """,
    oracle="""
    SELECT n_nationkey,
           CAST(n_nationkey & 12 AS BIGINT) AS b_and,
           CAST(n_nationkey | 5 AS BIGINT) AS b_or,
           CAST(xor(n_nationkey, 9) AS BIGINT) AS b_xor,
           CAST(n_nationkey << 2 AS BIGINT) AS b_shl,
           CAST(n_nationkey >> 1 AS BIGINT) AS b_shr,
           CAST(bit_count(CAST(n_nationkey AS BIGINT)) AS BIGINT) AS b_pop,
           CAST(~n_nationkey AS BIGINT) AS b_not
    FROM nation
    """,
    tags=("functions", "math"),
)


# Array-function catalog row (DataFusion's make_array /
# array_contains / array_position / array_distinct / array_slice
# family), surfaced hash-robust: arrays stringified via concat_ws,
# positions/sizes as BIGINT.
sql_query(
    "q_fn_array_ops",
    """
    SELECT n_nationkey,
           concat_ws(',', array_sort(array(n_nationkey, n_regionkey, 7))) AS arr_sorted,
           -- COALESCE: Spark array_contains is 3-valued (NULL when
           -- no match but a NULL element exists); DuckDB
           -- list_contains is total -> align on the total form
           COALESCE(array_contains(array(n_nationkey, n_regionkey), 3), FALSE) AS has3,
           CAST(array_position(array(10, 20, 30, n_nationkey), n_nationkey) AS BIGINT) AS pos,
           -- count NON-NULL distinct: Spark array_distinct keeps a
           -- NULL element, DuckDB list_distinct drops it
           CAST(size(array_distinct(filter(array(n_nationkey, n_regionkey, n_regionkey),
                                           x -> x IS NOT NULL))) AS BIGINT) AS n_uniq,
           concat_ws(',', slice(array(1, 2, 3, 4, 5), 2, 3)) AS sliced,
           concat_ws(',', array_sort(array_union(array(n_nationkey), array(n_regionkey)))) AS unioned
    FROM nation
    """,
    oracle="""
    SELECT n_nationkey,
           array_to_string(list_sort([n_nationkey, n_regionkey, 7]), ',') AS arr_sorted,
           list_contains([n_nationkey, n_regionkey], 3) AS has3,
           CAST(list_position([10, 20, 30, n_nationkey], n_nationkey) AS BIGINT) AS pos,
           CAST(len(list_distinct([n_nationkey, n_regionkey, n_regionkey])) AS BIGINT) AS n_uniq,
           array_to_string(list_slice([1, 2, 3, 4, 5], 2, 4), ',') AS sliced,
           COALESCE(array_to_string(list_sort(list_distinct(
                      list_concat([n_nationkey], [n_regionkey]))), ','), '')
             AS unioned
    FROM nation
    """,
    tags=("functions", "core"),
)


# ====================== k-fold CV + snapshot diff =====================
def _pipeline_folds(spark: SparkSession, sf_dir: str) -> DataFrame:
    """5-fold group-coherent CV assignment over documents (source =
    leakage group): per-fold row/group counts prove coherence — total
    distinct groups across folds equals the corpus's distinct sources
    only when no group straddles folds."""
    from pyspark.sql import functions as F

    from datafusion_wasm_bindings_spark.operators.sampling import group_kfold

    docs = table(spark, sf_dir, "documents")
    return (
        group_kfold(docs, group_col="source", k=5)
        .groupBy("fold")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.count_distinct(F.col("source")).alias("n_groups"),
        )
    )


query(
    "q_pipeline_folds",
    """
    SELECT CAST('0x' || substr(md5(source || 'dfwb-fold'), 1, 4) AS BIGINT) % 5 AS fold,
           count(*) AS n_rows,
           count(DISTINCT source) AS n_groups
    FROM documents GROUP BY fold
    """,
    tags=("extension", "pipeline", "sampling"),
)(_pipeline_folds)


def _pipeline_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot diff between documents-v1 and a deterministically
    mutated v2 (delete %17, touch n_chars %13, add 50 fresh ids):
    added/removed/changed/unchanged counts via one md5-sig
    full-outer join (operators/cdc.snapshot_diff)."""
    from pyspark.sql import functions as F

    from datafusion_wasm_bindings_spark.operators.cdc import snapshot_diff

    v1 = table(spark, sf_dir, "documents").select("doc_id", "lang", "n_chars")
    v2 = (
        v1.filter(F.col("doc_id") % 17 != 0)
        .withColumn(
            "n_chars",
            F.col("n_chars") + (F.col("doc_id") % 13 == 0).cast("long"),
        )
        .unionByName(
            v1.select(
                (F.col("doc_id") + 1_000_000).alias("doc_id"), "lang", "n_chars"
            ).filter(F.col("doc_id") < 1_000_050)
        )
    )
    return snapshot_diff(
        v1, v2, key_cols=["doc_id"], payload_cols=["lang", "n_chars"]
    )


query(
    "q_pipeline_diff",
    """
    WITH v1 AS (SELECT doc_id, lang, n_chars FROM documents),
    v2 AS (
      SELECT doc_id, lang,
             n_chars + CASE WHEN doc_id % 13 = 0 THEN 1 ELSE 0 END AS n_chars
      FROM v1 WHERE doc_id % 17 <> 0
      UNION ALL
      SELECT doc_id + 1000000 AS doc_id, lang, n_chars FROM v1
      WHERE doc_id + 1000000 < 1000050
    ),
    s1 AS (SELECT doc_id, md5(COALESCE(lang, '<NULL>') || ':'
                 || COALESCE(CAST(n_chars AS VARCHAR), '<NULL>')) AS sig_old FROM v1),
    s2 AS (SELECT doc_id, md5(COALESCE(lang, '<NULL>') || ':'
                 || COALESCE(CAST(n_chars AS VARCHAR), '<NULL>')) AS sig_new FROM v2),
    j AS (SELECT s1.sig_old, s2.sig_new
          FROM s1 FULL OUTER JOIN s2 ON s1.doc_id = s2.doc_id)
    SELECT CAST(sum(CASE WHEN sig_old IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_added,
           CAST(sum(CASE WHEN sig_new IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_removed,
           CAST(sum(CASE WHEN sig_old IS NOT NULL AND sig_new IS NOT NULL
                          AND sig_old <> sig_new THEN 1 ELSE 0 END) AS BIGINT) AS n_changed,
           CAST(sum(CASE WHEN sig_old = sig_new THEN 1 ELSE 0 END) AS BIGINT) AS n_unchanged
    FROM j
    """,
    tags=("extension", "pipeline", "cdc"),
)(_pipeline_diff)


# ====================== A/B experiment readout ========================
def _events_experiment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-variant experiment readout over the events feed; see
    operators/behavior.experiment_metrics for the md5 assignment and
    the decimal-exact mean/variance recipe (builtin stddev/var are NOT
    engine-deterministic — their summation order floats)."""
    from datafusion_wasm_bindings_spark.operators.behavior import experiment_metrics

    return experiment_metrics(table(spark, sf_dir, "events"))


query(
    "q_events_experiment",
    """
    WITH per_user AS (
      SELECT user_id,
             CAST(sum(CAST(CASE WHEN event_type = 'purchase' THEN value
                                ELSE 0.0 END AS DECIMAL(18,6))) AS DOUBLE) AS user_value
      FROM events GROUP BY user_id
    ),
    v AS (
      SELECT CAST('0x' || substr(md5(CAST(user_id AS VARCHAR) || 'dfwb-exp'), 1, 4)
                  AS BIGINT) % 2 AS variant,
             user_value
      FROM per_user
    ),
    sums AS (
      SELECT variant,
             count(*) AS n_users,
             CAST(sum(CAST(user_value AS DECIMAL(18,6))) AS DOUBLE) AS s,
             CAST(sum(CAST(user_value * user_value AS DECIMAL(18,6))) AS DOUBLE) AS sq
      FROM v GROUP BY variant
    )
    SELECT variant, n_users,
           round(s, 6) AS total_value,
           round(s / n_users, 6) AS mean_value,
           CASE WHEN n_users > 1
                THEN round((sq - s * s / n_users) / (n_users - 1), 6)
           END AS var_value
    FROM sums
    """,
    tags=("extension", "events", "behavior", "stats"),
)(_events_experiment)


# ====================== equi-width histogram ==========================
def _profile_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    from datafusion_wasm_bindings_spark.operators.profiling import (
        equi_width_histogram,
    )

    return equi_width_histogram(
        table(spark, sf_dir, "lineitem"), "l_extendedprice", n_buckets=20
    )


query(
    "q_profile_histogram",
    """
    WITH mm AS (
      SELECT min(CAST(l_extendedprice AS DOUBLE)) AS mn,
             max(CAST(l_extendedprice AS DOUBLE)) AS mx
      FROM lineitem
    ),
    b AS (
      SELECT least(19, CAST(floor((CAST(l_extendedprice AS DOUBLE) - mn)
                                  / ((mx - mn) / 20.0)) AS INTEGER)) AS bucket,
             mn, mx
      FROM lineitem CROSS JOIN mm
    )
    SELECT CAST(bucket AS BIGINT) AS bucket,
           mn + bucket * (mx - mn) / 20.0 AS lo,
           mn + (bucket + 1) * (mx - mn) / 20.0 AS hi,
           count(*) AS n
    FROM b GROUP BY bucket, mn, mx
    """,
    tags=("extension", "profiling"),
)(_profile_histogram)


# ====================== higher-order functions / UDTF =================
# Lambda higher-order-function catalog row (DataFusion's array
# lambdas; Spark: transform/filter/exists/aggregate/zip_with), all
# inside codegen — output stringified hash-robust.
sql_query(
    "q_fn_higher_order",
    """
    SELECT n_nationkey,
           concat_ws(',', transform(sequence(1, 4), x -> x * n_nationkey)) AS mul,
           concat_ws(',', filter(sequence(1, 10), x -> x % (n_nationkey + 2) = 0)) AS filtered,
           exists(sequence(1, 10), x -> x = n_nationkey) AS has_key,
           CAST(aggregate(sequence(1, n_nationkey % 5 + 3), 0,
                          (acc, x) -> acc + x * x) AS BIGINT) AS sumsq,
           concat_ws(',', zip_with(sequence(1, 3), sequence(4, 6),
                                   (a, b) -> a * 10 + b)) AS zipped
    FROM nation
    """,
    oracle="""
    SELECT n_nationkey,
           COALESCE(array_to_string(list_transform(generate_series(1, 4),
                                                   x -> x * n_nationkey), ','),
                    '') AS mul,
           COALESCE(array_to_string(list_filter(generate_series(1, 10),
                                                x -> x % (n_nationkey + 2) = 0), ','),
                    '') AS filtered,
           list_contains(generate_series(1, 10), n_nationkey) AS has_key,
           CAST(list_sum(list_transform(generate_series(1, n_nationkey % 5 + 3),
                                        x -> x * x)) AS BIGINT) AS sumsq,
           '14,25,36' AS zipped
    FROM nation
    """,
    tags=("functions", "core", "lambda"),
)


def _fn_udtf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Python UDTF (Spark 4 user-defined TABLE function) driven through
    a LATERAL correlated call — per-document word counts. This is the
    deliberate Python-row path demo of the API surface (arrow-batched
    UDTF exec); the registered production operators use built-ins for
    the same job (q_text_tokens). Oracle = the equivalent pure SQL
    unnest+GROUP BY."""
    from pyspark.sql.functions import udtf

    from datafusion_wasm_bindings_spark.engine import SQLEngine

    @udtf(returnType="word string, n bigint")
    class WordCounts:
        def eval(self, text: str):
            from collections import Counter

            # NULL/empty text yields NO words: ''.split(' ') is ['']
            # — a phantom empty-string word the SQL twin's
            # string_split(NULL) never produces (adversarial NULL
            # replay, r5)
            if not text:
                return
            for w, n in Counter(text.split(" ")).items():
                yield w, n

    spark.udtf.register("dfwb_word_counts", WordCounts)
    return SQLEngine(spark).sql(
        """
        SELECT d.doc_id, t.word, t.n
        FROM documents d, LATERAL dfwb_word_counts(d.text) t
        WHERE d.doc_id < 20
        """
    )


query(
    "q_fn_udtf",
    """
    SELECT doc_id, word, count(*) AS n
    FROM (
      SELECT doc_id, unnest(string_split(text, ' ')) AS word
      FROM documents WHERE doc_id < 20 AND text IS NOT NULL
    )
    GROUP BY doc_id, word
    """,
    tags=("functions", "udtf", "compat"),
)(_fn_udtf)


# ====================== streaming incremental upsert ==================
def _stream_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """foreachBatch-maintained materialized state over a CDC stream;
    final snapshot must equal the batch latest-wins compaction, so the
    oracle is q_pipeline_upsert's SQL verbatim."""
    from datafusion_wasm_bindings_spark.streaming.events import (
        streaming_incremental_upsert,
    )

    return streaming_incremental_upsert(spark, sf_dir)


query(
    "q_stream_upsert",
    """
    WITH base AS (
      SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
             CAST(0 AS BIGINT) AS version, 'I' AS op
      FROM orders
    ),
    upd AS (
      SELECT o_orderkey, o_custkey, 'U' AS o_orderstatus,
             o_totalprice + 10.0 AS o_totalprice,
             CAST(1 AS BIGINT) AS version, 'U' AS op
      FROM orders WHERE o_orderkey % 3 = 0
    ),
    del AS (
      SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
             CAST(2 AS BIGINT) AS version, 'D' AS op
      FROM orders WHERE o_orderkey % 7 = 0
    ),
    merged AS (
      SELECT * FROM base UNION ALL SELECT * FROM upd UNION ALL SELECT * FROM del
    ),
    latest AS (
      SELECT *, row_number() OVER (PARTITION BY o_orderkey ORDER BY version DESC) AS rn
      FROM merged
    )
    SELECT o_orderkey, o_custkey, o_orderstatus AS status, o_totalprice AS price
    FROM latest
    WHERE rn = 1 AND op <> 'D' AND o_orderkey % 5 = 0
    """,
    tags=("extension", "streaming", "cdc"),
)(_stream_upsert)
