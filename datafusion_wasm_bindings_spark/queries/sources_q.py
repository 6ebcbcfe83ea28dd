"""Scans / sources / sinks — SURVEY.md §2.1, plus UNNEST (§2.8) and
catalog introspection.

CSV/JSON scan fixtures are derived deterministically from the driver's
nation.parquet (sorted, single file, fixed path under /tmp) so both
Spark and the DuckDB oracle read the *same bytes* — the capability
under test is the reader, mirroring the reference's `STORED AS
CSV/JSON` external tables (arrow-csv/arrow-json, Cargo.lock:170,212).

Sinks (COPY TO ≈ df.write.*, INSERT INTO) write under /tmp and read
their own output back; oracles read the same files via DuckDB's
read_parquet or recompute the expected relation.

Scale notes: writers shown here coalesce tiny fixture outputs to one
file for determinism; at 100 TB you would drop the coalesce(1) and let
each task write its own part file — noted inline where it applies.
"""

from __future__ import annotations

import os

import pyarrow.parquet as pq

from pyspark.sql import DataFrame, SparkSession

from datafusion_wasm_bindings_spark.engine import SQLEngine
from datafusion_wasm_bindings_spark.queries import query, sql_query
from datafusion_wasm_bindings_spark.sources.catalog import TABLE_NAMES

_FIXTURE_ROOT = "/tmp/dfwb_fixtures"
_OUT_ROOT = "/tmp/dfwb_out"


def _sf_tag(sf_dir: str) -> str:
    return os.path.basename(os.path.normpath(sf_dir)) or "sf"


def _src_current(sf_dir: str, stamp_path: str) -> bool:
    """True iff ``stamp_path`` records the CURRENT nation.parquet
    (size + mtime_ns). Tag-keyed fixture caches went stale when the
    adversarial replay regenerated a mutation dir under the same tag
    with different content — the derived arrow/CSV/NDJSON copies then
    silently disagreed with the parquet the oracle reads (r6 replay,
    q_scan_arrow both modes)."""
    try:
        return open(stamp_path).read() == _src_stamp(sf_dir)
    except OSError:
        return False


def _src_stamp(sf_dir: str) -> str:
    st = os.stat(os.path.join(sf_dir, "nation.parquet"))
    return f"{st.st_size}:{st.st_mtime_ns}"


def _scope() -> str:
    """pid_tid suffix for sink scratch paths/table names: the bench
    harness runs the registry from several threads of one process
    (SPARK_GRAFT_BENCH_THREADS), and concurrent overwrites of one
    location corrupt it (same fix as q_join_bucketed). As a side
    effect, reap scoped scratch left under _OUT_ROOT by exited
    processes so the dirs don't accumulate across runs."""
    from datafusion_wasm_bindings_spark import scratch

    scratch.reap(os.path.join(_OUT_ROOT, "*", "*_[0-9]*_[0-9]*"))
    return scratch.scope()


def _ensure_text_fixtures(sf_dir: str) -> tuple[str, str]:
    """Write nation as sorted CSV + NDJSON once per sf (deterministic)."""
    tag = _sf_tag(sf_dir)
    d = os.path.join(_FIXTURE_ROOT, tag)
    csv_path = os.path.join(d, "nation.csv")
    json_path = os.path.join(d, "nation.ndjson")
    stamp = os.path.join(d, ".nation_src_text")
    if not (
        os.path.exists(csv_path)
        and os.path.exists(json_path)
        and _src_current(sf_dir, stamp)
    ):
        os.makedirs(d, exist_ok=True)
        pdf = (
            pq.read_table(os.path.join(sf_dir, "nation.parquet"))
            .to_pandas()
            .sort_values("n_nationkey")
        )
        # nullable integer columns: pandas upcasts int64-with-NULLs to
        # float64, which serializes 0 as "0.0" and breaks INT casts in
        # both readers — route through the Int64 extension dtype so
        # CSV/NDJSON carry "0" and empty cells (adversarial replay, r5)
        # (integrality + int64-range mask computed FIRST — the
        # astype(errors='ignore') fallback was deprecated and removed
        # in pandas 3.x, ADVICE r5)
        for c in pdf.columns:
            if pdf[c].dtype.kind == "f":
                col = pdf[c]
                ok = ((col == col.round()) & (col.abs() < 2**63)) | col.isna()
                if ok.all():
                    pdf[c] = col.astype("Int64")
        pdf.to_csv(csv_path + ".tmp", index=False)
        os.replace(csv_path + ".tmp", csv_path)
        pdf.to_json(json_path + ".tmp", orient="records", lines=True)
        os.replace(json_path + ".tmp", json_path)
        open(stamp, "w").write(_src_stamp(sf_dir))
    return csv_path, json_path


# --- q_scan_parquet ----------------------------------------------------
sql_query(
    "q_scan_parquet",
    """
    SELECT l_returnflag, COUNT(*) AS n, MIN(l_orderkey) AS min_key,
           MAX(l_orderkey) AS max_key
    FROM lineitem GROUP BY l_returnflag
    """,
    tags=("scan",),
)


# --- q_scan_csv ----------------------------------------------------------
def _scan_csv(spark: SparkSession, sf_dir: str) -> DataFrame:
    csv_path, _ = _ensure_text_fixtures(sf_dir)
    # header + schema inference — the reference's CSV scan also infers
    # by sampling (SURVEY §1 schema row)
    df = spark.read.csv(csv_path, header=True, inferSchema=True)
    df.createOrReplaceTempView("nation_csv")
    return SQLEngine(spark).sql(
        "SELECT n_nationkey, n_name, n_regionkey FROM nation_csv WHERE n_regionkey <= 3"
    )


def _scan_csv_oracle(sf_dir_tag: str) -> str:
    # TRY_CAST in the predicate: a header-only CSV (empty-input mode)
    # infers every column as VARCHAR, and DuckDB refuses VARCHAR <= INT
    # where Spark coerces — the cast is inert once rows give the
    # sampler real integers (empty-mode replay r7)
    return f"""
    SELECT n_nationkey, n_name, n_regionkey
    FROM read_csv_auto('{_FIXTURE_ROOT}/{sf_dir_tag}/nation.csv', header=true)
    WHERE TRY_CAST(n_regionkey AS BIGINT) <= 3
    """


# oracle path must be static → pin to the driver's sf0.01 tag AND the
# test's sf0.001 tag by generating fixtures for the dir being queried;
# the path embeds the sf tag the Spark side wrote.
query("q_scan_csv", _scan_csv_oracle("{TAG}"), tags=("scan",))(_scan_csv)


# --- q_scan_arrow: Arrow IPC file scan (STORED AS ARROW, arrow-ipc) --------
def _scan_arrow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arrow IPC scan (reference: `STORED AS ARROW`, Cargo.lock:198),
    read DISTRIBUTED (r01 verdict fix): binaryFile ships each IPC file
    to an executor, mapInArrow decodes its record batches there — the
    driver touches only the footer schema (metadata, not data). Scales
    with the file count: one task per IPC file, so a multi-file IPC
    dataset reads fully parallel; a single monolithic file is one task
    (IPC has no row-group statistics to split/prune on — a 100 TB fact
    table would land as parquet instead)."""
    import pyarrow.ipc as ipc

    from pyspark.sql.pandas.types import from_arrow_schema

    tag = _sf_tag(sf_dir)
    d = os.path.join(_FIXTURE_ROOT, tag)
    arrow_path = os.path.join(d, "nation.arrow")
    stamp = os.path.join(d, ".nation_src_arrow")
    if not (os.path.exists(arrow_path) and _src_current(sf_dir, stamp)):
        os.makedirs(d, exist_ok=True)
        t = pq.read_table(os.path.join(sf_dir, "nation.parquet")).sort_by("n_nationkey")
        with ipc.new_file(arrow_path + ".tmp", t.schema) as w:
            w.write_table(t)
        os.replace(arrow_path + ".tmp", arrow_path)
        open(stamp, "w").write(_src_stamp(sf_dir))
    # footer-only metadata read; no table materialization on the driver
    with ipc.open_file(arrow_path) as r:
        spark_schema = from_arrow_schema(r.schema)

    def _decode_ipc(batches):  # self-contained: runs on executors
        import pyarrow as pa
        import pyarrow.ipc as ipc_

        for rb in batches:
            for content in rb.column(rb.schema.get_field_index("content")):
                with ipc_.open_file(pa.BufferReader(content.as_py())) as rr:
                    for i in range(rr.num_record_batches):
                        yield rr.get_batch(i)

    df = (
        spark.read.format("binaryFile")
        .load(arrow_path)
        .select("content")
        .mapInArrow(_decode_ipc, spark_schema)
    )
    df.createOrReplaceTempView("nation_arrow")
    return SQLEngine(spark).sql(
        "SELECT n_nationkey, n_name, n_regionkey FROM nation_arrow WHERE n_regionkey <= 3"
    )


# the IPC file is a byte-faithful copy of nation.parquet, so the
# authoritative relation itself is the oracle
query(
    "q_scan_arrow",
    "SELECT n_nationkey, n_name, n_regionkey FROM nation WHERE n_regionkey <= 3",
    tags=("scan",),
)(_scan_arrow)


# --- q_scan_json (newline-delimited) --------------------------------------
def _scan_json(spark: SparkSession, sf_dir: str) -> DataFrame:
    # explicit schema-on-read — the production JSON contract: inference
    # over an EMPTY (or late-arriving) file yields zero columns and
    # breaks every downstream reference, and a 100 TB NDJSON scan
    # should never pay the inference sampling pass anyway (empty-mode
    # replay r7; inference stays demonstrated by q_scan_csv)
    _, json_path = _ensure_text_fixtures(sf_dir)
    df = spark.read.schema(
        "n_nationkey BIGINT, n_name STRING, n_regionkey BIGINT, n_comment STRING"
    ).json(json_path)
    df.createOrReplaceTempView("nation_json")
    return SQLEngine(spark).sql(
        "SELECT n_nationkey, n_name FROM nation_json WHERE n_nationkey < 20"
    )


query(
    "q_scan_json",
    f"""
    SELECT n_nationkey, n_name
    FROM read_json('{_FIXTURE_ROOT}/{{TAG}}/nation.ndjson',
                   columns={{'n_nationkey': 'BIGINT', 'n_name': 'VARCHAR',
                             'n_regionkey': 'BIGINT', 'n_comment': 'VARCHAR'}})
    WHERE n_nationkey < 20
    """,
    tags=("scan",),
)(_scan_json)


# --- q_values_inline ---------------------------------------------------------
sql_query(
    "q_values_inline",
    """
    SELECT k, v FROM VALUES (1, 'a'), (2, 'b'), (3, NULL) AS t(k, v)
    """,
    oracle="""
    SELECT k, v FROM (VALUES (1, 'a'), (2, 'b'), (3, NULL)) t(k, v)
    """,
    tags=("values",),
)


# --- q_values_ctas: CREATE TABLE AS VALUES → MemTable equivalent --------------
def _values_ctas(spark: SparkSession, sf_dir: str) -> DataFrame:
    eng = SQLEngine(spark)
    eng.sql(
        """
        CREATE OR REPLACE TEMP VIEW ctas_colors AS
        SELECT k, color FROM VALUES (1, 'red'), (2, 'green'), (3, 'blue') AS t(k, color)
        """
    )
    return eng.sql("SELECT k, upper(color) AS c FROM ctas_colors WHERE k >= 2")


query(
    "q_values_ctas",
    """
    WITH ctas_colors(k, color) AS (VALUES (1, 'red'), (2, 'green'), (3, 'blue'))
    SELECT k, upper(color) AS c FROM ctas_colors WHERE k >= 2
    """,
    tags=("values", "ddl"),
)(_values_ctas)


# --- q_generate_series ----------------------------------------------------------
sql_query(
    "q_generate_series",
    """
    SELECT explode(sequence(1, 49, 2)) AS x
    """,
    oracle="""
    SELECT x FROM generate_series(1, 49, 2) t(x)
    """,
    tags=("table_fn",),
)


# --- q_info_schema: catalog introspection (emulated information_schema) -----------
def _info_schema(spark: SparkSession, sf_dir: str) -> DataFrame:
    from datafusion_wasm_bindings_spark.sources.infoschema import information_schema_tables

    df = information_schema_tables(spark)
    return df.filter(df.table_name.isin(list(TABLE_NAMES))).select("table_name")


query(
    "q_info_schema",
    "SELECT * FROM (VALUES "
    + ", ".join(f"('{t}')" for t in TABLE_NAMES)
    + ") t(table_name)",
    tags=("catalog",),
)(_info_schema)


# --- q_copy_parquet: COPY (SELECT…) TO 'file' STORED AS PARQUET --------------------
def _copy_parquet(spark: SparkSession, sf_dir: str) -> DataFrame:
    out = os.path.join(_OUT_ROOT, _sf_tag(sf_dir), f"copy_nation_parquet_{_scope()}")
    # coalesce(1): deterministic single file for the oracle glob; at
    # scale you would keep task-parallel part files instead.
    (
        SQLEngine(spark)
        .sql("SELECT n_nationkey, n_name, n_regionkey FROM nation WHERE n_regionkey <= 2")
        .coalesce(1)
        .write.mode("overwrite")
        .parquet(out)
    )
    return spark.read.parquet(out)


# oracle = the COPY's *source* relation: the Spark side reads back the
# parquet it just wrote, so the comparison still proves the write+read
# round-trip — without the oracle depending on a file that only exists
# after the Spark query ran (the driver may evaluate oracles first)
query(
    "q_copy_parquet",
    "SELECT n_nationkey, n_name, n_regionkey FROM nation WHERE n_regionkey <= 2",
    tags=("sink",),
)(_copy_parquet)


# --- q_copy_csv / q_copy_json: the other two COPY formats round-tripped -------------
def _copy_csv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """COPY … STORED AS CSV through the engine, read back with
    header+inference — closes the CSV leg of the reference's COPY
    surface (SURVEY §2.1 sink row)."""
    out = os.path.join(_OUT_ROOT, _sf_tag(sf_dir), f"copy_nation_csv_{_scope()}")
    SQLEngine(spark).sql(
        f"COPY (SELECT n_nationkey, n_name, n_regionkey FROM nation "
        f"WHERE n_regionkey <= 2) TO '{out}' STORED AS CSV"
    )
    df = spark.read.csv(out, header=True, inferSchema=True)
    return df.selectExpr(
        "CAST(n_nationkey AS BIGINT) AS n_nationkey",
        "n_name",
        "CAST(n_regionkey AS BIGINT) AS n_regionkey",
    )


query(
    "q_copy_csv",
    """
    SELECT CAST(n_nationkey AS BIGINT) AS n_nationkey, n_name,
           CAST(n_regionkey AS BIGINT) AS n_regionkey
    FROM nation WHERE n_regionkey <= 2
    """,
    tags=("sink", "scan"),
)(_copy_csv)


def _copy_json(spark: SparkSession, sf_dir: str) -> DataFrame:
    """COPY … STORED AS JSON (newline-delimited) through the engine,
    read back — the JSON leg of the COPY surface."""
    out = os.path.join(_OUT_ROOT, _sf_tag(sf_dir), f"copy_nation_json_{_scope()}")
    SQLEngine(spark).sql(
        f"COPY (SELECT n_nationkey, n_name, n_regionkey FROM nation "
        f"WHERE n_regionkey >= 3) TO '{out}' STORED AS JSON"
    )
    # explicit schema-on-read (not inference): an EMPTY COPY output has
    # no rows to sample, so inference yields zero columns and the
    # projection cannot resolve (empty-mode replay r7)
    df = spark.read.schema(
        "n_nationkey BIGINT, n_name STRING, n_regionkey BIGINT"
    ).json(out)
    return df.select("n_nationkey", "n_name", "n_regionkey")


query(
    "q_copy_json",
    """
    SELECT CAST(n_nationkey AS BIGINT) AS n_nationkey, n_name,
           CAST(n_regionkey AS BIGINT) AS n_regionkey
    FROM nation WHERE n_regionkey >= 3
    """,
    tags=("sink", "scan"),
)(_copy_json)


# --- q_scan_partitioned: COPY … PARTITIONED BY → pruned hive-layout scan -------------
def _scan_partitioned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Round-trips the engine's COPY … PARTITIONED BY sink
    (engine.py _copy_to), then scans the hive layout back with a
    partition-key predicate. Mirrors the reference's object-store
    listing scans over partitioned trees (object_store.rs:43-74);
    on read, Spark prunes to the single o_orderstatus=F directory
    (PartitionFilters — asserted in tests/test_plans.py), the
    mechanism that turns a 100 TB scan into a one-partition scan."""
    out = os.path.join(_OUT_ROOT, _sf_tag(sf_dir), f"copy_orders_by_status_{_scope()}")
    SQLEngine(spark).sql(
        f"COPY (SELECT o_orderkey, o_totalprice, o_orderstatus FROM orders) "
        f"TO '{out}' STORED AS PARQUET PARTITIONED BY (o_orderstatus)"
    )
    # explicit schema on the read-back: an EMPTY input writes no
    # partition directories, and schema inference over a dir holding
    # only _SUCCESS aborts (UNABLE_TO_INFER_SCHEMA) — a production
    # reader of a possibly-empty partitioned sink always passes the
    # schema (empty-mode replay r7); partition pruning is unaffected
    # (PartitionFilters still asserted in tests/test_plans.py)
    return (
        spark.read.schema(
            "o_orderkey BIGINT, o_totalprice DOUBLE, o_orderstatus STRING"
        )
        .parquet(out)
        .filter("o_orderstatus = 'F'")
        .select("o_orderkey", "o_totalprice", "o_orderstatus")
    )


query(
    "q_scan_partitioned",
    """
    SELECT o_orderkey, o_totalprice, o_orderstatus
    FROM orders WHERE o_orderstatus = 'F'
    """,
    tags=("scan", "sink", "partitioned"),
)(_scan_partitioned)


# --- q_scan_evolution: schema-evolved parquet read across file versions -------------
def _scan_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema evolution on read: a long-lived 100 TB table is written
    by many pipeline versions — old files lack columns added later.
    Spark's ``mergeSchema`` unions the footers and null-fills missing
    columns per file, so the evolved table reads as ONE relation with
    no rewrite of history (the lakehouse add-column contract). Here v1
    files carry (n_nationkey, n_name); v2 files add n_regionkey; the
    merged scan null-fills v1's n_regionkey. The reference's external
    tables bind one fixed schema per CREATE (SURVEY §2.1) — this
    extension covers what it cannot."""
    out = os.path.join(_OUT_ROOT, _sf_tag(sf_dir), f"evolution_{_scope()}")
    nation = spark.table("nation")
    nation.filter("n_regionkey <= 2").select("n_nationkey", "n_name").write.mode(
        "overwrite"
    ).parquet(os.path.join(out, "v1"))
    nation.filter("n_regionkey >= 3").select(
        "n_nationkey", "n_name", "n_regionkey"
    ).write.mode("overwrite").parquet(os.path.join(out, "v2"))
    return (
        spark.read.option("mergeSchema", "true")
        .parquet(os.path.join(out, "v1"), os.path.join(out, "v2"))
        .select("n_nationkey", "n_name", "n_regionkey")
    )


query(
    "q_scan_evolution",
    """
    SELECT n_nationkey, n_name, CAST(NULL AS BIGINT) AS n_regionkey
    FROM nation WHERE n_regionkey <= 2
    UNION ALL
    SELECT n_nationkey, n_name, n_regionkey
    FROM nation WHERE n_regionkey >= 3
    """,
    tags=("scan", "schema"),
)(_scan_evolution)


# --- q_scan_orc: columnar ORC round-trip (extension beyond the reference) -----------
def _scan_orc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORC write + read-back — the other columnar format Spark ships
    natively (predicate pushdown + column pruning work the same as
    parquet). The reference's format surface stops at
    parquet/csv/json/arrow (SURVEY §2.1); ORC closes the gap for
    pipelines migrating Hive-era 100 TB warehouses."""
    out = os.path.join(_OUT_ROOT, _sf_tag(sf_dir), f"orc_customer_{_scope()}")
    spark.table("customer").select(
        "c_custkey", "c_name", "c_nationkey", "c_acctbal"
    ).filter("c_nationkey <= 12").write.mode("overwrite").orc(out)
    return (
        spark.read.orc(out)
        .filter("c_acctbal > 0")
        .select("c_custkey", "c_name", "c_nationkey", "c_acctbal")
    )


query(
    "q_scan_orc",
    """
    SELECT c_custkey, c_name, c_nationkey, c_acctbal
    FROM customer WHERE c_nationkey <= 12 AND c_acctbal > 0
    """,
    tags=("scan", "sink"),
)(_scan_orc)


# --- q_insert_into ------------------------------------------------------------------
def _insert_into(spark: SparkSession, sf_dir: str) -> DataFrame:
    import shutil

    tbl = f"dfwb_insert_target_{_scope()}"
    loc = os.path.join(_OUT_ROOT, _sf_tag(sf_dir), f"insert_target_{_scope()}")
    shutil.rmtree(loc, ignore_errors=True)
    eng = SQLEngine(spark)
    eng.sql(f"DROP TABLE IF EXISTS {tbl}")
    eng.sql(
        f"""
        CREATE TABLE {tbl} (k BIGINT, name STRING)
        USING PARQUET LOCATION '{loc}'
        """
    )
    eng.sql(f"INSERT INTO {tbl} SELECT n_nationkey, n_name FROM nation WHERE n_regionkey = 0")
    eng.sql(f"INSERT INTO {tbl} VALUES (100, 'atlantis'), (101, 'lemuria')")
    return eng.sql(f"SELECT k, name FROM {tbl}")


query(
    "q_insert_into",
    """
    SELECT n_nationkey AS k, n_name AS name FROM nation WHERE n_regionkey = 0
    UNION ALL
    SELECT * FROM (VALUES (100, 'atlantis'), (101, 'lemuria')) t(k, name)
    """,
    tags=("sink", "ddl"),
)(_insert_into)


# --- result sinks: exact formatted strings (reference result_format.rs) -------------
_FIXTURE_TABLE = (
    "+----+---------+\n"
    "| id | name    |\n"
    "+----+---------+\n"
    "| 1  | Alice   |\n"
    "| 2  | Bob     |\n"
    "| 3  | Charlie |\n"
    "+----+---------+"
)
_FIXTURE_JSON = '[{"id":1,"name":"Alice"},{"id":2,"name":"Bob"},{"id":3,"name":"Charlie"}]'


def _result_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    from datafusion_wasm_bindings_spark.formats import format_table

    df = spark.createDataFrame(
        [(1, "Alice"), (2, "Bob"), (3, "Charlie")], "id int, name string"
    )
    return spark.createDataFrame([(format_table(df),)], "rendered string")


query(
    "q_result_table",
    f"SELECT '{_FIXTURE_TABLE}' AS rendered",
    tags=("sink", "format"),
)(_result_table)


def _result_json(spark: SparkSession, sf_dir: str) -> DataFrame:
    from datafusion_wasm_bindings_spark.formats import format_json

    df = spark.createDataFrame(
        [(1, "Alice"), (2, "Bob"), (3, "Charlie")], "id int, name string"
    )
    return spark.createDataFrame([(format_json(df),)], "rendered string")


query(
    "q_result_json",
    f"SELECT '{_FIXTURE_JSON}' AS rendered",
    tags=("sink", "format"),
)(_result_json)


# --- q_unnest: UNNEST plan operator over the embeddings list column ------------------
# Reference: UnnestExec is compiled in even though array *functions*
# are not (SURVEY §2.8 OFF-list) → explode/posexplode in Spark.
sql_query(
    "q_unnest",
    """
    SELECT vec_id, pos AS idx, CAST(val AS DOUBLE) AS v
    FROM embeddings
    LATERAL VIEW posexplode(embedding) AS pos, val
    WHERE vec_id <= 20
    """,
    oracle="""
    SELECT vec_id,
           generate_subscripts(embedding, 1) - 1 AS idx,
           CAST(unnest(embedding) AS DOUBLE) AS v
    FROM embeddings
    WHERE vec_id <= 20
    """,
    tags=("unnest",),
)


# --- q_scan_text: raw text-lines scan ---------------------------------------------
def _scan_text(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Text-lines source (spark.read.text ≈ an unstructured STORED AS
    CSV single-column external table): one row per line, parsing done
    IN the query with split_part — the pattern for logs and other
    line-oriented formats no reader understands. Pure map after the
    scan; at 100 TB text files split by line ranges, so the scan
    parallelizes like any other file source."""
    from pyspark.sql import functions as F

    csv_path, _ = _ensure_text_fixtures(sf_dir)
    lines = spark.read.text(csv_path)
    return (
        lines.filter(F.col("value") != "n_nationkey,n_name,n_regionkey")
        .select(
            # try_cast, not cast: a raw-line parser must tolerate
            # missing/malformed fields (ANSI cast throws on '' — hit
            # live by the adversarial NULL replay); DuckDB's plain
            # CAST('' AS INT) errors the same way, hence TRY_CAST on
            # both sides
            F.split_part(F.col("value"), F.lit(","), F.lit(1))
            .try_cast("int")
            .alias("n_nationkey"),
            F.split_part(F.col("value"), F.lit(","), F.lit(2)).alias("n_name"),
            F.split_part(F.col("value"), F.lit(","), F.lit(3))
            .try_cast("int")
            .alias("n_regionkey"),
            F.length("value").alias("line_len"),
        )
    )


def _scan_text_oracle(sf_dir_tag: str) -> str:
    return f"""
    SELECT TRY_CAST(split_part(line, ',', 1) AS INT) AS n_nationkey,
           split_part(line, ',', 2) AS n_name,
           TRY_CAST(split_part(line, ',', 3) AS INT) AS n_regionkey,
           CAST(length(line) AS INT) AS line_len
    FROM read_csv('{_FIXTURE_ROOT}/{sf_dir_tag}/nation.csv',
                  columns={{'line': 'VARCHAR'}}, delim='', header=false)
    WHERE line <> 'n_nationkey,n_name,n_regionkey'
    """


query("q_scan_text", _scan_text_oracle("{TAG}"), tags=("scan",))(_scan_text)
