"""information_schema emulation — SURVEY.md §7.5.

The reference enables DataFusion's information_schema
(src/core.rs:62): `information_schema.{tables,columns,views,
df_settings}` plus SHOW statements. Spark has no information_schema in
the default (in-memory) catalog, so we synthesize the relations from
``spark.catalog``, matching DataFusion's column layout (table_catalog /
table_schema / table_name / ...).

Each relation is rebuilt for every statement that names it, and only
the relations a statement names are rebuilt, so every statement sees
the catalog as it is when it runs, like DataFusion's live views.
`tables` and `views` come from the collected SHOW TABLES / SHOW VIEWS
rows, `columns` from each table's analyzed schema
(``spark.table(name).schema`` — ~30× faster than per-table
``catalog.listColumns`` py4j round-trips). These are driver-side
catalog lookups over a handful of entries — metadata, not data — and
their rows become local relations (``session.local_rows``), which a
query reads without a Spark job. `df_settings` stays a lazy
``SET -v``.
"""

from __future__ import annotations

from collections.abc import Iterable

from pyspark.sql import DataFrame, SparkSession

from datafusion_wasm_bindings_spark.session import local_rows, state

_TABLES_SCHEMA = "table_catalog string, table_schema string, table_name string, table_type string"
_VIEWS_SCHEMA = "table_catalog string, table_schema string, table_name string, definition string"
_COLUMNS_SCHEMA = (
    "table_catalog string, table_schema string, table_name string, "
    "column_name string, ordinal_position int, is_nullable string, data_type string"
)


def _catalog_tables(spark: SparkSession) -> list:
    """SHOW TABLES rows, less the temp views register_information_schema
    binds (the engine's plumbing, not relations of the catalog)."""
    helpers = {f"information_schema_{name}" for name in _RELATIONS}
    return [r for r in spark.sql("SHOW TABLES").collect() if r.tableName not in helpers]


def _table_rows(spark: SparkSession) -> list[tuple[str, str, str, str]]:
    """The rows of information_schema.tables. table_type mirrors
    DataFusion: 'BASE TABLE' for tables, 'VIEW' for (temp and
    permanent) views."""
    views = {r.viewName for r in spark.sql("SHOW VIEWS").collect()}
    return [
        (
            "spark_catalog",
            r.namespace or "default",
            r.tableName,
            "VIEW" if r.isTemporary or r.tableName in views else "BASE TABLE",
        )
        for r in _catalog_tables(spark)
    ]


def information_schema_tables(spark: SparkSession) -> DataFrame:
    """information_schema.tables over the session catalog."""
    return local_rows(spark, _table_rows(spark), _TABLES_SCHEMA)


def information_schema_columns(spark: SparkSession) -> DataFrame:
    """information_schema.columns over the session catalog."""
    rows = []
    for name in [r.tableName for r in _catalog_tables(spark)]:
        try:
            schema = spark.table(name).schema
        except Exception:  # noqa: BLE001 - table may have vanished
            continue
        for i, fld in enumerate(schema.fields, start=1):
            rows.append(
                (
                    "spark_catalog",
                    "default",
                    name,
                    fld.name,
                    i,
                    "YES" if fld.nullable else "NO",
                    fld.dataType.simpleString(),
                )
            )
    return local_rows(spark, rows, _COLUMNS_SCHEMA)


# Definition text of views created THROUGH the engine's SQL surface
# (SQLEngine records CREATE VIEW bodies in the session's state; Spark's
# in-memory catalog does not retain temp-view SQL text itself). Temp
# views are per session, so their definitions are too. Views registered
# by other means keep a NULL definition, which DataFusion also reports
# when the text is unknown.
def record_view_definition(spark: SparkSession, name: str, definition: str) -> None:
    state(spark).views[name.lower()] = definition


def forget_view_definition(spark: SparkSession, name: str) -> None:
    state(spark).views.pop(name.lower(), None)


def information_schema_views(spark: SparkSession) -> DataFrame:
    """information_schema.views: the VIEW rows of `tables`, with the
    definition text when the view was created through this engine."""
    views = state(spark).views
    rows = [
        (catalog, schema, name, views.get(name.lower()))
        for catalog, schema, name, kind in _table_rows(spark)
        if kind == "VIEW"
    ]
    return local_rows(spark, rows, _VIEWS_SCHEMA)


def information_schema_df_settings(spark: SparkSession) -> DataFrame:
    """information_schema.df_settings analogue: the session's settings
    as (name, value) rows — DataFusion lists datafusion.* vars
    (src/core.rs:62); here they are the Spark SQL confs, the settings
    that actually govern this engine."""
    return spark.sql("SET -v").selectExpr("key AS name", "value")


_RELATIONS = {
    "tables": information_schema_tables,
    "columns": information_schema_columns,
    "views": information_schema_views,
    "df_settings": information_schema_df_settings,
}


def register_information_schema(spark: SparkSession, names: Iterable[str]) -> None:
    """Bind the named relations ("tables", "columns", "views",
    "df_settings") as temp views with information_schema_-prefixed
    names (Spark temp views cannot live in a dotted schema)."""
    for name in names:
        _RELATIONS[name](spark).createOrReplaceTempView(f"information_schema_{name}")
