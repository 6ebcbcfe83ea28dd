"""Data sources & sinks (SURVEY.md §2.1): parquet/CSV/JSON scans,
in-memory tables, external table DDL, object-store config, COPY TO."""

from datafusion_wasm_bindings_spark.sources.catalog import (
    TABLE_NAMES,
    register_tables,
    table,
)

__all__ = ["TABLE_NAMES", "register_tables", "table"]
