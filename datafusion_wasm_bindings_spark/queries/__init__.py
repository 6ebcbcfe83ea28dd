"""Oracle-checked query registry — one entry per operator row in
SURVEY.md §2 (plus §7.6 extensions).

Each registered query is a pair:
- a Spark implementation ``(spark, sf_dir) -> DataFrame`` (DataFrame
  API or SQL — every SQL string runs through ``SQLEngine.sql``, the
  product path: statement dispatch, ``compat.rewrite``, shims and error
  classification; Catalyst produces the same plan either way), and
- an ANSI-SQL oracle string DuckDB runs over the same parquet views
  (or ``None`` for genuinely non-SQL-expressible operators → the
  driver records a weaker rows-only check).

Determinism conventions (FIXTURES.md "Determinism rules"):
- every computed column aliased identically on both sides;
- money-sum aggregates go through DECIMAL(18,2) so the sum is exact
  and order-independent, then cast back to DOUBLE;
- explicit NULLS FIRST/LAST whenever ORDER BY feeds a LIMIT;
- timestamps surfaced as DATE or epoch numbers, never raw timestamps.
"""

from __future__ import annotations

import importlib
from collections.abc import Callable
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession

from datafusion_wasm_bindings_spark.engine import SQLEngine
from datafusion_wasm_bindings_spark.sources.catalog import register_tables


@dataclass(frozen=True)
class QuerySpec:
    name: str
    spark_fn: Callable[[SparkSession, str], DataFrame]
    oracle: str | None  # DuckDB SQL; None => rows-only check
    headline: bool = False  # included in bench.py
    tags: tuple[str, ...] = field(default_factory=tuple)
    module: str = ""  # defining module — drives the oracle-edit sim gate


QUERIES: dict[str, QuerySpec] = {}

# Registration order drives the round driver's CORRECTNESS window (it
# verifies the first 50 registered queries). Round 1 verified the
# flagship→sorts block green (CORRECTNESS_r01); round 2 put extensions
# + the functions_agg head through (43 green, 7 oracle-HUGEINT fails
# since fixed). Module order is now only the fallback — the window is
# chosen query-granularly via _WINDOW below, driven by COVERAGE.md's
# per-id "last verified round" ledger.
_MODULES = (
    "extensions",
    "functions_agg",
    "functions_scalar",
    "sources_q",
    "statements",
    "flagship",
    "flagship2",
    "relational",
    "joins",
    "aggregates",
    "windows",
    "setops",
    "sorts",
    "analytics",
    "analytics2",
    "analytics3",
    "analytics4",
    "analytics5",
)

# Round-14 driver window (exactly 50 names, COVERAGE.md round-14 plan):
# zero never-checked / non-green ids remain (290/290 cumulative-green),
# so the whole window is staleness re-verification — the stalest
# greens oldest-first (last-verified round, registration order) per
# the mechanical rule enforced by tests/test_window_rotation.py: the
# r8-stamped text/sample/join/stream/multimodal/events/pipeline block
# (fingerprint, the four samplers, asof/range/salted/bucketed joins,
# the four stream joins and dedup, windows over events, decontaminate/
# pii) and the r8-stamped SURVEY §2.8 aggregate-function suite, then
# the r9-stamped dedup/sim/text/pipeline ids. Rotation preceded by the
# conftest ORACLE_UNSAFE_TYPES + dtype audit (tools_driver_sim.py over
# all 50). Names listed here move to the FRONT of the registry in this
# order; everything else follows in registration order.
_WINDOW = (
    "q_text_fingerprint",
    "q_sample_stratified",
    "q_sample_hash",
    "q_sample_weighted",
    "q_sample_temperature",
    "q_join_asof",
    "q_feature_binning",
    "q_join_range",
    "q_stream_stateful_totals",
    "q_stream_dedup",
    "q_stream_stream_join",
    "q_stream_static_join",
    "q_join_salted",
    "q_multimodal_features",
    "q_multimodal_resize",
    "q_multimodal_frames",
    "q_events_tumbling",
    "q_events_sliding",
    "q_events_session",
    "q_text_decontaminate",
    "q_text_pii",
    "q_pipeline_shuffle",
    "q_join_bucketed",
    "q_events_outliers",
    "q_pipeline_chunk",
    "q_fn_count",
    "q_fn_median",
    "q_fn_approx_distinct",
    "q_fn_approx_median",
    "q_fn_approx_percentile",
    "q_fn_array_agg",
    "q_fn_string_agg",
    "q_fn_first_last_value",
    "q_fn_bool_and_or",
    "q_fn_bit_agg",
    "q_fn_stddev_var",
    "q_fn_corr_covar",
    "q_fn_regr",
    "q_fn_greatest_least",
    "q_fn_struct",
    "q_dedup_paragraph",
    "q_dedup_substring",
    "q_sim_pq_topk",
    "q_sim_truncation",
    "q_text_tokens_bpe",
    "q_text_tfidf",
    "q_text_confusion",
    "q_text_stats",
    "q_pipeline_split",
    "q_pipeline_epochs",
)


def query(
    name: str,
    oracle: str | None = None,
    *,
    headline: bool = False,
    tags: tuple[str, ...] = (),
) -> Callable:
    """Decorator registering a DataFrame-API query implementation."""

    def deco(fn: Callable[[SparkSession, str], DataFrame]):
        def wrapped(spark: SparkSession, sf_dir: str) -> DataFrame:
            register_tables(spark, sf_dir)
            return fn(spark, sf_dir)

        wrapped.__name__ = fn.__name__
        wrapped.__doc__ = fn.__doc__
        QUERIES[name] = QuerySpec(name, wrapped, oracle, headline, tags, fn.__module__)
        return fn

    return deco


def _swap_table_refs(text: str, table: str, view: str) -> str:
    """Replace whole-word references to ``table`` with ``view``, never
    touching string literals or comments: the substitution runs on the
    text as ``compat._mask_literals`` masks it, and the masked spans are
    restored verbatim."""
    import re

    from datafusion_wasm_bindings_spark.compat import _mask_literals, _unmask

    masked, spans = _mask_literals(text)
    return _unmask(re.sub(rf"\b{re.escape(table)}\b", view, masked), spans)


def sql_query(
    name: str,
    sql: str,
    oracle: str | None = "same",
    *,
    headline: bool = False,
    tags: tuple[str, ...] = (),
    parallel_tables: tuple[str, ...] = (),
) -> None:
    """Register a query whose Spark side is a SQL string, run through
    ``SQLEngine.sql`` like any statement a user sends the engine.

    ``oracle="same"`` (default) reuses the identical text for DuckDB —
    valid only where the dialects agree; pass an explicit string where
    they diverge, or None for rows-only.

    ``parallel_tables`` names fact tables whose scan should widen when
    the fixture layout serializes it (catalog.table(parallel=True)):
    the Spark side runs the SAME SQL text over a scoped temp view of
    the widened scan — the expression tree is untouched (only the scan
    node under it changes), and the ORACLE text keeps the original
    table name. Opt in only on measured wins. Decimal-moment
    aggregates at sf0.1 on 4 vCPUs (``local[4]``, median of 7
    alternating warm runs, identical rows): q_fn_corr_covar 2.74 s
    plain vs 1.46 s widened, q_fn_regr 2.25 s vs 1.48 s. The exchange
    is a no-op at healthy row-group layouts by construction.
    """

    def fn(spark: SparkSession, sf_dir: str) -> DataFrame:
        register_tables(spark, sf_dir)
        text = sql
        if parallel_tables:
            from datafusion_wasm_bindings_spark import scratch
            from datafusion_wasm_bindings_spark.sources.catalog import table as _table

            for t in parallel_tables:
                view = f"{t}_par_{scratch.scope()}"
                _table(spark, sf_dir, t, parallel=True).createOrReplaceTempView(view)
                text = _swap_table_refs(text, t, view)
        return SQLEngine(spark).sql(text)

    import sys as _sys

    fn.__name__ = name
    QUERIES[name] = QuerySpec(
        name,
        fn,
        sql if oracle == "same" else oracle,
        headline,
        tags,
        _sys._getframe(1).f_globals.get("__name__", ""),
    )


def resolve_oracle(oracle: str | None, sf_dir: str) -> str | None:
    """Fill the ``{TAG}`` placeholder some file-path-bearing oracles
    carry (CSV/JSON/COPY fixtures live under /tmp/<sf-tag>/…) with the
    scale-factor tag of the directory being queried."""
    if oracle is None:
        return None
    tag = __import__("os").path.basename(__import__("os").path.normpath(sf_dir)) or "sf"
    return oracle.replace("{TAG}", tag)


def load_all() -> dict[str, QuerySpec]:
    """Import every query module (idempotent) and return the registry,
    reordered so the driver's 50-slot verification window is exactly
    the ids named in ``_WINDOW`` (then everything else in registration
    order)."""
    for mod in _MODULES:
        try:
            importlib.import_module(f"datafusion_wasm_bindings_spark.queries.{mod}")
        except ModuleNotFoundError as e:
            # tolerate not-yet-written modules during incremental build
            if f"queries.{mod}" not in str(e):
                raise
    ordered = {n: QUERIES[n] for n in _WINDOW if n in QUERIES}
    ordered.update((n, s) for n, s in QUERIES.items() if n not in ordered)
    # in-place so references to QUERIES elsewhere observe the new order
    QUERIES.clear()
    QUERIES.update(ordered)
    return QUERIES
