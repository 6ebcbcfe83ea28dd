"""Result formatting — the reference's two sinks (SURVEY.md §2.1).

The reference formats results either as an Arrow pretty table
(src/core.rs:120-122 via pretty_format_batches_with_options,
src/result_format.rs:33-38) or as a JSON array of row objects
(src/result_format.rs:39-47). Note the reference's Json branch is dead
code in its SQL path (core.rs hardcodes the table formatter — SURVEY.md
§0 quirk 1); we implement the evident intent and honor the switch.

We render the same Arrow-style box table (``+---+`` borders, one header
row) from collected rows. Fidelity target is the reference's own unit
assertions (src/result_format.rs:75-97): headers and values present —
not byte-parity with arrow-rs.

Scale note: formatting is inherently a driver-side sink (the reference
also fully materializes every query, src/core.rs:119). Callers wanting
distributed output use DataFrame writers (COPY TO, §2.1) instead.
"""

from __future__ import annotations

from enum import Enum

from pyspark.sql import DataFrame


class ResultFormat(Enum):
    """Mirror of the reference's ResultFormat (src/result_format.rs:24-28)."""

    TABLE = "table"
    JSON = "json"


def _cell(value: object) -> str:
    if value is None:
        return ""  # arrow pretty-printer renders nulls as empty cells
    if isinstance(value, bool):
        return "true" if value else "false"
    if isinstance(value, float):
        # match arrow's shortest-roundtrip float rendering closely enough
        return repr(value)
    if isinstance(value, (list, tuple)):
        return "[" + ", ".join(_cell(v) for v in value) + "]"
    if isinstance(value, dict):
        return "{" + ", ".join(f"{k}: {_cell(v)}" for k, v in value.items()) + "}"
    return str(value)


def format_table(df: DataFrame, max_rows: int | None = None) -> str:
    """Arrow-style pretty table (reference src/result_format.rs:33-38).

    +----+-------+
    | id | name  |
    +----+-------+
    | 1  | Alice |
    +----+-------+
    """
    columns = df.columns
    rows = df.limit(max_rows).collect() if max_rows is not None else df.collect()
    cells = [[_cell(v) for v in row] for row in rows]
    widths = [len(c) for c in columns]
    for r in cells:
        for i, v in enumerate(r):
            widths[i] = max(widths[i], len(v))
    sep = "+" + "+".join("-" * (w + 2) for w in widths) + "+"
    def line(vals: list[str]) -> str:
        return "|" + "|".join(f" {v:<{w}} " for v, w in zip(vals, widths)) + "|"
    out = [sep, line(list(columns)), sep]
    out.extend(line(r) for r in cells)
    out.append(sep)
    return "\n".join(out)


def format_json(df: DataFrame, max_rows: int | None = None) -> str:
    """JSON array of row objects (reference src/result_format.rs:39-47).

    Uses Spark's JVM-side JSON serialization (``df.toJSON``) so type
    rendering (dates, timestamps, nested) matches Spark's JSON writer;
    rows are joined into one array like arrow's ArrayWriter output.
    """
    it = df.limit(max_rows).toJSON() if max_rows is not None else df.toJSON()
    rows = it.collect()
    return "[" + ",".join(rows) + "]"


def format_result(df: DataFrame, fmt: ResultFormat, max_rows: int | None = None) -> str:
    if fmt is ResultFormat.JSON:
        return format_json(df, max_rows)
    return format_table(df, max_rows)
