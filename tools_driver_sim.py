"""Driver-gate simulation: run the upcoming verification window the way
the ROUND DRIVER does — both sides materialized through PANDAS (Spark
``toPandas()`` vs DuckDB ``.df()``), columns sorted by name, dtype
families compared, values hashed — then report per-id verdicts.

This closes the gap the round-2 failures exposed: the pytest gate
compares Python values (``fetchall``, where 3 == 3.0), while the driver
hashes pandas dtypes (int64 != float64 even on equal values). Run
before each round: ``python tools_driver_sim.py [n_ids]``.

This module is also the one oracle-check core of the hostile replay
(tools_adversarial_replay.py), the stability sweep (tools_stability.py),
the triage diff (tools_triage.py), the tests and perfbench's set-up
pass: ``canon`` (the row canonicaliser), ``compare_frames(spark_pd,
duck_pd, *, relaxed=False)``, ``simulate(todo, spark, con, sf_dir, *,
relaxed=False)``, ``oracle_connection(sf_dir)`` (the DuckDB fixture
views), ``select_ids`` (an unknown id exits 2) and ``report`` (JSON
dump, summary line, one line per failing or waived id).
"""

from __future__ import annotations

import json
import os
import sys

import duckdb
import pandas as pd

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.01")


def _by_name(df: pd.DataFrame) -> pd.DataFrame:
    return df[sorted(df.columns, key=str.lower)]


def canon(df: pd.DataFrame, *, relaxed: bool = False) -> pd.DataFrame:
    """One result the way the driver hashes it: columns sorted by name,
    each cell a string (``str``, or the null-unifying ``_tokens`` when
    ``relaxed``), rows sorted by those strings. Row order is
    insignificant; sorting the strings, not the values, makes mixed and
    NaN columns sort deterministically. Null spellings are unified
    BEFORE the sort: a 'None' vs 'NaT' cell would otherwise sort the two
    frames differently and misalign every later row."""
    s = _by_name(df)
    s = _tokens(s) if relaxed else s.astype(str)
    key = s.apply(tuple, axis=1)
    return s.iloc[key.argsort(kind="mergesort").to_numpy()].reset_index(drop=True)


_NULL_TOKENS = {"None", "NaT", "<NA>"}


def _tokens(pdf: pd.DataFrame) -> pd.DataFrame:
    """Stringify a frame with every NULL SPELLING unified to 'NULL'.

    pandas materializes the same SQL NULL as None (Spark object cols),
    NaN (DuckDB nullable bool/int cols), or NaT (datetime cols) — all
    semantically one NULL, and the two engines routinely pick different
    spellings for the same cell (a NULL boolean is None from Spark, NaN
    from DuckDB; a NULL date is None from Spark, NaT from DuckDB). The
    strict driver comparison never meets this (fixture data surfaces no
    NULL bool/date cells); the adversarial replay does constantly, and
    flagging it would bury real divergences in representation noise.
    Float-column 'nan' is kept DISTINCT from NULL only where the dtype
    is float on BOTH sides (there NaN-vs-NaN already compares equal);
    in object columns a true NaN value is unified too — a documented,
    deliberate loss of resolution."""
    tok = pdf.copy()
    for c in tok.columns:
        col = tok[c]
        if col.dtype == object:
            tok[c] = col.where(col.notna(), None)
    s = tok.astype(str)
    return s.where(~s.isin(_NULL_TOKENS), "NULL")


def _family(dtype: str, col: pd.Series) -> str:
    if dtype.startswith(("int", "uint", "Int")):
        return "int"
    if dtype.startswith("float"):
        return "float"
    if dtype.startswith("datetime"):
        # DuckDB materializes DATE as datetime64; Spark DATE arrives as
        # object-of-datetime.date. Driver r1/r2 green rows include DATE
        # columns, so this representation split is proven safe — fold
        # both into one family.
        return "date"
    if dtype == "object":
        import datetime as _dt

        non_null = col.dropna()
        if len(non_null) and all(isinstance(v, _dt.date) for v in non_null.head(20)):
            return "date"
    return dtype  # object, bool, ...


def compare_frames(
    spark_pd: pd.DataFrame, duck_pd: pd.DataFrame, *, relaxed: bool = False
) -> dict:
    """The driver's pandas-level comparison for one query: canonicalize
    both frames, then check row count, column names, dtype families
    (int64 vs float64 is a FAIL even on equal values — the r2 HUGEINT
    bug class), and stringified values.

    ``relaxed`` is the hostile replay's comparison: NULL spellings are
    unified (``_tokens``), and two ZERO-ROW results skip the family
    check — there the pandas dtype of an object column is unknowable
    (Spark DATE arrives as object-of-date, provable only by sampling
    values), and the real driver never compares empty frames (fixture
    data is non-empty)."""
    s_pd, d_pd = _by_name(spark_pd), _by_name(duck_pd)
    rec: dict = {"rows_match": len(s_pd) == len(d_pd)}
    rec["cols_match"] = [c.lower() for c in s_pd.columns] == [
        c.lower() for c in d_pd.columns
    ]
    both_empty = relaxed and len(s_pd) == 0 and len(d_pd) == 0
    fam_mismatch = [] if both_empty else [
        (sc, str(s_pd[sc].dtype), str(d_pd[dc].dtype))
        for sc, dc in zip(s_pd.columns, d_pd.columns)
        if _family(str(s_pd[sc].dtype), s_pd[sc]) != _family(str(d_pd[dc].dtype), d_pd[dc])
    ]
    rec["dtype_family_match"] = not fam_mismatch
    if fam_mismatch:
        rec["dtype_mismatch"] = fam_mismatch
    eq = False
    if rec["rows_match"] and rec["cols_match"]:
        s_tok, d_tok = canon(s_pd, relaxed=relaxed), canon(d_pd, relaxed=relaxed)
        eq = s_tok.equals(d_tok.set_axis(list(s_tok.columns), axis=1))
    rec["values_match"] = bool(eq)
    rec["ok"] = all(
        (rec["rows_match"], rec["cols_match"], rec["dtype_family_match"], rec["values_match"])
    )
    return rec


def simulate(todo, spark, con, sf_dir: str, *, relaxed: bool = False) -> dict[str, dict]:
    """Run the driver-level comparison over ``todo`` — an iterable of
    (name, QuerySpec) pairs — against an existing SparkSession and a
    DuckDB connection that already has the fixture views."""
    from datafusion_wasm_bindings_spark.queries import resolve_oracle

    results: dict[str, dict] = {}
    for name, spec in todo:
        try:
            rec = compare_frames(
                spec.spark_fn(spark, sf_dir).toPandas(),
                con.sql(resolve_oracle(spec.oracle, sf_dir)).df(),
                relaxed=relaxed,
            )
        except Exception as e:  # noqa: BLE001 — report, don't abort the sweep
            rec = {"ok": False, "err": f"{type(e).__name__}: {e}"[:300]}
        results[name] = rec
    return results


def oracle_connection(sf_dir: str) -> duckdb.DuckDBPyConnection:
    """A DuckDB connection with one view per fixture table found in
    ``sf_dir`` — the tables the driver registers for the oracle side."""
    from datafusion_wasm_bindings_spark.sources.catalog import TABLE_NAMES

    con = duckdb.connect()
    for name in TABLE_NAMES:
        path = os.path.join(sf_dir, f"{name}.parquet")
        if os.path.exists(path):
            con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{path}')")
    return con


def exit_unknown(kind: str, unknown, valid) -> None:
    """Exit 2, naming the unknown ``kind`` names and listing the valid
    ones — a mistyped name must fail before any Spark session starts,
    not run nothing and pass."""
    print(f"unknown {kind}: {' '.join(unknown)}", file=sys.stderr)
    print(f"valid {kind}: {' '.join(valid)}", file=sys.stderr)
    sys.exit(2)


def select_ids(registry: dict, names) -> list:
    """The (id, QuerySpec) pairs to run: the ids in ``names`` in registry
    order, or the whole registry when ``names`` is empty. An unknown id
    exits 2 (``exit_unknown``)."""
    unknown = [n for n in names if n not in registry]
    if unknown:
        exit_unknown("query ids", unknown, registry)
    wanted = set(names)
    return [(k, v) for k, v in registry.items() if not wanted or k in wanted]


def report(
    results: dict, path: str, summary, *, key="ok", fail="FAIL", waiver=lambda k, rec: None
) -> int:
    """Write ``results`` to ``path`` as JSON and print the verdict:
    ``summary(ok, n, waived, bad)`` is the one-line count, then one line
    per failing id and one per waived id. ``key`` names each record's
    pass flag; ``waiver(id, rec)`` returns the documented reason a
    failing record is excused, or None. Returns the failure count."""
    with open(path, "w") as f:
        json.dump(results, f, indent=1, default=str)
    reasons = {k: waiver(k, v) for k, v in results.items() if not v[key]}
    bad = sorted(k for k, r in reasons.items() if r is None)
    waived = sorted(k for k, r in reasons.items() if r is not None)
    print(summary(len(results) - len(reasons), len(results), len(waived), len(bad)))
    for k in bad:
        print(f"  {fail}", k, {kk: vv for kk, vv in results[k].items() if kk != key})
    for k in waived:
        print("  waived", k, "--", reasons[k])
    return len(bad)


def main() -> None:
    from datafusion_wasm_bindings_spark.queries import load_all

    # argv: either a single int (first-N of the window ordering) or an
    # explicit list of query ids
    registry = load_all()
    args = sys.argv[1:] or ["50"]
    if len(args) == 1 and args[0].isdigit():
        todo = list(registry.items())[: int(args[0])]
    else:
        todo = select_ids(registry, args)

    from datafusion_wasm_bindings_spark.queries.sources_q import _ensure_text_fixtures
    from datafusion_wasm_bindings_spark.session import get_spark

    _ensure_text_fixtures(SF_DIR)
    spark = get_spark("dfwb-driver-sim")
    con = oracle_connection(SF_DIR)
    results = simulate(todo, spark, con, SF_DIR)
    bad = report(
        results, "/tmp/driver_sim.json", lambda ok, n, w, b: f"driver-sim: {ok}/{n} ok at {SF_DIR}"
    )
    sys.exit(1 if bad else 0)


if __name__ == "__main__":
    main()
