"""Column-level diff of one query between Spark and DuckDB on an
arbitrary fixture dir (default: the adversarial extremes mutation) —
the triage loop companion to tools_adversarial_replay.py.

Usage::

    python tools_triage.py q_fn_math_basic [mutation_dir]

With no dir argument, the default is the CURRENT extremes mutation dir
(mode dirs are keyed by config fingerprint since r9 —
tools_adversarial_replay.build_mode_dir resolves and builds it).
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))


def main() -> None:
    from datafusion_wasm_bindings_spark.queries import load_all, resolve_oracle
    from datafusion_wasm_bindings_spark.queries.sources_q import _ensure_text_fixtures
    from datafusion_wasm_bindings_spark.session import get_spark
    from tools_adversarial_replay import build_mode_dir
    from tools_driver_sim import canon, oracle_connection, select_ids

    if not 2 <= len(sys.argv) <= 3:
        print(__doc__, file=sys.stderr)
        sys.exit(2)
    [(_, spec)] = select_ids(load_all(), sys.argv[1:2])
    # default: the CURRENT fingerprint-keyed extremes dir (the bare
    # mode-only path stopped existing when r9 keyed dirs by config)
    d = sys.argv[2] if len(sys.argv) > 2 else build_mode_dir("extremes")
    _ensure_text_fixtures(d)
    spark = get_spark("dfwb-triage")
    con = oracle_connection(d)
    st = canon(spec.spark_fn(spark, d).toPandas(), relaxed=True)
    dt = canon(con.sql(resolve_oracle(spec.oracle, d)).df(), relaxed=True)
    con.close()
    print(f"rows: spark={len(st)} duck={len(dt)}")
    if len(st) != len(dt):
        so = set(map(tuple, st.values))
        do = set(map(tuple, dt.values))
        print("spark-only rows (≤5):")
        for r in list(so - do)[:5]:
            print("  ", r)
        print("duck-only rows (≤5):")
        for r in list(do - so)[:5]:
            print("  ", r)
        return
    if [c.lower() for c in st.columns] != [c.lower() for c in dt.columns]:
        print(f"columns: spark={list(st.columns)} duck={list(dt.columns)}")
        return
    # both sides are null-unified string tokens, sorted the same way:
    # a diff here is exactly what the relaxed comparison fails on
    dt.columns = st.columns
    n_bad = 0
    for c in st.columns:
        neq = st[c] != dt[c]
        if neq.any():
            print(f"col {c}: {int(neq.sum())} diffs")
            for i in neq[neq].index[:6]:
                print(f"   row {i}: spark={st[c][i]!r} duck={dt[c][i]!r}")
            n_bad += 1
    if not n_bad:
        print("token-identical after sort")


if __name__ == "__main__":
    main()
