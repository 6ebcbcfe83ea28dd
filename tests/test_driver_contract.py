"""Driver-environment simulation: the round driver imports
``__spark_entry__`` with its OWN bare SparkSession (none of our
session.py configs) from an arbitrary cwd. The two historical traps
this guards (see git history):

1. ``events.parquet`` carries TIMESTAMP(NANOS): reading it requires
   ``spark.sql.legacy.parquet.nanosAsLong`` set AT RUNTIME by our
   table loader, not by session construction we don't control.
2. Python worker processes may not have the repo importable: every
   pandas/mapInPandas/mapInArrow function must be pickled by value.

Run in a subprocess so the session-scoped test SparkSession (already
configured) can't mask either trap.
"""

from __future__ import annotations

import os
import subprocess
import sys
import textwrap

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

_SCRIPT = textwrap.dedent(
    """
    import sys
    sys.path.insert(0, {repo!r})
    from pyspark.sql import SparkSession

    # a BARE session: exactly what the driver builds — none of our
    # engine configs beyond master/shuffle width
    spark = (
        SparkSession.builder.master("local[4]")
        .config("spark.sql.shuffle.partitions", "4")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    import __spark_entry__ as e

    rows = e.entry(spark).collect()
    assert len(rows) > 0, "entry() returned no rows"

    qs = e.queries()
    os_ = e.oracle_sql()
    assert set(os_) <= set(qs), "oracle ids not a subset of query ids"

    sf = "/root/testdata/sf0.001"
    # the trap-prone paths: events (ns timestamps), pandas-UDF math
    # shims, mapInPandas multimodal, stateful streaming closures
    for name in (
        "q_events_tumbling",
        "q_fn_math_gaps",
        "q_multimodal_features",
        "q_dedup_minhash",
        # r2 additions with their own trap surface: streaming dedup
        # (readStream on the ns-ts parquet), as-of/range join (window
        # + epoch on normalized ts), engine COPY round-trip, SQL-UDF
        # registration (dfwb_version), broadcast rate table
        "q_stream_dedup",
        "q_join_asof",
        "q_join_range",
        "q_scan_partitioned",
        "q_fn_typeof_version",
        "q_sample_temperature",
        # the IVF/PQ index builds' mapInArrow argmin kernels
        "q_sim_ivf_topk",
        "q_sim_pq_topk",
    ):
        df = qs[name](spark, sf)
        df.collect()
        print("OK", name)
    print("DRIVER_SIM_PASS")
    """
).format(repo=REPO)


def test_driver_simulation_bare_session_foreign_cwd(tmp_path):
    proc = subprocess.run(
        [sys.executable, "-c", _SCRIPT],
        cwd=str(tmp_path),  # NOT the repo
        env={**os.environ, "PYTHONPATH": ""},
        capture_output=True,
        text=True,
        timeout=600,
    )
    assert proc.returncode == 0, f"stdout:\n{proc.stdout}\nstderr:\n{proc.stderr[-3000:]}"
    assert "DRIVER_SIM_PASS" in proc.stdout
