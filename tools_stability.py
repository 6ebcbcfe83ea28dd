"""Plan-perturbation stability sweep: run every registered query's
SPARK side once per physical configuration — the session defaults,
then each perturbation axis in ``PERTURBATIONS`` (shuffle partition
count, scan split size, AQE off) — canonicalize every result with the
adversarial replay's null-unified tokenizer, and demand they are all
IDENTICAL to the baseline.

Why this exists (r11): the full skewex campaign at the sf0.01 source
caught q_events_attribution producing a DIFFERENT answer run-to-run —
its first/last_value frames read a column absent from the window
ordering, so Spark's peer order (a function of physical partitioning
and merge order) leaked into the output. The oracle differential only
catches that class when the two engines HAPPEN to disagree on the
draw; a query can flap between "agrees with DuckDB" and "doesn't"
across runs (tools_triage passed while the campaign failed — the
flapping signature). Perturbing the shuffle partition count forces a
different physical peer order DETERMINISTICALLY, so order-dependence
surfaces without waiting for an unlucky draw.

The engine's core determinism design (decimal exact sums, total
orderings over every consumed column, quantized irrational terms,
monotone-invariant bucketings) implies every query's OUTPUT must be
invariant to partitioning. The one contractual exception class is
documented below: sketch-valued outputs whose merge is not
order-invariant by design (their oracles assert rank-epsilon BOUNDS,
not values).

Usage:
  python tools_stability.py [q_id ...]        # default: whole registry
  SPARK_GRAFT_STAB_SRC=<dir> python tools_stability.py
      # default source: the skewex mutation dir of the current replay
      # config (tools_adversarial_replay.build_mode_dir("skewex"))

Writes /tmp/stability_report.json and prints one verdict line; an
unknown query id exits 2 and lists the valid ids.
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from tools_adversarial_replay import build_mode_dir, waiver
from tools_driver_sim import canon, report, select_ids

DEFAULTS = {
    "spark.sql.shuffle.partitions": "32",
    "spark.sql.files.maxPartitionBytes": str(128 * 1024 * 1024),
    "spark.sql.adaptive.enabled": "true",
}
# Each axis perturbs a DIFFERENT degree of physical freedom:
# - shuffle7: post-exchange peer order (window/agg tie exposure);
# - split256k: map-side task order and the PARTIAL-aggregation merge
#   tree, which shuffle.partitions cannot reach (map-side-only plans
#   have no exchange) — exercises decimal-exact-sum order-invariance;
# - aqe_off: join strategy selection (runtime broadcast vs sort-merge,
#   skew-join splitting, coalesced partitions) — output must not
#   depend on which physical join/partitioning AQE picked.
PERTURBATIONS = [
    ("shuffle7", {"spark.sql.shuffle.partitions": "7"}),
    ("split256k", {"spark.sql.files.maxPartitionBytes": str(256 * 1024)}),
    ("aqe_off", {"spark.sql.adaptive.enabled": "false"}),
]

# Outputs that are APPROXIMATE BY CONTRACT and whose sketch merge is
# not order-invariant: a KLL/GK quantile sketch's surfaced value may
# legitimately move within its rank-epsilon band when the merge tree
# changes shape. Their oracles assert the BAND (join-back bounds, see
# CLAUDE.md r6 (f)), so value movement across partitionings is not a
# correctness signal. Exact-sketch families (HLL register max, bitmap
# OR, CMS counters) are order-invariant and deliberately NOT listed.
# Measured r11: the whole 290-id registry is partition-invariant on
# BOTH skewex mutation dirs — this dict stayed empty.
APPROX_ALLOW: dict[str, str] = {}


def resolve_waiver(src: str, name: str, rec: dict) -> str | None:
    """Full waiver resolution for one unstable record.

    APPROX_ALLOW covers sketch values that may legitimately move across
    partitionings (variant output). A replay-campaign mode waiver covers
    DETERMINISTIC ABORTS only ('err' records, e.g. the dirname-limit
    abort) — variant output on a waived id is a real VARIANT, never
    silently excused (ADVICE r11)."""
    if "err" not in rec:
        return APPROX_ALLOW.get(name)
    # a cached hostile mutation dir is named <mode>.<fingerprint>: there
    # a query that deterministically ABORTS on the dir's hostile data
    # (e.g. the 255-byte dirname limit) errors identically at every
    # partitioning — the replay's waiver class, not instability
    mode = os.path.basename(src.rstrip("/")).split(".", 1)[0]
    return waiver(mode, name)


def source() -> str:
    """The dir the sweep reads: SPARK_GRAFT_STAB_SRC, else the skewex
    mutation dir of the CURRENT replay config (the most hostile data —
    ties are real there). Cached dirs of other configs (another
    SPARK_GRAFT_ADV_SRC, older seeds) are never picked up."""
    return os.environ.get("SPARK_GRAFT_STAB_SRC") or build_mode_dir("skewex")


def _check(spark, spec, src: str) -> dict:
    """Run one query at the session defaults, then once per
    PERTURBATIONS axis, and compare the canonicalized outputs."""
    try:
        for k, v in DEFAULTS.items():
            spark.conf.set(k, v)
        base = canon(spec.spark_fn(spark, src).toPandas(), relaxed=True)
        variant_axes = []
        for label, confs in PERTURBATIONS:
            for k, v in confs.items():
                spark.conf.set(k, v)
            try:
                perturbed = canon(spec.spark_fn(spark, src).toPandas(), relaxed=True)
            finally:
                for k in confs:
                    spark.conf.set(k, DEFAULTS[k])
            if not base.equals(perturbed):
                variant_axes.append(label)
        rec: dict = {"stable": not variant_axes}
        if variant_axes:
            rec["detail"] = f"variant under: {variant_axes}"
        return rec
    except Exception as e:  # noqa: BLE001 — report, don't abort the sweep
        return {"stable": False, "err": f"{type(e).__name__}: {e}"[:300]}
    finally:
        for k, v in DEFAULTS.items():
            spark.conf.set(k, v)


def main() -> None:
    from datafusion_wasm_bindings_spark.queries import load_all
    from datafusion_wasm_bindings_spark.queries.sources_q import _ensure_text_fixtures
    from datafusion_wasm_bindings_spark.session import get_spark

    todo = select_ids(load_all(), sys.argv[1:])
    src = source()
    _ensure_text_fixtures(src)
    spark = get_spark("dfwb-stability")
    results = {name: _check(spark, spec, src) for name, spec in todo}
    axes = "+".join(label for label, _ in PERTURBATIONS)
    bad = report(
        results,
        "/tmp/stability_report.json",
        lambda ok, n, w, b: (
            f"[stability axes: {axes}] {ok}/{n} stable, {w} waived, {b} VARIANT  ({src})"
        ),
        key="stable",
        fail="VARIANT",
        waiver=lambda k, rec: resolve_waiver(src, k, rec),
    )
    sys.exit(1 if bad else 0)


if __name__ == "__main__":
    main()
