"""Driver-side recursive-query fixpoint loop — SURVEY.md §7.4.

The reference runs WITH RECURSIVE through RecursiveQueryExec/
WorkTableExec (Cargo.lock:978): repeatedly evaluate the recursive term
against the previous delta until it produces no rows. Spark 4 has
native WITH RECURSIVE; this loop is the documented fallback (and the
building block for iterative algorithms that aren't SQL-expressible).

Scale notes:
- each iteration is a full distributed job on the *delta only*
  (UNION ALL semantics), not the accumulated result;
- a lineage cut (operators/checkpoint.py) truncates lineage each round — without it the
  plan tree grows linearly and planning time explodes by ~iteration 30;
- cycle safety = iteration cap + optional dedup against accumulated
  rows (UNION semantics), trading a distinct-shuffle per round.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame

from datafusion_wasm_bindings_spark.operators.checkpoint import cut


def recursive_fixpoint(
    seed: DataFrame,
    step: Callable[[DataFrame], DataFrame],
    *,
    max_iterations: int = 100,
    distinct: bool = False,
) -> DataFrame:
    """UNION ALL recursion: result = seed ∪ step(seed) ∪ step²(seed)…

    ``distinct=True`` gives UNION (set) semantics: each delta is
    deduplicated against everything accumulated so far, which also
    guarantees termination on cyclic inputs.
    """
    from functools import reduce

    # accumulate the checkpointed deltas and union them lazily: each
    # delta is already materialized, so the union's lineage stays flat
    # and no round pays a re-materialization of everything accumulated
    # so far (the previous acc-copy-per-round was quadratic in total
    # result size)
    deltas = [cut(seed)]
    delta = deltas[0]
    for _ in range(max_iterations):
        delta = step(delta)
        if distinct:
            delta = delta.subtract(reduce(DataFrame.unionAll, deltas))
        delta = cut(delta)
        if delta.isEmpty():
            return reduce(DataFrame.unionAll, deltas)
        deltas.append(delta)
    raise RuntimeError(
        f"recursive_fixpoint: no fixpoint within {max_iterations} iterations "
        "(possible cycle; pass distinct=True or raise max_iterations)"
    )
