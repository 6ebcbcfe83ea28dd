"""The benchmark's workloads as fixed operation lists.

A workload is a list of ops. One pass runs every op once, in an order
drawn from the run's seed; every seed runs the same ops, so two seeds do
the same work in a different order. An op is a read (its output is
returned to the client) or a write (its output lands in a parquet
directory that the client reads back).

``sql_adhoc``
    sf0.01, TABLE format, ``SQLEngine.execute_sql``. A fixed set of the
    registry's SQL texts (every one a different plan) plus the engine's
    own statement forms: plain EXPLAIN, SHOW ALL, an information_schema
    query, a PREPARE/EXECUTE/DEALLOCATE script, ``SET datafusion.*`` and
    ``COPY … TO … STORED AS PARQUET``. Per-statement fixed cost (front
    end, Catalyst, scheduling, codegen) dominates; the statement mix
    generates more classes per pass than Spark's 100-entry codegen
    cache holds.
``curation_pipeline``
    sf0.1, the registry's LLM-curation operators through
    ``QuerySpec.spark_fn``: a read op builds the operator's DataFrame
    and collects it; for three of them a write op then writes that
    DataFrame as parquet. The plans repeat and fit the codegen
    cache.
    ``SQLEngine``, ``compat`` and ``formats`` are off this path.
"""

from __future__ import annotations

import random
from dataclasses import dataclass


# untimed passes after the set-up pass. JIT compilation has not levelled
# off after one: it keeps falling for many more passes than a run's time
# allows (see WORKLOADS.md for the measured per-pass JIT and CPU time)
WARM_PASSES = 1


@dataclass(frozen=True)
class Op:
    key: str  # unique within the workload
    kind: str  # "read" | "write"
    text: str | None = None  # SQL script (SQL workloads)
    qid: str | None = None  # registry id whose DuckDB oracle checks it
    out: str | None = None  # write target directory name
    # the output may gain rows but never lose or change one: SHOW ALL
    # lists a setting only once Spark has registered it, which happens
    # as statements load the modules that define it
    grows: bool = False


@dataclass(frozen=True)
class Workload:
    name: str
    sf: float
    fmt: str  # "table" | "" (no SQLEngine)
    tables: tuple[str, ...]  # the tables the ops read: the only ones generated
    ops: tuple[Op, ...]
    # wall seconds of one steady pass on a 4-vCPU host: the number of
    # timed passes is round(--seconds / pass_s), fixed per setting
    pass_s: float

    def passes(self, seconds: int) -> int:
        return max(1, round(seconds / self.pass_s))

    def order(self, seed: int, n_passes: int) -> list[list[Op]]:
        """The set-up pass, the warm passes and ``n_passes`` timed
        passes, each a seeded permutation of the ops (a curation write
        right after the read that builds its DataFrame)."""
        rng = random.Random(seed)
        out = []
        for _ in range(1 + WARM_PASSES + n_passes):
            ops = list(self.ops)
            rng.shuffle(ops)
            reads = [o for o in ops if o.kind == "read"]
            writes = {o.key.split(":", 1)[1]: o for o in ops if o.kind == "write"}
            seq = []
            for o in reads:
                seq.append(o)
                w = writes.get(o.key)
                if w is not None and self.fmt == "":
                    seq.append(w)  # a curation write reuses the read's DataFrame
            if self.fmt:
                # SQL writes are independent statements: interleave them
                # at seeded positions
                for w in writes.values():
                    seq.insert(rng.randrange(len(seq) + 1), w)
            out.append(seq)
        return out


# registry SQL texts of sql_adhoc, each a distinct plan: windows,
# EXISTS/IN, a full join and a set op, which generate the most classes
# per statement, plus cheap VALUES and generate_series. Together with the
# engine's own statements they generate more classes per pass than the
# codegen cache holds. The list is short so that a run, which starts a
# JVM and runs every op cold first, stays well under a minute
ADHOC_IDS = (
    "q_win_groups_frame", "q_win_lag_lead", "q_win_value_fns", "q_exists_in",
    "q_union_distinct", "q_join_full", "q_values_inline", "q_generate_series",
)
# written with COPY … STORED AS PARQUET
ADHOC_COPY_IDS = ("q_topk",)
# the statement behind the plain EXPLAIN
EXPLAIN_ID = "q_join_left"
ADHOC_TABLES = ("region", "nation", "customer", "supplier", "orders")

# cheap to mid-cost operators over documents, few for the same reason
CURATION_IDS = (
    "q_dedup_exact", "q_text_quality", "q_pipeline_chunk", "q_text_tokens",
    "q_pipeline_split",
)
# also written; a write runs the operator's plan again, so the cheap ones
CURATION_WRITE_IDS = ("q_dedup_exact", "q_pipeline_split")


# ``{partitions}`` is the session's own shuffle partition count, so the
# statement changes no later result
SET_STATEMENT = "SET datafusion.execution.target_partitions = {partitions}"


def registry_sql(spec) -> str:
    """The SQL text a ``sql_query`` registry entry runs."""
    fn = spec.spark_fn
    cells = dict(zip(fn.__code__.co_freevars, (c.cell_contents for c in fn.__closure__)))
    return cells["sql"].strip().rstrip(";").strip()


def _copy(qid: str, text: str) -> Op:
    out = f"copy_{qid}"
    return Op(f"copy:{qid}", "write", f"COPY ({text}) TO '{{out}}/{out}' STORED AS PARQUET", qid, out)


def build(name: str, registry) -> Workload:
    """The named workload over ``registry`` (``queries.load_all()``)."""
    sql = {q: registry_sql(registry[q]) for q in ADHOC_IDS + ADHOC_COPY_IDS + (EXPLAIN_ID,)}
    if name == "sql_adhoc":
        ops = [Op(q, "read", sql[q], q) for q in ADHOC_IDS]
        ops += [
            Op("explain", "read", "EXPLAIN " + sql[EXPLAIN_ID]),
            Op("show_all", "read", "SHOW ALL", grows=True),
            Op(
                "information_schema", "read",
                "SELECT table_name, table_type FROM information_schema.tables "
                "WHERE table_name IN ('orders', 'customer', 'nation') "
                "ORDER BY table_name",
            ),
            Op(
                "prepare_execute", "read",
                "PREPARE top_orders(BIGINT) AS SELECT o_orderkey, o_totalprice "
                "FROM orders WHERE o_custkey = $1 ORDER BY o_orderkey; "
                "EXECUTE top_orders(42); DEALLOCATE top_orders",
            ),
            Op("set_datafusion", "read", SET_STATEMENT),
        ]
        ops += [_copy(q, sql[q]) for q in ADHOC_COPY_IDS]
        return Workload(name, 0.01, "table", ADHOC_TABLES, tuple(ops), pass_s=5.0)
    if name == "curation_pipeline":
        ops = [Op(q, "read", None, q) for q in CURATION_IDS]
        ops += [Op(f"write:{q}", "write", None, q, f"write_{q}") for q in CURATION_WRITE_IDS]
        return Workload(name, 0.1, "", ("documents",), tuple(ops), pass_s=4.5)
    raise KeyError(name)


NAMES = ("sql_adhoc", "curation_pipeline")
