"""Adversarial differential replay: re-run the WHOLE oracle registry on
a deliberately hostile mutation of the fixture tables and demand Spark
and DuckDB still agree bit-for-bit (the tools_driver_sim comparison).

Why this exists: the fixture data is benign — keys are non-null, rows
are unique, distributions are tame. The r4/r5 NULL-partition-key bugs
(bucketed_rank's offset join, zscore_outliers' moments join) were found
by CODE READING, not by any gate, precisely because no fixture ever
put a NULL in a group key. This tool closes that class: both engines
read the SAME mutated parquet, so any disagreement is a real
cross-engine semantics divergence in our query/oracle pair — the exact
thing the round driver would fail on if production data were hostile.

Mutation modes (deterministic, seeded; written once per (mode, config
fingerprint) under /tmp/dfwb_adversarial/<mode>.<fp>/ and reused — the
fingerprint in the path means runs against different SOURCES never
share a dir, so a sentinel run can no longer tear an in-flight
campaign's reads, r9):

- ``nulls``: every column of every table independently gets ~8% NULLs
  (type-preserving: concat a one-null tail array and ``take`` — works
  for nested list columns and nanosecond timestamps alike). Exercises
  NULL group keys, NULL join keys, NULL order keys, NULL text/arrays
  through every HOF chain, NULL timestamps through the event-time
  paths.
- ``dupes``: ~5% of rows duplicated ON TOP of (independently seeded)
  null injection, with each copy RE-KEYED — the table's id column is
  offset by 10M so the copy is a new row with identical CONTENT.
  Exact full-row duplication is deliberately NOT used: it violates
  the primary-key identity both engines' formulations legitimately
  assume (DuckDB's unnest/GROUP BY CTEs would merge the copies into
  one doubled pseudo-record, Spark operators would process each row
  — neither is "right" about corrupt input). Re-keyed copies instead
  stress what a pipeline actually meets: duplicate CONTENT under
  distinct ids — dedup recall, grouping cardinalities, tie-breaking,
  and FK orphans (a re-keyed parent copy matches no children).
- ``extremes``: ~4% of every NON-KEY column replaced with hostile
  boundary values (type-routed), on top of independently-seeded null
  injection. Ints: {0, -1, 1_000_000} (zero denominators, sign flips,
  FK orphans); doubles: {±0.0, ±249.99, ±0.01} (2-decimal,
  magnitude-capped so TRIPLE products with fixture columns stay under
  2^53·1e-6 ≈ 9.0e9 where a double's ulp is finer than the
  DECIMAL(18,6) grid — see _EXTREME_FLOATS; midpoint doubles and
  out-of-range terms are DOCUMENTED engine-divergent/ANSI-overflow
  classes, CLAUDE.md pitfall h, and injecting them would only re-flag
  known limitations); strings:
  empty/whitespace/4096-char/unicode/emoji/embedded comma + newline +
  quote/'NULL' literal/digits/regex metachars (delimiter collisions,
  CSV round-trips, tokenizer edges, JSON breakage through props);
  timestamps: epoch 0, pre-1970, far-future 2200, .999999/.000001 µs
  fractions (all inside the ns-representable range so TIMESTAMP(NANOS)
  sources stay valid); list<float>: the zero vector (norm 0 → cosine
  division hazards). Primary-key columns are deliberately NOT
  value-mutated (they still get nulls): duplicate pks with DIFFERENT
  content would break the total-order identity every ordered pick
  legitimately assumes — that class is the dupes mode's job, done
  without violating pk identity.

- ``skew``: a hot-key POINT MASS on top of independently-seeded null
  injection — ~50% of each designated join/group-key and categorical
  column (SKEW_COLS: l_orderkey/l_partkey/l_suppkey, o_custkey,
  user_id/event_type, lang/source, nationkeys, brands, labels) is
  overwritten with the column's first non-null value. The distribution
  axis: what a viral source / whale customer / dominant event type
  does to 100 TB data. Stresses AQE skew-splits, salted_join's regime,
  bucketed_rank bucket balance, and — the value-semantics edge — huge
  tie groups in every ordered pick (engine-unspecified peer order
  unless the ordering is total). Primary keys never skewed.
- ``empty``: schema-preserving ZERO-ROW tables (the filter-pruned
  partition / empty ingest batch every 100 TB pipeline hits).
- ``skewex``: the COMPOSED hostile axis (VERDICT r8 #6) — extremes
  boundary values AND the skew hot-key point mass AND null injection
  in one dataset (extremes first, then skew overwrites its columns,
  then nulls on top). Single-axis certs can pass while the
  composition fails (e.g. a rank tie-group made huge by skew whose
  peers carry extremes-injected values); this mode is the cheapest
  remaining way hostile data differs from the fixtures.

Usage::

    python tools_adversarial_replay.py            # all six modes, all ids
    python tools_adversarial_replay.py nulls      # one mode
    python tools_adversarial_replay.py nulls q_a q_b   # subset of ids

Exit 0 iff every query in every requested mode is ok or in the
documented-exclusion list (`EXCLUDED`, each entry carries its reason);
an unknown mode or query id exits 2 and lists the valid names.
Verdicts land in /tmp/adversarial_replay_<mode>.json.
"""

from __future__ import annotations

import os
import sys
import zlib

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

SRC_DIR = os.environ.get("SPARK_GRAFT_ADV_SRC", "/root/testdata/sf0.001")
ROOT = "/tmp/dfwb_adversarial"
NULL_RATE = 0.08
DUPE_RATE = 0.05
EXTREME_RATE = 0.04
SEED = 0x5AD1

TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]

# id column offset for re-keyed duplicate copies (lineitem's key is
# composite — offsetting l_linenumber keeps the order join intact
# while making the line unique)
KEY_COL = {
    "region": "r_regionkey", "nation": "n_nationkey",
    "customer": "c_custkey", "supplier": "s_suppkey",
    "part": "p_partkey", "orders": "o_orderkey",
    "lineitem": "l_linenumber", "events": "event_id",
    "documents": "doc_id", "embeddings": "vec_id",
}
KEY_OFFSET = 10_000_000

# skew mode: a HOT-KEY POINT MASS — ~50% of every listed column's rows
# are overwritten with the column's first non-null value (an EXISTING
# key, so joins still match), on top of independently-seeded null
# injection. The nulls/dupes/extremes/empty axes certify VALUE
# semantics; skew is the remaining DISTRIBUTION axis — the one 100 TB
# data actually exhibits (one viral document source, one whale
# customer, one dominant event_type) and the one that changes PLANS
# (AQE skew-splits, salted_join's regime, bucketed_rank bucket
# balance) and surfaces engine-unspecified TIE ORDERING (a 50% point
# mass makes every rank/ordered-pick tie group huge). Primary keys are
# never skewed (pk identity is the dupes mode's axis, done there
# without breaking it); only join/group keys and categorical columns.
SKEW_RATE = 0.5
SKEW_COLS: dict[str, tuple[str, ...]] = {
    "region": (),
    "nation": (),  # 5/25-row dims: a point mass is meaningless
    "customer": ("c_nationkey", "c_mktsegment"),
    "supplier": ("s_nationkey",),
    "part": ("p_brand", "p_type"),
    "orders": ("o_custkey",),
    "lineitem": ("l_orderkey", "l_partkey", "l_suppkey"),
    "events": ("user_id", "event_type"),
    "documents": ("lang", "source"),
    "embeddings": ("label",),
}

# Queries whose adversarial verdict is EXPECTED to differ, each with the
# reason; anything listed here is reported but not counted as a failure.
# Keys are MODE-SCOPED ("extremes:q_x") — a waiver earned under one
# hostile axis must not silently cover another. Keep this list SHORT
# and each entry justified — it is the tool's honesty ledger, reviewed
# like code.
EXCLUDED: dict[str, str] = {
    # Watermark semantics BY DESIGN, not a bug: the injected far-future
    # instant (2200-01-01) advances the stream's event-time watermark,
    # so rows at the injected pre-1970 instant become late data and the
    # stateful stream-stream join EVICTS them (state bounded at
    # watermark − 30 min — the exact mechanism that keeps state O(window)
    # instead of O(history) at 100 TB/day). The batch oracle has no
    # watermark and keeps the pair. Verified r6: the one lost pair is
    # the purchase/click self-pair at 1969-12-31T23:59:59.123456.
    "extremes:q_stream_stream_join": (
        "watermark late-drop of pre-1970 rows after a "
        "far-future injected instant — streaming eviction semantics, "
        "the batch oracle keeps the pair"
    ),
    # Same watermark class as q_stream_stream_join, dedup flavor:
    # dropDuplicatesWithinWatermark only dedups keys seen INSIDE the
    # watermark horizon — after the injected far-future instant
    # advances the watermark, a duplicate (user, event_type) pair at an
    # evicted event time is legitimately kept twice (bounded state is
    # the 100 TB feature), while the batch DISTINCT oracle dedups
    # globally. Surfaced by the sf0.01-source replay (multi-batch
    # processing makes the eviction observable).
    "extremes:q_stream_dedup": (
        "dropDuplicatesWithinWatermark keeps re-occurrences "
        "of keys whose state the far-future injected instant evicted — "
        "bounded-state streaming semantics vs the global batch DISTINCT"
    ),
    # Hive-layout physics, not engine semantics: partition VALUES are
    # directory names, and the injected 4096-char o_orderstatus exceeds
    # the filesystem's 255-byte path-segment limit, so the COPY …
    # PARTITIONED BY sink fails LOUDLY (TASK_WRITE_FAILED) — the
    # correct production outcome (no silent row drop, no truncated
    # value that would corrupt the read-back column). The batch oracle
    # has no filesystem to hit. Free-text columns are not valid hive
    # partition keys; that contract is the fix, not code.
    "extremes:q_scan_partitioned": (
        "4096-char injected partition value exceeds the "
        "255-byte dirname limit — the partitioned sink aborts loudly "
        "by design"
    ),
    # (r6's q_sim_pq_topk waiver — zero-vector point mass missing the
    # ADC shortlist — was FIXED in r7: pq_topk now routes
    # zero-quantized-norm corpus vectors around the shortlist into the
    # exact re-rank set, bounded at ``rerank`` rows. See
    # operators/similarity.py pq_topk and the EXTREME_SENTINELS entry.)
    #
    # Spark engine divergence from the SQL standard, measured r7
    # (empty-mode campaign): GROUP BY CUBE/ROLLUP/GROUPING SETS over an
    # EMPTY relation returns NO rows in Spark 4.1.2, while the standard
    # (and DuckDB/Postgres/DataFusion) emits the () grand-total
    # grouping-set row — Spark is even internally inconsistent here (a
    # plain global aggregate over the same empty relation DOES return
    # its one row). Not fixable in the query without abandoning the
    # single-Expand plan for a union-of-groupings rewrite that would
    # scan the fact once per grouping set at 100 TB.
    # The composed skew+extremes mode inherits the extremes axis's
    # injected values verbatim, so the three extremes waivers above
    # re-fire for the same physical reasons (watermark advance by the
    # far-future instant; 4096-char partition dirname). Mode-scoped
    # duplicates, not new semantics.
    "skewex:q_stream_stream_join": (
        "same watermark late-drop class as extremes:q_stream_stream_join"
    ),
    "skewex:q_stream_dedup": (
        "same watermark eviction class as extremes:q_stream_dedup"
    ),
    "skewex:q_scan_partitioned": (
        "same 255-byte dirname limit as extremes:q_scan_partitioned"
    ),
    "empty:q_agg_cube": (
        "Spark grouping-sets over an empty relation omits the () "
        "grand-total row the standard requires — engine semantics, "
        "plan-preserving"
    ),
    "empty:q_agg_rollup": (
        "same grouping-sets-over-empty engine divergence as q_agg_cube"
    ),
    "empty:q_agg_grouping_sets": (
        "same grouping-sets-over-empty engine divergence as q_agg_cube"
    ),
}


def waiver(mode: str, qid: str) -> str | None:
    """The documented reason ``qid`` may fail under ``mode``, or None.
    Mode-scoped ONLY (ADVICE r11): an unscoped fallback would let one
    hostile axis's waiver silently cover every other axis — and even
    benign sources whose dirname happens to parse to a matching mode
    (tools_stability reads the mode off its source dir's name)."""
    return EXCLUDED.get(f"{mode}:{qid}")


def _null_out(col: pa.ChunkedArray, mask: np.ndarray) -> pa.Array:
    """Return ``col`` with ``mask`` positions nulled, preserving the
    exact arrow type (lists, nanosecond timestamps, decimals...): append
    a single-null tail and route masked indices at it via take()."""
    flat = col.combine_chunks() if isinstance(col, pa.ChunkedArray) else col
    ext = pa.concat_arrays([flat, pa.nulls(1, flat.type)])
    idx = np.arange(len(flat), dtype=np.int64)
    idx[mask] = len(flat)
    return ext.take(pa.array(idx))


_EXTREME_INTS = [0, -1, 1_000_000]
# TWO-decimal values, magnitude ≤ 25 (r9): like the real TPC-H
# columns, any TRIPLE product (price·(1−disc)·(1+tax)) then has ≤ 6
# decimals and tops out ~105k × 26² ≈ 7.1e7, and — the r9 lesson —
# hostile GROUP SUMS / pooled cross-moments stay orders of magnitude
# under 2^52·1e-6 ≈ 4.5e9, the zone where a double's ulp is finer
# than half the DECIMAL(18,6) grid so decimal↔double casts are
# bit-stable across engines. THREE earlier pools were walked back
# from live divergences: 6-decimal inputs made midpoint PRODUCTS
# (pitfall h); ±999.99 put per-row triple products ≈ 7e10 past the
# ulp>grid threshold (q_flagship_pricing_summary, r6); and ±249.99 —
# sized only against per-row terms — let (a) 28k-row hostile group
# sums reach 1.35e10 and pooled cross-moments 8.9e9, where DuckDB's
# DECIMAL→DOUBLE lands one ulp off Spark's (measured: sxyt
# …c7 vs …c8, q_events_cuped), and (b) per-row terms at ~2.7e9 hit
# the shortest-repr-vs-exact-binary midpoint window of the
# double→DECIMAL cast (3 in 28k draws, q_flagship_pricing_summary) —
# both at the r9 composed-mode sf0.01 replay. Overflow (≥1e12) is an
# ANSI abort by DESIGN and stays excluded.
_EXTREME_FLOATS = [0.0, -0.0, 24.99, -24.99, 0.01, -0.01]
_EXTREME_STRINGS = [
    "",                      # empty — split/substr/length edges
    "   ",                   # whitespace-only — trim/token edges
    "a" * 4096,              # long — shingle/prefix/byte-size paths
    "naïve 😀 中文 Ωß",       # unicode width/casing/normalization
    "x,y",                   # the concat_ws delimiter, embedded
    "line\nbreak\ttab",      # CSV/NDJSON round-trip breakage
    'he said "hi"',          # quote escaping
    "NULL",                  # the literal token vs a real NULL
    "12345",                 # numeric-looking text
    ".*+[",                  # regex metacharacters
    "src-   ",               # substr(·,4,·) slices to sign+whitespace:
                             # DuckDB TRY_CAST('-   ')=0, Spark NULL
                             # (ADVICE r7; divergence test pins it)
]
_EXTREME_TS = [  # all ns-representable (1677..2262)
    "1970-01-01T00:00:00",          # epoch zero
    "1969-12-31T23:59:59.123456",   # negative epoch micros
    "2200-01-01T00:00:00",          # far future
    "1999-12-31T23:59:59.999999",   # max µs fraction at a boundary
    "2000-01-01T00:00:00.000001",   # min nonzero µs fraction
]


def _extreme_pool(typ: pa.DataType, col: pa.Array) -> pa.Array | None:
    """A pool of hostile values in ``typ``, or None if the type has no
    meaningful extremes (bools)."""
    if pa.types.is_integer(typ):
        return pa.array(_EXTREME_INTS, type=typ)
    if pa.types.is_floating(typ):
        return pa.array(_EXTREME_FLOATS, type=typ)
    if pa.types.is_string(typ) or pa.types.is_large_string(typ):
        return pa.array(_EXTREME_STRINGS, type=typ)
    if pa.types.is_timestamp(typ):
        import datetime as dt

        vals = [dt.datetime.fromisoformat(s) for s in _EXTREME_TS]
        return pa.array(vals, type=typ)
    if pa.types.is_list(typ) and pa.types.is_floating(typ.value_type):
        # the zero vector, sized like the data (norm 0 → cosine hazards)
        for v in col:
            if v.is_valid:
                n = len(v)
                break
        else:
            return None
        return pa.array([[0.0] * n], type=typ)
    return None


def _inject_extremes(col: pa.ChunkedArray, mask: np.ndarray) -> pa.Array:
    """Replace ``mask`` positions with pool values (cycled by position,
    so the choice is deterministic given the mask)."""
    flat = col.combine_chunks() if isinstance(col, pa.ChunkedArray) else col
    pool = _extreme_pool(flat.type, flat)
    if pool is None or not mask.any():
        return flat
    ext = pa.concat_arrays([flat, pool])
    idx = np.arange(len(flat), dtype=np.int64)
    pos = np.flatnonzero(mask)
    idx[pos] = len(flat) + (pos % len(pool))
    return ext.take(pa.array(idx))


def _inject_skew(col: pa.ChunkedArray, mask: np.ndarray) -> pa.Array:
    """Overwrite ``mask`` positions with the column's FIRST non-null
    value — a deterministic existing key, so FK joins still match and
    the point mass lands on a real entity."""
    flat = col.combine_chunks() if isinstance(col, pa.ChunkedArray) else col
    hot = None
    for v in flat:
        if v.is_valid:
            hot = v
            break
    if hot is None or not mask.any():
        return flat
    ext = pa.concat_arrays([flat, pa.array([hot.as_py()], type=flat.type)])
    idx = np.arange(len(flat), dtype=np.int64)
    idx[mask] = len(flat)
    return ext.take(pa.array(idx))


def _stable(s: str) -> int:
    """Process-independent 16-bit hash (Python's hash() is salted per
    process via PYTHONHASHSEED — it would give every machine a
    different mutation sample, ADVICE r5)."""
    return zlib.crc32(s.encode()) & 0xFFFF


def _mask(salt: int, t: str, i: int, n: int, rate: float) -> np.ndarray:
    return np.random.default_rng([SEED, salt, _stable(t), i]).random(n) < rate


def _per_column(inject):
    """Lift ``inject(col, t, i, name, mode)`` to a step over every column
    of table ``t``. Each column's mask has its own seed, so one column
    step over the whole table, then the next, writes the same bytes as
    interleaving the steps column by column."""

    def step(tab: pa.Table, t: str, mode: str) -> pa.Table:
        cols = [inject(tab.column(i), t, i, name, mode) for i, name in enumerate(tab.column_names)]
        return pa.table(cols, schema=tab.schema)

    return step


def _empty(tab: pa.Table, t: str, mode: str) -> pa.Table:
    # schema-preserving ZERO rows: the filter-pruned-partition /
    # empty-ingest-batch shape every 100 TB pipeline hits — no
    # injection, the emptiness IS the mutation
    return tab.slice(0, 0)


@_per_column
def _extremes(col, t, i, name, mode):
    if name == KEY_COL[t]:  # pk values stay (module docstring, extremes)
        return col
    return _inject_extremes(col, _mask(0xE7E, t, i, len(col), EXTREME_RATE))


@_per_column
def _skew(col, t, i, name, mode):
    if name not in SKEW_COLS.get(t, ()):
        return col
    return _inject_skew(col, _mask(0x5E3, t, i, len(col), SKEW_RATE))


@_per_column
def _nulls(col, t, i, name, mode):
    # seeded per mode: each mode draws its own null pattern
    return _null_out(col, _mask(_stable(mode), t, i, len(col), NULL_RATE))


def _dupes(tab: pa.Table, t: str, mode: str) -> pa.Table:
    """Append a RE-KEYED copy of ~DUPE_RATE of the rows: same content,
    key column offset by KEY_OFFSET (module docstring, dupes)."""
    rng = np.random.default_rng([SEED, 0xD0BE, _stable(t)])
    picks = np.flatnonzero(rng.random(tab.num_rows) < DUPE_RATE)
    if not len(picks):
        return tab
    copies = tab.take(pa.array(picks))
    ki = copies.column_names.index(KEY_COL[t])
    col = copies.column(ki).combine_chunks()
    rekeyed = pc.add(col, pa.scalar(KEY_OFFSET, type=col.type))
    return pa.concat_tables([tab, copies.set_column(ki, copies.schema.field(ki), rekeyed)])


# Each mode's steps, applied in order to every table. The order is part
# of the data: skewex's skew overwrites extremes' values in the columns
# both touch, nulls land on top, and dupes copies rows after the nulls.
MODE_STEPS = {
    "nulls": (_nulls,),
    "dupes": (_nulls, _dupes),
    "extremes": (_extremes, _nulls),
    "empty": (_empty,),
    "skew": (_skew, _nulls),
    "skewex": (_extremes, _skew, _nulls),
}
MODES = tuple(MODE_STEPS)


def _config_fingerprint(src: str) -> str:
    """Everything that changes the generated mutations — a stale cached
    dir from an older (SEED, rates, tables, SOURCE dir) config must
    rebuild. The source dir is part of the identity: running the
    replay against sf0.01 mutations (SPARK_GRAFT_ADV_SRC) must not
    silently reuse cached sf0.001 ones."""
    pools = zlib.crc32(
        repr((_EXTREME_INTS, _EXTREME_FLOATS, _EXTREME_STRINGS, _EXTREME_TS)).encode()
    )
    skew = zlib.crc32(repr(sorted(SKEW_COLS.items())).encode())
    return (
        f"src={os.path.normpath(src)};seed={SEED:x};null={NULL_RATE};"
        f"dupe={DUPE_RATE};extreme={EXTREME_RATE};pools={pools:x};"
        f"skew={SKEW_RATE},{skew:x};tables={','.join(TABLES)};v=4"
    )


def build_mode_dir(mode: str, root: str | None = None, src_dir: str | None = None) -> str:
    steps = MODE_STEPS[mode]
    root = root or ROOT
    src = src_dir or SRC_DIR
    want = _config_fingerprint(src)
    # The dir is keyed by (mode, config fingerprint), NOT by mode alone
    # (VERDICT r8 #4 / CLAUDE.md r8 skew note b): a mode-only path made
    # a sentinel run against one source SWAP the dir out from under an
    # in-flight campaign reading another source — Spark reads parquet
    # lazily, so the campaign saw a torn dir mid-query (the r8 phantom
    # q_sim_ivf_topk FAIL). With fingerprint-keyed paths, different
    # configs never share a path, and same-config builders produce
    # IDENTICAL bytes, so any completed install is acceptable to every
    # waiter. Old-config dirs are left in place (bounded: one per
    # distinct config ever used on the box, under /tmp) — deleting them
    # would reintroduce the torn-read window for their readers.
    fp = f"{zlib.crc32(want.encode()):08x}"
    out_dir = os.path.join(root, f"{mode}.{fp}")
    stamp = os.path.join(out_dir, ".complete")
    if os.path.exists(stamp) and open(stamp).read() == want:
        return out_dir
    # build into a temp sibling and os.replace() atomically: concurrent
    # builders each produce a complete dir and the rename is last-wins,
    # so no reader ever sees half-written parquet (ADVICE r5).
    # pid+thread+uuid suffix: two THREADS of one process (the bench
    # harness's documented mode) must never share a build dir, or their
    # interleaved parquet writes publish a torn dir under a valid stamp
    import threading
    import uuid

    tmp_dir = (
        f"{out_dir}.tmp.{os.getpid()}.{threading.get_ident()}.{uuid.uuid4().hex[:8]}"
    )
    os.makedirs(tmp_dir)
    for t in TABLES:
        tab = pq.read_table(os.path.join(src, f"{t}.parquet"))
        for step in steps:
            tab = step(tab, t, mode)
        pq.write_table(tab, os.path.join(tmp_dir, f"{t}.parquet"))
    open(os.path.join(tmp_dir, ".complete"), "w").write(want)
    # Install atomically. The slot is fingerprint-keyed, so ANY dir
    # already at out_dir is either (a) another builder's completed
    # install of the SAME config — byte-identical, accept it — or (b) a
    # torn leftover from a crashed builder (no valid stamp). There is
    # no cross-config case and no move-aside window anymore (ADVICE r8:
    # the old move-aside-then-install pair was non-atomic and a third
    # builder could interleave between the two renames).
    import shutil

    try:
        try:
            os.replace(tmp_dir, out_dir)  # succeeds iff slot is free
        except OSError:
            import time as _time

            for _ in range(50):  # up to ~5 s for a racing winner
                if os.path.exists(stamp) and open(stamp).read() == want:
                    return out_dir  # identical content installed
                _time.sleep(0.1)
            # crash leftover: quarantine it (rename is atomic — any
            # concurrent builder landing here does the same and at
            # most one rename wins), then claim the slot
            wreck = f"{out_dir}.wreck.{os.getpid()}.{uuid.uuid4().hex[:8]}"
            try:
                os.replace(out_dir, wreck)
                shutil.rmtree(wreck, ignore_errors=True)
            except OSError:
                pass  # someone else quarantined or installed first
            try:
                os.replace(tmp_dir, out_dir)
            except OSError:
                # another builder claimed the slot between our
                # quarantine and install — theirs must be complete
                # and identical; verify rather than assume
                if not (
                    os.path.exists(stamp) and open(stamp).read() == want
                ):
                    raise
    finally:
        shutil.rmtree(tmp_dir, ignore_errors=True)
    return out_dir


def replay(mode: str, todo: list) -> int:
    """Run the relaxed oracle check over ``todo`` — (id, QuerySpec)
    pairs — on ``mode``'s mutation dir; return the FAIL count."""
    from datafusion_wasm_bindings_spark.queries.sources_q import _ensure_text_fixtures
    from datafusion_wasm_bindings_spark.session import get_spark
    from tools_driver_sim import oracle_connection, report, simulate

    sf_dir = build_mode_dir(mode)
    _ensure_text_fixtures(sf_dir)
    spark = get_spark("dfwb-adversarial")
    con = oracle_connection(sf_dir)
    try:
        results = simulate(todo, spark, con, sf_dir, relaxed=True)
    finally:
        con.close()
    return report(
        results,
        f"/tmp/adversarial_replay_{mode}.json",
        lambda ok, n, w, b: f"[{mode}] {ok}/{n} ok, {w} waived, {b} FAIL  ({sf_dir})",
        waiver=lambda k, rec: waiver(mode, k),
    )


def main() -> None:
    from datafusion_wasm_bindings_spark.queries import load_all
    from tools_driver_sim import exit_unknown, select_ids

    # argv: [mode] [q_id ...]; a first name that is neither a mode nor
    # a query id is a mistyped mode, not an id list
    registry = load_all()
    args = sys.argv[1:]
    modes = MODES
    if args and args[0] in MODES:
        modes, args = (args[0],), args[1:]
    elif args and args[0] not in registry:
        exit_unknown("modes", args[:1], MODES)
    todo = select_ids(registry, args)
    n_bad = sum(replay(m, todo) for m in modes)
    sys.exit(1 if n_bad else 0)


if __name__ == "__main__":
    main()
