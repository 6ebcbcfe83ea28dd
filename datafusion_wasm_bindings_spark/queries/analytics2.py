"""Fourth-wave extension queries: stable global row numbering, interval
merge (overlap flattening), Markov event transitions, conversion
attribution, rank-based winsorization, normalization-key dedup,
schema-drift UNION BY NAME, and balanced range-partitioned output
writing.

Like the earlier waves these are statements the reference engine
(datafusion-wasm-bindings executes arbitrary SQL through DataFusion,
`/root/reference/src/lib.rs` execute_sql) could run textually; each is
registered with a Spark-first physical shape chosen to survive 1000
executors — the scale notes live on each query.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from datafusion_wasm_bindings_spark.operators.checkpoint import cut
from datafusion_wasm_bindings_spark.queries import query
from datafusion_wasm_bindings_spark.queries._util import DEC, davg_sql, dsum_sql
from datafusion_wasm_bindings_spark.sources.catalog import table


# ====================== stable global row numbering ===================
def _pipeline_rownum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stable global row ids ordered by o_orderkey WITHOUT a global
    window. `row_number() OVER (ORDER BY k)` plans a single-partition
    window — the whole relation through one task at 100 TB. Two-pass
    rewrite (same shape as q_fn_weighted_percentile): (1) range-bucket
    the key and count each bucket (map-side combinable shuffle); (2)
    the |buckets|-row count table gets its exclusive prefix sum in a
    driver-trivial window and is broadcast back; (3) row_number runs
    PARTITIONED by bucket — parallel — and the bucket offset lifts it
    to a global id. Bucket width is fixed so |buckets| grows with the
    key domain (~N/4096), never with one task's memory."""
    # a NULL key has no rank position — and worse, its bucket would be
    # the NULLS-FIRST head of the offset prefix sum, shifting EVERY
    # global id (adversarial NULL replay, r5)
    o = (
        table(spark, sf_dir, "orders")
        .filter(F.col("o_orderkey").isNotNull())
        .select("o_orderkey")
    )
    b = o.withColumn("bkt", F.floor(F.col("o_orderkey") / F.lit(4096)).cast("long"))
    counts = b.groupBy("bkt").agg(F.count(F.lit(1)).alias("n"))
    wpref = Window.orderBy(F.col("bkt").asc()).rowsBetween(
        Window.unboundedPreceding, -1
    )
    offs = counts.select(
        "bkt", F.coalesce(F.sum("n").over(wpref), F.lit(0)).alias("off")
    )
    wb = Window.partitionBy("bkt").orderBy(F.col("o_orderkey").asc())
    rn = (
        b.join(F.broadcast(offs), "bkt")
        .withColumn("rn", (F.row_number().over(wb) + F.col("off")).cast("long"))
    )
    return rn.filter(F.col("o_orderkey") % 997 == 0).select("o_orderkey", "rn")


query(
    "q_pipeline_rownum",
    """
    SELECT o_orderkey, rn FROM (
      SELECT o_orderkey,
             CAST(row_number() OVER (ORDER BY o_orderkey ASC) AS BIGINT) AS rn
      FROM orders WHERE o_orderkey IS NOT NULL
    ) WHERE o_orderkey % 997 = 0
    """,
    tags=("extension", "pipeline", "scale", "window"),
)(_pipeline_rownum)


# ====================== interval merge (overlap flatten) ==============
_IV_US = 600_000_000  # each event opens a 10-minute activity interval
_NEG_INF = -(1 << 62)


def _events_interval_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Merge overlapping per-user activity intervals (the classic
    "flatten overlapping spans" verb: sessions from raw spans, on-call
    coverage, validity windows). Distributed shape: one shuffle on
    user_id; a prefix-max window detects gap starts, a running sum
    numbers the merged spans, and the final group-by re-uses the
    user_id clustering (hash(user_id) satisfies the (user_id, span_id)
    clustered distribution — no second exchange). Instants surfaced as
    epoch micros (registry determinism rules)."""
    # an interval needs an event time: NULL-ts rows are unplaceable
    # (and sort differently per engine) — excluded on both sides
    # (adversarial NULL replay, r5)
    e = (
        table(spark, sf_dir, "events")
        .filter(F.col("ts").isNotNull())
        .select("user_id", "event_id", F.unix_micros("ts").alias("s"))
    )
    iv = e.withColumn("e", F.col("s") + F.lit(_IV_US))
    w = Window.partitionBy("user_id").orderBy(
        F.col("s").asc(), F.col("event_id").asc()
    )
    prev_max_end = F.max("e").over(w.rowsBetween(Window.unboundedPreceding, -1))
    flagged = iv.withColumn(
        "flag",
        F.when(F.col("s") > F.coalesce(prev_max_end, F.lit(_NEG_INF)), 1).otherwise(0),
    )
    spans = flagged.withColumn(
        "span_id",
        F.sum("flag").over(w.rowsBetween(Window.unboundedPreceding, 0)).cast("long"),
    )
    return spans.groupBy("user_id", "span_id").agg(
        F.min("s").alias("span_start_us"),
        F.max("e").alias("span_end_us"),
        F.count(F.lit(1)).alias("n_events"),
    )


query(
    "q_events_interval_merge",
    f"""
    WITH iv AS (
      SELECT user_id, event_id,
             epoch_us(CAST(ts AS TIMESTAMP)) AS s,
             epoch_us(CAST(ts AS TIMESTAMP)) + {_IV_US} AS e
      FROM events WHERE ts IS NOT NULL
    ),
    f AS (
      SELECT user_id, event_id, s, e,
             CASE WHEN s > COALESCE(
               max(e) OVER (PARTITION BY user_id ORDER BY s ASC, event_id ASC
                            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
               {_NEG_INF}) THEN 1 ELSE 0 END AS flag
      FROM iv
    ),
    g AS (
      SELECT user_id, s, e,
             SUM(flag) OVER (PARTITION BY user_id ORDER BY s ASC, event_id ASC
                             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS span_id
      FROM f
    )
    SELECT user_id, CAST(span_id AS BIGINT) AS span_id,
           MIN(s) AS span_start_us, MAX(e) AS span_end_us,
           CAST(COUNT(*) AS BIGINT) AS n_events
    FROM g GROUP BY user_id, span_id
    """,
    tags=("extension", "events", "window", "cleaning"),
)(_events_interval_merge)


# ====================== Markov event transitions ======================
def _events_markov(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order event-type transition matrix (src → dst counts and
    probabilities) — the behavioral-analytics building block for
    next-action models and anomaly scoring. One shuffle on user_id for
    the lead() window, then a tiny (|types|²) aggregate; the transition
    probability divides two identical int64 counts as doubles on both
    engines (one correctly-rounded IEEE op — bit-identical)."""
    # journey order needs an event time; explicit NULLS LAST on the
    # tie-break (engine defaults differ) — adversarial NULL replay, r5.
    # event_type joins the ordering (r9): lead() READS event_type, and
    # (ts, event_id) is not total when event_id is NULL — a skew-hot
    # user crossed with extremes' pooled timestamps makes
    # (ts, NULL-id) tie groups real, and Spark's peer order there is
    # RUN-nondeterministic (observed as a one-off campaign flake).
    # With event_type in the order, remaining ties are interchangeable
    # for the consumed value (r8 skew convention a).
    e = (
        table(spark, sf_dir, "events")
        .filter(F.col("ts").isNotNull())
        .select("user_id", "event_id", "ts", "event_type")
    )
    w = Window.partitionBy("user_id").orderBy(
        F.col("ts").asc(),
        F.col("event_id").asc_nulls_last(),
        F.col("event_type").asc_nulls_last(),
    )
    pairs = (
        e.withColumn("dst", F.lead("event_type").over(w))
        .filter(F.col("dst").isNotNull())
        .groupBy(F.col("event_type").alias("src"), "dst")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    tot = F.sum("n").over(Window.partitionBy("src"))
    return pairs.select(
        "src", "dst", "n", (F.col("n") / tot).alias("p")
    )


query(
    "q_events_markov",
    """
    WITH pairs AS (
      SELECT user_id, event_type AS src,
             lead(event_type) OVER (PARTITION BY user_id
                 ORDER BY CAST(ts AS TIMESTAMP) ASC,
                          event_id ASC NULLS LAST,
                          event_type ASC NULLS LAST) AS dst
      FROM events WHERE ts IS NOT NULL
    ),
    cnt AS (
      SELECT src, dst, CAST(COUNT(*) AS BIGINT) AS n
      FROM pairs WHERE dst IS NOT NULL GROUP BY src, dst
    )
    SELECT src, dst, n,
           CAST(n AS DOUBLE) / CAST(CAST(SUM(n) OVER (PARTITION BY src) AS BIGINT) AS DOUBLE) AS p
    FROM cnt
    """,
    tags=("extension", "events", "behavior"),
)(_events_markov)


# ====================== conversion attribution ========================
def _events_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-touch / last-touch attribution: every purchase is credited
    to the user's first-ever event type and to the most recent
    non-purchase event before it (IGNORE NULLS carry-forward window).
    One shuffle on user_id; both windows share the same sort, then a
    tiny (|types|²) aggregate."""
    # journeys order by event time: NULL-ts rows excluded, NULLS LAST
    # tie-break (adversarial NULL replay, r5). event_type joins the
    # ordering because both frames READ it (r8(a) total-ordering rule,
    # extended to the first/last_value family r11: a skewex sf0.01
    # draw put two NULL-event_id rows at one (user_id, ts) with
    # different event_types — Spark's peer order is RUN-
    # nondeterministic, the q_events_markov class).
    e = (
        table(spark, sf_dir, "events")
        .filter(F.col("ts").isNotNull())
        .select("user_id", "event_id", "ts", "event_type")
    )
    w = Window.partitionBy("user_id").orderBy(
        F.col("ts").asc(),
        F.col("event_id").asc_nulls_last(),
        F.col("event_type").asc_nulls_last(),
    )
    first_touch = F.first("event_type").over(
        w.rowsBetween(Window.unboundedPreceding, 0)
    )
    last_touch = F.last(
        F.when(F.col("event_type") != "purchase", F.col("event_type")),
        ignorenulls=True,
    ).over(w.rowsBetween(Window.unboundedPreceding, -1))
    return (
        e.withColumn("first_touch", first_touch)
        .withColumn("last_touch", F.coalesce(last_touch, F.lit("none")))
        .filter(F.col("event_type") == "purchase")
        .groupBy("first_touch", "last_touch")
        .agg(F.count(F.lit(1)).alias("n_purchases"))
    )


query(
    "q_events_attribution",
    """
    WITH o AS (
      SELECT user_id, event_type,
             first_value(event_type) OVER (PARTITION BY user_id
                 ORDER BY CAST(ts AS TIMESTAMP) ASC, event_id ASC NULLS LAST,
                          event_type ASC NULLS LAST
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS first_touch,
             last_value(CASE WHEN event_type <> 'purchase' THEN event_type END IGNORE NULLS)
               OVER (PARTITION BY user_id
                     ORDER BY CAST(ts AS TIMESTAMP) ASC, event_id ASC NULLS LAST,
                              event_type ASC NULLS LAST
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS last_touch
      FROM events WHERE ts IS NOT NULL
    )
    SELECT first_touch, COALESCE(last_touch, 'none') AS last_touch,
           CAST(COUNT(*) AS BIGINT) AS n_purchases
    FROM o WHERE event_type = 'purchase'
    GROUP BY first_touch, COALESCE(last_touch, 'none')
    """,
    tags=("extension", "events", "behavior"),
)(_events_attribution)


# ====================== rank-based winsorization ======================
_WINS_P = 0.05  # clip the bottom/top 5% by rank


def _clean_winsorize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winsorized (outlier-clipped) per-group mean of event values.
    Clip bounds are ORDER STATISTICS, not interpolated percentiles:
    the k-th smallest / largest value with k = ceil(p·n), picked by a
    deterministic (value, event_id) rank — exact and bit-identical
    across engines, where interpolated `percentile` arithmetic is not.

    Scale shape (r4, two-pass): ~5 event types means a per-type rank
    window over the fact is one sequential task per type at 100 TB, so
    the rank runs through operators/scale.bucketed_rank on fixed-width
    VALUE buckets (monotone in the sort key — row-identical rank,
    parallel within types); per-type counts come from a combinable
    aggregate, the two order-statistic bounds from a lean filter on the
    exact rank, and the clipped mean from a broadcast of the
    |types|-row bounds table. No per-type fact window anywhere. The
    oracle is window-only (PARTITION BY keeps a NULL type as its own
    group), so both stat join-backs are NULL-SAFE (_util.nsjoin — the
    ADVICE-r4 zscore class).

    NULL hygiene (adversarial-replay finding, r5): the order-statistic
    rank runs over NON-NULL values only — aggregate semantics, like
    SUM/percentile skip NULLs — and the event_id tie-break carries an
    explicit NULLS LAST. Without both, engines diverge the moment a
    value or id is NULL: Spark sorts ASC NULLS FIRST, DuckDB ASC NULLS
    LAST, so the k-th "smallest" picks different rows, and a k_hi
    computed from a NULL-inclusive count can land inside the NULL tail
    (bound itself NULL). SURVEY §1.1's explicit-null-ordering rule
    applies to any rank consumed positionally, not just ORDER BY→LIMIT."""
    from datafusion_wasm_bindings_spark.operators.scale import bucketed_rank
    from datafusion_wasm_bindings_spark.queries._util import nsjoin

    e = table(spark, sf_dir, "events").select("event_type", "event_id", "value")
    ev = e.filter(F.col("value").isNotNull())
    g = (
        ev.groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .withColumn("k_lo", F.ceil(F.col("cnt") * F.lit(_WINS_P)))
        .withColumn("k_hi", F.col("cnt") - F.col("k_lo") + 1)
    )
    r = nsjoin(
        bucketed_rank(
            ev,
            ["event_type"],
            F.floor(F.col("value")),
            [F.col("value").asc(), F.col("event_id").asc_nulls_last()],
        ),
        g,
        "event_type",
    )
    bounds = (
        r.filter((F.col("rn") == F.col("k_lo")) | (F.col("rn") == F.col("k_hi")))
        .groupBy("event_type")
        .agg(
            F.min(F.when(F.col("rn") == F.col("k_lo"), F.col("value"))).alias("v_lo"),
            F.min(F.when(F.col("rn") == F.col("k_hi"), F.col("value"))).alias("v_hi"),
        )
    )
    clipped = F.least(F.greatest(F.col("value"), F.col("v_lo")), F.col("v_hi"))
    return (
        nsjoin(e, bounds, "event_type")
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.min("v_lo").alias("lo"),
            F.min("v_hi").alias("hi"),
            (F.sum(clipped.cast(DEC)).cast("double") / F.count(F.lit(1))).alias(
                "wins_mean"
            ),
        )
    )


query(
    "q_clean_winsorize",
    f"""
    WITH r AS (
      SELECT event_type, value,
             row_number() OVER (PARTITION BY event_type
                 ORDER BY value ASC, event_id ASC NULLS LAST) AS rn,
             COUNT(*) OVER (PARTITION BY event_type) AS cnt
      FROM events WHERE value IS NOT NULL
    ),
    k AS (
      SELECT event_type, value, rn, cnt,
             CAST(ceil(cnt * {_WINS_P}) AS BIGINT) AS k_lo,
             cnt - CAST(ceil(cnt * {_WINS_P}) AS BIGINT) + 1 AS k_hi
      FROM r
    ),
    b AS (
      SELECT event_type,
             max(CASE WHEN rn = k_lo THEN value END) AS v_lo,
             max(CASE WHEN rn = k_hi THEN value END) AS v_hi
      FROM k GROUP BY event_type
    )
    SELECT e.event_type AS event_type, CAST(COUNT(*) AS BIGINT) AS n,
           MIN(v_lo) AS lo, MIN(v_hi) AS hi,
           {davg_sql("least(greatest(e.value, v_lo), v_hi)", "wins_mean")}
    FROM events e JOIN b ON e.event_type IS NOT DISTINCT FROM b.event_type
    GROUP BY e.event_type
    """,
    tags=("extension", "cleaning", "stats"),
)(_clean_winsorize)


# ====================== normalization-key dedup =======================
def _text_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Normalization-key dedup summary: casefold + collapse every
    non-alphanumeric run to one space + trim, then count distinct
    normalized keys and the docs collapsed beyond the first per key.
    Pure map + one fixed-width (md5 key) shuffle — the normalized text
    itself never shuffles. The normalizer is the standard first pass
    before exact/near dedup in web-corpus pipelines."""
    d = table(spark, sf_dir, "documents").select(
        "doc_id",
        F.md5(
            F.trim(F.regexp_replace(F.lower(F.col("text")), "[^a-z0-9]+", " "))
        ).alias("key"),
    )
    per_key = d.groupBy("key").agg(F.count(F.lit(1)).alias("n_docs"))
    return per_key.agg(
        F.count(F.lit(1)).alias("n_keys"),
        F.sum("n_docs").alias("n_docs"),
        F.sum(F.col("n_docs") - 1).alias("n_dupes"),
    )


query(
    "q_text_normalize",
    """
    WITH d AS (
      SELECT md5(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g'))) AS key
      FROM documents
    ),
    per_key AS (
      SELECT key, COUNT(*) AS n_docs FROM d GROUP BY key
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_keys,
           CAST(SUM(n_docs) AS BIGINT) AS n_docs,
           CAST(SUM(n_docs - 1) AS BIGINT) AS n_dupes
    FROM per_key
    """,
    tags=("extension", "text", "dedup"),
)(_text_normalize)


# ====================== schema-drift UNION BY NAME ====================
def _union_by_name(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema-drift union (DuckDB's UNION ALL BY NAME; DataFusion
    unions resolve by position only — this is the compat shim a user
    migrating drifted file batches needs): two projections with
    different column order and missing columns union by NAME with NULL
    padding. Pure map over both inputs, then one aggregate."""
    o = table(spark, sf_dir, "orders")
    a = o.filter(F.col("o_orderkey") % 2 == 0).select("o_orderkey", "o_totalprice")
    b = o.filter(F.col("o_orderkey") % 2 == 1).select("o_orderstatus", "o_orderkey")
    u = a.unionByName(b, allowMissingColumns=True)
    return u.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.count("o_totalprice").alias("n_price"),
        F.count("o_orderstatus").alias("n_status"),
        F.sum(F.col("o_totalprice").cast(DEC)).cast("double").alias("sum_price"),
    )


query(
    "q_union_by_name",
    f"""
    WITH u AS (
      SELECT o_orderkey, o_totalprice FROM orders WHERE o_orderkey % 2 = 0
      UNION ALL BY NAME
      SELECT o_orderstatus, o_orderkey FROM orders WHERE o_orderkey % 2 = 1
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(COUNT(o_totalprice) AS BIGINT) AS n_price,
           CAST(COUNT(o_orderstatus) AS BIGINT) AS n_status,
           {dsum_sql("o_totalprice", "sum_price")}
    FROM u
    """,
    tags=("extension", "setop", "compat"),
)(_union_by_name)


# ====================== balanced range-partitioned write ==============
_N_RANGE_FILES = 8


def _scale_balanced_write(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range-partitioned balanced output write — the 100 TB answer to
    "one giant part file / ten thousand tiny ones": repartitionByRange
    on the sort key samples boundaries, writes exactly N key-ordered
    files, and downstream range scans prune by footer min/max. Reads
    its own output back via the _metadata.file_path hidden column and
    asserts the balance contract (loose 3× bound so boundary-sampling
    variance can't flake)."""
    from datafusion_wasm_bindings_spark.queries.sources_q import (
        _OUT_ROOT,
        _scope,
        _sf_tag,
    )

    out = os.path.join(
        _OUT_ROOT, _sf_tag(sf_dir), f"balanced_orders_{_scope()}"
    )
    o = table(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")
    o.repartitionByRange(_N_RANGE_FILES, F.col("o_orderkey")).write.mode(
        "overwrite"
    ).parquet(out)
    back = spark.read.parquet(out).select(
        "o_orderkey", F.col("_metadata.file_path").alias("f")
    )
    per_file = back.groupBy("f").agg(F.count(F.lit(1)).alias("n"))
    # Surface the CONTRACT, not the raw file count: the exact count is
    # only predictable by the oracle in the >=|shards|-distinct-keys
    # regime (a 1..7-row or duplicate-key input populates fewer range
    # partitions — review find r7), so the hash-checked columns are
    # rows_total (exact) plus two assertion booleans in the
    # hll_within_5pct style: files_bounded (0 files iff 0 rows, never
    # more than min(shards, rows)) and balanced (max <= 3x min across
    # non-empty files; vacuous on empty). The exact 8-file fixture
    # behavior stays pinned by tests/test_operators.py
    # test_balanced_write_populates_all_range_partitions.
    return per_file.agg(
        F.coalesce(F.sum("n"), F.lit(0)).cast("long").alias("rows_total"),
        (
            F.count(F.lit(1))
            <= F.least(
                F.lit(_N_RANGE_FILES).cast("long"),
                F.coalesce(F.sum("n"), F.lit(0)).cast("long"),
            )
        ).alias("files_bounded"),
        F.coalesce(F.max("n") <= 3 * F.min("n"), F.lit(True)).alias("balanced"),
    )


query(
    "q_scale_balanced_write",
    """
    SELECT CAST(COUNT(*) AS BIGINT) AS rows_total,
           TRUE AS files_bounded,
           TRUE AS balanced
    FROM orders
    """,
    tags=("extension", "scale", "sink"),
)(_scale_balanced_write)


# ====================== calendar gap-fill =============================
def _events_gapfill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily event counts per type with calendar gap-fill (missing
    (day, type) cells become explicit zero rows — the prerequisite for
    correct moving averages and charting). The dense grid is built from
    two TINY relations (global [min,max] day span exploded, × distinct
    types) so the cross join and the left join both broadcast; the only
    real shuffle is the daily count aggregate. At 100 TB the grid is
    |days|×|types| — still broadcastable — and the fact side never
    re-shuffles."""
    e = table(spark, sf_dir, "events").select(
        F.to_date("ts").alias("d"), "event_type"
    )
    daily = e.groupBy("d", "event_type").agg(F.count(F.lit(1)).alias("n"))
    cal = (
        e.agg(F.min("d").alias("lo"), F.max("d").alias("hi"))
        .select(F.explode(F.sequence("lo", "hi")).alias("d"))
    )
    types = e.select("event_type").distinct()
    grid = cal.crossJoin(types)
    # broadcast the BUILD side: a left join builds its right input, and
    # post-aggregation `daily` is as small as the grid (≤ |days|·|types|)
    return grid.join(F.broadcast(daily), ["d", "event_type"], "left").select(
        "d", "event_type", F.coalesce("n", F.lit(0)).cast("long").alias("n")
    )


query(
    "q_events_gapfill",
    """
    WITH e AS (
      SELECT CAST(ts AS DATE) AS d, event_type FROM events
    ),
    daily AS (
      SELECT d, event_type, COUNT(*) AS n FROM e GROUP BY d, event_type
    ),
    b AS (SELECT min(d) AS lo, max(d) AS hi FROM e),
    cal AS (
      SELECT CAST(unnest(generate_series(CAST(lo AS TIMESTAMP),
                                         CAST(hi AS TIMESTAMP),
                                         INTERVAL 1 DAY)) AS DATE) AS d
      FROM b
    ),
    grid AS (SELECT cal.d, t.event_type FROM cal, (SELECT DISTINCT event_type FROM e) t)
    SELECT g.d, g.event_type, CAST(COALESCE(daily.n, 0) AS BIGINT) AS n
    FROM grid g LEFT JOIN daily ON g.d = daily.d AND g.event_type = daily.event_type
    """,
    tags=("extension", "events", "cleaning"),
)(_events_gapfill)


# ====================== end-to-end near-dup removal ===================
def _dedup_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The composed corpus-dedup verb, end to end: candidate pairs
    (n-gram Jaccard with the df-cut skew guard) → connected components
    (min-label) → keep one representative per cluster (the min doc_id,
    i.e. the component label itself) → retention stats. Every stage is
    the already-plan-audited building block; the composition shows the
    full pipeline stays shuffle-bounded (bucketed pair-gen, O(diameter)
    label rounds with per-round lineage cuts, the cluster map joined
    back WITHOUT a broadcast hint — it is O(near-dup docs), corpus-
    proportional at a 30-50% dup rate, so AQE picks broadcast only
    when the runtime size fits, the triangle-count lesson). The
    oracle recomputes the same edges and
    reaches the same fixpoint through a recursive reachability CTE."""
    from datafusion_wasm_bindings_spark.operators.dedup import (
        connected_components,
        ngram_jaccard_pairs,
    )

    docs = table(spark, sf_dir, "documents").filter("doc_id < 200")
    pairs = ngram_jaccard_pairs(docs, threshold=0.9, max_doc_freq=160)
    comps = connected_components(pairs).selectExpr(
        "node AS doc_id", "comp AS cluster_id"
    )
    kept = docs.select("doc_id", "n_chars").join(comps, "doc_id", "left")
    keep = (
        F.col("cluster_id").isNull() | (F.col("cluster_id") == F.col("doc_id"))
    ).cast("long")
    return kept.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(keep).alias("n_kept"),
        F.sum(1 - keep).alias("n_dropped"),
        F.sum(F.when(keep == 1, F.col("n_chars")).otherwise(0)).alias("kept_chars"),
    )


def _dedup_pipeline_oracle() -> str:
    from datafusion_wasm_bindings_spark.queries.extensions import _NGRAM_PAIRS_CTES

    return f"""
    WITH RECURSIVE {_NGRAM_PAIRS_CTES},
    pairs AS (
      SELECT id_a, id_b FROM inter
      JOIN sizes sa ON sa.doc_id = id_a
      JOIN sizes sb ON sb.doc_id = id_b
      WHERE inter * 1.0 / (sa.n_tok + sb.n_tok - inter) >= 0.9
    ),
    edges AS (
      SELECT id_a AS a, id_b AS b FROM pairs
      UNION SELECT id_b, id_a FROM pairs
    ),
    reach(node, r) AS (
      SELECT DISTINCT a, a FROM edges
      UNION
      SELECT e.a, rc.r FROM edges e JOIN reach rc ON e.b = rc.node
    ),
    comps AS (SELECT node AS doc_id, min(r) AS cluster_id FROM reach GROUP BY node),
    k AS (
      SELECT d.doc_id, d.n_chars,
             CASE WHEN c.cluster_id IS NULL OR c.cluster_id = d.doc_id
                  THEN 1 ELSE 0 END AS keep
      FROM (SELECT doc_id, n_chars FROM documents WHERE doc_id < 200) d
      LEFT JOIN comps c ON d.doc_id = c.doc_id
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(keep) AS BIGINT) AS n_kept,
           CAST(SUM(1 - keep) AS BIGINT) AS n_dropped,
           CAST(SUM(CASE WHEN keep = 1 THEN n_chars ELSE 0 END) AS BIGINT) AS kept_chars
    FROM k
    """


query(
    "q_dedup_pipeline",
    _dedup_pipeline_oracle(),
    tags=("extension", "dedup", "pipeline"),
)(_dedup_pipeline)


# ====================== classifier threshold sweep (PR curve) =========
_N_THRESH = 20


def _text_pr_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Precision/recall threshold sweep for a corpus filter — the
    eval-harness verb behind every quality-classifier cutoff decision.
    Score: 'the'-density (occurrences per character — the langid
    heuristic's strongest single feature); label: lang == 'en'. The
    threshold grid is a broadcast cross join (|grid| rows), so the
    whole sweep is ONE pass over the corpus and one tiny aggregate —
    never a per-threshold rescan; ratios divide identical int64 counts
    as doubles (bit-identical cross-engine)."""
    d = table(spark, sf_dir, "documents").select(
        (F.col("lang") == "en").cast("long").alias("label"),
        (
            (
                F.length(F.lower(F.col("text")))
                - F.length(F.replace(F.lower(F.col("text")), F.lit("the"), F.lit("")))
            )
            / F.lit(3.0)
            / F.greatest(F.col("n_chars"), F.lit(1))
        ).alias("score"),
    )
    grid = spark.range(_N_THRESH).select(
        (F.col("id") / F.lit(2000.0)).alias("t")
    )
    j = d.crossJoin(F.broadcast(grid))
    agg = j.groupBy("t").agg(
        F.sum(F.lit(1)).alias("n_docs"),
        F.sum((F.col("score") >= F.col("t")).cast("long")).alias("n_pred"),
        F.sum(((F.col("score") >= F.col("t")) & (F.col("label") == 1)).cast("long")).alias("tp"),
        F.sum("label").alias("n_pos"),
    )
    return agg.select(
        "t",
        F.col("n_pred").cast("long").alias("n_pred"),
        F.col("tp").cast("long").alias("tp"),
        F.when(F.col("n_pred") > 0, F.col("tp") / F.col("n_pred")).alias("precision"),
        (F.col("tp") / F.col("n_pos")).alias("recall"),
    )


query(
    "q_text_pr_curve",
    f"""
    WITH d AS (
      SELECT CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS label,
             (length(lower(text)) - length(replace(lower(text), 'the', ''))) / 3.0
               / greatest(n_chars, 1) AS score
      FROM documents
    ),
    grid AS (SELECT i / 2000.0 AS t FROM unnest(generate_series(0, {_N_THRESH - 1})) AS u(i)),
    agg AS (
      SELECT t,
             CAST(COUNT(*) AS BIGINT) AS n_docs,
             CAST(SUM(CASE WHEN score >= t THEN 1 ELSE 0 END) AS BIGINT) AS n_pred,
             CAST(SUM(CASE WHEN score >= t AND label = 1 THEN 1 ELSE 0 END) AS BIGINT) AS tp,
             CAST(SUM(label) AS BIGINT) AS n_pos
      FROM d, grid GROUP BY t
    )
    SELECT t, n_pred, tp,
           CASE WHEN n_pred > 0 THEN CAST(tp AS DOUBLE) / CAST(n_pred AS DOUBLE) END AS precision,
           CAST(tp AS DOUBLE) / CAST(n_pos AS DOUBLE) AS recall
    FROM agg
    """,
    tags=("extension", "text", "stats"),
)(_text_pr_curve)


# ====================== incremental batch-vs-corpus dedup =============
_INGEST_SPLIT = 3000  # doc_id >= split = the "incoming batch"


def _pipeline_incremental_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental ingest dedup: a new batch is admitted only where its
    content hash collides with NEITHER the existing corpus NOR an
    earlier row of the same batch (first occurrence wins inside the
    batch). Physical shape for 100 TB: the corpus side reduces to
    DISTINCT md5 keys (fixed-width) before the LEFT ANTI join — the
    corpus text itself never shuffles — and the in-batch first-
    occurrence is a window over the md5 key, clustering both steps on
    the same key so AQE can reuse the exchange."""
    d = table(spark, sf_dir, "documents").select(
        "doc_id", F.md5(F.col("text")).alias("key")
    )
    corpus_keys = d.filter(F.col("doc_id") < _INGEST_SPLIT).select("key").distinct()
    batch = d.filter(F.col("doc_id") >= _INGEST_SPLIT)
    w = Window.partitionBy("key").orderBy(F.col("doc_id").asc())
    fresh = (
        batch.join(corpus_keys, "key", "left_anti")
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
    )
    return (
        batch.agg(F.count(F.lit(1)).alias("n_batch"))
        .crossJoin(fresh.agg(F.count(F.lit(1)).alias("n_admitted")))
        .select(
            "n_batch",
            "n_admitted",
            (F.col("n_batch") - F.col("n_admitted")).alias("n_rejected"),
        )
    )


query(
    "q_pipeline_incremental_dedup",
    f"""
    WITH d AS (SELECT doc_id, md5(text) AS key FROM documents),
    corpus AS (SELECT DISTINCT key FROM d WHERE doc_id < {_INGEST_SPLIT}),
    batch AS (SELECT doc_id, key FROM d WHERE doc_id >= {_INGEST_SPLIT}),
    fresh AS (
      SELECT b.doc_id, b.key,
             row_number() OVER (PARTITION BY b.key ORDER BY b.doc_id ASC) AS rn
      FROM batch b LEFT JOIN corpus c ON b.key = c.key
      WHERE c.key IS NULL
    )
    SELECT CAST((SELECT COUNT(*) FROM batch) AS BIGINT) AS n_batch,
           CAST((SELECT COUNT(*) FROM fresh WHERE rn = 1) AS BIGINT) AS n_admitted,
           CAST((SELECT COUNT(*) FROM batch) AS BIGINT)
             - CAST((SELECT COUNT(*) FROM fresh WHERE rn = 1) AS BIGINT) AS n_rejected
    """,
    tags=("extension", "dedup", "pipeline"),
)(_pipeline_incremental_dedup)


# ====================== conversion-window funnel ======================
_FUNNEL_WINDOW_US = 7 * 24 * 3600 * 1_000_000  # 7 days


def _events_windowed_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Funnel with a conversion deadline: signup → first view AFTER the
    signup → first purchase after that view, each within 7 days of the
    user's signup. Same monotone one-shuffle-per-step shape as
    q_events_funnel (every join keyed on user_id, candidate set only
    shrinks), plus a constant deadline predicate per step — the
    standard product-analytics variant where late conversions must not
    count. Instants compared as epoch micros."""
    e = table(spark, sf_dir, "events").select(
        "user_id", "event_type", F.unix_micros("ts").alias("t")
    )
    s1 = (
        e.filter(F.col("event_type") == "signup")
        .groupBy("user_id")
        .agg(F.min("t").alias("t0"))
    )
    dl = F.col("t0") + F.lit(_FUNNEL_WINDOW_US)
    s2 = (
        e.filter(F.col("event_type") == "view")
        .join(s1, "user_id")
        .filter((F.col("t") > F.col("t0")) & (F.col("t") <= dl))
        .groupBy("user_id")
        .agg(F.min("t").alias("t1"), F.min(F.col("t0")).alias("t0"))
    )
    s3 = (
        e.filter(F.col("event_type") == "purchase")
        .join(s2, "user_id")
        .filter(
            (F.col("t") > F.col("t1"))
            & (F.col("t") <= F.col("t0") + F.lit(_FUNNEL_WINDOW_US))
        )
        .groupBy("user_id")
        .agg(F.min("t").alias("t2"))
    )
    return (
        s1.agg(F.count(F.lit(1)).alias("step_signup"))
        .crossJoin(s2.agg(F.count(F.lit(1)).alias("step_view_7d")))
        .crossJoin(s3.agg(F.count(F.lit(1)).alias("step_purchase_7d")))
    )


query(
    "q_events_windowed_funnel",
    f"""
    WITH e AS (
      SELECT user_id, event_type, epoch_us(CAST(ts AS TIMESTAMP)) AS t FROM events
    ),
    s1 AS (
      SELECT user_id, min(t) AS t0 FROM e WHERE event_type = 'signup' GROUP BY user_id
    ),
    s2 AS (
      SELECT e.user_id, min(e.t) AS t1, min(s1.t0) AS t0
      FROM e JOIN s1 ON e.user_id = s1.user_id
      WHERE e.event_type = 'view' AND e.t > s1.t0
        AND e.t <= s1.t0 + {_FUNNEL_WINDOW_US}
      GROUP BY e.user_id
    ),
    s3 AS (
      SELECT e.user_id, min(e.t) AS t2
      FROM e JOIN s2 ON e.user_id = s2.user_id
      WHERE e.event_type = 'purchase' AND e.t > s2.t1
        AND e.t <= s2.t0 + {_FUNNEL_WINDOW_US}
      GROUP BY e.user_id
    )
    SELECT CAST((SELECT COUNT(*) FROM s1) AS BIGINT) AS step_signup,
           CAST((SELECT COUNT(*) FROM s2) AS BIGINT) AS step_view_7d,
           CAST((SELECT COUNT(*) FROM s3) AS BIGINT) AS step_purchase_7d
    """,
    tags=("extension", "events", "behavior"),
)(_events_windowed_funnel)


# ====================== unigram-LM perplexity filter ==================
def _text_perplexity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unigram language-model perplexity scoring — the CCNet-style
    quality filter: train token probabilities on the corpus itself,
    score every document by mean negative log-likelihood, flag the
    worst tail. Physical shape: one explode + one token-count shuffle
    builds the LM; the vocabulary (≪ corpus) broadcasts back onto the
    token stream, so scoring is map-side; one doc_id regroup ends it.
    At 100 TB an oversized vocabulary would swap the broadcast for a
    shuffle join — same semantics. Determinism: log(cnt/total) is
    quantized HALF_UP to 1e-6 as int64 BEFORE the per-doc sum (dsum
    recipe), and the surfaced perplexity double goes through
    DECIMAL(18,6) (libm-vs-Java-exp ulp, CLAUDE.md pitfall g)."""
    toks = (
        table(spark, sf_dir, "documents")
        .select(
            "doc_id",
            F.explode(
                F.regexp_extract_all(F.lower("text"), F.lit("[a-z0-9]+"), F.lit(0))
            ).alias("tok"),
        )
    )
    vocab = toks.groupBy("tok").agg(F.count(F.lit(1)).alias("cnt"))
    total = vocab.agg(F.sum("cnt").alias("tot"))
    probs = vocab.crossJoin(F.broadcast(total)).select(
        "tok",
        F.floor(
            F.log(F.col("cnt") / F.col("tot")) * F.lit(1e6) + F.lit(0.5)
        )
        .cast("long")
        .alias("qlogp"),
    )
    scored = (
        # probs is VOCABULARY-sized: no broadcast hint (r5 (d)) — AQE
        # broadcasts while it fits, shuffle-joins on tok past the
        # ceiling (the docstring's "oversized vocabulary" path, now
        # automatic)
        toks.join(probs, "tok")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_toks"), F.sum("qlogp").alias("qsum"))
    )
    return scored.filter(F.col("doc_id") < 500).select(
        "doc_id",
        "n_toks",
        F.exp(-F.col("qsum") / F.lit(1e6) / F.col("n_toks"))
        .cast("decimal(18,6)")
        .cast("double")
        .alias("perplexity"),
    )


query(
    "q_text_perplexity",
    """
    WITH toks AS (
      SELECT doc_id, unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS tok
      FROM documents
    ),
    vocab AS (SELECT tok, CAST(COUNT(*) AS BIGINT) AS cnt FROM toks GROUP BY tok),
    total AS (SELECT CAST(SUM(cnt) AS BIGINT) AS tot FROM vocab),
    probs AS (
      SELECT tok,
             CAST(floor(ln(CAST(cnt AS DOUBLE) / tot) * 1000000 + 0.5) AS BIGINT) AS qlogp
      FROM vocab CROSS JOIN total
    ),
    scored AS (
      SELECT t.doc_id, CAST(COUNT(*) AS BIGINT) AS n_toks,
             CAST(SUM(p.qlogp) AS BIGINT) AS qsum
      FROM toks t JOIN probs p ON t.tok = p.tok
      GROUP BY t.doc_id
    )
    SELECT doc_id, n_toks,
           CAST(CAST(exp(-CAST(qsum AS DOUBLE) / 1e6 / n_toks) AS DECIMAL(18,6)) AS DOUBLE)
             AS perplexity
    FROM scored WHERE doc_id < 500
    """,
    tags=("extension", "text", "quality"),
)(_text_perplexity)


# ====================== DAU / WAU / MAU ===============================
def _events_active_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DAU/WAU/MAU — rolling DISTINCT active users per day. Rolling
    count-distinct does not decompose into window frames; the naive
    shape (explode every activity day into all ≤7/≤28 report days it
    reaches, then re-DISTINCT) re-shuffles window×grid rows. This uses
    the span-merge formulation instead: reduce to the DISTINCT
    (day, user) grid once, then per user explode each activity day
    only up to the day BEFORE its next activity —
    [d, min(d+w-1, next_d-1)] — so a user's report-day spans are
    DISJOINT by construction: no second distinct, fan-out only for the
    days a user is newly covered (measured 33 s → 7 s at 10M events ×
    1M users, BASELINE.md). The oracle keeps the brute-force
    explode+distinct formulation as independent proof."""
    # activity is attributed to a (day, USER): rows with no event time
    # or no user are uncountable — excluded on both sides; the duck
    # formulation's COUNT(DISTINCT user_id) would silently skip NULL
    # users the span-merge grid counts (adversarial NULL replay, r5)
    e = (
        table(spark, sf_dir, "events")
        .filter(F.col("ts").isNotNull() & F.col("user_id").isNotNull())
        .select(F.to_date("ts").alias("d"), "user_id")
    )
    grid = e.distinct()  # (day, user) activity grid — the only event scan
    dau = grid.groupBy("d").agg(F.count(F.lit(1)).alias("dau"))
    wnext = Window.partitionBy("user_id").orderBy(F.col("d").asc())
    gaps = grid.withColumn("next_d", F.lead("d").over(wnext))

    def rolling(days: int, alias: str) -> DataFrame:
        span_end = F.least(
            F.date_add(F.col("d"), days - 1),
            F.coalesce(
                F.date_sub(F.col("next_d"), 1),
                F.date_add(F.col("d"), days - 1),
            ),
        )
        exploded = gaps.select(
            F.explode(F.sequence(F.col("d"), span_end)).alias("d"), "user_id"
        )
        return exploded.groupBy("d").agg(F.count(F.lit(1)).alias(alias))

    span = grid.agg(F.min("d").alias("lo"), F.max("d").alias("hi"))
    out = (
        dau.join(rolling(7, "wau"), "d")
        .join(rolling(28, "mau"), "d")
        .crossJoin(F.broadcast(span))
        # trailing windows are only complete from lo+27 on; clip both
        # ends so every reported day aggregates full windows only
        .filter((F.col("d") >= F.date_add(F.col("lo"), 27)) & (F.col("d") <= F.col("hi")))
        .select("d", "dau", "wau", "mau")
    )
    return out


query(
    "q_events_active_users",
    """
    WITH grid AS (SELECT DISTINCT CAST(ts AS DATE) AS d, user_id FROM events
                  WHERE ts IS NOT NULL AND user_id IS NOT NULL),
    dau AS (SELECT d, CAST(COUNT(*) AS BIGINT) AS dau FROM grid GROUP BY d),
    wau AS (
      SELECT rd AS d, CAST(COUNT(DISTINCT user_id) AS BIGINT) AS wau
      FROM (SELECT CAST(unnest(generate_series(CAST(d AS TIMESTAMP),
                                CAST(d AS TIMESTAMP) + INTERVAL 6 DAY,
                                INTERVAL 1 DAY)) AS DATE) AS rd, user_id
            FROM grid)
      GROUP BY rd
    ),
    mau AS (
      SELECT rd AS d, CAST(COUNT(DISTINCT user_id) AS BIGINT) AS mau
      FROM (SELECT CAST(unnest(generate_series(CAST(d AS TIMESTAMP),
                                CAST(d AS TIMESTAMP) + INTERVAL 27 DAY,
                                INTERVAL 1 DAY)) AS DATE) AS rd, user_id
            FROM grid)
      GROUP BY rd
    ),
    span AS (SELECT min(d) AS lo, max(d) AS hi FROM grid)
    SELECT dau.d, dau.dau, wau.wau, mau.mau
    FROM dau JOIN wau ON dau.d = wau.d JOIN mau ON dau.d = mau.d
    CROSS JOIN span
    WHERE dau.d >= span.lo + INTERVAL 27 DAY AND dau.d <= span.hi
    """,
    tags=("extension", "events", "behavior"),
)(_events_active_users)


# ====================== containment near-dup ==========================
def _dedup_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    from datafusion_wasm_bindings_spark.operators.dedup import ngram_containment_pairs

    docs = table(spark, sf_dir, "documents").filter("doc_id < 200")
    return ngram_containment_pairs(docs, threshold=0.9, max_doc_freq=160)


def _dedup_containment_oracle() -> str:
    from datafusion_wasm_bindings_spark.queries.extensions import _NGRAM_PAIRS_CTES

    return f"""
    WITH {_NGRAM_PAIRS_CTES}
    SELECT id_a, id_b,
           round(inter * 1.0 / least(sa.n_tok, sb.n_tok), 6) AS containment
    FROM inter
    JOIN sizes sa ON sa.doc_id = id_a
    JOIN sizes sb ON sb.doc_id = id_b
    WHERE inter * 1.0 / least(sa.n_tok, sb.n_tok) >= 0.9
    """


query(
    "q_dedup_containment",
    _dedup_containment_oracle(),
    tags=("extension", "dedup"),
)(_dedup_containment)


# ====================== RFM segmentation ==============================
def _events_rfm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM (recency / frequency / monetary) quintile segmentation of
    purchasers — the classic behavioral customer grid. Events reduce to
    ONE row per user first; quintiles are then assigned WITHOUT a
    global ntile window over the O(|users|) table (one sequential task
    at 1e9 users — the registry's last fact-scaled global window,
    removed r5): each metric takes the bucketed two-pass rank
    (operators/scale.bucketed_rank with NO partition key — the offset
    prefix runs over |buckets| rows only) and the exact SQL ntile
    bucket derives arithmetically from (rank, n): with q = n div k,
    r = n mod k, the first r buckets hold q+1 rows — reproduced
    row-identically (property-tested vs F.ntile in
    tests/test_operators.py::test_ntile_from_rank_formula). ntile ties
    broken by user_id so both engines bin identically; monetary totals
    go through the decimal recipe."""
    from datafusion_wasm_bindings_spark.operators.scale import _idiv, bucketed_rank

    # recency needs a dated purchase (NULL ts dropped); monetary of
    # value-less purchases coalesces to 0; the user_id tie-break is
    # explicit NULLS LAST — all three so the rank inputs are NULL-free
    # or NULL-positioned identically across engines (adversarial NULL
    # replay, r5; bucketed_rank itself pins NULL order keys FIRST,
    # Spark's naive-window default, which duck ntile would not match)
    e = table(spark, sf_dir, "events").filter(
        (F.col("event_type") == "purchase") & F.col("ts").isNotNull()
    )
    mx = e.agg(F.max(F.to_date("ts")).alias("today"))
    per_user = (
        e.groupBy("user_id")
        .agg(
            F.max(F.to_date("ts")).alias("last_d"),
            F.count(F.lit(1)).alias("freq"),
            F.coalesce(
                F.sum(F.col("value").cast(DEC)).cast("double"), F.lit(0.0)
            ).alias("monetary"),
        )
        .crossJoin(F.broadcast(mx))
        .select(
            "user_id",
            F.datediff(F.col("today"), F.col("last_d")).cast("long").alias("recency_d"),
            "freq",
            "monetary",
        )
        .transform(cut)  # feeds 3 ranks + the count: one events scan
    )
    n_tot = per_user.agg(F.count(F.lit(1)).alias("__n"))

    def ntile5(rn: F.Column) -> F.Column:
        q = _idiv(F.col("__n"), F.lit(5))
        r = F.col("__n") - q * 5
        split = r * (q + 1)
        return F.when(rn <= split, _idiv(rn - 1, q + 1) + 1).otherwise(
            r + _idiv(rn - split - 1, q) + 1
        )

    seg = per_user
    for c, alias in (("recency_d", "r_q"), ("freq", "f_q"), ("monetary", "m_q")):
        # any monotone bucket of the sort key works (row-identical by
        # bucketed_rank's contract); fixed width is fine for these
        # bounded-skew metrics, equidepth_bucket is the skew escape.
        # Deliberately NO checkpoint between ranks: the buckets are
        # LAZY expressions, so the whole 3-rank chain is one action and
        # Spark reuses each rank's exchanges (probe rfm_chain: uncut
        # 7.8 s vs checkpoint-between 21.7 s at 10M rows). Checkpoint
        # is only owed to inputs of EAGER probes — equidepth_bucket's
        # approxQuantile action — the q_rank_rrf case.
        seg = bucketed_rank(
            seg,
            [],
            F.floor(F.col(c) / 16.0),
            [F.col(c).asc(), F.col("user_id").asc_nulls_last()],
            rank_col=f"__rn_{alias}",
        )
    seg = seg.crossJoin(F.broadcast(n_tot)).select(
        "user_id",
        ntile5(F.col("__rn_r_q")).alias("r_q"),
        ntile5(F.col("__rn_f_q")).alias("f_q"),
        ntile5(F.col("__rn_m_q")).alias("m_q"),
    )
    return seg.groupBy("r_q", "f_q", "m_q").agg(
        F.count(F.lit(1)).alias("n_users")
    )


query(
    "q_events_rfm",
    """
    WITH p AS (
      SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, value FROM events
      WHERE event_type = 'purchase' AND ts IS NOT NULL
    ),
    mx AS (SELECT CAST(max(ts) AS DATE) AS today FROM p),
    per_user AS (
      SELECT user_id,
             CAST(date_diff('day', CAST(max(ts) AS DATE),
                            (SELECT today FROM mx)) AS BIGINT) AS recency_d,
             CAST(COUNT(*) AS BIGINT) AS freq,
             COALESCE(CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE), 0.0)
               AS monetary
      FROM p GROUP BY user_id
    ),
    seg AS (
      SELECT user_id,
             ntile(5) OVER (ORDER BY recency_d ASC, user_id ASC NULLS LAST) AS r_q,
             ntile(5) OVER (ORDER BY freq ASC, user_id ASC NULLS LAST) AS f_q,
             ntile(5) OVER (ORDER BY monetary ASC, user_id ASC NULLS LAST) AS m_q
      FROM per_user
    )
    SELECT r_q, f_q, m_q, CAST(COUNT(*) AS BIGINT) AS n_users
    FROM seg GROUP BY r_q, f_q, m_q
    """,
    tags=("extension", "events", "behavior"),
)(_events_rfm)


# ====================== contrastive negative sampling =================
_NEG_BUCKETS = 8
_NEG_K = 4
_NEG_ANCHORS = 100


def _pipeline_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic hard-negative sampling for contrastive training
    pairs: every document hashes into one of B candidate buckets; each
    anchor probes ONLY its own bucket (bounded |bucket| candidates —
    the LSH-style guard that keeps this linear where anchor×corpus
    would be quadratic), excludes same-source docs, ranks candidates
    by the content-addressed md5(anchor:candidate) draw and keeps the
    top k. md5 ranking makes the sample reproducible on ANY engine —
    the same property as operators/sampling.md5_sample."""
    d = table(spark, sf_dir, "documents").select("doc_id", "source")
    bkt = (
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 4), 16, 10)
        .cast("long")
        % _NEG_BUCKETS
    )
    docs = d.withColumn("bkt", bkt)
    anchors = docs.filter(F.col("doc_id") < _NEG_ANCHORS).select(
        F.col("doc_id").alias("anchor_id"),
        F.col("source").alias("a_src"),
        "bkt",
    )
    cand = docs.select(
        F.col("doc_id").alias("neg_id"), F.col("source").alias("n_src"), "bkt"
    )
    pairs = (
        anchors.join(cand, "bkt")
        .filter((F.col("neg_id") != F.col("anchor_id")) & (F.col("n_src") != F.col("a_src")))
        .withColumn(
            "draw",
            F.substring(
                F.md5(
                    F.concat(
                        F.col("anchor_id").cast("string"),
                        F.lit(":"),
                        F.col("neg_id").cast("string"),
                    )
                ),
                1,
                8,
            ),
        )
    )
    w = Window.partitionBy("anchor_id").orderBy(
        F.col("draw").asc(), F.col("neg_id").asc()
    )
    return (
        pairs.withColumn("rnk", F.row_number().over(w).cast("int"))
        .filter(F.col("rnk") <= _NEG_K)
        .select("anchor_id", "neg_id", "rnk")
    )


query(
    "q_pipeline_negatives",
    f"""
    WITH d AS (
      SELECT doc_id, source,
             CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 4)) AS BIGINT)
               % {_NEG_BUCKETS} AS bkt
      FROM documents
    ),
    pairs AS (
      SELECT a.doc_id AS anchor_id, c.doc_id AS neg_id,
             substr(md5(CAST(a.doc_id AS VARCHAR) || ':' || CAST(c.doc_id AS VARCHAR)),
                    1, 8) AS draw
      FROM d a JOIN d c ON a.bkt = c.bkt
      WHERE a.doc_id < {_NEG_ANCHORS}
        AND c.doc_id <> a.doc_id AND c.source <> a.source
    )
    SELECT anchor_id, neg_id, rnk FROM (
      SELECT anchor_id, neg_id,
             CAST(row_number() OVER (PARTITION BY anchor_id
                  ORDER BY draw ASC, neg_id ASC) AS INT) AS rnk
      FROM pairs
    ) WHERE rnk <= {_NEG_K}
    """,
    tags=("extension", "pipeline", "sampling"),
)(_pipeline_negatives)


# ====================== BFS hop levels ================================
_BFS_SOURCE = 1  # supplier 0's node id in the bipartite encoding
_BFS_DEPTH = 4


def _graph_bfs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BFS hop distances from one node of the part↔supplier
    co-occurrence graph (same bipartite encoding as q_graph_pagerank).
    The oracle walks the same edges with a recursive CTE and takes
    min(lvl) per node — BFS level == shortest unweighted distance, so
    the two formulations must agree exactly."""
    from datafusion_wasm_bindings_spark.operators.graph import bfs_levels

    # an edge needs BOTH endpoints: NULL part/supp keys would inject a
    # NULL node into the node set / frontier (adversarial NULL replay,
    # r5)
    li = table(spark, sf_dir, "lineitem").filter(
        F.col("l_partkey").isNotNull() & F.col("l_suppkey").isNotNull()
    )
    fwd = li.select(
        (F.col("l_partkey") * 2).alias("src"),
        (F.col("l_suppkey") * 2 + 1).alias("dst"),
    )
    rev = li.select(
        (F.col("l_suppkey") * 2 + 1).alias("src"),
        (F.col("l_partkey") * 2).alias("dst"),
    )
    return bfs_levels(fwd.unionByName(rev), _BFS_SOURCE, max_depth=_BFS_DEPTH)


query(
    "q_graph_bfs",
    f"""
    WITH RECURSIVE e AS (
      SELECT DISTINCT l_partkey * 2 AS src, l_suppkey * 2 + 1 AS dst FROM lineitem
      WHERE l_partkey IS NOT NULL AND l_suppkey IS NOT NULL
      UNION
      SELECT DISTINCT l_suppkey * 2 + 1 AS src, l_partkey * 2 AS dst FROM lineitem
      WHERE l_partkey IS NOT NULL AND l_suppkey IS NOT NULL
    ),
    walk(node, lvl) AS (
      SELECT CAST({_BFS_SOURCE} AS BIGINT) AS node, CAST(0 AS BIGINT) AS lvl
      UNION
      SELECT e.dst, w.lvl + 1 FROM walk w JOIN e ON e.src = w.node
      WHERE w.lvl < {_BFS_DEPTH}
    )
    SELECT node, CAST(min(lvl) AS BIGINT) AS lvl FROM walk GROUP BY node
    """,
    tags=("extension", "graph", "scale"),
)(_graph_bfs)


# ====================== spatial radius self-join ======================
_GEO_R_KM = 200.0
_GEO_N = 400  # bounded point set for the oracle's all-pairs proof


def _join_spatial(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spatial radius self-join (all point pairs within 200 km) via
    grid-cell bucketing: points hash to lat/lon cells sized ≥ the
    radius in BOTH axes (2° lat ≈ 222 km; 3° lon ≈ 236 km at the |45°|
    latitude bound), each point probes its 9-cell neighborhood, and an
    exact haversine verifies candidates — a bounded equi-join where
    the naive formulation is a quadratic cross join. The oracle is the
    ALL-PAIRS haversine, so a green row proves the 9-cell candidate
    set has 100% recall (same proof pattern as q_dedup_embedding).
    Coordinates are synthetic hash-derived (lat ∈ [-45,45),
    lon ∈ [-90,90) — away from the antimeridian, where cell ids would
    need modular wrap)."""
    pts = (
        table(spark, sf_dir, "customer")
        .filter(F.col("c_custkey") < _GEO_N)
        .select(
            F.col("c_custkey").alias("id"),
            ((F.col("c_custkey") * 7919 % 9000) / 100.0 - 45.0).alias("lat"),
            ((F.col("c_custkey") * 104729 % 18000) / 100.0 - 90.0).alias("lon"),
        )
        .withColumn("cy", F.floor((F.col("lat") + 45.0) / 2.0).cast("long"))
        .withColumn("cx", F.floor((F.col("lon") + 90.0) / 3.0).cast("long"))
    )
    probe = pts.select(
        "id",
        "lat",
        "lon",
        F.explode(
            F.array(*[F.col("cy") + d for d in (-1, 0, 1)])
        ).alias("py"),
        "cx",
    ).select(
        "id",
        "lat",
        "lon",
        "py",
        F.explode(F.array(*[F.col("cx") + d for d in (-1, 0, 1)])).alias("px"),
    )
    b = pts.select(
        F.col("id").alias("id_b"),
        F.col("lat").alias("lat_b"),
        F.col("lon").alias("lon_b"),
        F.col("cy").alias("py"),
        F.col("cx").alias("px"),
    )
    cand = probe.join(b, ["py", "px"]).filter(F.col("id") < F.col("id_b"))
    dlat = F.radians(F.col("lat_b") - F.col("lat")) / 2
    dlon = F.radians(F.col("lon_b") - F.col("lon")) / 2
    h = (
        F.sin(dlat) * F.sin(dlat)
        + F.cos(F.radians("lat")) * F.cos(F.radians("lat_b")) * F.sin(dlon) * F.sin(dlon)
    )
    dist = 2 * 6371.0 * F.asin(F.sqrt(h))
    return (
        cand.withColumn("dist_km", dist)
        .filter(F.col("dist_km") <= _GEO_R_KM)
        .select(
            F.col("id").alias("id_a"), "id_b", F.round("dist_km", 6).alias("dist_km")
        )
    )


query(
    "q_join_spatial",
    f"""
    WITH pts AS (
      SELECT c_custkey AS id,
             (c_custkey * 7919 % 9000) / 100.0 - 45.0 AS lat,
             (c_custkey * 104729 % 18000) / 100.0 - 90.0 AS lon
      FROM customer WHERE c_custkey < {_GEO_N}
    ),
    pairs AS (
      SELECT a.id AS id_a, b.id AS id_b,
             2 * 6371.0 * asin(sqrt(
               sin(radians(b.lat - a.lat) / 2) * sin(radians(b.lat - a.lat) / 2)
               + cos(radians(a.lat)) * cos(radians(b.lat))
                 * sin(radians(b.lon - a.lon) / 2) * sin(radians(b.lon - a.lon) / 2)
             )) AS dist_km
      FROM pts a JOIN pts b ON a.id < b.id
    )
    SELECT id_a, id_b, round(dist_km, 6) AS dist_km
    FROM pairs WHERE dist_km <= {_GEO_R_KM}
    """,
    tags=("extension", "join", "spatial"),
)(_join_spatial)


# ====================== multimodal payload dedup ======================
def _multimodal_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup of opaque MEDIA payloads by content hash — the
    binary-column twin of q_dedup_exact (same md5 pre-hash rule: the
    fixed-width digest shuffles, the payload bytes never do — at 100 TB
    of media that difference is the whole game). Payload bytes are the
    synthesized media column (operators/multimodal.synthesize_media);
    the oracle hashes the same bytes as text (the documents fixture is
    pure ASCII at every SF — the equivalence q_multimodal_features
    already relies on)."""
    from datafusion_wasm_bindings_spark.operators.multimodal import synthesize_media

    media = synthesize_media(table(spark, sf_dir, "documents"))
    per_key = (
        media.select(F.md5(F.col("media")).alias("key"))
        .groupBy("key")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    return per_key.agg(
        F.count(F.lit(1)).alias("n_payloads"),
        F.sum("n").alias("n_media"),
        F.sum(F.col("n") - 1).alias("n_dupes"),
    )


query(
    "q_multimodal_dedup",
    """
    -- md5 over the '?'-sanitized payload text (see synthesize_media;
    -- adversarial extremes replay, r6)
    WITH per_key AS (
      SELECT md5(regexp_replace(text, '[^\\x00-\\x7F]', '?', 'g')) AS key,
             COUNT(*) AS n
      FROM documents
      GROUP BY 1
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_payloads,
           CAST(SUM(n) AS BIGINT) AS n_media,
           CAST(SUM(n - 1) AS BIGINT) AS n_dupes
    FROM per_key
    """,
    tags=("extension", "multimodal", "dedup"),
)(_multimodal_dedup)


# ====================== EWMA smoothing feature ========================
_EWMA_ALPHA = 0.5
_EWMA_TAPS = 5


def _events_ewma(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user exponentially-weighted moving average of event values —
    the time-decay feature behind engagement scores and trend signals.
    True infinite-history EWMA is a sequential recurrence (not window-
    expressible without exploding scale factors); the standard
    distributed form is the truncated k-tap filter: 5 lag() terms with
    α(1-α)^i weights, renormalized over the taps that exist at the
    series head. One user_id shuffle; every tap reads the same sorted
    partition. The weighted sum is a FIXED left-associated expression
    tree of IEEE ops — bit-identical on any engine, no decimal detour
    needed."""
    e = table(spark, sf_dir, "events").select(
        "user_id", "event_id", "ts", "value"
    )
    # explicit NULLS LAST (engine defaults differ) and a den>0 guard:
    # a row whose 5-tap window holds only NULL values has den = 0, and
    # ANSI double division throws on /0 — EWMA is NULL there
    # (adversarial NULL replay, r5). The final `value` key makes the
    # ordering TOTAL for lag-feed purposes: rows NULL in both ts and
    # event_id would otherwise sit in engine-unspecified relative order
    # among their NULL peers yet still feed later rows' 5-tap windows
    # (ADVICE r5); rows identical in all three keys are interchangeable
    # lag(value) feeds, so any residual tie is output-invariant.
    w = Window.partitionBy("user_id").orderBy(
        F.col("ts").asc_nulls_last(),
        F.col("event_id").asc_nulls_last(),
        F.col("value").asc_nulls_last(),
    )
    num = F.lit(0.0)
    den = F.lit(0.0)
    for i in range(_EWMA_TAPS):
        wt = _EWMA_ALPHA * (1 - _EWMA_ALPHA) ** i
        x = F.lag("value", i).over(w)
        num = num + F.when(x.isNotNull(), F.lit(wt) * x).otherwise(F.lit(0.0))
        den = den + F.when(x.isNotNull(), F.lit(wt)).otherwise(F.lit(0.0))
    return (
        e.withColumn("ewma", F.when(den > 0, num / den))
        .filter(F.col("event_id") < 2000)
        .select("user_id", "event_id", F.round("ewma", 6).alias("ewma"))
    )


def _ewma_oracle() -> str:
    num, den = "0.0", "0.0"
    for i in range(_EWMA_TAPS):
        wt = repr(_EWMA_ALPHA * (1 - _EWMA_ALPHA) ** i)
        x = f"lag(value, {i}) OVER w"
        num += f" + CASE WHEN {x} IS NOT NULL THEN {wt} * ({x}) ELSE 0.0 END"
        den += f" + CASE WHEN {x} IS NOT NULL THEN {wt} ELSE 0.0 END"
    # the id filter sits OUTSIDE the window subquery: SQL's WHERE runs
    # before window functions, which would drop NULL-id rows from the
    # lag series the Spark side (filter after withColumn) still sees
    return f"""
    SELECT user_id, event_id, ewma FROM (
      SELECT user_id, event_id,
             CASE WHEN ({den}) > 0
                  THEN round(({num}) / ({den}), 6) END AS ewma
      FROM events
      WINDOW w AS (PARTITION BY user_id
                   ORDER BY CAST(ts AS TIMESTAMP) ASC NULLS LAST,
                            event_id ASC NULLS LAST,
                            value ASC NULLS LAST)
    ) WHERE event_id < 2000
    """


query(
    "q_events_ewma",
    _ewma_oracle(),
    tags=("extension", "events", "features"),
)(_events_ewma)


# ====================== corpus curation funnel ========================
_CURATE_Q = 0.5


def _pipeline_curation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The end-to-end corpus CURATION funnel — the composed north-star
    verb: quality gate (composite heuristic score, operators/text.
    quality_scores) → language gate → exact dedup (md5 first
    occurrence), reporting surviving docs and chars after every stage.
    All gates evaluate in one pass over documents plus one fixed-width
    dedup window; stage counts stack in a single union of four lean
    aggregates. Threshold compares the ROUNDED 6-dp score (bit-
    identical cross-engine), so the gate cannot flip on a ulp."""
    from datafusion_wasm_bindings_spark.operators.text import quality_scores

    d = table(spark, sf_dir, "documents").select(
        "doc_id", "lang", "n_chars", F.md5(F.col("text")).alias("key")
    )
    q = quality_scores(table(spark, sf_dir, "documents")).select("doc_id", "quality")
    s1 = d.join(q, "doc_id").filter(F.col("quality") >= _CURATE_Q)
    s2 = s1.filter(F.col("lang") == "en")
    w = Window.partitionBy("key").orderBy(F.col("doc_id").asc())
    s3 = s2.withColumn("rn", F.row_number().over(w)).filter(F.col("rn") == 1)

    def stage(df: DataFrame, i: int, name: str) -> DataFrame:
        return df.agg(
            F.lit(i).cast("int").alias("stage"),
            F.lit(name).alias("name"),
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").alias("total_chars"),
        )

    return (
        stage(d, 0, "all")
        .unionByName(stage(s1, 1, "quality"))
        .unionByName(stage(s2, 2, "lang_en"))
        .unionByName(stage(s3, 3, "dedup"))
    )


def _pipeline_curation_oracle() -> str:
    from datafusion_wasm_bindings_spark.queries import QUERIES

    quality_sql = QUERIES["q_text_quality"].oracle
    return f"""
    WITH q AS ({quality_sql}),
    d AS (SELECT doc_id, lang, n_chars, md5(text) AS key FROM documents),
    s1 AS (SELECT d.* FROM d JOIN q USING (doc_id) WHERE q.quality >= {_CURATE_Q}),
    s2 AS (SELECT * FROM s1 WHERE lang = 'en'),
    s3 AS (SELECT * FROM (
             SELECT *, row_number() OVER (PARTITION BY key ORDER BY doc_id ASC) AS rn
             FROM s2) WHERE rn = 1)
    SELECT 0 AS stage, 'all' AS name, CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_chars) AS BIGINT) AS total_chars FROM d
    UNION ALL
    SELECT 1, 'quality', CAST(COUNT(*) AS BIGINT), CAST(SUM(n_chars) AS BIGINT) FROM s1
    UNION ALL
    SELECT 2, 'lang_en', CAST(COUNT(*) AS BIGINT), CAST(SUM(n_chars) AS BIGINT) FROM s2
    UNION ALL
    SELECT 3, 'dedup', CAST(COUNT(*) AS BIGINT), CAST(SUM(n_chars) AS BIGINT) FROM s3
    """


query(
    "q_pipeline_curation",
    _pipeline_curation_oracle(),
    tags=("extension", "pipeline", "text", "dedup"),
)(_pipeline_curation)


# ====================== k-anonymity audit =============================
_KANON_K = 5


def _profile_kanon(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-anonymity audit over a quasi-identifier tuple (nation ×
    market segment × coarse balance band): any QI group smaller than k
    re-identifies its members; report the groups and rows at risk and
    the suppression rate a k-anonymizer would pay. One groupBy on the
    QI tuple + one lean aggregate — the governance twin of
    q_profile_skew."""
    qi = table(spark, sf_dir, "customer").select(
        "c_nationkey",
        "c_mktsegment",
        F.floor(F.col("c_acctbal") / 1000).cast("long").alias("bal_band"),
    )
    groups = qi.groupBy("c_nationkey", "c_mktsegment", "bal_band").agg(
        F.count(F.lit(1)).alias("n")
    )
    return groups.agg(
        F.count(F.lit(1)).alias("n_groups"),
        F.sum("n").alias("n_rows"),
        F.sum((F.col("n") < _KANON_K).cast("long")).alias("groups_at_risk"),
        F.sum(F.when(F.col("n") < _KANON_K, F.col("n")).otherwise(0)).alias(
            "rows_at_risk"
        ),
        (
            F.sum(F.when(F.col("n") < _KANON_K, F.col("n")).otherwise(0))
            / F.sum("n")
        ).alias("suppression_rate"),
    )


query(
    "q_profile_kanon",
    f"""
    WITH g AS (
      SELECT c_nationkey, c_mktsegment,
             CAST(floor(c_acctbal / 1000) AS BIGINT) AS bal_band,
             COUNT(*) AS n
      FROM customer GROUP BY 1, 2, 3
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_groups,
           CAST(SUM(n) AS BIGINT) AS n_rows,
           CAST(SUM(CASE WHEN n < {_KANON_K} THEN 1 ELSE 0 END) AS BIGINT) AS groups_at_risk,
           CAST(SUM(CASE WHEN n < {_KANON_K} THEN n ELSE 0 END) AS BIGINT) AS rows_at_risk,
           CAST(SUM(CASE WHEN n < {_KANON_K} THEN n ELSE 0 END) AS DOUBLE)
             / CAST(SUM(n) AS DOUBLE) AS suppression_rate
    FROM g
    """,
    tags=("extension", "profiling", "governance"),
)(_profile_kanon)


# ====================== deletion propagation ==========================
def _pipeline_forget(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Right-to-be-forgotten propagation: given a deletion list of
    users, purge their events via LEFT ANTI join and PROVE the purge
    (zero surviving rows for listed users — verified in the same
    result, not assumed). The deletion list is ≪ the fact table but
    O(|users|) in the worst case, so it carries NO broadcast hint
    (r5 (d)): AQE broadcasts it while it fits — the map-side
    anti-join shape — and degrades to a shuffled anti join when a
    billion-user delete list exceeds the ceiling, instead of dying."""
    e = table(spark, sf_dir, "events")
    dl = (
        e.select("user_id")
        .distinct()
        .filter(F.col("user_id") % 7 == 0)
    )
    kept = e.join(dl, "user_id", "left_anti")
    return (
        e.agg(F.count(F.lit(1)).alias("n_before"))
        .crossJoin(kept.agg(F.count(F.lit(1)).alias("n_after")))
        .crossJoin(
            kept.join(dl, "user_id", "left_semi")
            .agg(F.count(F.lit(1)).alias("n_leaked"))
        )
        .select(
            "n_before",
            "n_after",
            (F.col("n_before") - F.col("n_after")).alias("n_purged"),
            "n_leaked",
        )
    )


query(
    "q_pipeline_forget",
    """
    WITH dl AS (SELECT DISTINCT user_id FROM events WHERE user_id % 7 = 0),
    kept AS (SELECT e.* FROM events e LEFT JOIN dl ON e.user_id = dl.user_id
             WHERE dl.user_id IS NULL)
    SELECT CAST((SELECT COUNT(*) FROM events) AS BIGINT) AS n_before,
           CAST((SELECT COUNT(*) FROM kept) AS BIGINT) AS n_after,
           CAST((SELECT COUNT(*) FROM events) AS BIGINT)
             - CAST((SELECT COUNT(*) FROM kept) AS BIGINT) AS n_purged,
           CAST((SELECT COUNT(*) FROM kept k JOIN dl ON k.user_id = dl.user_id)
                AS BIGINT) AS n_leaked
    """,
    tags=("extension", "pipeline", "governance"),
)(_pipeline_forget)


# ====================== co-occurrence mining (market basket) ==========
_MB_TOPK = 25


def _pipeline_itemsets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise frequent-itemset mining with lift — association rules
    over the order/part basket graph. The pair join is keyed on the
    BASKET id, so fan-out is bounded by per-basket item count (≤ C(7,2)
    pairs per TPC-H order), never by catalog size — the property that
    keeps pairwise mining linear-ish at 100 TB where an item-keyed
    self-join would square the hot items. Lift divides exact int64
    counts as doubles (bit-identical); top-k via TakeOrdered, then
    positions from a k-row window (q_graph_pagerank's top-k pattern)."""
    # a basket needs an id and an item: NULL keys would count as a
    # phantom basket in distinct().count() (DuckDB's COUNT(DISTINCT)
    # skips NULL — measured 1-basket lift drift) — adversarial NULL
    # replay, r5
    items = (
        table(spark, sf_dir, "lineitem")
        .filter(F.col("l_orderkey").isNotNull() & F.col("l_partkey").isNotNull())
        .select("l_orderkey", "l_partkey")
        .distinct()
    )
    n_orders = items.select("l_orderkey").distinct().count()  # one scalar
    marg = items.groupBy("l_partkey").agg(F.count(F.lit(1)).alias("m"))
    a = items.alias("a")
    b = items.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
            & (F.col("a.l_partkey") < F.col("b.l_partkey")),
        )
        .groupBy(
            F.col("a.l_partkey").alias("pa"), F.col("b.l_partkey").alias("pb")
        )
        .agg(F.count(F.lit(1)).alias("n_ab"))
    )
    enriched = (
        # marg is O(|distinct items|) — unbounded at catalog scale, so
        # no broadcast hint (r5 (d)); AQE chooses per runtime size
        pairs.join(marg.withColumnRenamed("l_partkey", "pa").withColumnRenamed("m", "m_a"), "pa")
        .join(marg.withColumnRenamed("l_partkey", "pb").withColumnRenamed("m", "m_b"), "pb")
        .select(
            "pa",
            "pb",
            "n_ab",
            F.round((F.col("n_ab") * F.lit(n_orders)) / (F.col("m_a") * F.col("m_b")), 6).alias("lift"),
        )
    )
    top = enriched.orderBy(
        F.col("n_ab").desc(), F.col("pa").asc(), F.col("pb").asc()
    ).limit(_MB_TOPK)
    w = Window.orderBy(F.col("n_ab").desc(), F.col("pa").asc(), F.col("pb").asc())
    return top.withColumn("rn", F.row_number().over(w).cast("int")).select(
        "rn", "pa", "pb", "n_ab", "lift"
    )


query(
    "q_pipeline_itemsets",
    f"""
    WITH items AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
                   WHERE l_orderkey IS NOT NULL AND l_partkey IS NOT NULL),
    n_orders AS (SELECT CAST(COUNT(DISTINCT l_orderkey) AS BIGINT) AS n FROM items),
    marg AS (SELECT l_partkey, CAST(COUNT(*) AS BIGINT) AS m FROM items GROUP BY 1),
    pairs AS (
      SELECT a.l_partkey AS pa, b.l_partkey AS pb, CAST(COUNT(*) AS BIGINT) AS n_ab
      FROM items a JOIN items b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
      GROUP BY 1, 2
    ),
    top AS (
      SELECT pa, pb, n_ab,
             CAST(row_number() OVER (ORDER BY n_ab DESC, pa ASC, pb ASC) AS INT) AS rn
      FROM pairs
    )
    SELECT t.rn, t.pa, t.pb, t.n_ab,
           round(CAST(t.n_ab * n_orders.n AS DOUBLE)
                 / CAST(ma.m * mb.m AS DOUBLE), 6) AS lift
    FROM top t
    JOIN marg ma ON ma.l_partkey = t.pa
    JOIN marg mb ON mb.l_partkey = t.pb
    CROSS JOIN n_orders
    WHERE t.rn <= {_MB_TOPK}
    """,
    tags=("extension", "pipeline", "behavior"),
)(_pipeline_itemsets)


# ====================== population-stability drift ====================
_PSI_BINS = 10


def _profile_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Population Stability Index between the first and second half of
    the event stream (the standard production drift monitor): fixed
    equi-width bins over the value domain, per-half bin shares, PSI =
    Σ (p−q)·ln(p/q) with the ε-floor for empty bins. Two lean
    aggregates over one scan + a |bins|-row join; the PSI sum runs
    through the decimal recipe after per-bin quantization, and ln's
    libm ulp is absorbed by rounding each bin term to 9 dp before the
    exact sum."""
    e = table(spark, sf_dir, "events").select("event_id", "value")
    mid = e.agg(
        F.expr("percentile(event_id, 0.5)").alias("mid"),
        F.min("value").alias("lo"),
        F.max("value").alias("hi"),
    )
    binned = e.crossJoin(F.broadcast(mid)).select(
        (F.col("event_id") <= F.col("mid")).alias("first_half"),
        F.least(
            F.lit(_PSI_BINS - 1),
            F.floor(
                (F.col("value") - F.col("lo"))
                / ((F.col("hi") - F.col("lo")) / _PSI_BINS)
            ),
        )
        .cast("int")
        .alias("bin"),
    )
    counts = binned.groupBy("bin").agg(
        F.sum(F.col("first_half").cast("long")).alias("n_p"),
        F.sum((~F.col("first_half")).cast("long")).alias("n_q"),
    )
    tot = counts.agg(
        F.sum("n_p").alias("tp"), F.sum("n_q").alias("tq")
    )
    eps = F.lit(1e-6)
    term = (
        counts.crossJoin(F.broadcast(tot))
        .select(
            "bin",
            "n_p",
            "n_q",
            F.round(
                (
                    (F.greatest(F.col("n_p") / F.col("tp"), eps))
                    - (F.greatest(F.col("n_q") / F.col("tq"), eps))
                )
                * F.log(
                    F.greatest(F.col("n_p") / F.col("tp"), eps)
                    / F.greatest(F.col("n_q") / F.col("tq"), eps)
                ),
                9,
            ).alias("t"),
        )
    )
    return term.agg(
        F.count(F.lit(1)).alias("n_bins"),
        F.sum("n_p").alias("n_first"),
        F.sum("n_q").alias("n_second"),
        F.sum(F.col("t").cast("decimal(18,9)")).cast("double").alias("psi"),
    )


query(
    "q_profile_drift",
    f"""
    WITH m AS (
      SELECT quantile_cont(event_id, 0.5) AS mid, min(value) AS lo, max(value) AS hi
      FROM events
    ),
    b AS (
      SELECT event_id <= m.mid AS first_half,
             CAST(least({_PSI_BINS - 1},
                  floor((value - m.lo) / ((m.hi - m.lo) / {_PSI_BINS}))) AS INT) AS bin
      FROM events CROSS JOIN m
    ),
    counts AS (
      SELECT bin,
             CAST(SUM(CASE WHEN first_half THEN 1 ELSE 0 END) AS BIGINT) AS n_p,
             -- NOT first_half, never ELSE-1: a NULL event_id belongs
             -- to NEITHER half (adversarial NULL replay, r5)
             CAST(SUM(CASE WHEN NOT first_half THEN 1 ELSE 0 END) AS BIGINT) AS n_q
      FROM b GROUP BY bin
    ),
    tot AS (SELECT CAST(SUM(n_p) AS BIGINT) AS tp, CAST(SUM(n_q) AS BIGINT) AS tq FROM counts),
    term AS (
      SELECT bin, n_p, n_q,
             round((greatest(CAST(n_p AS DOUBLE) / tp, 1e-6)
                    - greatest(CAST(n_q AS DOUBLE) / tq, 1e-6))
                   * ln(greatest(CAST(n_p AS DOUBLE) / tp, 1e-6)
                        / greatest(CAST(n_q AS DOUBLE) / tq, 1e-6)), 9) AS t
      FROM counts CROSS JOIN tot
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_bins,
           CAST(SUM(n_p) AS BIGINT) AS n_first,
           CAST(SUM(n_q) AS BIGINT) AS n_second,
           CAST(SUM(CAST(t AS DECIMAL(18,9))) AS DOUBLE) AS psi
    FROM term
    """,
    tags=("extension", "profiling", "stats"),
)(_profile_drift)


# ====================== seasonal-naive forecast backtest ==============
def _events_forecast_backtest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seasonal-naive forecasting baseline with a walk-forward
    backtest: forecast(day, type) = actual(day−7, type), scored by
    MAPE per event type over every day with a full week of history —
    the benchmark every real forecasting model must beat, and the
    backtest harness shape (lag feature + holdout eval) is the same
    one a learned model would plug into. One shuffle to daily counts
    (map-side combinable), then a lag window over the tiny
    (day × type) table; MAPE terms are rounded to 9 dp before the
    exact decimal mean."""
    # a day series needs a date: NULL-ts rows would form a NULL "day"
    # whose lag-window position differs per engine (adversarial NULL
    # replay, r5)
    daily = (
        table(spark, sf_dir, "events")
        .filter(F.col("ts").isNotNull())
        .groupBy(F.to_date("ts").alias("d"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    w = Window.partitionBy("event_type").orderBy(F.col("d").asc())
    scored = (
        daily.withColumn("fc", F.lag("n", 7).over(w))
        .filter(F.col("fc").isNotNull())
        .withColumn(
            "ape", F.round(F.abs(F.col("n") - F.col("fc")) / F.col("n"), 9)
        )
    )
    return scored.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_days"),
        F.sum(F.abs(F.col("n") - F.col("fc"))).alias("abs_err_total"),
        (
            F.sum(F.col("ape").cast("decimal(18,9)")).cast("double")
            / F.count(F.lit(1))
        ).alias("mape"),
    )


query(
    "q_events_forecast_backtest",
    """
    WITH daily AS (
      SELECT CAST(ts AS DATE) AS d, event_type, CAST(COUNT(*) AS BIGINT) AS n
      FROM events WHERE ts IS NOT NULL GROUP BY 1, 2
    ),
    scored AS (
      SELECT event_type, n,
             lag(n, 7) OVER (PARTITION BY event_type ORDER BY d ASC) AS fc
      FROM daily
    )
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n_days,
           CAST(SUM(abs(n - fc)) AS BIGINT) AS abs_err_total,
           CAST(SUM(CAST(round(abs(n - fc) * 1.0 / n, 9) AS DECIMAL(18,9))) AS DOUBLE)
             / COUNT(*) AS mape
    FROM scored WHERE fc IS NOT NULL
    GROUP BY event_type
    """,
    tags=("extension", "events", "stats"),
)(_events_forecast_backtest)


# ====================== interval-overlap join =========================
_OVL_A_US = 600_000_000     # 10-minute activity intervals
_OVL_B_US = 1_800_000_000   # 30-minute maintenance windows
_OVL_BKT_US = 1_800_000_000


def _join_interval_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INTERVAL×INTERVAL overlap join (both sides are spans — distinct
    from the point-in-interval q_join_range): activity intervals ×
    maintenance windows that intersect. Both sides explode to the time
    buckets they cover (bucket ≥ either side's max length bounds the
    fan-out), candidates pair on bucket equality, duplicates from
    multi-bucket overlaps collapse with DISTINCT, and the exact
    predicate a.s < b.e AND b.s < a.e verifies. The oracle is the
    all-pairs inequality join — a green row proves bucket recall."""
    e = table(spark, sf_dir, "events").select(
        "event_id", "user_id", F.unix_micros("ts").alias("s")
    )
    a = (
        e.filter(F.col("event_id") % 5 == 0)
        .select(
            F.col("event_id").alias("a_id"),
            F.col("s").alias("a_s"),
            (F.col("s") + F.lit(_OVL_A_US)).alias("a_e"),
        )
    )
    b = (
        e.filter(F.col("event_id") % 97 == 0)
        .select(
            F.col("event_id").alias("b_id"),
            F.col("s").alias("b_s"),
            (F.col("s") + F.lit(_OVL_B_US)).alias("b_e"),
        )
    )

    def bucketed(df: DataFrame, s: str, e_: str) -> DataFrame:
        return df.withColumn(
            "bkt",
            F.explode(
                F.sequence(
                    F.floor(F.col(s) / _OVL_BKT_US).cast("long"),
                    F.floor((F.col(e_) - 1) / _OVL_BKT_US).cast("long"),
                )
            ),
        )

    cand = bucketed(a, "a_s", "a_e").join(bucketed(b, "b_s", "b_e"), "bkt")
    hits = (
        cand.filter((F.col("a_s") < F.col("b_e")) & (F.col("b_s") < F.col("a_e")))
        .select("a_id", "b_id", "a_s", "a_e", "b_s", "b_e")
        .distinct()
    )
    return hits.select(
        "a_id",
        "b_id",
        (
            F.least(F.col("a_e"), F.col("b_e"))
            - F.greatest(F.col("a_s"), F.col("b_s"))
        ).alias("overlap_us"),
    )


query(
    "q_join_interval_overlap",
    f"""
    WITH e AS (
      SELECT event_id, epoch_us(CAST(ts AS TIMESTAMP)) AS s FROM events
    ),
    a AS (SELECT event_id AS a_id, s AS a_s, s + {_OVL_A_US} AS a_e
          FROM e WHERE event_id % 5 = 0),
    b AS (SELECT event_id AS b_id, s AS b_s, s + {_OVL_B_US} AS b_e
          FROM e WHERE event_id % 97 = 0)
    SELECT a_id, b_id,
           least(a_e, b_e) - greatest(a_s, b_s) AS overlap_us
    FROM a JOIN b ON a_s < b_e AND b_s < a_e
    """,
    tags=("extension", "join", "events"),
)(_join_interval_overlap)


# ====================== class-balanced downsampling ===================
def _sample_balanced(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Class-rebalancing downsample: every language class keeps exactly
    min-class-count docs, chosen by the content-addressed md5 rank
    (reproducible on any engine, no RNG) — the standard pre-training
    rebalance before loss weighting exists.

    Scale shape (r4): the keep-count k is data-dependent, so Spark's
    rank-limit pushdown cannot bound a per-class window — and with ~10
    language classes a `PARTITION BY lang` window over the corpus is
    one sequential task per class at 100 TB. The rank therefore runs
    through operators/scale.bucketed_rank: the first two hex chars of
    the md5 draw are a MONOTONE prefix of the sort key, giving 256
    uniform buckets per class — per-(class, bucket) windows stay
    parallel and bounded, and the broadcast bucket offsets lift them to
    the exact per-class rank (row-identical to the naive window)."""
    from datafusion_wasm_bindings_spark.operators.scale import bucketed_rank

    d = table(spark, sf_dir, "documents").select(
        "doc_id",
        "lang",
        F.md5(F.concat(F.col("doc_id").cast("string"), F.lit(":bal"))).alias("draw"),
    )
    floor_n = d.groupBy("lang").agg(F.count(F.lit(1)).alias("n")).agg(
        F.min("n").alias("k")
    )
    ranked = bucketed_rank(
        d,
        ["lang"],
        F.conv(F.substring("draw", 1, 2), 16, 10),
        [F.col("draw").asc(), F.col("doc_id").asc()],
    ).crossJoin(F.broadcast(floor_n))
    kept = ranked.filter(F.col("rn") <= F.col("k"))
    return kept.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_kept"),
        F.min("rn").cast("long").alias("rn_min"),
        F.max("rn").cast("long").alias("rn_max"),
    )


query(
    "q_sample_balanced",
    """
    WITH d AS (SELECT doc_id, lang FROM documents),
    k AS (SELECT CAST(min(n) AS BIGINT) AS k
          FROM (SELECT lang, COUNT(*) AS n FROM d GROUP BY lang)),
    ranked AS (
      SELECT lang, doc_id,
             row_number() OVER (PARTITION BY lang
                 ORDER BY md5(CAST(doc_id AS VARCHAR) || ':bal') ASC,
                          doc_id ASC) AS rn
      FROM d
    )
    SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_kept,
           CAST(MIN(rn) AS BIGINT) AS rn_min,
           CAST(MAX(rn) AS BIGINT) AS rn_max
    FROM ranked CROSS JOIN k WHERE rn <= k.k
    GROUP BY lang
    """,
    tags=("extension", "sampling", "pipeline"),
)(_sample_balanced)
