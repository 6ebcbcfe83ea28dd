"""Eleventh-wave extension queries: classic business-analytics verbs —
five-number boxplot profiles with IQR outlier counts, year-over-year
growth, Pareto/ABC concentration classes, and cohort-LTV curves.

Like the earlier waves these are statements the reference engine
(datafusion-wasm-bindings executes arbitrary SQL through DataFusion,
`/root/reference/src/lib.rs` execute_sql) could run textually; each is
registered with a Spark-first physical shape chosen to survive 1000
executors — the scale notes live on each query.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from datafusion_wasm_bindings_spark.operators.checkpoint import cut
from datafusion_wasm_bindings_spark.queries import query
from datafusion_wasm_bindings_spark.queries._util import DEC, dsum
from datafusion_wasm_bindings_spark.sources.catalog import table


# ================= five-number boxplot + IQR outliers =================
def _profile_boxplot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event-type five-number summary (min/Q1/median/Q3/max) plus
    the Tukey 1.5×IQR outlier count — the profiling verb behind every
    box-and-whisker dashboard and robust-range data check.

    Scale shape: one grouped exact-percentile aggregate per type (same
    engine pairing as the green q_fn_median); the category-sized
    summary broadcasts back for the outlier-count second pass, which
    reuses the event_type clustering. Quantiles of 2-decimal fixture
    values interpolate to ≤4 decimals — exact under the DECIMAL(18,6)
    quantization on both engines. The Tukey fences compare against the
    QUANTIZED quartiles (not the raw percentile outputs) so a value
    landing exactly on a fence cannot flip n_outliers across engines
    (engines' percentile interpolation is not bit-identical)."""
    e = table(spark, sf_dir, "events").select("event_type", "value")
    summ = e.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.min("value").alias("vmin"),
        F.percentile(F.col("value"), F.lit(0.25)).cast(DEC).cast("double").alias("q1"),
        F.percentile(F.col("value"), F.lit(0.5)).alias("med"),
        F.percentile(F.col("value"), F.lit(0.75)).cast(DEC).cast("double").alias("q3"),
        F.max("value").alias("vmax"),
    )
    out = (
        e.join(F.broadcast(summ.select("event_type", "q1", "q3")), "event_type")
        .filter(
            (F.col("value") < F.col("q1") - 1.5 * (F.col("q3") - F.col("q1")))
            | (F.col("value") > F.col("q3") + 1.5 * (F.col("q3") - F.col("q1")))
        )
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).cast("long").alias("n_outliers"))
    )
    q = lambda c, a: c.cast(DEC).cast("double").alias(a)  # noqa: E731
    return (
        summ.join(out, "event_type", "left")
        .select(
            "event_type",
            "n",
            q(F.col("vmin"), "vmin"),
            q(F.col("q1"), "q1"),
            q(F.col("med"), "med"),
            q(F.col("q3"), "q3"),
            q(F.col("vmax"), "vmax"),
            F.coalesce("n_outliers", F.lit(0)).cast("long").alias("n_outliers"),
        )
    )


query(
    "q_profile_boxplot",
    """
    WITH summ AS (
      SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
             MIN(value) AS vmin,
             CAST(CAST(quantile_cont(value, 0.25) AS DECIMAL(18,6)) AS DOUBLE) AS q1,
             quantile_cont(value, 0.5) AS med,
             CAST(CAST(quantile_cont(value, 0.75) AS DECIMAL(18,6)) AS DOUBLE) AS q3,
             MAX(value) AS vmax
      FROM events GROUP BY event_type
    ),
    outl AS (
      SELECT e.event_type, CAST(COUNT(*) AS BIGINT) AS n_outliers
      FROM events e JOIN summ s USING (event_type)
      WHERE e.value < s.q1 - 1.5 * (s.q3 - s.q1)
         OR e.value > s.q3 + 1.5 * (s.q3 - s.q1)
      GROUP BY e.event_type
    )
    SELECT s.event_type, s.n,
           CAST(CAST(vmin AS DECIMAL(18,6)) AS DOUBLE) AS vmin,
           CAST(CAST(q1 AS DECIMAL(18,6)) AS DOUBLE) AS q1,
           CAST(CAST(med AS DECIMAL(18,6)) AS DOUBLE) AS med,
           CAST(CAST(q3 AS DECIMAL(18,6)) AS DOUBLE) AS q3,
           CAST(CAST(vmax AS DECIMAL(18,6)) AS DOUBLE) AS vmax,
           CAST(COALESCE(o.n_outliers, 0) AS BIGINT) AS n_outliers
    FROM summ s LEFT JOIN outl o USING (event_type)
    """,
    tags=("extension", "profiling", "stats", "cleaning"),
)(_profile_boxplot)


# ================= year-over-year growth ==============================
def _sales_yoy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Year-over-year revenue growth per customer nation — the KPI
    verb every periodic business review runs. Revenue is the exact
    decimal sum; the YoY ratio is raw double division of identical
    sums (pitfall h).

    Scale shape: orders⋈customer on the natural key, ONE combinable
    shuffle to the |nations|×|years| table; the lag window runs on
    that tiny relation, partitioned by nation."""
    o = table(spark, sf_dir, "orders").select(
        "o_custkey", F.year("o_orderdate").cast("long").alias("o_year"), "o_totalprice"
    )
    c = table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    g = (
        o.join(c, o.o_custkey == c.c_custkey)
        .groupBy("c_nationkey", "o_year")
        .agg(dsum(F.col("o_totalprice"), "revenue"))
    )
    # NULLS LAST explicitly: Spark ASC defaults NULLS FIRST (a NULL
    # year would become 1994's lag-predecessor), DuckDB ASC NULLS LAST
    # (adversarial NULL replay, r5)
    w = Window.partitionBy("c_nationkey").orderBy(F.col("o_year").asc_nulls_last())
    prev = F.lag("revenue").over(w)
    return g.select(
        "c_nationkey",
        "o_year",
        "revenue",
        prev.alias("prev_revenue"),
        # try_divide: a hostile year's revenue can sum to EXACTLY zero
        # (r9 composed skew+extremes campaign — zero o_totalprice mass)
        # and Spark ANSI division aborts where DuckDB's / is NULL; NULL
        # propagates through "- 1.0" identically on both sides (r6
        # extremes convention a)
        F.when(
            prev.isNotNull(), F.try_divide(F.col("revenue"), prev) - 1.0
        ).alias("yoy_growth"),
    )


query(
    "q_sales_yoy",
    """
    WITH g AS (
      SELECT c_nationkey, CAST(year(o_orderdate) AS BIGINT) AS o_year,
             CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE) AS revenue
      FROM orders JOIN customer ON o_custkey = c_custkey
      GROUP BY 1, 2
    )
    SELECT c_nationkey, o_year, revenue,
           lag(revenue) OVER (PARTITION BY c_nationkey ORDER BY o_year NULLS LAST)
             AS prev_revenue,
           CASE WHEN lag(revenue) OVER (PARTITION BY c_nationkey
                                        ORDER BY o_year NULLS LAST)
                     IS NOT NULL
                THEN revenue / lag(revenue) OVER (PARTITION BY c_nationkey
                       ORDER BY o_year NULLS LAST) - 1.0 END AS yoy_growth
    FROM g
    """,
    tags=("extension", "behavior", "window", "stats"),
)(_sales_yoy)


# ================= Pareto / ABC concentration =========================
def _sales_pareto(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pareto/ABC analysis per nation: how many customers carry the
    first 50% (class A) and next 30% (class B) of revenue — the
    concentration verb behind every '80/20' review and inventory ABC
    classification.

    Scale shape (migrated r5, the last of the low-cardinality-window
    family): ~25 nations over the O(|customers|) per-customer revenue
    table meant 25 sequential sort tasks at scale, so the running
    share now takes the two-pass bucketed DECIMAL prefix sum (the
    q_events_changepoint pattern): revenue-range buckets — monotone in
    the (rev DESC, custkey ASC) order via the negated-value bucket —
    one combinable (nation, bucket) shuffle of exact decimal sums, the
    |nations|x|buckets| offset table prefix-summed and joined back
    NULL-SAFE (window-only oracle, convention f), and the in-bucket
    running sums lifted by the exact decimal offsets — the global
    decimal cumsum is reproduced BIT-identically, so shares and A/B/C
    thresholds match the oracle's window formulation exactly. The
    per-nation total joins back null-safe from a lean aggregate."""
    from datafusion_wasm_bindings_spark.queries._util import nsjoin

    o = table(spark, sf_dir, "orders").select("o_custkey", "o_totalprice")
    c = table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    per_cust = (
        o.join(c, o.o_custkey == c.c_custkey)
        .groupBy("c_nationkey", "c_custkey")
        .agg(dsum(F.col("o_totalprice"), "rev"))
    )
    # monotone bucket of the DESC sort key: -rev/1000 rises as rev falls
    b = per_cust.withColumn(
        "bkt", F.floor(-F.col("rev") / 1000.0).cast("long")
    ).transform(cut)  # feeds bucket sums, totals, and the final pass
    bs = b.groupBy("c_nationkey", "bkt").agg(
        F.sum(F.col("rev").cast(DEC)).alias("bsum")
    )
    # asc_nulls_LAST: a NULL-rev customer (all prices NULL under the
    # adversarial mutations) lands in the NULL bucket, which must sit
    # at the END of the bucket order exactly where the oracle's
    # `rev DESC` (NULLS LAST in DuckDB) places the row — Spark's ASC
    # default is NULLS FIRST, which would rank it as the LARGEST
    # revenue (r6 sf0.01 replay)
    w_pref = (
        Window.partitionBy("c_nationkey")
        .orderBy(F.col("bkt").asc_nulls_last())
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    offs = bs.select(
        "c_nationkey",
        "bkt",
        F.coalesce(F.sum("bsum").over(w_pref), F.lit(0).cast(DEC)).alias("sum_off"),
    )
    tot = b.groupBy("c_nationkey").agg(
        F.sum(F.col("rev").cast(DEC)).cast("double").alias("tot")
    )
    w_bcum = (
        Window.partitionBy("c_nationkey", "bkt")
        .orderBy(F.col("rev").desc(), F.col("c_custkey").asc())
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    # eqNullSafe on the BUCKET key too: the NULL bucket is a real group
    # (NULL-rev rows) and a plain == silently drops its customers from
    # the class counts (r5 join-back rule, caught live by the r6
    # sf0.01 replay: n_customers 37 vs 38)
    cond = F.col("bkt").eqNullSafe(F.col("__bkt_r"))
    offs_r = offs.select(
        F.col("c_nationkey").alias("__nk0"), F.col("bkt").alias("__bkt_r"), "sum_off"
    )
    staged = (
        b.join(
            F.broadcast(offs_r),
            cond & F.col("c_nationkey").eqNullSafe(F.col("__nk0")),
        )
        .drop("__bkt_r", "__nk0")
        .withColumn(
            "cum",
            (F.sum(F.col("rev").cast(DEC)).over(w_bcum) + F.col("sum_off")).cast(
                "double"
            ),
        )
    )
    staged = nsjoin(staged, tot, "c_nationkey").withColumn(
        "cum_share", F.col("cum") / F.col("tot")
    )
    cls = F.when(F.col("cum_share") <= 0.5, "A").when(
        F.col("cum_share") <= 0.8, "B"
    ).otherwise("C")
    return (
        staged.select("c_nationkey", cls.alias("abc"))
        .groupBy("c_nationkey", "abc")
        .agg(F.count(F.lit(1)).cast("long").alias("n_customers"))
    )


query(
    "q_sales_pareto",
    """
    WITH per_cust AS (
      SELECT c_nationkey, c_custkey,
             CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE) AS rev
      FROM orders JOIN customer ON o_custkey = c_custkey
      GROUP BY 1, 2
    ),
    staged AS (
      SELECT c_nationkey,
             CAST(SUM(CAST(rev AS DECIMAL(18,6))) OVER (PARTITION BY c_nationkey
                    ORDER BY rev DESC, c_custkey ASC
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)
               / CAST(SUM(CAST(rev AS DECIMAL(18,6)))
                    OVER (PARTITION BY c_nationkey) AS DOUBLE) AS cum_share
      FROM per_cust
    )
    SELECT c_nationkey,
           CASE WHEN cum_share <= 0.5 THEN 'A'
                WHEN cum_share <= 0.8 THEN 'B' ELSE 'C' END AS abc,
           CAST(COUNT(*) AS BIGINT) AS n_customers
    FROM staged GROUP BY 1, 2
    """,
    tags=("extension", "behavior", "window", "stats"),
)(_sales_pareto)


# ================= cohort LTV curves ==================================
def _events_ltv_cohort(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort lifetime-value curves: users cohorted by first-activity
    month, cumulative value by months-since-cohort — the growth-team
    view that q_events_retention counts and this query monetizes.

    Scale shape: one shuffle assigns each user's cohort (min-ts
    reduce, broadcast back is avoided by a window over user_id — the
    same clustering the value rollup then reuses); the cohort×age
    matrix is calendar-bounded, so its cumulative window is
    driver-trivial. Month indices are exact integer arithmetic from
    UTC-pinned timestamps."""
    e = table(spark, sf_dir, "events").select("user_id", "ts", "value")
    midx = (F.year("ts") * 12 + F.month("ts") - 1).cast("long")
    w_user = Window.partitionBy("user_id")
    staged = e.select(
        "user_id",
        "value",
        midx.alias("m"),
    ).withColumn("cohort_m", F.min("m").over(w_user))
    g = (
        staged.groupBy("cohort_m", (F.col("m") - F.col("cohort_m")).alias("age"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_events"),
            dsum(F.col("value"), "rev"),
        )
    )
    # explicit NULLS LAST: a NULL age (unplaceable revenue) cumulates
    # at the END of the curve on both engines, not at Spark's default
    # NULLS-FIRST head (adversarial NULL replay, r5)
    w_cum = Window.partitionBy("cohort_m").orderBy(
        F.col("age").asc_nulls_last()
    ).rowsBetween(Window.unboundedPreceding, 0)
    return g.select(
        F.concat_ws(
            "-",
            F.expr("cohort_m div 12").cast("long"),
            F.lpad((F.col("cohort_m") % 12 + 1).cast("string"), 2, "0"),
        ).alias("cohort"),
        "age",
        "n_events",
        "rev",
        F.sum(F.col("rev").cast(DEC)).over(w_cum).cast("double").alias("cum_rev"),
    )


query(
    "q_events_ltv_cohort",
    """
    WITH staged AS (
      SELECT user_id, value,
             CAST(year(CAST(ts AS TIMESTAMP)) * 12
                  + month(CAST(ts AS TIMESTAMP)) - 1 AS BIGINT) AS m,
             CAST(MIN(year(CAST(ts AS TIMESTAMP)) * 12
                  + month(CAST(ts AS TIMESTAMP)) - 1)
                  OVER (PARTITION BY user_id) AS BIGINT) AS cohort_m
      FROM events
    ),
    g AS (
      SELECT cohort_m, m - cohort_m AS age,
             CAST(COUNT(*) AS BIGINT) AS n_events,
             CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS rev
      FROM staged GROUP BY 1, 2
    )
    SELECT CAST(cohort_m // 12 AS BIGINT) || '-' ||
             lpad(CAST(cohort_m % 12 + 1 AS VARCHAR), 2, '0') AS cohort,
           CAST(age AS BIGINT) AS age, n_events, rev,
           CAST(SUM(CAST(rev AS DECIMAL(18,6))) OVER (PARTITION BY cohort_m
                  ORDER BY age NULLS LAST
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                AS DOUBLE) AS cum_rev
    FROM g
    """,
    tags=("extension", "events", "behavior", "window"),
)(_events_ltv_cohort)


# ================= Neyman-allocation stratified sample ================
_NEYMAN_N = 400


def _sample_neyman(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stratified sampling with NEYMAN allocation: the fixed budget is
    split across strata proportionally to n_h·σ_h — the design that
    minimizes estimator variance, vs the proportional allocation
    q_sample_stratified draws. σ_h comes from the exact decimal-sum
    variance identity (CLAUDE.md pitfall e); rows are then selected by
    the engine-portable md5 rank within each stratum.

    Scale shape: one combinable shuffle computes per-stratum moments
    (category-sized, broadcast back). The per-stratum selection rank is
    data-dependent (a_h), so rank-limit pushdown cannot bound a
    per-stratum window — with ~5 strata that is one sequential task
    per stratum at 100 TB; the rank therefore runs through
    operators/scale.bucketed_rank on 256 md5-prefix buckets (r4),
    row-identical to the naive window but parallel within strata."""
    from datafusion_wasm_bindings_spark.operators.scale import bucketed_rank

    # the md5 draw needs an id (adversarial NULL replay, r5)
    e = (
        table(spark, sf_dir, "events")
        .filter(F.col("event_id").isNotNull())
        .select("event_id", "event_type", "value")
    )
    g = e.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n_h"),
        F.sum(F.col("value").cast(DEC)).cast("double").alias("s"),
        F.sum((F.col("value") * F.col("value")).cast(DEC)).cast("double").alias("ss"),
    )
    # try_divide + greatest clamp (adversarial extremes replay, r6):
    # a singleton hostile stratum (n_h = 1) must never ANSI-abort the
    # n−1 division; clamped to sigma 0 it allocates nothing (a_h = 0 /
    # NULL on the oracle side — either way rk <= a_h surfaces no row),
    # and the clamp also keeps an exact-zero-variance stratum's −ε
    # double out of sqrt (DuckDB ERRORS on sqrt(−ε))
    sigma = F.sqrt(
        F.greatest(
            F.try_divide(
                F.col("ss") - F.col("s") * F.col("s") / F.col("n_h"),
                F.col("n_h") - 1,
            ),
            F.lit(0.0),
        )
    )
    w_all = Window.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    alloc = g.select(
        "event_type",
        "n_h",
        sigma.cast(DEC).cast("double").alias("sigma"),
        F.floor(
            F.try_divide(
                F.lit(_NEYMAN_N) * (F.col("n_h") * sigma),
                F.sum((F.col("n_h") * sigma).cast(DEC)).over(w_all).cast("double"),
            )
        )
        .cast("long")
        .alias("a_h"),
    )
    staged = e.join(F.broadcast(alloc), "event_type").withColumn(
        "draw", F.md5(F.concat(F.col("event_id").cast("string"), F.lit("dfwb-ney")))
    )
    ranked = bucketed_rank(
        staged,
        ["event_type"],
        F.conv(F.substring("draw", 1, 2), 16, 10),
        [F.col("draw").asc(), F.col("event_id").asc()],
        rank_col="rk",
    )
    return (
        ranked.filter(F.col("rk") <= F.col("a_h"))
        .select("event_type", "event_id", "rk", "n_h", "sigma", "a_h")
    )


query(
    "q_sample_neyman",
    f"""
    WITH g AS (
      SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_h,
             CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS s,
             CAST(SUM(CAST(value * value AS DECIMAL(18,6))) AS DOUBLE) AS ss
      FROM events WHERE event_id IS NOT NULL GROUP BY event_type
    ),
    -- greatest clamp + NULL sigma for singleton strata: mirrors the
    -- Spark try_divide path; DuckDB's x/0 -> NULL and NULL-skipping
    -- SUM do the rest (adversarial extremes replay, r6)
    alloc0 AS (
      SELECT event_type, n_h,
             sqrt(greatest((ss - s * s / n_h) / (n_h - 1), 0)) AS sg
      FROM g
    ),
    alloc AS (
      SELECT event_type, n_h,
             CAST(CAST(sg AS DECIMAL(18,6)) AS DOUBLE) AS sigma,
             CAST(floor({_NEYMAN_N} * (n_h * sg)
               / CAST(SUM(CAST(n_h * sg AS DECIMAL(18,6)))
                    OVER () AS DOUBLE)) AS BIGINT) AS a_h
      FROM alloc0
    ),
    ranked AS (
      SELECT e.event_type, e.event_id, a.n_h, a.sigma, a.a_h,
             CAST(row_number() OVER (PARTITION BY e.event_type
               ORDER BY md5(CAST(e.event_id AS VARCHAR) || 'dfwb-ney') ASC,
                        e.event_id ASC) AS BIGINT) AS rk
      FROM (SELECT * FROM events WHERE event_id IS NOT NULL) e
      JOIN alloc a USING (event_type)
    )
    SELECT event_type, event_id, rk, n_h, sigma, a_h
    FROM ranked WHERE rk <= a_h
    """,
    tags=("extension", "sampling", "stats"),
)(_sample_neyman)


# ================= CUSUM changepoint detection ========================
def _events_changepoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUSUM changepoint scan per event type: the maximum standardized
    cumulative deviation max_i |Σ_{j<=i}(x_j - mean)| / (sigma * sqrt(n))
    and its position — the classic mean-shift detector a metrics
    pipeline runs over each series (values near/above ~1.36 reject
    'no change' at 5% by the Kolmogorov bound).

    Scale shape (two-pass bucketed prefix sum — the q_pipeline_rownum
    rewrite): event_type has ~5 values, so a window PARTITIONED by type
    would run one sequential task per series regardless of data size (a
    hard fail at 100 TB). Instead rows bucket by fixed-width TIME range
    (buckets grow with the span, never one task's memory): (1) one
    combinable shuffle collects per-(type, bucket) row counts and EXACT
    decimal deviation sums; (2) the |types|×|buckets| table takes its
    per-type exclusive prefix (driver-trivial window) and broadcasts
    back; (3) position and cumulative sum run windowed per (type,
    bucket) — parallel — lifted by the bucket offsets. Decimal offsets
    + decimal in-bucket sums reproduce the global decimal cumsum
    BIT-identically. The argmax row then comes from two lean combinable
    aggregates (max c per type, then min pos among exact-double ties) —
    no per-type fact window anywhere."""
    # a CUSUM observation needs BOTH a time (series position) and a
    # value (deviation); NULL-ts/NULL-value rows are excluded on both
    # sides, and the tie-break id carries explicit NULLS LAST
    # (adversarial NULL replay, r5)
    e = (
        table(spark, sf_dir, "events")
        .filter(F.col("ts").isNotNull() & F.col("value").isNotNull())
        .select("event_type", "event_id", "ts", "value")
    )
    g = e.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(F.col("value").cast(DEC)).cast("double").alias("s"),
        F.sum((F.col("value") * F.col("value")).cast(DEC)).cast("double").alias("ss"),
    )
    mu = F.col("s") / F.col("n")
    # try_divide + sigma > 0 contract: CUSUM is undefined for n = 1
    # (the n−1 division is an ANSI abort on a singleton group — hostile
    # event_type values create those) and for zero-variance groups;
    # both engines exclude them EXPLICITLY (NULL sigma > 0 is false in
    # Spark, NULL in DuckDB — both drop; adversarial extremes replay, r6)
    # greatest(·, 0): an exact-zero-variance group can float to −ε in
    # the ss − s²/n double — Spark sqrt(−ε) is NaN but DuckDB ERRORS;
    # clamping yields sigma = 0 on both, which the filter drops anyway
    sigma = F.sqrt(
        F.greatest(
            F.try_divide(
                F.col("ss") - F.col("s") * F.col("s") / F.col("n"), F.col("n") - 1
            ),
            F.lit(0.0),
        )
    )
    stats = g.select("event_type", "n", mu.alias("mu"), sigma.alias("sigma")).filter(
        F.col("sigma") > 0
    )
    bkt_us = 6 * 3_600_000_000  # 6-hour buckets: |buckets| ∝ time span
    rows = (
        e.join(F.broadcast(stats), "event_type")
        .withColumn("bkt", F.floor(F.unix_micros("ts") / F.lit(bkt_us)).cast("long"))
        .withColumn("dev", (F.col("value") - F.col("mu")).cast(DEC))
    )
    bs = rows.groupBy("event_type", "bkt").agg(
        F.count(F.lit(1)).cast("long").alias("bn"),
        F.sum("dev").alias("bsum"),  # exact decimal per-bucket sum
    )
    w_pref = (
        Window.partitionBy("event_type")
        .orderBy(F.col("bkt").asc())
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    offs = bs.select(
        "event_type",
        "bkt",
        F.coalesce(F.sum("bn").over(w_pref), F.lit(0)).alias("pos_off"),
        F.coalesce(F.sum("bsum").over(w_pref), F.lit(0).cast(DEC)).alias("sum_off"),
    )
    w_b = Window.partitionBy("event_type", "bkt").orderBy(
        F.col("ts").asc(), F.col("event_id").asc_nulls_last()
    )
    w_bcum = w_b.rowsBetween(Window.unboundedPreceding, 0)
    staged = (
        rows.join(F.broadcast(offs), ["event_type", "bkt"])
        .withColumn("pos", (F.row_number().over(w_b) + F.col("pos_off")).cast("long"))
        .withColumn(
            "cusum",
            (F.sum("dev").over(w_bcum) + F.col("sum_off")).cast("double"),
        )
        .select(
            "event_type",
            "n",
            "pos",
            (F.abs(F.col("cusum")) / (F.col("sigma") * F.sqrt(F.col("n")))).alias("c"),
        )
    )
    cmax = staged.groupBy("event_type").agg(F.max("c").alias("cmax"))
    return (
        staged.join(F.broadcast(cmax), "event_type")
        .filter(F.col("c") == F.col("cmax"))
        .groupBy("event_type")
        .agg(
            F.first("n").alias("n"),
            F.first(F.col("cmax").cast(DEC).cast("double")).alias("cusum_stat"),
            F.min("pos").alias("at_pos"),
        )
        .select("event_type", "n", "cusum_stat", "at_pos")
    )


query(
    "q_events_changepoint",
    """
    WITH g AS (
      SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS s,
             CAST(SUM(CAST(value * value AS DECIMAL(18,6))) AS DOUBLE) AS ss
      FROM events WHERE ts IS NOT NULL AND value IS NOT NULL
      GROUP BY event_type
    ),
    stats0 AS (
      SELECT event_type, n, s / n AS mu,
             -- greatest clamp: zero-variance groups can float to -eps
             -- (DuckDB sqrt(-eps) ERRORS); NULL (n=1) stays NULL and
             -- the sigma > 0 filter drops both
             sqrt(greatest((ss - s * s / n) / (n - 1), 0)) AS sigma
      FROM g
    ),
    -- sigma > 0 population contract: singleton (sigma NULL via the
    -- n-1 division -> NULL) and zero-variance groups have no CUSUM
    -- statistic (adversarial extremes replay, r6)
    stats AS (SELECT * FROM stats0 WHERE sigma > 0),
    staged AS (
      SELECT e.event_type, st.n, st.sigma,
             CAST(row_number() OVER w AS BIGINT) AS pos,
             abs(CAST(SUM(CAST(e.value - st.mu AS DECIMAL(18,6)))
                   OVER (PARTITION BY e.event_type
                         ORDER BY e.ts ASC, e.event_id ASC NULLS LAST
                         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE))
               / (st.sigma * sqrt(st.n)) AS c
      FROM (SELECT * FROM events WHERE ts IS NOT NULL AND value IS NOT NULL) e
      JOIN stats st USING (event_type)
      WINDOW w AS (PARTITION BY e.event_type
                   ORDER BY e.ts ASC, e.event_id ASC NULLS LAST)
    )
    SELECT event_type, n,
           CAST(CAST(c AS DECIMAL(18,6)) AS DOUBLE) AS cusum_stat,
           pos AS at_pos
    FROM (SELECT *, row_number() OVER (PARTITION BY event_type
            ORDER BY c DESC, pos ASC) AS rn FROM staged)
    WHERE rn = 1
    """,
    tags=("extension", "events", "stats", "cleaning"),
)(_events_changepoint)


# ================= two-proportion power analysis ======================
def _stats_power(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Experiment sample-size calculator: per event type, the baseline
    conversion rate (value > 10) and the per-arm n required to detect
    a +10% relative lift at alpha = 0.05 / power = 0.80 (two-sided
    two-proportion z-test, z constants inlined) — the design step that
    precedes every q_events_experiment readout.

    Scale shape: one combinable shuffle to per-type counts; the
    closed-form arithmetic runs on the category-sized table. Rates are
    integer ratios and surface RAW (pitfall h); the required n is a
    ceil over identical doubles."""
    za, zb = 1.959964, 0.841621
    e = table(spark, sf_dir, "events")
    g = e.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n_obs"),
        F.sum((F.col("value") > 10.0).cast("long")).cast("long").alias("n_conv"),
    )
    p1 = F.col("n_conv") / F.col("n_obs")
    p2 = F.least(p1 * 1.1, F.lit(0.999))
    pbar = (p1 + p2) / 2
    num = (
        F.lit(za) * F.sqrt(2 * pbar * (1 - pbar))
        + F.lit(zb) * F.sqrt(p1 * (1 - p1) + p2 * (1 - p2))
    )
    # try_divide: p2 == p1 (a zero-conversion hostile group: p1 = 0 →
    # p2 = 0) has no detectable effect size — n_per_arm NULL, matching
    # DuckDB's native x/0 → NULL (adversarial extremes replay, r6)
    n_req = F.ceil(F.try_divide(num * num, (p2 - p1) * (p2 - p1))).cast("long")
    return g.select(
        "event_type",
        "n_obs",
        "n_conv",
        p1.alias("base_rate"),
        p2.alias("target_rate"),
        n_req.alias("n_per_arm"),
    )


query(
    "q_stats_power",
    """
    WITH g AS (
      SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_obs,
             CAST(SUM(CAST(value > 10.0 AS BIGINT)) AS BIGINT) AS n_conv
      FROM events GROUP BY event_type
    ),
    r AS (
      SELECT event_type, n_obs, n_conv,
             CAST(n_conv AS DOUBLE) / n_obs AS p1,
             least(CAST(n_conv AS DOUBLE) / n_obs * 1.1, 0.999) AS p2
      FROM g
    ),
    z AS (
      SELECT event_type, n_obs, n_conv, p1, p2,
             1.959964 * sqrt(2 * ((p1 + p2) / 2) * (1 - (p1 + p2) / 2))
               + 0.841621 * sqrt(p1 * (1 - p1) + p2 * (1 - p2)) AS num
      FROM r
    )
    SELECT event_type, n_obs, n_conv, p1 AS base_rate, p2 AS target_rate,
           CAST(ceil(num * num / ((p2 - p1) * (p2 - p1))) AS BIGINT) AS n_per_arm
    FROM z
    """,
    tags=("extension", "stats", "behavior"),
)(_stats_power)


# ================= cumulative DISTINCT count over a window ============
def _win_distinct_running(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Running COUNT(DISTINCT user) per event type — the window verb
    Spark SQL does not support directly (COUNT(DISTINCT ...) OVER is
    rejected), rewritten as the first-occurrence-flag cumulative sum:
    flag rows where row_number() over (type, user ORDER BY time) = 1,
    then cumulate the flags over the type's time order. The DuckDB
    oracle runs its NATIVE COUNT(DISTINCT) OVER — two independent
    formulations of the same semantics must agree row-for-row.

    Scale shape (r4): the per-(type, user) first-occurrence window is
    parallel across users; the per-type cumulative sum of the flags —
    which with ~5 types would be one sequential task per type — runs as
    the two-pass bucketed prefix sum (q_events_changepoint's shape):
    per-(type, 6h-bucket) integer flag sums, per-type exclusive prefix
    over the tiny bucket table broadcast back, in-bucket cumsum in
    parallel. Integer sums make the lift trivially exact. Output
    sampled to bound the compare."""
    # the running axis is event time (NULL-ts rows excluded on both
    # sides); a NULL user is NOT a distinct user — COUNT(DISTINCT)
    # skips NULLs, so the first-occurrence flag must too (adversarial
    # NULL replay, r5)
    e = (
        table(spark, sf_dir, "events")
        .filter(F.col("ts").isNotNull())
        .select("event_id", "event_type", "user_id", "ts")
    )
    w_first = Window.partitionBy("event_type", "user_id").orderBy(
        F.col("ts").asc(), F.col("event_id").asc_nulls_last()
    )
    bkt_us = 6 * 3_600_000_000
    flagged = e.withColumn(
        "first_seen",
        ((F.row_number().over(w_first) == 1) & F.col("user_id").isNotNull())
        .cast("long"),
    ).withColumn("bkt", F.floor(F.unix_micros("ts") / F.lit(bkt_us)).cast("long"))
    bs = flagged.groupBy("event_type", "bkt").agg(
        F.sum("first_seen").alias("bsum")
    )
    w_pref = (
        Window.partitionBy("event_type")
        .orderBy(F.col("bkt").asc())
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    offs = bs.select(
        "event_type",
        "bkt",
        F.coalesce(F.sum("bsum").over(w_pref), F.lit(0)).alias("off"),
    )
    w_bcum = (
        Window.partitionBy("event_type", "bkt")
        .orderBy(F.col("ts").asc(), F.col("event_id").asc_nulls_last())
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    from datafusion_wasm_bindings_spark.queries._util import nsjoin

    # nsjoin: PARTITION BY keeps NULL event_type as its own group, a
    # plain offset equi-join would drop those rows (the r5 (a)/(f)
    # window→join-back class, caught live here by the NULL replay)
    return (
        nsjoin(flagged, offs, ["event_type", "bkt"])
        .withColumn(
            "distinct_users",
            (F.sum("first_seen").over(w_bcum) + F.col("off")).cast("long"),
        )
        .filter(F.col("event_id") % 97 == 0)
        .select("event_id", "event_type", "distinct_users")
    )


query(
    "q_win_distinct_running",
    """
    SELECT event_id, event_type, distinct_users FROM (
      SELECT event_id, event_type,
             CAST(count(DISTINCT user_id) OVER (PARTITION BY event_type
               ORDER BY CAST(ts AS TIMESTAMP) ASC, event_id ASC NULLS LAST
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
               AS distinct_users
      FROM events WHERE ts IS NOT NULL
    ) WHERE event_id % 97 = 0
    """,
    tags=("extension", "window", "events", "compat"),
)(_win_distinct_running)
