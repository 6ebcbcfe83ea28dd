"""Twelfth- and thirteenth-wave extension queries (r5): runtime-
filtered joins and training-pipeline eval/construction verbs — a
Bloom-style semi-join reduction ahead of a fact⋈dim shuffle, RLHF
preference-pair construction, exact tie-aware ROC-AUC, exact
two-sample KS drift, binned PSI drift, reciprocal-rank fusion, and
SemDeDup-style semantic dedup.

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
from datafusion_wasm_bindings_spark.operators.scale import hash_prefilter_join
from datafusion_wasm_bindings_spark.queries import query
from datafusion_wasm_bindings_spark.queries._util import dsum, dsum_sql, nsjoin
from datafusion_wasm_bindings_spark.sources.catalog import table


# ================= Bloom-prefiltered fact⋈dim join ====================
def _join_bloom(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Selective-dim join with a runtime semi-join reduction: lineitem
    rows are pre-filtered by a broadcast hash-bucket sketch of the
    qualifying part keys BEFORE the join shuffle
    (operators/scale.hash_prefilter_join).

    Scale shape (the 100 TB point of this query): a 1%-selective dim
    filter (Brand#4, small sizes) means 99% of the fact would shuffle
    into the join just to be dropped. The sketch — distinct
    xxhash64(key) mod 2^20 buckets, at most 8 MB broadcast NO MATTER
    how large the dim is (bounded-by-m, never O(|dim|), per the r5
    no-forced-O(|input|)-broadcast rule) — drops those rows at the
    scan, so join-exchange bytes track dim selectivity instead of fact
    size. False-positive buckets pass a few extra rows that the exact
    join then discards: the result is row-identical to the plain join,
    which is exactly what the oracle runs."""
    part = table(spark, sf_dir, "part").select("p_partkey", "p_brand", "p_size")
    dim = part.filter((F.col("p_brand") == "Brand#4") & (F.col("p_size") <= 10))
    li = (
        table(spark, sf_dir, "lineitem")
        .select("l_partkey", "l_quantity", "l_extendedprice", "l_discount")
        .withColumnRenamed("l_partkey", "p_partkey")
    )
    j = hash_prefilter_join(li, dim, "p_partkey")
    return j.groupBy("p_size").agg(
        F.count(F.lit(1)).cast("long").alias("n_items"),
        dsum(F.col("l_extendedprice") * (1 - F.col("l_discount")), "revenue"),
        dsum(F.col("l_quantity"), "sum_qty"),
    )


query(
    "q_join_bloom",
    f"""
    SELECT p_size,
           CAST(COUNT(*) AS BIGINT) AS n_items,
           {dsum_sql("l_extendedprice * (1 - l_discount)", "revenue")},
           {dsum_sql("l_quantity", "sum_qty")}
    FROM lineitem JOIN part ON l_partkey = p_partkey
    WHERE p_brand = 'Brand#4' AND p_size <= 10
    GROUP BY p_size
    """,
    tags=("extension", "join", "scale"),
)(_join_bloom)


# ================= RLHF preference-pair construction ==================
def _pipeline_preference_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Preference-pair construction — the RLHF/DPO training-data verb:
    within each candidate group (here (lang, source), standing in for
    a prompt id), emit the best- and worst-scored document as a
    (chosen, rejected) pair with its score margin, dropping groups
    with no preference signal (all candidates tied).

    Scale shape: one grouped aggregate to per-group best/worst (tiny
    |groups| table), a NULL-SAFE broadcast join-back (_util.nsjoin —
    groupBy keeps a NULL lang/source as its own group and the oracle
    joins IS NOT DISTINCT FROM, convention r5(f)), then a second
    combinable aggregate picks the max-doc_id representative at each
    extreme — deterministic under score ties on BOTH engines, no
    window, no per-group sort. Scores are per-row IEEE doubles
    (identical cross-engine); margin subtracts two identical doubles,
    so it is bit-exact without quantization."""
    d = (
        table(spark, sf_dir, "documents")
        .select(
            "doc_id",
            "lang",
            "source",
            (
                (
                    F.length(F.col("text"))
                    - F.length(F.replace(F.col("text"), F.lit(" "), F.lit("")))
                )
                / F.greatest(F.col("n_chars"), F.lit(1))
            ).alias("score"),
        )
        .filter(F.col("score").isNotNull())
    )
    st = d.groupBy("lang", "source").agg(
        F.max("score").alias("best"), F.min("score").alias("worst")
    )
    j = nsjoin(d, st, ["lang", "source"])
    out = (
        j.groupBy("lang", "source")
        .agg(
            F.max(F.when(F.col("score") == F.col("best"), F.col("doc_id"))).alias(
                "chosen_doc"
            ),
            F.max(F.when(F.col("score") == F.col("worst"), F.col("doc_id"))).alias(
                "rejected_doc"
            ),
            F.count(F.lit(1)).cast("long").alias("n_candidates"),
            (F.max("best") - F.max("worst")).alias("margin"),
        )
        .filter(F.col("margin") > 0)
    )
    return out


query(
    "q_pipeline_preference_pairs",
    """
    WITH d AS (
      SELECT doc_id, lang, source,
             (length(text) - length(replace(text, ' ', '')))
               / greatest(n_chars, 1) AS score
      FROM documents
    ),
    d2 AS (SELECT * FROM d WHERE score IS NOT NULL),
    st AS (
      SELECT lang, source, MAX(score) AS best, MIN(score) AS worst
      FROM d2 GROUP BY 1, 2
    )
    SELECT d2.lang, d2.source,
           CAST(MAX(CASE WHEN score = best THEN doc_id END) AS BIGINT)
             AS chosen_doc,
           CAST(MAX(CASE WHEN score = worst THEN doc_id END) AS BIGINT)
             AS rejected_doc,
           CAST(COUNT(*) AS BIGINT) AS n_candidates,
           MAX(best) - MAX(worst) AS margin
    FROM d2 JOIN st
      ON d2.lang IS NOT DISTINCT FROM st.lang
     AND d2.source IS NOT DISTINCT FROM st.source
    GROUP BY 1, 2
    HAVING MAX(best) - MAX(worst) > 0
    """,
    tags=("extension", "pipeline", "behavior"),
)(_pipeline_preference_pairs)


# ================= exact tie-aware ROC-AUC ============================
def _ml_auc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact ROC-AUC of the corpus quality classifier (same score and
    label as q_text_pr_curve: 'the'-density vs lang == 'en') via the
    Mann-Whitney rank-sum identity with average ranks for ties —
    the eval-harness companion to the PR-curve threshold sweep.

    AUC = (R⁺ − P(P+1)/2) / (P·N) where R⁺ is the sum of positives'
    average ranks in the score ordering. Everything stays in exact
    integer arithmetic: per distinct score s with n_s rows (p_s
    positive) and c_s rows strictly below, the DOUBLED average rank is
    2c_s + n_s + 1, so 2R⁺ = Σ p_s(2c_s + n_s + 1) is an exact BIGINT
    both engines reproduce; the single surfaced double divides two
    exact integers.

    Scale shape: the global rank prefix c_s is the r4/r5 bucketed
    two-pass prefix sum, NOT a partition-less window — distinct scores
    group (combinable) into monotone value-range buckets (score is a
    per-char density in [0, 1/3], so floor(score·8000) is BOUNDED at
    ≤ 2668 buckets by construction), the bounded bucket table takes
    the exclusive prefix, and in-bucket windows partition by bucket.
    The only partition-less window runs over that bounded bucket
    table (same class as q_events_changepoint's offset table)."""
    d = _score_label(spark, sf_dir)
    return auc_from_scores(d)


def _score_label(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = (
        table(spark, sf_dir, "documents")
        .select(
            (F.col("lang") == "en").cast("long").alias("label"),
            (
                (
                    F.length(F.lower(F.col("text")))
                    - F.length(
                        F.replace(F.lower(F.col("text")), F.lit("the"), F.lit(""))
                    )
                )
                / F.lit(3.0)
                / F.greatest(F.col("n_chars"), F.lit(1))
            ).alias("score"),
        )
        .filter(F.col("score").isNotNull())
    )
    return d


def auc_from_scores(d: DataFrame, *, bucket_scale: float = 8000.0) -> DataFrame:
    """Exact tie-aware ROC-AUC of a (label∈{0,1}, score double) frame
    via doubled average ranks over distinct scores (see _ml_auc).
    ``bucket_scale`` sets the monotone value-bucket granularity for
    the two-pass prefix sum; any positive value yields identical
    output (bucketing is a distribution knob, never a semantics one —
    the bucketed_rank contract).

    The distinct-score table ``g`` feeds the bucket offsets, the rank
    join, AND the totals — uncut, each branch re-runs the fact scan +
    aggregate (the r3 contingency-cells lesson). One lineage cut
    bounds the fact work at exactly one scan; ``g`` is no larger than
    what the groupBy shuffle already materialized
    (plan-asserted: tests/test_plans.py
    test_drift_stats_single_fact_scan)."""
    g = (
        d.groupBy("score")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum("label").cast("long").alias("p"),
        )
        .withColumn("__bkt", F.floor(F.col("score") * bucket_scale).cast("long"))
        .transform(cut)
    )
    bs = g.groupBy("__bkt").agg(F.sum("n").alias("bn"))
    w_pref = (
        Window.orderBy(F.col("__bkt").asc())
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    offs = bs.select(
        "__bkt", F.coalesce(F.sum("bn").over(w_pref), F.lit(0)).alias("coff")
    )
    w_in = (
        Window.partitionBy("__bkt")
        .orderBy(F.col("score").asc())
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    r = g.join(F.broadcast(offs), "__bkt").withColumn(
        "c", F.col("coff") + F.coalesce(F.sum("n").over(w_in), F.lit(0))
    )
    s = r.agg(
        F.sum("p").cast("long").alias("np"),
        F.sum("n").cast("long").alias("nt"),
        F.sum(
            F.col("p") * (2 * F.col("c") + F.col("n") + 1)
        ).cast("long").alias("rs2"),
    )
    return s.select(
        F.col("np").alias("n_pos"),
        (F.col("nt") - F.col("np")).alias("n_neg"),
        (
            (F.col("rs2") - F.col("np") * (F.col("np") + 1)).cast("double")
            / (2 * F.col("np") * (F.col("nt") - F.col("np"))).cast("double")
        ).alias("auc"),
    )


_AUC_ORACLE = """
    WITH d AS (
      SELECT CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS label,
             (length(lower(text)) - length(replace(lower(text), 'the', '')))
               / 3.0 / greatest(n_chars, 1) AS score
      FROM documents
    ),
    d2 AS (SELECT * FROM d WHERE score IS NOT NULL),
    g AS (
      SELECT score, CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(label) AS BIGINT) AS p
      FROM d2 GROUP BY score
    ),
    r AS (
      SELECT n, p,
             CAST(COALESCE(SUM(n) OVER (ORDER BY score ASC
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                  AS BIGINT) AS c
      FROM g
    ),
    s AS (
      SELECT CAST(SUM(p) AS BIGINT) AS np,
             CAST(SUM(n) AS BIGINT) AS nt,
             CAST(SUM(p * (2 * c + n + 1)) AS BIGINT) AS rs2
      FROM r
    )
    SELECT np AS n_pos, nt - np AS n_neg,
           CAST(rs2 - np * (np + 1) AS DOUBLE)
             / CAST(2 * np * (nt - np) AS DOUBLE) AS auc
    FROM s
    """

query("q_ml_auc", _AUC_ORACLE, tags=("extension", "stats", "ml"))(_ml_auc)


# ===================== wave 13: drift + fusion + SemDeDup =============
def _src_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(is_a, score) per document: the corpus split into two slices by
    source parity (src<2i> vs src<2i+1>) with the same exact-double
    'the'-density score as q_ml_auc — the drift-monitoring frame the
    KS / PSI queries consume. ``lower(text)`` is materialized once
    before the two length() references (CLAUDE.md expensive-expression
    rule)."""
    d = (
        table(spark, sf_dir, "documents")
        .select(
            # try_cast: a hostile non-numeric source suffix must slice
            # to NULL (→ filtered), not ANSI-abort the scan — Spark
            # CAST throws, DuckDB CAST errors; TRY_CAST is NULL on
            # both (adversarial extremes replay, r6)
            (
                F.expr(
                    "try_cast(CASE WHEN substring(source, 4, 8)"
                    " RLIKE '^\\\\s*[-+]?[0-9]+\\\\s*$'"
                    " THEN substring(source, 4, 8) END AS BIGINT)"
                )
                % 2
                == 0
            ).alias("is_a"),
            F.lower(F.col("text")).alias("lt"),
            "n_chars",
        )
        .select(
            "is_a",
            (
                (
                    F.length(F.col("lt"))
                    - F.length(F.replace(F.col("lt"), F.lit("the"), F.lit("")))
                )
                / F.lit(3.0)
                / F.greatest(F.col("n_chars"), F.lit(1))
            ).alias("score"),
        )
        .filter(F.col("score").isNotNull() & F.col("is_a").isNotNull())
    )
    return d


_SRC_SCORE_SQL = """
    d0 AS (
      -- strict-grammar WHITELIST (ADVICE r7→r8): DuckDB TRY_CAST('- ')
      -- = 0 where Spark try_cast = NULL
      -- (test_try_cast_sign_whitespace_divergence_documented), and
      -- other sign/whitespace permutations ('  -', '+-', '- 5') are
      -- engine-unpinned — so instead of blacklisting known-divergent
      -- shapes, ONLY slices matching Spark's integer grammar
      -- '^\\s*[-+]?[0-9]+\\s*$' reach the cast (identical parse in
      -- both engines by construction); everything else is NULLed on
      -- BOTH sides (the Spark twin carries the same RLIKE).
      SELECT TRY_CAST(
               CASE WHEN regexp_matches(substr(source, 4, 8),
                                        '^\\s*[-+]?[0-9]+\\s*$')
                    THEN substr(source, 4, 8) ELSE NULL END
               AS BIGINT) % 2 = 0 AS is_a,
             lower(text) AS lt, n_chars
      FROM documents
    ),
    d AS (
      SELECT is_a,
             (length(lt) - length(replace(lt, 'the', '')))
               / 3.0 / greatest(n_chars, 1) AS score
      FROM d0
    ),
    d2 AS (SELECT * FROM d WHERE score IS NOT NULL AND is_a IS NOT NULL)
"""


def ks_from_scores(d: DataFrame, *, bucket_scale: float = 8000.0) -> DataFrame:
    """Exact two-sample Kolmogorov-Smirnov distance between the score
    distributions of slices A (is_a) and B: D = max_s |F_A(s) − F_B(s)|
    over the pooled distinct scores, plus the smallest score attaining
    it. Both empirical CDFs divide exact BIGINT cumulative counts by
    exact totals — identical IEEE divisions in every engine, so the
    max and its argmin location replay bit-identically (no
    quantization anywhere; same contract as auc_from_scores).

    Scale shape: the global cumulative counts are the r4/r5 bucketed
    two-pass prefix sum over per-distinct-score (n_A, n_B) pairs —
    never a partition-less window over the corpus; the only
    partition-less window runs over the BOUNDED value-bucket table
    (score ∈ [0, 1/3] → ≤ ⌈bucket_scale/3⌉ buckets by construction).
    The 1-row totals and max rows attach via broadcast nested-loop
    joins (1-row build side — the allowed scalar-attachment shape)."""
    # distinct-score table: feeds offsets, the rank join, and totals —
    # one lineage cut = one fact scan (see auc_from_scores)
    g = (
        d.groupBy("score")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum(F.col("is_a").cast("long")).cast("long").alias("na"),
        )
        .withColumn("nb", (F.col("n") - F.col("na")).cast("long"))
        .withColumn("__bkt", F.floor(F.col("score") * bucket_scale).cast("long"))
        .transform(cut)
    )
    bs = g.groupBy("__bkt").agg(
        F.sum("na").alias("ba"), F.sum("nb").alias("bb")
    )
    w_pref = (
        Window.orderBy(F.col("__bkt").asc())
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    offs = bs.select(
        "__bkt",
        F.coalesce(F.sum("ba").over(w_pref), F.lit(0)).alias("offa"),
        F.coalesce(F.sum("bb").over(w_pref), F.lit(0)).alias("offb"),
    )
    w_in = (
        Window.partitionBy("__bkt")
        .orderBy(F.col("score").asc())
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    r = (
        g.join(F.broadcast(offs), "__bkt")
        .withColumn("ca", (F.col("offa") + F.sum("na").over(w_in)).cast("long"))
        .withColumn("cb", (F.col("offb") + F.sum("nb").over(w_in)).cast("long"))
    )
    t = g.agg(
        F.sum("na").cast("long").alias("n_a"),
        F.sum("nb").cast("long").alias("n_b"),
        F.count(F.lit(1)).cast("long").alias("n_scores"),
    )
    x = r.crossJoin(F.broadcast(t)).select(
        "score",
        F.abs(
            F.col("ca").cast("double") / F.col("n_a").cast("double")
            - F.col("cb").cast("double") / F.col("n_b").cast("double")
        ).alias("diff"),
    )
    m = x.agg(F.max("diff").alias("ks_d"))
    at = (
        x.join(F.broadcast(m), F.col("diff") == F.col("ks_d"))
        .agg(F.min("score").alias("ks_at"))
    )
    return (
        t.crossJoin(F.broadcast(m))
        .crossJoin(F.broadcast(at))
        .select("n_a", "n_b", "n_scores", "ks_d", "ks_at")
    )


def _ml_ks_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact two-sample KS drift statistic between the quality-score
    distributions of two corpus slices (even- vs odd-numbered sources)
    — the distribution-shift gate a training pipeline runs between
    data snapshots before mixing them (see ks_from_scores for the
    exactness + scale contract)."""
    return ks_from_scores(_src_score(spark, sf_dir))


query(
    "q_ml_ks_drift",
    f"""
    WITH {_SRC_SCORE_SQL},
    g AS (
      SELECT score, CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(CASE WHEN is_a THEN 1 ELSE 0 END) AS BIGINT) AS na
      FROM d2 GROUP BY score
    ),
    r AS (
      SELECT score,
             CAST(SUM(na) OVER (ORDER BY score ASC
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                  AS BIGINT) AS ca,
             CAST(SUM(n - na) OVER (ORDER BY score ASC
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                  AS BIGINT) AS cb
      FROM g
    ),
    t AS (
      SELECT CAST(SUM(na) AS BIGINT) AS n_a,
             CAST(SUM(n - na) AS BIGINT) AS n_b,
             CAST(COUNT(*) AS BIGINT) AS n_scores
      FROM g
    ),
    x AS (
      SELECT score,
             abs(CAST(ca AS DOUBLE) / CAST(n_a AS DOUBLE)
                 - CAST(cb AS DOUBLE) / CAST(n_b AS DOUBLE)) AS diff
      FROM r CROSS JOIN t
    ),
    m AS (SELECT MAX(diff) AS ks_d FROM x)
    SELECT n_a, n_b, n_scores, ks_d,
           (SELECT MIN(score) FROM x WHERE diff = ks_d) AS ks_at
    FROM t CROSS JOIN m
    """,
    tags=("extension", "stats", "ml"),
)(_ml_ks_drift)


_PSI_BINS_SCALE = 60  # score ∈ [0, 1/3] → bins 0..20, bounded


def _ml_psi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Population stability index between the two source slices over
    fixed-width score bins — the standard drift monitor
    (PSI = Σ (p_A − p_B)·ln(p_A/p_B), bins where either slice is
    empty are excluded, as is standard, and counted out via n_bins).

    Exactness: bin counts are exact BIGINTs; the proportions are
    identical IEEE divisions; ln() differs in the last ulp across
    libm implementations (CLAUDE.md pitfall g), so each PER-BIN term
    is quantized to DECIMAL(18,6) and the PSI total is the exact
    decimal sum — order-independent and irrational-valued (midpoints
    measure-zero, quantization rule ii).

    Scale shape: one map-side-combinable aggregate to the BOUNDED
    |bins| table (≤ 21 rows by construction); everything after is
    bounded work with 1-row broadcast attachments."""
    d = _src_score(spark, sf_dir)
    # bounded |bins| table: feeds both totals and terms — one
    # lineage cut = one fact scan (see auc_from_scores)
    g = (
        d.groupBy(
            F.floor(F.col("score") * _PSI_BINS_SCALE).cast("long").alias("bin")
        )
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum(F.col("is_a").cast("long")).cast("long").alias("na"),
        )
        .withColumn("nb", (F.col("n") - F.col("na")).cast("long"))
        .transform(cut)
    )
    t = g.agg(
        F.sum("na").cast("long").alias("n_a"),
        F.sum("nb").cast("long").alias("n_b"),
    )
    pa = F.col("na").cast("double") / F.col("n_a").cast("double")
    pb = F.col("nb").cast("double") / F.col("n_b").cast("double")
    terms = (
        g.crossJoin(F.broadcast(t))
        .filter((F.col("na") > 0) & (F.col("nb") > 0))
        .select(((pa - pb) * F.log(pa / pb)).cast("decimal(18,6)").alias("term"))
    )
    s = terms.agg(
        F.count(F.lit(1)).cast("long").alias("n_bins"),
        F.coalesce(F.sum("term"), F.lit(0).cast("decimal(18,6)"))
        .cast("double")
        .alias("psi"),
    )
    return t.crossJoin(F.broadcast(s)).select("n_a", "n_b", "n_bins", "psi")


query(
    "q_ml_psi",
    f"""
    WITH {_SRC_SCORE_SQL},
    g AS (
      SELECT CAST(floor(score * {_PSI_BINS_SCALE}) AS BIGINT) AS bin,
             CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(CASE WHEN is_a THEN 1 ELSE 0 END) AS BIGINT) AS na
      FROM d2 GROUP BY 1
    ),
    t AS (
      SELECT CAST(SUM(na) AS BIGINT) AS n_a,
             CAST(SUM(n - na) AS BIGINT) AS n_b
      FROM g
    ),
    terms AS (
      SELECT CAST((CAST(na AS DOUBLE) / CAST(n_a AS DOUBLE)
                   - CAST(n - na AS DOUBLE) / CAST(n_b AS DOUBLE))
                  * ln((CAST(na AS DOUBLE) / CAST(n_a AS DOUBLE))
                       / (CAST(n - na AS DOUBLE) / CAST(n_b AS DOUBLE)))
                  AS DECIMAL(18,6)) AS term
      FROM g CROSS JOIN t
      WHERE na > 0 AND n - na > 0
    ),
    s AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_bins,
             CAST(COALESCE(SUM(term), 0) AS DOUBLE) AS psi
      FROM terms
    )
    SELECT n_a, n_b, n_bins, psi FROM t CROSS JOIN s
    """,
    tags=("extension", "stats", "ml"),
)(_ml_psi)


# ================= reciprocal-rank fusion retrieval ===================
_RRF_C = 60  # the standard RRF constant (Cormack et al. 2009)
_RRF_TOPK = 10


def _rank_rrf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reciprocal-rank fusion of two retrievers: every corpus vector is
    ranked against query vec 1 and query vec 2 (exact integer dot
    products, operators/similarity quantization), and the fused score
    RRF(d) = Σ_r 1/(60 + rank_r(d)) surfaces the top-10. The standard
    multi-retriever merge (BM25 ⊕ dense, two dense indexes...) a
    retrieval pipeline runs at serving and eval time.

    Exactness: ranks are exact integers (total order: dot DESC, vec_id
    ASC); each fused term divides 1.0 by an exact integer and the
    two-term sum is evaluated in the same order on both engines —
    bit-identical doubles, no quantization.

    Scale shape: the two global ranks are operators/scale.bucketed_rank
    with an EMPTY partition list (the exact-ntile/RFM recipe, r5 (e)):
    equi-depth value buckets → per-bucket counts → exclusive prefix
    over the BOUNDED bucket table → in-bucket windows. No
    partition-less window ever touches the corpus; the final top-10 is
    a TakeOrdered, and the two 1-row query vectors attach map-side via
    broadcast (bounded build side).

    Single-scan rule (r5 wave-13 (a)): the score table feeds BOTH
    ranks plus each rank's equi-depth quantile probe and bucket-count
    pass, and the second rank's input embeds the first's full lineage —
    uncut, the parquet scan + dot products re-run ~6×. Both stages are
    localCheckpointed, which is the 8.0 s-vs-12.7 s gap at 1M×16-dim
    (BASELINE.md); plan-asserted Scan parquet == 0 in
    tests/test_plans.py::test_rrf_take_ordered_topk."""
    from datafusion_wasm_bindings_spark.operators.scale import (
        bucketed_rank,
        equidepth_bucket,
    )
    from datafusion_wasm_bindings_spark.operators.similarity import _dot, quantized

    v = table(spark, sf_dir, "embeddings").select(
        "vec_id", quantized(F.col("embedding")).alias("x")
    )
    q1 = v.filter(F.col("vec_id") == 1).select(F.col("x").alias("q1x"))
    q2 = v.filter(F.col("vec_id") == 2).select(F.col("x").alias("q2x"))
    c = (
        v.filter(~F.col("vec_id").isin(1, 2))
        .crossJoin(F.broadcast(q1))
        .crossJoin(F.broadcast(q2))
        .select(
            "vec_id",
            _dot(F.col("x"), F.col("q1x")).alias("s1"),
            _dot(F.col("x"), F.col("q2x")).alias("s2"),
        )
        # a vector only participates if BOTH retriever scores are
        # defined: a NULL embedding (query or corpus side) yields NULL
        # dots, which the oracle's join-on-components formulation drops
        # implicitly (adversarial NULL replay, r5)
        .filter(F.col("s1").isNotNull() & F.col("s2").isNotNull())
        .transform(cut)
    )
    r1 = bucketed_rank(
        c,
        [],
        equidepth_bucket(c, -F.col("s1")),
        [F.col("s1").desc(), F.col("vec_id").asc()],
        rank_col="r1",
    ).transform(cut)
    r2 = bucketed_rank(
        r1,
        [],
        equidepth_bucket(r1, -F.col("s2")),
        [F.col("s2").desc(), F.col("vec_id").asc()],
        rank_col="r2",
    )
    fused = (
        F.lit(1).cast("double") / (F.lit(_RRF_C) + F.col("r1"))
        + F.lit(1).cast("double") / (F.lit(_RRF_C) + F.col("r2"))
    ).alias("rrf")
    return (
        r2.select("vec_id", "r1", "r2", fused)
        .orderBy(F.col("rrf").desc_nulls_last(), F.col("vec_id").asc())
        .limit(_RRF_TOPK)
    )


query(
    "q_rank_rrf",
    f"""
    WITH q AS (SELECT vec_id,
                 list_transform(embedding,
                   x -> CAST(round(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS qv
               FROM embeddings),
    comp AS (SELECT vec_id, unnest(qv) AS val,
                    generate_subscripts(qv, 1) AS i FROM q),
    d1 AS (
      SELECT c.vec_id, sum(c.val * k.val) AS s1
      FROM comp c JOIN comp k ON k.i = c.i AND k.vec_id = 1
      WHERE c.vec_id NOT IN (1, 2) GROUP BY 1
    ),
    d2 AS (
      SELECT c.vec_id, sum(c.val * k.val) AS s2
      FROM comp c JOIN comp k ON k.i = c.i AND k.vec_id = 2
      WHERE c.vec_id NOT IN (1, 2) GROUP BY 1
    ),
    s AS (SELECT d1.vec_id, s1, s2 FROM d1 JOIN d2 ON d1.vec_id = d2.vec_id),
    r AS (
      SELECT vec_id,
             CAST(row_number() OVER (ORDER BY s1 DESC, vec_id ASC)
                  AS BIGINT) AS r1,
             CAST(row_number() OVER (ORDER BY s2 DESC, vec_id ASC)
                  AS BIGINT) AS r2
      FROM s
    )
    SELECT vec_id, r1, r2,
           CAST(1 AS DOUBLE) / ({_RRF_C} + r1)
             + CAST(1 AS DOUBLE) / ({_RRF_C} + r2) AS rrf
    FROM r
    ORDER BY rrf DESC NULLS LAST, vec_id ASC
    LIMIT {_RRF_TOPK}
    """,
    tags=("extension", "similarity", "rank"),
)(_rank_rrf)


# ================= SemDeDup semantic near-dup pruning =================
_SEM_K, _SEM_ITERS, _SEM_TAU = 4, 2, 0.35


def _dedup_semantic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup-style semantic dedup over the embedding corpus
    (operators/clustering.semantic_dedup): deterministic k-means fit,
    per-cluster representative election, cosine-to-representative
    pruning at τ = 0.35 — per-cluster keep/prune stats. The DuckDB
    twin replays the full Lloyd fit through the unrolled CTE chain
    (extensions._kmeans_chain) and then the representative scoring."""
    from datafusion_wasm_bindings_spark.operators.clustering import semantic_dedup

    from datafusion_wasm_bindings_spark.queries.extensions import _vecs

    # id+payload population — see extensions._vecs (adversarial NULL
    # replay, r5)
    return semantic_dedup(
        _vecs(spark, sf_dir),
        k=_SEM_K,
        iters=_SEM_ITERS,
        threshold=_SEM_TAU,
    )


def _semantic_oracle(k: int, iters: int, tau: float) -> str:
    from datafusion_wasm_bindings_spark.queries.extensions import (
        _COMP,
        _kmeans_chain,
    )

    chain = _kmeans_chain(k, iters)
    return f"""
    WITH {_COMP.format(where="WHERE vec_id IS NOT NULL AND embedding IS NOT NULL")},{chain},
    rep AS (
      SELECT cid, CAST(min(vec_id) AS BIGINT) AS rep_vec
      FROM asg{iters} GROUP BY 1
    ),
    dots AS (
      SELECT a.cid, a.vec_id, r.rep_vec, sum(c.val * rc.val) AS dot
      FROM asg{iters} a
      JOIN rep r ON r.cid = a.cid
      JOIN comp c ON c.vec_id = a.vec_id
      JOIN comp rc ON rc.vec_id = r.rep_vec AND rc.i = c.i
      GROUP BY 1, 2, 3
    ),
    scored AS (
      SELECT d.cid, d.vec_id, d.rep_vec,
             (d.vec_id <> d.rep_vec
              AND d.dot / sqrt(nm.n2 * nr.n2) >= {tau}) AS is_dup
      FROM dots d
      JOIN norms nm ON nm.vec_id = d.vec_id
      JOIN norms nr ON nr.vec_id = d.rep_vec
    )
    SELECT cid AS cluster_id,
           CAST(min(rep_vec) AS BIGINT) AS rep_vec,
           CAST(count(*) AS BIGINT) AS n_members,
           CAST(SUM(CASE WHEN is_dup THEN 1 ELSE 0 END) AS BIGINT) AS n_dups,
           CAST(count(*) - SUM(CASE WHEN is_dup THEN 1 ELSE 0 END)
                AS BIGINT) AS n_kept,
           CAST(COALESCE(MIN(CASE WHEN is_dup THEN vec_id END), -1)
                AS BIGINT) AS first_dup
    FROM scored GROUP BY 1
    """


query(
    "q_dedup_semantic",
    _semantic_oracle(_SEM_K, _SEM_ITERS, _SEM_TAU),
    tags=("extension", "dedup", "clustering", "similarity"),
)(_dedup_semantic)
