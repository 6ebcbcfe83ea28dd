"""Distributed k-means clustering over embedding columns.

Training-data pipelines cluster document embeddings constantly — topic
balancing, domain discovery, cluster-based dedup/filtering (e.g.
SemDeDup-style pruning). This is Lloyd's algorithm expressed
Spark-first, with the centroid state kept EXACT so every engine that
replays the same arithmetic reaches bit-identical assignments (the
oracle-checkability recipe of operators/similarity.py, extended from
one dot product to the full iterative fit):

- components quantized to int64 (``round(x*1000)``) → all sums (dot
  products, per-dimension centroid sums, squared norms) are exact
  integer arithmetic, order-independent under any partitioning;
- a centroid is stored as ``(s[dim] int64 sums, n count)`` — never the
  float mean — so the mean is only ever *evaluated* inside the
  distance comparator:  argmin_c ‖x − s_c/n_c‖² = argmin_c
  (ss_c/n_c² − 2·⟨x,s_c⟩/n_c), two IEEE divisions on exact integers,
  bit-identical in any engine;
- ties broken by cluster id ascending.

Scale posture (100 TB): assignment is a pure map against broadcast
centroid literals — the corpus NEVER shuffles. The per-iteration
reduce is a (cid, dim) partial-sum aggregate whose shuffle bytes are
k × dims × partitions, independent of corpus size. The k × dims
centroid state (a few KB) is collected to the driver each iteration —
the same justified tiny-collect as the connected-components
convergence signature (operators/dedup.py). Production note: cache the
quantized corpus across iterations (``df.persist()``); uncached, each
iteration re-reads storage, which is still the standard tradeoff at
100 TB (recompute beats caching when memory is the scarce resource).

The reference (DataFusion 45 WASM binding, src/core.rs:34-99) has no
iterative relational algebra at all; this extension adds the
capability Spark-first. UNNEST-decomposed oracle twin:
queries/extensions.py:q_cluster_kmeans.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from datafusion_wasm_bindings_spark.operators.checkpoint import cut
from datafusion_wasm_bindings_spark.operators.similarity import _norm2, quantized

Centroid = tuple[int, list[int], int]  # (cid, per-dim int sums, n)


def _assign(v: DataFrame, centroids: list[Centroid]) -> DataFrame:
    """Map-side nearest-centroid assignment against literal centroids.

    Adds ``cid`` and per-row ``inertia`` (= exact ‖x−c‖², evaluated as
    ssx + ss_c/n² − 2·dot/n on exact integer sums).

    ``ss`` and ``n²`` ship as DOUBLE literals: the exact Python ints
    exceed int64 once a cluster's per-dim sums pass ~3e9 (measured
    live — the r8 semdedup_xl probe at 2M vectors hit ss = 1.22e19 and
    py4j refused the long literal). ``float(exact_int)`` is the
    nearest double of the exact integer — bit-identical to both the
    old ``F.lit(int).cast("double")`` path and the oracle's
    ``CAST(sum(s*s) AS DOUBLE)`` (DuckDB sums in HUGEINT, casts once
    at the end), so values are unchanged wherever the int path worked.
    The per-row dot stays an exact int64 fold (matches the oracle's
    exact HUGEINT dot bit-for-bit after the single final cast);
    x·s products stay under 2^63 up to ~1000× the probe scale and
    overflow LOUDLY (ANSI) past it."""
    choices = []
    for cid, s, n in centroids:
        ss = sum(si * si for si in s)
        dot = F.aggregate(
            F.zip_with(
                F.col("x"),
                F.array(*[F.lit(int(si)).cast("long") for si in s]),
                lambda a, b: a * b,
            ),
            F.lit(0).cast("long"),
            lambda acc, val: acc + val,
        )
        d = (
            F.lit(float(ss)) / F.lit(float(n * n))
            - F.lit(2) * dot.cast("double") / F.lit(n)
        )
        choices.append(F.struct(d.alias("d"), F.lit(cid).cast("long").alias("cid")))
    best = F.array_min(F.array(*choices))
    return v.select(
        "vec_id",
        "x",
        best["cid"].alias("cid"),
        (F.col("ssx").cast("double") + best["d"]).alias("inertia"),
    )


def fit_kmeans(
    embeddings: DataFrame,
    *,
    k: int = 4,
    iters: int = 2,
) -> tuple[DataFrame, list[Centroid]]:
    """Run the deterministic Lloyd fit (module docstring) and return
    ``(assigned, centroids)``: the final per-vector assignment (vec_id,
    x, cid, inertia) and the exact integer centroid state."""
    # CHECKPOINT-WHAT-EAGER-SUB-ACTIONS-CONSUME (CLAUDE.md wave-13):
    # the quantized corpus feeds the seed collect, one centroid-update
    # collect PER Lloyd round, and the final assignment consumer —
    # without a lineage cut every one of those actions re-runs the
    # scan + quantization HOF (iters+2 full re-derivations; measured
    # r12: q_cluster_quality 2.8→1.6 s, q_cluster_kmeans 1.7→1.1 s at
    # sf0.1). Values are untouched — the cut materializes the
    # same exact integer vectors the lazy plan computes.
    v = (
        embeddings.select("vec_id", quantized(F.col("embedding")).alias("x"))
        .withColumn("ssx", _norm2(F.col("x")))
        .transform(cut)
    )

    seeds = v.orderBy("vec_id").limit(k).select("vec_id", "x").collect()
    centroids: list[Centroid] = [
        (cid, [int(c) for c in row["x"]], 1) for cid, row in enumerate(seeds)
    ]
    if not centroids:
        # EMPTY corpus: no seeds, nothing to assign — return a typed
        # empty assignment instead of building array_min(array()) over
        # zero centroid choices, which Spark rejects as VOID
        # (empty-mode replay r7)
        empty = embeddings.sparkSession.createDataFrame(
            [], "vec_id bigint, x array<bigint>, cid bigint, inertia double"
        )
        return empty, []

    assigned = _assign(v, centroids)
    for _ in range(iters):
        # exact integer centroid update: per-(cid, dim) partial sums —
        # shuffle bytes ∝ k × dims × partitions, corpus-size-independent
        rows = (
            assigned.select("cid", F.posexplode("x").alias("dim", "xv"))
            .groupBy("cid", "dim")
            .agg(F.sum("xv").alias("s"), F.count(F.lit(1)).alias("n"))
            .collect()
        )
        by_cid: dict[int, dict[int, int]] = {}
        counts: dict[int, int] = {}
        for r in rows:
            by_cid.setdefault(r["cid"], {})[r["dim"]] = int(r["s"])
            counts[r["cid"]] = int(r["n"])
        centroids = [
            (cid, [dims[i] for i in sorted(dims)], counts[cid])
            for cid, dims in sorted(by_cid.items())
        ]
        assigned = _assign(v, centroids)
    return assigned, centroids


def kmeans_clusters(
    embeddings: DataFrame,
    *,
    k: int = 4,
    iters: int = 2,
) -> DataFrame:
    """Lloyd's k-means, deterministically seeded by the ``k`` lowest
    vec_ids, returning per-cluster stats after ``iters`` update rounds:
    (cluster_id, n_vecs, min_vec, mean_inertia).

    ``mean_inertia`` uses the decimal-sum recipe (queries/_util.py) so
    the double total is order-independent."""
    assigned, _ = fit_kmeans(embeddings, k=k, iters=iters)
    return (
        assigned.groupBy(F.col("cid").alias("cluster_id"))
        .agg(
            F.count(F.lit(1)).alias("n_vecs"),
            F.min("vec_id").alias("min_vec"),
            (
                F.sum(F.col("inertia").cast("decimal(18,6)")).cast("double")
                / F.count(F.lit(1))
            ).alias("mean_inertia"),
        )
        .select(
            "cluster_id",
            "n_vecs",
            "min_vec",
            F.round("mean_inertia", 6).alias("mean_inertia"),
        )
    )


def semantic_dedup(
    embeddings: DataFrame,
    *,
    k: int = 4,
    iters: int = 2,
    threshold: float = 0.35,
) -> DataFrame:
    """SemDeDup-style semantic near-duplicate pruning (Abbas et al.
    2023, arXiv:2303.09540): cluster the corpus embeddings with the
    deterministic Lloyd fit, elect each cluster's REPRESENTATIVE (the
    lowest vec_id — content-independent and replayable), and flag every
    other member whose cosine to the representative clears
    ``threshold`` as a semantic duplicate. Returns per-cluster pruning
    stats: (cluster_id, rep_vec, n_members, n_dups, n_kept, first_dup)
    with ``first_dup`` = lowest flagged vec_id or -1.

    The real SemDeDup compares all within-cluster pairs; comparing to
    one representative is the scale-safe variant — the k-row
    representative table broadcasts (bounded by k, NEVER O(|corpus|),
    the r5 broadcast rule) and each member is scored in one map-side
    pass, so the only corpus-sized work beyond the fit itself is one
    broadcast join + one aggregate. Cosines divide exact integer dot
    products by exact integer norms (operators/similarity.py
    quantization), so the threshold compare is bit-identical in any
    engine — same determinism contract as q_dedup_embedding's 0.35
    cut, no quantization needed.

    The reference (DataFusion WASM binding, src/core.rs:34-99) has no
    clustering surface; UNNEST-decomposed oracle twin:
    queries/analytics5.py:q_dedup_semantic."""
    from datafusion_wasm_bindings_spark.operators.similarity import _dot

    assigned, _ = fit_kmeans(embeddings, k=k, iters=iters)
    # SINGLE-SCAN RULE (CLAUDE.md wave-13): the assignment feeds THREE
    # consumers (rep election, the representative-vector lookup, and
    # the member scoring join) — without a lineage cut each one re-runs
    # the whole k-means fit assignment pass (BASELINE probe: the
    # re-derived fit was ~half of the 11.4 s at 500k×32; VERDICT r5 #6)
    a = assigned.select("vec_id", "x", "cid").withColumn(
        "ssx", _norm2(F.col("x"))
    ).transform(cut)
    reps = a.groupBy("cid").agg(F.min("vec_id").alias("rep_vec"))
    repv = reps.join(
        a.select(
            F.col("vec_id").alias("rep_vec"),
            F.col("x").alias("rx"),
            F.col("ssx").alias("rss"),
        ),
        "rep_vec",
    )
    j = a.join(F.broadcast(repv), "cid")
    # try_divide: a zero-quantized member (or representative) has no
    # cosine — NULL, never an ANSI DIVIDE_BY_ZERO abort. NULL makes
    # `dup` NULL, which every aggregate below skips, so the zero
    # vector stays a counted cluster MEMBER that is never pruned —
    # DuckDB's native x/0 → NULL division matches bit-for-bit
    # (adversarial extremes replay, r6).
    cos = F.try_divide(_dot(F.col("x"), F.col("rx")), F.sqrt(F.col("ssx") * F.col("rss")))
    dup = (F.col("vec_id") != F.col("rep_vec")) & (cos >= F.lit(threshold))
    return (
        j.groupBy(F.col("cid").alias("cluster_id"))
        .agg(
            F.min("rep_vec").alias("rep_vec"),
            F.count(F.lit(1)).cast("long").alias("n_members"),
            F.sum(dup.cast("long")).cast("long").alias("n_dups"),
            F.coalesce(F.min(F.when(dup, F.col("vec_id"))), F.lit(-1))
            .cast("long")
            .alias("first_dup"),
        )
        .select(
            "cluster_id",
            "rep_vec",
            "n_members",
            "n_dups",
            (F.col("n_members") - F.col("n_dups")).cast("long").alias("n_kept"),
            "first_dup",
        )
    )


def kmeans_quality(
    embeddings: DataFrame,
    *,
    k: int = 4,
    iters: int = 2,
) -> DataFrame:
    """Davies-Bouldin cluster-quality index over the fitted clustering:
    DB = mean_i max_{j≠i} (S_i + S_j) / M_ij with S_i the mean
    Euclidean distance to the centroid and M_ij the centroid-centroid
    distance — the internal validation score a clustering-based
    curation step (SemDeDup-style pruning, topic balancing) gates on.

    Everything is derived from the exact fit state: per-row distances
    are IEEE functions of exact integer sums (engine-identical), S_i
    sums per-row DECIMAL-quantized square roots (order-independent),
    and the k-row centroid matrix computes M_ij from the exact integer
    centroid state — the pair ratios quantize before the max/mean.
    S_i and the final DB surface RAW (CLAUDE.md pitfall h: quotients
    of 6-decimal sums over counts are midpoint-prone).

    Scale shape: the only corpus-sized work is the fit itself plus one
    more per-cluster aggregate; the pair matrix is k² rows."""
    assigned, centroids = fit_kmeans(embeddings, k=k, iters=iters)
    spark = embeddings.sparkSession
    # SINGLE-SCAN RULE (CLAUDE.md wave-13, r13 fix): si feeds THREE
    # consumers below — the sa and sb broadcast builds and the final
    # join — and each consumer's plan branch re-ran the corpus-sized
    # assignment+aggregate from the checkpointed fit input (measured
    # at sf0.1: the formatted plan shrank 16 HashAggregate nodes → 4,
    # warm wall 17.0 → 3.4 s median-of-3; job count unchanged at 13 —
    # the win is each broadcast job reading k rows instead of the
    # corpus). si is k rows — the cut materializes the
    # same exact decimal-sum values once and every consumer reads the
    # k-row RDD.
    si = (
        assigned.groupBy(F.col("cid").alias("cluster_id"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_vecs"),
            (
                F.sum(F.sqrt(F.col("inertia")).cast("decimal(18,6)")).cast("double")
                / F.count(F.lit(1))
            ).alias("s_mean"),
        )
        .transform(cut)
    )
    # The k×k centroid-pair distance matrix is computed DRIVER-SIDE in
    # exact Python ints + one nearest-double conversion per term: the
    # pair dot Σ s_i·s_j squares per-dim SUMS, which overflows an int64
    # zip-fold once sums pass ~3e9 (the r8 semdedup_xl probe measured
    # 1.2e19 products at 2M vectors — an ANSI abort in the old
    # DataFrame fold). Expression order replicates the oracle's
    # ``sqrt(CAST(ss AS DOUBLE)/(n*n) + … − 2*CAST(dot AS DOUBLE)/
    # (na*nb))`` term-for-term — each float() is the same single
    # rounding DuckDB's HUGEINT→DOUBLE cast performs, so the doubles
    # are bit-identical. Driver work is k² pairs over k×dims ints —
    # the same bounded centroid state the fit already holds.
    import math

    stats = {int(cid): ([int(x) for x in s], int(n)) for cid, s, n in centroids}
    prow = []
    for ca, (s_a, n_a) in stats.items():
        ss_a = sum(x * x for x in s_a)
        for cb, (s_b, n_b) in stats.items():
            if ca == cb:
                continue
            ss_b = sum(x * x for x in s_b)
            dot = sum(x * y for x, y in zip(s_a, s_b))
            m2 = (
                float(ss_a) / float(n_a * n_a)
                + float(ss_b) / float(n_b * n_b)
                - 2.0 * float(dot) / float(n_a * n_b)
            )
            # F.sqrt semantics: NaN below zero (exact-coincident
            # centroids after rounding), never an error
            prow.append((ca, cb, math.sqrt(m2) if m2 >= 0 else float("nan")))
    pairs = spark.createDataFrame(prow, "ca long, cb long, mdist double")
    sa = si.select(F.col("cluster_id").alias("ca"), F.col("s_mean").alias("s_a"))
    sb = si.select(F.col("cluster_id").alias("cb"), F.col("s_mean").alias("s_b"))
    r = (
        pairs.join(F.broadcast(sa), "ca")
        .join(F.broadcast(sb), "cb")
        .groupBy(F.col("ca").alias("cluster_id"))
        .agg(
            F.max((F.col("s_a") + F.col("s_b")) / F.col("mdist"))
            .cast("decimal(18,6)")
            .cast("double")
            .alias("r_i")
        )
    )
    from pyspark.sql import Window

    w = Window.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    return (
        si.join(r, "cluster_id")
        .select(
            "cluster_id",
            "n_vecs",
            "s_mean",
            "r_i",
            (
                F.sum(F.col("r_i").cast("decimal(18,6)")).over(w).cast("double")
                / F.count(F.lit(1)).over(w)
            ).alias("db_index"),
        )
    )
