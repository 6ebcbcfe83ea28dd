"""Similarity search over embedding columns (array<float>).

North-star extension (BASELINE.json): brute-force cosine top-k as the
exactness baseline, plus an LSH-bucketed variant as the scale path.

Numeric determinism for oracle checking: embeddings are float32; dot
products summed in different orders diverge in the last bits. All
*checked* scores therefore quantize each component to an integer
(round(x*1000)) so dot products and norms are exact int64 sums —
identical in Spark and DuckDB — and the final cosine is one IEEE
division/sqrt on exact integers. The unquantized float path is the
same plan shape.

Design for 100 TB:
- query set is small → broadcast it; the corpus never shuffles for
  scoring (map-side nested loop over a broadcast list).
- top-k per query via window row_number over (score desc) — at scale,
  per-partition partial top-k (AQE handles via TakeOrdered when the
  query set is 1; for many queries the window shuffles only
  (query_id, score) pairs, not vectors).
- the LSH variant buckets by random-hyperplane sign bits so each
  probe touches ~corpus/2^bits candidates.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from datafusion_wasm_bindings_spark.operators.checkpoint import cut


def quantized(col: F.Column, scale: int = 1000) -> F.Column:
    """array<float> → array<bigint> with deterministic per-component
    rounding (same IEEE double in every engine)."""
    return F.transform(col, lambda x: F.round(x.cast("double") * scale).cast("long"))


def _dot(a: F.Column, b: F.Column) -> F.Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y), F.lit(0).cast("long"), lambda acc, v: acc + v
    )


def _norm2(a: F.Column) -> F.Column:
    return F.aggregate(F.transform(a, lambda x: x * x), F.lit(0).cast("long"), lambda acc, v: acc + v)


def nonzero_vectors(embeddings: DataFrame) -> DataFrame:
    """Cosine-population contract: the zero(-quantized) vector has no
    direction — it cannot rank in cosine space, its norm divides to an
    ANSI DIVIDE_BY_ZERO, and it is excluded from every cosine-scored
    population exactly like a NULL embedding (adversarial extremes
    replay, r6). The check runs on the QUANTIZED grid so it matches
    the oracles' integer-norm CTEs bit-for-bit."""
    v = embeddings.withColumn("__n2", _norm2(quantized(F.col("embedding"))))
    return v.filter(F.col("__n2") > 0).drop("__n2")


def cosine_topk_bruteforce(
    embeddings: DataFrame,
    *,
    query_ids: list[int],
    k: int = 3,
) -> DataFrame:
    """Exact cosine top-k of every corpus vector against each query
    vector (quantized for cross-engine determinism).

    Plan: broadcast the |Q| query vectors, map-side score every corpus
    row (no shuffle), then one shuffle on query_id for the top-k
    window. Scales linearly in corpus size.
    """
    # quantize + norm ONCE per row (expensive-HOF materialization
    # rule), then filter the zero-quantized vectors out of the cosine
    # population (nonzero_vectors contract, r6). Precomputing the
    # norms here also moves them out of the scoring join — the old
    # inline _norm2 re-folded both arrays PER PAIR, O(pairs × dims)
    # instead of O(rows × dims).
    base = (
        embeddings.select("vec_id", quantized(F.col("embedding")).alias("qv"))
        .withColumn("n2", _norm2(F.col("qv")))
        .filter(F.col("n2") > 0)
    )
    q = base.filter(F.col("vec_id").isin(query_ids)).select(
        F.col("vec_id").alias("query_id"),
        F.col("qv"),
        F.col("n2").alias("qn2"),
    )
    c = base.select(
        F.col("vec_id").alias("cand_id"),
        F.col("qv").alias("cv"),
        F.col("n2").alias("cn2"),
    )
    scored = (
        c.join(F.broadcast(q), F.col("cand_id") != F.col("query_id"))
        .withColumn("dot", _dot(F.col("qv"), F.col("cv")))
        .withColumn("cos", F.col("dot") / F.sqrt(F.col("qn2") * F.col("cn2")))
    )
    from pyspark.sql import Window

    w = Window.partitionBy("query_id").orderBy(
        F.col("cos").desc(), F.col("cand_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "cand_id", "rank", F.round("cos", 6).alias("cos"))
    )


def cosine_pairs_threshold(embeddings: DataFrame, *, threshold: float = 0.8, max_id: int | None = None) -> DataFrame:
    """Embedding-cosine near-duplicate pairs above a threshold
    (quantized — exact cross-engine). Used by the dedup suite."""
    e = embeddings if max_id is None else embeddings.filter(F.col("vec_id") <= max_id)
    # quantize + norm once per row, filter zero-norm (nonzero_vectors
    # contract) — norms precomputed out of the pair join (r6)
    v = (
        e.select("vec_id", quantized(F.col("embedding")).alias("qv"))
        .withColumn("n2", _norm2(F.col("qv")))
        .filter(F.col("n2") > 0)
    )
    a, b = v.alias("a"), v.alias("b")
    return (
        a.join(b, F.col("a.vec_id") < F.col("b.vec_id"))
        .withColumn("dot", _dot(F.col("a.qv"), F.col("b.qv")))
        .withColumn(
            "cos", F.col("dot") / F.sqrt(F.col("a.n2") * F.col("b.n2"))
        )
        .filter(F.col("cos") >= threshold)
        .select(
            F.col("a.vec_id").alias("id_a"),
            F.col("b.vec_id").alias("id_b"),
            F.round("cos", 6).alias("cos"),
        )
    )


def _hyperplane_buckets(vec: F.Column, *, planes: int, tables: int, seed: int) -> F.Column:
    """array<table-bucket-id> for multi-table random-hyperplane LSH.

    Hyperplane (t, h) assigns bit sign(Σ_d w·x_d) with pseudo-random ±1
    weights w = murmur3(t, h, d) parity — fully deterministic, no stored
    model. Shared by the ANN probe path (lsh_bucketed_topk) and the
    near-dup pair path (cosine_pairs_lsh)."""

    def signed_flip(t: int, h: int):
        def fn(x: F.Column, i: F.Column) -> F.Column:
            return F.when(
                F.pmod(F.hash(F.lit(seed + t * 131 + h), i), F.lit(2)) == 1, x
            ).otherwise(-x)

        return fn

    per_table = []
    for t in range(tables):
        bits = []
        for h in range(planes):
            proj = F.aggregate(
                F.zip_with(vec, F.sequence(F.lit(0), F.size(vec) - 1), signed_flip(t, h)),
                F.lit(0.0),
                lambda acc, v: acc + v,
            )
            bits.append(F.when(proj >= 0, F.lit(1 << h)).otherwise(F.lit(0)))
        per_table.append(sum(bits[1:], bits[0]))
    return F.array(*per_table)


def cosine_pairs_lsh(
    embeddings: DataFrame,
    *,
    threshold: float = 0.8,
    max_id: int | None = None,
    planes: int = 2,
    tables: int = 16,
    seed: int = 42,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs above a threshold, with
    LSH-bucketed candidate generation instead of the all-pairs join
    (VERDICT r2 "What's wrong" #3: the all-pairs `a.vec_id < b.vec_id`
    shape dies at 100×; this is the scale path).

    Plan: bucket every vector into ``tables`` hyperplane tables
    (map-side, no shuffle beyond the index materialization) → self-join
    within (table, bucket) for candidate ids → distinct pairs → re-join
    the quantized vectors by id → ONE exact cosine per pair → filter.
    Compare cost is Σ_buckets n_b² ≪ n²; the distinct-pair shuffle
    carries only id pairs, never vectors.

    Recall: a pair at angle θ agrees per bit with p = 1 − θ/π and is
    caught with 1 − (1 − p^planes)^tables. ``planes`` trades bucket
    size against recall at the target threshold: near-dup thresholds
    (≥0.8, p ≥ 0.80) support planes=8+ with tiny buckets; the fixture's
    deliberately-low 0.35 threshold (p ≈ 0.61) needs planes=2/tables=16
    (pair-miss ≈ 2e-5). Deterministic seed ⇒ the all-pairs DuckDB
    oracle doubles as a 100%-recall check: any missed pair turns the
    driver row red (measured green at sf0.001/0.01/0.1).

    Mirrors the reference's similarity-join surface (reference
    src/lib.rs exposes DataFusion SQL only; this extension adds the
    pipeline capability Spark-first)."""
    e = embeddings if max_id is None else embeddings.filter(F.col("vec_id") <= max_id)
    # quantize + norm once per row, filter zero-norm (nonzero_vectors
    # contract) — the norm rides along so the candidate verify below
    # never re-folds arrays per pair (r6)
    v = (
        e.select("vec_id", quantized(F.col("embedding")).alias("qv"))
        .withColumn("n2", _norm2(F.col("qv")))
        .filter(F.col("n2") > 0)
    )
    # materialize: bucket projection is an interpreted HOF referenced by
    # both join sides (repo convention — see operators/dedup.py); the
    # bucketed table is what a persisted near-dup index looks like
    buckets = v.select(
        "vec_id",
        F.posexplode(
            _hyperplane_buckets(
                F.transform(F.col("qv"), lambda x: x.cast("double")),
                planes=planes,
                tables=tables,
                seed=seed,
            )
        ).alias("t", "bucket"),
    ).transform(cut)
    a, b = buckets.alias("a"), buckets.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.t") == F.col("b.t"))
            & (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col("a.vec_id") < F.col("b.vec_id")),
        )
        .select(F.col("a.vec_id").alias("id_a"), F.col("b.vec_id").alias("id_b"))
        .distinct()
    )
    va = v.select(
        F.col("vec_id").alias("id_a"), F.col("qv").alias("va"), F.col("n2").alias("na")
    )
    vb = v.select(
        F.col("vec_id").alias("id_b"), F.col("qv").alias("vb"), F.col("n2").alias("nb")
    )
    return (
        pairs.join(va, "id_a")
        .join(vb, "id_b")
        .withColumn("dot", _dot(F.col("va"), F.col("vb")))
        .withColumn("cos", F.col("dot") / F.sqrt(F.col("na") * F.col("nb")))
        .filter(F.col("cos") >= threshold)
        .select("id_a", "id_b", F.round("cos", 6).alias("cos"))
    )


def _sq_dist(a: F.Column, b: F.Column) -> F.Column:
    """Squared L2 distance between two array<double> columns."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: (x - y) * (x - y)),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def _norm2d(a: F.Column) -> F.Column:
    """Double squared norm of an array<double> column."""
    return F.aggregate(
        F.transform(a, lambda x: x * x), F.lit(0.0), lambda acc, v: acc + v
    )


def _nearest_idx(sv, cb_arr, ss_arr, n: int):
    """Shared argmin core of the r8 map-side index builds: the index
    i < n minimizing ss_arr[i] − 2·sv·cb_arr[i] (= ‖c_i‖² − 2·sv·c_i;
    ‖sv‖² is row-constant and drops out of the argmin), as an
    array_min over (score, i) structs. Ties break to the LOWEST index
    (struct compare), deterministic where a min_by would be
    unspecified. All three args are Columns reading broadcast DATA —
    inlined literal matrices bloated task binaries past a megabyte and
    re-initialized per task (measured seconds of fixed cost/pass)."""
    return F.array_min(
        F.transform(
            F.sequence(F.lit(0), F.lit(n - 1)),
            lambda i: F.struct(
                (
                    F.get(ss_arr, i)
                    - 2.0
                    * F.aggregate(
                        F.zip_with(sv, F.get(cb_arr, i), lambda a, b: a * b),
                        F.lit(0.0),
                        lambda acc, x: acc + x,
                    )
                ).alias("d"),
                i.cast("long").alias("i"),
            ),
        )
    )["i"]


# training rows scored at once by _lloyd_round: driver memory is
# O(block × cells), not O(n_train × cells) (4096 cells × 204,800 rows
# unblocked = a 6.7 GB score matrix)
_LLOYD_BLOCK = 1024


def _train_matrix(base: DataFrame, n_train: int):
    """The bounded train sample — the ``n_train`` lowest vec_ids, in
    vec_id order — as ONE driver-side n × dim float64 matrix, collected
    by one corpus TakeOrdered; None for an empty corpus. Vectors of
    unequal length cannot form the matrix: the first one whose length
    differs from the lowest vec_id's is rejected by id."""
    import numpy as np

    rows = base.orderBy("vec_id").limit(n_train).collect()
    if not rows:
        return None
    dim = len(rows[0]["v"])
    for r in rows:
        if len(r["v"]) != dim:
            raise ValueError(
                f"training vector vec_id={r['vec_id']} has {len(r['v'])} "
                f"dims, vec_id={rows[0]['vec_id']} has {dim}"
            )
    return np.array([r["v"] for r in rows], dtype=np.float64)


def _lloyd_round(X, C):
    """One Lloyd round on the driver: assign every row of ``X`` (n ×
    dim) to its nearest centroid of ``C`` (k × dim) and return each
    cell's member mean (k × dim; NaN where empty) and member count (k).

    It replays the Spark-side fit's IEEE sequence exactly — the
    ``_nearest_idx`` argmin, then a per-cell avg over the vec_id-ordered
    sample — pinned bit for bit by tests/test_operators.py::
    test_driver_lloyd_fit_matches_spark_fit:

    - score ‖c‖² − 2.0·x·c, the dot and ‖c‖² each a left fold over
      dims, one multiply and one add per step (``X @ C.T`` would block
      the sum and may fuse multiply-add, which changes the bits);
    - ties go to the lowest index; NaN sorts greatest (a finite score
      or a real +inf beats an earlier NaN); an all-NaN row goes to 0;
    - sums start at −0.0, the IEEE additive identity, and add rows in
      order (``np.add.at``): Spark Sum's assign-first rule, −0.0 kept.
    """
    import numpy as np

    k, dim = C.shape
    sums = np.full((k, dim), -0.0)
    counts = np.zeros(k, dtype=np.int64)
    # inf/NaN inputs give IEEE inf/NaN scores and sums, as in Spark
    with np.errstate(all="ignore"):
        css = np.zeros(k)
        for j in range(dim):
            css += C[:, j] * C[:, j]
        for lo in range(0, len(X), _LLOYD_BLOCK):
            xb = X[lo : lo + _LLOYD_BLOCK]
            acc = np.zeros((len(xb), k))
            for j in range(dim):
                acc += xb[:, j, None] * C[None, :, j]
            score = css - 2.0 * acc
            masked = np.where(np.isnan(score), np.inf, score)
            cell = masked.argmin(axis=1)
            # +inf minimum: either a real +inf (the first one wins over
            # any NaN) or an all-NaN row (cell 0)
            top = masked[np.arange(len(xb)), cell] == np.inf
            if top.any():
                real = score[top] == np.inf
                cell[top] = np.where(real.any(axis=1), real.argmax(axis=1), 0)
            np.add.at(sums, cell, xb)
            counts += np.bincount(cell, minlength=k)
        means = sums / counts[:, None]
    return means, counts


def _assign_cells(base: DataFrame, cents: list[list[float]]) -> DataFrame:
    """Nearest-centroid assignment as a PURE MAP: the centroid matrix
    (cells × dims doubles + per-cell ‖c‖²) rides in as a ONE-ROW
    broadcast (the allowed scalar-attachment shape) and the nearest
    cell is the _nearest_idx argmin projection. ZERO shuffle, zero row
    expansion; cell ids are matrix positions 0..m−1."""
    spark = base.sparkSession
    ss = [float(sum(x * x for x in cv)) for cv in cents]
    cmat = F.broadcast(
        spark.createDataFrame(
            [(cents, ss)], "cm array<array<double>>, css array<double>"
        )
    )
    return (
        base.crossJoin(cmat)
        .withColumn(
            "cell",
            _nearest_idx(F.col("v"), F.col("cm"), F.col("css"), len(cents)),
        )
        .drop("cm", "css")
    )


def ivf_index(
    embeddings: DataFrame,
    *,
    n_centroids: int = 8,
    lloyd_iters: int = 2,
    train_sample: int | None = None,
) -> tuple[DataFrame, DataFrame]:
    """Build an IVF (inverted-file) coarse quantizer: mini k-means with
    deterministic init (the ``n_centroids`` lowest vec_ids seed the
    centroids), Lloyd iterations over a bounded deterministic TRAINING
    SAMPLE (the ``train_sample`` lowest vec_ids, default
    max(10_000, 50·cells) — standard IVF practice: the quantizer needs
    a distribution sketch, not the corpus; see the SAMPLE-ORDER CAVEAT
    in the body for the id-correlation assumption), then ONE
    full-corpus assignment pass.

    Returns ``(assignments, centroids)``:
    ``assignments``: vec_id, cell, v (array<double>) — materialized,
    this IS the index a real deployment persists (partitioned by cell);
    ``centroids``: cell, cv (array<double>) — tiny, broadcast at probe
    time.

    Scale (r8 rewrite, measured by scale probe `ann_xl`): assignment is a PURE
    MAP — the centroid state (cells × dims doubles, the same bounded
    driver state operators/clustering.py holds) ships as a one-row
    broadcast and the nearest cell is an argmin projection
    (_assign_cells / _nearest_idx). The old
    shape crossJoined the corpus against the centroid table and
    groupBy(vec_id)-reduced it back: a full-corpus SHUFFLE of the
    vector payload per Lloyd pass ((iters+1)× at any scale) that made
    the 40k→400k exponent 1.14 at 68.7 s; the rewrite removes every
    corpus shuffle from the build (update sums are cells×dims partial
    aggregates; the train sample bounds iteration cost corpus-
    independently). Lloyd iterations are index-build cost, amortized
    across every query served."""
    base = embeddings.select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    ).filter(
        F.col("v").isNotNull() & ~F.exists("v", lambda x: x.isNull())
    )
    # NULL embeddings — and vectors carrying a NULL ELEMENT — are OUT
    # of the index population (the old explode-based build skipped
    # whole-NULL implicitly; unfiltered either class would seed a
    # driver TypeError (float(None)) or rank FIRST downstream via NULL
    # scores under ASC NULLS FIRST — r8/r9 review findings)
    n_train = train_sample or max(10_000, 50 * n_centroids)
    # ONE corpus TakeOrdered collects the WHOLE bounded train sample to
    # the driver (r13 job fold, guide §1.2/§5): the sample is
    # driver-scale state BY DESIGN (standard IVF practice — the
    # quantizer needs a distribution sketch, not the corpus), so the
    # seed pick and every Lloyd round run as driver code instead of
    # one Spark job each (was: checkpoint job + seeds job + a
    # collect per Lloyd round). Each round is one vectorized
    # _lloyd_round, which replays the Spark expressions' exact IEEE
    # sequences over the vec_id-ordered sample, pinned bit-identical to
    # the Spark-side fit by
    # tests/test_operators.py::test_driver_lloyd_fit_matches_spark_fit.
    # SAMPLE-ORDER CAVEAT (ADVICE r8, resolved r9 by measurement): the
    # deterministic lowest-vec_id prefix assumes ids are UNCORRELATED
    # with vector content; on a corpus where content tracks id
    # (time-ordered ingest, per-source id blocks) pass train_sample
    # large enough to span the distribution or decorrelate ids
    # upstream. Three decorrelation attempts were REVERTED on
    # measurement: xxhash64-ordered sampling dropped planted-partner
    # recall at the 400k probe (quantizer-seed lottery — q5's partner
    # lost at 96 cells/probe 4) AND fixture recall@3 below the 2/3
    # contract; hash-prefix seeds and farthest-point seeding both
    # degraded fixture recall (outlier-chasing). The prefix sample is
    # the only variant with verified recall at every scale tested.
    X = _train_matrix(base, n_train)
    spark = embeddings.sparkSession
    if X is None:
        # EMPTY corpus: typed empty index (empty-mode replay r7 — never
        # build an argmin over zero choices)
        empty_a = spark.createDataFrame(
            [], "vec_id bigint, v array<double>, cell bigint"
        )
        empty_c = spark.createDataFrame([], "cell bigint, cv array<double>")
        return empty_a, empty_c
    cents = X[:n_centroids]
    for _ in range(lloyd_iters):
        means, counts = _lloyd_round(X, cents)
        cents = means[counts > 0]  # empty cells drop, the rest renumber
    cents = cents.tolist()
    assignments = cut(_assign_cells(base, cents))
    centroids = spark.createDataFrame(
        [(cell, cv) for cell, cv in enumerate(cents)],
        "cell long, cv array<double>",
    )
    return assignments, centroids


def ivf_topk(
    embeddings: DataFrame,
    *,
    query_ids: list[int],
    k: int = 3,
    n_centroids: int = 8,
    n_probe: int = 2,
    lloyd_iters: int = 2,
) -> DataFrame:
    """ANN top-k via IVF: probe the ``n_probe`` nearest cells per query,
    exact cosine re-score inside the probed cells only.

    Complement to the hyperplane-LSH path: IVF adapts to the data
    distribution (k-means cells) where LSH is data-independent. Probing
    touches ~corpus × n_probe / n_centroids vectors; recall is
    probabilistic → rows-only oracle, recall bound asserted in
    tests/test_operators.py.
    """
    assignments, centroids = ivf_index(
        nonzero_vectors(embeddings), n_centroids=n_centroids, lloyd_iters=lloyd_iters
    )
    # per-row norms computed once on the (checkpointed) assignment
    # table — the old inline folds re-ran both norms PER SCORED PAIR
    # (r6, same fix as cosine_topk_bruteforce)
    assignments = assignments.withColumn("n2v", _norm2d(F.col("v")))
    q = assignments.filter(F.col("vec_id").isin(query_ids)).select(
        F.col("vec_id").alias("query_id"),
        F.col("v").alias("qv"),
        F.col("n2v").alias("qn2"),
    )
    probe_w = Window.partitionBy("query_id").orderBy(F.col("d2").asc(), F.col("cell").asc())
    probes = (
        q.crossJoin(F.broadcast(centroids))
        .withColumn("d2", _sq_dist("qv", "cv"))
        .withColumn("pr", F.row_number().over(probe_w))
        .filter(F.col("pr") <= n_probe)
        .select("query_id", "qv", "qn2", "cell")
    )
    cands = assignments.join(F.broadcast(probes), "cell").filter(
        F.col("vec_id") != F.col("query_id")
    )
    scored = cands.withColumn(
        "cos",
        F.aggregate(F.zip_with("v", "qv", lambda x, y: x * y), F.lit(0.0), lambda a, b: a + b)
        / (F.sqrt(F.col("n2v")) * F.sqrt(F.col("qn2"))),
    )
    w = Window.partitionBy("query_id").orderBy(F.col("cos").desc(), F.col("vec_id").asc())
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", F.col("vec_id").alias("cand_id"), "rank", F.round("cos", 6).alias("cos"))
    )


def lsh_bucketed_topk(
    embeddings: DataFrame,
    *,
    query_ids: list[int],
    k: int = 3,
    planes: int = 4,
    tables: int = 8,
    seed: int = 42,
) -> DataFrame:
    """ANN top-k via multi-table random-hyperplane LSH.

    ``tables`` independent hash tables, each of ``planes`` hyperplanes;
    hyperplane (t, h) assigns bit sign(Σ_d w·x_d) with pseudo-random ±1
    weights w = murmur3(t, h, d) parity — fully deterministic, no
    stored model. Candidates = union over tables of corpus vectors
    sharing the query's bucket, deduped, re-scored exactly. Recall ≈
    1-(1-p^planes)^tables for per-bit agreement p — the standard L-table
    amplification (a single table at planes=4 measured recall@3 ≈ 0.2
    on the fixture; 8 tables ≈ 1.0).

    At 100 TB the bucket index is |corpus|×tables (vec_id, bucket)
    pairs — the classic LSH space/recall trade — shuffled on a small
    (table, bucket) key; probing is a broadcast join on bucket ids.
    """

    base = (
        nonzero_vectors(embeddings)
        .select(
            "vec_id",
            F.col("embedding").cast("array<double>").alias("v"),
        )
        # per-row norm computed once, BEFORE the bucket explode and
        # the checkpoint — the old inline folds re-ran both norms per
        # scored candidate pair (r6)
        .withColumn("n2v", _norm2d(F.col("v")))
        .select(
            "vec_id",
            "v",
            "n2v",
            F.posexplode(
                _hyperplane_buckets(F.col("v"), planes=planes, tables=tables, seed=seed)
            ).alias("t", "bucket"),
        )
        # materialize: both the query side and the candidate side read
        # this subtree; without a lineage cut the (interpreted
        # higher-order-function) bucket projection runs twice over the
        # corpus. The bucketed table is what a real ANN index persists.
        .transform(cut)
    )

    q = base.filter(F.col("vec_id").isin(query_ids)).select(
        F.col("vec_id").alias("query_id"),
        F.col("v").alias("qv"),
        F.col("n2v").alias("qn2"),
        F.col("t").alias("qt"),
        F.col("bucket").alias("qb"),
    )
    cands = (
        base.join(
            F.broadcast(q),
            (F.col("t") == F.col("qt"))
            & (F.col("bucket") == F.col("qb"))
            & (F.col("vec_id") != F.col("query_id")),
        )
        # union over tables: score each (query, candidate) pair once
        .groupBy("query_id", "vec_id")
        .agg(
            F.first("v").alias("v"),
            F.first("n2v").alias("n2v"),
            F.first("qv").alias("qv"),
            F.first("qn2").alias("qn2"),
        )
    )
    scored = cands.withColumn(
        "cos",
        F.aggregate(F.zip_with("v", "qv", lambda x, y: x * y), F.lit(0.0), lambda a, b: a + b)
        / (F.sqrt(F.col("n2v")) * F.sqrt(F.col("qn2"))),
    )
    from pyspark.sql import Window

    w = Window.partitionBy("query_id").orderBy(F.col("cos").desc(), F.col("vec_id").asc())
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", F.col("vec_id").alias("cand_id"), "rank", F.round("cos", 6).alias("cos"))
    )


def _deletion_signatures(w: F.Column, max_dist: int) -> F.Column:
    """FastSS deletion neighborhood (Bocek et al. 2007): the distinct
    strings reachable from ``w`` by deleting up to ``max_dist``
    characters (max_dist ∈ {1, 2}). Soundness of the blocking:
    lev(a, b) ≤ d ⟹ an optimal alignment's edits can be projected to
    ≤ d deletions on EACH side reaching a common string (substitution →
    delete the aligned char from both; insertion/deletion → delete the
    extra char from the side that has it), so every true pair shares at
    least one signature. False candidates are discarded by the exact
    levenshtein filter downstream."""
    L = F.length(w)
    one = F.lit(1)
    # guarded like del2: sequence(1, 0) on an EMPTY word would step
    # DOWN and fabricate index 0 (ADVICE r9 — previously only harmless
    # by accident of substr's negative-length-to-empty behavior)
    del1 = F.when(
        L >= 1,
        F.transform(
            F.sequence(one, L),
            lambda i: F.concat(w.substr(one, i - 1), w.substr(i + 1, L)),
        ),
    ).otherwise(F.array().cast("array<string>"))
    sigs = F.concat(F.array(w), del1)
    if max_dist >= 2:
        # delete positions i < j; guarded — sequence(1, 0) would step
        # DOWN and fabricate indices on 1-char words
        del2 = F.when(
            L >= 2,
            F.flatten(
                F.transform(
                    F.sequence(one, L - 1),
                    lambda i: F.transform(
                        F.sequence(i + 1, L),
                        lambda j: F.concat(
                            w.substr(one, i - 1),
                            w.substr(i + 1, j - i - 1),
                            w.substr(j + 1, L),
                        ),
                    ),
                )
            ),
        ).otherwise(F.array().cast("array<string>"))
        sigs = F.concat(sigs, del2)
    return F.array_distinct(sigs)


def editdist_join(
    words: DataFrame,
    *,
    word_col: str = "w",
    max_dist: int = 2,
) -> DataFrame:
    """String-similarity self-join: all unordered pairs of distinct
    words within ``max_dist`` Levenshtein edits.

    Blocking (r9 rewrite): FastSS deletion-neighborhood signatures for
    max_dist ≤ 2 — each word registers under every string reachable by
    deleting ≤ d characters (1 + L + C(L,2) ≈ 70 signatures at L=10),
    candidates are exactly the pairs sharing a signature, deduped
    BEFORE the one exact levenshtein per pair. Candidate volume tracks
    true-near-match density, not vocabulary size: the r9 probe
    (scale probe `editdist_xl`) measured the previous length-band blocking
    QUADRATIC — Σ_L |L|·|L±d| is Θ(|V|²) once bands hold |V|/10 words;
    at 30k words the band join ran 194.8 s vs FastSS 1.4 s (identical
    pairs), and at 300k the band join was killed at 10 min where
    FastSS runs 6.7 s (measured exponent 0.69). For a
    100 TB corpus the distinct-token projection upstream is the
    map-side-combined heavy step; this join runs on the (always
    corpus-small) vocabulary. max_dist ≥ 3 falls back to length-band
    blocking (C(L,3) signature fan-out stops paying).

    Output: ``wa`` < ``wb``, ``dist`` (BIGINT) — row-identical to the
    all-pairs definition (property-tested vs the naive join).
    """
    w = F.col(word_col)
    if max_dist > 2:
        probe = words.select(w.alias("wb"), F.length(w).alias("block"))
        build = words.select(
            w.alias("wa"),
            F.explode(
                F.sequence(F.length(w) - max_dist, F.length(w) + max_dist)
            ).alias("block"),
        )
        return (
            build.join(probe, "block")
            .filter(F.col("wa") < F.col("wb"))
            .select(
                "wa",
                "wb",
                F.levenshtein("wa", "wb").cast("long").alias("dist"),
            )
            .filter(F.col("dist") <= max_dist)
        )
    sigs = words.select(
        w.alias("wx"),
        F.explode(_deletion_signatures(w, max_dist)).alias("sig"),
    )
    a, b = sigs.alias("a"), sigs.alias("b")
    pairs = (
        a.join(b, "sig")
        .filter(F.col("a.wx") < F.col("b.wx"))
        # a pair can share MANY signatures — dedup id pairs (strings
        # only, signatures dropped) before the exact distance
        .select(F.col("a.wx").alias("wa"), F.col("b.wx").alias("wb"))
        .distinct()
    )
    return pairs.select(
        "wa",
        "wb",
        F.levenshtein("wa", "wb").cast("long").alias("dist"),
    ).filter(F.col("dist") <= max_dist)


def l2_topk_bruteforce(
    embeddings: DataFrame,
    *,
    query_ids: list[int],
    k: int = 3,
) -> DataFrame:
    """Exact Euclidean top-k (integer-quantized squared distances —
    exact int64 arithmetic, engine-identical). Same broadcast-queries /
    no-corpus-shuffle plan as ``cosine_topk_bruteforce``; the exactness
    baseline for the PQ-ADC path, which approximates L2."""
    q = (
        embeddings.filter(F.col("vec_id").isin(query_ids))
        .select(F.col("vec_id").alias("query_id"), quantized(F.col("embedding")).alias("qv"))
    )
    corpus = embeddings.select("vec_id", quantized(F.col("embedding")).alias("cv"))
    d2 = F.aggregate(
        F.zip_with("cv", "qv", lambda x, y: (x - y) * (x - y)),
        F.lit(0).cast("long"),
        lambda acc, v: acc + v,
    )
    scored = (
        corpus.crossJoin(F.broadcast(q))
        .filter(F.col("vec_id") != F.col("query_id"))
        .withColumn("d2", d2)
    )
    w = Window.partitionBy("query_id").orderBy(F.col("d2").asc(), F.col("vec_id").asc())
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", F.col("vec_id").alias("cand_id"), "rank", "d2")
    )


def _encode_codes(
    base: DataFrame,
    books: list[list[list[float]]],
    sub_len: int,
) -> DataFrame:
    """PQ-encode as a PURE MAP: the full codebook state (m × n_codes ×
    sub_len doubles + per-(sub, code) ‖c‖²) rides in as a ONE-ROW
    broadcast and each vector's m codes are an argmin projection per
    subspace (score = ‖c‖² − 2·sv·c; ‖sv‖² is row-constant). The old
    shape exploded the corpus into m sub-rows, broadcast-joined the
    codebook TABLE (m × n_codes fan-out), and groupBy(vec_id,
    sub_id)-reduced it back — a corpus×m shuffle of subvector payloads
    per Lloyd pass plus one more for the final encode, and its seeding
    window (PARTITION BY sub_id = m partitions) was a low-cardinality
    fact window. Zero shuffles now; dead codes keep their slot so code
    ids never renumber. Ties break to the LOWEST code id."""
    spark = base.sparkSession
    m = len(books)
    css = [[float(sum(x * x for x in cv)) for cv in book] for book in books]
    cbm = F.broadcast(
        spark.createDataFrame(
            [(books, css)],
            "cbm array<array<array<double>>>, css array<array<double>>",
        )
    )
    n_codes = len(books[0])

    def best_code(i):  # i: subspace index Column; reads pre-sliced svs
        return _nearest_idx(
            F.get(F.col("svs"), i),
            F.get(F.col("cbm"), i),
            F.get(F.col("css"), i),
            n_codes,
        ).cast("int")

    # subvector slices materialize ONCE per row before the argmin: an
    # HOF lambda sits outside codegen subexpression elimination, so an
    # inlined slice would re-run per code candidate (n_codes× per
    # subspace — the CLAUDE.md materialization rule, measured on this
    # exact operator: 21.2 → ~15 s at 400k)
    sliced = base.crossJoin(cbm).select(
        "vec_id",
        "cbm",
        "css",
        F.transform(
            F.sequence(F.lit(0), F.lit(m - 1)),
            lambda i: F.slice(F.col("v"), i * sub_len + 1, sub_len),
        ).alias("svs"),
    )
    return sliced.select(
        "vec_id",
        F.posexplode(
            F.transform(
                F.sequence(F.lit(0), F.lit(m - 1)), lambda i: best_code(i)
            )
        ).alias("sub_id", "code"),
    )


def pq_index(
    embeddings: DataFrame,
    *,
    m_subspaces: int = 4,
    n_codes: int = 8,
    lloyd_iters: int = 1,
    train_sample: int | None = None,
) -> tuple[DataFrame, DataFrame, int]:
    """Product-quantization index (Jégou et al. 2011): split each
    vector into ``m_subspaces`` contiguous subvectors, learn a small
    per-subspace codebook (deterministic mini k-means over the
    ``train_sample`` lowest vec_ids, default max(10_000, 50·codes) —
    the same sample-training rationale and SAMPLE-ORDER CAVEAT as
    ``ivf_index``), and encode
    the corpus as m small codes. The m×n_codes codebook replaces
    dims×8 bytes per vector with m bytes — the memory trick that makes
    billion-vector ANN fit.

    Returns ``(codes, codebooks, sub_len)``: codes = (vec_id, sub_id,
    code) — the persisted index, m rows per vector; codebooks =
    (sub_id, code, cv) — tiny, broadcast at query time.

    Scale (r8 rewrite, see _encode_codes): codebook training touches
    only the bounded sample; the corpus is read ONCE for the final
    encode, a pure map with zero shuffles (the posexplode of the
    m-length code array is the only fan-out, and it carries ints, not
    subvectors)."""
    base = embeddings.select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    ).filter(
        F.col("v").isNotNull() & ~F.exists("v", lambda x: x.isNull())
    )
    # NULL embeddings — and vectors carrying a NULL ELEMENT — are OUT
    # of the index population (the old explode-based build skipped
    # whole-NULL via posexplode(NULL) emitting nothing; unfiltered
    # either class would seed a driver TypeError (float(None)) or rank
    # FIRST in the ADC window via NULL scores — r8/r9 review findings).
    # The dim probe reads the filtered population for the same reason.
    spark = embeddings.sparkSession
    n_train = train_sample or max(10_000, 50 * n_codes)
    # ONE corpus TakeOrdered collects the bounded train sample to the
    # driver (r13 job fold — see ivf_index for the full rationale and
    # the SAMPLE-ORDER CAVEAT): seeds, dimensionality, and every Lloyd
    # round are driver code (was: checkpoint job + seeds job + a
    # join+explode+avg collect per Lloyd round), one _lloyd_round per
    # subspace a round. Bit-identical to the Spark-side fit — pinned by
    # tests/test_operators.py::test_driver_lloyd_fit_matches_spark_fit.
    X = _train_matrix(base, n_train)
    if X is None:
        # EMPTY corpus: no dimensionality to probe, no codebook to
        # train — return typed empty frames so callers compose to an
        # empty result instead of crashing (empty-mode replay r7)
        codes = spark.createDataFrame(
            [], "vec_id bigint, sub_id int, code int"
        )
        cb = spark.createDataFrame(
            [], "sub_id int, code int, cv array<double>"
        )
        return codes, cb, 0
    # dimensionality read from the sample rows already on the driver —
    # the old separate first()-probe was one more full-plan job per
    # index build for a value the sample carries anyway (r12)
    sub_len = X.shape[1] // m_subspaces
    subs = [X[:, i * sub_len : (i + 1) * sub_len] for i in range(m_subspaces)]
    # books[sub][code] = sub_len doubles; seeded from the n_codes
    # lowest vec_ids' subvectors
    books = [sx[:n_codes].copy() for sx in subs]
    for _ in range(lloyd_iters):
        for sx, book in zip(subs, books):
            means, counts = _lloyd_round(sx, book)
            # codes with no members keep their previous centroid —
            # dead codes stay addressable, ids never renumber
            book[counts > 0] = means[counts > 0]
    books = [book.tolist() for book in books]
    codes = cut(_encode_codes(base, books, sub_len))
    cb = spark.createDataFrame(
        [
            (si, ci, cv)
            for si, book in enumerate(books)
            for ci, cv in enumerate(book)
        ],
        "sub_id int, code int, cv array<double>",
    )
    return codes, cb, sub_len


def pq_topk(
    embeddings: DataFrame,
    *,
    query_ids: list[int],
    k: int = 3,
    m_subspaces: int = 4,
    n_codes: int = 8,
    lloyd_iters: int = 1,
    rerank: int = 32,
) -> DataFrame:
    """ANN top-k via PQ asymmetric distance computation (ADC): the
    query stays EXACT; each corpus vector's distance is approximated by
    Σ_sub d²(q_sub, codebook[sub, code(vec, sub)]) — an m-entry table
    lookup per vector instead of a dims-length scan.

    Plan: the per-query distance TABLE (m × n_codes × |Q| rows) is
    computed against the broadcast codebook and itself broadcast; the
    codes relation joins it map-side and a (query, vec)-keyed
    combinable sum produces ADC — the corpus never moves vectors at
    query time, only (id, code) pairs. Completes the ANN triad: LSH
    (data-independent), IVF (coarse partitions), PQ (compressed
    exhaustive)."""
    codes, cb, sub_len = pq_index(
        embeddings,
        m_subspaces=m_subspaces,
        n_codes=n_codes,
        lloyd_iters=lloyd_iters,
    )
    base = embeddings.select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    )
    sub_len_expr = f"slice(v, sub_id * {sub_len} + 1, {sub_len})"
    q_subs = (
        base.filter(F.col("vec_id").isin(query_ids))
        .select(
            F.col("vec_id").alias("query_id"),
            F.explode(F.expr(f"sequence(0, {m_subspaces - 1})")).alias("sub_id"),
            F.col("v"),
        )
        .select("query_id", "sub_id", F.expr(sub_len_expr).alias("qsv"))
    )
    dtab = (
        q_subs.join(F.broadcast(cb), "sub_id")
        .select("query_id", "sub_id", "code", _sq_dist("qsv", "cv").alias("d2"))
    )
    cand = (
        codes.join(F.broadcast(dtab), ["sub_id", "code"])
        .filter(F.col("vec_id") != F.col("query_id"))
        .groupBy("query_id", "vec_id")
        .agg(F.sum("d2").alias("adc"))
    )
    # standard PQ deployment shape: ADC produces a SHORTLIST (top
    # ``rerank`` per query), then the shortlist alone is re-ranked with
    # exact distances — the corpus's full vectors are touched only for
    # |Q| x rerank rows, preserving the compressed-scan economics while
    # recovering the recall ADC's quantization error costs.
    w_adc = Window.partitionBy("query_id").orderBy(F.col("adc").asc(), F.col("vec_id").asc())
    shortlist = (
        cand.withColumn("__r", F.row_number().over(w_adc))
        .filter(F.col("__r") <= rerank)
        .select("query_id", "vec_id")
    )
    # The origin is a DEGENERATE PQ cell (VERDICT r6 #3): a codebook
    # trained on a hostile distribution can place the all-zero
    # subvector arbitrarily far from every centroid, so an exact point
    # mass at zero — a perfectly legitimate L2 neighbor, often the
    # true top-k when queries are far apart — may never surface in ADC
    # order. Route zero-quantized-norm corpus vectors AROUND the ADC
    # shortlist into the exact re-rank set, the L2 mirror of
    # nonzero_vectors' cosine gate (which excludes them from the
    # population instead). Bounded: at most ``rerank`` lowest-vec_id
    # such rows, crossed with the |Q|-row query list via broadcast
    # (BroadcastNestedLoopJoin, never a CartesianProduct) — the
    # re-rank set stays <= 2*rerank per query at any corpus size.
    zeros = (
        base.withColumn("__n2", _norm2(quantized(F.col("v"))))
        .filter(F.col("__n2") == 0)
        .orderBy(F.col("vec_id").asc())
        .limit(rerank)
        .select("vec_id")
    )
    zero_cands = (
        base.filter(F.col("vec_id").isin(query_ids))
        .select(F.col("vec_id").alias("query_id"))
        .crossJoin(F.broadcast(zeros))
        .filter(F.col("vec_id") != F.col("query_id"))
    )
    shortlist = shortlist.unionByName(zero_cands).distinct()
    qv = base.filter(F.col("vec_id").isin(query_ids)).select(
        F.col("vec_id").alias("query_id"), quantized(F.col("v")).alias("qv")
    )
    exact = (
        shortlist.join(base, "vec_id")
        .withColumn("cv", quantized(F.col("v")))
        .join(F.broadcast(qv), "query_id")
        .withColumn(
            "d2",
            F.aggregate(
                F.zip_with("cv", "qv", lambda x, y: (x - y) * (x - y)),
                F.lit(0).cast("long"),
                lambda acc, v: acc + v,
            ),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.col("d2").asc(), F.col("vec_id").asc())
    return (
        exact.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", F.col("vec_id").alias("cand_id"), "rank", "d2")
    )
