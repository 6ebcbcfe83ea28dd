"""North-star extension queries (SURVEY.md §7.6, BASELINE.json):
deduplication, similarity search, text analysis, multimodal columns,
event-time windows. Implementations live in operators/ and streaming/;
this module registers the oracle-checked entry points.

Oracle strategy per family (every query here carries a FULL value
check):
- relational algorithms (exact dedup, inverted-index Jaccard,
  quantized cosine, text stats, fingerprints, windows) →
  bit-deterministic by construction;
- hash-based algorithms (SimHash, md5 sampling) → engine-portable
  md5 hashing so DuckDB reproduces identical signatures;
- MinHash-LSH → oracle is the exact shingle-Jaccard pair set (valid
  while measured recall is 1.0 on the fixtures — see q_dedup_minhash);
- ANN (IVF / multi-table LSH) → per-query recall_ok booleans against
  the brute-force exact top-k; the oracle answers TRUE. Recall /
  containment property tests remain in tests/test_operators.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from datafusion_wasm_bindings_spark.operators.checkpoint import cut
from datafusion_wasm_bindings_spark.queries import QUERIES, query, sql_query
from datafusion_wasm_bindings_spark.queries._util import dsum_sql
from datafusion_wasm_bindings_spark.sources.catalog import table

_TOK = "regexp_extract_all(lower(text), '[a-z0-9]+')"


# ====================== deduplication =================================
def _dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    from datafusion_wasm_bindings_spark.operators.dedup import exact_dedup

    return exact_dedup(table(spark, sf_dir, "documents"))


query(
    "q_dedup_exact",
    """
    SELECT min(doc_id) AS keeper_id, count(*) AS n_copies
    FROM documents GROUP BY text
    """,
    tags=("extension", "dedup"),
)(_dedup_exact)


def _dedup_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    from datafusion_wasm_bindings_spark.operators.dedup import minhash_lsh_pairs

    return minhash_lsh_pairs(
        table(spark, sf_dir, "documents"), bands=8, rows_per_band=2, jaccard_threshold=0.5
    )


# Full oracle: the LSH output is {candidate pairs} ∩ {exact jaccard ≥
# 0.5}, which equals the plain exact pair set whenever LSH recall is 1.
# 8 bands × 2 rows at s=0.5 gives miss prob (1-s²)^8 ≈ 10% per
# borderline pair in theory, but the fixture's near-dup pairs sit far
# above the threshold: measured recall is exactly 1.0 at sf0.001/0.01/
# 0.1 (deterministic — signatures are seeded murmur3, data is seed=42),
# so the hash comparison against the exact-Jaccard SQL is stable. If
# the check ever fails after a fixture regeneration, the miss is an
# LSH recall event, not a correctness bug — widen bands or lower the
# band threshold.
query(
    "q_dedup_minhash",
    """
    WITH t AS (
      SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS toks
      FROM documents WHERE text IS NOT NULL
    ),
    sh AS (
      SELECT doc_id,
             CASE WHEN len(toks) < 3 THEN [array_to_string(toks, ' ')]
                  ELSE list_transform(generate_series(1, len(toks)-2),
                         i -> concat_ws(' ', toks[i], toks[i+1], toks[i+2]))
             END AS shl
      FROM t
    ),
    shd AS (SELECT doc_id, unnest(list_distinct(shl)) AS s FROM sh),
    sizes AS (SELECT doc_id, count(*) AS n FROM shd GROUP BY doc_id),
    inter AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS inter
      FROM shd a JOIN shd b ON a.s = b.s AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    )
    SELECT id_a, id_b,
           round(inter * 1.0 / (sa.n + sb.n - inter), 6) AS jaccard
    FROM inter
    JOIN sizes sa ON sa.doc_id = id_a
    JOIN sizes sb ON sb.doc_id = id_b
    WHERE inter * 1.0 / (sa.n + sb.n - inter) >= 0.5
    """,
    tags=("extension", "dedup"),
)(_dedup_minhash)


def _dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    from datafusion_wasm_bindings_spark.operators.dedup import simhash

    return simhash(table(spark, sf_dir, "documents"), hash_fn="md5")


# md5 token hashing → DuckDB reproduces the identical 32-bit
# signatures, so the sketch itself is value-checked (each token
# OCCURRENCE votes ±1 per bit; ties → 0, matching the > 0 test).
query(
    "q_dedup_simhash",
    """
    WITH tok AS (
      SELECT doc_id, unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS tok
      FROM documents
    ),
    h AS (
      SELECT doc_id, CAST(('0x' || substr(md5(tok), 1, 8)) AS BIGINT) AS h
      FROM tok
    ),
    votes AS (
      SELECT doc_id, b,
             SUM(CASE WHEN (h >> b) & 1 = 1 THEN 1 ELSE -1 END) AS v
      FROM h CROSS JOIN generate_series(0, 31) t(b)
      GROUP BY doc_id, b
    )
    SELECT doc_id,
           CAST(SUM(CASE WHEN v > 0 THEN CAST(1 AS BIGINT) << b ELSE 0 END) AS BIGINT)
             AS simhash
    FROM votes GROUP BY doc_id
    """,
    tags=("extension", "dedup"),
)(_dedup_simhash)


# max_doc_freq=160 exercises the df-cut skew guard the operator was
# built with (operators/dedup.py:236-238): tokens present in more than
# 160 of the 200 windowed docs (the corpus-wide stopword class) never
# enter the inverted-index self-join, bounding the hot-token bucket
# blowup a Zipfian corpus causes at 100 TB. Jaccard becomes a
# conservative underestimate (sizes count ALL distinct tokens;
# intersections only rare ones) — identical on both sides. 160 ≈ 80%
# of the window: the fixture's synthetic vocabulary is so small that
# lower cuts drop the very tokens the near-dup pairs share (measured:
# cut 50 → 0 pairs survive 0.9; cut 160 → 223 pairs, 1 token cut).
def _dedup_paragraph(spark: SparkSession, sf_dir: str) -> DataFrame:
    from datafusion_wasm_bindings_spark.operators.dedup import paragraph_dedup

    # doc-keyed: the oracle's GROUP BY doc_id would interleave every
    # NULL-id doc's paragraphs into one reassembled pseudo-doc
    # (adversarial NULL replay, r5 — q_text_langid convention)
    docs = table(spark, sf_dir, "documents").filter(F.col("doc_id").isNotNull())
    return paragraph_dedup(docs)


# fully relational (split → first-occurrence window → reassemble), so
# the oracle recomputes it exactly; ties impossible (pos unique per doc)
query(
    "q_dedup_paragraph",
    r"""
    WITH paras AS (
      SELECT doc_id,
             generate_subscripts(regexp_split_to_array(text, '\.\s+'), 1) - 1 AS pos,
             unnest(regexp_split_to_array(text, '\.\s+')) AS para
      FROM documents WHERE doc_id IS NOT NULL
    ),
    nz AS (SELECT * FROM paras WHERE length(para) > 0),
    flagged AS (
      SELECT doc_id, pos, para,
             row_number() OVER (PARTITION BY para ORDER BY doc_id, pos) = 1 AS keep
      FROM nz
    )
    SELECT doc_id,
           coalesce(string_agg(CASE WHEN keep THEN para END, '. ' ORDER BY pos), '') AS text,
           CAST(SUM(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
           CAST(SUM(CASE WHEN keep THEN 0 ELSE 1 END) AS BIGINT) AS n_dropped
    FROM flagged GROUP BY doc_id
    """,
    tags=("extension", "dedup"),
)(_dedup_paragraph)


def _dedup_ngram(spark: SparkSession, sf_dir: str) -> DataFrame:
    from datafusion_wasm_bindings_spark.operators.dedup import ngram_jaccard_pairs

    docs = table(spark, sf_dir, "documents").filter("doc_id < 200")
    return ngram_jaccard_pairs(docs, threshold=0.9, max_doc_freq=160)


_NGRAM_PAIRS_CTES = """
    w0 AS (
      SELECT doc_id, unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS tok
      FROM documents WHERE doc_id < 200
    ),
    words AS (SELECT DISTINCT doc_id, tok FROM w0),
    sizes AS (SELECT doc_id, count(*) AS n_tok FROM words GROUP BY doc_id),
    rare AS (
      SELECT tok FROM words GROUP BY tok HAVING count(*) <= 160
    ),
    cut AS (SELECT w.doc_id, w.tok FROM words w JOIN rare USING (tok)),
    inter AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS inter
      FROM cut a JOIN cut b ON a.tok = b.tok AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    )
    """

query(
    "q_dedup_ngram_jaccard",
    f"""
    WITH {_NGRAM_PAIRS_CTES}
    SELECT id_a, id_b,
           round(inter * 1.0 / (sa.n_tok + sb.n_tok - inter), 6) AS jaccard
    FROM inter
    JOIN sizes sa ON sa.doc_id = id_a
    JOIN sizes sb ON sb.doc_id = id_b
    WHERE inter * 1.0 / (sa.n_tok + sb.n_tok - inter) >= 0.9
    """,
    tags=("extension", "dedup"),
)(_dedup_ngram)


def _pipeline_split_leakage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train/test SPLIT LEAKAGE audit (r10): near-duplicate pairs that
    straddle a split boundary — the contamination a random split
    inflicts when the corpus holds near-dups (a test doc whose
    near-twin sits in train silently inflates eval). Composes two
    certified pieces: ngram_jaccard_pairs (inverted-index blocked,
    exact Jaccard — q_dedup_ngram_jaccard's operator and parameters)
    and the deterministic md5 split assignment (q_pipeline_split's
    convention), applied as a pure map to EACH pair side — zero extra
    joins or shuffles beyond the pair generation itself. Output: one
    row per unordered split-boundary pair (least/greatest-normalized)
    with the leaked-pair count and the worst (max) Jaccard crossing
    that boundary. At 100 TB the remedy this audit motivates is
    cluster-aware splitting (assign whole near-dup CLUSTERS to one
    split — q_dedup_clusters supplies them); this query measures how
    much leakage the naive split has."""
    from datafusion_wasm_bindings_spark.operators.dedup import ngram_jaccard_pairs

    docs = table(spark, sf_dir, "documents").filter("doc_id < 200")
    pairs = ngram_jaccard_pairs(docs, threshold=0.9, max_doc_freq=160)

    def split_of(c):
        h = F.substring(F.md5(F.concat(c.cast("string"), F.lit("dfwb-split"))), 1, 8)
        return (
            F.when(h < "cccccccc", F.lit("train"))
            .when(h < "e6666666", F.lit("val"))
            .otherwise(F.lit("test"))
        )

    leaks = pairs.select(
        "jaccard",
        split_of(F.col("id_a")).alias("sa"),
        split_of(F.col("id_b")).alias("sb"),
    ).filter(F.col("sa") != F.col("sb"))
    return (
        leaks.groupBy(
            F.least("sa", "sb").alias("split_lo"),
            F.greatest("sa", "sb").alias("split_hi"),
        )
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_leaked_pairs"),
            F.round(F.max("jaccard"), 6).alias("max_jaccard"),
        )
        .orderBy(
            F.col("split_lo").asc_nulls_last(), F.col("split_hi").asc_nulls_last()
        )
    )


# oracle: the q_dedup_ngram_jaccard pair CTEs verbatim, then the same
# md5 split CASE applied to each pair side map-side; jaccard is an
# exact-integer division (bit-identical both engines, the
# q_dedup_ngram_jaccard precedent), so max_jaccard compares raw after
# the shared round(…, 6)
query(
    "q_pipeline_split_leakage",
    f"""
    WITH {_NGRAM_PAIRS_CTES},
    pairs AS (
      SELECT id_a, id_b,
             round(inter * 1.0 / (sa.n_tok + sb.n_tok - inter), 6) AS jaccard
      FROM inter
      JOIN sizes sa ON sa.doc_id = id_a
      JOIN sizes sb ON sb.doc_id = id_b
      WHERE inter * 1.0 / (sa.n_tok + sb.n_tok - inter) >= 0.9
    ),
    lab AS (
      SELECT jaccard,
             CASE WHEN substr(md5(CAST(id_a AS VARCHAR) || 'dfwb-split'), 1, 8) < 'cccccccc' THEN 'train'
                  WHEN substr(md5(CAST(id_a AS VARCHAR) || 'dfwb-split'), 1, 8) < 'e6666666' THEN 'val'
                  ELSE 'test' END AS sa,
             CASE WHEN substr(md5(CAST(id_b AS VARCHAR) || 'dfwb-split'), 1, 8) < 'cccccccc' THEN 'train'
                  WHEN substr(md5(CAST(id_b AS VARCHAR) || 'dfwb-split'), 1, 8) < 'e6666666' THEN 'val'
                  ELSE 'test' END AS sb
      FROM pairs
    )
    SELECT least(sa, sb) AS split_lo, greatest(sa, sb) AS split_hi,
           CAST(COUNT(*) AS BIGINT) AS n_leaked_pairs,
           round(MAX(jaccard), 6) AS max_jaccard
    FROM lab WHERE sa <> sb
    GROUP BY 1, 2
    ORDER BY split_lo ASC NULLS LAST, split_hi ASC NULLS LAST
    """,
    tags=("extension", "pipeline", "dedup"),
)(_pipeline_split_leakage)


def _pipeline_cluster_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cluster-aware train/val/test split — the REMEDY the
    q_pipeline_split_leakage audit motivates (r10 verdict #4; Lee et
    al. 2022 / RefinedWeb practice): assign whole near-dup CLUSTERS to
    one split by drawing on the cluster REPRESENTATIVE (the component's
    min doc_id), so a near-dup pair can never straddle train/eval.
    Composes three certified pieces verbatim: ngram_jaccard_pairs
    (q_dedup_ngram_jaccard's inverted-index blocking + parameters),
    connected_components (q_dedup_clusters' min-label propagation),
    and the deterministic md5 split (q_pipeline_split's thresholds),
    then re-runs the leakage audit INSIDE the query — the
    n_cross_split_pairs column is the paired audit and must read 0 by
    construction (both pair members share a component, hence a
    representative, hence a split).

    Scale posture: pairs is cut ONCE (single-scan rule —
    it feeds both the CC rounds and the audit; without the cut the
    audit re-runs the whole inverted-index build). comps is CC's
    already-materialized label RDD, consumed three times for free. The
    per-doc assignment joins the corpus against comps on doc_id —
    digest-width rows only (doc_id/rep/split, never text; registry
    payload lint) — and feeds exactly one consumer, so it stays lazy.
    The audit joins the BOUNDED pair set against comps twice; the
    1-row audit total broadcasts onto the per-split rollup (bounded
    crossJoin, hint-safe per r5(d))."""
    from datafusion_wasm_bindings_spark.operators.dedup import (
        connected_components,
        ngram_jaccard_pairs,
    )

    docs_full = table(spark, sf_dir, "documents").filter("doc_id < 200")
    pairs = ngram_jaccard_pairs(
        docs_full, threshold=0.9, max_doc_freq=160
    ).transform(cut)
    comps = connected_components(pairs).selectExpr(
        "node AS doc_id", "comp AS cluster_id"
    )

    def split_of(c):
        h = F.substring(F.md5(F.concat(c.cast("string"), F.lit("dfwb-split"))), 1, 8)
        return (
            F.when(h < "cccccccc", F.lit("train"))
            .when(h < "e6666666", F.lit("val"))
            .otherwise(F.lit("test"))
        )

    assign = (
        docs_full.select("doc_id")
        .join(comps, "doc_id", "left")
        .withColumn("rep", F.coalesce("cluster_id", "doc_id"))
        .withColumn("split", split_of(F.col("rep")))
    )
    leaked = (
        pairs.select("id_a", "id_b")
        .join(
            comps.select(
                F.col("doc_id").alias("id_a"), split_of(F.col("cluster_id")).alias("sa")
            ),
            "id_a",
        )
        .join(
            comps.select(
                F.col("doc_id").alias("id_b"), split_of(F.col("cluster_id")).alias("sb")
            ),
            "id_b",
        )
        .filter(F.col("sa") != F.col("sb"))
        .agg(F.count(F.lit(1)).cast("long").alias("n_cross_split_pairs"))
    )
    return (
        assign.groupBy("split")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.countDistinct("rep").cast("long").alias("n_clusters"),
        )
        .crossJoin(F.broadcast(leaked))
        .orderBy(F.col("split").asc_nulls_last())
    )


# oracle: the q_dedup_clusters recursive-CTE components verbatim, the
# q_pipeline_split md5 CASE drawn on the cluster representative
# (COALESCE(cluster_id, doc_id) — singletons represent themselves),
# and the leakage audit re-stated over the SAME pair set; the audit
# column must read 0 on any input (cluster-aware assignment cannot
# leak by construction)
query(
    "q_pipeline_cluster_split",
    f"""
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
    assign AS (
      SELECT d.doc_id,
             COALESCE(c.cluster_id, d.doc_id) AS rep,
             CASE WHEN substr(md5(CAST(COALESCE(c.cluster_id, d.doc_id) AS VARCHAR) || 'dfwb-split'), 1, 8) < 'cccccccc' THEN 'train'
                  WHEN substr(md5(CAST(COALESCE(c.cluster_id, d.doc_id) AS VARCHAR) || 'dfwb-split'), 1, 8) < 'e6666666' THEN 'val'
                  ELSE 'test' END AS split
      FROM (SELECT doc_id FROM documents WHERE doc_id < 200) d
      LEFT JOIN comps c ON c.doc_id = d.doc_id
    ),
    leaked AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n FROM pairs p
      JOIN comps ca ON ca.doc_id = p.id_a
      JOIN comps cb ON cb.doc_id = p.id_b
      WHERE (CASE WHEN substr(md5(CAST(ca.cluster_id AS VARCHAR) || 'dfwb-split'), 1, 8) < 'cccccccc' THEN 'train'
                  WHEN substr(md5(CAST(ca.cluster_id AS VARCHAR) || 'dfwb-split'), 1, 8) < 'e6666666' THEN 'val'
                  ELSE 'test' END)
         <> (CASE WHEN substr(md5(CAST(cb.cluster_id AS VARCHAR) || 'dfwb-split'), 1, 8) < 'cccccccc' THEN 'train'
                  WHEN substr(md5(CAST(cb.cluster_id AS VARCHAR) || 'dfwb-split'), 1, 8) < 'e6666666' THEN 'val'
                  ELSE 'test' END)
    )
    SELECT split,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(COUNT(DISTINCT rep) AS BIGINT) AS n_clusters,
           (SELECT n FROM leaked) AS n_cross_split_pairs
    FROM assign GROUP BY split
    ORDER BY split ASC NULLS LAST
    """,
    tags=("extension", "pipeline", "dedup", "sampling"),
)(_pipeline_cluster_split)


def _dedup_substring(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact duplicated-substring fingerprints at 20-char granularity
    (operators/dedup.duplicated_spans — the Lee et al. 2022
    exact-substring dedup class). Top-50 most-repeated spans with
    occurrence/document counts; total ordering via the unique span
    group key."""
    from datafusion_wasm_bindings_spark.operators.dedup import duplicated_spans

    # parallel=True: the three-level span explode + span hashing is the
    # heaviest per-row text work in the registry, and it runs entirely
    # in the scan stage — serialized when the file layout under-splits
    # (guide §2.5). The repartition moves each text ONCE (≤ corpus
    # bytes, the same bytes the scan task already holds) and is a no-op
    # at healthy row-group layouts; payload-exchange lint allowlisted
    # with this justification. Measured r12: 5.75→1.98 s at sf0.1,
    # rows identical.
    return duplicated_spans(
        table(spark, sf_dir, "documents", parallel=True), span_len=20, top_k=50
    )


query(
    "q_dedup_substring",
    """
    WITH d AS (
      SELECT doc_id, text FROM documents
      WHERE doc_id IS NOT NULL AND text IS NOT NULL AND length(text) >= 20
    ),
    spans AS (
      SELECT doc_id, substring(text, CAST(i AS INT), 20) AS span
      FROM d, unnest(generate_series(1, length(text) - 19)) AS t(i)
    )
    SELECT span,
           CAST(COUNT(*) AS BIGINT) AS n_occurrences,
           CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs,
           CAST(MIN(doc_id) AS BIGINT) AS min_doc
    FROM spans GROUP BY span HAVING COUNT(*) > 1
    ORDER BY n_occurrences DESC NULLS LAST, span ASC NULLS LAST
    LIMIT 50
    """,
    tags=("extension", "dedup", "text"),
)(_dedup_substring)


def _dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    from datafusion_wasm_bindings_spark.operators.dedup import (
        connected_components,
        ngram_jaccard_pairs,
    )

    docs = table(spark, sf_dir, "documents").filter("doc_id < 200")
    pairs = ngram_jaccard_pairs(docs, threshold=0.9, max_doc_freq=160)
    comps = connected_components(pairs)
    return comps.selectExpr("node AS doc_id", "comp AS cluster_id")


# oracle: same edge set (the q_dedup_ngram_jaccard SQL, df-cut
# included), components via a recursive reachability CTE — min
# reachable node == min-label propagation's fixpoint, so the two
# formulations must agree exactly.
_DEDUP_CLUSTERS_ORACLE = f"""
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
    )
    SELECT node AS doc_id, min(r) AS cluster_id FROM reach GROUP BY node
    """

query(
    "q_dedup_clusters",
    _DEDUP_CLUSTERS_ORACLE,
    tags=("extension", "dedup"),
)(_dedup_clusters)


def _dedup_clusters_star(spark: SparkSession, sf_dir: str) -> DataFrame:
    from datafusion_wasm_bindings_spark.operators.dedup import (
        connected_components_star,
        ngram_jaccard_pairs,
    )

    docs = table(spark, sf_dir, "documents").filter("doc_id < 200")
    pairs = ngram_jaccard_pairs(docs, threshold=0.9, max_doc_freq=160)
    comps = connected_components_star(pairs)
    return comps.selectExpr("node AS doc_id", "comp AS cluster_id")


# same oracle as q_dedup_clusters: both algorithms must reach the same
# fixpoint (node → min node id of its component); the star variant is
# the O(log n)-round scale path for long-diameter graphs.
query(
    "q_dedup_clusters_star",
    _DEDUP_CLUSTERS_ORACLE,
    tags=("extension", "dedup", "scale"),
)(_dedup_clusters_star)


def _dedup_embedding(spark: SparkSession, sf_dir: str) -> DataFrame:
    # LSH-bucketed candidate generation + exact verify (r2 verdict #3:
    # the previous all-pairs join was the one quadratic shape left).
    # The all-pairs formulation survives only as the DuckDB oracle —
    # a green driver row therefore proves 100% recall of the buckets.
    from datafusion_wasm_bindings_spark.operators.similarity import cosine_pairs_lsh

    return cosine_pairs_lsh(
        table(spark, sf_dir, "embeddings"),
        threshold=0.35,
        max_id=300,
        planes=2,
        tables=16,
    )


_COMP = """
    q AS (SELECT vec_id,
                 list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS qv
          FROM embeddings {where}),
    comp AS (SELECT vec_id, unnest(qv) AS val, generate_subscripts(qv, 1) AS i FROM q),
    norms AS (SELECT vec_id, sum(val * val) AS n2 FROM comp GROUP BY vec_id)
"""

query(
    "q_dedup_embedding",
    f"""
    WITH {_COMP.format(where="WHERE vec_id <= 300")},
    dots AS (
      SELECT a.vec_id AS id_a, b.vec_id AS id_b, sum(a.val * b.val) AS dot
      FROM comp a JOIN comp b ON a.i = b.i AND a.vec_id < b.vec_id
      GROUP BY 1, 2
    )
    SELECT id_a, id_b, round(dot / sqrt(na.n2 * nb.n2), 6) AS cos
    FROM dots JOIN norms na ON na.vec_id = id_a JOIN norms nb ON nb.vec_id = id_b
    -- n2 > 0: zero-quantized vectors are outside the cosine population
    -- (operators/similarity.nonzero_vectors; adversarial extremes
    -- replay, r6)
    WHERE na.n2 > 0 AND nb.n2 > 0
      AND dot / sqrt(na.n2 * nb.n2) >= 0.35
    """,
    tags=("extension", "dedup", "similarity"),
)(_dedup_embedding)


# ====================== similarity search ==============================
_QUERY_IDS = [1, 2, 3, 4, 5]


def _vecs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The embedding-family population: rows with an id AND a payload
    (adversarial NULL replay, r5 — see _cluster_kmeans's note)."""
    return table(spark, sf_dir, "embeddings").filter(
        F.col("vec_id").isNotNull() & F.col("embedding").isNotNull()
    )


def _sim_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from datafusion_wasm_bindings_spark.operators.similarity import cosine_topk_bruteforce

    return cosine_topk_bruteforce(_vecs(spark, sf_dir), query_ids=_QUERY_IDS, k=3)


query(
    "q_sim_topk",
    f"""
    WITH {_COMP.format(where="WHERE vec_id IS NOT NULL AND embedding IS NOT NULL")},
    dots AS (
      SELECT qq.vec_id AS query_id, c.vec_id AS cand_id, sum(qq2.val * c.val) AS dot
      FROM (SELECT vec_id FROM q WHERE vec_id IN (1,2,3,4,5)) qq
      JOIN comp qq2 ON qq2.vec_id = qq.vec_id
      JOIN comp c ON c.i = qq2.i AND c.vec_id <> qq.vec_id
      GROUP BY 1, 2
    ),
    scored AS (
      SELECT query_id, cand_id,
             dot / sqrt(nq.n2 * nc.n2) AS cos_raw,
             row_number() OVER (PARTITION BY query_id
                                ORDER BY dot / sqrt(nq.n2 * nc.n2) DESC, cand_id ASC) AS rank
      FROM dots
      JOIN norms nq ON nq.vec_id = query_id
      JOIN norms nc ON nc.vec_id = cand_id
      -- n2 > 0: zero-quantized vectors are outside the cosine
      -- population (operators/similarity.nonzero_vectors; adversarial
      -- extremes replay, r6)
      WHERE nq.n2 > 0 AND nc.n2 > 0
    )
    SELECT query_id, cand_id, rank, round(cos_raw, 6) AS cos
    FROM scored WHERE rank <= 3
    """,
    headline=True,
    tags=("extension", "similarity"),
)(_sim_topk)


def _recall_vs_exact(approx: DataFrame, exact: DataFrame, min_hits: int) -> DataFrame:
    """(query_id, recall_ok): does the ANN result contain at least
    ``min_hits`` of the exact top-k? The ANN value set itself can never
    hash-match an oracle (index-dependent), but this recall contract
    can — the oracle answers TRUE per query id, so the driver's full
    value check verifies the ANN index actually finds true neighbors."""
    from pyspark.sql import functions as F

    hits = (
        exact.select("query_id", "cand_id")
        .join(approx.select("query_id", "cand_id"), ["query_id", "cand_id"])
        .groupBy("query_id")
        .agg(F.count("*").alias("hits"))
    )
    base = exact.select("query_id").distinct()
    return base.join(hits, "query_id", "left").select(
        "query_id", (F.coalesce("hits", F.lit(0)) >= min_hits).alias("recall_ok")
    )


_RECALL_ORACLE = (
    "SELECT DISTINCT vec_id AS query_id, TRUE AS recall_ok FROM embeddings "
    f"WHERE vec_id IN ({', '.join(map(str, _QUERY_IDS))}) "
    "AND embedding IS NOT NULL"
)

# cosine-family recall twin: a zero-quantized-norm query vector is
# excluded from the cosine population (nonzero_vectors, adversarial
# extremes replay r6) — the L2/PQ path keeps _RECALL_ORACLE because the
# zero vector is a perfectly valid Euclidean point
_RECALL_ORACLE_COS = (
    _RECALL_ORACLE
    + " AND list_sum(list_transform(embedding,"
    "   x -> CAST(round(CAST(x AS DOUBLE) * 1000) AS BIGINT) ** 2)) > 0"
)


def _sim_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    from datafusion_wasm_bindings_spark.operators.similarity import (
        cosine_topk_bruteforce,
        lsh_bucketed_topk,
    )

    emb = _vecs(spark, sf_dir)
    approx = lsh_bucketed_topk(emb, query_ids=_QUERY_IDS, k=3, planes=4, tables=8)
    exact = cosine_topk_bruteforce(emb, query_ids=_QUERY_IDS, k=3)
    # 8-table LSH measured recall@3 ≥ 1/3 per query on every fixture SF
    return _recall_vs_exact(approx, exact, min_hits=1)


query("q_sim_lsh_topk", _RECALL_ORACLE_COS, tags=("extension", "similarity"))(_sim_lsh)


def _sim_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    from datafusion_wasm_bindings_spark.operators.similarity import (
        cosine_topk_bruteforce,
        ivf_topk,
    )

    emb = _vecs(spark, sf_dir)
    approx = ivf_topk(
        emb,
        query_ids=_QUERY_IDS,
        k=3,
        n_centroids=8,
        n_probe=2,
        # one Lloyd pass: half the index-build stages; recall at
        # n_probe=2/8 measured ≥ 2/3 per query on every fixture SF
        lloyd_iters=1,
    )
    exact = cosine_topk_bruteforce(emb, query_ids=_QUERY_IDS, k=3)
    return _recall_vs_exact(approx, exact, min_hits=2)


query("q_sim_ivf_topk", _RECALL_ORACLE_COS, tags=("extension", "similarity"))(_sim_ivf)


def _sim_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    from datafusion_wasm_bindings_spark.operators.similarity import (
        l2_topk_bruteforce,
        pq_topk,
    )

    emb = _vecs(spark, sf_dir)
    approx = pq_topk(
        emb,
        query_ids=_QUERY_IDS,
        k=3,
        m_subspaces=8,
        n_codes=16,
        lloyd_iters=2,
        # ADC shortlist of 64, exact re-rank: measured recall@3 >= 1/3
        # per query on every fixture SF (the exactness baseline here is
        # Euclidean, which PQ-ADC approximates)
        rerank=64,
    )
    exact = l2_topk_bruteforce(emb, query_ids=_QUERY_IDS, k=3)
    return _recall_vs_exact(approx, exact, min_hits=1)


query("q_sim_pq_topk", _RECALL_ORACLE, tags=("extension", "similarity"))(_sim_pq)


_TRUNC_DIMS = 16


def _sim_truncation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Truncated-embedding retrieval quality (the Matryoshka question):
    how many of each query's exact top-3 cosine neighbors at the FULL
    64 dims survive when the index stores only the first 16 dims —
    the measurement that decides whether a cheaper truncated index is
    good enough before switching storage to it. Exact integer
    arithmetic end to end (quantized components), so unlike the
    LSH/IVF/PQ recall CONTRACTS this is a full value check: the oracle
    recomputes both rankings and the overlap.

    Scale shape: two broadcast-queries brute scans (full + truncated,
    corpus never shuffles) + per-query top-k windows + one tiny join
    of two 15-row top-k sets."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from datafusion_wasm_bindings_spark.operators.similarity import (
        _dot,
        _norm2,
        quantized,
    )

    # population contract: a vector must be cosine-rankable at BOTH
    # resolutions — zero-quantized norm at either the full or the
    # truncated grid is excluded like a NULL embedding (adversarial
    # extremes replay, r6: the injected zero vector divides to ANSI
    # DIVIDE_BY_ZERO). Both quantized arrays and both norms are
    # materialized ONCE per row (expensive-HOF rule); the scoring
    # joins below reuse the precomputed norms instead of re-folding
    # arrays per pair.
    emb = (
        table(spark, sf_dir, "embeddings")
        .filter(F.col("vec_id").isNotNull() & F.col("embedding").isNotNull())
        .select(
            "vec_id",
            quantized(F.col("embedding")).alias("vf"),
            quantized(F.slice(F.col("embedding"), 1, _TRUNC_DIMS)).alias("vt"),
        )
        .withColumn("nf", _norm2(F.col("vf")))
        .withColumn("nt", _norm2(F.col("vt")))
        .filter((F.col("nf") > 0) & (F.col("nt") > 0))
    )

    def topk(vcol, ncol):
        q = emb.filter(F.col("vec_id").isin(_QUERY_IDS)).select(
            F.col("vec_id").alias("query_id"),
            F.col(vcol).alias("qv"),
            F.col(ncol).alias("qn2"),
        )
        c = emb.select(
            F.col("vec_id").alias("cand_id"),
            F.col(vcol).alias("cv"),
            F.col(ncol).alias("cn2"),
        )
        scored = (
            c.join(F.broadcast(q), F.col("cand_id") != F.col("query_id"))
            .withColumn("dot", _dot(F.col("qv"), F.col("cv")))
            .withColumn("cos", F.col("dot") / F.sqrt(F.col("qn2") * F.col("cn2")))
        )
        w = Window.partitionBy("query_id").orderBy(
            F.col("cos").desc(), F.col("cand_id").asc()
        )
        return (
            scored.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= 3)
            .select("query_id", "cand_id")
        )

    full = topk("vf", "nf")
    trunc = topk("vt", "nt")
    hits = (
        full.join(trunc, ["query_id", "cand_id"])
        .groupBy("query_id")
        .agg(F.count(F.lit(1)).cast("long").alias("hits"))
    )
    base = full.select("query_id").distinct()
    return base.join(hits, "query_id", "left").select(
        "query_id",
        F.coalesce("hits", F.lit(0)).cast("long").alias("kept_of_3"),
    )


query(
    "q_sim_truncation",
    f"""
    WITH qv0 AS (SELECT vec_id,
                  list_transform(embedding,
                    x -> CAST(round(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS v
           FROM embeddings
           WHERE vec_id IS NOT NULL AND embedding IS NOT NULL),
    -- cosine-rankable at BOTH grids: zero quantized norm at full OR
    -- truncated resolution is excluded like a NULL embedding
    -- (adversarial extremes replay, r6)
    qv AS (SELECT vec_id, v FROM qv0
           WHERE list_sum(list_transform(v, x -> x * x)) > 0
             AND list_sum(list_transform(v[1:{_TRUNC_DIMS}], x -> x * x)) > 0),
    q AS (SELECT vec_id FROM qv
          WHERE vec_id IN ({', '.join(map(str, _QUERY_IDS))})),
    full_s AS (
      SELECT a.vec_id AS query_id, b.vec_id AS cand_id,
             list_sum(list_transform(list_zip(a.v, b.v),
               t -> t[1] * t[2])) / sqrt(
               CAST(list_sum(list_transform(a.v, x -> x * x)) AS DOUBLE)
               * list_sum(list_transform(b.v, x -> x * x))) AS cos
      FROM qv a JOIN q USING (vec_id), qv b
      WHERE b.vec_id <> a.vec_id
    ),
    full_k AS (
      SELECT query_id, cand_id FROM (
        SELECT query_id, cand_id,
               row_number() OVER (PARTITION BY query_id
                 ORDER BY cos DESC, cand_id ASC) AS rn
        FROM full_s) WHERE rn <= 3
    ),
    tv AS (SELECT vec_id, v[1:{_TRUNC_DIMS}] AS v FROM qv),
    tr_s AS (
      SELECT a.vec_id AS query_id, b.vec_id AS cand_id,
             list_sum(list_transform(list_zip(a.v, b.v),
               t -> t[1] * t[2])) / sqrt(
               CAST(list_sum(list_transform(a.v, x -> x * x)) AS DOUBLE)
               * list_sum(list_transform(b.v, x -> x * x))) AS cos
      FROM tv a JOIN q USING (vec_id), tv b
      WHERE b.vec_id <> a.vec_id
    ),
    tr_k AS (
      SELECT query_id, cand_id FROM (
        SELECT query_id, cand_id,
               row_number() OVER (PARTITION BY query_id
                 ORDER BY cos DESC, cand_id ASC) AS rn
        FROM tr_s) WHERE rn <= 3
    )
    SELECT f.query_id,
           CAST(COALESCE(COUNT(t.cand_id), 0) AS BIGINT) AS kept_of_3
    FROM full_k f LEFT JOIN tr_k t
      ON f.query_id = t.query_id AND f.cand_id = t.cand_id
    GROUP BY f.query_id
    """,
    tags=("extension", "similarity", "stats"),
)(_sim_truncation)


# ====================== text analysis ===================================
def _text_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    from datafusion_wasm_bindings_spark.operators.text import token_counts

    return token_counts(table(spark, sf_dir, "documents"))


query(
    "q_text_tokens",
    f"""
    SELECT doc_id,
           len(list_filter(string_split_regex(trim(text), '\\s+'), x -> x <> '')) AS ws_tokens,
           len({_TOK}) AS re_tokens,
           length(text) AS n_chars_measured,
           n_chars AS n_chars_given
    FROM documents
    """,
    tags=("extension", "text"),
)(_text_tokens)


def _text_tokens_bpe(spark: SparkSession, sf_dir: str) -> DataFrame:
    from datafusion_wasm_bindings_spark.operators.text import bpe_pretokenize_counts

    return bpe_pretokenize_counts(table(spark, sf_dir, "documents"))


# oracle: the identical lookahead-free GPT-2-style pattern — RE2 and
# Java regex share leftmost-first alternation semantics, so the match
# lists agree token-for-token (apostrophes SQL-escaped as '')
_BPE_RE_SQL = "''(?:s|t|re|ve|m|ll|d)| ?\\p{L}+| ?\\p{N}+| ?[^\\s\\p{L}\\p{N}]+|\\s+"

query(
    "q_text_tokens_bpe",
    f"""
    WITH m AS (
      SELECT doc_id, regexp_extract_all(text, '{_BPE_RE_SQL}', 0) AS toks
      FROM documents
    ),
    c AS (
      SELECT doc_id,
             len(toks) - len(list_filter(toks, t -> regexp_matches(t, '^\\s+$'))) AS n_bpe,
             len(list_filter(toks, t -> regexp_matches(t, '^ ?\\p{{L}}'))) AS n_word,
             len(list_filter(toks, t -> regexp_matches(t, '^ ?\\p{{N}}'))) AS n_num,
             len(list_filter(toks, t -> regexp_matches(t, '^''(s|t|re|ve|m|ll|d)$'))) AS n_contr
      FROM m
    )
    SELECT doc_id,
           n_bpe AS n_bpe_tokens,
           n_word AS n_word_tokens,
           n_num AS n_num_tokens,
           n_contr AS n_contractions,
           n_bpe - n_word - n_num - n_contr AS n_punct_tokens
    FROM c
    """,
    tags=("extension", "text"),
)(_text_tokens_bpe)


def _text_tfidf(spark: SparkSession, sf_dir: str) -> DataFrame:
    from datafusion_wasm_bindings_spark.operators.text import tfidf_keywords

    return tfidf_keywords(table(spark, sf_dir, "documents"), k=3)


# oracle: identical smoothed-idf formula; both sides sort on the
# 6dp-ROUNDED score (token tie-break), so a last-bit ln() divergence
# cannot flip which keywords rank top-3
query(
    "q_text_tfidf",
    f"""
    WITH toks AS (
      SELECT doc_id, unnest({_TOK}) AS tok FROM documents
    ),
    tf AS (SELECT doc_id, tok, count(*) AS tf FROM toks GROUP BY doc_id, tok),
    dfc AS (SELECT tok, count(*) AS df FROM tf GROUP BY tok),
    n AS (SELECT count(*) AS n_docs FROM documents),
    scored AS (
      SELECT tf.doc_id, tf.tok, tf.tf, dfc.df,
             round(tf.tf * (ln((n.n_docs + 1.0) / (dfc.df + 1)) + 1.0), 6) AS score
      FROM tf JOIN dfc USING (tok) CROSS JOIN n
    ),
    ranked AS (
      SELECT *, row_number() OVER (PARTITION BY doc_id
                                   ORDER BY score DESC, tok ASC) AS rank
      FROM scored
    )
    SELECT doc_id, tok, tf, df, score, rank FROM ranked WHERE rank <= 3
    """,
    tags=("extension", "text"),
)(_text_tfidf)


def _text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    from datafusion_wasm_bindings_spark.operators.text import quality_scores

    return quality_scores(table(spark, sf_dir, "documents"))


_EN_STOP_SQL = "['the','and','of','to','in','is','it','for','with','on']"

query(
    "q_text_quality",
    f"""
    WITH f AS (
      SELECT doc_id,
             {_TOK} AS toks,
             length(text) AS n_chars,
             length(regexp_replace(lower(text), '[^a-z]', '', 'g')) AS alpha_chars
      FROM documents
    ),
    g AS (
      SELECT doc_id, n_chars, alpha_chars,
             len(toks) AS n_tok,
             len(list_filter(toks, t -> list_contains({_EN_STOP_SQL}, t))) AS n_stop
      FROM f
    )
    SELECT doc_id,
           n_tok AS n_tokens,
           round(alpha_chars * 1.0 / greatest(n_chars, 1), 6) AS alpha_ratio,
           round(n_stop * 1.0 / greatest(n_tok, 1), 6) AS stopword_ratio,
           round(CASE WHEN n_tok > 0 THEN alpha_chars * 1.0 / n_tok ELSE 0.0 END, 6) AS mean_token_len,
           round(
             least(n_chars / 400.0, 1.0) * 0.3
             + (alpha_chars * 1.0 / greatest(n_chars, 1)) * 0.3
             + least(n_stop * 1.0 / greatest(n_tok, 1) * 4.0, 1.0) * 0.2
             + CASE WHEN (CASE WHEN n_tok > 0 THEN alpha_chars * 1.0 / n_tok ELSE 0.0 END) BETWEEN 3 AND 8
                    THEN 0.2 ELSE 0.0 END,
           6) AS quality
    FROM g
    """,
    tags=("extension", "text"),
)(_text_quality)


def _text_langid(spark: SparkSession, sf_dir: str) -> DataFrame:
    from datafusion_wasm_bindings_spark.operators.text import language_id

    # doc-keyed corpus ops filter NULL doc_ids: the oracle's GROUP BY
    # doc_id would merge every NULL-id doc into one pseudo-document
    # and its USING join would then drop them (adversarial NULL
    # replay, r5 — same convention as q_text_repetition /
    # q_text_decontaminate)
    docs = table(spark, sf_dir, "documents").filter(F.col("doc_id").isNotNull())
    return language_id(docs, spark)


def _lex_values() -> str:
    from datafusion_wasm_bindings_spark.operators.text import LANG_LEXICON

    return ", ".join(
        f"('{lang}', '{w}')" for lang, words in LANG_LEXICON.items() for w in words
    )


query(
    "q_text_langid",
    f"""
    WITH lex(lang_cand, tok) AS (VALUES {_lex_values()}),
    toks AS (SELECT doc_id, unnest({_TOK}) AS tok FROM documents
             WHERE doc_id IS NOT NULL),
    hits AS (
      SELECT doc_id, lang_cand, count(*) AS hits
      FROM toks JOIN lex USING (tok) GROUP BY 1, 2
    ),
    best AS (
      SELECT doc_id, lang_cand AS lang_pred, hits AS best_hits,
             row_number() OVER (PARTITION BY doc_id
                                ORDER BY hits DESC, lang_cand DESC) AS rn
      FROM hits
    )
    SELECT d.doc_id,
           coalesce(b.lang_pred, 'und') AS lang_pred,
           coalesce(b.best_hits, 0) AS best_hits,
           d.lang
    FROM (SELECT * FROM documents WHERE doc_id IS NOT NULL) d
    LEFT JOIN (SELECT * FROM best WHERE rn = 1) b USING (doc_id)
    """,
    tags=("extension", "text"),
)(_text_langid)


def _text_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language precision/recall/F1 of the langid classifier
    against the documents.lang gold labels, plus macro-F1 — the
    model-evaluation verb that turns q_text_langid's predictions into
    a quality report (CLASSIFIER EVAL over the same plan).

    Scale shape: reuses language_id's broadcast-lexicon scoring; the
    confusion matrix is one combinable (label, pred) shuffle to a
    |labels|²-sized table (checkpoint-materialized — tp/fp/support all
    reuse it); metric arithmetic runs on that tiny relation. Per-label
    F1 is quantized to DECIMAL(18,6) BEFORE the macro average so the
    tiny-window sum is order-independent; precision/recall surface RAW
    (integer ratios — pitfall h)."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from datafusion_wasm_bindings_spark.operators.text import language_id

    # doc-keyed: see _text_langid's NULL doc_id note
    pred = language_id(
        table(spark, sf_dir, "documents").filter(F.col("doc_id").isNotNull()), spark
    )
    cm = (
        pred.groupBy(F.col("lang"), F.col("lang_pred"))
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
        .transform(cut)
    )
    support = cm.groupBy("lang").agg(F.sum("n").cast("long").alias("n_true"))
    predtot = cm.groupBy("lang_pred").agg(F.sum("n").cast("long").alias("n_pred"))
    tp = cm.filter(F.col("lang") == F.col("lang_pred")).select(
        "lang", F.col("n").alias("tp")
    )
    m = (
        support.join(tp, "lang", "left")
        .join(predtot, support.lang == predtot.lang_pred, "left")
        .select(
            "lang",
            "n_true",
            F.coalesce("tp", F.lit(0)).cast("long").alias("tp"),
            F.coalesce("n_pred", F.lit(0)).cast("long").alias("n_pred"),
        )
    )
    prec = F.when(F.col("n_pred") > 0, F.col("tp") / F.col("n_pred")).otherwise(0.0)
    rec = F.when(F.col("n_true") > 0, F.col("tp") / F.col("n_true")).otherwise(0.0)
    f1 = F.when(prec + rec > 0, 2 * prec * rec / (prec + rec)).otherwise(0.0)
    w = Window.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    staged = m.select(
        "lang",
        "n_true",
        "tp",
        "n_pred",
        prec.alias("precision"),
        rec.alias("recall"),
        f1.cast("decimal(18,6)").cast("double").alias("f1"),
    )
    return staged.select(
        "*",
        (
            F.sum(F.col("f1").cast("decimal(18,6)")).over(w).cast("double")
            / F.count(F.lit(1)).over(w)
        ).alias("macro_f1"),
    )


query(
    "q_text_confusion",
    f"""
    WITH lex(lang_cand, tok) AS (VALUES {_lex_values()}),
    toks AS (SELECT doc_id, unnest({_TOK}) AS tok FROM documents
             WHERE doc_id IS NOT NULL),
    hits AS (
      SELECT doc_id, lang_cand, count(*) AS hits
      FROM toks JOIN lex USING (tok) GROUP BY 1, 2
    ),
    best AS (
      SELECT doc_id, lang_cand AS lang_pred,
             row_number() OVER (PARTITION BY doc_id
                                ORDER BY hits DESC, lang_cand DESC) AS rn
      FROM hits
    ),
    pred AS (
      SELECT d.doc_id, coalesce(b.lang_pred, 'und') AS lang_pred, d.lang
      FROM (SELECT * FROM documents WHERE doc_id IS NOT NULL) d
      LEFT JOIN (SELECT * FROM best WHERE rn = 1) b USING (doc_id)
    ),
    cm AS (
      SELECT lang, lang_pred, CAST(COUNT(*) AS BIGINT) AS n
      FROM pred GROUP BY 1, 2
    ),
    m AS (
      SELECT s.lang, s.n_true,
             CAST(COALESCE(t.tp, 0) AS BIGINT) AS tp,
             CAST(COALESCE(p.n_pred, 0) AS BIGINT) AS n_pred
      FROM (SELECT lang, CAST(SUM(n) AS BIGINT) AS n_true FROM cm GROUP BY lang) s
      LEFT JOIN (SELECT lang, n AS tp FROM cm WHERE lang = lang_pred) t USING (lang)
      LEFT JOIN (SELECT lang_pred, CAST(SUM(n) AS BIGINT) AS n_pred
                 FROM cm GROUP BY lang_pred) p ON s.lang = p.lang_pred
    ),
    staged AS (
      SELECT lang, n_true, tp, n_pred,
             CASE WHEN n_pred > 0 THEN CAST(tp AS DOUBLE) / n_pred ELSE 0.0 END
               AS precision,
             CASE WHEN n_true > 0 THEN CAST(tp AS DOUBLE) / n_true ELSE 0.0 END
               AS recall,
             CAST(CAST(
               CASE WHEN (CASE WHEN n_pred > 0 THEN CAST(tp AS DOUBLE) / n_pred
                          ELSE 0.0 END)
                        + (CASE WHEN n_true > 0 THEN CAST(tp AS DOUBLE) / n_true
                           ELSE 0.0 END) > 0
                    THEN 2 * (CASE WHEN n_pred > 0 THEN CAST(tp AS DOUBLE) / n_pred
                              ELSE 0.0 END)
                           * (CASE WHEN n_true > 0 THEN CAST(tp AS DOUBLE) / n_true
                              ELSE 0.0 END)
                         / ((CASE WHEN n_pred > 0 THEN CAST(tp AS DOUBLE) / n_pred
                             ELSE 0.0 END)
                            + (CASE WHEN n_true > 0 THEN CAST(tp AS DOUBLE) / n_true
                               ELSE 0.0 END))
                    ELSE 0.0 END
             AS DECIMAL(18,6)) AS DOUBLE) AS f1
      FROM m
    )
    SELECT lang, n_true, tp, n_pred, precision, recall, f1,
           CAST(SUM(CAST(f1 AS DECIMAL(18,6))) OVER () AS DOUBLE)
             / COUNT(*) OVER () AS macro_f1
    FROM staged
    """,
    tags=("extension", "text", "stats", "quality"),
)(_text_confusion)


def _text_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    from datafusion_wasm_bindings_spark.operators.text import repetition_scores

    # doc-keyed: see _text_langid's NULL doc_id note
    docs = table(spark, sf_dir, "documents").filter(F.col("doc_id").isNotNull())
    return repetition_scores(docs)


query(
    "q_text_repetition",
    f"""
    WITH t AS (
      SELECT doc_id, {_TOK} AS toks FROM documents WHERE doc_id IS NOT NULL
    ),
    b AS (
      SELECT doc_id, toks[i] || ' ' || toks[i+1] AS bg
      FROM t, unnest(range(1, len(toks))) AS r(i)
    ),
    c AS (SELECT doc_id, bg, count(*) AS c FROM b GROUP BY 1, 2),
    d AS (
      SELECT doc_id AS d_id, max(c) AS top_bg, sum(c) AS total_bg,
             sum(CASE WHEN c > 1 THEN c ELSE 0 END) AS dup_bg
      FROM c GROUP BY doc_id
    )
    SELECT t.doc_id, len(toks) AS n_tokens,
           round(1.0 - len(list_distinct(toks)) * 1.0 / greatest(len(toks), 1), 6)
             AS dup_token_ratio,
           round(coalesce(top_bg * 1.0 / total_bg, 0), 6) AS top_bigram_frac,
           round(coalesce(dup_bg * 1.0 / total_bg, 0), 6) AS dup_bigram_frac
    FROM t LEFT JOIN d ON t.doc_id = d.d_id
    """,
    tags=("extension", "text"),
)(_text_repetition)


def _text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    from datafusion_wasm_bindings_spark.operators.text import fingerprints

    return fingerprints(table(spark, sf_dir, "documents"))


query(
    "q_text_fingerprint",
    f"""
    SELECT doc_id,
           -- CASE guard: list_prepend(0, NULL) is [0] in DuckDB, which
           -- would fingerprint a NULL text to 0 instead of NULL
           CASE WHEN text IS NULL THEN NULL ELSE
           list_reduce(
             list_prepend(CAST(0 AS BIGINT),
               list_transform({_TOK},
                 t -> list_reduce(
                        list_prepend(CAST(0 AS BIGINT),
                          list_transform(string_split(t, ''),
                                         c -> CAST(ascii(c) AS BIGINT))),
                        (a, b) -> (a * 131 + b) % 1000000007))),
             (a, t) -> (a * 31 + t) % 1000000007) END AS fingerprint
    FROM documents
    """,
    tags=("extension", "text"),
)(_text_fingerprint)


def _text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from datafusion_wasm_bindings_spark.operators.text import corpus_stats

    return corpus_stats(table(spark, sf_dir, "documents"))


query(
    "q_text_stats",
    f"""
    SELECT lang,
           COUNT(1) AS n_docs,
           CAST(SUM(length(text)) AS BIGINT) AS total_chars,
           CAST(SUM(len({_TOK})) AS BIGINT) AS total_tokens,
           CAST(SUM(len({_TOK})) AS DOUBLE) / COUNT(1) AS avg_tokens,
           COUNT(DISTINCT source) AS n_sources
    FROM documents
    GROUP BY lang
    ORDER BY lang ASC NULLS LAST
    """,
    tags=("extension", "text"),
)(_text_stats)


# ====================== sampling (training-mix construction) =============
_STRATA_FRACTIONS = {"en": 0.5, "de": 1.0, "fr": 0.25, "es": 0.25, "zh": 0.1}


def _md5_thr(rate: float) -> str:
    from datafusion_wasm_bindings_spark.operators.sampling import md5_threshold

    return md5_threshold(rate)


def _sample_stratified(spark: SparkSession, sf_dir: str) -> DataFrame:
    from datafusion_wasm_bindings_spark.operators.sampling import (
        md5_stratified_sample,
    )

    docs = table(spark, sf_dir, "documents")
    return md5_stratified_sample(
        docs, "doc_id", "lang", _STRATA_FRACTIONS
    ).select("doc_id", "lang")


# md5 is standardized → DuckDB keeps the identical rows: full value
# oracle. (The seeded-RNG sampleBy variant stays as an operator,
# property-tested in tests/test_operators.py.)
query(
    "q_sample_stratified",
    """
    SELECT doc_id, lang FROM documents
    WHERE substr(md5(CAST(doc_id AS VARCHAR) || 'dfwb'), 1, 8) <
          CASE lang """
    + " ".join(
        f"WHEN '{s}' THEN '{_md5_thr(r)}'" for s, r in _STRATA_FRACTIONS.items()
    )
    + """ END
    """,
    tags=("extension", "sampling"),
)(_sample_stratified)


def _sample_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    from datafusion_wasm_bindings_spark.operators.sampling import md5_sample

    return md5_sample(
        table(spark, sf_dir, "documents"), "doc_id", 0.3
    ).select("doc_id", "lang")


query(
    "q_sample_hash",
    f"""
    SELECT doc_id, lang FROM documents
    WHERE substr(md5(CAST(doc_id AS VARCHAR) || 'dfwb'), 1, 8) < '{_md5_thr(0.3)}'
    """,
    tags=("extension", "sampling"),
)(_sample_hash)


def _sample_weighted(spark: SparkSession, sf_dir: str) -> DataFrame:
    from datafusion_wasm_bindings_spark.operators.sampling import weighted_sample

    return weighted_sample(
        table(spark, sf_dir, "documents"), "doc_id", "n_chars", 100
    ).select("doc_id", "lang", "n_chars")


# oracle: identical A-Res ranking — DuckDB's '0x'||hex cast is the
# portable twin of Spark's conv(hex,16,10) (same first-8-md5-chars
# integer), and ln/division on the same double uniform ranks
# identically away from ulp-coincident keys (content-addressed draws
# make exact ties impossible for distinct doc_ids)
query(
    "q_sample_weighted",
    """
    SELECT doc_id, lang, n_chars FROM (
      SELECT doc_id, lang, n_chars,
             ln((CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR) || 'dfwb-w'), 1, 8)
                  AS BIGINT) + 1) / 4294967297.0) / n_chars AS k
      FROM documents WHERE n_chars > 0
    )
    ORDER BY k DESC, doc_id LIMIT 100
    """,
    tags=("extension", "sampling"),
)(_sample_weighted)


def _sample_temperature(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import functions as F

    from datafusion_wasm_bindings_spark.operators.sampling import temperature_sample

    kept = temperature_sample(
        table(spark, sf_dir, "documents"), "doc_id", "source", alpha=0.5
    )
    return kept.groupBy("source").agg(
        F.count("*").alias("n_kept"),
        F.round(F.min("keep_rate"), 6).alias("keep_rate"),
    )


# temperature mixing is fully deterministic (md5 draw + identical
# double arithmetic for the (n/n_min)^(alpha-1) rate), so the oracle
# recomputes the whole pipeline: counts → rates → per-row keep → mix
# summary. alpha=0.5 flattens the natural source distribution halfway
# to uniform; the smallest source keeps rate 1.0.
query(
    "q_sample_temperature",
    """
    WITH c AS (SELECT source, count(*) AS n FROM documents GROUP BY source),
    m AS (SELECT min(n) AS mn FROM c),
    r AS (SELECT source, pow(n * 1.0 / mn, -0.5) AS rate FROM c, m),
    k AS (
      SELECT d.source, r.rate
      FROM documents d JOIN r USING (source)
      WHERE CAST(('0x' || substr(md5(CAST(d.doc_id AS VARCHAR) || 'dfwb'), 1, 8)) AS BIGINT)
              / 4294967296.0 < r.rate
    )
    SELECT source, count(*) AS n_kept, round(min(rate), 6) AS keep_rate
    FROM k GROUP BY source
    """,
    tags=("extension", "sampling"),
)(_sample_temperature)


def _pipeline_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leakage-safe train/val/test assignment: the draw is over SOURCE,
    so every document of a domain shares a split (near-dups inside one
    source can't straddle train/eval). Pure map — free at 100 TB."""
    from datafusion_wasm_bindings_spark.operators.sampling import group_split

    docs = table(spark, sf_dir, "documents").select("doc_id", "source", "lang")
    return group_split(
        docs, "source", fractions={"train": 0.8, "val": 0.1, "test": 0.1}
    )


# oracle: identical md5-over-source thresholds (md5_threshold(0.8) =
# 'cccccccc', (0.9) = 'e6666666'); engine-portable by construction
query(
    "q_pipeline_split",
    """
    SELECT doc_id, source, lang,
           CASE WHEN substr(md5(source || 'dfwb-split'), 1, 8) < 'cccccccc' THEN 'train'
                WHEN substr(md5(source || 'dfwb-split'), 1, 8) < 'e6666666' THEN 'val'
                ELSE 'test' END AS split
    FROM documents
    """,
    tags=("extension", "pipeline", "sampling"),
)(_pipeline_split)


def _pipeline_epochs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from datafusion_wasm_bindings_spark.operators.sampling import epoch_upsample

    return epoch_upsample(
        table(spark, sf_dir, "documents"), cuts=((0.8, 3), (0.6, 2))
    )


# oracle: q_text_quality's exact score pipeline (rounded to 6 dp — the
# rounded double is bit-identical cross-engine, so bucket boundaries
# cannot flip), then epoch explode via generate_series
query(
    "q_pipeline_epochs",
    f"""
    WITH f AS (
      SELECT doc_id,
             {_TOK} AS toks,
             length(text) AS n_chars,
             length(regexp_replace(lower(text), '[^a-z]', '', 'g')) AS alpha_chars
      FROM documents
    ),
    g AS (
      SELECT doc_id, n_chars, alpha_chars,
             len(toks) AS n_tok,
             len(list_filter(toks, t -> list_contains({_EN_STOP_SQL}, t))) AS n_stop
      FROM f
    ),
    q AS (
      SELECT doc_id,
             round(
               least(n_chars / 400.0, 1.0) * 0.3
               + (alpha_chars * 1.0 / greatest(n_chars, 1)) * 0.3
               + least(n_stop * 1.0 / greatest(n_tok, 1) * 4.0, 1.0) * 0.2
               + CASE WHEN (CASE WHEN n_tok > 0 THEN alpha_chars * 1.0 / n_tok ELSE 0.0 END) BETWEEN 3 AND 8
                      THEN 0.2 ELSE 0.0 END,
             6) AS quality
      FROM g
    ),
    e AS (
      SELECT doc_id, quality,
             CAST(CASE WHEN quality >= 0.8 THEN 3
                       WHEN quality >= 0.6 THEN 2
                       ELSE 1 END AS INTEGER) AS n_epochs
      FROM q
    )
    SELECT doc_id, quality, n_epochs, CAST(i AS INTEGER) AS epoch
    FROM e, unnest(generate_series(1, n_epochs)) AS u(i)
    """,
    tags=("extension", "pipeline", "sampling"),
)(_pipeline_epochs)


# ====================== point-in-time (as-of) join =======================
def _join_asof(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Most recent purchase before each event, per user — the
    leakage-free feature-lookup shape (operators/asof.py). Output
    instants as epoch micros (registry determinism rules)."""
    from pyspark.sql import functions as F

    from datafusion_wasm_bindings_spark.operators.asof import asof_join

    events = table(spark, sf_dir, "events")
    left = events.select("event_id", "user_id", "ts", "value")
    right = (
        events.filter(F.col("event_type") == "purchase")
        .groupBy("user_id", "ts")
        .agg(F.max("value").alias("purchase_value"))
    )
    out = asof_join(left, right, on=["user_id"], ts="ts", right_prefix="ref_")
    return out.select(
        "event_id",
        "user_id",
        F.unix_micros("ts").alias("ts_us"),
        "value",
        F.unix_micros("ref_ts").alias("ref_ts_us"),
        "ref_purchase_value",
    )


# the oracle runs DuckDB's NATIVE ASOF LEFT JOIN against our
# union-merge window rewrite — two independent formulations of the
# same semantics must agree row-for-row.
query(
    "q_join_asof",
    """
    WITH r AS (
      SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, MAX(value) AS purchase_value
      FROM events
      -- DuckDB's ASOF matching misbehaves when the inequality column
      -- carries NULLs (a NULL-ts purchase can win as "latest"); SQL
      -- semantics say r.ts <= e.ts is never true for NULL — exclude
      -- explicitly, mirroring the operator's right-side filter
      WHERE event_type = 'purchase' AND ts IS NOT NULL
      GROUP BY 1, 2
    )
    SELECT e.event_id,
           e.user_id,
           epoch_us(CAST(e.ts AS TIMESTAMP)) AS ts_us,
           e.value,
           epoch_us(r.ts) AS ref_ts_us,
           r.purchase_value AS ref_purchase_value
    FROM (SELECT * FROM events WHERE ts IS NOT NULL) e
    ASOF LEFT JOIN r ON e.user_id = r.user_id AND r.ts <= CAST(e.ts AS TIMESTAMP)
    UNION ALL
    -- DuckDB's ASOF treats a NULL probe ts as +infinity (matches the
    -- user's LATEST purchase); SQL 3VL says r.ts <= NULL is never
    -- true, which is what the Spark rewrite produces — route NULL-ts
    -- probe rows around the ASOF with explicit NULL refs
    SELECT event_id, user_id, CAST(NULL AS BIGINT) AS ts_us, value,
           CAST(NULL AS BIGINT) AS ref_ts_us,
           CAST(NULL AS DOUBLE) AS ref_purchase_value
    FROM events WHERE ts IS NULL
    """,
    tags=("extension", "join", "events"),
)(_join_asof)


# ====================== quantile feature binning =========================
def _feature_binning(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decile-bin o_totalprice (operators/features.py) and summarize
    each bucket — equal-frequency discretization for feature
    pipelines. Exact boundaries here (oracle-checkable); the operator's
    approx mode is the mergeable-sketch 100 TB path."""
    from pyspark.sql import functions as F

    from datafusion_wasm_bindings_spark.operators.features import quantile_bin

    binned = quantile_bin(
        table(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice"),
        "o_totalprice",
        n_bins=10,
    )
    return binned.groupBy("bin").agg(
        F.count("*").alias("n"),
        F.min("o_totalprice").cast("double").alias("lo"),
        F.max("o_totalprice").cast("double").alias("hi"),
    )


# exact interpolating percentile == DuckDB quantile_cont (same
# (n-1)*p rank interpolation on the same doubles), so bin assignment
# and bucket summaries value-check exactly.
query(
    "q_feature_binning",
    f"""
    WITH b AS (
      SELECT quantile_cont(o_totalprice,
                           [{", ".join(str(i / 10) for i in range(1, 10))}]) AS bnds
      FROM orders
    ),
    a AS (
      SELECT o_totalprice,
             CASE WHEN o_totalprice IS NOT NULL
                  THEN len(list_filter(b.bnds, x -> x <= o_totalprice))
             END AS bin
      FROM orders, b
    )
    SELECT bin, count(*) AS n,
           CAST(min(o_totalprice) AS DOUBLE) AS lo,
           CAST(max(o_totalprice) AS DOUBLE) AS hi
    FROM a GROUP BY bin
    """,
    tags=("extension", "features"),
)(_feature_binning)


# ====================== interval (range) join ============================
def _join_range(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Events within 30 minutes after each purchase, per user —
    attribution-window shape. Bucketed equi-join rewrite
    (operators/rangejoin.py); instants surfaced as epoch micros."""
    from pyspark.sql import functions as F

    from datafusion_wasm_bindings_spark.operators.rangejoin import interval_join

    events = table(spark, sf_dir, "events")
    left = events.select("event_id", "user_id", "ts", "event_type")
    iv = (
        events.filter(F.col("event_type") == "purchase")
        .groupBy("user_id", "ts")
        .agg(F.count("*").alias("__dup"))
        .select(
            "user_id",
            F.col("ts").alias("start"),
            (F.col("ts") + F.expr("INTERVAL 30 MINUTE")).alias("end"),
        )
    )
    out = interval_join(left, iv, on=["user_id"], ts="ts", bucket_seconds=1800)
    return out.select(
        "event_id",
        "user_id",
        F.unix_micros("ts").alias("ts_us"),
        "event_type",
        F.unix_micros("start").alias("win_start_us"),
    )


# oracle: DuckDB's native inequality join (IEJoin) over the plain
# BETWEEN predicate — independent of the bucketing rewrite, so the
# bounded fan-out trick is value-checked, not assumed.
query(
    "q_join_range",
    """
    WITH iv AS (
      SELECT user_id, CAST(ts AS TIMESTAMP) AS start,
             CAST(ts AS TIMESTAMP) + INTERVAL 30 MINUTE AS "end"
      FROM events WHERE event_type = 'purchase' GROUP BY 1, 2
    )
    SELECT e.event_id,
           e.user_id,
           epoch_us(CAST(e.ts AS TIMESTAMP)) AS ts_us,
           e.event_type,
           epoch_us(iv.start) AS win_start_us
    FROM events e
    JOIN iv ON e.user_id = iv.user_id
           AND CAST(e.ts AS TIMESTAMP) >= iv.start
           AND CAST(e.ts AS TIMESTAMP) <= iv."end"
    """,
    tags=("extension", "join", "events"),
)(_join_range)


# ====================== semi-structured props ============================
# events.props carries JSON payloads — the semi-structured column
# pattern of real event pipelines. Extraction stays JVM-side
# (get_json_object is codegen'd); at 100 TB you'd from_json() into a
# struct column once and let pruning drop it when unused.
sql_query(
    "q_events_props_json",
    """
    SELECT event_type,
           COUNT(1) AS n,
           SUM(CAST(get_json_object(props, '$.k') AS BIGINT)) AS sum_k,
           MIN(CAST(get_json_object(props, '$.k') AS BIGINT)) AS min_k,
           MAX(CAST(get_json_object(props, '$.k') AS BIGINT)) AS max_k
    FROM events
    GROUP BY event_type
    ORDER BY event_type ASC NULLS LAST
    """,
    oracle="""
    -- json_valid guard: DuckDB json_extract_string ERRORS on malformed
    -- JSON where Spark get_json_object returns NULL (adversarial
    -- extremes replay, r6)
    WITH j AS (
      SELECT event_type,
             CASE WHEN json_valid(props)
                  THEN json_extract_string(props, '$.k') END AS k
      FROM events
    )
    SELECT event_type,
           COUNT(1) AS n,
           CAST(SUM(CAST(k AS BIGINT)) AS BIGINT) AS sum_k,
           MIN(CAST(k AS BIGINT)) AS min_k,
           MAX(CAST(k AS BIGINT)) AS max_k
    FROM j
    GROUP BY event_type
    ORDER BY event_type ASC NULLS LAST
    """,
    tags=("extension", "events", "json"),
)


# ====================== custom stateful streaming ========================
def _stream_stateful(spark: SparkSession, sf_dir: str) -> DataFrame:
    from datafusion_wasm_bindings_spark.streaming.events import streaming_running_totals

    return streaming_running_totals(spark, sf_dir).select("user_id", "events_seen")


# the stateful operator's final counts are SQL-checkable even though
# the operator itself (explicit group state across micro-batches) is
# not SQL-expressible; float sums are excluded (accumulation order
# differs), so the oracle check stays exact
query(
    "q_stream_stateful_totals",
    "SELECT user_id, COUNT(1) AS events_seen FROM events GROUP BY user_id",
    tags=("extension", "streaming", "stateful"),
)(_stream_stateful)


def _stream_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from datafusion_wasm_bindings_spark.streaming.events import streaming_dedup

    return streaming_dedup(spark, sf_dir)


# a REAL dropDuplicatesWithinWatermark run; bounded input makes the
# kept-key set equal batch DISTINCT, so the summary is fully checkable
query(
    "q_stream_dedup",
    """
    SELECT user_id, count(*) AS n_types
    FROM (SELECT DISTINCT user_id, event_type FROM events)
    GROUP BY user_id
    """,
    tags=("extension", "streaming", "dedup"),
)(_stream_dedup)


def _stream_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    from datafusion_wasm_bindings_spark.streaming.events import streaming_stream_join

    return streaming_stream_join(spark, sf_dir)


# a REAL watermarked stream-stream range join; bounded input equals
# the batch join with the same predicate, so the summary value-checks
query(
    "q_stream_stream_join",
    f"""
    WITH p AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS p_ts
               FROM events WHERE event_type = 'purchase'),
         c AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS c_ts, value
               FROM events WHERE event_type = 'click')
    SELECT p.user_id, count(*) AS n_pairs,
           {dsum_sql("c.value", "click_value")}
    FROM p JOIN c ON p.user_id = c.user_id
               AND c.c_ts >= p.p_ts AND c.c_ts <= p.p_ts + INTERVAL 30 MINUTE
    GROUP BY p.user_id
    """,
    tags=("extension", "streaming", "join"),
)(_stream_stream_join)


def _stream_static_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import functions as F

    from datafusion_wasm_bindings_spark.streaming.events import streaming_enriched_windows

    return streaming_enriched_windows(spark, sf_dir).withColumn(
        "ws", F.unix_seconds("ws")
    )


# a REAL readStream → broadcast-join → windowed-agg run; the result is
# SQL-checkable because a stream-static join over bounded input equals
# the batch join, and the decimal-cast weighted sum removes
# accumulation-order float drift
query(
    "q_stream_static_join",
    """
    SELECT CAST(epoch(time_bucket(INTERVAL 1 DAY, CAST(ts AS TIMESTAMP))) AS BIGINT) AS ws,
           event_type,
           count(*) AS n,
           CAST(SUM(CAST(value AS DECIMAL(18,6)) * LENGTH(event_type)) AS DOUBLE)
             AS weighted_value
    FROM events
    -- ts: window-generator semantics; event_type: the stream-static
    -- join is an INNER equi-join, and NULL never equals NULL there
    WHERE ts IS NOT NULL AND event_type IS NOT NULL
    GROUP BY 1, 2
    """,
    tags=("extension", "streaming", "join"),
)(_stream_static_join)


# ====================== scale machinery ==================================
def _join_salted(spark: SparkSession, sf_dir: str) -> DataFrame:
    from datafusion_wasm_bindings_spark.operators.scale import salted_join
    from pyspark.sql import functions as F

    orders = table(spark, sf_dir, "orders").select(
        F.col("o_custkey").alias("custkey"), "o_orderkey", "o_totalprice"
    )
    cust = table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("custkey"), "c_name", "c_mktsegment"
    )
    return salted_join(orders, cust, "custkey", factor=4)


query(
    "q_join_salted",
    """
    SELECT o_custkey AS custkey, o_orderkey, o_totalprice, c_name, c_mktsegment
    FROM orders JOIN customer ON o_custkey = c_custkey
    """,
    tags=("extension", "scale", "join"),
)(_join_salted)


# ====================== multimodal columns ===============================
def _multimodal_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    from datafusion_wasm_bindings_spark.operators.multimodal import (
        extract_features,
        synthesize_media,
    )

    return extract_features(synthesize_media(table(spark, sf_dir, "documents")))


query(
    "q_multimodal_features",
    """
    -- the '?'-sanitized payload (see synthesize_media): CHAR = BYTE by
    -- construction on ANY input (adversarial extremes replay, r6)
    WITH s AS (
      SELECT doc_id, regexp_replace(text, '[^\\x00-\\x7F]', '?', 'g') AS p
      FROM documents
    ),
    m AS (
      SELECT doc_id,
             CASE WHEN doc_id % 2 = 0 THEN 'png' ELSE 'jpeg' END AS format,
             octet_length(encode(p)) AS n_bytes,
             substr(p, 1, 128) AS head
      FROM s
    )
    SELECT doc_id, format, n_bytes,
           CAST(64 + (n_bytes % 577) AS INT) AS width,
           CAST(64 + ((n_bytes * 31) % 479) AS INT) AS height,
           -- CASE guard: list_prepend(0, NULL) is [0] in DuckDB, which
           -- would checksum a NULL payload to 0 instead of NULL
           CASE WHEN n_bytes IS NULL THEN NULL ELSE
           list_reduce(
             list_prepend(CAST(0 AS BIGINT),
               list_transform(string_split(head, ''), c -> CAST(ascii(c) AS BIGINT))),
             (a, b) -> (a * 131 + b) % 1000000007) END AS checksum
    FROM m
    """,
    tags=("extension", "multimodal"),
)(_multimodal_features)


def _multimodal_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    from datafusion_wasm_bindings_spark.operators.multimodal import (
        extract_features,
        resize_media,
        synthesize_media,
    )

    return extract_features(
        resize_media(synthesize_media(table(spark, sf_dir, "documents")), 4)
    )


# oracle: stride-decimation in SQL — every 4th CHAR equals every 4th
# BYTE because the documents fixture is pure ASCII at every SF (checked
# directly; same equivalence q_multimodal_features' head-128 checksum
# already relies on), then the same width/height/checksum formulas
# applied to the decimated payload
query(
    "q_multimodal_resize",
    """
    -- '?'-sanitized payload: CHAR = BYTE (see q_multimodal_features)
    WITH s AS (
      SELECT doc_id, regexp_replace(text, '[^\\x00-\\x7F]', '?', 'g') AS p
      FROM documents
    ),
    m AS (
      SELECT doc_id,
             CASE WHEN doc_id % 2 = 0 THEN 'png' ELSE 'jpeg' END AS format,
             -- guarded COALESCE: an EMPTY payload decimates to '' in
             -- Spark but array_to_string of the empty slice list is
             -- NULL in DuckDB (r3 pitfall b); a NULL payload must stay
             -- NULL, not become '' (adversarial extremes replay, r6)
             CASE WHEN p IS NULL THEN NULL ELSE
             COALESCE(array_to_string(
               list_transform(
                 range(0, CAST(ceil(length(p) / 4.0) AS BIGINT)),
                 i -> substr(p, CAST(1 + i * 4 AS INT), 1)),
               ''), '') END AS rt
      FROM s
    ),
    r AS (SELECT doc_id, format, rt, octet_length(encode(rt)) AS n_bytes FROM m)
    SELECT doc_id, format, n_bytes,
           CAST(64 + (n_bytes % 577) AS INT) AS width,
           CAST(64 + ((n_bytes * 31) % 479) AS INT) AS height,
           -- CASE guard: list_prepend(0, NULL) is [0] in DuckDB (see
           -- q_multimodal_features)
           CASE WHEN n_bytes IS NULL THEN NULL ELSE
           list_reduce(
             list_prepend(CAST(0 AS BIGINT),
               list_transform(string_split(substr(rt, 1, 128), ''),
                              c -> CAST(ascii(c) AS BIGINT))),
             (a, b) -> (a * 131 + b) % 1000000007) END AS checksum
    FROM r
    """,
    tags=("extension", "multimodal"),
)(_multimodal_resize)


def _multimodal_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    from datafusion_wasm_bindings_spark.operators.multimodal import (
        frame_sample,
        synthesize_media,
    )
    from pyspark.sql import functions as F

    frames = frame_sample(synthesize_media(table(spark, sf_dir, "documents")))
    return frames.select(
        "doc_id", "frame_no", F.col("frame_bytes").cast("string").alias("frame_text")
    )


query(
    "q_multimodal_frames",
    """
    -- '?'-sanitized payload: CHAR = BYTE (see q_multimodal_features)
    WITH m AS (SELECT doc_id,
                      regexp_replace(text, '[^\\x00-\\x7F]', '?', 'g') AS p,
                      octet_length(encode(regexp_replace(text, '[^\\x00-\\x7F]', '?', 'g'))) AS n
               FROM documents),
    idx AS (
      SELECT doc_id, p, unnest(range(0, greatest(n // 100, 1))) AS frame_no FROM m
    )
    SELECT doc_id, CAST(frame_no AS INT) AS frame_no,
           substr(p, CAST(frame_no AS INT) * 100 + 1, 16) AS frame_text
    FROM idx
    """,
    tags=("extension", "multimodal"),
)(_multimodal_frames)


# ====================== event-time windows (batch) ========================
# window starts surfaced as epoch SECONDS (registry rule: never raw
# timestamps — driver hashes tz-naive/tz-aware cells differently); the
# library functions in streaming/events.py keep their natural timestamp
# outputs for programmatic use.
def _events_tumbling(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import functions as F

    from datafusion_wasm_bindings_spark.streaming.events import tumbling

    return tumbling(table(spark, sf_dir, "events")).withColumn(
        "ws", F.unix_seconds("ws")
    )


query(
    "q_events_tumbling",
    f"""
    SELECT CAST(epoch(time_bucket(INTERVAL 1 HOUR, CAST(ts AS TIMESTAMP))) AS BIGINT) AS ws,
           event_type,
           count(*) AS n,
           {dsum_sql("value", "total_value")}
    FROM events
    WHERE ts IS NOT NULL
    GROUP BY 1, 2
    """,
    headline=True,
    tags=("extension", "events"),
)(_events_tumbling)


def _events_sliding(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import functions as F

    from datafusion_wasm_bindings_spark.streaming.events import sliding

    return sliding(table(spark, sf_dir, "events")).withColumn(
        "ws", F.unix_seconds("ws")
    )


query(
    "q_events_sliding",
    f"""
    WITH assigned AS (
      SELECT time_bucket(INTERVAL 30 MINUTE, CAST(ts AS TIMESTAMP)) AS ws, value
      FROM events WHERE ts IS NOT NULL
      UNION ALL
      SELECT time_bucket(INTERVAL 30 MINUTE, CAST(ts AS TIMESTAMP)) - INTERVAL 30 MINUTE AS ws, value
      FROM events WHERE ts IS NOT NULL
    )
    SELECT CAST(epoch(ws) AS BIGINT) AS ws, count(*) AS n, {dsum_sql("value", "total_value")}
    FROM assigned GROUP BY ws
    """,
    tags=("extension", "events"),
)(_events_sliding)


def _events_session(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import functions as F

    from datafusion_wasm_bindings_spark.streaming.events import sessionized

    # epoch MICROS, not seconds: real event times carry sub-second
    # precision and unix_seconds truncates where DuckDB's epoch→BIGINT
    # cast rounds; epoch_us is exact on both sides
    return sessionized(table(spark, sf_dir, "events")).withColumn(
        "session_start", F.unix_micros("session_start")
    )


query(
    "q_events_session",
    f"""
    WITH ordered AS (
      SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, value,
             lag(CAST(ts AS TIMESTAMP)) OVER (PARTITION BY user_id ORDER BY ts) AS prev_ts
      FROM events WHERE ts IS NOT NULL
    ),
    flagged AS (
      SELECT user_id, ts, value,
             CASE WHEN prev_ts IS NULL OR ts - prev_ts > INTERVAL 10 MINUTE
                  THEN 1 ELSE 0 END AS new_session
      FROM ordered
    ),
    numbered AS (
      SELECT user_id, ts, value,
             sum(new_session) OVER (PARTITION BY user_id ORDER BY ts
                                    ROWS UNBOUNDED PRECEDING) AS session_no
      FROM flagged
    )
    SELECT user_id, epoch_us(min(ts)) AS session_start, count(*) AS n,
           {dsum_sql("value", "total_value")}
    FROM numbered GROUP BY user_id, session_no
    """,
    tags=("extension", "events"),
)(_events_session)


def _stream_session(spark: SparkSession, sf_dir: str) -> DataFrame:
    from datafusion_wasm_bindings_spark.streaming.events import streaming_sessions

    return streaming_sessions(spark, sf_dir)


# a REAL streaming session_window run (merging stateful windows);
# bounded input + complete mode ⇒ result equals batch sessionization,
# so it shares q_events_session's oracle text verbatim
query(
    "q_stream_session",
    QUERIES["q_events_session"].oracle,
    tags=("extension", "streaming", "stateful", "events"),
)(_stream_session)


# ====================== end-to-end training-mix pipeline ================
def _pipeline_training_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The whole training-data story in one composed plan: exact dedup
    (keep lowest doc_id per text) → quality gate (length band + minimum
    token count) → deterministic per-language md5 sampling → corpus
    mix summary. Every stage is the operator the standalone queries
    check individually; this query checks their composition.

    Scale posture (r10 widerow convention): the dedup shuffle carries
    a SLIM projection — md5(text) digest + doc_id/lang/n_chars/
    n_tokens, ~60 B/row — never the text itself: every column the
    pipeline consumes downstream of the scan is computable map-side,
    so the payload stays out of the exchange entirely (the md5
    collision-exactness assumption is q_dedup_exact's established
    prehash rule; the oracle keeps PARTITION BY text). Only the
    GENUINELY group-constant gate sits below the dedup window: the
    n_tokens >= 10 cut is a deterministic function of text (the
    partition identity), so it kills or keeps WHOLE dedup groups and
    winner selection is unchanged — Catalyst pushed this itself when
    the partition key was raw text, but cannot infer it through the
    md5 key, so the rewrite states it. The STORED n_chars band is NOT
    provably a function of text (it is a materialized column that
    hostile data can decorrelate from the payload), so it is applied
    AFTER the rn == 1 winner pick, exactly where the oracle applies it
    (ADVICE r10 medium). The dedup ordering carries an explicit
    NULLS LAST on both sides: the winner's doc_id is positionally
    consumed by the md5 sampler, so a duplicate-text group containing
    a NULL doc_id must pick the same winner per engine (rule r5(a)).
    Net plan: sub-token rows never shuffle, surviving rows shuffle
    ~60 B each, and WindowGroupLimit pre-cuts duplicate groups
    map-side before the exchange. The sampler is a pure map; the
    final rollup shuffles ~|languages| rows after map-side partial
    aggregation. Plan-linted registry-wide
    (tests/test_plans.py::test_no_payload_columns_in_exchanges).
    """
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from datafusion_wasm_bindings_spark.operators.dedup import tokens
    from datafusion_wasm_bindings_spark.operators.sampling import (
        md5_stratified_sample,
    )
    from datafusion_wasm_bindings_spark.queries._util import davg

    docs = table(spark, sf_dir, "documents")
    base = docs.select(
        "doc_id",
        "lang",
        "n_chars",
        F.md5(F.col("text")).alias("__key"),
        F.size(tokens()).alias("n_tokens"),
    )
    prefiltered = base.filter(F.col("n_tokens") >= 10)
    w = Window.partitionBy("__key").orderBy(F.col("doc_id").asc_nulls_last())
    quality = (
        prefiltered.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .filter((F.col("n_chars") >= 30) & (F.col("n_chars") <= 100000))
        .drop("__rn", "__key")
    )
    sampled = md5_stratified_sample(
        quality, "doc_id", "lang", _STRATA_FRACTIONS
    )
    return (
        sampled.groupBy("lang")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_tokens").alias("total_tokens"),
            davg(F.col("n_tokens").cast("double"), "avg_tokens"),
        )
        .orderBy(F.col("lang").asc_nulls_last())
    )


query(
    "q_pipeline_training_mix",
    """
    WITH dedup AS (
      SELECT *, row_number() OVER (PARTITION BY text ORDER BY doc_id ASC NULLS LAST) AS rn
      FROM documents
    ),
    quality AS (
      SELECT doc_id, lang, len(regexp_extract_all(lower(text), '[a-z0-9]+')) AS n_tokens
      FROM dedup
      WHERE rn = 1 AND n_chars BETWEEN 30 AND 100000
        AND len(regexp_extract_all(lower(text), '[a-z0-9]+')) >= 10
    ),
    sampled AS (
      SELECT * FROM quality
      WHERE substr(md5(CAST(doc_id AS VARCHAR) || 'dfwb'), 1, 8) <
            CASE lang """
    + " ".join(
        f"WHEN '{s}' THEN '{_md5_thr(r)}'" for s, r in _STRATA_FRACTIONS.items()
    )
    + """ END
    )
    SELECT lang, count(*) AS n_docs, CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
           CAST(SUM(CAST(CAST(n_tokens AS DOUBLE) AS DECIMAL(18,6))) AS DOUBLE) / COUNT(1)
             AS avg_tokens
    FROM sampled GROUP BY lang
    ORDER BY lang ASC NULLS LAST
    """,
    headline=True,
    tags=("extension", "pipeline"),
)(_pipeline_training_mix)


def _pipeline_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import functions as F

    from datafusion_wasm_bindings_spark.operators.packing import pack_sequences

    # packing needs an id (shard/order key) and content (token count):
    # NULL-id/NULL-text docs are excluded on both sides (adversarial
    # NULL replay, r5)
    docs = table(spark, sf_dir, "documents").filter(
        F.col("doc_id").isNotNull() & F.col("text").isNotNull()
    )
    return pack_sequences(docs, budget=512, n_shards=8)


query(
    "q_pipeline_pack",
    f"""
    WITH d AS (
      SELECT doc_id, doc_id % 8 AS shard, len({_TOK}) AS n_tokens
      FROM documents WHERE doc_id IS NOT NULL AND text IS NOT NULL
    ),
    placed AS (
      SELECT shard, n_tokens,
             sum(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id
                                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS end_off
      FROM d
    ),
    cut AS (
      SELECT shard, n_tokens,
             CAST(floor((end_off - n_tokens) / 512.0) AS BIGINT) AS seq_id,
             (n_tokens > 0 AND
              floor((end_off - 1) / 512.0) > floor((end_off - n_tokens) / 512.0))
               AS crosses
      FROM placed
    )
    SELECT shard, seq_id, count(*) AS n_docs,
           CAST(sum(n_tokens) AS BIGINT) AS start_tokens,
           CAST(sum(CASE WHEN crosses THEN 1 ELSE 0 END) AS BIGINT) AS n_split
    FROM cut GROUP BY shard, seq_id ORDER BY shard, seq_id
    """,
    tags=("extension", "pipeline", "packing"),
)(_pipeline_pack)


# ====================== decontamination / PII ============================
def _text_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    from datafusion_wasm_bindings_spark.operators.text import decontaminate

    # NULL-text docs have no shingles: the Spark shingle explode drops
    # them while the oracle would carry a NULL n_shingles row —
    # excluded explicitly on both sides (adversarial NULL replay, r5)
    docs = table(spark, sf_dir, "documents").filter(F.col("text").isNotNull())
    evals = docs.filter("doc_id % 41 = 0")
    train = docs.filter("doc_id % 41 <> 0")
    return decontaminate(train, evals, n=3)


# oracle: the same 3-gram shingle construction as q_dedup_minhash's SQL
# (list-index arithmetic is 1-based in DuckDB), eval set = doc_id ≡ 0
# (mod 41), overlap counted over DISTINCT shingles per train doc
query(
    "q_text_decontaminate",
    """
    WITH t AS (
      SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS toks
      FROM documents WHERE text IS NOT NULL
    ),
    sh AS (
      SELECT doc_id,
             list_distinct(
               CASE WHEN len(toks) < 3 THEN [array_to_string(toks, ' ')]
                    ELSE list_transform(generate_series(1, len(toks)-2),
                           i -> concat_ws(' ', toks[i], toks[i+1], toks[i+2]))
               END) AS shl
      FROM t
    ),
    ev AS (SELECT DISTINCT unnest(shl) AS s FROM sh WHERE doc_id % 41 = 0),
    tr AS (SELECT doc_id, unnest(shl) AS s FROM sh WHERE doc_id % 41 <> 0),
    hits AS (SELECT doc_id, count(*) AS n_hits FROM tr JOIN ev USING (s) GROUP BY doc_id)
    SELECT b.doc_id,
           b.n_shingles,
           coalesce(h.n_hits, 0) AS n_hits,
           coalesce(h.n_hits, 0) > 0 AS contaminated,
           round(coalesce(h.n_hits, 0) * 1.0 / greatest(b.n_shingles, 1), 6)
             AS contaminated_frac
    FROM (SELECT doc_id, len(shl) AS n_shingles FROM sh WHERE doc_id % 41 <> 0) b
    LEFT JOIN hits h USING (doc_id)
    """,
    tags=("extension", "text", "dedup"),
)(_text_decontaminate)


def _text_pii(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import functions as F

    from datafusion_wasm_bindings_spark.operators.text import redact_pii

    # the fixture corpus is PII-free, so inject deterministic emails /
    # phones / IPs into every third document — the redaction operator
    # must scrub exactly those and count zero elsewhere
    docs = table(spark, sf_dir, "documents")
    injected = docs.select(
        "doc_id",
        F.when(
            F.col("doc_id") % 3 == 0,
            F.concat(
                F.lit("Reach user"),
                F.col("doc_id").cast("string"),
                F.lit("@mail.example.com or +1 (555) 010-"),
                F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0"),
                F.lit(" or host 10.0."),
                (F.col("doc_id") % 256).cast("string"),
                F.lit(".7 "),
                F.col("text"),
            ),
        )
        .otherwise(F.col("text"))
        .alias("text"),
    )
    return redact_pii(injected)


query(
    "q_text_pii",
    r"""
    WITH inj AS (
      SELECT doc_id,
             CASE WHEN doc_id % 3 = 0
                  THEN 'Reach user' || CAST(doc_id AS VARCHAR)
                       || '@mail.example.com or +1 (555) 010-'
                       || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
                       || ' or host 10.0.' || CAST(doc_id % 256 AS VARCHAR)
                       || '.7 ' || text
                  ELSE text END AS text
      FROM documents
    )
    SELECT doc_id,
           len(regexp_extract_all(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS n_email,
           len(regexp_extract_all(text, '\+?[0-9][0-9()\- ]{6,}[0-9]')) AS n_phone,
           len(regexp_extract_all(text, '\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b')) AS n_ipv4,
           regexp_replace(regexp_replace(regexp_replace(text,
             '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '[EMAIL]', 'g'),
             '\+?[0-9][0-9()\- ]{6,}[0-9]', '[PHONE]', 'g'),
             '\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b', '[IP]', 'g') AS redacted
    FROM inj
    """,
    tags=("extension", "text"),
)(_text_pii)


# ====================== deterministic global shuffle =====================
def _pipeline_shuffle(spark: SparkSession, sf_dir: str) -> DataFrame:
    from datafusion_wasm_bindings_spark.operators.sampling import (
        deterministic_shuffle,
    )

    return deterministic_shuffle(
        table(spark, sf_dir, "documents"), "doc_id", n_shards=8
    )


query(
    "q_pipeline_shuffle",
    """
    WITH h AS (
      SELECT doc_id,
             md5(CAST(doc_id AS VARCHAR) || 'dfwb-shuffle') AS h,
             CAST(CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR) || 'dfwb-shuffle'), 1, 8))
                  AS BIGINT) % 8 AS INT) AS shard
      FROM documents
    )
    SELECT doc_id, shard,
           CAST(row_number() OVER (PARTITION BY shard ORDER BY h ASC, doc_id ASC) - 1
                AS INT) AS pos
    FROM h
    """,
    tags=("extension", "pipeline", "sampling"),
)(_pipeline_shuffle)


# ====================== bucketed co-located join =========================
def _join_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Write both sides bucketed+sorted on the join key once, then
    join with ZERO exchanges (plan-asserted in tests/test_plans.py) —
    the layout a 100 TB fact table uses for repeated same-key joins."""
    import os

    from pyspark.sql import functions as F

    from datafusion_wasm_bindings_spark.operators.scale import (
        bucketed_join,
        write_bucketed,
    )

    import glob
    import shutil

    from datafusion_wasm_bindings_spark import scratch

    tag = os.path.basename(os.path.normpath(sf_dir)).replace(".", "_")
    orders = table(spark, sf_dir, "orders").select(
        F.col("o_custkey").alias("custkey"), "o_orderkey", "o_totalprice"
    )
    cust = table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("custkey"), "c_name", "c_mktsegment"
    )
    # scratch scoped by pid AND thread id (scratch.scope): the bench
    # harness runs the registry from several threads of one process,
    # and two threads sharing a pid would race on the same
    # saveAsTable(overwrite) name and location. The versioned root
    # keeps scoped names parseable by scratch.reap — in the old flat
    # namespace the sf tag's own digits (sf0_01) parsed as a pid, so
    # legacy dirs were never reclaimed; they are wiped outright below
    # (no current code writes there).
    scp = scratch.scope()
    base = f"/tmp/dfwb_bucketed2/{tag}_{scp}"
    lt, rt = f"bkt_orders_{tag}_{scp}", f"bkt_cust_{tag}_{scp}"
    scratch.reap("/tmp/dfwb_bucketed2/*")
    for legacy in glob.glob("/tmp/dfwb_bucketed_*"):
        shutil.rmtree(legacy, ignore_errors=True)  # pre-versioned layout
    write_bucketed(orders, lt, "custkey", buckets=8, path=f"{base}/orders")
    write_bucketed(cust, rt, "custkey", buckets=8, path=f"{base}/customer")
    return bucketed_join(spark, lt, rt, "custkey")


query(
    "q_join_bucketed",
    """
    SELECT o_custkey AS custkey, o_orderkey, o_totalprice, c_name, c_mktsegment
    FROM orders JOIN customer ON o_custkey = c_custkey
    """,
    tags=("extension", "scale", "join"),
)(_join_bucketed)


# ====================== statistical outlier cleaning =====================
def _events_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    from datafusion_wasm_bindings_spark.operators.cleaning import zscore_outliers

    return zscore_outliers(
        table(spark, sf_dir, "events"), ["event_id"], "event_type", "value"
    )


# moments on decimal-quantized values (exact, order-independent), then
# double arithmetic on identical inputs in the identical expression
# tree — bit-equal z on both engines (same recipe as the quantized
# cosine oracles)
query(
    "q_events_outliers",
    """
    WITH b AS (
      SELECT event_id, event_type, CAST(value AS DECIMAL(18,6)) AS v FROM events
    ),
    g AS (
      SELECT event_id, event_type,
             CAST(v AS DOUBLE) AS vd,
             COUNT(*) OVER w AS n,
             CAST(SUM(v) OVER w AS DOUBLE) AS s,
             CAST(SUM(v * v) OVER w AS DOUBLE) AS ss
      FROM b WINDOW w AS (PARTITION BY event_type)
    )
    -- greatest clamp + NULL-division parity with the operator's
    -- try_divide path: singleton (n-1 -> /0 -> NULL) and zero-variance
    -- (sigma 0, incl. the -eps float case DuckDB's sqrt ERRORS on)
    -- groups give z NULL / is_outlier FALSE on both engines
    -- (adversarial extremes replay, r6)
    SELECT event_id, event_type,
           round((vd - s / n) / sqrt(greatest((ss - s * s / n) / (n - 1), 0)), 6) AS z,
           COALESCE(abs((vd - s / n) / sqrt(greatest((ss - s * s / n) / (n - 1), 0))) > 3,
                    FALSE) AS is_outlier
    FROM g
    """,
    tags=("extension", "events", "cleaning"),
)(_events_outliers)


# ====================== RAG chunking ====================================
def _pipeline_chunk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from datafusion_wasm_bindings_spark.operators.packing import chunk_documents

    return chunk_documents(
        table(spark, sf_dir, "documents"), chunk_tokens=64, stride=48
    )


# DuckDB list slicing toks[a:b] is 1-based inclusive and end-clamped —
# the twin of Spark's slice(toks, a, len); chunk counts use the same
# /48.0 double ceil on both sides
query(
    "q_pipeline_chunk",
    """
    WITH t AS (
      SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS toks
      FROM documents
    ),
    c AS (
      SELECT doc_id, len(toks) AS n_tokens, toks,
             CASE WHEN len(toks) <= 64 THEN 1
                  ELSE CAST(ceil((len(toks) - 64) / 48.0) AS BIGINT) + 1 END AS nc
      FROM t
    )
    SELECT doc_id, n_tokens, i AS chunk_id,
           i * 48 AS start_tok,
           greatest(least(64, n_tokens - i * 48), 0) AS n_chunk_tokens,
           -- COALESCE: a zero-token doc (empty/whitespace-only hostile
           -- text) chunks to '' from Spark's concat_ws but NULL from
           -- DuckDB's array_to_string on the empty slice (r3 pitfall
           -- b; adversarial extremes replay, r6)
           COALESCE(array_to_string(toks[i * 48 + 1 : i * 48 + 64], ' '), '') AS chunk_text
    FROM c, unnest(generate_series(0, nc - 1)) AS u(i)
    """,
    tags=("extension", "pipeline", "packing"),
)(_pipeline_chunk)


# ====================== data profiling ===================================
def _profile_columns(spark: SparkSession, sf_dir: str) -> DataFrame:
    from datafusion_wasm_bindings_spark.operators.profiling import profile_columns

    # parallel=True: the distinct-rewrite Expand replicates the row
    # stream 5× before aggregating — serialized inside the one task a
    # row-group-starved scan gets (guide §2.5). Measured r12:
    # 3.74→1.54 s at sf0.1.
    return profile_columns(
        table(spark, sf_dir, "lineitem", parallel=True),
        ["l_quantity", "l_extendedprice", "l_discount", "l_tax"],
    )


def _profile_oracle() -> str:
    cols = ["l_quantity", "l_extendedprice", "l_discount", "l_tax"]
    parts = [
        f"""
        SELECT '{c}' AS column_name,
               count({c}) AS n,
               CAST(sum(CASE WHEN {c} IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_null,
               count(DISTINCT {c}) AS n_distinct,
               CAST(min({c}) AS DOUBLE) AS min_v,
               CAST(max({c}) AS DOUBLE) AS max_v,
               round(CAST(SUM(CAST(CAST({c} AS DOUBLE) AS DECIMAL(18,6))) AS DOUBLE)
                     / count({c}), 6) AS mean_v
        FROM lineitem
        """
        for c in cols
    ]
    return " UNION ALL ".join(parts)


query(
    "q_profile_columns",
    _profile_oracle(),
    tags=("extension", "profiling"),
)(_profile_columns)


def _profile_columns_approx(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The HLL profiling mode, self-verified in ONE scan: the same wide
    aggregate computes exact and approx distinct counts side by side
    and emits a boolean asserting the sketch (2% rsd) landed within 10%
    of exact — the q_fn_approx_distinct pattern, so the driver's full
    value check covers both the stats and the sketch's accuracy
    contract. Production at 100 TB runs ``exact_distinct=False`` alone
    (no Expand, pure map-side aggregate; see profile_columns)."""
    from datafusion_wasm_bindings_spark.operators.profiling import profile_columns

    cols = ["l_quantity", "l_extendedprice", "l_discount", "l_tax"]
    # parallel=True: same Expand-serialization remedy as
    # q_profile_columns (guide §2.5); both of this query's aggregates
    # (exact profile + lean HLL pass) widen behind the one-row-group
    # scan.
    return profile_columns(
        table(spark, sf_dir, "lineitem", parallel=True), cols, approx_check=True
    )


def _profile_approx_oracle() -> str:
    cols = ["l_quantity", "l_extendedprice", "l_discount", "l_tax"]
    parts = [
        f"""
        SELECT '{c}' AS column_name,
               count({c}) AS n,
               CAST(sum(CASE WHEN {c} IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_null,
               count(DISTINCT {c}) AS n_distinct,
               TRUE AS hll_within_10pct,
               CAST(min({c}) AS DOUBLE) AS min_v,
               CAST(max({c}) AS DOUBLE) AS max_v,
               round(CAST(SUM(CAST(CAST({c} AS DOUBLE) AS DECIMAL(18,6))) AS DOUBLE)
                     / count({c}), 6) AS mean_v
        FROM lineitem
        """
        for c in cols
    ]
    return " UNION ALL ".join(parts)


query(
    "q_profile_columns_approx",
    _profile_approx_oracle(),
    tags=("extension", "profiling", "approx"),
)(_profile_columns_approx)


# ====================== JSON parse quarantine ============================
def _events_json_quarantine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust semi-structured ingestion: parse the JSON props column
    and ROUTE rows instead of failing the job — well-formed rows feed
    the typed aggregate, malformed rows are counted into a quarantine
    bucket (at 100 TB a parse failure rate, not an exception, is the
    contract). Corruption is injected deterministically (every 11th
    event gets a leading junk byte) so both engines see the identical
    malformed subset; ok-ness is judged by the parse itself
    (``from_json`` null ⟷ DuckDB ``json_valid``)."""
    from pyspark.sql import functions as F

    ev = table(spark, sf_dir, "events")
    raw = F.when(
        F.col("event_id") % 11 == 0, F.concat(F.lit("x"), F.col("props"))
    ).otherwise(F.col("props"))
    parsed = ev.select(
        "event_type",
        F.from_json(raw, "k BIGINT")["k"].alias("k"),
    )
    return (
        parsed.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.count("k").alias("n_ok"),
            F.count(F.when(F.col("k").isNull(), 1)).alias("n_bad"),
            F.sum("k").alias("sum_k_ok"),
        )
        .orderBy(F.col("event_type").asc_nulls_last())
    )


query(
    "q_events_json_quarantine",
    """
    WITH r AS (SELECT event_type, event_id,
                      CASE WHEN event_id % 11 = 0 THEN 'x' || props ELSE props END AS raw
               FROM events),
    p AS (SELECT event_type,
                 CASE WHEN json_valid(raw)
                      THEN CAST(json_extract_string(raw, '$.k') AS BIGINT) END AS k
          FROM r)
    SELECT event_type, COUNT(1) AS n,
           CAST(SUM(CASE WHEN k IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_ok,
           CAST(SUM(CASE WHEN k IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_bad,
           CAST(SUM(k) AS BIGINT) AS sum_k_ok
    FROM p GROUP BY event_type
    ORDER BY event_type ASC NULLS LAST
    """,
    tags=("extension", "events", "json", "cleaning"),
)(_events_json_quarantine)


# ====================== incremental aggregate state ======================
def _scale_incremental_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Month-sharded partial aggregates persisted to parquet (the
    state table an incremental pipeline maintains), then merged to
    exact per-year totals — proving state-table round-trip + exact
    mergeability. Scratch is pid/thread-scoped like every sink query
    (bench runs the registry multi-threaded)."""
    import os

    from pyspark.sql import functions as F

    from datafusion_wasm_bindings_spark import scratch
    from datafusion_wasm_bindings_spark.operators.scale import (
        merge_partial_aggregates,
        partial_aggregate,
    )

    tag = os.path.basename(os.path.normpath(sf_dir)).replace(".", "_")
    out = f"/tmp/dfwb_out/{tag}/incr_state_{scratch.scope()}"
    orders = table(spark, sf_dir, "orders").select(
        F.year("o_orderdate").cast("long").alias("yr"),
        (F.year("o_orderdate") * 100 + F.month("o_orderdate")).alias("ym"),
        "o_totalprice",
    )
    partial_aggregate(orders, F.col("ym"), ["yr"], "o_totalprice").write.mode(
        "overwrite"
    ).parquet(out)
    state = spark.read.parquet(out)
    return merge_partial_aggregates(state, ["yr"]).select(
        "yr",
        "n_partials",
        F.col("n_rows").cast("long").alias("n_rows"),
        F.col("vtotal").alias("total_price"),
    )


query(
    "q_scale_incremental_agg",
    """
    SELECT CAST(EXTRACT(year FROM o_orderdate) AS BIGINT) AS yr,
           -- COALESCE sentinel: the NULL-date month is still ONE
           -- persisted partial; bare COUNT(DISTINCT) would skip it
           -- (adversarial NULL replay, r5)
           CAST(COUNT(DISTINCT COALESCE(EXTRACT(year FROM o_orderdate) * 100
                      + EXTRACT(month FROM o_orderdate), -1)) AS BIGINT)
             AS n_partials,
           COUNT(*) AS n_rows,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE) AS total_price
    FROM orders GROUP BY 1
    """,
    tags=("extension", "scale", "agg"),
)(_scale_incremental_agg)


# ====================== count-min-sketch heavy hitters ===================
def _text_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    from datafusion_wasm_bindings_spark.operators.text import cms_heavy_hitters

    return cms_heavy_hitters(
        table(spark, sf_dir, "documents"), depth=4, width=512, k=20
    )


query(
    "q_text_heavy_hitters",
    f"""
    WITH t AS (SELECT unnest({_TOK}) AS tok FROM documents),
    js AS (SELECT unnest(generate_series(0, 3)) AS j),
    cells AS (
      SELECT j,
             CAST(('0x' || substr(md5(CAST(j AS VARCHAR) || ':' || tok), 1, 8)) AS BIGINT)
               % 512 AS bucket,
             CAST(count(*) AS BIGINT) AS c
      FROM t CROSS JOIN js GROUP BY 1, 2
    ),
    tc AS (SELECT tok, CAST(count(*) AS BIGINT) AS exact_cnt FROM t GROUP BY 1),
    top AS (SELECT tok, exact_cnt,
                   row_number() OVER (ORDER BY exact_cnt DESC NULLS LAST,
                                      tok ASC NULLS FIRST) AS pos
            FROM tc),
    probe AS (
      SELECT p.tok, p.pos, p.exact_cnt, min(c.c) AS cms_est
      FROM top p CROSS JOIN js
      JOIN cells c
        ON c.j = js.j
       AND c.bucket = CAST(('0x' || substr(md5(CAST(js.j AS VARCHAR) || ':' || p.tok), 1, 8)) AS BIGINT) % 512
      WHERE p.pos <= 20
      GROUP BY 1, 2, 3
    )
    SELECT tok, pos, exact_cnt, cms_est,
           cms_est >= exact_cnt AS no_undercount
    FROM probe
    """,
    tags=("extension", "text", "approx", "scale"),
)(_text_heavy_hitters)


# ====================== graph ranking (PageRank) =========================
_PR_ITERS, _PR_K, _PR_DAMPING = 3, 20, 0.85


def _graph_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank over the bipartite part↔supplier co-occurrence graph
    from lineitem (both directions added, so no node dangles). Node
    ids are namespaced: parts → 2·partkey, suppliers → 2·suppkey+1.

    Runs the PREPARED path (VERDICT r5 #5): the edge 'index build' —
    dedup + out-degrees, written bucketed by src — is paid once
    in-query (q_join_bucketed precedent), and every damped iteration's
    rank join then plans NO exchange on the O(|E|) edge side; only the
    O(|V|) rank table shuffles per round. Scratch scoped by pid+thread
    (the bench harness runs the registry from several threads) and
    bucket count matched to the session's shuffle parallelism (a
    mismatch makes the planner fall back to an un-bucketed scan)."""
    import os

    from pyspark.sql import functions as F

    from datafusion_wasm_bindings_spark import scratch
    from datafusion_wasm_bindings_spark.operators.graph import (
        pagerank_topk,
        prepare_pagerank_edges,
    )

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
    tag = os.path.basename(os.path.normpath(sf_dir)).replace(".", "_")
    scp = scratch.scope()
    scratch.reap("/tmp/dfwb_pr_edges/*")
    prep = prepare_pagerank_edges(
        spark,
        fwd.unionByName(rev),
        f"bkt_pr_edges_{tag}_{scp}",
        buckets=int(spark.conf.get("spark.sql.shuffle.partitions")),
        path=f"/tmp/dfwb_pr_edges/{tag}_{scp}",
    )
    return pagerank_topk(prep, iters=_PR_ITERS, k=_PR_K, prepared=True)


def _pagerank_oracle(iters: int, k: int, damping: float) -> str:
    # repr() emits shortest-roundtrip decimals, so both engines parse
    # the IDENTICAL doubles the Spark literals hold (incl. 1-damping's
    # representation error)
    base, damp = repr(1.0 - damping), repr(damping)
    cte = """
    e AS (SELECT DISTINCT l_partkey * 2 AS src, l_suppkey * 2 + 1 AS dst FROM lineitem
          WHERE l_partkey IS NOT NULL AND l_suppkey IS NOT NULL
          UNION
          SELECT DISTINCT l_suppkey * 2 + 1 AS src, l_partkey * 2 AS dst FROM lineitem
          WHERE l_partkey IS NOT NULL AND l_suppkey IS NOT NULL),
    nd AS (SELECT DISTINCT src AS node FROM e),
    deg AS (SELECT src, CAST(count(*) AS BIGINT) AS d FROM e GROUP BY 1),
    c AS (SELECT CAST(count(*) AS BIGINT) AS n_nodes FROM nd),
    r0 AS (SELECT node, CAST(1.0 AS DOUBLE) / n_nodes AS rank FROM nd CROSS JOIN c)"""
    for t in range(iters):
        cte += f""",
    s{t} AS (SELECT e.dst AS node, SUM(CAST(r.rank / deg.d AS DECIMAL(18,9))) AS s
             FROM e JOIN r{t} r ON e.src = r.node JOIN deg ON deg.src = e.src
             GROUP BY 1),
    r{t + 1} AS (SELECT nd.node,
                      CAST({base} AS DOUBLE) / c.n_nodes
                      + CAST({damp} AS DOUBLE)
                        * CAST(coalesce(s{t}.s, 0) AS DOUBLE) AS rank
               FROM nd LEFT JOIN s{t} ON s{t}.node = nd.node CROSS JOIN c)"""
    return f"""
    WITH {cte}
    SELECT node, pos, round(rank, 6) AS rank
    FROM (SELECT node, rank,
                 row_number() OVER (ORDER BY rank DESC, node ASC) AS pos
          FROM r{iters})
    WHERE pos <= {k}
    """


query(
    "q_graph_pagerank",
    _pagerank_oracle(_PR_ITERS, _PR_K, _PR_DAMPING),
    tags=("extension", "graph", "scale"),
)(_graph_pagerank)


# ====================== key-skew diagnostics =============================
def _profile_skew(spark: SparkSession, sf_dir: str) -> DataFrame:
    from datafusion_wasm_bindings_spark.operators.profiling import key_skew_profile

    return key_skew_profile(table(spark, sf_dir, "lineitem"), "l_suppkey")


query(
    "q_profile_skew",
    """
    WITH c AS (SELECT l_suppkey AS key, CAST(count(*) AS BIGINT) AS cnt
               FROM lineitem GROUP BY 1),
    h AS (SELECT cnt, CAST(count(*) AS BIGINT) AS k, min(key) AS minkey
          FROM c GROUP BY 1),
    p AS (SELECT cnt, k, minkey, SUM(k) OVER (ORDER BY cnt ASC) AS cum FROM h),
    t AS (SELECT CAST(count(*) AS BIGINT) AS n_keys,
                 CAST(sum(cnt) AS BIGINT) AS n_rows,
                 max(cnt) AS max_cnt FROM c)
    SELECT t.n_keys, t.n_rows, t.max_cnt,
           min(CASE WHEN p.cum >= (t.n_keys + 1) // 2 THEN p.cnt END) AS p50_cnt,
           min(CASE WHEN p.cum >= (99 * t.n_keys + 99) // 100 THEN p.cnt END) AS p99_cnt,
           round(CAST(t.max_cnt AS DOUBLE)
                 / min(CASE WHEN p.cum >= (t.n_keys + 1) // 2 THEN p.cnt END), 6) AS skew_ratio,
           min(CASE WHEN p.cnt = t.max_cnt THEN p.minkey END) AS hot_key
    FROM p CROSS JOIN t
    GROUP BY t.n_keys, t.n_rows, t.max_cnt
    """,
    tags=("extension", "profiling", "scale"),
)(_profile_skew)


# ====================== hashed linear classifier =========================
def _text_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    from datafusion_wasm_bindings_spark.operators.text import hashed_classifier_score

    return hashed_classifier_score(table(spark, sf_dir, "documents"), dims=1024)


_CLS_SCORE = """CASE WHEN n_tokens = 0 THEN 0.0
             ELSE CAST(wsum AS DOUBLE) / (CAST(n_tokens AS DOUBLE) * 1073741824.0) END"""

query(
    "q_text_classifier",
    f"""
    WITH t AS (SELECT doc_id, {_TOK} AS toks FROM documents),
    s AS (SELECT doc_id, len(toks) AS n_tokens,
                 list_reduce(list_prepend(CAST(0 AS BIGINT),
                   list_transform(toks, tok ->
                     (CAST(('0x' || substr(md5(tok), 1, 8)) AS BIGINT) % 1024)
                       * 2654435761 % 2147483648 - 1073741824)),
                   (a, b) -> a + b) AS wsum
          FROM t)
    SELECT doc_id, n_tokens,
           round({_CLS_SCORE}, 6) AS score,
           ({_CLS_SCORE}) > 0.0 AS keep
    FROM s
    """,
    tags=("extension", "text", "classifier"),
)(_text_classifier)


# ====================== sharded sketch union =============================
def _scale_hll_shards(spark: SparkSession, sf_dir: str) -> DataFrame:
    from datafusion_wasm_bindings_spark.operators.profiling import (
        sharded_hll_distinct,
    )

    # a NULL key hashes to no shard (the oracle's COUNT(DISTINCT ...)
    # skips NULL implicitly) — adversarial NULL replay, r5
    return sharded_hll_distinct(
        table(spark, sf_dir, "orders").filter(F.col("o_custkey").isNotNull()),
        "o_custkey",
        n_shards=8,
    )


query(
    "q_scale_hll_shards",
    """
    SELECT CAST(count(DISTINCT
             CAST(('0x' || substr(md5(CAST(o_custkey AS VARCHAR)), 1, 8)) AS BIGINT) % 8
           ) AS BIGINT) AS n_shards,
           count(DISTINCT o_custkey) AS n_distinct,
           TRUE AS hll_within_5pct
    FROM orders
    """,
    tags=("extension", "scale", "profiling", "approx"),
)(_scale_hll_shards)


# ====================== z-order data layout ==============================
def _scale_zorder(spark: SparkSession, sf_dir: str) -> DataFrame:
    from datafusion_wasm_bindings_spark.operators.scale import zorder_bucket_stats
    from pyspark.sql import functions as F

    src = table(spark, sf_dir, "orders").select(
        F.col("o_custkey").alias("ck"),
        F.unix_date(F.to_date("o_orderdate")).cast("long").alias("od"),
    )
    return zorder_bucket_stats(src, "ck", "od", bits=8, bucket_bits=4)


def _zorder_oracle(bits: int = 8, bucket_bits: int = 4) -> str:
    scale = (1 << bits) - 1
    inter = " + ".join(
        f"((((qx >> {i}) & 1) << {2 * i + 1}) + (((qy >> {i}) & 1) << {2 * i}))"
        for i in range(bits)
    )
    return f"""
    WITH src AS (
      SELECT o_custkey AS ck,
             CAST(o_orderdate AS DATE) - DATE '1970-01-01' AS od
      FROM orders
    ),
    st AS (SELECT min(ck) AS xmn, max(ck) AS xmx, min(od) AS ymn, max(od) AS ymx FROM src),
    q AS (
      SELECT ck, od,
             CASE WHEN xmx = xmn THEN 0 ELSE (ck - xmn) * {scale} // (xmx - xmn) END AS qx,
             CASE WHEN ymx = ymn THEN 0 ELSE (od - ymn) * {scale} // (ymx - ymn) END AS qy
      FROM src CROSS JOIN st
    ),
    z AS (SELECT ck, od, {inter} AS zv FROM q)
    SELECT zv >> {2 * bits - bucket_bits} AS zbucket,
           CAST(count(*) AS BIGINT) AS n_rows,
           min(ck) AS x_min, max(ck) AS x_max,
           min(od) AS y_min, max(od) AS y_max
    FROM z GROUP BY 1
    """


query(
    "q_scale_zorder",
    _zorder_oracle(),
    tags=("extension", "scale", "layout"),
)(_scale_zorder)


# ====================== embedding clustering =============================
_KMEANS_K, _KMEANS_ITERS = 4, 2


def _cluster_kmeans(spark: SparkSession, sf_dir: str) -> DataFrame:
    from datafusion_wasm_bindings_spark.operators.clustering import kmeans_clusters

    # a vector participates iff it has an id AND a payload: DuckDB's
    # unnest CTE silently MERGES all NULL-vec_id rows into one
    # pseudo-vector and drops NULL embeddings — pin the same population
    # explicitly on both sides (adversarial NULL replay, r5); applies
    # to every embedding-family query
    return kmeans_clusters(
        _vecs(spark, sf_dir), k=_KMEANS_K, iters=_KMEANS_ITERS
    )


def _kmeans_chain(k: int, iters: int) -> str:
    """Unrolled Lloyd iterations as chained CTEs — the exact-integer
    centroid-state recipe (operators/clustering.py) makes every
    assignment reproducible, so DuckDB replays the whole iterative fit.
    ``norms.n2`` doubles as the per-vector squared norm (ssx)."""
    d_expr = (
        "CAST(cs.ss AS DOUBLE)/(cs.n*cs.n) - 2*CAST(d.dot AS DOUBLE)/cs.n"
    )
    parts = [
        f"""
    seed AS (SELECT vec_id, CAST(row_number() OVER (ORDER BY vec_id) - 1 AS BIGINT) AS cid
             FROM (SELECT DISTINCT vec_id FROM comp ORDER BY vec_id LIMIT {k})),
    cent0 AS (SELECT s.cid, c.i, CAST(c.val AS BIGINT) AS s, CAST(1 AS BIGINT) AS n
              FROM seed s JOIN comp c USING (vec_id))"""
    ]
    for t in range(iters + 1):
        parts.append(
            f"""
    cs{t} AS (SELECT cid, any_value(n) AS n, sum(s*s) AS ss FROM cent{t} GROUP BY cid),
    dots{t} AS (SELECT c.vec_id, k.cid, sum(c.val * k.s) AS dot
                FROM comp c JOIN cent{t} k ON c.i = k.i GROUP BY 1, 2),
    asg{t} AS (SELECT vec_id, cid, d FROM (
        SELECT d.vec_id, d.cid, {d_expr} AS d,
               row_number() OVER (PARTITION BY d.vec_id
                                  ORDER BY {d_expr} ASC, d.cid ASC) AS rn
        FROM dots{t} d JOIN cs{t} cs ON d.cid = cs.cid) WHERE rn = 1)"""
        )
        if t < iters:
            parts.append(
                f"""
    cent{t + 1} AS (SELECT a.cid, c.i, sum(c.val) AS s, CAST(count(*) AS BIGINT) AS n
                    FROM asg{t} a JOIN comp c USING (vec_id) GROUP BY 1, 2)"""
            )
    return ",".join(parts)


def _kmeans_oracle(k: int, iters: int) -> str:
    """Full value-check oracle for q_cluster_kmeans (per-cluster stats
    after the replayed fit)."""
    chain = _kmeans_chain(k, iters)
    return f"""
    WITH {_COMP.format(where="WHERE vec_id IS NOT NULL AND embedding IS NOT NULL")},{chain}
    SELECT a.cid AS cluster_id,
           CAST(count(*) AS BIGINT) AS n_vecs,
           min(a.vec_id) AS min_vec,
           round(CAST(sum(CAST(CAST(n.n2 AS DOUBLE) + a.d AS DECIMAL(18,6))) AS DOUBLE)
                 / count(1), 6) AS mean_inertia
    FROM asg{iters} a JOIN norms n ON n.vec_id = a.vec_id
    GROUP BY a.cid
    """


query(
    "q_cluster_kmeans",
    _kmeans_oracle(_KMEANS_K, _KMEANS_ITERS),
    tags=("extension", "clustering", "similarity"),
)(_cluster_kmeans)


def _kmeans_db_oracle(k: int, iters: int) -> str:
    """Davies-Bouldin index oracle: replays the fit chain, then derives
    S_i (per-row DECIMAL-quantized sqrt distances, exact sum), the
    centroid-pair matrix M_ij from the exact integer centroid state,
    and DB = mean_i max_j (S_i+S_j)/M_ij. S_i and DB surface RAW
    (pitfall h); the pair ratios quantize before max/mean."""
    chain = _kmeans_chain(k, iters)
    it = iters
    return f"""
    WITH {_COMP.format(where="WHERE vec_id IS NOT NULL AND embedding IS NOT NULL")},{chain},
    si AS (
      SELECT a.cid AS cluster_id, CAST(count(*) AS BIGINT) AS n_vecs,
             CAST(SUM(CAST(sqrt(CAST(n.n2 AS DOUBLE) + a.d) AS DECIMAL(18,6)))
                  AS DOUBLE) / count(1) AS s_mean
      FROM asg{it} a JOIN norms n USING (vec_id) GROUP BY a.cid
    ),
    cstat AS (SELECT cid, any_value(n) AS n, sum(s * s) AS ss
              FROM cent{it} GROUP BY cid),
    cdot AS (SELECT a.cid AS ca, b.cid AS cb, sum(a.s * b.s) AS dot
             FROM cent{it} a JOIN cent{it} b ON a.i = b.i AND a.cid <> b.cid
             GROUP BY 1, 2),
    pairs AS (
      SELECT d.ca, d.cb,
             sqrt(CAST(sa.ss AS DOUBLE) / (sa.n * sa.n)
                  + CAST(sb.ss AS DOUBLE) / (sb.n * sb.n)
                  - 2 * CAST(d.dot AS DOUBLE) / (sa.n * sb.n)) AS mdist
      FROM cdot d JOIN cstat sa ON d.ca = sa.cid JOIN cstat sb ON d.cb = sb.cid
    ),
    r AS (
      SELECT p.ca AS cluster_id,
             CAST(CAST(MAX((a.s_mean + b.s_mean) / p.mdist) AS DECIMAL(18,6))
                  AS DOUBLE) AS r_i
      FROM pairs p JOIN si a ON p.ca = a.cluster_id JOIN si b ON p.cb = b.cluster_id
      GROUP BY p.ca
    )
    SELECT si.cluster_id, si.n_vecs, si.s_mean, r.r_i,
           CAST(SUM(CAST(r.r_i AS DECIMAL(18,6))) OVER () AS DOUBLE)
             / COUNT(*) OVER () AS db_index
    FROM si JOIN r USING (cluster_id)
    """


def _cluster_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    from datafusion_wasm_bindings_spark.operators.clustering import kmeans_quality

    return kmeans_quality(
        _vecs(spark, sf_dir), k=_KMEANS_K, iters=_KMEANS_ITERS
    )


query(
    "q_cluster_quality",
    _kmeans_db_oracle(_KMEANS_K, _KMEANS_ITERS),
    tags=("extension", "clustering", "similarity", "stats"),
)(_cluster_quality)


# ====================== CDC snapshot maintenance =========================
def _pipeline_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Apply a synthetic-but-deterministic changelog to the orders
    snapshot: every orderkey divisible by 3 gets an upsert (status 'U',
    price +10.0 — an exact IEEE add, bit-identical cross-engine) at
    version 1; every orderkey divisible by 7 a delete tombstone at
    version 2 (so keys hit by both see delete-wins). Output bounded to
    keys divisible by 5 to keep the driver compare small while staying
    row-level."""
    from datafusion_wasm_bindings_spark.operators.cdc import apply_changelog
    from pyspark.sql import functions as F

    orders = table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice"
    )
    updates = (
        orders.filter(F.col("o_orderkey") % 3 == 0)
        .withColumn("o_orderstatus", F.lit("U"))
        .withColumn("o_totalprice", F.col("o_totalprice") + F.lit(10.0))
        .withColumn("version", F.lit(1).cast("long"))
        .withColumn("op", F.lit("U"))
    )
    deletes = (
        orders.filter(F.col("o_orderkey") % 7 == 0)
        .withColumn("version", F.lit(2).cast("long"))
        .withColumn("op", F.lit("D"))
    )
    snapshot = apply_changelog(
        orders, updates.unionByName(deletes), ["o_orderkey"]
    )
    return snapshot.filter(F.col("o_orderkey") % 5 == 0).select(
        "o_orderkey",
        "o_custkey",
        F.col("o_orderstatus").alias("status"),
        F.col("o_totalprice").alias("price"),
    )


query(
    "q_pipeline_upsert",
    """
    WITH base AS (
      SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
             CAST(0 AS BIGINT) AS version, 'I' AS op
      FROM orders
    ),
    upd AS (
      SELECT o_orderkey, o_custkey, 'U' AS o_orderstatus,
             o_totalprice + 10.0 AS o_totalprice,
             CAST(1 AS BIGINT) AS version, 'U' AS op
      FROM orders WHERE o_orderkey % 3 = 0
    ),
    del AS (
      SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
             CAST(2 AS BIGINT) AS version, 'D' AS op
      FROM orders WHERE o_orderkey % 7 = 0
    ),
    merged AS (
      SELECT * FROM base UNION ALL SELECT * FROM upd UNION ALL SELECT * FROM del
    ),
    latest AS (
      SELECT *, row_number() OVER (PARTITION BY o_orderkey ORDER BY version DESC) AS rn
      FROM merged
    )
    SELECT o_orderkey, o_custkey, o_orderstatus AS status, o_totalprice AS price
    FROM latest
    WHERE rn = 1 AND op <> 'D' AND o_orderkey % 5 = 0
    """,
    tags=("extension", "pipeline", "cdc"),
)(_pipeline_upsert)
