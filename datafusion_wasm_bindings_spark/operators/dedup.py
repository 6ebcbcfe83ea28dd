"""Deduplication operators for large-scale training-data pipelines.

Beyond the reference surface (BASELINE.json north star): exact dedup,
MinHash-LSH, SimHash, and inverted-index n-gram Jaccard over the
``documents`` fixture table.

Design for 100 TB (the whole point of these operators):
- Everything is expressed as DataFrame ops — tokenization and hashing
  with built-in JVM functions (``F.hash`` = Murmur3 with seed, inside
  whole-stage codegen), never per-row Python.
- Candidate generation is always *bucketed* (LSH bands / simhash
  bands / shared-token inverted index), never an O(n²) cross join: the
  only shuffles are groupBys on band keys and the candidate-pair join.
- Skew control: ultra-common tokens (stopword-like) are dropped from
  the inverted index by document frequency before the self-join —
  standard df-cut used by web-scale near-dup pipelines.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from datafusion_wasm_bindings_spark.operators.checkpoint import cut, release

# Tokenize on runs of non-alphanumerics; lowercase first. Keeps the
# semantics identical to the DuckDB oracle (regexp_extract_all there).
_TOKEN_PATTERN = "[a-z0-9]+"


def tokens(text_col: str = "text") -> F.Column:
    return F.expr(f"regexp_extract_all(lower({text_col}), '{_TOKEN_PATTERN}', 0)")


def word_shingles(col: F.Column, k: int = 3) -> F.Column:
    """k-word shingles of a token array (array<string>): short docs
    (1..k-1 tokens) keep one whole-doc shingle, but ZERO tokens means
    ZERO shingles — the old `[concat_ws(col)]` fallback gave every
    empty/whitespace-only hostile doc the same `['']` shingle, pairing
    them all at Jaccard 1.0 where the exploded-shingle oracles (and any
    sane dedup contract) see no content to attest (adversarial
    extremes replay, r6)."""
    n = F.size(col)
    return (
        F.when(n == 0, F.array().cast("array<string>"))
        .when(n < k, F.array(F.concat_ws(" ", col)))
        .otherwise(
            F.transform(
                F.sequence(F.lit(1), n - (k - 1)),
                lambda i: F.concat_ws(" ", F.slice(col, i, k)),
            )
        )
    )


def exact_dedup(documents: DataFrame, *, prehash: bool = True) -> DataFrame:
    """Exact dedup: keep the lowest doc_id per identical text.

    ``prehash=True`` (default) groups on ``md5(text)`` instead of the
    text value: the map-side partial aggregate then shuffles
    (32-hex-key, min_id, count) rows instead of full documents — at
    100 TB of text that is the difference between shuffling kilobyte
    rows and ~50-byte rows, with the same single-shuffle plan. The
    output carries no hash, so results are identical to text-grouping
    modulo md5 collisions (128-bit: ~1e-19 at 10^10 docs; pass
    ``prehash=False`` to group on raw text when even that is
    unacceptable). The q_dedup_exact oracle groups by text — the
    comparison itself verifies the pre-hash changes nothing.
    """
    key = F.md5(F.col("text")) if prehash else F.col("text")
    return (
        documents.groupBy(key.alias("__k"))
        .agg(F.min("doc_id").alias("keeper_id"), F.count("*").alias("n_copies"))
        .select("keeper_id", "n_copies")
    )


def paragraph_dedup(documents: DataFrame, sep: str = r"\.\s+") -> DataFrame:
    """Sub-document dedup (the RefinedWeb/FineWeb 'line-level' pass):
    drop every corpus-wide REPEATED paragraph/sentence — boilerplate,
    headers, license blocks — keeping only its first occurrence (lowest
    (doc_id, position)), then reassemble each document from its
    surviving paragraphs.

    Plan: posexplode(split) → one shuffle keyed by paragraph (window
    row_number picks the canonical occurrence) → one shuffle back on
    doc_id to reassemble. Paragraph keys are short; at 100 TB you'd
    pre-hash them like exact_dedup. Returns (doc_id, text, n_kept,
    n_dropped); a document whose every paragraph was seen elsewhere
    comes back with empty text, not silently dropped.
    """
    from pyspark.sql import Window

    paras = documents.select(
        "doc_id", F.posexplode(F.split("text", sep)).alias("pos", "para")
    ).filter(F.length("para") > 0)
    w = Window.partitionBy("para").orderBy("doc_id", "pos")
    flagged = paras.withColumn("keep", F.row_number().over(w) == 1)
    kept_struct = F.when(F.col("keep"), F.struct("pos", "para"))
    return flagged.groupBy("doc_id").agg(
        F.concat_ws(
            ". ",
            F.transform(
                F.array_sort(F.collect_list(kept_struct)),  # nulls skipped
                lambda s: s.para,
            ),
        ).alias("text"),
        F.sum(F.col("keep").cast("int")).alias("n_kept"),
        F.sum((~F.col("keep")).cast("int")).alias("n_dropped"),
    )


def minhash_signatures(documents: DataFrame, num_hashes: int = 16, shingle_k: int = 3) -> DataFrame:
    """MinHash signature per document: minimum Murmur3 hash of its
    shingle set under ``num_hashes`` seeded hash functions.

    All hashing is ``F.hash(shingle, seed)`` — JVM Murmur3, codegen'd;
    the signature computation is a pure map (no shuffle).

    The shingle array is materialized in its own projection step:
    referencing it from each of the ``num_hashes`` signature columns
    would otherwise re-run tokenization + shingling per column
    (CollapseProject inlines only cheap expressions, so the two-step
    select guarantees one evaluation — measured 16× faster at sf0.1).
    """
    # tokenize in its own projection too: word_shingles references its
    # input several times (size + per-shingle slice inside a lambda,
    # outside codegen subexpression elimination), so inlining
    # regexp_extract_all would re-run the regex per shingle —
    # O(tokens²) per doc (measured 4× on the decontamination probe)
    toksd = documents.select("doc_id", tokens().alias("__toks"))
    shingled = toksd.select(
        "doc_id", word_shingles(F.col("__toks"), shingle_k).alias("__sh")
    )
    # hash each shingle STRING once (xxhash64), then derive the
    # num_hashes functions by integer murmur mixing of that long —
    # string bytes are traversed once instead of num_hashes times
    # (measured 2.3× at 100k docs; same minima structure, still a pure
    # map). Two-step select so the base-hash array is evaluated once.
    based = shingled.select(
        "doc_id", F.transform(F.col("__sh"), lambda s: F.xxhash64(s)).alias("__hs")
    )
    sig_cols = [
        F.array_min(F.transform(F.col("__hs"), lambda h: F.hash(h, F.lit(i)))).alias(f"mh_{i}")
        for i in range(num_hashes)
    ]
    # a zero-shingle doc (empty/whitespace text — r6 word_shingles
    # contract) or a NULL token array yields all-NULL signatures
    # (array_min over an empty/NULL list); callers that BUCKET on
    # signatures must exclude those rows AFTER materializing — a
    # filter placed between the projection steps here gets substituted
    # through them by predicate pushdown and re-runs the whole
    # tokenize→shingle→hash pipeline per row (measured 3.8× at sf0.1)
    return based.select("doc_id", *sig_cols)


def minhash_lsh_pairs(
    documents: DataFrame,
    *,
    bands: int = 4,
    rows_per_band: int = 4,
    jaccard_threshold: float = 0.7,
    shingle_k: int = 3,
) -> DataFrame:
    """Near-duplicate candidate pairs via banded MinHash-LSH, verified
    with exact shingle-set Jaccard.

    shingle → minhash → band → bucket-join (SURVEY task list):
    1. signatures (map only);
    2. band keys: hash of each band's row slice (map only);
    3. candidates: self-join documents sharing any (band, key) bucket —
       the only quadratic-risk step, bounded by bucket size, shuffle
       keyed on the 8-byte band hash;
    4. verification: exact Jaccard on the candidates only.
    """
    n_h = bands * rows_per_band
    # materialize signatures once: the banded self-join references this
    # subtree from both sides, and without a lineage cut each branch
    # re-runs tokenize+shingle+hash over the whole corpus. The
    # signature table is n_docs × (1+n_h) longs — tiny relative to the
    # corpus at any scale (it's the *output* of the compression step).
    sigs = cut(minhash_signatures(documents, num_hashes=n_h, shingle_k=shingle_k))
    # AFTER the checkpoint (see minhash_signatures): zero-shingle docs
    # carry all-NULL signatures, and F.hash(NULL, seed) is a CONSTANT —
    # unfiltered they'd all share one LSH bucket and pair at union = 0,
    # an ANSI divide-by-zero in the exact-Jaccard verify (adversarial
    # extremes replay, r6). Filtering the materialized table costs one
    # column null-check, not a pipeline re-run.
    sigs = sigs.filter(F.col("mh_0").isNotNull())
    band_rows = sigs.select(
        "doc_id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.hash(*[F.col(f"mh_{b * rows_per_band + r}") for r in range(rows_per_band)]).alias("key"),
                    )
                    for b in range(bands)
                ]
            )
        ).alias("bk"),
    ).select("doc_id", "bk.band", "bk.key")

    left = band_rows.alias("a")
    right = band_rows.alias("b")
    candidates = (
        left.join(
            right,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.key") == F.col("b.key"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(F.col("a.doc_id").alias("id_a"), F.col("b.doc_id").alias("id_b"))
        .distinct()
        # materialize: the candidate set is referenced three times below
        # (pair join + both sides of the id semi-join); without a
        # lineage cut each reference re-runs signature generation
        .transform(cut)
    )

    # shingle ONLY the docs that appear in some candidate pair — at
    # scale the candidate set is orders of magnitude smaller than the
    # corpus, so verification cost tracks candidates, not corpus size
    cand_ids = (
        candidates.select(F.col("id_a").alias("doc_id"))
        .union(candidates.select(F.col("id_b").alias("doc_id")))
        .distinct()
    )
    # left-semi, no forced broadcast: AQE broadcasts when the id set is
    # small and falls back to a shuffled semi-join when it isn't.
    # Shingles are HASHED to 8-byte longs before the pair joins (r10
    # widerow convention): the verification joins shuffle each
    # candidate doc's shingle set twice (once per pair side), and a
    # long array is ~3-5× smaller than the 3-word string shingles;
    # |intersection|/|union| over hashed sets equals the raw-shingle
    # Jaccard modulo xxhash64 collisions — the same collision-exactness
    # class as the md5 prehash rule (the oracle keeps raw shingles).
    sh = (
        documents.join(cand_ids, "doc_id", "left_semi")
        .select("doc_id", tokens().alias("__toks"))
        .select(
            "doc_id",
            F.array_distinct(
                F.transform(
                    word_shingles(F.col("__toks"), shingle_k),
                    lambda s: F.xxhash64(s),
                )
            ).alias("sh"),
        )
    )
    verified = (
        candidates.join(sh.withColumnRenamed("doc_id", "id_a").withColumnRenamed("sh", "sh_a"), "id_a")
        .join(sh.withColumnRenamed("doc_id", "id_b").withColumnRenamed("sh", "sh_b"), "id_b")
        .withColumn("inter", F.size(F.array_intersect("sh_a", "sh_b")))
        .withColumn("uni", F.size("sh_a") + F.size("sh_b") - F.col("inter"))
        .withColumn("jaccard", F.col("inter") / F.col("uni"))
        .filter(F.col("jaccard") >= jaccard_threshold)
        .select("id_a", "id_b", F.round("jaccard", 6).alias("jaccard"))
    )
    return verified


def simhash(documents: DataFrame, bits: int = 32, *, hash_fn: str = "murmur3") -> DataFrame:
    """Per-document SimHash: majority vote of token-hash bits.

    Expressed as explode → 32 conditional sums → bit reassembly; one
    shuffle on doc_id (combinable partial aggregation).

    ``hash_fn``: 'murmur3' (JVM ``F.hash``, fastest — the production
    choice) or 'md5' (first 8 hex chars as a uint32 — standardized, so
    any engine reproduces the identical signatures; used by the
    oracle-checked query). Same plan shape either way.
    """
    tok = documents.select("doc_id", F.explode(tokens()).alias("tok"))
    if hash_fn == "md5":
        tok = tok.withColumn(
            "h", F.conv(F.substring(F.md5("tok"), 1, 8), 16, 10).cast("long")
        )
    else:
        tok = tok.withColumn("h", F.hash("tok"))
    votes = [
        F.sum(F.when(F.shiftright("h", b).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1)).alias(f"v{b}")
        for b in range(bits)
    ]
    agg = tok.groupBy("doc_id").agg(*votes)
    sim = agg.select(
        "doc_id",
        sum(
            (F.when(F.col(f"v{b}") > 0, F.lit(1)).otherwise(F.lit(0)) * F.lit(1 << b))
            for b in range(bits)
        ).cast("long").alias("simhash"),
    )
    return sim


def ngram_jaccard_pairs(
    documents: DataFrame,
    *,
    threshold: float = 0.4,
    max_doc_freq: int | None = None,
) -> DataFrame:
    """Exact word-set Jaccard similarity via an inverted-index join —
    the scalable exact-pairs algorithm (no LSH recall loss, no O(n²)):

    explode distinct tokens → self-join on token (inverted index) →
    count shared tokens per pair → jaccard = inter / (|a|+|b|-inter).

    ``max_doc_freq`` drops tokens appearing in more than N docs before
    the join — the df-cut that keeps bucket sizes bounded under Zipfian
    token skew at 100 TB.
    """
    words = documents.select("doc_id", F.explode(F.array_distinct(tokens())).alias("tok"))
    sizes = words.groupBy("doc_id").agg(F.count("*").alias("n_tok"))
    if max_doc_freq is not None:
        rare = words.groupBy("tok").agg(F.count("*").alias("df")).filter(F.col("df") <= max_doc_freq)
        words = words.join(rare.select("tok"), "tok")
    a = words.alias("a")
    b = words.alias("b")
    inter = (
        a.join(b, (F.col("a.tok") == F.col("b.tok")) & (F.col("a.doc_id") < F.col("b.doc_id")))
        .groupBy(F.col("a.doc_id").alias("id_a"), F.col("b.doc_id").alias("id_b"))
        .agg(F.count("*").alias("inter"))
    )
    out = (
        inter.join(sizes.withColumnRenamed("doc_id", "id_a").withColumnRenamed("n_tok", "n_a"), "id_a")
        .join(sizes.withColumnRenamed("doc_id", "id_b").withColumnRenamed("n_tok", "n_b"), "id_b")
        .withColumn("jaccard", F.col("inter") / (F.col("n_a") + F.col("n_b") - F.col("inter")))
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", F.round("jaccard", 6).alias("jaccard"))
    )
    return out


# duplicated_spans chunk stride: every per-span substr offset is
# bounded by _SPAN_CHUNK + span_len, independent of document width
# (see the plan note in the docstring; r10 widerow probe)
_SPAN_CHUNK = 512
# second chunk level (r11 megadoc probe): chunk extraction itself is
# an O(width²/_SPAN_CHUNK) positional-substr scan per doc — invisible
# at 20k-char docs, measured 6.1× wall at 2 MB docs (constant corpus
# bytes). Exploding _SUPER_CHUNK-char super-chunks first bounds the
# level-1 offsets at _SUPER_CHUNK + L; the residual top-level scan is
# O(width²/_SUPER_CHUNK) — at 64 KiB strides that term crosses the
# level-1 cost only past ~8 MB/doc (width ≈ S2²/S1), where a third
# level would repeat the same 3-line pattern.
_SUPER_CHUNK = 65536


def duplicated_spans(
    documents: DataFrame,
    *,
    span_len: int = 20,
    top_k: int | None = 50,
) -> DataFrame:
    """Exact duplicated-substring detection at fixed span granularity
    (the Lee et al. 2022 "Deduplicating Training Data Makes Language
    Models Better" exact-substring class, re-expressed Spark-first):
    every ``span_len``-character window of every document, grouped by
    its exact text — any span occurring more than once is a duplicated
    region's fingerprint, with its occurrence count, distinct-document
    count, and lowest containing doc_id.

    Plan: THREE nested map-side explodes (64 KiB super-chunks, then
    512-char chunks, then positions within each chunk — no UDF,
    whole-stage codegen) into ONE combinable groupBy(span) shuffle.
    The chunking is a row-WIDTH scale fix (r10 widerow probe): Spark's
    substr(text, i, L) is an O(i) codepoint scan, so the naive
    positions-explode costs O(width²) per document — measured
    17.6 s → 83.8 s for the SAME corpus bytes when average doc width
    grew 2k → 20k chars (scale probe `widerow`; isolated: positional substr
    79.4 s vs constant-offset 5.3 s at 20k width). Exploding
    fixed-stride chunks first bounds every per-span substr offset at
    ``_SPAN_CHUNK + L`` regardless of document width. The second
    (super-chunk) level is the r11 megadoc fix: single-level chunk
    extraction itself scans O(width²/_SPAN_CHUNK) per doc — measured
    6.1× wall at 2 MB docs vs 20k docs at constant corpus bytes
    (scale probe `megadoc`: 64.7 s → 16.1 s at that point after the fix;
    saturated 32-doc probe reads 1.07× wall at 100× width —
    width-parity, no quadratic term left). With both levels the
    residual per-doc scan is
    O(width²/_SUPER_CHUNK) + O(width·_SUPER_CHUNK/_SPAN_CHUNK),
    crossing over only past ~8 MB/doc, where a third level repeats
    the same pattern. substr-of-substr preserves codepoint indexing
    exactly at every level (unicode-hostile text slices identically
    to the single-substr form — property-tested row-identical vs the
    naive formulation incl. supplementary-plane chars and widths
    straddling both chunk boundaries).

    Honest 100 TB posture: exact L-span detection inherently
    shuffles ~(L + 16) bytes per corpus character (~2L× the corpus) —
    the reference systems pay suffix-array construction on dedicated
    hosts for the same exactness. The documented scale knobs, in
    order: (1) group on md5(span) first and re-derive text only for
    duplicated hashes (exact_dedup's prehash rule — 16-byte keys,
    needed once L ≫ 16); (2) a doc-frequency cut on hot spans
    (whitespace runs, boilerplate headers — the Zipf mass that
    dominates the shuffle, ngram_jaccard_pairs' max_doc_freq rule);
    (3) content-defined anchor positions instead of every offset for
    ≥-length dedup at a bounded recall loss. Population contract:
    doc_id and text non-NULL, length ≥ span_len (adversarial r5/r7
    conventions); both engines count substring positions in
    CODEPOINTS, so unicode-hostile text slices identically.

    Output: span, n_occurrences, n_docs, min_doc — ordered
    (n_occurrences DESC, span ASC): span is the group key, so the
    ordering is total (r5 LIMIT convention)."""
    d = documents.filter(
        F.col("doc_id").isNotNull()
        & F.col("text").isNotNull()
        & (F.length("text") >= span_len)
    ).select("doc_id", "text")
    # chunk k (0-based) holds the S span-starts kS+1..kS+S, so it needs
    # the S+L-1 chars from global position kS+1; the LAST chunk index
    # is (n_starts-1) div S where n_starts = n-L+1. A THIRD explode
    # level sits above it (r11): super-chunk j holds the M = S2/S1
    # chunks k in [jM, (j+1)M) and needs the S2+L-1 chars from global
    # position jS2+1 — substr-of-substr composes exactly (global char
    # jS2 + k'S1 + i == chunk k = jM+k', offset i), so each level only
    # adds the same L-1 overlap and the innermost arithmetic is
    # unchanged (base stays the GLOBAL span offset).
    S = _SPAN_CHUNK
    S2 = _SUPER_CHUNK
    M = S2 // S
    n_starts = F.length("text") - F.lit(span_len - 1)
    supers = d.select(
        "doc_id",
        F.explode(
            F.sequence(
                F.lit(0),
                F.floor((n_starts - F.lit(1)) / F.lit(S2)).cast("int"),
            )
        ).alias("j"),
        "text",
        n_starts.alias("n_starts"),
    ).select(
        "doc_id",
        "j",
        F.col("text")
        .substr((F.col("j").cast("long") * S2 + 1).cast("int"), F.lit(S2 + span_len - 1))
        .alias("super"),
        "n_starts",
    )
    chunks = supers.select(
        "doc_id",
        "j",
        F.explode(
            F.sequence(
                F.lit(0),
                F.least(
                    F.lit(M - 1).cast("long"),
                    F.floor((F.col("n_starts") - F.lit(1)) / F.lit(S))
                    - F.col("j").cast("long") * M,
                ).cast("int"),
            )
        ).alias("kk"),
        "super",
        "n_starts",
    ).select(
        "doc_id",
        (F.col("j").cast("long") * S2 + F.col("kk").cast("long") * S).alias("base"),
        F.col("super")
        .substr((F.col("kk") * S + 1).cast("int"), F.lit(S + span_len - 1))
        .alias("chunk"),
        "n_starts",
    )
    spans = chunks.select(
        "doc_id",
        F.explode(
            F.sequence(
                F.lit(1),
                F.least(F.lit(S), F.col("n_starts") - F.col("base")).cast("int"),
            )
        ).alias("i"),
        "chunk",
    ).select(
        "doc_id",
        F.col("chunk").substr(F.col("i"), F.lit(span_len)).alias("span"),
    )
    dup = (
        spans.groupBy("span")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_occurrences"),
            F.countDistinct("doc_id").cast("long").alias("n_docs"),
            F.min("doc_id").cast("long").alias("min_doc"),
        )
        .filter(F.col("n_occurrences") > 1)
    )
    out = dup.orderBy(
        F.col("n_occurrences").desc_nulls_last(),
        F.col("span").asc_nulls_last(),
    )
    return out.limit(top_k) if top_k is not None else out


def ngram_containment_pairs(
    documents: DataFrame,
    *,
    threshold: float = 0.9,
    max_doc_freq: int | None = None,
) -> DataFrame:
    """Asymmetric CONTAINMENT similarity: inter / min(|a|, |b|) —
    catches a document embedded inside a larger one (quotes, concat
    crawls, boilerplate wrappers), which symmetric Jaccard misses
    because the size union dilutes the score. Same inverted-index
    physical shape (and df-cut skew guard) as ngram_jaccard_pairs."""
    words = documents.select("doc_id", F.explode(F.array_distinct(tokens())).alias("tok"))
    sizes = words.groupBy("doc_id").agg(F.count("*").alias("n_tok"))
    if max_doc_freq is not None:
        rare = words.groupBy("tok").agg(F.count("*").alias("df")).filter(F.col("df") <= max_doc_freq)
        words = words.join(rare.select("tok"), "tok")
    a = words.alias("a")
    b = words.alias("b")
    inter = (
        a.join(b, (F.col("a.tok") == F.col("b.tok")) & (F.col("a.doc_id") < F.col("b.doc_id")))
        .groupBy(F.col("a.doc_id").alias("id_a"), F.col("b.doc_id").alias("id_b"))
        .agg(F.count("*").alias("inter"))
    )
    return (
        inter.join(sizes.withColumnRenamed("doc_id", "id_a").withColumnRenamed("n_tok", "n_a"), "id_a")
        .join(sizes.withColumnRenamed("doc_id", "id_b").withColumnRenamed("n_tok", "n_b"), "id_b")
        .withColumn("containment", F.col("inter") / F.least("n_a", "n_b"))
        .filter(F.col("containment") >= threshold)
        .select("id_a", "id_b", F.round("containment", 6).alias("containment"))
    )


def prepare_cc_edges(
    spark,
    pairs: DataFrame,
    table_name: str,
    src: str = "id_a",
    dst: str = "id_b",
    *,
    buckets: int = 32,
    path: str | None = None,
) -> DataFrame:
    """One-time connected-components edge prep: symmetrize, dedup, and
    persist bucketed by ``b`` — the label-join key — via
    operators/scale.write_bucketed. Feed the returned scan (columns
    ``a``, ``b``) to ``connected_components(..., prepared=True)``:
    every propagation round's edges⋈labels join then plans no
    exchange on the O(|E|) edge side; only the O(|V|) label table
    moves per round. Match ``buckets`` to the join's target
    parallelism (spark.sql.shuffle.partitions) — on a mismatch the
    planner disables the bucketed scan rather than de-parallelize
    the label side (operators/graph.prepare_pagerank_edges)."""
    from datafusion_wasm_bindings_spark.operators.scale import (
        sorted_bucketed_scan,
        write_bucketed,
    )

    e = pairs.select(F.col(src).alias("a"), F.col(dst).alias("b"))
    und = e.union(e.select(F.col("b").alias("a"), F.col("a").alias("b"))).distinct()
    write_bucketed(und, table_name, "b", buckets=buckets, path=path)
    return sorted_bucketed_scan(spark, table_name)


def connected_components(
    pairs: DataFrame,
    src: str = "id_a",
    dst: str = "id_b",
    *,
    max_iters: int = 25,
    prepared: bool = False,
) -> DataFrame:
    """Resolve similarity candidate pairs into duplicate CLUSTERS —
    the step that turns pairwise near-dup evidence into a keep/drop
    decision (keep one doc per component; near-dup is transitive only
    through clustering, not per-pair).

    Algorithm: iterative min-label propagation. Every node starts
    labeled with itself; each round takes the min of its own and its
    neighbors' labels; converges in O(graph diameter) rounds. Each
    round is one shuffle join + one shuffle agg on the edge list —
    fully distributed, no driver-side graph. A lineage cut
    (operators/checkpoint.py) ends each round (the same fix that
    de-pathologized MinHash re-evaluation). Dedup graphs are
    overwhelmingly short chains/cliques, so rounds ≈ 2-4 in practice;
    at 100 TB with
    adversarially long chains you would switch to the large-star/
    small-star variant (alternating rounds, O(log n) convergence) —
    same join/agg primitives, more rounds fused.

    Returns (node, comp): every node appearing in ``pairs`` mapped to
    its component id = min node id in the component.

    ``prepared=True`` takes ``pairs`` from ``prepare_cc_edges``
    (columns ``a``/``b``, already symmetrized + deduped, bucketed by
    ``b``): the symmetrize pass and its checkpoint are skipped so every
    round's label join stays exchange-free on the edge side.
    """
    if prepared:
        edges = pairs.select("a", "b")
    else:
        e = pairs.select(F.col(src).alias("a"), F.col(dst).alias("b"))
        edges = cut(
            e.union(e.select(F.col("b").alias("a"), F.col("a").alias("b"))).distinct()
        )
    labels = cut(
        edges.select(F.col("a").alias("node"))
        .distinct()
        .withColumn("comp", F.col("node"))
    )
    prev_labels = labels
    for _ in range(max_iters):
        nbr_min = (
            edges.join(labels.select(F.col("node").alias("b"), "comp"), "b")
            .groupBy("a")
            .agg(F.min("comp").alias("nbr_comp"))
            .withColumnRenamed("a", "node")
        )
        # the change flag falls out of the same row (old comp vs
        # neighbor min) — checking it on the checkpointed result avoids
        # a per-round convergence join
        new_labels = cut(
            labels.join(nbr_min, "node", "left")
            .select(
                "node",
                F.least(F.col("comp"), F.coalesce("nbr_comp", "comp")).alias("comp"),
                (F.coalesce("nbr_comp", "comp") < F.col("comp")).alias("changed"),
            )
        )
        changed = new_labels.filter("changed").limit(1).count()
        # the old labels checkpoint fed only this round's materialization
        # — free its blocks (O(1) state in rounds, r7 release convention)
        release(prev_labels)
        prev_labels = new_labels
        labels = new_labels.drop("changed")
        if changed == 0:
            break
    else:
        # silent wrong labels are worse than failure: a graph whose
        # diameter exceeds max_iters (long chains) needs the O(log n)
        # variant below
        raise RuntimeError(
            f"connected_components did not converge in {max_iters} rounds "
            "(graph diameter too large) — use connected_components_star"
        )
    if not prepared:
        release(edges)  # the final labels are materialized without it
    return labels


def connected_components_star(
    pairs: DataFrame,
    src: str = "id_a",
    dst: str = "id_b",
    *,
    max_iters: int = 50,
) -> DataFrame:
    """Connected components via alternating large-star / small-star —
    the 100 TB scale path (Kiveris et al., "Connected Components in
    MapReduce and Beyond", SoCC 2014).

    Min-label propagation (``connected_components``) needs O(graph
    diameter) rounds — fine for dedup cliques/short chains, pathological
    for long chains. Large-star/small-star contracts the graph itself:

    - **large-star**: every node u links each *strictly larger*
      neighbor to m = min(Γ(u) ∪ {u});
    - **small-star**: orient edges high→low; every node u links its
      smaller neighbors (and itself) to their minimum.

    Both are one groupBy(min) + one join on the edge list; the edge set
    converges to per-component stars rooted at the component minimum in
    O(log n) alternations regardless of diameter. Convergence is
    detected with an order-insensitive edge-set signature
    (count + bit_xor of xxhash64(a, b)) — one cheap aggregate per round
    instead of a set-difference join.

    Returns (node, comp) exactly like ``connected_components``: every
    node appearing in ``pairs`` mapped to the min node id of its
    component.
    """
    edges = cut(
        pairs.select(F.col(src).alias("a"), F.col(dst).alias("b"))
        .filter(F.col("a") != F.col("b"))
        .distinct()
    )

    def signature(e: DataFrame) -> tuple:
        # canonical orientation so (a,b) and (b,a) sign identically
        row = e.select(
            F.count(F.lit(1)).alias("n"),
            F.expr("bit_xor(xxhash64(least(a, b), greatest(a, b)))").alias("sig"),
        ).collect()[0]
        return (row["n"], row["sig"])

    prev_sig = signature(edges)
    prev_edges = edges
    for _ in range(max_iters):
        # -- large-star: for each u, attach neighbors v > u to the
        #    minimum of the closed neighborhood of u
        und = edges.union(edges.select(F.col("b").alias("a"), F.col("a").alias("b")))
        lmins = (
            und.groupBy("a")
            .agg(F.min("b").alias("mn"))
            .select("a", F.least("a", "mn").alias("m"))
        )
        large = (
            und.join(lmins, "a")
            .filter(F.col("b") > F.col("a"))
            .select(F.col("b").alias("a"), F.col("m").alias("b"))
            .filter(F.col("a") != F.col("b"))
            .distinct()
        )
        # -- small-star: orient high→low, attach each node's smaller
        #    neighbors (and the node itself) to their minimum
        oriented = large.select(
            F.greatest("a", "b").alias("hi"), F.least("a", "b").alias("lo")
        )
        smins = oriented.groupBy("hi").agg(F.min("lo").alias("m"))
        small = cut(
            oriented.join(smins, "hi")
            .select(F.col("lo").alias("a"), F.col("m").alias("b"))
            .union(smins.select(F.col("hi").alias("a"), F.col("m").alias("b")))
            .filter(F.col("a") != F.col("b"))
            .distinct()
        )
        edges = small
        # the previous round's edge checkpoint fed only this round's
        # large/small-star materialization — free its blocks. Without
        # this, ~O(log n) rounds x O(|E|) deserialized blocks accumulate:
        # measured r7, a 10M-node chain OOM'd the 8 g probe heap
        release(prev_edges)
        prev_edges = edges
        sig = signature(edges)
        if sig == prev_sig:
            break
        prev_sig = sig

    # converged edge set is a forest of stars (child → component min):
    # children label from their edge, roots label themselves
    children = edges.select(F.col("a").alias("node"), F.col("b").alias("comp"))
    roots = edges.select(F.col("b").alias("node")).distinct().withColumn(
        "comp", F.col("node")
    )
    return children.union(roots).distinct()
