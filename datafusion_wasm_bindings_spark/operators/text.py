"""Text-analysis operators for training-data pipelines (north star):
language ID, quality scoring, token counting, document fingerprinting.

Everything is built-in-function DataFrame code (codegen'd, no Python
in the hot path) so the same pipeline runs unchanged over 100 TB of
documents: all operators are pure maps except lang-ID's broadcast
lexicon join and the per-doc aggregations, which combine map-side.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

TOKEN_CHAR = "[a-z0-9]"
TOKEN_RE = TOKEN_CHAR + "+"

# Tiny built-in stopword lexicons for the n-gram/stopword language
# heuristic. Real pipelines plug in fastText-style models via
# mapInPandas; the *plumbing* (broadcast lexicon + argmax) is what
# scales, not the word lists.
LANG_LEXICON: dict[str, tuple[str, ...]] = {
    "en": ("the", "and", "of", "to", "in", "is", "it", "for", "with", "on"),
    "de": ("der", "die", "das", "und", "ist", "nicht", "mit", "ein", "zu", "auf"),
    "fr": ("le", "la", "les", "et", "est", "pas", "pour", "que", "une", "dans"),
    "es": ("el", "la", "los", "y", "es", "no", "por", "que", "una", "en"),
}


def tokens_col(text_col: str = "text") -> F.Column:
    return F.expr(f"regexp_extract_all(lower({text_col}), '{TOKEN_RE}', 0)")


def token_counts(documents: DataFrame) -> DataFrame:
    """Whitespace + regex token counting (north-star 'token counting').

    ws_tokens: maximal non-whitespace runs; re_tokens: alnum runs (a
    BPE-ish pre-tokenizer grain); chars from length().

    ws_tokens counts ``\\S+`` matches of the trimmed text, which is by
    construction the number of non-empty pieces of ``split(trim(text),
    '\\s+')`` — the oracle's ``list_filter(..., <> '')`` form — so an
    empty or whitespace-only document has zero tokens, not Spark's
    ``split('') -> ['']`` one.
    """
    return documents.select(
        "doc_id",
        F.regexp_count(F.trim(F.col("text")), F.lit(r"\S+")).alias("ws_tokens"),
        F.size(tokens_col()).alias("re_tokens"),
        F.length("text").alias("n_chars_measured"),
        F.col("n_chars").alias("n_chars_given"),
    )


# GPT-2-style pre-tokenizer, lookahead-free: the published GPT-2 regex
# ends `\s+(?!\S)|\s+`, but RE2 (DuckDB's engine) rejects lookahead, so
# whitespace is kept as single runs here — identical alternation-order
# (leftmost-first) semantics in Java regex and RE2. Contractions split
# first, then space-prefixed letter runs, digit runs, punct runs.
BPE_PRETOKEN_RE = r"'(?:s|t|re|ve|m|ll|d)| ?\p{L}+| ?\p{N}+| ?[^\s\p{L}\p{N}]+|\s+"


def bpe_pretokenize_counts(documents: DataFrame) -> DataFrame:
    """Token counting at the BPE pre-tokenizer grain (north-star 'token
    counting — whitespace + a BPE-ish regex'): per-document counts of
    pre-tokens by class. This is the unit actual BPE merges operate on,
    so `n_bpe_tokens` upper-bounds the trained-tokenizer token count —
    the budget number packing/chunking pipelines need before a real
    vocab exists.

    Scale: pure map over the corpus, one regex pass; the match array is
    materialized once in its own select and every class count filters
    that array. The class counts keep the match list (no per-class
    ``regexp_count``): which class a span lands in depends on the
    leftmost-first alternation over the whole pattern: in ``''s`` the
    punctuation branch takes ``''`` first, leaving the word ``s``, so
    a standalone count of ``'s`` would find a contraction that the
    tokenizer never emits. Only the matches themselves classify.
    """
    matches = F.regexp_extract_all(F.col("text"), F.lit(BPE_PRETOKEN_RE), F.lit(0))
    base = documents.select("doc_id", matches.alias("toks"))

    def n(pred) -> F.Column:
        return F.size(F.filter(F.col("toks"), pred))

    n_ws = n(lambda t: t.rlike(r"^\s+$"))
    n_word = n(lambda t: t.rlike(r"^ ?\p{L}"))
    n_num = n(lambda t: t.rlike(r"^ ?\p{N}"))
    n_contr = n(lambda t: t.rlike(r"^'(s|t|re|ve|m|ll|d)$"))
    total = F.size(F.col("toks")) - n_ws
    return base.select(
        "doc_id",
        total.alias("n_bpe_tokens"),
        n_word.alias("n_word_tokens"),
        n_num.alias("n_num_tokens"),
        n_contr.alias("n_contractions"),
        (total - n_word - n_num - n_contr).alias("n_punct_tokens"),
    )


def tfidf_keywords(documents: DataFrame, *, k: int = 3) -> DataFrame:
    """Top-``k`` TF-IDF keywords per document — the classic salient-term
    extractor (smoothed idf = ln((N+1)/(df+1)) + 1).

    Cross-engine determinism: ranking sorts on the ROUNDED score (6 dp)
    with the token as tie-break, so a last-bit ln() divergence between
    engines cannot flip the selection; the rounded score is what's
    surfaced.

    Scale: one explode→(doc, tok) aggregate for tf, a token-keyed
    aggregate for df, then a tok join and a per-doc top-k window. The
    df table is VOCABULARY-sized, so it carries no broadcast hint
    (CLAUDE.md r5 (d): an explicit hint past the ceiling kills the
    job) — AQE broadcasts it while it fits (always at fixture scale)
    and degrades to a shuffle join on tok at corpus scale, with the
    df-cut of ngram_jaccard_pairs available to cap hot-token skew.
    N (corpus size) joins as a broadcast scalar (1 row, bounded by
    construction).
    """
    toks = documents.select("doc_id", F.explode(tokens_col()).alias("tok"))
    tf = toks.groupBy("doc_id", "tok").agg(F.count("*").alias("tf"))
    df_counts = tf.groupBy("tok").agg(F.count("*").alias("df"))
    n_docs = documents.agg(F.count("*").alias("n_docs"))
    scored = (
        tf.join(df_counts, "tok")
        .crossJoin(F.broadcast(n_docs))
        .withColumn(
            "score",
            F.round(
                F.col("tf")
                * (F.log((F.col("n_docs") + 1.0) / (F.col("df") + 1)) + 1.0),
                6,
            ),
        )
    )
    from pyspark.sql import Window

    w = Window.partitionBy("doc_id").orderBy(
        F.col("score").desc(), F.col("tok").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("doc_id", "tok", "tf", "df", "score", "rank")
    )


def _lexicon_re(lang: str) -> str:
    """``lang``'s lexicon words as whole tokens: a lexicon word with no
    token character on either side is exactly a token (a maximal
    ``TOKEN_RE`` run) equal to that word. Group 1 holds the word."""
    return f"(?<!{TOKEN_CHAR})({'|'.join(LANG_LEXICON[lang])})(?!{TOKEN_CHAR})"


def quality_scores(documents: DataFrame) -> DataFrame:
    """Heuristic quality features + a composite score ∈ [0,1]:
    length band, alpha ratio, mean token length, stopword ratio —
    the standard cheap pre-filters before model-based scoring.

    Staged per the materialization rule (CLAUDE.md): the token regexp
    and the alpha counter are each evaluated ONCE into their own
    columns, then every feature reads the staged integers. Inlined,
    the regexps re-ran per referencing column — measured 73.8 s →
    much less at 2M docs (probe textmap). One regex pass matches each
    token once, capturing it only if it is a stopword: the token count
    is the array's size, the stopword count its non-empty entries (a
    second, stopword-only scan cost more than it saved on short words).

    The alpha count is ``length(lt) − length(translate(lt, a..z, ''))``
    — a per-codepoint table lookup, NOT the former
    ``length(regexp_replace(lt, '[^a-z]', ''))`` which rebuilt every
    document through the regex engine: identical counts on every input
    (both count exactly the [a-z] codepoints after lower()), measured
    **7.36× on the whole operator** at 2M docs (29.2 → 4.0 s,
    BASELINE.md r8 `alpha_ab`).
    """
    staged = documents.select(
        "doc_id",
        F.length("text").alias("__n_chars"),
        (
            F.length(F.lower("text"))
            - F.length(
                F.translate(F.lower("text"), "abcdefghijklmnopqrstuvwxyz", "")
            )
        ).alias("__alpha"),
        F.regexp_extract_all(
            F.lower("text"), F.lit(f"{_lexicon_re('en')}|{TOKEN_RE}"), F.lit(1)
        ).alias("__toks"),
    ).select(
        "doc_id",
        "__n_chars",
        "__alpha",
        F.size("__toks").alias("__n_tok"),
        F.size(F.array_remove("__toks", "")).alias("__n_stop"),
    )
    n_tok = F.col("__n_tok")
    n_chars = F.col("__n_chars")
    alpha_chars = F.col("__alpha")
    n_stop = F.col("__n_stop")
    mean_tok_len = F.when(n_tok > 0, alpha_chars / n_tok).otherwise(F.lit(0.0))
    score = (
        F.least(n_chars / F.lit(400.0), F.lit(1.0)) * 0.3
        + (alpha_chars / F.greatest(n_chars, F.lit(1))) * 0.3
        + F.least(n_stop / F.greatest(n_tok, F.lit(1)) * 4.0, F.lit(1.0)) * 0.2
        + F.when((mean_tok_len >= 3) & (mean_tok_len <= 8), 0.2).otherwise(0.0)
    )
    return staged.select(
        "doc_id",
        n_tok.alias("n_tokens"),
        F.round(alpha_chars / F.greatest(n_chars, F.lit(1)), 6).alias("alpha_ratio"),
        F.round(n_stop / F.greatest(n_tok, F.lit(1)), 6).alias("stopword_ratio"),
        F.round(mean_tok_len, 6).alias("mean_token_len"),
        F.round(score, 6).alias("quality"),
    )


def language_id(documents: DataFrame, spark: SparkSession | None = None) -> DataFrame:
    """Stopword-lexicon language ID: per-language hit counts, argmax
    with deterministic tiebreak (highest hits, then lexicographically
    greatest language code), 'und' (undetermined) when nothing matches.

    Shape (r5 rewrite): a PURE MAP — the lexicons are bounded literals,
    so each language's hit count is one ``regexp_count`` (NULL text
    counts 0) and the argmax is ``array_max`` over
    a |languages|-sized (hits, lang) struct array. ZERO shuffles at
    any corpus size. The previous explode → broadcast-join →
    groupBy(doc, lang) → groupBy(doc) → join-back formulation shuffled
    O(corpus tokens) twice and re-joined the corpus; measured 1.7× at
    2M docs on one box (6.6 s vs 11.2 s, BASELINE.md `langid` probe)
    — and the structural win grows with corpus size and token skew,
    since the map variant shuffles NOTHING. The oracle keeps the
    join/group formulation: same output, different plan.
    """
    def hits(lang: str) -> F.Column:
        n = F.regexp_count(F.lower("text"), F.lit(_lexicon_re(lang)))
        return F.coalesce(n, F.lit(0)).cast("long")

    # array_max over structs compares field-wise: (hits, lang_cand) —
    # exactly the old max_by(lang_cand, struct(hits, lang_cand)) order
    best = F.array_max(
        F.array(
            *[
                F.struct(hits(lang).alias("hits"), F.lit(lang).alias("lang_cand"))
                for lang in sorted(LANG_LEXICON)
            ]
        )
    )
    return documents.select("doc_id", "lang", best.alias("__best")).select(
        "doc_id",
        F.when(F.col("__best.hits") > 0, F.col("__best.lang_cand"))
        .otherwise(F.lit("und"))
        .alias("lang_pred"),
        F.col("__best.hits").alias("best_hits"),
        "lang",
    )


def corpus_stats(documents: DataFrame) -> DataFrame:
    """Per-language corpus rollup (SURVEY.md §7.6 `q_text_stats`):
    doc counts, char/token totals and means, distinct sources.

    One map stage (length/size are codegen'd) + one partial-combining
    groupBy on `lang` (~5 groups): bytes shuffled are O(partitions ×
    languages), independent of corpus size.
    """
    per_doc = documents.select(
        "lang",
        "source",
        F.length("text").alias("n_chars"),
        F.size(tokens_col()).alias("n_tokens"),
    )
    return (
        per_doc.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").alias("total_chars"),
            F.sum("n_tokens").alias("total_tokens"),
            (F.sum("n_tokens").cast("double") / F.count(F.lit(1))).alias("avg_tokens"),
            F.countDistinct("source").alias("n_sources"),
        )
        .orderBy(F.col("lang").asc_nulls_last())
    )


def fingerprints(documents: DataFrame, modulus: int = 1_000_000_007) -> DataFrame:
    """Polynomial rolling-hash fingerprint over the document's token
    stream: fp = Σ tok_i · 31^i (mod p), computed as a left fold.

    Uses engine-portable arithmetic only (no murmur3): token value =
    Σ ascii(char)·131^j mod p via nested aggregate — identical in the
    DuckDB oracle. Pure map, no shuffle.
    """
    p = F.lit(modulus)

    def char_fold(tok: F.Column) -> F.Column:
        return F.aggregate(
            F.split(tok, ""),
            F.lit(0).cast("long"),
            lambda acc, ch: (acc * 131 + F.ascii(ch)) % p,
        )

    fp = F.aggregate(
        tokens_col(),
        F.lit(0).cast("long"),
        lambda acc, tok: (acc * 31 + char_fold(tok)) % p,
    )
    return documents.select("doc_id", fp.alias("fingerprint"))


def decontaminate(train: DataFrame, eval_df: DataFrame, *, n: int = 3) -> DataFrame:
    """Eval-set decontamination: flag training documents sharing any
    n-gram (word shingle) with a held-out benchmark/eval corpus — the
    standard pretraining hygiene step (GPT-3-style 13-gram overlap;
    ``n`` scales to the fixture's short documents).

    Per train doc: ``n_shingles`` (distinct n-grams), ``n_hits``
    (of those, how many occur anywhere in the eval corpus),
    ``contaminated`` (any hit), ``contaminated_frac``.

    Scale posture: the eval corpus is benchmarks — tiny next to the
    training corpus — so its distinct-shingle set is broadcast and the
    probe is a map-side hash lookup over the exploded train shingles.
    Everything folds into ONE pass over the training scan: tokenize →
    shingle → explode → left broadcast-probe → per-doc hash-aggregate
    (map-side combining), with no join-back (a two-branch join-back
    formulation re-evaluated the shingle pipeline per branch — 3×
    slower at sf0.1). The only shuffle is the per-doc regroup of
    (doc_id, hit) rows. At 100 TB of train data that plan is
    scan-bound, exactly as it should be. Shingling reuses the MinHash
    pipeline's word_shingles (operators/dedup.py).
    """
    from datafusion_wasm_bindings_spark.operators.dedup import tokens, word_shingles

    # tokenize in its own projection: word_shingles references its
    # input repeatedly (including inside a higher-order lambda, outside
    # codegen subexpression elimination), so an inlined
    # regexp_extract_all would re-run per shingle — O(tokens²) regex
    # work per doc. Binding it to a column first makes each reference
    # an array lookup.
    # explode_OUTER + count("s"): a zero-token doc has ZERO shingles
    # (word_shingles r6 contract) but must still be REPORTED with
    # n_shingles = 0 / contaminated FALSE — a plain explode drops it
    # from the audit (adversarial extremes replay, r6). NULL-text docs
    # stay excluded (NULL token array filtered before the explode),
    # matching the oracle's population.
    def shingle_rows(df: DataFrame) -> DataFrame:
        toks = df.select("doc_id", tokens().alias("__toks")).filter(
            F.col("__toks").isNotNull()
        )
        return toks.select(
            "doc_id",
            F.explode_outer(
                F.array_distinct(word_shingles(F.col("__toks"), n))
            ).alias("s"),
        )

    ex = shingle_rows(train)
    ev = shingle_rows(eval_df).select("s").distinct().withColumn("__hit", F.lit(1))
    per_doc = (
        ex.join(F.broadcast(ev), "s", "left")
        .groupBy("doc_id")
        .agg(
            # count("s"), not count(*): the explode_outer placeholder
            # row of a zero-shingle doc must count 0 shingles
            F.count("s").alias("n_shingles"),
            F.sum(F.coalesce("__hit", F.lit(0))).alias("n_hits"),
        )
    )
    return per_doc.select(
        "doc_id",
        "n_shingles",
        "n_hits",
        (F.col("n_hits") > 0).alias("contaminated"),
        F.round(F.col("n_hits") / F.greatest("n_shingles", F.lit(1)), 6).alias(
            "contaminated_frac"
        ),
    )


# PII patterns valid in BOTH Java regex (Spark) and RE2 (DuckDB oracle):
# no backreferences, no lookaround, ASCII word boundaries only.
PII_PATTERNS: tuple[tuple[str, str, str], ...] = (
    ("email", r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "[EMAIL]"),
    ("phone", r"\+?[0-9][0-9()\- ]{6,}[0-9]", "[PHONE]"),
    ("ipv4", r"\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b", "[IP]"),
)


def redact_pii(df: DataFrame, text_col: str = "text") -> DataFrame:
    """PII scrubbing for training corpora: count and redact emails,
    phone numbers, and IPv4 addresses. Counts are measured on the
    original text per pattern; redaction applies the patterns in
    declaration order (emails first so their digit runs can't be
    half-eaten by the phone pattern).

    Pure map over built-in regexp functions — whole-stage codegen'd,
    no Python in the hot path, trivially scan-bound at 100 TB.
    Patterns go through ``F.lit`` so no SQL-string escaping applies.
    """
    col = F.col(text_col)
    counts = [
        F.size(F.regexp_extract_all(col, F.lit(pat), F.lit(0))).alias(f"n_{name}")
        for name, pat, _ in PII_PATTERNS
    ]
    redacted = col
    for _, pat, repl in PII_PATTERNS:
        redacted = F.regexp_replace(redacted, pat, repl)
    return df.select("doc_id", *counts, redacted.alias("redacted"))


def repetition_scores(documents: DataFrame) -> DataFrame:
    """Gopher-style within-document repetition features — the standard
    pretraining repetition filter (duplicate tokens, dominant and
    duplicated 2-grams) applied before model-based quality scoring.

    Per doc: ``dup_token_ratio`` (1 − distinct/total tokens),
    ``top_bigram_frac`` (occurrences of the most frequent bigram over
    all bigrams), ``dup_bigram_frac`` (fraction of bigram occurrences
    whose bigram appears more than once).

    Shape: a pure map — no explode, no shuffle, no join. Bigrams are a
    zip of the token list with its own shift; per-bigram frequencies
    come from a run-length fold (`aggregate`) over the *sorted* bigram
    array, so every feature is computed inside one projection over the
    scan. An explode → groupBy formulation measured 5× slower at sf0.1
    (Catalyst placed the per-doc array expressions above the Generate,
    re-evaluating them per exploded row) and would shuffle ~100× the
    corpus token count at 100 TB; this shape does per-doc O(n log n)
    work with zero exchanges. Tokenize and fold live in their own
    selects so CollapseProject cannot re-evaluate them per reference.
    """
    base = documents.select("doc_id", tokens_col().alias("toks"))
    m = F.greatest(F.size("toks") - 1, F.lit(0))
    bigrams = F.zip_with(
        F.slice("toks", F.lit(1), m),
        F.slice("toks", F.lit(2), m),
        lambda a, b: F.concat(a, F.lit(" "), b),
    )
    stats = base.select(
        "doc_id",
        F.size("toks").alias("n_tokens"),
        F.size(F.array_distinct("toks")).alias("n_distinct"),
        F.array_sort(bigrams).alias("bgs"),
    )

    # run-length fold over the sorted bigrams: longest run = top bigram
    # count; runs of length k >= 2 contribute k duplicated occurrences
    # (+2 when the run reaches 2, +1 for each further repeat)
    zero = F.struct(
        F.lit("").alias("prev"),
        F.lit(0).cast("long").alias("run"),
        F.lit(0).cast("long").alias("maxrun"),
        F.lit(0).cast("long").alias("dup"),
    )

    def step(acc, x):
        run = F.when(x == acc.getField("prev"), acc.getField("run") + 1).otherwise(
            F.lit(1).cast("long")
        )
        dup = acc.getField("dup") + (
            F.when(run == 2, 2).when(run > 2, 1).otherwise(0)
        )
        return F.struct(
            x.alias("prev"),
            run.alias("run"),
            F.greatest(acc.getField("maxrun"), run).alias("maxrun"),
            dup.alias("dup"),
        )

    folded = stats.select(
        "doc_id",
        "n_tokens",
        "n_distinct",
        F.size("bgs").alias("total_bg"),
        F.aggregate(F.col("bgs"), zero, step).alias("fold"),
    )
    nonempty = F.col("total_bg") > 0
    return folded.select(
        "doc_id",
        "n_tokens",
        F.round(
            1.0 - F.col("n_distinct") / F.greatest(F.col("n_tokens"), F.lit(1)), 6
        ).alias("dup_token_ratio"),
        F.round(
            F.when(nonempty, F.col("fold.maxrun") / F.col("total_bg")).otherwise(0.0),
            6,
        ).alias("top_bigram_frac"),
        F.round(
            F.when(nonempty, F.col("fold.dup") / F.col("total_bg")).otherwise(0.0), 6
        ).alias("dup_bigram_frac"),
    )


def hashed_classifier_score(
    documents: DataFrame,
    *,
    dims: int = 1024,
    threshold: float = 0.0,
) -> DataFrame:
    """Linear quality-classifier scoring via the hashing trick — the
    fastText-style architecture every large-scale corpus filter uses
    (token → feature bucket → weight lookup → mean → threshold), as a
    pure JVM-side map: no shuffle, no UDF, no stored model file.

    Feature buckets come from the engine-portable md5 draw (bucket =
    md5(token) mod ``dims``), and the per-bucket weights are a
    deterministic integer hash of the bucket id mapped to
    [-2^30, 2^30) — a stand-in a production deployment replaces with
    trained weights (broadcast as a ``dims``-length literal array or
    map) without touching the plan shape. Weights stay INTEGER until
    the final per-document division, so the token sum is exact and
    order-independent; the score is one IEEE division — bit-identical
    cross-engine (no transcendental link function on the checked path;
    a sigmoid calibration is monotone, so thresholding the raw mean is
    the same classifier).

    Output: (doc_id, n_tokens, score, keep) with score = mean bucket
    weight scaled to [-1, 1) and keep = score > ``threshold``.
    """
    toks = documents.select("doc_id", tokens_col().alias("toks"))

    def w_int(tok: F.Column) -> F.Column:
        bucket = F.pmod(
            F.conv(F.substring(F.md5(tok), 1, 8), 16, 10).cast("long"),
            F.lit(dims),
        )
        return (
            F.pmod(bucket * F.lit(2654435761), F.lit(2147483648)) - F.lit(1073741824)
        )

    agg = toks.select(
        "doc_id",
        F.size("toks").alias("n_tokens"),
        F.aggregate(
            F.transform("toks", w_int),
            F.lit(0).cast("long"),
            lambda acc, w: acc + w,
        ).alias("wsum"),
    )
    score = (
        F.when(F.col("n_tokens") == 0, F.lit(0.0))
        .otherwise(
            F.col("wsum").cast("double")
            / (F.col("n_tokens").cast("double") * F.lit(1073741824.0))
        )
    )
    return agg.select(
        "doc_id",
        "n_tokens",
        F.round(score, 6).alias("score"),
        (score > F.lit(threshold)).alias("keep"),
    )


def cms_heavy_hitters(
    documents: DataFrame,
    *,
    depth: int = 4,
    width: int = 512,
    k: int = 20,
) -> DataFrame:
    """Count-min-sketch token frequencies, verified against exact
    counts for the corpus's top-``k`` tokens.

    The sketch is the mergeable-summary architecture for frequency at
    100 TB (the CMS twin of the HLL shard union in
    operators/profiling.py): each shard folds its token stream into a
    fixed ``depth × width`` grid of counters (one aggregation, counter
    state a few KB), grids merge by cell-wise addition, and a point
    estimate is min over rows of the addressed cells — never an exact
    per-token shuffle. Hash rows use the engine-portable md5 draw
    (bucket_j = md5(j ':' token) mod width), so any engine replays the
    sketch bit-identically — the estimate itself is value-checked by
    the oracle, plus the CMS no-undercount guarantee as a boolean.

    Output: (tok, pos, exact_cnt, cms_est, no_undercount) for the
    exact top-``k`` tokens (ties broken by token ascending).
    """
    toks = documents.select(tokens_col().alias("toks")).select(
        F.explode("toks").alias("tok")
    )

    def bucket(j: int, tok: F.Column) -> F.Column:
        return F.pmod(
            F.conv(
                F.substring(F.md5(F.concat(F.lit(f"{j}:"), tok)), 1, 8), 16, 10
            ).cast("long"),
            F.lit(width),
        )

    cells = (
        toks.select(
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(j).alias("j"), bucket(j, F.col("tok")).alias("bucket")
                        )
                        for j in range(depth)
                    ]
                )
            ).alias("jb")
        )
        .groupBy(F.col("jb.j").alias("j"), F.col("jb.bucket").alias("bucket"))
        .agg(F.count(F.lit(1)).alias("c"))
    )
    exact = toks.groupBy("tok").agg(F.count(F.lit(1)).alias("exact_cnt"))
    top = exact.orderBy(
        F.col("exact_cnt").desc_nulls_last(), F.col("tok").asc_nulls_first()
    ).limit(k)
    from pyspark.sql import Window

    w = Window.orderBy(
        F.col("exact_cnt").desc_nulls_last(), F.col("tok").asc_nulls_first()
    )
    top = top.withColumn("pos", F.row_number().over(w))
    probes = top.select(
        "tok",
        "pos",
        "exact_cnt",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(j).alias("j"), bucket(j, F.col("tok")).alias("bucket")
                    )
                    for j in range(depth)
                ]
            )
        ).alias("jb"),
    ).select("tok", "pos", "exact_cnt", F.col("jb.j").alias("j"), F.col("jb.bucket").alias("bucket"))
    return (
        probes.join(F.broadcast(cells), ["j", "bucket"])
        .groupBy("tok", "pos", "exact_cnt")
        .agg(F.min("c").alias("cms_est"))
        .select(
            "tok",
            "pos",
            "exact_cnt",
            "cms_est",
            (F.col("cms_est") >= F.col("exact_cnt")).alias("no_undercount"),
        )
    )


def bm25_topk(
    documents: DataFrame,
    query_terms: list[str],
    *,
    k: int = 20,
    k1: float = 1.2,
    b: float = 0.75,
) -> DataFrame:
    """BM25 full-text ranking of documents for a bag-of-terms query —
    the retrieval scorer every dedup/decontamination/eval pipeline
    eventually needs next to its embedding ANN.

    Formula (Robertson/Lucene variant): per matched term,
    ``idf = ln(1 + (N - df + 0.5)/(df + 0.5))``, and
    ``tf_norm = tf·(k1+1)/(tf + k1·(1 - b + b·len/avgdl))``.

    Cross-engine determinism: every per-(doc,term) contribution is
    pure IEEE double arithmetic on exactly-representable integer
    inputs (tf, df, N, doc len) plus avgdl (one double division of two
    exact ints) — bit-identical in any engine; the per-doc SUM over
    matched terms is quantized to DECIMAL(18,9) so summation order
    cannot move a bit. The surfaced score is rounded to 6 dp and the
    top-k orders on (rounded score, doc_id).

    Scale: tf for query terms only (the term filter prunes the explode
    before any shuffle), df is |query|-sized (broadcast), doc lengths
    are a second map-side-combined aggregate over the SAME exploded
    scan, and the final top-k is TakeOrdered — no global sort. At
    100 TB this is one corpus scan + one (doc_id-keyed) join.
    """
    toks = documents.select("doc_id", F.explode(tokens_col()).alias("tok"))
    doclen = toks.groupBy("doc_id").agg(F.count("*").alias("len"))
    stats = doclen.agg(
        F.count("*").alias("n_docs"), F.sum("len").alias("total_len")
    )
    qtoks = toks.filter(F.col("tok").isin(list(query_terms)))
    tf = qtoks.groupBy("doc_id", "tok").agg(F.count("*").alias("tf"))
    df_counts = tf.groupBy("tok").agg(F.count("*").alias("df"))

    avgdl = F.col("total_len") / F.col("n_docs")
    idf = F.log(
        1.0 + (F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5)
    )
    tf_norm = (F.col("tf") * (k1 + 1.0)) / (
        F.col("tf") + k1 * (1.0 - b + b * F.col("len") / avgdl)
    )
    contrib = (idf * tf_norm).cast("decimal(18,9)")
    scored = (
        tf.join(F.broadcast(df_counts), "tok")
        .join(doclen, "doc_id")
        .crossJoin(F.broadcast(stats))
        .groupBy("doc_id")
        .agg(
            F.round(F.sum(contrib).cast("double"), 6).alias("score"),
            F.count("*").alias("n_terms"),
        )
    )
    return scored.orderBy(F.col("score").desc(), F.col("doc_id").asc()).limit(k)
