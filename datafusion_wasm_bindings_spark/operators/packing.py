"""Token-budget sequence packing for LLM pretraining datasets.

The standard packed-pretraining construction ("concat and chunk"):
documents are concatenated in a deterministic order into one token
stream per shard, and the stream is cut every ``budget`` tokens into
fixed-length training sequences. A document belongs to the sequence
where it *starts*; documents that cross a cut boundary are the ones a
loader would split across sequences (reported per sequence so the
pipeline can measure fragmentation and choose budget/shard counts).

This variant is chosen over greedy next-fit bin packing deliberately:
next-fit needs a running *reset* state (bin fill) that neither plain
window functions nor a fixed-depth fold can express, while
concat-and-chunk is a pure prefix-sum — one window cumsum — so it is
bit-deterministic, SQL-oracle-able, and embarrassingly parallel.

Scale posture (100 TB): the only wide exchange is the hash partition
on ``shard``; within a shard the cumsum is a single sorted window scan.
Shard count is the parallelism knob — size it so one shard's documents
fit a task (e.g. 100k shards over 100 TB ≈ 1 GB/shard); packing
quality is unaffected because sequences never span shards by design
(matching how real loaders shard corpora). Sharding here is
``doc_id % n_shards`` to keep the oracle engine-portable; a production
run would use a uniform hash the same way.

No reference analogue — north-star extension (SURVEY.md §7.6).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from datafusion_wasm_bindings_spark.operators.scale import bucketed_prefix_sum
from datafusion_wasm_bindings_spark.operators.text import tokens_col


def pack_sequences(
    documents: DataFrame,
    budget: int = 512,
    n_shards: int = 8,
) -> DataFrame:
    """Assign each document a (shard, seq_id) under concat-and-chunk
    packing and roll up per-sequence stats.

    Returns one row per training sequence: ``shard``, ``seq_id``,
    ``n_docs`` (documents starting in the sequence), ``start_tokens``
    (their summed token counts), ``n_split`` (how many of them cross
    the sequence's right boundary and would be split by a loader).

    Scale shape (r5 migration): the per-shard running token offset is
    operators/scale.bucketed_prefix_sum on doc_id-range buckets — a
    ``PARTITION BY shard`` window over the corpus is one sequential
    task per shard, and ``n_shards`` routinely sits far below cluster
    parallelism (the fixture's 8 shards = 8 tasks at 100 TB). The
    bucketed two-pass is row-identical (integer sums, total doc_id
    order) and parallel within shards (probe `pack`, BASELINE.md).
    """
    toks = F.size(tokens_col())
    docs = documents.select(
        "doc_id",
        (F.col("doc_id") % F.lit(n_shards)).alias("shard"),
        toks.alias("n_tokens"),
    )
    placed = bucketed_prefix_sum(
        docs,
        ["shard"],
        F.floor(F.col("doc_id") / F.lit(4096)),
        [F.col("doc_id").asc()],
        F.col("n_tokens"),
        sum_col="end_off",
    ).select(
        "shard",
        "n_tokens",
        (F.col("end_off") - F.col("n_tokens")).alias("start_off"),
        "end_off",
    ).select(
        "shard",
        "n_tokens",
        F.floor(F.col("start_off") / budget).cast("long").alias("seq_id"),
        # a doc crosses the cut iff its last token lands in a later
        # chunk than its first (empty docs never cross)
        (
            (F.col("n_tokens") > 0)
            & (
                F.floor((F.col("end_off") - 1) / budget)
                > F.floor(F.col("start_off") / budget)
            )
        ).alias("crosses"),
    )
    return (
        placed.groupBy("shard", "seq_id")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_tokens").alias("start_tokens"),
            F.sum(F.col("crosses").cast("long")).alias("n_split"),
        )
        .orderBy("shard", "seq_id")
    )


def chunk_documents(
    documents: DataFrame,
    *,
    chunk_tokens: int = 64,
    stride: int = 48,
) -> DataFrame:
    """Split each document into overlapping fixed-size token windows —
    the retrieval/RAG-side complement of ``pack_sequences`` (which
    merges documents; this splits them). ``stride`` < ``chunk_tokens``
    gives the standard overlapping-window construction so no span of
    ``chunk_tokens − stride`` tokens is ever cut in half.

    Output per chunk: ``doc_id, n_tokens, chunk_id, start_tok,
    n_chunk_tokens, chunk_text``. Chunk count = 1 for docs at or under
    the window, else ``ceil((n − chunk)/stride) + 1`` — the final
    window is allowed to be short.

    Pure map + explode: one row per chunk id, each slicing the doc's
    token array once; no shuffle exists at any corpus size.
    """
    toks = documents.select("doc_id", tokens_col().alias("__toks"))
    n = F.size("__toks")
    n_chunks = F.when(n <= chunk_tokens, F.lit(1)).otherwise(
        F.ceil((n - chunk_tokens) / F.lit(float(stride))) + 1
    )
    exploded = toks.select(
        "doc_id",
        n.alias("n_tokens"),
        "__toks",
        F.explode(F.sequence(F.lit(0), n_chunks.cast("int") - 1)).alias("chunk_id"),
    )
    start = F.col("chunk_id") * stride
    return exploded.select(
        "doc_id",
        "n_tokens",
        "chunk_id",
        start.alias("start_tok"),
        F.greatest(
            F.least(F.lit(chunk_tokens), F.col("n_tokens") - start), F.lit(0)
        ).alias("n_chunk_tokens"),
        F.concat_ws(" ", F.slice("__toks", start + 1, chunk_tokens)).alias(
            "chunk_text"
        ),
    )


def compaction_plan(
    files: DataFrame,
    *,
    size_col: str = "bytes",
    order_col: str = "file_id",
    target_bytes: int = 256 * 1024,
) -> DataFrame:
    """Small-file compaction planning: assign files (in a deterministic
    order) to target-sized output bins by prefix-sum bucketing.

    ``bin = (running_total_before_this_file) div target_bytes`` — the
    classic streaming next-fit packer expressed as a window prefix sum,
    so the WHOLE plan is one sort-based exchange (no driver loop, no
    per-file collect). At 100 TB a real lakehouse table has millions of
    small files; the prefix sum shuffles only the (file_id, size)
    manifest — a few MB — never the data. Each bin overshoots its
    target by at most one file, the next-fit guarantee; callers split
    giant single files upstream.

    The global window IS intentional: the input is file *metadata*
    (|files|, not |rows|), the same cardinality any table-format
    compactor (e.g. a manifest-based planner) holds on one node.
    """
    from pyspark.sql import Window

    w = (
        Window.orderBy(order_col)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    run = F.sum(F.col(size_col)).over(w)
    return files.withColumn(
        "__before", (run - F.col(size_col)).cast("long")
    ).withColumn(
        "bin", F.expr(f"__before div {int(target_bytes)}")
    ).drop("__before")


def dataset_manifest(
    df: DataFrame,
    *,
    key_col: str,
    payload_cols: tuple[str, ...],
    n_shards: int = 8,
    salt: str = "dfwb-manifest",
) -> DataFrame:
    """Content-addressed shard manifest: route rows to ``n_shards`` by
    an md5 hash of the key, and emit per-shard (row count, payload
    checksum). The checksum is an order-independent SUM of each row's
    md5-prefix integer, so two engines (or two runs over re-partitioned
    data) produce identical manifests iff the shard contents are
    identical — the cheap dataset-versioning primitive a 100 TB
    pipeline diffs instead of re-reading data.

    Single shuffle on the shard id; both aggregates combine map-side.
    """
    key = F.col(key_col).cast("string")
    shard = (
        F.conv(F.substring(F.md5(F.concat(key, F.lit(salt))), 1, 4), 16, 10)
        .cast("long") % n_shards
    ).alias("shard")
    # '<NULL>' sentinels: concat_ws would skip NULL fields, colliding
    # (NULL,'x') with ('x',NULL) and desyncing from any ||-built
    # oracle signature (adversarial NULL replay, r5)
    row_sig = F.conv(
        F.substring(
            F.md5(F.concat_ws(
                ":",
                F.coalesce(key, F.lit("<NULL>")),
                *[
                    F.coalesce(F.col(c).cast("string"), F.lit("<NULL>"))
                    for c in payload_cols
                ],
            )),
            1, 8,
        ),
        16, 10,
    ).cast("long")
    return (
        df.select(shard, row_sig.alias("__sig"))
        .groupBy("shard")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum("__sig").alias("checksum"),
        )
    )
