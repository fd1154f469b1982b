"""Sequence packing — the concat-and-cut training-shard manifest.

LLM pretraining consumes the corpus as FIXED-LENGTH sequences, not
documents: tokens are concatenated in a deterministic document order and
cut every ``ctx`` tokens (the standard "packing" step in every large-scale
training-data pipeline).  This operator computes the resulting manifest
declaratively — which token span of which document lands in which shard —
without materializing a single token:

    (shard_id, doc_id, begin_tok, end_tok, offset_in_shard)

``[begin_tok, end_tok)`` are offsets WITHIN the doc's token array;
``offset_in_shard`` is where the span starts inside its shard.  Per shard,
spans tile [0, ctx) exactly (the last shard may be shorter); per doc, spans
partition [0, n_tokens).  A downstream tokenizer job joins this manifest to
the raw content and emits the actual packed arrays — the manifest is the
shuffle-free part worth doing in SQL.

Scale design — the global running total WITHOUT a one-partition window:
a global ``Window.orderBy(doc_id)`` collapses 100 TB onto one task.
Instead the classic two-level scan (same offsets pattern as
``sources.corpus.assign_doc_ids``):

1. ``repartitionByRange(doc_id)`` — ranges are contiguous and partition ids
   are range-ordered, so global doc order = (pid, doc_id) order.
2. per-partition token totals: one tiny aggregate, O(#partitions) rows to
   the driver, broadcast back as a literal map.
3. within-partition cumulative sum (window over pid — parallel across
   partitions) + the partition's offset = each doc's global start.

Everything after (shard arithmetic, span explode) is embarrassingly
parallel column math: floor-division for first/last shard, ``sequence`` +
``explode`` for docs straddling shard boundaries (a doc spans at most
``n/ctx + 1`` shards, so the explode factor is bounded by data size over
shard size — no blowup).

No reference analog (the reference is an index library); this is a
training-data-pipeline primitive over the same corpus tables.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from invertedfiles_jl_spark.config import IndexConfig
from invertedfiles_jl_spark.functions.tokenize import tokens_sql


def token_counts(corpus: DataFrame, cfg: IndexConfig | None = None,
                 content_col: str = "content") -> DataFrame:
    """(doc_id, n_tokens) under the engine's tokenizer — the packing input.
    Zero-token docs are kept here (callers see them); packing skips them."""
    cfg = cfg or IndexConfig()
    return corpus.select(
        "doc_id",
        F.size(F.expr(tokens_sql(content_col, cfg))).cast("long").alias("n_tokens"),
    )


def global_starts(counts: DataFrame, num_ranges: int | None = None) -> DataFrame:
    """(doc_id, n_tokens, start) — each doc's global token offset in
    doc_id order, via the two-level scan described in the module docstring.
    ``start`` of doc d = Σ n_tokens over all docs with smaller doc_id."""
    spark = counts.sparkSession
    p = num_ranges or spark.sparkContext.defaultParallelism
    ranged = counts.repartitionByRange(p, F.col("doc_id")).withColumn(
        "_pid", F.spark_partition_id())
    totals = {r["_pid"]: r["s"] for r in
              ranged.groupBy("_pid").agg(F.sum("n_tokens").alias("s")).collect()}
    offsets, acc = {}, 0
    for pid in sorted(totals):
        offsets[pid] = acc
        acc += totals[pid]
    off = (F.create_map(*[F.lit(x) for kv in offsets.items() for x in kv])
           if offsets else F.create_map())
    w = (Window.partitionBy("_pid").orderBy("doc_id")
         .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    return ranged.withColumn(
        "start", off[F.col("_pid")] + F.sum("n_tokens").over(w) - F.col("n_tokens")
    ).drop("_pid")


def pack_sequences(corpus: DataFrame, ctx: int, cfg: IndexConfig | None = None,
                   content_col: str = "content",
                   num_ranges: int | None = None) -> DataFrame:
    """The packing manifest: (shard_id, doc_id, begin_tok, end_tok,
    offset_in_shard), one row per (doc, shard it touches), shards cut every
    ``ctx`` tokens of the doc_id-ordered concatenation.  Zero-token docs
    emit no rows."""
    if ctx <= 0:
        raise ValueError("ctx must be positive")
    starts = global_starts(token_counts(corpus, cfg, content_col),
                           num_ranges).filter(F.col("n_tokens") > 0)
    s, n = F.col("start"), F.col("n_tokens")
    first = F.floor(s / ctx)
    last = F.floor((s + n - 1) / ctx)
    sh = F.col("shard_id")
    return (
        starts
        .withColumn("shard_id", F.explode(F.sequence(first, last)))
        .select(
            "shard_id",
            "doc_id",
            F.greatest(F.lit(0), sh * ctx - s).alias("begin_tok"),
            F.least(n, (sh + 1) * ctx - s).alias("end_tok"),
            F.greatest(F.lit(0), s - sh * ctx).alias("offset_in_shard"),
        )
    )


def chunk_documents(corpus: DataFrame, window: int, stride: int,
                    cfg: IndexConfig | None = None,
                    content_col: str = "content") -> DataFrame:
    """Sliding-window document chunking — the RAG / long-context
    preprocessing step: split each doc's token stream into chunks of
    ``window`` tokens advancing by ``stride`` (overlap = window − stride).

    Returns (doc_id, chunk_idx, begin_tok, chunk_len, chunk_sha256) where
    ``begin_tok = chunk_idx · stride`` (0-based token offset),
    ``chunk_len = min(window, n_tokens − begin_tok)``, and ``chunk_sha256``
    is the digest of the chunk's tokens re-joined with single spaces (the
    canonical form — deterministic across engines regardless of the
    original whitespace).  Chunk count per doc is
    ``1 + ceil(max(0, n − window) / stride)``: every token is covered, the
    final chunk is the only one allowed to be short, and a short trailing
    remainder that is fully contained in the previous window does NOT
    produce an extra all-overlap chunk.  Zero-token docs emit no rows.

    Scale shape: tokenize once per doc (the same split the index build
    uses), then pure column math — ``sequence`` + ``explode`` bounded by
    n/stride per doc, ``slice`` + ``array_join`` + ``sha2`` all inside
    whole-stage codegen.  No shuffle at all: the operator is a flatMap in
    relational clothing, so it scales with input bytes and parallelizes by
    file split regardless of corpus size."""
    if not (window >= 1 and 1 <= stride <= window):
        raise ValueError("need 1 <= stride <= window")
    cfg = cfg or IndexConfig()
    from invertedfiles_jl_spark.functions.tokenize import tokens_sql

    toks = corpus.select(
        "doc_id", F.expr(tokens_sql(content_col, cfg)).alias("toks"))
    toks = toks.withColumn("n", F.size("toks")).filter(F.col("n") > 0)
    n_chunks = (
        F.lit(1)
        + F.ceil(F.greatest(F.col("n") - window, F.lit(0)) / F.lit(stride))
    ).cast("int")
    out = toks.select(
        "doc_id", "toks", "n",
        F.explode(F.sequence(F.lit(0), n_chunks - 1)).alias("chunk_idx"))
    begin = (F.col("chunk_idx").cast("long") * stride).alias("begin_tok")
    chunk_len = F.least(F.lit(window).cast("long"),
                        F.col("n") - F.col("chunk_idx") * stride)
    piece = F.slice(F.col("toks"), F.col("chunk_idx") * stride + 1, window)
    return out.select(
        "doc_id",
        F.col("chunk_idx").cast("int").alias("chunk_idx"),
        begin,
        chunk_len.cast("long").alias("chunk_len"),
        F.sha2(F.array_join(piece, " "), 256).alias("chunk_sha256"),
    )
