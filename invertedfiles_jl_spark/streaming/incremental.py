"""Incremental append — the reference's ``push_item!`` re-expressed as
micro-batch merge (/root/reference/src/invfile.jl:123-147: insert pairs,
re-sort touched posting lists, append to sizes).

The reference mutates in place (single insert, not thread-safe); the Spark
analog builds a delta index from the new documents and merges posting lists
with the persisted index:  old ∪ delta exploded → regroup → re-sorted lists.
Only TOUCHED terms regroup (untouched posting rows pass through unchanged),
so the merge cost scales with the delta's term footprint, not the index size.
A Structured-Streaming source can drive this via foreachBatch.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from invertedfiles_jl_spark.config import IndexConfig
from invertedfiles_jl_spark.operators.build import (
    InvertedIndex,
    build_index,
)


def merge_indexes(old: InvertedIndex, delta: InvertedIndex) -> InvertedIndex:
    """Merge two indexes over disjoint doc_id sets (caller guarantees
    disjointness, like the reference's explicit objID contract,
    /root/reference/src/invfile.jl:136).

    Touched terms are RE-salted against the MERGED doc range and hot set —
    old salts were computed against the old max_doc, so reusing them would
    break the doc-range-disjoint sub-list invariant that delta-gap encoding
    and bucket-order concatenation rely on.  Untouched rows keep their old
    salts (their sub-lists are unchanged, hence still range-disjoint).
    Block-max metadata is recomputed for remerged lists by
    ``grouped_postings``.
    """
    cfg = old.cfg
    if cfg.weighting != delta.cfg.weighting:
        raise ValueError(f"cannot merge a {delta.cfg.weighting} delta into a "
                         f"{cfg.weighting} index")

    from invertedfiles_jl_spark.operators.build import (
        doc_range,
        grouped_postings,
        salted_pairs,
        term_id_col,
    )
    from invertedfiles_jl_spark.operators.search import read_postings

    touched = delta.postings.select("term_id").distinct()

    untouched = old.postings.join(F.broadcast(touched), "term_id", "left_anti")
    to_merge = old.postings.join(F.broadcast(touched), "term_id", "semi").unionByName(
        delta.postings, allowMissingColumns=True
    )
    exploded = read_postings(to_merge, "term_id")

    docs = old.docs.unionByName(delta.docs)
    vocab = (
        old.vocab.unionByName(delta.vocab)
        .groupBy("term")
        .agg(F.sum("df").alias("df"), F.sum("cf").alias("cf"))
        .withColumn("term_id", term_id_col("term"))
    )
    n = old.stats["n_docs"] + delta.stats["n_docs"]

    # merged id range = envelope of both sides — touched terms re-salt
    # against it so their sub-lists stay doc-range-disjoint
    olo, ohi = doc_range(old.stats)
    dlo, dhi = doc_range(delta.stats)
    lo, hi = min(olo, dlo), max(ohi, dhi)
    hot = vocab.filter(F.col("df") > cfg.salt_df_threshold)
    remerged = grouped_postings(salted_pairs(exploded, hot, lo, hi, cfg), cfg)
    postings = untouched.unionByName(remerged, allowMissingColumns=True)

    old_len = (old.stats["avg_doc_len"] or 0.0) * old.stats["n_docs"]
    new_len = (delta.stats["avg_doc_len"] or 0.0) * delta.stats["n_docs"]
    stats = {"n_docs": n, "avg_doc_len": (old_len + new_len) / max(n, 1),
             "min_doc_id": lo, "max_doc_id": hi}
    return InvertedIndex(docs=docs, vocab=vocab, postings=postings, stats=stats, cfg=cfg)


def append_documents(old: InvertedIndex, new_corpus: DataFrame,
                     doc_col: str = "doc_id", content_col: str = "content") -> InvertedIndex:
    """append_items! over an existing index: build the delta with the SAME
    config, then merge.

    NOTE (bm25): the stored saturated tf depends on the avgdl at build time;
    after appending, stored weights keep their original avgdl (exactly like
    any real incremental BM25 index — full rebuilds re-center the statistics;
    pytest covers the normcosine/binary paths where weights are
    append-invariant).
    """
    delta = build_index(new_corpus, old.cfg, doc_col, content_col)
    if old.cfg.weighting == "bm25":
        # recompute delta weights under the OLD avgdl for consistency
        from invertedfiles_jl_spark.operators.build import (
            doc_term_freqs,
            docs_table,
            postings_table,
            vocab_table,
            weighted_pairs,
        )

        tf = doc_term_freqs(new_corpus, old.cfg, doc_col, content_col)
        docs = docs_table(tf, new_corpus, doc_col, content_col)
        vocab = vocab_table(tf)
        stats = dict(delta.stats, avg_doc_len=old.stats["avg_doc_len"])
        weighted = weighted_pairs(tf, docs, stats, old.cfg)
        delta = InvertedIndex(
            docs=docs, vocab=vocab,
            postings=postings_table(weighted, vocab, stats, old.cfg),
            stats=delta.stats, cfg=old.cfg,
        )
    return merge_indexes(old, delta)


def stream_append(spark: SparkSession, stream_df: DataFrame, index_path: str,
                  cfg: IndexConfig, checkpoint: str):
    """Structured-Streaming driver: micro-batches of new documents merged
    into the persisted index via foreachBatch (each batch = one
    ``append_documents`` + checkpointed rewrite).  The reference has no
    streaming; this is the engine's micro-batch analog of repeated
    ``push_item!``."""
    from invertedfiles_jl_spark.plans.pipeline import load_index

    def handle(batch_df: DataFrame, batch_id: int):
        if not batch_df.take(1):
            return
        old = load_index(spark, index_path)
        merged = merge_indexes(old, build_index(batch_df, cfg))
        tmp = index_path + f".batch{batch_id}"
        merged.postings.write.mode("overwrite").parquet(os.path.join(tmp, "postings"))
        merged.docs.write.mode("overwrite").parquet(os.path.join(tmp, "docs"))
        merged.vocab.write.mode("overwrite").parquet(os.path.join(tmp, "vocab"))
        for name in ("postings", "docs", "vocab"):
            final = os.path.join(index_path, name)
            spark.read.parquet(os.path.join(tmp, name)).write.mode("overwrite").parquet(final)
        with open(os.path.join(index_path, "index.json")) as f:
            meta = json.load(f)
        meta["stats"] = merged.stats
        with open(os.path.join(index_path, "index.json"), "w") as f:
            json.dump(meta, f, indent=1, sort_keys=True, default=str)

    return (
        stream_df.writeStream.foreachBatch(handle)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )


def append_positional(positional, new_corpus, cfg=None,
                      doc_col: str = "doc_id", content_col: str = "content"):
    """``push_item!`` for the positional table: positional rows are
    doc-keyed (each (term, doc) row is fully determined by its own
    document), so appending documents is a pure UNION of the new docs'
    rows — no merge, no stats re-centering, byte-equal to a rebuild over
    the combined corpus (pytest-gated).  Same objID discipline as
    :func:`append_documents`: each doc arrives whole, once."""
    from invertedfiles_jl_spark.operators.positional import positional_postings

    delta = positional_postings(new_corpus, cfg, doc_col, content_col)
    return positional.select(*delta.columns).unionByName(delta)


def streaming_exact_dedup(stream_docs: DataFrame, content_col: str = "content",
                          time_col: str | None = None,
                          watermark: str | None = None) -> DataFrame:
    """First-writer-wins exact dedup over a document stream: only docs whose
    content sha256 has never been seen pass through — the ingestion-side
    twin of ``dedup.exact_duplicates`` (which adjudicates a static corpus
    by keep-min id; a stream has no global min, so the arrival order IS the
    policy).  Composes in front of :func:`stream_append` so an at-least-
    once upstream (re-delivered files, crawler refetches) cannot violate
    the merge contract's each-doc-once requirement.

    State = one row per distinct content hash, managed by Spark's
    streaming-dedup operator (partial aggregation + state store — no
    driver-side set).  Unbounded by default; pass ``time_col`` +
    ``watermark`` (e.g. "1 hour") to bound state via
    ``dropDuplicatesWithinWatermark`` when re-deliveries are known to
    arrive within a window — the standard 100-TB knob, since an unbounded
    seen-set over an infinite stream grows forever by definition.
    """
    if (time_col is None) != (watermark is None):
        raise ValueError(
            "streaming_exact_dedup: time_col and watermark must be supplied "
            "together — passing only one would silently fall back to "
            "UNBOUNDED dedup state, defeating the state-bounding knob "
            f"(got time_col={time_col!r}, watermark={watermark!r})")
    df = stream_docs.withColumn(
        "__h", F.sha2(F.col(content_col).cast("binary"), 256))
    if time_col is not None and watermark is not None:
        df = df.withWatermark(time_col, watermark) \
               .dropDuplicatesWithinWatermark(["__h"])
    else:
        df = df.dropDuplicates(["__h"])
    return df.drop("__h")
