"""Incremental append — the reference's ``push_item!`` re-expressed as
micro-batch merge (/root/reference/src/invfile.jl:123-147: insert pairs,
re-sort touched posting lists, append to sizes).

The reference mutates in place (single insert, not thread-safe); the Spark
analog builds a delta index from the new documents and merges posting lists
with the persisted index:  old ∪ delta exploded → regroup → re-sorted lists.
Only TOUCHED terms regroup (untouched posting rows pass through unchanged),
so the merge cost scales with the delta's term footprint, not the index size.

``stream_append`` drives the same append from a Structured-Streaming source
via foreachBatch: the config comes from the root's ``index.json``, bm25
keeps the frozen avgdl exactly as ``append_documents`` does, and
``pipeline.save_index`` writes every batch — there is no second writer.
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from invertedfiles_jl_spark.operators.build import (
    InvertedIndex,
    compute_stats,
    doc_range,
    doc_term_freqs,
    docs_table,
    postings_table,
    term_id_col,
    vocab_table,
    weighted_pairs,
)
from invertedfiles_jl_spark.operators.search import read_postings


def merge_indexes(old: InvertedIndex, delta: InvertedIndex) -> InvertedIndex:
    """Merge two indexes over disjoint doc_id sets (caller guarantees
    disjointness, like the reference's explicit objID contract,
    /root/reference/src/invfile.jl:136).

    Touched terms are RE-salted against the MERGED doc range and hot set —
    old salts were computed against the old max_doc, so reusing them would
    break the doc-range-disjoint sub-list invariant that delta-gap encoding
    and bucket-order concatenation rely on.  Untouched rows keep their old
    salts (their sub-lists are unchanged, hence still range-disjoint).
    Remerged lists are regrouped, with their block-max metadata, by the
    build's own ``postings_table``.
    """
    cfg = old.cfg
    if cfg.weighting != delta.cfg.weighting:
        raise ValueError(f"cannot merge a {delta.cfg.weighting} delta into a "
                         f"{cfg.weighting} index")

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
    old_len = (old.stats["avg_doc_len"] or 0.0) * old.stats["n_docs"]
    new_len = (delta.stats["avg_doc_len"] or 0.0) * delta.stats["n_docs"]
    stats = {"n_docs": n, "avg_doc_len": (old_len + new_len) / max(n, 1),
             "min_doc_id": min(olo, dlo), "max_doc_id": max(ohi, dhi)}
    postings = untouched.unionByName(postings_table(exploded, vocab, stats, cfg),
                                     allowMissingColumns=True)
    return InvertedIndex(docs=docs, vocab=vocab, postings=postings, stats=stats, cfg=cfg)


def append_documents(old: InvertedIndex, new_corpus: DataFrame,
                     doc_col: str = "doc_id", content_col: str = "content") -> InvertedIndex:
    """append_items! over an existing index: build the delta with the SAME
    config, then merge.

    The delta's stage tables and stats (its own ``compute_stats``: n_docs
    and doc-id range) are planned once; its weights are computed against
    the OLD index's avgdl.  Only bm25 reads avgdl, so for bm25 the stored
    saturated tf of every doc keeps the avgdl the index was built with
    (exactly like any real incremental BM25 index — full rebuilds
    re-center the statistics; normcosine/binary weights are
    append-invariant).
    """
    cfg = old.cfg
    tf = doc_term_freqs(new_corpus, cfg, doc_col, content_col)
    docs = docs_table(tf, new_corpus, doc_col, content_col)
    vocab = vocab_table(tf)
    stats = compute_stats(docs)
    weighted = weighted_pairs(
        tf, docs, dict(stats, avg_doc_len=old.stats["avg_doc_len"]), cfg)
    delta = InvertedIndex(docs=docs, vocab=vocab,
                          postings=postings_table(weighted, vocab, stats, cfg),
                          stats=stats, cfg=cfg)
    return merge_indexes(old, delta)


def stream_append(spark: SparkSession, stream_df: DataFrame, index_path: str,
                  checkpoint: str):
    """Structured-Streaming driver: micro-batches of new documents merged
    into the persisted index root via foreachBatch.  The reference has no
    streaming; this is the engine's micro-batch analog of repeated
    ``push_item!``.

    The root's ``index.json`` is the config: each non-empty batch is
    ``append_documents(load_index(root), batch)`` (so bm25 keeps the
    frozen avgdl exactly as ``append_documents`` does), written by
    ``save_index`` to a sibling temp root that then replaces the root.
    """
    from invertedfiles_jl_spark.plans.pipeline import load_index, save_index

    def handle(batch_df: DataFrame, batch_id: int):
        if not batch_df.take(1):
            return
        tmp, stale = f"{index_path}.batch{batch_id}", f"{index_path}.old"
        # the merged handle reads the old root, so write beside it and swap
        save_index(append_documents(load_index(spark, index_path), batch_df), tmp)
        os.rename(index_path, stale)
        os.rename(tmp, index_path)
        shutil.rmtree(stale)

    return (
        stream_df.writeStream.foreachBatch(handle)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )


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
