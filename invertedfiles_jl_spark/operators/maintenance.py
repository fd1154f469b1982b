"""Index maintenance — document deletion and posting-list pruning.

The reference is append-only (``push_item!``/``append_items!``,
/root/reference/src/invfile.jl:102-147 — no delete, no compaction); these
are the engine's production-maintenance extensions.

Statistics contract (Lucene parity): both operations leave the SCORING
statistics frozen — ``stats`` (N, avgdl) and ``vocab`` (df for idf) keep
their as-built values until the next full rebuild, exactly like tombstoned
segments count toward collection statistics until a merge.  Consequences
the oracles pin down: after ``delete_documents``, BM25 over the index
equals full-corpus BM25 restricted to the surviving docs (the accept-set
semantics of ``search._accept``); after ``prune_postings``, queries simply
never match pruned terms while surviving scores are unchanged.

Scale design:
  * ``delete_documents`` is a MAP-ONLY pass over the postings table — zero
    shuffle.  The delete batch is a bounded maintenance batch (same driver-
    side contract as a query batch); it becomes an array literal and each
    posting row rewrites itself with ``filter()`` over its zipped entries.
    Rows whose doc range cannot contain a deleted id short-circuit through
    ``arrays_overlap`` and pass through untouched — at 100 TB a delete of B
    docs rewrites only the lists that contain them and merely scans the
    rest.  Deletes larger than ``MAX_DELETE_BATCH`` should chunk or rebuild
    (a rebuild re-centers statistics anyway).
  * ``prune_postings`` is one term_id-keyed join (postings ⋈ vocab df) plus
    a filter — both tables are term-keyed, so AQE plans a co-partitioned
    join; no array is rewritten.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from invertedfiles_jl_spark.operators.build import InvertedIndex, list_columns
from invertedfiles_jl_spark.operators.search import decode_ids, stored_ids_col

MAX_DELETE_BATCH = 100_000


def delete_documents(index: InvertedIndex, delete_ids: DataFrame | list,
                     max_batch: int = MAX_DELETE_BATCH) -> InvertedIndex:
    """Remove documents from the index in one map-only postings pass.

    ``delete_ids`` — a list of doc ids or a DataFrame with a ``doc_id``
    column (collected; a delete batch is driver-bounded like a query
    batch).  Ids not present in the index are ignored.  Returns a new
    handle: postings with the deleted entries filtered out of every list
    (lists that empty out are dropped; ``df_part``/``max_weight``/
    ``block_max`` recomputed for touched lists only), ``docs`` anti-joined,
    ``stats``/``vocab`` frozen (see module docstring).  A compressed index
    decodes every posting row once and re-encodes every surviving row:
    the codec is a pandas UDF, which runs over every row of the operator
    it is planned in, so encoding only the touched rows would take a
    second pass over the postings.
    """
    if isinstance(delete_ids, DataFrame):
        ids = sorted({r[0] for r in delete_ids.select("doc_id").distinct().collect()})
    else:
        ids = sorted(set(int(i) for i in delete_ids))
    if not ids:
        return index
    if len(ids) > max_batch:
        raise ValueError(
            f"delete batch of {len(ids)} exceeds max_batch={max_batch}; "
            "chunk the delete or rebuild (a rebuild re-centers statistics)")
    dels = F.lit(ids)

    compressed = stored_ids_col(index.postings) == "ids_vb"
    p = decode_ids(index.postings)

    # entries as struct(doc_id, weight): the element shape of the build's
    # posting lists, so the bounds come from the same build.list_columns
    zipped = F.arrays_zip(F.col("doc_ids").alias("doc_id"),
                          F.col("weights").alias("weight"))
    touched = F.arrays_overlap(F.col("doc_ids"), dels)
    kept = F.when(touched, F.filter(
        zipped, lambda e: ~F.array_contains(dels, e["doc_id"]))
    ).otherwise(zipped)
    # lists that empty out drop by exploding a zero-or-one-element array,
    # not by a Filter: Catalyst would copy `kept` (and the Python decode
    # under it) into a pushed-down filter and decode every row twice
    p = (
        p.select("term_id", "salt", F.explode(
            F.when(F.size(kept) > 0, F.array(kept))).alias("kept"))
        .selectExpr("term_id", "salt", "size(kept) AS df_part",
                    *list_columns("kept", index.cfg.block_size))
    )
    if compressed:
        from invertedfiles_jl_spark.operators.codec import compress_postings

        p = compress_postings(p)

    docs = index.docs.filter(~F.col("doc_id").isin(ids))
    return InvertedIndex(docs=docs, vocab=index.vocab, postings=p,
                         stats=index.stats, cfg=index.cfg)


def prune_postings(index: InvertedIndex, min_df: int | None = None,
                   max_df: int | None = None,
                   max_df_ratio: float | None = None) -> InvertedIndex:
    """Drop posting lists by document frequency — stopword removal
    (``max_df`` / ``max_df_ratio`` of N) and rare-term compaction
    (``min_df``) as a serving-layout operation.

    One term_id join against vocab's df; surviving lists are byte-unchanged
    (weights were folded at build time and statistics are frozen, so
    surviving scores are identical — the oracle contract).
    """
    if max_df_ratio is not None:
        cap = int(max_df_ratio * index.stats["n_docs"])
        max_df = cap if max_df is None else min(max_df, cap)
    cond = F.lit(True)
    if min_df is not None:
        cond = cond & (F.col("df") >= min_df)
    if max_df is not None:
        cond = cond & (F.col("df") <= max_df)
    keep_terms = index.vocab.filter(cond).select("term_id")
    postings = index.postings.join(keep_terms, "term_id", "left_semi")
    return InvertedIndex(docs=index.docs, vocab=index.vocab, postings=postings,
                         stats=index.stats, cfg=index.cfg)
