"""Index construction — the Spark re-expression of ``append_items!``.

Reference semantics being reproduced (see SURVEY.md §3.1):
  * ``append_items!`` / ``parallel_append!`` (/root/reference/src/invfile.jl:102-187)
    — bulk parallel build: per-doc ``(tokenID, weight)`` streams appended to
    per-term lists, then every posting list sorted by docID.
  * tol / sentinel filters (/root/reference/src/invfile.jl:152-153).
  * ``sizes[objID] = nnz``  (/root/reference/src/invfile.jl:154) → ``docs.nnz``.
  * weighted postings carry ``IdWeight`` (/root/reference/src/winvfile.jl:45-47),
    binary postings carry bare ids (/root/reference/src/binvfile.jl:60-62).

Spark-first design, one shuffle per stage boundary:

  corpus ──repartition(doc_id)──▶                                  shuffle 1 (compact doc rows)
         ──(JVM tokenize + explode)──▶ (doc_id, term)              narrow
         ──groupBy(doc_id, term).count()──▶ tf                     NO exchange (doc_id-clustered)
  tf     ──groupBy(doc_id)──▶ docs(doc_len, nnz, norm, sha)        shuffle 2 (post-partial: 1 row/doc)
  tf     ──groupBy(term)──▶ vocab(term, df, cf)                    shuffle 3 (post-partial: vocab-sized)
  tf ⋈ broadcast(hot_terms) ──groupBy(term, salt)
         .agg(sorted posting arrays)──▶ postings                   shuffle 4 (the one big exchange)
  docs   ──compute_stats──▶ (n_docs, avgdl, doc-id range)           the one collect

At 100 TB: every aggregation is partial+final (map-side combine), the only
wide rows are hot-term posting arrays, which salting caps at
``df/salt_buckets`` entries; AQE skew-join handles residual skew.  No window
over a global ordering, no collect() of anything larger than the stats row.
Each stage is independently persistable — ``plans.pipeline`` checkpoints them
for the resumable build the north rule requires.

Every write path shares this module's two decisions: the scalar statistics
(:func:`compute_stats` — the staged build, the vector build and the
``append_documents`` delta call it) and the posting-list layout
(:func:`posting_lists` / :func:`list_columns` — the build, the append
merge, ``sharded.shard_postings`` and ``maintenance.delete_documents``
use it).
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from invertedfiles_jl_spark.config import IndexConfig


@dataclass
class InvertedIndex:
    """Handle bundling the four tables of a built index.

    The index stores no documents — like the reference
    (``database(idx) = nothing``, /root/reference/src/invfile.jl:20) the
    corpus stays a separate table; ``docs`` here is per-doc *statistics*.
    """

    docs: DataFrame      # doc_id, doc_len, nnz, norm, content_sha256
    vocab: DataFrame     # term, term_id, df, cf
    postings: DataFrame  # term_id, salt, df_part, doc_ids|ids_vb, weights, max_weight, block_max
    stats: dict          # n_docs, avg_doc_len
    cfg: IndexConfig

    @property
    def n_docs(self) -> int:
        return self.stats["n_docs"]


def term_id_sql(term: str = "term") -> str:
    """Stable 64-bit term id of the ``term`` column, as a SQL expression:
    xxhash64 — computed inline, no dictionary join, no global row_number
    (which would single-partition a 10^9-term vocabulary).  Collisions
    merge two posting lists with probability ~n²/2⁶⁵ — negligible quality
    impact at corpus scale, zero at test scale.

    Non-string term columns (the pre-vectorized input path hands integer
    dimension ids) are cast to string first so every derivation site —
    vocab, postings, query terms — produces the same id for the same term.
    """
    return f"xxhash64(CAST({term} AS STRING))"


def term_id_col(term: str = "term") -> Column:
    """:func:`term_id_sql` as a Column."""
    return F.expr(term_id_sql(term))


def with_term_id(df: DataFrame) -> DataFrame:
    """Replace the string ``term`` with the fixed-width ``term_id`` BEFORE
    the posting shuffle: the big exchange and the postings table carry an
    8-byte key instead of a variable-width string (the string survives only
    in ``vocab``, the human-facing dimension table).  No-op when the input
    already carries ``term_id`` (the tf stage precomputes it so the postings
    stage's scan can prune the string column entirely)."""
    if "term_id" in df.columns:
        return df.drop("term") if "term" in df.columns else df
    return df.withColumn("term_id", term_id_col("term")).drop("term")


# ---------------------------------------------------------------------------
# composable stages (each consumed standalone by plans.pipeline checkpoints)
# ---------------------------------------------------------------------------


def doc_term_freqs(corpus: DataFrame, cfg: IndexConfig,
                   doc_col: str = "doc_id", content_col: str = "content") -> DataFrame:
    """corpus → (doc_id, term, tf) with ONE exchange of raw documents and
    ZERO exchange of exploded tokens.

    Every token of a document lives in the document's own row, so after
    ``repartition(doc_id)`` the ``groupBy(doc_id, term)`` needs no further
    exchange: ``HashPartitioning(doc_id)`` satisfies the aggregation's
    ``ClusteredDistribution(doc_id, term)`` and Catalyst plans the agg in
    the same stage as the explode.  The alternative (explode first, shuffle
    (doc_id, term) pairs) moves ~100× more rows than documents; shuffling
    the compact document rows instead is strictly less traffic (measured
    25% faster at equal parallelism).  Tokenize+explode+agg stay entirely
    inside WholeStageCodegen (``exploded_terms`` — no higher-order-function
    fallback)."""
    from invertedfiles_jl_spark.functions.tokenize import exploded_terms

    corpus = corpus.repartition(F.col(doc_col))
    toks = exploded_terms(corpus, "doc_id", doc_col, content_col, cfg)
    tf = toks.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    # precompute the fixed-width join key here: the persisted tf table then
    # serves the postings stage with a string-free column-pruned scan
    # (doc_id, term_id, tf) — the string column is decoded only by the
    # vocab stage, the one consumer that needs it
    return tf.withColumn("term_id", term_id_col("term"))


def doc_terms(docs: DataFrame, cfg: IndexConfig,
              content_col: str = "content") -> DataFrame:
    """(doc_id, term, tf, term_id, doc_len) — :func:`doc_term_freqs` plus
    each doc's length as a window sum of its tf.  The window partitions on
    the doc_id that ``doc_term_freqs`` already hash-partitions on, so it
    adds no exchange.  The doc side of both percolators."""
    return doc_term_freqs(docs, cfg, "doc_id", content_col).selectExpr(
        "*", "sum(tf) OVER (PARTITION BY doc_id) AS doc_len")


def bm25_sat(cfg: IndexConfig, avgdl: float, tf: str = "tf") -> str:
    """BM25's saturated, length-normalised tf as a SQL expression:
    ``tf·(k1+1) / (tf + k1·((1−b) + b·doc_len/avgdl))`` over the ``tf``
    and ``doc_len`` columns, with k1/b from ``cfg`` and a frozen ``avgdl``.
    The one JVM-side spelling: the bm25 build weight, federated scoring
    and both percolators call it (association fixed, so stored weights
    stay bit-identical)."""
    k1, b = float(cfg.bm25_k1), float(cfg.bm25_b)
    return (f"({tf} * {k1 + 1.0!r}D / ({tf} + {k1!r}D * ({1.0 - b!r}D"
            f" + {b!r}D * doc_len / {float(avgdl)!r}D)))")


def docs_table(tf: DataFrame, corpus: DataFrame,
               doc_col: str = "doc_id", content_col: str = "content") -> DataFrame:
    """Per-doc stats: doc_len, nnz (the reference's ``sizes``), L2 norm of
    the tf vector, and the input_hint sha256 integrity column."""
    agg = tf.groupBy("doc_id").agg(
        F.sum("tf").alias("doc_len"),
        F.count(F.lit(1)).alias("nnz"),
        F.sqrt(F.sum(F.col("tf") * F.col("tf"))).alias("norm"),
    )
    sha = corpus.select(
        F.col(doc_col).alias("doc_id"),
        F.sha2(F.col(content_col).cast("binary"), 256).alias("content_sha256"),
    )
    return agg.join(sha, "doc_id", "right").fillna(
        {"doc_len": 0, "nnz": 0, "norm": 0.0}
    )


def vocab_table(tf: DataFrame) -> DataFrame:
    return tf.groupBy("term").agg(
        F.count(F.lit(1)).alias("df"),
        F.sum("tf").alias("cf"),
    ).withColumn("term_id", term_id_col("term"))


def compute_stats(docs: DataFrame) -> dict:
    """The index's scalar statistics — n_docs, avg_doc_len and the doc-id
    range — from ONE aggregate job over the per-doc table, which has
    exactly one row per document.  The one scalar collect every build path
    shares: ``build_index``, ``build_checkpointed``, ``build_vector_index``
    and the ``append_documents`` delta."""
    row = docs.select(
        F.count(F.lit(1)).alias("n"),
        F.avg("doc_len").alias("avgdl"),
        F.min("doc_id").alias("lo"),
        F.max("doc_id").alias("hi"),
    ).collect()[0]
    return {
        "n_docs": int(row["n"]),
        "avg_doc_len": float(row["avgdl"] or 0.0),
        "min_doc_id": int(row["lo"]) if row["lo"] is not None else 0,
        "max_doc_id": int(row["hi"]) if row["hi"] is not None else 0,
    }


def doc_range(stats: dict) -> tuple[int, int]:
    """The doc-id interval the salted/sharded layouts bucket over.  Legacy
    stats dicts (pre-range persisted indexes) fall back to the dense
    ``[0, n_docs)`` contract they were built under."""
    lo = stats.get("min_doc_id")
    hi = stats.get("max_doc_id")
    if lo is None or hi is None:
        return 0, max(int(stats["n_docs"]) - 1, 0)
    return int(lo), int(hi)


def weighted_pairs(tf: DataFrame, docs: DataFrame, stats: dict, cfg: IndexConfig) -> DataFrame:
    """(doc_id, term, weight) with the scheme's document weight folded in.

    bm25 folds the query-independent saturated length-normalized tf at build
    time; normcosine stores tf/‖tf‖ (the reference assumes pre-normalized
    vectors, /root/reference/src/winvfile.jl:8-9); binary stores weight 1
    (weights dropped, /root/reference/src/binvfile.jl:60-62).
    """
    wt = cfg.weight_dtype
    # prefer the precomputed fixed-width key: the tf scan then prunes the
    # string column entirely (ReadSchema without `term`)
    key = "term_id" if "term_id" in tf.columns else "term"
    if cfg.weighting == "binary":
        weighted = tf.select("doc_id", key, F.lit(1.0).cast(wt).alias("weight"))
    elif cfg.weighting == "tf":
        # raw term frequency — the scheme-agnostic store used by scorers
        # whose document weight is NOT query-independent-foldable (LM
        # Dirichlet needs tf and doc_len separately; SMART lnc needs the
        # log-tf norm).  Same postings layout, weight column = tf.
        weighted = tf.select("doc_id", key, F.col("tf").cast(wt).alias("weight"))
    elif cfg.weighting == "normcosine":
        weighted = tf.join(docs.select("doc_id", "norm"), "doc_id").select(
            "doc_id", key,
            (F.col("tf") / F.col("norm")).cast(wt).alias("weight"),
        )
    elif cfg.weighting == "bm25":
        sat = bm25_sat(cfg, stats["avg_doc_len"] or 1.0)
        weighted = tf.join(docs.select("doc_id", "doc_len"), "doc_id").selectExpr(
            "doc_id", key, f"CAST({sat} AS {wt}) AS weight")
    else:
        raise ValueError(f"unknown weighting {cfg.weighting!r}")
    # tol pruning at build, like /root/reference/src/invfile.jl:152
    return weighted.filter(F.col("weight") >= F.lit(float(cfg.tol)))


def salted_pairs(weighted: DataFrame, hot_terms: DataFrame,
                 doc_lo: int, doc_hi: int, cfg: IndexConfig) -> DataFrame:
    """Attach the hot-term salt column to flat (term_id, doc_id, weight)
    rows (callers convert string terms via :func:`with_term_id` first).

    Hot-term salting is doc-RANGE-disjoint (not hash): bucket =
    ⌊(doc_id−lo)·S/(hi−lo+1)⌋ over the MEASURED id range carried in stats
    (:func:`doc_range`), so per-bucket sorted sub-lists concatenate in
    bucket order into one globally doc-sorted list — the invariant
    delta-gap encoding and the k-way merge both need.  Bucketing over the
    measured range keeps offset-dense corpora (incremental deltas) and
    uniformly hash-assigned ids balanced; ids OUTSIDE the recorded range
    (stale stats, layout drift) raise loudly in :func:`range_bucket`.
    """
    return (
        weighted.join(F.broadcast(hot_terms.select("term_id", F.lit(True).alias("is_hot"))),
                      "term_id", "left")
        .withColumn(
            "salt",
            F.when(
                F.col("is_hot").isNotNull(),
                range_bucket(cfg.salt_buckets, doc_lo, doc_hi),
            ).otherwise(F.lit(0)),
        )
        .drop("is_hot")
    )


def range_bucket(n_buckets: int, doc_lo: int, doc_hi: int) -> F.Column:
    """⌊(doc_id−lo)·n/(hi−lo+1)⌋ with a loud failure on ids outside the
    recorded [lo, hi] range: such an id means the stats the layout was
    computed against no longer describe the data (drift between a persisted
    stats.json and the postings, or a merge that skipped re-salting) and the
    doc would land in a clamped bucket — raise instead of silently
    mis-bucketing."""
    span = max(int(doc_hi) - int(doc_lo) + 1, 1)
    raw = ((F.col("doc_id") - F.lit(int(doc_lo))) * n_buckets / F.lit(span)).cast("int")
    return F.when(
        (F.col("doc_id") >= F.lit(int(doc_lo))) & (F.col("doc_id") <= F.lit(int(doc_hi))),
        F.least(raw, F.lit(n_buckets - 1)),
    ).otherwise(
        F.raise_error(F.concat(
            F.lit(f"doc_id outside the indexed range [{int(doc_lo)}, {int(doc_hi)}] "
                  "recorded in stats (salted/sharded layouts bucket over that "
                  "range; rebuild stats or re-salt after changing doc ids): "),
            F.col("doc_id").cast("string"),
        )).cast("int")
    )


def list_columns(plist: str, block_size: int) -> list[str]:
    """The posting-list columns of a doc-sorted ``array<struct<doc_id,
    weight>>`` column, as SQL: ``doc_ids``, ``weights``, the list max and
    the per-block ``block_max`` (max weight of each ``block_size``-entry
    block — Ding & Suel BMW 2011 skip data)."""
    bs = int(block_size)
    return [
        f"{plist}.doc_id AS doc_ids",
        f"{plist}.weight AS weights",
        f"array_max({plist}.weight) AS max_weight",
        f"transform(sequence(0, int((size({plist}) - 1) / {bs})), "
        f"b -> array_max(slice({plist}.weight, b * {bs} + 1, {bs}))) AS block_max",
    ]


def posting_lists(rows: DataFrame, keys: list[str], block_size: int,
                  *aggs: Column) -> DataFrame:
    """(keys…, doc_id, weight) rows → one doc-sorted posting list per key:
    ``(keys…, aggs…, doc_ids, weights, max_weight, block_max)``.  The one
    posting-list layout — the build, the merge and the shard re-layout
    group through it."""
    grouped = rows.groupBy(*keys).agg(
        *aggs, F.sort_array(F.collect_list(F.struct("doc_id", "weight"))).alias("plist"))
    return grouped.selectExpr(*grouped.columns[:-1], *list_columns("plist", block_size))


def grouped_postings(salted: DataFrame, cfg: IndexConfig) -> DataFrame:
    """(term_id, salt, doc_id, weight) rows → doc-sorted posting-list rows
    with ``df_part`` and the list/block bounds of :func:`posting_lists`,
    plus delta-gap varbyte compression when configured.  The posting table
    carries NO term string — join ``vocab`` on ``term_id`` to recover it."""
    postings = posting_lists(salted, ["term_id", "salt"], cfg.block_size,
                             F.count(F.lit(1)).alias("df_part"))
    if cfg.compress:
        from invertedfiles_jl_spark.operators.codec import compress_postings

        postings = compress_postings(postings)
    return postings


def postings_table(weighted: DataFrame, vocab: DataFrame, stats: dict,
                   cfg: IndexConfig) -> DataFrame:
    """Salted group-agg into doc-sorted posting lists, keyed on term_id."""
    hot = vocab.filter(F.col("df") > cfg.salt_df_threshold)
    lo, hi = doc_range(stats)
    return grouped_postings(
        salted_pairs(with_term_id(weighted), hot, lo, hi, cfg), cfg
    )


def build_index(
    corpus: DataFrame,
    cfg: IndexConfig | None = None,
    doc_col: str = "doc_id",
    content_col: str = "content",
) -> InvertedIndex:
    """Build the full index from a corpus DataFrame with a long ``doc_id``
    and a string content column.  Returns lazily-planned DataFrames; use
    ``plans.pipeline.build_checkpointed`` for the persisted/resumable path.
    """
    cfg = cfg or IndexConfig()
    tf = doc_term_freqs(corpus, cfg, doc_col, content_col)
    docs = docs_table(tf, corpus, doc_col, content_col)
    vocab = vocab_table(tf)
    stats = compute_stats(docs)
    weighted = weighted_pairs(tf, docs, stats, cfg)
    postings = postings_table(weighted, vocab, stats, cfg)
    return InvertedIndex(docs=docs, vocab=vocab, postings=postings, stats=stats, cfg=cfg)
