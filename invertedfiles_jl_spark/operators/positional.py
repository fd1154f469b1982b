"""Positional postings + exact phrase search.

The reference indexes bag-of-words only (``sparseiterator`` consumes
(term, weight) pairs, /root/reference/src/invfile.jl:53-80 — token order is
gone before the index sees a document).  Phrase queries are this engine's
fulltext extension: the positional table stores, per (term, doc), the sorted
token offsets of every occurrence, and a phrase matches where the offset
sets of its terms align consecutively.

Spark-first design, mirroring ``operators.build`` stage shapes:

  corpus ──repartition(doc_id)──▶                           shuffle 1 (compact doc rows)
         ──posexplode(tokens)──▶ (doc_id, pos, term)        narrow
         ──groupBy(doc_id, term)
             .agg(sort_array(collect_list(pos)))──▶          NO exchange (doc_id-clustered)
  positional(term_id, doc_id, positions, tf)

Phrase search is pure JVM relational algebra — no UDF anywhere:

  phrase terms (query_id, offset, term_id, m)  — broadcast (queries are tiny)
    ⋈ positional on term_id                    — matched rows only, Σ df(term)
    transform(positions, p → p − offset)       — shift each term's offsets
                                                 back to candidate START slots
    groupBy(query_id, doc_id):
      count(*) = m                             — every phrase slot matched
      fold array_intersect over shifted sets   — surviving starts = phrase hits
  phrase_tf = |∩ shifted_i|  →  bounded top-k (score desc, doc_id asc)

A start position p is a phrase occurrence iff term_i occurs at p+i for every
i — i.e. p survives the intersection of every term's shifted offset set.
Duplicate phrase terms ("scan scan") fall out naturally: the same posting
row joins once per offset and contributes one shifted set per slot.  The
positional table holds ONE row per (term_id, doc_id), so each matched
(query, doc, offset) row is unique and a plain count is the number of
distinct slots matched — no distinct-aggregate exchange.

At 100 TB: the positional table is ~2-4× the weighted postings (offsets
instead of one weight), partitioned the same way (term_id-keyed, salting
applies unchanged via ``operators.build.salted_pairs`` semantics if lists
grow hot).  The join moves only matched posting rows; the group-agg is
partial+final; the top-k is the same double WindowGroupLimit as Plan A.  A
rarest-term-first candidate prune (lead the join with the lowest-df term,
semi-join the rest) is the next escape if Σ df of hot phrase terms
dominates — same role the block-max kernel plays for BM25.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from invertedfiles_jl_spark.config import IndexConfig
from invertedfiles_jl_spark.operators.build import term_id_col
from invertedfiles_jl_spark.operators.search import knn_order, rank_cut, topk


def _token_array_sql(content_col: str, cfg: IndexConfig) -> str:
    """Token ARRAY expression whose element indexes are the position
    space — empty tokens are filtered INSIDE the array (one higher-order
    ``filter`` per document row, not per token) so positions match the
    DuckDB oracle's ``list_filter`` indexes exactly.  Post-explode filtering
    would instead keep pre-filter offsets and drift on any input with
    leading/duplicate whitespace."""
    content = f"lower({content_col})" if cfg.lowercase else content_col
    if cfg.tokenizer == "code":
        pat = IndexConfig.CODE_TOKEN_RE.replace("\\", "\\\\")
        return f"regexp_extract_all({content}, '{pat}', 0)"
    return f"filter(split({content}, '\\\\s+'), t -> t != '')"


def exploded_positions(df: DataFrame, doc_out: str, doc_col: str,
                       content_col: str, cfg: IndexConfig) -> DataFrame:
    """(doc_out, pos, term) rows — 0-based token offsets."""
    return df.select(
        F.col(doc_col).alias(doc_out),
        F.posexplode(F.expr(_token_array_sql(content_col, cfg))).alias("pos", "term"),
    )


def positional_postings(corpus: DataFrame, cfg: IndexConfig | None = None,
                        doc_col: str = "doc_id",
                        content_col: str = "content") -> DataFrame:
    """corpus → (term_id, term, doc_id, positions, tf) flat positional
    postings, sorted offsets per (term, doc).

    One exchange of compact document rows (same rationale as
    ``build.doc_term_freqs``): after ``repartition(doc_id)`` the
    ``groupBy(doc_id, term)`` is satisfied by the existing clustering and
    plans in the explode's own stage.  ``term`` (the string) is kept for
    human-facing outputs; serving layouts should prune it and key on the
    fixed-width ``term_id`` like the weighted postings do.
    """
    cfg = cfg or IndexConfig()
    toks = exploded_positions(corpus.repartition(F.col(doc_col)),
                              "doc_id", doc_col, content_col, cfg)
    return (
        toks.groupBy("doc_id", "term")
        .agg(
            F.sort_array(F.collect_list("pos")).alias("positions"),
            F.count(F.lit(1)).alias("tf"),
        )
        .withColumn("term_id", term_id_col("term"))
    )


def phrase_terms(queries: DataFrame, cfg: IndexConfig | None = None,
                 query_col: str = "query_id",
                 content_col: str = "content") -> DataFrame:
    """(query_id, offset, term_id, m) — the phrase's slot table.  ``m`` is
    the phrase length in tokens; a doc must match all m distinct offsets."""
    cfg = cfg or IndexConfig()
    arr = _token_array_sql(content_col, cfg)
    toks = queries.selectExpr(
        f"`{query_col}` AS query_id", f"size({arr}) AS m",
        f"posexplode({arr}) AS (offset, term)")
    return toks.select(
        "query_id", "offset", "m", term_id_col("term").alias("term_id")
    )


def _rarest_slot_candidates(positional: DataFrame, pt: DataFrame,
                            vocab: DataFrame) -> DataFrame:
    """(query_id, doc_id) candidate pairs seeded from each query's
    lowest-df slot (offset asc as the deterministic tie-break).  A complete
    phrase/chain match must contain its rarest term, so a left-semi join
    against these pairs is a pure prune: the downstream shuffle carries
    ≤ m·df_min rows per query instead of Σ df."""
    rarest = rank_cut(pt.join(vocab.select("term_id", "df"), "term_id"), 1,
                      knn_order("df", ascending=True, id_col="offset"),
                      rank="rn", cols=["term_id", "query_id"])
    return positional.join(F.broadcast(rarest), "term_id").select(
        "query_id", "doc_id")


def phrase_topk(positional: DataFrame, queries: DataFrame,
                cfg: IndexConfig | None = None, k: int = 10,
                vocab: DataFrame | None = None) -> DataFrame:
    """Exact phrase top-k: rank docs by ``phrase_tf`` (number of phrase
    occurrences), tie-break doc_id asc — the same ``KnnSorted``
    deterministic-order contract as every other kernel (integer scores, so
    no rank_round is needed).

    Semantics: a doc qualifies iff the phrase occurs at least once with its
    tokens strictly consecutive.  A phrase containing an out-of-vocabulary
    term matches nothing (inner-join slot loss ⇒ n_off < m) — the phrase
    analogue of the empty-Q early return
    (/root/reference/src/invfilesearch.jl:44).

    ``vocab`` — optional (term_id, df) dimension (any built index's vocab):
    enables RAREST-SLOT candidate pruning, the positional analogue of Plan
    B's bound-ordered list processing.  Each phrase seeds its candidate
    (query, doc) pairs from its lowest-df slot only, and the expensive
    group-agg shuffle carries candidates (≤ m·df_min rows per query)
    instead of every slot occurrence (Σ df) — the win when a phrase mixes
    a stopword-grade slot with a rare one.  Output is identical (a phrase
    match must contain its rarest term; pytest-gated equality).
    """
    scored = phrase_matches(positional, queries, cfg, vocab)
    return topk(scored, k, "phrase_tf", ascending=False)


def phrase_matches(positional: DataFrame, queries: DataFrame,
                   cfg: IndexConfig | None = None,
                   vocab: DataFrame | None = None) -> DataFrame:
    """The ungated phrase match set: (query_id, doc_id, phrase_tf) for every
    doc containing each phrase at least once — :func:`phrase_topk` is this
    plus the bounded top-k; :func:`phrase_bm25_topk` re-ranks it by BM25
    and the query-string phrase gate reads its hits.  ``positional`` holds
    one row per (term_id, doc_id) (what :func:`positional_postings`
    builds), so ``count(*)`` per (query, doc) counts distinct matched
    slots."""
    pt = phrase_terms(queries, cfg)
    matched = positional.join(F.broadcast(pt), "term_id").selectExpr(
        "query_id", "doc_id", "m", "offset",
        "transform(positions, p -> p - offset) AS shifted")
    if vocab is not None:
        cand = _rarest_slot_candidates(positional, pt, vocab)
        matched = matched.join(cand, ["query_id", "doc_id"], "left_semi")
    g = matched.groupBy("query_id", "doc_id").agg(
        F.expr("first(m) AS m"), F.expr("count(1) AS n_off"),
        F.expr("collect_list(shifted) AS arrs"))
    return g.filter("n_off = m").selectExpr(
        "query_id", "doc_id",
        "CAST(size(aggregate(slice(arrs, 2, size(arrs) - 1), "
        "element_at(arrs, 1), (acc, x) -> array_intersect(acc, x)))"
        " AS BIGINT) AS phrase_tf").filter("phrase_tf > 0")


def phrase_bm25_topk(index, positional: DataFrame, queries: DataFrame,
                     cfg: IndexConfig | None = None, k: int = 10,
                     rank_round: int | None = None,
                     vocab: DataFrame | None = None) -> DataFrame:
    """Relevance-ranked phrase retrieval (Lucene ``PhraseQuery`` scoring):
    candidates must contain the phrase EXACTLY (``phrase_matches``), and
    are ranked by the BM25 score of the phrase's terms against the
    weighted index — combining both index structures: the positional
    table gates, the postings score.

    Per-query gating is an inner join of two (query_id, doc_id)-aggregated
    candidate sets (both bounded by Σ df of the phrase terms); scores stay
    full-corpus BM25, the phrase gate only shrinks the pool — the
    per-query analogue of filtered retrieval (``_accept``)."""
    from invertedfiles_jl_spark.operators.search import _bm25_scored

    gate = phrase_matches(positional, queries, cfg, vocab)
    scored = _bm25_scored(index, queries, with_matches=False)
    ranked = scored.join(gate.select("query_id", "doc_id"),
                         ["query_id", "doc_id"])
    return topk(ranked, k, "score", ascending=False, rank_round=rank_round)


def proximity_topk(positional: DataFrame, queries: DataFrame,
                   cfg: IndexConfig | None = None, k: int = 10,
                   max_span: int | None = None,
                   vocab: DataFrame | None = None) -> DataFrame:
    """Ordered proximity top-k — the sloppy-phrase analogue of
    :func:`phrase_topk`.  A doc matches iff its tokens contain the query's
    terms IN ORDER at strictly increasing positions p_0 < … < p_{m-1};
    score = ``min_span`` = min over such chains of ``p_{m-1} − p_0``
    (``max_span`` optionally bounds it).  Rank: min_span ASC, doc_id ASC —
    the KnnSorted contract with integer scores.  Exact phrase is the
    ``max_span = m−1`` special case (m strictly increasing ints spanning
    ≤ m−1 are consecutive; pytest-gated equivalence).

    NOT an m-way positions join (that is Π df per doc on hot terms).  Min
    span is a per-slot running-max DP: a chain ending at slot i, position
    p can start no earlier than ``best(i,p) = max_{p' < p} best(i−1, p')``
    — monotone in p', so each slot is ONE windowed running max over the
    union of the previous slot's chain ends and this slot's events:

      events (query, doc, slot, pos)    — Σ df rows, one broadcast join
      slot 0: best = pos
      slot i: max(best of slot i−1 rows) OVER (PARTITION query, doc
              ORDER BY pos RANGE UNBOUNDED PRECEDING TO -1)   ← strict <
      span(chain end) = pos − best;  min per (query, doc)

    Work is O(Σ df · m) rows through m−1 window stages, every stage
    hash-partitioned on the SAME (query_id, doc_id) key (AQE coalesces;
    only matched rows move).  The RANGE −1 frame enforces strict position
    increase, which makes duplicate-term queries ("scan scan") require two
    distinct occurrences.  ``vocab`` enables the same rarest-slot candidate
    prune as :func:`phrase_topk` — measured at sf0.1 it HELPS phrase (whose
    agg collects arrays) but COSTS here (DP rows are 5 ints; the candidate
    join exceeds the saving), so enable it only when a phrase mixes a
    stopword-grade slot with a rare one.  The one driver-side action is
    ``max(m)`` over the QUERY batch (tiny by contract, same as the sharded
    plan's query collect).
    """
    completed = _chain_ends(positional, queries, cfg, vocab)
    scored = completed.groupBy("query_id", "doc_id").agg(
        (F.min(F.col("pos") - F.col("best"))).cast("long").alias("min_span"))
    if max_span is not None:
        scored = scored.filter(F.col("min_span") <= max_span)
    return topk(scored, k, "min_span", ascending=True)


def _chain_ends(positional: DataFrame, queries: DataFrame,
                cfg: IndexConfig | None, vocab: DataFrame | None) -> DataFrame:
    """The proximity DP (see :func:`proximity_topk`): complete-chain ends
    (query_id, doc_id, pos, best) where ``best`` is the MAX start of any
    ordered chain ending at ``pos`` — so ``pos − best`` is the tightest
    window ending there, and every minimal window of the doc appears as
    one of these rows."""
    pt = phrase_terms(queries, cfg)
    events = positional.join(F.broadcast(pt), "term_id").select(
        "query_id", "doc_id", "offset", "m",
        F.explode("positions").alias("pos"))
    if vocab is not None:
        cand = _rarest_slot_candidates(positional, pt, vocab)
        events = events.join(cand, ["query_id", "doc_id"], "left_semi")
    max_m = pt.agg(F.max("m")).first()[0] or 0
    chains = events.filter(F.col("offset") == 0).select(
        "query_id", "doc_id", "m", "pos", F.col("pos").alias("best"))
    completed = chains.filter(F.col("m") == 1)
    w = (Window.partitionBy("query_id", "doc_id").orderBy("pos")
         .rangeBetween(Window.unboundedPreceding, -1))
    for i in range(1, max_m):
        u = chains.select(
            "query_id", "doc_id", "m", "pos", "best",
            F.lit(0).alias("mk"),
        ).unionByName(events.filter(F.col("offset") == i).select(
            "query_id", "doc_id", "m", "pos",
            F.lit(None).cast("int").alias("best"),
            F.lit(1).alias("mk"),
        ))
        chains = (
            u.withColumn(
                "rb", F.max(F.when(F.col("mk") == 0, F.col("best"))).over(w))
            .filter((F.col("mk") == 1) & F.col("rb").isNotNull())
            .select("query_id", "doc_id", "m", "pos",
                    F.col("rb").alias("best"))
        )
        if max_m > 3:
            # each stage feeds BOTH the next stage and the completed union,
            # so an unmaterialized stage subtree re-evaluates ~2^(m-i)
            # times; for long phrases cut the DAG per stage (trivial for
            # the common 2-3 token case, where the blowup is at most x2)
            chains = chains.localCheckpoint()
        completed = completed.unionByName(chains.filter(F.col("m") == i + 1))
    return completed.select("query_id", "doc_id", "pos", "best")


def snippet_topk(positional: DataFrame, queries: DataFrame, corpus: DataFrame,
                 cfg: IndexConfig | None = None, k: int = 10,
                 max_span: int | None = None,
                 vocab: DataFrame | None = None,
                 doc_col: str = "doc_id",
                 content_col: str = "content") -> DataFrame:
    """Proximity top-k WITH the matched window text — the highlight/snippet
    surface: (query_id, rank, doc_id, min_span, start, snippet) where
    ``[start, start+min_span]`` is the EARLIEST minimal ordered window
    (0-based token offsets) and ``snippet`` is its space-joined tokens.

    Every minimal window [s, e] is a chain-end row with ``best(e) = s``
    (``best`` maximizes the start per end, so a smaller start would mean a
    smaller span), hence ``min(struct(span, start))`` picks exactly the
    earliest minimal window.  Snippet text is a pure-JVM ``slice`` of the
    SAME filtered token array the index was built from — one broadcast-
    joinable projection of the corpus, no second tokenize pass shape.
    Ranking contract: min_span ASC, doc_id ASC (KnnSorted)."""
    cfg = cfg or IndexConfig()
    ends = _chain_ends(positional, queries, cfg, vocab)
    scored = ends.groupBy("query_id", "doc_id").agg(
        F.min(F.struct(
            (F.col("pos") - F.col("best")).alias("min_span"),
            F.col("best").alias("start"),
        )).alias("mw"))
    scored = scored.select(
        "query_id", "doc_id",
        F.col("mw.min_span").cast("long").alias("min_span"),
        F.col("mw.start").cast("long").alias("start"))
    if max_span is not None:
        scored = scored.filter(F.col("min_span") <= max_span)
    ranked = rank_cut(scored, k, knn_order("min_span", ascending=True))
    toks = corpus.select(
        F.col(doc_col).alias("doc_id"),
        F.expr(_token_array_sql(content_col, cfg)).alias("ts"))
    # ranked is Q·k rows — broadcast it at the corpus scan, never shuffle docs
    return toks.join(F.broadcast(ranked), "doc_id").select(
        "query_id", "rank", "doc_id", "min_span", "start",
        F.concat_ws(" ", F.expr(
            "slice(ts, cast(start + 1 as int), cast(min_span + 1 as int))"
        )).alias("snippet"))
