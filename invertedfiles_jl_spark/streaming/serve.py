"""Stateful streaming top-k serving — a standing query set over a document
stream (``applyInPandasWithState``).

``streaming/incremental.py`` maintains the INDEX as documents arrive
(``push_item!`` analog).  This module maintains QUERY RESULTS: each standing
query keeps a bounded top-k pool that every arriving micro-batch of
documents can only improve — the streaming mirror of the reference's
``knnqueue`` bounded result (/root/reference/src/InvertedFiles.jl:57), with
the batch engine's exact BM25 arithmetic.

Scoring model: idf / avgdl / N are FROZEN from a reference index snapshot
(``index.stats`` + ``index.vocab``) — the standard serving practice, and
what makes per-batch scoring embarrassingly parallel: no streaming
aggregation over global state, just

  stream docs → tokenize (pure column exprs, incl. doc_len) →
  explode occurrences → stream-static broadcast join on term_id →
  groupBy(query_id) applyInPandasWithState (bounded top-k pool).

State per query is exactly k (doc_id, score) pairs; shuffle per batch is
the matched occurrence rows keyed by query_id.  Neither grows with corpus
size — executors×state stay O(Q·k) at 100 TB streamed.

Contract (same objID discipline as ``merge_indexes``): each document
arrives WHOLE within one micro-batch and only once — a doc split across
batches would double-count, a re-delivered doc would re-score.  The pool
discard is exact under that contract: a doc's score is final when first
seen, so evicting non-top-k docs can never lose a future winner.
"""

from __future__ import annotations

from typing import Iterator

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from invertedfiles_jl_spark.operators.build import (
    InvertedIndex,
    bm25_sat,
    doc_terms,
    term_id_col,
)
from invertedfiles_jl_spark.operators.search import _bm25_qterms
from invertedfiles_jl_spark.operators.wand import rank_order


def rank_pool(ids, sc, k: int, rank_round: int):
    """Cut a candidate pool to its top-k (ids, scores) under
    ``wand.rank_order`` — the ``knnqueue`` (KnnSorted) order,
    /root/reference/src/InvertedFiles.jl:57, shared with every kernel."""
    order = rank_order(ids, sc, k, rank_round)
    return ids[order], sc[order]


def standing_queries(index: InvertedIndex, queries: DataFrame) -> DataFrame:
    """Static side of the stream-static join: (term_id, query_id, qtf, idf)
    with idf frozen from the index snapshot (same math as
    ``search.bm25_topk``)."""
    return _bm25_qterms(index, queries)


def matched_occurrences(stream_docs: DataFrame, index: InvertedIndex,
                        queries: DataFrame,
                        content_col: str = "content") -> DataFrame:
    """Streaming (query_id, doc_id, doc_len, term_id, qtf, idf) occurrence
    rows.  ``doc_len`` is a pure column expression (array size before the
    explode) — no streaming aggregation anywhere, so this composes with any
    output mode and needs no watermark."""
    from invertedfiles_jl_spark.functions.tokenize import tokens_sql

    toks = stream_docs.select(
        "doc_id", F.expr(tokens_sql(content_col, index.cfg)).alias("tokens"))
    occ = toks.select(
        "doc_id",
        F.size("tokens").alias("doc_len"),
        F.explode("tokens").alias("term"),
    ).withColumn("term_id", term_id_col("term")).drop("term")
    return occ.join(F.broadcast(standing_queries(index, queries)), "term_id")


def percolate(index: InvertedIndex, queries: DataFrame, docs: DataFrame,
              require_all: bool = True,
              content_col: str = "content") -> DataFrame:
    """Reverse search (Elasticsearch percolator analog): which standing
    queries match each incoming document?  The BATCH twin of
    :func:`streaming_bm25_topk` — same frozen-stats scoring model over the
    same standing-query relation (:func:`standing_queries`), but emitting
    per-DOC matches instead of per-query pools:

        (doc_id, query_id, n_matched, score)

    ``require_all`` keeps only docs containing EVERY in-vocab term of the
    query (``n_matched = n_need``; out-of-vocabulary terms are not
    required, and a fully-OOV query never fires); False is the
    disjunctive match-any reading.  Scoring is the engine's exact BM25
    arithmetic (:func:`~invertedfiles_jl_spark.operators.build.bm25_sat`)
    with idf/avgdl/N frozen from the index snapshot — alert routing, saved
    searches, feed fan-out.

    Scale shape: the doc batch's (doc_id, term, tf, doc_len) relation
    (:func:`~invertedfiles_jl_spark.operators.build.doc_terms`, the one
    doc side of both percolators) ⋈ the broadcast standing relation, which
    carries each query's ``n_need`` as a window count; one (doc, query)
    aggregate scores and counts.  No posting lists are touched — the index
    contributes only vocab stats."""
    sat = bm25_sat(index.cfg, index.stats["avg_doc_len"] or 1.0)
    need = standing_queries(index, queries).selectExpr(
        "*", "count(1) OVER (PARTITION BY query_id) AS n_need")
    per = (
        doc_terms(docs, index.cfg, content_col)
        .join(F.broadcast(need), "term_id")
        .groupBy("doc_id", "query_id").agg(
            F.expr("count(1) AS n_matched"),
            F.expr(f"sum(qtf * idf * {sat}) AS score"),
            F.expr("max(n_need) AS n_need"))
    )
    if require_all:
        per = per.filter("n_matched = n_need")
    return per.select("doc_id", "query_id", "n_matched", "score")


def streaming_bm25_topk(stream_docs: DataFrame, index: InvertedIndex,
                        queries: DataFrame, k: int = 10,
                        rank_round: int = 6) -> DataFrame:
    """Streaming DataFrame of the CURRENT top-k per standing query,
    re-emitted each trigger (output mode ``update``): (query_id, rank,
    doc_id, score, n_seen).  ``n_seen`` counts candidate docs the query has
    ever matched — consumers use it to pick a query's latest emission from
    an append-style sink.  Rank key matches ``search.topk``:
    (round(score, rank_round) desc, doc_id asc)."""
    import numpy as np
    import pandas as pd

    k1 = float(index.cfg.bm25_k1)
    b = float(index.cfg.bm25_b)
    avgdl = float(index.stats["avg_doc_len"] or 1.0)

    def update(key, pdfs: Iterator["pd.DataFrame"], state) -> Iterator["pd.DataFrame"]:
        batch = pd.concat(list(pdfs), ignore_index=True)
        if state.exists:
            doc_ids, scores, n_seen = state.get
            doc_ids, scores = list(doc_ids), list(scores)
        else:
            doc_ids, scores, n_seen = [], [], 0
        if len(batch):
            # per-(doc, term) tf = occurrence-row count (every occurrence of
            # a matched term joins the static side exactly once)
            g = batch.groupby(["doc_id", "term_id"], sort=False).agg(
                tf=("term_id", "size"), doc_len=("doc_len", "first"),
                qtf=("qtf", "first"), idf=("idf", "first"))
            g = g.reset_index()
            # pandas cannot run build.bm25_sat's SQL: the same formula
            sat = (g["tf"] * (k1 + 1.0)
                   / (g["tf"] + k1 * ((1.0 - b) + b * g["doc_len"] / avgdl)))
            g["contrib"] = g["qtf"] * g["idf"] * sat
            per_doc = g.groupby("doc_id", sort=False)["contrib"].sum()
            n_seen += len(per_doc)
            doc_ids.extend(int(d) for d in per_doc.index)
            scores.extend(float(s) for s in per_doc.to_numpy())
        if doc_ids:
            ids, sc = rank_pool(
                np.asarray(doc_ids, dtype=np.int64),
                np.asarray(scores, dtype=np.float64), k, rank_round)
        else:
            ids = np.empty(0, dtype=np.int64)
            sc = np.empty(0, dtype=np.float64)
        state.update((ids.tolist(), sc.tolist(), n_seen))
        yield pd.DataFrame({
            "query_id": np.full(len(ids), key[0], dtype=np.int64),
            "rank": np.arange(1, len(ids) + 1, dtype=np.int32),
            "doc_id": ids,
            "score": sc,
            "n_seen": np.full(len(ids), n_seen, dtype=np.int64),
        })

    m = matched_occurrences(stream_docs, index, queries)
    return m.groupBy("query_id").applyInPandasWithState(
        update,
        outputStructType="query_id long, rank int, doc_id long, score double, n_seen long",
        stateStructType="doc_ids array<long>, scores array<double>, n_seen long",
        outputMode="update",
        timeoutConf="NoTimeout",
    )
