"""Pre-vectorized input path + searchbatch / allknn — the reference's
``sparseiterator`` polymorphism (/root/reference/src/invfile.jl:53-92):
callers may hand the engine (id, weight) pair streams directly instead of
text.  Input relation: ``pairs(doc_id long, term long|string, weight)``.

``searchbatch`` (batch of queries, one Spark job — the contract of
SimilaritySearch.searchbatch exercised at /root/reference/test/invfiles.jl:98,128)
and ``allknn`` (every indexed doc as a query,
/root/reference/test/invfiles.jl:97) both reduce to one broadcast/shuffle
join + grouped aggregation; allknn's query side is the corpus itself, so it
uses a shuffle join (never broadcast) with candidate generation restricted
to shared terms.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from invertedfiles_jl_spark.config import IndexConfig
from invertedfiles_jl_spark.operators.build import (
    InvertedIndex,
    compute_stats,
    postings_table,
    term_id_col,
)
from invertedfiles_jl_spark.operators.search import (
    _matched,
    read_postings,
    set_distance_expr,
    topk,
)


def build_vector_index(pairs: DataFrame, cfg: IndexConfig | None = None) -> InvertedIndex:
    """Build an index from pre-weighted (doc_id, term, weight) pairs.

    Weighted mode stores the weights as-is (the reference assumes the caller
    pre-normalized: Dist.NormCosine contract, /root/reference/src/winvfile.jl:8-9);
    binary mode drops weights (/root/reference/src/binvfile.jl:60-62).
    tol and the 0-sentinel skip follow /root/reference/src/invfile.jl:152-153.
    """
    cfg = cfg or IndexConfig(weighting="normcosine")
    wt = cfg.weight_dtype
    if cfg.weighting == "binary":
        weighted = pairs.select("doc_id", "term", F.lit(1.0).cast(wt).alias("weight"))
    else:
        weighted = pairs.select("doc_id", "term", F.col("weight").cast(wt).alias("weight"))
    weighted = weighted.filter(F.col("weight") >= F.lit(float(cfg.tol)))

    docs = weighted.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("nnz"),
        F.count(F.lit(1)).alias("doc_len"),
        F.sqrt(F.sum(F.col("weight") * F.col("weight"))).alias("norm"),
    ).withColumn("content_sha256", F.lit(None).cast("string"))
    vocab = weighted.groupBy("term").agg(
        F.count(F.lit(1)).alias("df"),
        F.sum("weight").alias("cf"),
    ).withColumn("term_id", term_id_col("term"))
    # weights arrive pre-normalized: no avgdl enters any weight
    stats = dict(compute_stats(docs), avg_doc_len=None)
    postings = postings_table(weighted, vocab, stats, cfg)
    return InvertedIndex(docs=docs, vocab=vocab, postings=postings, stats=stats, cfg=cfg)


def _join_matched(index: InvertedIndex, qpairs: DataFrame, broadcast_queries: bool) -> DataFrame:
    """(query_id, qw, doc_id, weight) rows of every posting entry the
    (query_id, term, qw) pairs match."""
    # postings carry only the fixed-width term_id; derive it for the query
    # side with the same xxhash64(string) the build used
    qpairs = qpairs.withColumn("term_id", term_id_col("term")).drop("term")
    if broadcast_queries:
        return _matched(index, qpairs)
    # Shuffle-join path (query side too big to broadcast, e.g. allknn):
    # explode postings to ROW granularity BEFORE the join.  A hot term with
    # df=d still contributes d·q_d joined rows (inherent to exact allknn),
    # but as rows — not array payloads replicated per query — so AQE's
    # skew-join splitting can cut an oversized term partition into many
    # tasks; no single task ever holds a whole hot list × its queries.
    flat = read_postings(index.postings, "term_id")
    return flat.join(qpairs, "term_id").select("query_id", "qw", "doc_id", "weight")


def searchbatch_cosine(index: InvertedIndex, qpairs: DataFrame, k: int = 10,
                       broadcast_queries: bool = True,
                       rank_round: int | None = None) -> DataFrame:
    """Batch normalized-cosine search over pre-weighted query pairs
    (query_id, term, qw).  dist = 1 − Σ qw·dw
    (/root/reference/src/winvfilesearch.jl:8-16), ascending, doc_id tie-break.
    """
    m = _join_matched(index, qpairs.select("query_id", "term", "qw"), broadcast_queries)
    scored = m.groupBy("query_id", "doc_id").agg(
        (F.lit(1.0) - F.sum(F.col("qw") * F.col("weight"))).alias("dist")
    )
    return topk(scored, k, "dist", ascending=True, rank_round=rank_round)


def searchbatch_set(index: InvertedIndex, qsets: DataFrame, k: int = 10,
                    dist: str = "jaccard", t: int = 1,
                    broadcast_queries: bool = True,
                    rank_round: int | None = None) -> DataFrame:
    """Batch set-distance search over (query_id, term) rows (distinct terms
    per query) — BinaryInvertedFile semantics
    (/root/reference/src/binvfilesearch.jl:9-34)."""
    qsets = qsets.select("query_id", "term").distinct()
    qsize = qsets.groupBy("query_id").agg(F.count(F.lit(1)).alias("qsize"))
    m = _join_matched(index, qsets.withColumn("qw", F.lit(1.0)), broadcast_queries)
    inter = m.groupBy("query_id", "doc_id").agg(F.count(F.lit(1)).alias("isize"))
    if t > 1:
        inter = inter.filter(F.col("isize") >= t)
    scored = (
        inter.join(F.broadcast(qsize) if broadcast_queries else qsize, "query_id")
        .join(index.docs.select("doc_id", F.col("nnz").alias("dsize")), "doc_id")
        .withColumn("dist", set_distance_expr(dist).cast("double"))
    )
    return topk(scored.select("query_id", "doc_id", "dist"), k, "dist", ascending=True,
                rank_round=rank_round)


def allknn(index: InvertedIndex, pairs: DataFrame, k: int = 3,
           rank_round: int | None = None, df_cap: int | None = None) -> DataFrame:
    """k nearest neighbors of every indexed doc against the index itself
    (/root/reference/test/invfiles.jl:97).  Candidates restricted to docs
    sharing ≥1 term; self-match included at distance 0 like the reference's
    exhaustive oracle.  Query side = corpus ⇒ shuffle join, never broadcast;
    postings are exploded to rows pre-join so AQE skew splitting bounds the
    per-task footprint of Zipfian hot terms (see ``_join_matched``).

    ``df_cap`` — the 100-TB escape from the exact plan's Σ df² join size:
    candidate PAIRS are generated only from terms with df ≤ df_cap (standard
    prefix filtering), then every candidate pair is re-scored EXACTLY over
    all shared terms (hot ones included), so emitted distances are identical
    to the exact plan's.  Candidate-join rows shrink from Σ df² to
    Σ_{df ≤ cap} df².  Recall bound: a neighbor is missed iff the pair
    shares ONLY terms with df > df_cap — on Zipfian text such pairs share
    at least one body term in practice; the miss set is exactly the pairs
    whose overlap is confined to the df > cap head.  ``df_cap=None`` (the
    default) is the exact plan.
    """
    qpairs = pairs.select(
        F.col("doc_id").alias("query_id"), "term", F.col("weight").alias("qw")
    )
    if df_cap is None:
        return searchbatch_cosine(index, qpairs, k, broadcast_queries=False,
                                  rank_round=rank_round)
    cand = allknn_candidates(index, qpairs, df_cap) \
        .select("query_id", "doc_id").distinct()
    # exact re-score of candidate pairs over ALL shared terms: restrict the
    # full (term_id, doc_id)-keyed posting rows to candidate pairs
    qp = qpairs.withColumn("term_id", term_id_col("term")).drop("term")
    flat = read_postings(index.postings, "term_id")
    scored = (
        cand.join(qp, "query_id")
        .join(flat, ["term_id", "doc_id"])
        .groupBy("query_id", "doc_id")
        .agg((F.lit(1.0) - F.sum(F.col("qw") * F.col("weight"))).alias("dist"))
    )
    return topk(scored, k, "dist", ascending=True, rank_round=rank_round)


def allknn_candidates(index: InvertedIndex, qpairs: DataFrame,
                      df_cap: int) -> DataFrame:
    """Prefix-filtered candidate pairs: (query_id, doc_id, term_id) rows of
    the candidate-generation join, restricted to terms with df ≤ df_cap on
    BOTH sides.  Exposed separately so tests can assert the join-size bound
    (rows ≤ Σ_{df ≤ cap} df²  when the query side is the corpus itself)."""
    rare = index.vocab.filter(F.col("df") <= df_cap).select("term_id")
    qp = qpairs.withColumn("term_id", term_id_col("term")).drop("term")
    flat_rare = read_postings(index.postings, "term_id").join(
        rare, "term_id", "left_semi")
    qp_rare = qp.join(rare, "term_id", "left_semi")
    return flat_rare.join(
        qp_rare.select("query_id", "term_id"), "term_id"
    ).select("query_id", "doc_id", "term_id")
