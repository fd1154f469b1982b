"""Exhaustive (brute-force) search + recall metrics — the reference's test
oracle surface, as first-class distributed operators.

Reference contracts reproduced (SURVEY.md §2.1 dep-surface table):
  * ``ExhaustiveSearch(dist, db)`` — brute-force gold standard the reference
    tests every index against (/root/reference/test/invfiles.jl:21,127).
    Distance over FULL vectors: documents sharing no term with the query
    still appear, at distance 1 (NormCosine of orthogonal unit vectors).
  * ``recallscore(gold, res)`` = |gold ∩ res| / |gold| and
    ``macrorecall`` = mean over queries
    (/root/reference/test/invfiles.jl:23,98,137).

Spark-first shape: the dot products come from a shared-term inner join +
grouped sum (sparse — only docs with overlap produce a row); the "every doc
appears" completion is a crossJoin of the tiny distinct-query relation with
the doc-id relation, LEFT-joined against the sparse dots.  The crossJoin is
O(|Q|·N) rows but |Q| is a query batch (tiny) and the rows are two longs —
this is the oracle path, not the serving path; at 100 TB you run it on a
sample to validate the index, exactly like the reference's tests do.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from invertedfiles_jl_spark.operators.search import knn_order, rank_cut, topk


def exhaustive_cosine_topk(pairs: DataFrame, qpairs: DataFrame, k: int = 10,
                           docs: DataFrame | None = None,
                           rank_round: int | None = None) -> DataFrame:
    """Brute-force normalized-cosine top-k over pre-weighted pairs.

    ``pairs``  — (doc_id, term, weight) document vectors (pre-normalized,
    Dist.NormCosine contract /root/reference/src/winvfile.jl:8-9).
    ``qpairs`` — (query_id, term, qw) query vectors (pre-normalized).
    ``docs``   — optional (doc_id) relation defining the full universe;
    defaults to the distinct doc_ids of ``pairs``.
    """
    dots = (
        F.broadcast(qpairs).join(pairs, "term")
        .groupBy("query_id", "doc_id")
        .agg(F.sum(F.col("qw") * F.col("weight")).alias("dot"))
    )
    universe = (docs or pairs.select("doc_id").distinct()).select("doc_id")
    allp = qpairs.select("query_id").distinct().crossJoin(universe)
    scored = allp.join(dots, ["query_id", "doc_id"], "left").select(
        "query_id", "doc_id",
        (F.lit(1.0) - F.coalesce(F.col("dot"), F.lit(0.0))).alias("dist"),
    )
    return topk(scored, k, "dist", ascending=True, rank_round=rank_round)


def recallscore(gold: DataFrame, result: DataFrame) -> DataFrame:
    """Per-query recall |gold ∩ result| / |gold| over two (query_id, doc_id)
    top-k relations (/root/reference/test/invfiles.jl:23 semantics).
    LEFT join keeps queries the result missed entirely (recall 0)."""
    gsize = gold.groupBy("query_id").agg(F.count(F.lit(1)).alias("gsize"))
    hits = (
        gold.select("query_id", "doc_id")
        .join(result.select("query_id", "doc_id"), ["query_id", "doc_id"], "left_semi")
        .groupBy("query_id").agg(F.count(F.lit(1)).alias("hits"))
    )
    return (
        gsize.join(hits, "query_id", "left")
        .select(
            "query_id",
            (F.coalesce(F.col("hits"), F.lit(0)) / F.col("gsize"))
            .cast("double").alias("recall"),
        )
    )


def macrorecall(gold: DataFrame, result: DataFrame) -> DataFrame:
    """Single-row mean of per-query recall
    (/root/reference/test/invfiles.jl:98,137 semantics)."""
    return recallscore(gold, result).agg(F.avg("recall").alias("macrorecall"))


def ranking_metrics(run: DataFrame, qrels: DataFrame, k: int = 10) -> DataFrame:
    """Graded-relevance IR metrics per query — the industry-standard
    generalization of this module's recall family (the reference validates
    with recall only, /root/reference/test/invfiles.jl:23):

        p_at_k  = |relevant in top-k| / k
        mrr     = 1 / rank of the first relevant hit (0 if none)
        ndcg    = DCG / IDCG,  DCG = Σ (2^rel − 1) / (ln(rank+1)/ln 2)

    ``run``: (query_id, rank, doc_id); ``qrels``: (query_id, doc_id,
    rel double) graded judgments (missing pair ⇒ rel 0).  IDCG ranks the
    query's judged docs by (rel desc, doc_id asc) — deterministic ties.
    The log2 discount is written ln(x)/ln(2) so any engine evaluates the
    identical libm expression.

    Scale shape: one broadcast-size join per run row (run is Q·k bounded;
    qrels are human-judgment sized), one bounded window over judged docs.
    """
    ln2 = F.log(F.lit(2.0))
    r = run.filter(F.col("rank") <= k)
    j = r.join(qrels.select("query_id", "doc_id", "rel"),
               ["query_id", "doc_id"], "left").withColumn(
        "rel", F.coalesce(F.col("rel"), F.lit(0.0)))
    contrib = (F.pow(F.lit(2.0), F.col("rel")) - 1.0) / (
        F.log(F.col("rank") + F.lit(1.0)) / ln2)
    m = j.groupBy("query_id").agg(
        (F.sum(F.when(F.col("rel") > 0, 1).otherwise(0)) / F.lit(float(k))
         ).alias("p_at_k"),
        F.coalesce(
            F.lit(1.0) / F.min(F.when(F.col("rel") > 0, F.col("rank"))),
            F.lit(0.0)).alias("mrr"),
        F.sum(contrib).alias("dcg"),
    )
    ideal = rank_cut(qrels.filter(F.col("rel") > 0), k, knn_order("rel"),
                     rank="irank")
    icontrib = (F.pow(F.lit(2.0), F.col("rel")) - 1.0) / (
        F.log(F.col("irank") + F.lit(1.0)) / ln2)
    idcg = ideal.groupBy("query_id").agg(F.sum(icontrib).alias("idcg"))
    out = m.join(F.broadcast(idcg), "query_id", "left")
    return out.select(
        "query_id", "p_at_k", "mrr",
        F.when(F.coalesce(F.col("idcg"), F.lit(0.0)) > 0,
               F.col("dcg") / F.col("idcg")).otherwise(F.lit(0.0)).alias("ndcg"),
    )
