"""Diversity re-ranking — maximal marginal relevance (MMR) over dense
candidates (Carbonell & Goldstein, SIGIR 1998).

Greedy selection from a bounded candidate pool: pick the most relevant doc
first, then repeatedly the doc maximizing

    mmr(d) = λ · rel(d) − (1 − λ) · max_{s ∈ selected} sim(d, s)

— relevance traded against redundancy with what is already picked.  The
engine's group-diversification primitive when near-duplicates share no
metadata key (``search.collapse_topk`` covers the keyed case).

Scale + determinism shape:

* Candidates are a bounded top-``depth`` per query from the existing dense
  rankers (brute force here; swap :func:`ann.ivf_topk` upstream for the
  approximate path), so everything downstream is O(Q · depth²) rows —
  serving-scale, corpus-independent.
* Pairwise sims are computed JVM-SIDE with the exact ``ann.with_cosine``
  expression the oracle mirrors (one broadcast of the bounded pair relation
  against the embedding table per side), rounded to ``sim_round`` — the
  greedy kernel then works over doubles both engines agree on bit-for-bit.
* The greedy itself is inherently sequential in k but independent across
  queries → a cogrouped ``applyInPandas`` per query (numpy inside, HALF_UP
  rank keys per the repo-wide invariant).  The DuckDB oracle unrolls the
  same k steps as chained CTEs — no recursion, plain ANSI windows.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from invertedfiles_jl_spark.operators.ann import brute_force_topk, with_cosine
from invertedfiles_jl_spark.operators.search import knn_order, rank_cut
from invertedfiles_jl_spark.operators.wand import rank_order

_OUT = "query_id long, rank int, doc_id long, mmr double"


def candidate_pair_sims(emb: DataFrame, cand: DataFrame,
                        sim_round: int = 6) -> DataFrame:
    """(query_id, a, b, sim) for every unordered candidate pair (a < b) of
    each query — JVM-side cosine (``with_cosine``), rounded.  The pair
    relation is bounded Q·depth² → broadcast into the embedding lookups."""
    a = cand.select("query_id", F.col("doc_id").alias("a")).alias("pa")
    b = cand.select("query_id", F.col("doc_id").alias("b")).alias("pb")
    pairs = (
        a.join(b, F.col("pa.query_id") == F.col("pb.query_id"))
        .filter(F.col("a") < F.col("b"))
        .select(F.col("pa.query_id").alias("query_id"), "a", "b")
    )
    ea = emb.select(F.col("vec_id").alias("a"), F.col("embedding").alias("q_emb"))
    eb = emb.select(F.col("vec_id").alias("b"), F.col("embedding").alias("d_emb"))
    p = F.broadcast(pairs).join(ea, "a")
    p = F.broadcast(p).join(eb, "b")
    return with_cosine(p).select(
        "query_id", "a", "b", F.round("cos", sim_round).alias("sim"))


def _mmr_kernel(k: int, lam: float, rank_round: int):
    """Cogrouped kernel: (candidates, pair sims) of ONE query → the k-step
    greedy.  Each pick is ``wand.rank_order``'s first row (HALF_UP
    round(·, rank_round) desc, doc_id asc) — the repo rank identity;
    arithmetic order matches the SQL oracle token-for-token
    (λ·rel − (1−λ)·maxsim over pre-rounded inputs).
    """
    import pandas as pd

    one_minus = 1.0 - lam

    def kernel(cdf: "pd.DataFrame", pdf: "pd.DataFrame") -> "pd.DataFrame":
        if not len(cdf):
            return pd.DataFrame(
                {"query_id": np.empty(0, np.int64), "rank": np.empty(0, np.int32),
                 "doc_id": np.empty(0, np.int64), "mmr": np.empty(0, np.float64)})
        qid = int(cdf["query_id"].iloc[0])
        ids = cdf["doc_id"].to_numpy(np.int64)
        rel = cdf["rel"].to_numpy(np.float64)
        n = len(ids)
        pos = {int(d): i for i, d in enumerate(ids)}
        sim = np.zeros((n, n), dtype=np.float64)
        if len(pdf):
            ia = np.fromiter((pos[int(x)] for x in pdf["a"]), np.int64, len(pdf))
            ib = np.fromiter((pos[int(x)] for x in pdf["b"]), np.int64, len(pdf))
            sv = pdf["sim"].to_numpy(np.float64)
            sim[ia, ib] = sv
            sim[ib, ia] = sv
        first = int(rank_order(ids, rel, 1, rank_round)[0])
        picked = [first]
        scores = [float(rel[first])]
        maxsim = sim[:, first].copy()
        alive = np.ones(n, dtype=bool)
        alive[first] = False
        while len(picked) < min(k, n):
            mmr = lam * rel - one_minus * maxsim
            # argmax over the unpicked docs, doc_id asc tie-break
            nxt = int(rank_order(ids, np.where(alive, mmr, -np.inf), 1,
                                 rank_round)[0])
            picked.append(nxt)
            scores.append(float(mmr[nxt]))
            alive[nxt] = False
            np.maximum(maxsim, sim[:, nxt], out=maxsim)
        m = len(picked)
        return pd.DataFrame({
            "query_id": np.full(m, qid, dtype=np.int64),
            "rank": np.arange(1, m + 1, dtype=np.int32),
            "doc_id": ids[np.asarray(picked)],
            "mmr": np.asarray(scores, dtype=np.float64),
        })

    return kernel


def mmr_rerank(emb: DataFrame, queries: DataFrame, k: int = 5,
               depth: int = 20, lam: float = 0.7, sim_round: int = 6,
               rank_round: int = 9, dense_topk=None) -> DataFrame:
    """MMR top-k over dense candidates: (query_id, rank, doc_id, mmr) in
    selection order; rank 1's ``mmr`` is its raw relevance (empty selected
    set — the standard convention), later ranks carry the marginal score at
    selection time.  ``dense_topk`` swaps the candidate ranker (default
    exact brute force; pass an ``ivf_topk``-shaped callable at scale)."""
    dense_fn = dense_topk or (
        lambda e, q, kk: brute_force_topk(e, q, k=kk, exclude_self=False,
                                          rank_round=6))
    cand = dense_fn(emb, queries, depth).select(
        "query_id", F.col("vec_id").alias("doc_id"),
        F.round("cos", sim_round).alias("rel"))
    pairs = candidate_pair_sims(emb, cand, sim_round)
    return (
        cand.groupBy("query_id")
        .cogroup(pairs.groupBy("query_id"))
        .applyInPandas(_mmr_kernel(k, lam, rank_round), _OUT)
    )


# ---------------------------------------------------------------------------
# cross-encoder re-ranking seam (two-stage retrieve → pairwise re-score)
# ---------------------------------------------------------------------------


def ce_stub_score(q_col: str = "q_content", d_col: str = "doc_content"):
    """Deterministic stand-in for a learned cross-encoder: a pseudo-score
    in [0, 1] from ``ascii`` arithmetic over the md5 of the concatenated
    (query, doc) text — the same engine-portable hash trick as
    ``multimodal._stub_features``, so the DuckDB oracle mirrors it token
    for token.  Real deployments replace this with a model via the
    ``scorer=`` hook of :func:`crossencoder_rerank`; the stub keeps the
    PLUMBING (candidate cut, pair assembly, batch shape, rank contract)
    driver-gated."""
    from pyspark.sql import functions as F

    h = F.md5(F.concat(F.col(q_col), F.lit("\x01"), F.col(d_col)))
    v = (F.ascii(F.substring(h, 1, 1)) * 65536
         + F.ascii(F.substring(h, 2, 1)) * 256
         + F.ascii(F.substring(h, 3, 1)))
    return v / F.lit(16777215.0)


def crossencoder_rerank(index, corpus, queries, k: int = 10, depth: int = 50,
                        scorer=None, rank_round: int = 6,
                        doc_col: str = "doc_id",
                        content_col: str = "content"):
    """Two-stage serving: BM25 retrieves ``depth`` candidates per query,
    a pairwise (query text × doc text) scorer re-ranks them, top ``k``
    emitted as (query_id, rank, doc_id, ce_score, bm25_score).

    ``scorer=None`` uses the deterministic stub (oracle-gated end to end).
    ``scorer=fn`` runs ``fn(pdf) -> pd.Series`` inside ``mapInPandas`` over
    Arrow batches of (query_id, doc_id, bm25_score, q_content,
    doc_content) — the exact seam a torch/ONNX cross-encoder occupies in
    production (pytest-gated with a fake model).

    Scale shape: the candidate relation is Q·depth rows and BROADCASTS
    against the corpus to fetch doc text (column-pruned scan: id + content
    only); the scorer touches Q·depth pairs, never the corpus; the final
    rank is a window over Q·depth rows.  The expensive model is therefore
    bounded by serving depth — the standard two-stage economics.
    """
    from invertedfiles_jl_spark.operators.search import bm25_topk

    # rank_round=6 pins the depth cut to the same boundary the DuckDB
    # oracle's candidate CTE uses (round(score, 6) desc, doc_id asc)
    cands = bm25_topk(index, queries, k=depth, rank_round=6).select(
        "query_id", "doc_id", F.col("score").alias("bm25_score"))
    pairs = (
        corpus.select(F.col(doc_col).alias("doc_id"),
                      F.col(content_col).alias("doc_content"))
        .join(F.broadcast(cands), "doc_id")
        .join(F.broadcast(queries.select(
            "query_id", F.col("content").alias("q_content"))), "query_id")
    )
    if scorer is None:
        scored = pairs.withColumn("ce_score", ce_stub_score()).select(
            "query_id", "doc_id", "bm25_score", "ce_score")
    else:
        import pandas as pd  # noqa: F401 — mapInPandas contract

        def fn(batches):
            for pdf in batches:
                out = pdf[["query_id", "doc_id", "bm25_score"]].copy()
                out["ce_score"] = scorer(pdf).astype("float64").to_numpy()
                yield out

        scored = pairs.mapInPandas(
            fn, "query_id long, doc_id long, bm25_score double, ce_score double")
    return rank_cut(scored, k, knn_order("ce_score", rank_round),
                    cols=["query_id", "rank", "doc_id", "ce_score",
                          "bm25_score"])
