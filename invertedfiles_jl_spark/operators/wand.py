"""Plan B — vectorized block-max MaxScore top-k scorer (``applyInPandas``).

The reference's query kernel is a k-way merge over doc-sorted posting lists
into a bounded sorted knn queue (``xmerge!`` + ``knnqueue(KnnSorted, k)``,
/root/reference/src/winvfilesearch.jl:28-34, /root/reference/src/InvertedFiles.jl:57),
with SIMD scoring (/root/reference/src/winvfilesearch.jl:11).  A doc-at-a-time
WAND loop is the classic single-machine answer but is per-row Python here; the
Spark-idiomatic equivalent is term-at-a-time **MaxScore** (Turtle & Flood
1995) with **block-max** skip data (Ding & Suel, BMW, 2011) over numpy
vectors:

  * lists sorted by upper bound (q_weight · max_weight) descending;
  * a doc first seen at list j can total at most contrib + Σ later bounds —
    if that cannot beat the current kth score it never enters the pool;
  * per ``block_size``-entry block the stored ``block_max`` gives the same
    bound block-wise: blocks with no pooled candidate and an unreachable
    bound are skipped without touching their entries;
  * pooled candidates that can no longer reach the kth score are evicted.

Everything runs inside one ``applyInPandas`` per query group: the broadcast
join has already reduced data to the matched lists, so each group holds just
the query's postings.  Arrow moves the arrays; numpy does the math; Python
touches O(#lists) objects, not O(#postings).

The final cut is :func:`rank_order` (HALF_UP :func:`round_half_up` key,
doc_id tie-break), the one numpy rank order every kernel shares.

Query weights come from ``search.query_weights`` (qtf·idf or qtf/‖q‖, the
same column every dot-product plan uses).  Matched rows reach the kernel
with ``ids_vb`` still encoded; ``codec.decode_posting`` inside the kernel is
the Python-side counterpart of the JVM-side ``search.read_postings``.

Exactness: every pruning rule above compares against the threshold with a
2·10^-rank_round safety margin, so a pruned doc's ROUNDED score is strictly
below the rounded kth score — rank-identity with Plan A holds even at
rounding boundaries (pytest gate + brute-force oracle).  All contributions
are positive (BM25 idf > 0, weights ≥ tol > 0), which the never-readmitted
proof relies on.
"""

import numpy as np

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from invertedfiles_jl_spark.operators.build import InvertedIndex
from invertedfiles_jl_spark.operators.search import (
    query_weights,
    require_weighting,
    stored_ids_col,
)

_OUT_SCHEMA = "query_id long, rank int, doc_id long, score double"


def round_half_up(a: np.ndarray, ndigits: int) -> np.ndarray:
    """HALF_UP rounding (halves away from zero, −2.5 → −3) — matches
    Spark's ``F.round`` (java.math.RoundingMode.HALF_UP) and DuckDB's
    ``round``, unlike ``np.round`` (half-to-even).  Every kernel ranking
    key must use this so all three query plans (and their oracles) agree
    at rounding boundaries."""
    p = 10.0 ** ndigits
    return np.sign(a) * np.floor(np.abs(a) * p + 0.5) / p


def rank_order(ids: np.ndarray, key: np.ndarray, k: int, rank_round,
               ascending: bool = False) -> np.ndarray:
    """Indices of the first ``k`` rows under the ``KnnSorted`` order —
    ``round_half_up(key, rank_round)`` desc (asc for a distance; the raw
    key when ``rank_round`` is None), then id asc: the numpy twin of
    ``search.rank_cut`` over ``search.knn_order``, and every kernel's one
    rank cut (WAND, sharded, MMR, streaming serve)."""
    if rank_round is not None:
        key = round_half_up(key, rank_round)
    return np.lexsort((ids, key if ascending else -key))[:k]


def maxscore_pool(qws, id_arrays, w_arrays, bm_arrays, maxw,
                  k: int, rank_round, block_size: int = 128):
    """Term-at-a-time MaxScore with block-max skipping over one query's
    matched lists (arrays already materialized).  Returns
    ``(acc_ids, acc_scores, stats)`` — the surviving candidate pool with
    EXACT scores; every doc whose rounded score could reach the rounded
    kth score is guaranteed in the pool (see module docstring for the
    margin proof).  Shared by the per-query-group kernel
    (:func:`wand_topk`) and the doc-sharded kernel
    (``sharded.sharded_topk``), whose per-shard cut needs exactly this
    guarantee for rank-safety.
    """
    qws = np.asarray(qws, dtype=np.float64)
    maxw = np.asarray(maxw, dtype=np.float64)
    bounds = qws * maxw
    order = np.argsort(-bounds, kind="stable")
    sbounds = bounds[order]
    # suffix[j] = Σ bounds of lists j.. (suffix[len] = 0)
    suffix = np.concatenate([np.cumsum(sbounds[::-1])[::-1], [0.0]])
    # pruning margin: ≥ 2 rounding-grid steps so a pruned doc's rounded
    # score is strictly below the rounded kth score (no tie-break flips)
    margin = 2.0 * 10.0 ** (-rank_round) if rank_round is not None else 0.0

    acc_ids = np.empty(0, dtype=np.int64)   # kept sorted
    acc_scores = np.empty(0, dtype=np.float64)
    theta = -np.inf
    pruned = 0
    block_skipped = 0
    for j, li in enumerate(order):
        ids, ws = id_arrays[li], w_arrays[li]
        qw = qws[li]
        rem = suffix[j + 1]
        if np.isfinite(theta):
            # evict candidates that cannot reach theta with every remaining
            # list (contributions are positive ⇒ evicted docs never readmit)
            keep = acc_scores + suffix[j] >= theta - margin
            if not keep.all():
                acc_ids, acc_scores = acc_ids[keep], acc_scores[keep]
        n = len(ids)
        sel = slice(None)
        bm = bm_arrays[li]
        if bm is not None and len(bm) != (n + block_size - 1) // block_size:
            # stored block size disagrees with cfg (foreign/merged index) —
            # fall back to list-level bounds only
            bm = bm_arrays[li] = None
        if bm is not None and np.isfinite(theta):
            # block-max skip: a block is touched only if it contains a pooled
            # candidate or its bound qw·block_max + rem can still beat theta
            nb = len(bm)
            firsts = ids[np.arange(nb) * block_size]
            lasts = ids[np.minimum((np.arange(nb) + 1) * block_size, n) - 1]
            has_acc = np.searchsorted(acc_ids, lasts, side="right") > np.searchsorted(
                acc_ids, firsts, side="left"
            )
            keep_blk = has_acc | (qw * bm + rem >= theta - margin)
            if not keep_blk.all():
                entry_keep = keep_blk[np.arange(n) // block_size]
                skipped = int(n - entry_keep.sum())
                pruned += skipped
                block_skipped += skipped
                sel = entry_keep
        sids = ids[sel]
        contrib = qw * ws[sel]
        pos = np.searchsorted(acc_ids, sids)
        pos_c = np.minimum(pos, max(len(acc_ids) - 1, 0))
        hit = (acc_ids[pos_c] == sids) if len(acc_ids) else np.zeros(len(sids), dtype=bool)
        np.add.at(acc_scores, pos_c[hit], contrib[hit])
        # docs first seen here enter only if they can still reach theta
        new = ~hit & (contrib + rem >= theta - margin)
        pruned += int((~hit & ~new).sum())
        if new.any():
            both_ids = np.concatenate([acc_ids, sids[new]])
            both_sc = np.concatenate([acc_scores, contrib[new]])
            acc_ids, inv = np.unique(both_ids, return_inverse=True)
            acc_scores = np.bincount(inv, weights=both_sc, minlength=len(acc_ids))
        if len(acc_scores) >= k:
            theta = np.partition(acc_scores, len(acc_scores) - k)[len(acc_scores) - k]

    return acc_ids, acc_scores, {"pruned": pruned, "block_skipped": block_skipped}


def _maxscore_group(pdf, k: int, rank_round, block_size: int = 128,
                    return_stats: bool = False):
    """Score one query's matched posting lists; return top-k rows.

    ``return_stats=True`` additionally returns {"pruned": total entries
    dropped by any bound check, "block_skipped": entries skipped wholesale at
    block granularity without per-entry work} — the pruning metric tests
    assert on these.
    """
    import pandas as pd

    qid = int(pdf["query_id"].iloc[0])
    qws = pdf["qw"].to_numpy(dtype=np.float64)
    has_bm = "block_max" in pdf.columns
    id_arrays, w_arrays, bm_arrays = [], [], []
    for i in range(len(pdf)):
        if "ids_vb" in pdf.columns and pdf["ids_vb"].iloc[i] is not None:
            from invertedfiles_jl_spark.operators.codec import decode_posting

            ids = decode_posting(bytes(pdf["ids_vb"].iloc[i])).astype(np.int64)
        else:
            ids = np.asarray(pdf["doc_ids"].iloc[i], dtype=np.int64)
        id_arrays.append(ids)
        w_arrays.append(np.asarray(pdf["weights"].iloc[i], dtype=np.float64))
        bm = pdf["block_max"].iloc[i] if has_bm else None
        bm_arrays.append(np.asarray(bm, dtype=np.float64) if bm is not None else None)
    maxw = pdf["max_weight"].to_numpy(dtype=np.float64)

    acc_ids, acc_scores, stats = maxscore_pool(
        qws, id_arrays, w_arrays, bm_arrays, maxw, k, rank_round, block_size
    )

    if acc_ids.size == 0:
        out = pd.DataFrame(columns=["query_id", "rank", "doc_id", "score"]).astype(
            {"query_id": "int64", "rank": "int32", "doc_id": "int64", "score": "float64"}
        )
        return (out, stats) if return_stats else out
    order_sel = rank_order(acc_ids, acc_scores, k, rank_round)
    out = pd.DataFrame(
        {
            "query_id": np.full(len(order_sel), qid, dtype=np.int64),
            "rank": np.arange(1, len(order_sel) + 1, dtype=np.int32),
            "doc_id": acc_ids[order_sel],
            "score": acc_scores[order_sel],
        }
    )
    return (out, stats) if return_stats else out


def wand_topk(
    index: InvertedIndex,
    queries: DataFrame,
    k: int = 10,
    rank_round: "int | None" = None,
) -> DataFrame:
    """Block-max MaxScore top-k for a bm25 or normcosine index.

    Output: (query_id, rank, doc_id, score) — for normcosine, ``score`` is
    the dot product; use :func:`wand_cosine_topk` for the distance form.
    """
    require_weighting(index, "bm25", "normcosine")
    cols = ["query_id", "qw", "weights", "max_weight"]
    if "block_max" in index.postings.columns:
        cols.append("block_max")
    cols.append(stored_ids_col(index.postings))
    matched = index.postings.join(
        F.broadcast(query_weights(index, queries)), "term_id"
    ).selectExpr(*cols)

    block_size = int(index.cfg.block_size)

    def fn(pdf):
        return _maxscore_group(pdf, k, rank_round, block_size)

    return matched.groupBy("query_id").applyInPandas(fn, _OUT_SCHEMA)


def wand_cosine_topk(index: InvertedIndex, queries: DataFrame, k: int = 10,
                     rank_round: "int | None" = None) -> DataFrame:
    """Normalized-cosine distance form: dist = 1 − dot
    (/root/reference/src/winvfilesearch.jl:8-16), ascending."""
    res = wand_topk(index, queries, k, rank_round)
    return res.select(
        "query_id", "rank", "doc_id", (F.lit(1.0) - F.col("score")).alias("dist")
    )
