"""Doc-sharded batch scoring — the zero-duplication query path at cluster
scale.

The per-query-group scorer (``wand.wand_topk``) shuffles a copy of every
matched posting list to each query's group: for a 500-query batch hitting
Zipfian hot terms that is GBs of duplicated list traffic.  The classic
distributed-IR answer (and SURVEY.md §3.2's Plan B sketch) is to shard the
index BY DOCUMENT: each shard holds the sub-lists of *all* terms restricted
to its doc range, so a doc's full score is computable inside one shard.
A query batch then becomes:

    postings (sharded, co-located)
      ⋉ broadcast(query term_ids)          prune unmatched term rows, JVM-side
      → mapInPandas (co-located serve)     MaxScore+block-max pruned scores
        | groupBy(shard).applyInPandas       + per-partition top-k (safe path
      → window top-k over S×Q×k rows          for arbitrary layouts); final
                                              merge window is tiny

The per-shard kernel shares ``wand.maxscore_pool``: each query's matched
sub-lists are processed in upper-bound order against the query's shard-local
bounded pool, so low-impact lists are mostly block-skipped instead of fully
scored — per-shard work is no longer Σ matched-df (the shard carries the
``block_max`` metadata through ``shard_postings`` for exactly this).

Co-location contract: the kernel needs every doc's rows inside one task.
``load_shards`` (serving mode) pays ONE repair shuffle per session —
``repartition(n, "shard")`` + cache — after which every batch runs with no
wide exchange (``assume_colocated=True``).  For arbitrary inputs (a parquet
re-read whose file splits scattered shards across tasks) the default safe
path inserts a per-batch ``groupBy(shard)`` shuffle of the matched rows.

Per-shard top-k under the same total order (HALF_UP-rounded score desc,
doc_id asc — bit-identical to the final window's ``F.round``) is rank-safe:
any global top-k doc is in its own shard's top-k.  This mirrors the
reference's two-level knnqueue merge contract (bounded per-thread queues
merged into one result, /root/reference/src/InvertedFiles.jl:57) — the shard
is the thread, the final window is the merge.

Shared pieces: ``shard_postings`` reads through ``search.read_postings``
(so a compressed index decodes once, at layout time) and regroups through
``build.posting_lists``, the build's own list layout; query weights come
from ``search.query_weights``; the BM25/dot-product and set-distance
scorers share one serve path (``_serve``: collect → broadcast qmap →
semi-join prune → kernel → top-k) and one kernel-factory pair
(``_partition_kernel``/``_shard_kernel``) parameterized by
``(gather, emit)``.

Sharding reuses the hot-term salt invariant (doc-range-disjoint sub-lists,
``build.postings_table``) generalized to every term, so delta-gap encoding
stays valid per sub-list.  ``shard_postings`` is a one-time build-side
shuffle; per-batch traffic after it is the pruned-row shuffle only.
"""

from __future__ import annotations

from collections import Counter

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from invertedfiles_jl_spark.operators.build import (
    InvertedIndex,
    doc_range,
    posting_lists,
    range_bucket,
)
from invertedfiles_jl_spark.operators.search import (
    query_terms,
    query_weights,
    read_postings,
    require_weighting,
    topk,
)
from invertedfiles_jl_spark.operators.wand import rank_order


def shard_postings(index: InvertedIndex, n_shards: int = 32) -> DataFrame:
    """Re-layout postings into ``n_shards`` doc-range shards.

    Every term's list is split into doc-range-disjoint sub-lists (the salting
    scheme applied universally), then grouped per (shard, term_id), carrying
    the list-max AND per-block ``block_max`` skip metadata (recomputed per
    sub-list — the split changes block boundaries) so the serving kernel can
    prune.  Reads postings through ``search.read_postings``, so a
    compressed index (``ids_vb``) decodes before the re-layout.  Build-time
    cost: one shuffle of the index.
    Returns postings(shard, term_id, doc_ids, weights, max_weight, block_max).
    """
    doc_lo, doc_hi = doc_range(index.stats)
    flat = read_postings(index.postings, "term_id")
    if index.cfg.weighting == "binary":
        # Set-distance serving needs each candidate's |doc| (distinct-term
        # count) INSIDE its shard; binary entry weights are all 1, so the
        # weight slot carries the doc's nnz instead.  One extra build-side
        # shuffle (pairs ⋈ docs on doc_id) folded into the layout cost.
        flat = flat.drop("weight").join(
            index.docs.select("doc_id", F.col("nnz").cast("double").alias("weight")),
            "doc_id",
        )
    # bucket over the stats-recorded id range; ids outside it (stats drift)
    # raise instead of silently mis-bucketing (see build.range_bucket)
    shard = range_bucket(n_shards, doc_lo, doc_hi)
    return posting_lists(flat.withColumn("shard", shard), ["shard", "term_id"],
                         index.cfg.block_size).repartition(n_shards, "shard")


_NO_MATCH = (np.empty(0, dtype=np.int64), np.empty(0, dtype=np.float64))


def _match_rows(qmap: dict, tids: np.ndarray):
    """Expand the batch's rows against the query map in numpy: yields
    ``(qid, row_indices, qws)`` groups — every (row × matching-query)
    pair produced by ONE repeat/concatenate/argsort pass instead of a
    per-pair Python append loop.

    ``qmap`` maps term_id → ``(qids, qws)`` arrays.  One ``qmap`` lookup
    per UNIQUE term in the batch; the per-pair bookkeeping (repeat row
    ids, concat qids/qws, stable-sort by qid, split at group boundaries)
    is all C-side."""
    utids, inv = np.unique(tids, return_inverse=True)
    hits = [qmap.get(int(t), _NO_MATCH) for t in utids]
    per_term_n = np.array([len(h[0]) for h in hits], dtype=np.int64)
    counts = per_term_n[inv]
    row_of = np.repeat(np.arange(len(tids), dtype=np.int64), counts)
    if row_of.size == 0:
        return []
    qid_all = np.concatenate([hits[t][0] for t in inv])
    qw_all = np.concatenate([hits[t][1] for t in inv])
    order = np.argsort(qid_all, kind="stable")
    qid_s, qw_s, row_s = qid_all[order], qw_all[order], row_of[order]
    bounds = np.flatnonzero(np.r_[True, qid_s[1:] != qid_s[:-1]])
    ends = np.r_[bounds[1:], len(qid_s)]
    # plain-int row indices: indexing Python lists with np.int64 scalars
    # pays a per-item conversion; tolist() once is C-side
    row_l = row_s.tolist()
    return [(int(qid_s[b]), row_l[b:e], qw_s[b:e])
            for b, e in zip(bounds.tolist(), ends.tolist())]


def _gather(per_q: dict, qmap: dict, pdf) -> None:
    """Bucket the batch's matched posting rows per query: per_q[qid] =
    (qws, id_arrays, w_arrays, bm_arrays, maxws) — the argument shape of
    ``wand.maxscore_pool``.  Arrays convert to numpy once per ROW and are
    shared (not copied) across the queries matching the row's term; the
    (row × query) expansion itself is vectorized (:func:`_match_rows`),
    so interpreter work is one list-comp entry per pair, not a dict
    lookup + five appends."""
    tids = pdf["term_id"].to_numpy()
    groups = _match_rows(qmap, tids)
    if not groups:
        return
    ids_col = pdf["doc_ids"].to_numpy()
    w_col = pdf["weights"].to_numpy()
    mw_col = pdf["max_weight"].to_numpy(dtype=np.float64)
    bm_col = pdf["block_max"].to_numpy() if "block_max" in pdf.columns else None
    ids_np = [np.asarray(x, dtype=np.int64) for x in ids_col]
    ws_np = [np.asarray(x, dtype=np.float64) for x in w_col]
    bm_np = (None if bm_col is None else
             [None if x is None else np.asarray(x, dtype=np.float64)
              for x in bm_col])
    mw_l = mw_col.tolist()
    for qid, rows, qws in groups:
        b = per_q.setdefault(qid, ([], [], [], [], []))
        b[0].extend(qws.tolist())
        b[1].extend(map(ids_np.__getitem__, rows))
        b[2].extend(map(ws_np.__getitem__, rows))
        if bm_np is None:
            b[3].extend([None] * len(rows))
        else:
            b[3].extend(map(bm_np.__getitem__, rows))
        b[4].extend(map(mw_l.__getitem__, rows))


# Below this many total matched entries for one query, MaxScore's ~30
# small-numpy calls per list cost more than just scoring everything: the
# exact score-all path (one concatenate + unique + bincount) is ~30× faster
# at bench list sizes, while long posting lists (the 100-TB regime) still
# get block-max pruning.  Both paths are exact, so the cutoff is a pure
# performance knob — rank identity holds either way (pytest gate).
PRUNE_MIN_ENTRIES = 4096


def _score_all(qws, idl, wl):
    """Exact un-pruned scoring of one query's matched lists: one
    concatenate + unique + bincount — O(tot·log tot) C-side, no per-list
    Python beyond the contrib multiply."""
    ids = np.concatenate(idl)
    lens = np.fromiter(map(len, wl), dtype=np.int64, count=len(wl))
    contrib = np.concatenate(wl) * np.repeat(np.asarray(qws, np.float64), lens)
    uids, inv = np.unique(ids, return_inverse=True)
    return uids, np.bincount(inv, weights=contrib, minlength=len(uids))


def _partials(score_col: str, out_q: list, out_d: list, out_s: list):
    """A kernel's output frame (query_id, doc_id, <score_col>) from its
    per-query array chunks (none for a partition without matches)."""
    import pandas as pd

    def cat(chunks, dtype):
        return np.concatenate(chunks) if chunks else np.empty(0, dtype)

    return pd.DataFrame({"query_id": cat(out_q, np.int64),
                         "doc_id": cat(out_d, np.int64),
                         score_col: cat(out_s, np.float64)})


def _emit_topk(per_q: dict, k: int, rank_round, block_size: int,
               stats: "dict | None" = None,
               prune_min_entries: int = PRUNE_MIN_ENTRIES):
    """Per query: MaxScore + block-max prune (``wand.maxscore_pool``) over
    its gathered lists — or, when the query's total matched entries are
    below ``prune_min_entries``, the exact :func:`_score_all` fast path —
    then the shard-local top-k cut under the SAME total order as the final
    window (HALF_UP-rounded score desc, doc_id asc).  Rank-safe: both paths
    yield every doc whose rounded score can reach the rounded kth, with
    exact scores."""
    from invertedfiles_jl_spark.operators.wand import maxscore_pool

    out_q, out_d, out_s = [], [], []
    for qid, (qws, idl, wl, bml, mwl) in per_q.items():
        if sum(map(len, idl)) < prune_min_entries:
            uids, scores = _score_all(qws, idl, wl)
            st = None
        else:
            uids, scores, st = maxscore_pool(qws, idl, wl, bml, mwl,
                                             k, rank_round, block_size)
        if stats is not None and st is not None:
            stats["pruned"] += st["pruned"]
            stats["block_skipped"] += st["block_skipped"]
        if uids.size == 0:
            continue
        sel = rank_order(uids, scores, k, rank_round)  # same order as topk()
        out_q.append(np.full(len(sel), qid, dtype=np.int64))
        out_d.append(uids[sel])
        out_s.append(scores[sel])
    return _partials("score", out_q, out_d, out_s)


def _shard_kernel(gather, emit):
    """applyInPandas kernel (safe path): one call per shard group — gather
    the shard's matched rows per query, emit the shard's top-k per query.
    ``gather(per_q, pdf)`` buckets one Arrow batch's rows per query
    (:func:`_gather` / :func:`_gather_set`); ``emit(per_q)`` returns the
    cut rows (:func:`_emit_topk` / :func:`_emit_set_topk`)."""
    def kernel(pdf):
        per_q: dict = {}
        gather(per_q, pdf)
        return emit(per_q)

    return kernel


def _partition_kernel(gather, emit):
    """mapInPandas kernel (co-located fast path): gather across ALL of
    the partition's Arrow batches, emit one top-k per query per PARTITION.
    Correct whenever every doc's rows live inside one partition — which
    ``repartition(n, "shard")`` (each partition = a union of whole shards)
    guarantees; per-partition top-k under the shared total order is then
    rank-safe exactly like the per-shard cut."""
    def kernel(batches):
        per_q: dict = {}
        for pdf in batches:
            gather(per_q, pdf)
        yield emit(per_q)

    return kernel


def _gather_set(per_q: dict, qmap: dict, pdf) -> None:
    """Binary-layout gather: per_q[qid] = (id_arrays, nnz_arrays).  The
    shard's ``weights`` column carries each entry's doc nnz (see the binary
    branch of :func:`shard_postings`); arrays are shared across the queries
    matching the row's term, and the (row × query) expansion is the same
    vectorized :func:`_match_rows` pass as :func:`_gather`."""
    tids = pdf["term_id"].to_numpy()
    groups = _match_rows(qmap, tids)
    if not groups:
        return
    ids_col = pdf["doc_ids"].to_numpy()
    w_col = pdf["weights"].to_numpy()
    ids_np = [np.asarray(x, dtype=np.int64) for x in ids_col]
    nnz_np = [np.asarray(x, dtype=np.float64) for x in w_col]
    for qid, rows, _ in groups:
        b = per_q.setdefault(qid, ([], []))
        b[0].extend(map(ids_np.__getitem__, rows))
        b[1].extend(map(nnz_np.__getitem__, rows))


def _set_distance_np(dist: str, isize, qs: float, ds):
    """Vectorized set distances — same expression order as
    ``search.set_distance_expr`` so doubles match bit-for-bit (each formula
    is a single chain of IEEE ops over exactly-representable small ints)."""
    i = isize.astype(np.float64)
    if dist == "intersection":
        return 1.0 - i / np.maximum(qs, ds)
    if dist == "dice":
        return 1.0 - 2.0 * i / (qs + ds)
    if dist == "jaccard":
        return 1.0 - i / (qs + ds - i)
    if dist == "cosine_set":
        return 1.0 - i / np.sqrt(qs * ds)
    raise ValueError(f"unknown set distance {dist!r}")


def _emit_set_topk(per_q: dict, qsize: dict, k: int, dist: str, t: int,
                   rank_round):
    """Per query: one ``np.unique`` over its concatenated matched lists
    gives intersection sizes; each doc's nnz rides in the entry weight, so
    the exact set distance is computable shard-locally.  Shard-local
    bottom-k under the final window's total order (HALF_UP-rounded dist
    asc, doc_id asc) is rank-safe, as for the weighted kernel.  No pruning
    pass: a matched doc's distance needs its exact intersection count, so
    per-shard work is Σ matched-df — the same bound as the relational plan,
    minus its per-(query,doc) shuffle."""
    out_q, out_d, out_s = [], [], []
    for qid, (idl, nnzl) in per_q.items():
        ids = np.concatenate(idl)
        nnz = np.concatenate(nnzl)
        uids, first, isize = np.unique(ids, return_index=True, return_counts=True)
        ds = nnz[first]
        if t > 1:
            m = isize >= t
            uids, ds, isize = uids[m], ds[m], isize[m]
        if uids.size == 0:
            continue
        d = _set_distance_np(dist, isize, float(qsize[qid]), ds)
        sel = rank_order(uids, d, k, rank_round, ascending=True)
        out_q.append(np.full(len(sel), qid, dtype=np.int64))
        out_d.append(uids[sel])
        out_s.append(d[sel])
    return _partials("dist", out_q, out_d, out_s)


def _serve(index: InvertedIndex, rows: list, gather, emit, score_col: str,
           ascending: bool, k: int, rank_round, n_shards: int,
           sharded: DataFrame | None, assume_colocated: bool) -> DataFrame:
    """The doc-sharded serve path shared by :func:`sharded_topk` and
    :func:`sharded_set_topk`: the batch's collected (query_id, term_id, qw)
    ``rows`` become one term_id → (qids, qws) map, broadcast once per
    executor; a JVM-side semi-join prunes the shards to matched term rows;
    the kernel pair runs ``gather(per_q, qmap, pdf)`` / ``emit(per_q)``
    under mapInPandas (co-located) or groupBy(shard).applyInPandas; one
    final top-k window merges the partials on ``score_col``."""
    spark = index.postings.sparkSession
    qmap: dict = {}
    for r in rows:
        qids, qws = qmap.setdefault(int(r["term_id"]), ([], []))
        qids.append(r["query_id"])
        qws.append(r["qw"])
    if not qmap:
        return spark.createDataFrame(
            [], f"query_id long, rank int, doc_id long, {score_col} double")
    qmap = {t: (np.asarray(a, np.int64), np.asarray(b, np.float64))
            for t, (a, b) in qmap.items()}
    qmap_bc = spark.sparkContext.broadcast(qmap)

    def gather_bc(per_q, pdf):
        gather(per_q, qmap_bc.value, pdf)

    if sharded is None:
        # fresh repartition(n, "shard") output — co-location holds by
        # construction and survives the narrow broadcast join below
        sharded = shard_postings(index, n_shards)
        assume_colocated = True
    # JVM-side semi-join prune: only matched term rows reach Arrow.  An
    # Arrow-built relation is a LocalTableScan; a list-built one would be a
    # Python RDD, one Python-worker stage per batch in the broadcast
    qterms = spark.createDataFrame(
        pa.table({"term_id": pa.array(list(qmap), pa.int64())}))
    pruned = sharded.join(F.broadcast(qterms), "term_id", "left_semi")
    schema = f"query_id long, doc_id long, {score_col} double"
    if assume_colocated:
        partials = pruned.mapInPandas(_partition_kernel(gather_bc, emit), schema)
    else:
        # arbitrary layout: one groupBy(shard) shuffle of the matched rows
        # restores co-location before the kernel
        partials = pruned.groupBy("shard").applyInPandas(
            _shard_kernel(gather_bc, emit), schema)
    return topk(partials, k, score_col, ascending=ascending,
                rank_round=rank_round)


def sharded_set_topk(
    index: InvertedIndex,
    queries: DataFrame,
    k: int = 10,
    dist: str = "jaccard",
    t: int = 1,
    n_shards: int = 32,
    rank_round: "int | None" = None,
    sharded: DataFrame | None = None,
    assume_colocated: bool = False,
) -> DataFrame:
    """Batch set-distance (BinaryInvertedFile) top-k over the doc-sharded
    layout — the cluster-scale serving path for the reference's binary
    search (/root/reference/src/binvfilesearch.jl:9-34), rank-identical to
    ``search.set_distance_topk`` (pytest gate).  Same co-location contract
    as :func:`sharded_topk`; ``t`` is the xmerge t-threshold."""
    require_weighting(index, "binary")
    # binary query terms weigh 1 (the set kernel reads only the qids)
    rows = query_terms(queries, index.cfg).select(
        "query_id", "term_id", F.lit(1.0).alias("qw")).collect()
    qsize = Counter(r["query_id"] for r in rows)

    def emit(per_q):
        return _emit_set_topk(per_q, qsize, k, dist, t, rank_round)

    return _serve(index, rows, _gather_set, emit, "dist", True, k, rank_round,
                  n_shards, sharded, assume_colocated)


def load_shards(spark, path: str, n_shards: int) -> DataFrame:
    """Open a persisted shards table for serving: one repair shuffle
    restores shard co-location (parquet file splits ignore the write-time
    layout), then the table is cached so every subsequent batch scans it in
    place with ZERO per-batch shuffle (``assume_colocated=True``)."""
    return spark.read.parquet(path).repartition(n_shards, "shard").cache()


def sharded_topk(
    index: InvertedIndex,
    queries: DataFrame,
    k: int = 10,
    n_shards: int = 32,
    rank_round: "int | None" = None,
    sharded: DataFrame | None = None,
    assume_colocated: bool = False,
) -> DataFrame:
    """Batch BM25 (or dot-product) top-k over a doc-sharded layout.

    Serving mode: pass ``sharded=`` a :func:`load_shards` (or cached
    :func:`shard_postings`) result with ``assume_colocated=True`` — the
    batch then runs with no wide exchange at all (semi-join prune →
    mapInPandas → tiny final window).  Without the flag, a per-batch
    ``groupBy(shard)`` shuffle of the MATCHED rows enforces co-location for
    arbitrary inputs (e.g. a parquet re-read whose file splits scattered the
    shards).  Rank-identical to ``bm25_topk`` either way (pytest gate,
    including over a written-then-re-read shards table).
    """
    require_weighting(index, "bm25", "normcosine")
    # the query batch is tiny — collect once
    rows = query_weights(index, queries).collect()
    block_size = int(index.cfg.block_size)

    def emit(per_q):
        return _emit_topk(per_q, k, rank_round, block_size)

    return _serve(index, rows, _gather, emit, "score", False, k, rank_round,
                  n_shards, sharded, assume_colocated)
