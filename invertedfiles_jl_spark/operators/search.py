"""Plan A — relational top-k retrieval (Catalyst-optimized, oracle-friendly).

Reference semantics being reproduced (SURVEY.md §3.2):
  * ``select_posting_lists`` (/root/reference/src/invfilesearch.jl:6-27) —
    query-term → posting-list probe ≡ broadcast hash join; missing/empty
    lists skipped for free by inner-join semantics.
  * ``xmerge!`` union / t-threshold merge (/root/reference/src/winvfilesearch.jl:30,
    /root/reference/src/binvfilesearch.jl:25-30) ≡ groupBy(query, doc) agg
    (+ ``HAVING count >= t``).
  * weighted ``onmatch!`` dot product 1−Σqᵢwᵢ (/root/reference/src/winvfilesearch.jl:3-16)
    and binary ``set_distance_evaluate`` (/root/reference/src/binvfile.jl:36-45).
  * ``knnqueue(KnnSorted, k)`` bounded sorted result (/root/reference/src/InvertedFiles.jl:57)
    ≡ :func:`rank_cut` over :func:`knn_order` (score, doc_id) — tie-break
    deterministic by doc_id so ranks are reproducible (rank-identity gate).

Scale notes: the query side is always tiny → ``F.broadcast``; the join output
is only the *matched* posting entries; per-query score cardinality is bounded
by Σ df of the query's terms.  The window top-k shuffles one row per scored
(query, doc) — for throughput-critical paths use ``wand.wand_topk`` (Plan B,
bounded heaps, block-max pruning), which is rank-identical by test gate.

Shared pieces, one home each, called by every engine path (search, wand,
sharded, knn, fielded, maintenance, streaming, functions/text):
  * :func:`query_terms` — (query_id, term, qtf, term_id), counted inside
    each query row: the query side of every plan is one stage with no
    shuffle (rows that share a query_id: see its docstring).
  * :func:`read_postings` — THE posting-list reader: :func:`decode_ids`
    (``ids_vb`` → ``doc_ids`` on a compressed index) then explode to
    (…, doc_id, weight); :func:`_matched` is its broadcast-probe form.
  * :func:`bm25_idf` — the BM25 idf ln(1 + (N − df + 0.5)/(df + 0.5)).
  * :func:`query_weights` — (query_id, term_id, qw): qtf·idf for bm25,
    qtf/‖q‖ for normcosine; the query side of WAND, sharded and cosine.
  * :func:`rank_cut` — THE per-group top-n cut (one ``row_number`` window
    plus the ``rank <= n`` filter Spark pushes down as a WindowGroupLimit);
    :func:`knn_order` spells its usual (round(key) desc|asc, id asc) order.
    Every top-k, per-group cut and argmax/argmin of the engine calls it;
    the numpy kernels' twin is ``wand.rank_order``.
  * :func:`require_weighting` — the ``ValueError`` a wrong-weighting index
    raises at every scorer's entry.

The helpers are SQL expression strings (``selectExpr``, ``F.expr``): each
``F.col``/``F.lit``, Column operator or ``Window`` builder is a py4j round
trip (~0.2 ms), several hundred per call when plans are built from Columns.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from invertedfiles_jl_spark.config import IndexConfig
from invertedfiles_jl_spark.operators.build import (
    InvertedIndex,
    bm25_sat,
    term_id_col,
    term_id_sql,
)


def query_terms(queries: DataFrame, cfg: IndexConfig,
                query_col: str = "query_id", content_col: str = "content") -> DataFrame:
    """(query_id, term, qtf, term_id) — one row per distinct term of each
    query row, with tol pruning like the reference's search accept
    predicate (reference src/invfilesearch.jl:36-38).

    The count stays inside the row: the row's token array
    (:func:`tokens_sql`) explodes ``array_distinct(toks)`` and
    ``qtf = size(toks) − size(array_remove(toks, term))``.  No lambda and
    no shuffle, so the query side is one whole-stage-codegen stage.  That
    count costs O(distinct terms × tokens) per row: right for a query of a
    few words, wrong for a 100k-token file — per-document term counts come
    from ``build.doc_term_freqs`` (:func:`doc_term_profile`,
    :func:`term_vectors`, PRF mining).

    Rows that share a query_id are not merged.  Every per-query sum (the
    BM25 and dot-product scores of Plan A, WAND, sharded and the router)
    therefore ranks them like one row holding the rows' joined text; a
    count of the query's terms (the ``t`` and ``msm`` thresholds, the set
    sizes of set distances, the normcosine query norm) sees a term once
    per row that holds it.

    ``term_id`` (xxhash64, same derivation as the build side) is the join
    key for every downstream probe: at 10^9-term scale a fixed-width long
    key beats the string on shuffle width and hash cost; the string ``term``
    column stays only for human-facing outputs.
    """
    from invertedfiles_jl_spark.functions.tokenize import tokens_sql

    return queries.selectExpr(
        f"`{query_col}` AS query_id",
        f"{tokens_sql(f'`{content_col}`', cfg)} AS toks",
    ).selectExpr(
        "query_id", "toks", "explode(array_distinct(toks)) AS term",
    ).selectExpr(
        "query_id", "term",
        "CAST(size(toks) - size(array_remove(toks, term)) AS BIGINT) AS qtf",
        f"{term_id_sql()} AS term_id")


def stored_ids_col(postings: DataFrame) -> str:
    """The stored doc-id column: ``ids_vb`` (compressed) or ``doc_ids``."""
    return "ids_vb" if "ids_vb" in postings.columns else "doc_ids"


def decode_ids(postings: DataFrame) -> DataFrame:
    """``postings`` with ``doc_ids`` decoded from ``ids_vb`` when the index
    is compressed, unchanged otherwise — the one JVM-side decode step."""
    if stored_ids_col(postings) == "doc_ids":
        return postings
    from invertedfiles_jl_spark.operators.codec import decompress_postings

    return decompress_postings(postings)


def read_postings(postings: DataFrame, *keep: str,
                  weights: bool = True) -> DataFrame:
    """The posting-list reader (the reference's ``select_posting_lists``,
    src/invfilesearch.jl:6-27): decode (:func:`decode_ids`) and explode
    posting rows to (*keep, doc_id, weight) — or (*keep, doc_id) with
    ``weights=False``, which leaves the weights column unread.  Every
    engine path that flattens postings reads them here; WAND's in-kernel
    ``codec.decode_posting`` is the Python-side reader."""
    p = decode_ids(postings)
    keep = [f"`{c}`" for c in keep]
    if not weights:
        return p.selectExpr(*keep, "explode(doc_ids) AS doc_id")
    return p.selectExpr(
        *keep, "inline(arrays_zip(doc_ids, weights)) AS (doc_id, weight)")


def postings_exploded(index: InvertedIndex) -> DataFrame:
    """Flatten posting arrays back to (term, doc_id, weight) rows — the
    term string is recovered from vocab (postings carry only term_id)."""
    flat = read_postings(index.postings, "term_id")
    # no broadcast hint: vocab auto-broadcasts under the threshold at test
    # scale; at 10^9 terms AQE plans a shuffle join instead of OOMing
    return flat.join(index.vocab.select("term_id", "term"), "term_id").select(
        "term", "doc_id", "weight"
    )


def _matched(index: InvertedIndex, qterms: DataFrame) -> DataFrame:
    """Broadcast-join query terms against postings on the long ``term_id``
    and explode only the matched lists: (query_id, <qterm cols>, doc_id,
    weight).  The postings scan prunes to (term_id, doc_ids|ids_vb,
    weights) — fixed-width join key, no string column off disk; a
    compressed index decodes the matched lists only."""
    qcols = [c for c in qterms.columns if c not in ("term", "term_id")]
    joined = index.postings.join(F.broadcast(qterms), "term_id")
    return read_postings(joined, *qcols)


def _accept(m: DataFrame, accept_docs: DataFrame | None) -> DataFrame:
    """Doc-level accept-set filter — the engine's extension of the
    reference's accept-predicate hook (``search_invfile`` threads an accept
    function through the merge, /root/reference/src/invfilesearch.jl:36-44;
    there it prunes posting lists by weight, here a metadata predicate
    prunes candidate DOCS).  Semantics of filtered retrieval: idf/avgdl/N
    stay FULL-corpus (scores are unchanged), rejected docs simply never
    enter the result pool.

    Applied to the matched rows BEFORE aggregation, so rejected candidates
    are dropped ahead of the agg shuffle and the top-k window.  A left-semi
    join keyed on doc_id: Catalyst/AQE picks broadcast vs shuffle from the
    accept side's actual size (a ``lang = 'python'`` slice of a 10^12-file
    corpus is NOT broadcastable — don't hint it)."""
    if accept_docs is None:
        return m
    return m.join(accept_docs.select("doc_id"), "doc_id", "left_semi")


def require_weighting(index: InvertedIndex, *kinds: str) -> None:
    """Raise ``ValueError`` unless ``index`` was built with one of the
    ``kinds`` weightings — the caller-precondition check of every scorer
    (an explicit error, not an ``assert`` that ``python -O`` strips)."""
    if index.cfg.weighting not in kinds:
        raise ValueError(f"index not built with {' or '.join(kinds)} weighting")


def knn_order(key: str, rank_round: int | None = None,
              ascending: bool = False, id_col: str = "doc_id") -> str:
    """The ``KnnSorted`` total order: ``round(key, rank_round)`` desc (asc
    for a distance; the raw key when ``rank_round`` is None), then
    ``id_col`` asc — the SQL ``ORDER BY`` list :func:`rank_cut` takes.
    ``key`` is a SQL expression (a column name, or e.g. ``"tf * idf"``)."""
    if rank_round is not None:
        key = f"round({key}, {rank_round})"
    return f"{key} {'ASC' if ascending else 'DESC'}, `{id_col}` ASC"


def rank_cut(df: DataFrame, n: int, order: str,
             by: tuple[str, ...] = ("query_id",), rank: str = "rank",
             cols: list | None = None) -> DataFrame:
    """The first ``n`` rows of each ``by`` group under the SQL ``ORDER BY``
    list ``order`` (one global order when ``by`` is empty), numbered 1.. in
    column ``rank``; ``cols`` selects the output.  One ``row_number``
    window and the ``rank <= n`` filter that Spark's WindowGroupLimit
    pushdown turns into a bounded per-group heap below the exchange —
    never a full sort.  The engine's one rank cut: top-k, per-group cuts
    and argmax/argmin (``n = 1``)."""
    part = f"PARTITION BY {', '.join(f'`{c}`' for c in by)} " if by else ""
    out = df.withColumn(rank, F.expr(
        f"row_number() OVER ({part}ORDER BY {order})")).filter(f"`{rank}` <= {n}")
    return out if cols is None else out.select(*cols)


def topk(scored: DataFrame, k: int, score_col: str = "score",
         ascending: bool = False, rank_round: int | None = None,
         offset: int = 0) -> DataFrame:
    """Deterministic per-query top-k: (score, doc_id asc) tie-break —
    the ``KnnSorted`` rank-identity contract.

    ``rank_round`` ranks on ``round(score, n)`` instead of the raw score —
    used by oracle-compared queries so that sub-ULP summation-order
    differences between engines cannot flip a rank.

    ``offset`` — pagination (``search_after`` analog): emit ranks
    (offset, offset + k].  The ``rank <= offset + k`` conjunct still
    drives Spark's WindowGroupLimit pushdown, so page N costs one
    bounded heap of depth offset + k per query — never a full sort —
    and ranks stay globally consistent across pages (same window, same
    tie-break) rather than re-ranking per page.
    """
    out = rank_cut(scored, offset + k, knn_order(score_col, rank_round, ascending))
    if offset:
        out = out.filter(f"`rank` > {offset}")
    return out.selectExpr("query_id", "`rank`", "doc_id", f"`{score_col}`")


def _tfilter(scored: DataFrame, t: int) -> DataFrame:
    """xmerge t-threshold for weighted search: docs matched by < t query
    terms are dropped (/root/reference/src/winvfilesearch.jl:30 passes ``t``
    through to the merge for weighted indexes too).  Callers aggregate
    ``n_matched`` only when t > 1, so a t=1 ``scored`` passes through."""
    if t <= 1:
        return scored
    return scored.filter(f"n_matched >= {t}").drop("n_matched")


def bm25_topk(index: InvertedIndex, queries: DataFrame, k: int = 10,
              rank_round: int | None = None, t: int = 1,
              accept_docs: DataFrame | None = None,
              offset: int = 0) -> DataFrame:
    """BM25 top-k.  Stored weight is the saturated length-normalized tf
    (build-time fold); idf joins in from vocab at query time.

    idf = ln(1 + (N - df + 0.5)/(df + 0.5)); score = Σ qtf · idf · sat_tf.
    ``t`` — xmerge t-threshold (docs in < t query-term lists dropped).
    ``accept_docs`` — optional (doc_id) accept set for filtered retrieval
    (see :func:`_accept`): scores keep full-corpus stats, non-accepted docs
    never enter the pool.
    ``offset`` — pagination: ranks (offset, offset + k] (see :func:`topk`).
    """
    require_weighting(index, "bm25")
    scored = _bm25_scored(index, queries, accept_docs, with_matches=(t > 1))
    return topk(_tfilter(scored, t), k, "score", ascending=False,
                rank_round=rank_round, offset=offset)


def _bm25_qterms(index: InvertedIndex, queries: DataFrame) -> DataFrame:
    """(query_id, term_id, qtf, idf) — query terms with idf attached.
    vocab ⋈ broadcast(qterms) on term_id: attaches df for idf; inner join
    drops out-of-vocabulary terms (empty Q ⇒ empty result,
    src/invfilesearch.jl:44)."""
    return _with_idf(index, query_terms(queries, index.cfg))


def bm25_idf(n: float | str) -> str:
    """BM25 idf ``ln(1 + (N − df + 0.5)/(df + 0.5))`` over the ``df``
    column, as a SQL expression — the one spelling every BM25 path uses.
    ``n`` is the corpus size N: a number, or the name of a column holding
    it."""
    if not isinstance(n, str):
        n = f"{float(n)!r}D"  # a bare 1000.0 would parse as a DECIMAL
    return f"ln(1.0D + ({n} - df + 0.5D) / (df + 0.5D))"


def _with_idf(index: InvertedIndex, qt: DataFrame) -> DataFrame:
    """(query_id, term_id, <qt cols>, idf) — the vocab join of
    :func:`_bm25_qterms` for any (query_id, term, term_id, ...) relation;
    extra columns ride along."""
    cols = [c for c in qt.columns if c not in ("query_id", "term", "term_id")]
    return index.vocab.selectExpr("term_id", "df").join(
        F.broadcast(qt), "term_id").selectExpr(
        "query_id", "term_id", *cols, f"{bm25_idf(index.stats['n_docs'])} AS idf")


def query_weights(index: InvertedIndex, queries: DataFrame) -> DataFrame:
    """(query_id, term_id, qw) — the query side of the dot-product scorers
    (WAND, sharded, cosine): ``qw = qtf · idf`` on a bm25 index (OOV terms
    drop at the vocab join), ``qw = qtf / ‖q‖₂`` on a normcosine index
    (the norm spans every query term, OOV included)."""
    qt = query_terms(queries, index.cfg)
    if index.cfg.weighting == "bm25":
        return _with_idf(index, qt).selectExpr(
            "query_id", "term_id", "qtf * idf AS qw")
    qn = qt.groupBy("query_id").agg(F.expr("sqrt(sum(qtf * qtf)) AS qn"))
    return qt.join(qn, "query_id").selectExpr(
        "query_id", "term_id", "qtf / qn AS qw")


def _bm25_scored(index: InvertedIndex, queries: DataFrame,
                 accept_docs: DataFrame | None = None,
                 with_matches: bool = True) -> DataFrame:
    """BM25 scoring WITHOUT the top-k: (query_id, doc_id, score[, n_matched])
    — shared by :func:`bm25_topk` and :func:`boolean_topk`.

    ``with_matches=False`` omits the ``n_matched`` count aggregate: the
    scoring agg's partial buffers and shuffle rows are the dominant memory
    traffic of Plan A (group cardinality ≈ input rows, so map-side combine
    barely reduces), and a t=1 caller drops the count unused — 8 B/row of
    shuffle + buffer width saved on the hottest exchange."""
    m = _accept(_matched(index, _bm25_qterms(index, queries)), accept_docs)
    aggs = [F.expr("sum(qtf * idf * weight) AS score")]
    if with_matches:
        aggs.append(F.expr("count(1) AS n_matched"))
    return m.groupBy("query_id", "doc_id").agg(*aggs)


def bm25_msm_topk(index: InvertedIndex, queries: DataFrame, k: int = 10,
                  msm: float = 0.5,
                  rank_round: int | None = None) -> DataFrame:
    """BM25 with ``minimum_should_match`` as a FRACTION (Elasticsearch
    percentage form): a doc qualifies if it matches ≥ ceil(msm · m) of the
    query's m distinct in-vocab terms — the per-query generalization of the
    reference's fixed xmerge t-threshold (msm · m ≡ t when every query has
    the same m).  OOV terms don't count toward m (they can never match), so
    a partially-OOV query isn't impossible to satisfy.

    Plan shape = :func:`bm25_topk` plus one broadcast of the per-query
    requirement (Q rows)."""
    require_weighting(index, "bm25")
    qt = _bm25_qterms(index, queries)
    need = qt.groupBy("query_id").agg(
        F.ceil(F.lit(float(msm)) * F.count(F.lit(1))).cast("long").alias("need"))
    scored = _bm25_scored(index, queries)
    kept = (scored.join(F.broadcast(need), "query_id")
            .filter(F.col("n_matched") >= F.col("need"))
            .select("query_id", "doc_id", "score"))
    return topk(kept, k, "score", ascending=False, rank_round=rank_round)


def explain_bm25(index: InvertedIndex, queries: DataFrame, k: int = 10,
                 rank_round: int | None = None) -> DataFrame:
    """Score explanation (Lucene ``IndexSearcher.explain`` analog): for
    every doc in the BM25 top-k, one row PER MATCHED QUERY TERM breaking
    the score into its factors — (query_id, rank, doc_id, term, qtf, idf,
    sat_tf, contrib) with score = Σ contrib = Σ qtf · idf · sat_tf over
    the doc's rows.  ``sat_tf`` is the stored saturated length-normalized
    tf (the build-time fold), so the breakdown is exactly the arithmetic
    :func:`bm25_topk` summed.

    Plan shape: the top-k (Q·k rows, tiny) broadcasts back into the SAME
    matched-postings relation that produced it — Catalyst reuses the
    broadcast query-term join and the pruned postings scan; no second
    full-corpus pass, and the explain join touches only matched rows."""
    require_weighting(index, "bm25")
    # carry term_id through _matched (which strips the join key) so the term
    # string can be recovered for the breakdown rows
    qt = _bm25_qterms(index, queries).withColumn("qterm_id", F.col("term_id"))
    m = _matched(index, qt)
    scored = m.groupBy("query_id", "doc_id").agg(
        F.sum(F.col("qtf") * F.col("idf") * F.col("weight")).alias("score"))
    top = topk(scored, k, "score", ascending=False, rank_round=rank_round)
    detail = m.join(F.broadcast(top.select("query_id", "rank", "doc_id")),
                    ["query_id", "doc_id"])
    return (
        detail.join(
            F.broadcast(index.vocab.select(F.col("term_id").alias("qterm_id"),
                                           "term")), "qterm_id")
        .select(
            "query_id", "rank", "doc_id", "term", "qtf", "idf",
            F.col("weight").alias("sat_tf"),
            (F.col("qtf") * F.col("idf") * F.col("weight")).alias("contrib"),
        )
    )


def cosine_topk(index: InvertedIndex, queries: DataFrame, k: int = 10,
                rank_round: int | None = None, t: int = 1,
                accept_docs: DataFrame | None = None) -> DataFrame:
    """Normalized-cosine *distance* top-k — WeightedInvertedFile parity
    (distance fixed to NormCosine, /root/reference/src/winvfile.jl:30;
    dist = 1 − Σ q·w, /root/reference/src/winvfilesearch.jl:8-16).
    Ascending distance, doc_id tie-break; ``t`` as in :func:`bm25_topk`."""
    require_weighting(index, "normcosine")
    m = _accept(_matched(index, query_weights(index, queries)), accept_docs)
    aggs = [F.expr("1.0D - sum(qw * weight) AS dist")]
    if t > 1:  # same narrow-agg policy as _bm25_scored
        aggs.append(F.expr("count(1) AS n_matched"))
    scored = m.groupBy("query_id", "doc_id").agg(*aggs)
    return topk(_tfilter(scored, t), k, "dist", ascending=True, rank_round=rank_round)


SET_DISTANCES = ("jaccard", "dice", "cosine_set", "intersection")


def set_distance_expr(dist: str):
    """Closed forms from /root/reference/src/binvfile.jl:41-44.
    isize = |q ∩ d|, s1 = |q|, s2 = |d| (distinct term counts)."""
    i, s1, s2 = F.col("isize"), F.col("qsize"), F.col("dsize")
    if dist == "intersection":
        return F.lit(1.0) - i / F.greatest(s1, s2)
    if dist == "dice":
        return F.lit(1.0) - 2.0 * i / (s1 + s2)
    if dist == "jaccard":
        return F.lit(1.0) - i / (s1 + s2 - i)
    if dist == "cosine_set":
        return F.lit(1.0) - i / F.sqrt(s1 * s2)
    raise ValueError(f"unknown set distance {dist!r}")


def set_distance_topk(index: InvertedIndex, queries: DataFrame, k: int = 10,
                      dist: str = "jaccard", t: int = 1,
                      rank_round: int | None = None,
                      accept_docs: DataFrame | None = None) -> DataFrame:
    """BinaryInvertedFile search: intersection-size merge + set distance
    (/root/reference/src/binvfilesearch.jl:9-34).  ``t`` is the xmerge
    t-threshold — docs present in < t query-term lists are dropped
    (/root/reference/src/binvfilesearch.jl:25)."""
    require_weighting(index, "binary")
    qt = query_terms(queries, index.cfg).select("query_id", "term_id")  # distinct terms
    qsize = qt.groupBy("query_id").agg(F.count(F.lit(1)).alias("qsize"))
    m = _accept(_matched(index, qt.withColumn("qtf", F.lit(1))), accept_docs)
    inter = m.groupBy("query_id", "doc_id").agg(F.count(F.lit(1)).alias("isize"))
    if t > 1:
        inter = inter.filter(F.col("isize") >= t)
    scored = (
        inter.join(F.broadcast(qsize), "query_id")
        .join(index.docs.select("doc_id", F.col("nnz").alias("dsize")), "doc_id")
        .withColumn("dist", set_distance_expr(dist).cast("double"))
    )
    return topk(scored.select("query_id", "doc_id", "dist"), k, "dist", ascending=True, rank_round=rank_round)


def expand_prefixes(index: InvertedIndex, prefixes: DataFrame,
                    prefix_col: str = "prefix") -> DataFrame:
    """(query_id, term_id) — every vocab term matching each query's prefix.

    One vocab scan per batch: the tiny prefix relation broadcasts into a
    ``startswith`` theta join (BroadcastNestedLoop over vocab × Q — vocab
    is orders of magnitude smaller than postings, and at a 10^9-term
    vocabulary a sorted/bucketed vocab turns the predicate into a
    ``term >= p AND term < p || MAX_CHAR`` range probe on min/max
    row-group stats)."""
    q = prefixes.select("query_id", F.lower(F.col(prefix_col)).alias("prefix"))
    return index.vocab.select("term", "term_id").join(
        F.broadcast(q), F.col("term").startswith(F.col("prefix"))
    ).select("query_id", "term_id")


def prefix_topk(index: InvertedIndex, prefixes: DataFrame, k: int = 10,
                prefix_col: str = "prefix") -> DataFrame:
    """Prefix/wildcard top-k (Lucene ``PrefixQuery`` analog): rank docs by
    ``n_terms`` = how many DISTINCT index terms matching the prefix the doc
    contains (weighting-independent — works on any index), desc; doc_id asc
    (KnnSorted, integer score).  Expansion feeds the standard matched-
    postings path: broadcast (query_id, term_id) into the postings join,
    explode matched lists only, partial+final distinct-count.  An OOV
    prefix matches no vocab row and yields zero rows (empty-Q contract)."""
    scored = _distinct_term_matches(index, expand_prefixes(index, prefixes,
                                                           prefix_col))
    return topk(scored, k, "n_terms", ascending=False)


def _distinct_term_matches(index: InvertedIndex,
                           expanded: DataFrame) -> DataFrame:
    """(query_id, doc_id, n_terms) — distinct matched terms per doc for an
    expanded (query_id, term_id) term set: the shared engine under prefix,
    fuzzy, wildcard and regex search.  Broadcast the expansion into the
    postings join (fixed-width key, pruned scan), explode matched lists
    only, partial+final distinct-count."""
    postings = index.postings.select("term_id", stored_ids_col(index.postings))
    m = read_postings(postings.join(F.broadcast(expanded), "term_id"),
                      "query_id", "term_id", weights=False)
    return m.groupBy("query_id", "doc_id").agg(
        F.countDistinct("term_id").cast("long").alias("n_terms"))


def expand_wildcards(index: InvertedIndex, patterns: DataFrame,
                     pattern_col: str = "pattern") -> DataFrame:
    """(query_id, term_id) — every vocab term matching each query's
    ``*``-wildcard pattern (``*`` = any run of characters, anywhere:
    prefix, suffix, infix, multiple stars).  Lucene ``WildcardQuery``
    analog; completes the term-expansion family next to
    :func:`expand_prefixes` and :func:`expand_fuzzy`.

    Same broadcast theta-join shape as the others: the tiny pattern
    relation broadcasts over the vocab dimension, so one vocab scan serves
    the whole batch.  The pattern is translated to SQL ``LIKE`` inside the
    plan (escape literal ``%``/``_``/``\\``, then ``*`` → ``%``) — a pure
    column expression, so it stays in whole-stage codegen.  A leading
    non-star run can use the same sorted-vocab range probe as prefixes at
    a 10^9-term vocabulary; a leading star is an honest vocab scan — the
    vocab is the SMALL dimension, orders of magnitude under the postings."""
    pat = F.lower(F.col(pattern_col))
    pat = F.regexp_replace(pat, r"([%_\\])", r"\\$1")
    pat = F.regexp_replace(pat, r"\*", "%")
    q = patterns.select("query_id", pat.alias("like_pat"))
    return index.vocab.select("term", "term_id").join(
        F.broadcast(q), F.expr("term LIKE like_pat")
    ).select("query_id", "term_id")


def wildcard_topk(index: InvertedIndex, patterns: DataFrame, k: int = 10,
                  pattern_col: str = "pattern") -> DataFrame:
    """Wildcard top-k: rank docs by ``n_terms`` = distinct vocab terms
    matching the pattern that the doc contains, desc; doc_id asc — the
    weighting-independent contract shared with :func:`prefix_topk` /
    :func:`fuzzy_topk`.  A pattern matching no vocab term yields zero rows
    (empty-Q contract, /root/reference/src/invfilesearch.jl:44)."""
    scored = _distinct_term_matches(index, expand_wildcards(index, patterns,
                                                            pattern_col))
    return topk(scored, k, "n_terms", ascending=False)


def expand_regex(index: InvertedIndex, patterns: DataFrame,
                 pattern_col: str = "pattern") -> DataFrame:
    """(query_id, term_id) — every vocab term matching each query's regular
    expression (Lucene ``RegexpQuery`` analog; the pattern must match the
    WHOLE term, as there).  Same broadcast theta-join shape as
    :func:`expand_wildcards`: the tiny pattern relation broadcasts over the
    vocab dimension — an honest vocab scan, which is the SMALL dimension.
    Anchoring is explicit (``^…$``) so Spark's partial-match ``rlike`` and
    the oracle's ``regexp_full_match`` agree."""
    q = patterns.select(
        "query_id", F.concat(F.lit("^(?:"), F.col(pattern_col), F.lit(")$")
                             ).alias("rx"))
    return index.vocab.select("term", "term_id").join(
        F.broadcast(q), F.expr("term RLIKE rx")
    ).select("query_id", "term_id")


def regex_topk(index: InvertedIndex, patterns: DataFrame, k: int = 10,
               pattern_col: str = "pattern") -> DataFrame:
    """Regex term search top-k: docs ranked by distinct matching vocab
    terms contained (n_terms desc, doc_id asc) — the weighting-independent
    contract shared with :func:`prefix_topk` / :func:`wildcard_topk` /
    :func:`fuzzy_topk`.  A pattern matching no vocab term yields zero rows
    (empty-Q contract)."""
    scored = _distinct_term_matches(index, expand_regex(index, patterns,
                                                        pattern_col))
    return topk(scored, k, "n_terms", ascending=False)


def _fuzzy_matches(index: InvertedIndex, q: DataFrame, max_dist: int,
                   vocab_cols: list[str]) -> DataFrame:
    """(query_id, qterm, term, *vocab_cols) — every vocab term within
    ``max_dist`` edits of each (already-lowercased) ``qterm``.

    Two candidate paths, unioned, results identical by construction:

    * **trigram path** (query terms of length ≥ 3·d+3): each edit touches
      at most 3 trigram positions, so a query term with ≥ 3·d+1 trigram
      positions keeps at least one position untouched by the d edits —
      that gram survives verbatim in every term within distance d.  Hence
      a shared-distinct-trigram equi-join (vocab grams ⋈ broadcast query
      grams) is a LOSSLESS candidate prune, and the quadratic Levenshtein
      runs only on gram-sharing pairs — O(|vocab| · avg_len) hash probes
      instead of an O(|vocab| · |Q|) nested-loop, the one dictionary op
      that previously scanned the whole vocab per query term.
    * **fallback path** (shorter query terms, where the bound gives no
      guarantee): the original broadcast theta-join with the
      length-difference Levenshtein lower bound as prefilter.
    """
    from invertedfiles_jl_spark.operators.trigram import _grams_sql

    t, qt = F.col("term"), F.col("qterm")
    len_ok = F.abs(F.length(t) - F.length(qt)) <= max_dist
    lev_ok = len_ok & (F.levenshtein(t, qt) <= max_dist)
    out_cols = ["query_id", "qterm", "term", *vocab_cols]
    vocab = index.vocab.select("term", *vocab_cols)
    min_len = 3 * max_dist + 3
    q_short = q.filter(F.length("qterm") < min_len)
    q_long = q.filter(F.length("qterm") >= min_len)
    short_m = vocab.join(F.broadcast(q_short), lev_ok).select(*out_cols)
    qg = q_long.select(
        "query_id", "qterm",
        F.explode(F.expr(_grams_sql("qterm"))).alias("gram"))
    vg = vocab.select(
        "term", *vocab_cols,
        F.explode(F.expr(_grams_sql("term"))).alias("gram"))
    long_m = (
        vg.join(F.broadcast(qg), "gram")
        .filter(len_ok)                   # cheap bound BEFORE the distinct
        .select(*out_cols).distinct()     # ≥1 shared gram ⇒ candidate once
        .filter(F.levenshtein(t, qt) <= max_dist)
    )
    return short_m.unionByName(long_m)


def expand_fuzzy(index: InvertedIndex, fuzzy: DataFrame, max_dist: int = 1,
                 term_col: str = "qterm") -> DataFrame:
    """(query_id, term_id) — every vocab term within ``max_dist`` edit
    distance of each query term.  Candidate generation via
    :func:`_fuzzy_matches` (lossless shared-trigram prune for query terms
    long enough for the 3·d+3 bound, broadcast theta-join below it)."""
    q = fuzzy.select("query_id", F.lower(F.col(term_col)).alias("qterm"))
    return _fuzzy_matches(index, q, max_dist, ["term_id"]).select(
        "query_id", "term_id")


def fuzzy_topk(index: InvertedIndex, fuzzy: DataFrame, k: int = 10,
               max_dist: int = 1, term_col: str = "qterm") -> DataFrame:
    """Fuzzy term top-k (Lucene ``FuzzyQuery`` analog): expand each query
    term to its edit-distance-``max_dist`` vocab neighborhood, then rank
    docs by ``n_terms`` = distinct matched terms desc, doc_id asc — the
    same weighting-independent contract as :func:`prefix_topk`.  A query
    term with no neighborhood yields zero rows (empty-Q contract)."""
    scored = _distinct_term_matches(index, expand_fuzzy(index, fuzzy,
                                                        max_dist, term_col))
    return topk(scored, k, "n_terms", ascending=False)


def boolean_topk(index: InvertedIndex, queries: DataFrame, k: int = 10,
                 rank_round: int | None = None, must_col: str = "must",
                 should_col: str = "should",
                 must_not_col: str = "must_not") -> DataFrame:
    """Boolean retrieval (Lucene ``BooleanQuery`` analog) over the BM25
    index: a doc qualifies iff it contains EVERY ``must`` term and NO
    ``must_not`` term; the score is BM25 over the must + should terms it
    matches.  Empty/null fields relax their clause; a must term that is
    out-of-vocabulary can never be satisfied, so that query returns zero
    rows (the conjunctive analogue of the empty-Q contract — ``n_must``
    counts the RAW distinct query terms, before the vocab join drops OOV).

    Plan shape: ONE postings probe and ONE (query_id, doc_id) aggregate
    score and gate every clause together (see :func:`_boolean_scored`)."""
    scored = _boolean_scored(index, queries, must_col, should_col,
                             must_not_col)
    return topk(scored, k, "score", ascending=False, rank_round=rank_round)


def _boolean_scored(index: InvertedIndex, queries: DataFrame,
                    must_col: str = "must", should_col: str = "should",
                    must_not_col: str = "must_not",
                    slot_terms: DataFrame | None = None,
                    slot_hits: DataFrame | None = None) -> DataFrame:
    """The boolean gate + BM25 score WITHOUT the top-k: (query_id, doc_id,
    score) — shared by :func:`boolean_topk` and the query-string parser
    (operators/querystring.query_string_topk).

    One read of the (driver-sized) batch builds the role table
    (:func:`_role_table`); one matched-postings probe and one (query_id,
    doc_id) aggregate (:func:`_gated`) then yield the score and apply
    every gate.  The query-string parser adds gate SLOTS: ``queries`` may
    carry ``n_slots`` (slots each doc must fill on top of the must terms),
    ``slot_terms`` (query_id, n_slots, role, term, slot_mask) token rows
    join the role table (required-wildcard expansions carry their group's
    bit) and ``slot_hits`` (query_id, doc_id, slot_mask, is_not) rows
    (phrase hits) join the matched postings rows ahead of the aggregate.
    The batch is coalesced to one partition, so the role group-by and the
    ``n_must`` window plan no exchange."""
    require_weighting(index, "bm25")
    toks = _clause_tokens(queries, index.cfg,
                          (must_col, should_col, must_not_col))
    if slot_terms is not None:
        toks = toks.unionByName(slot_terms)
    m = _matched(index, _with_idf(index, _role_table(toks.coalesce(1))))
    if slot_hits is not None:
        m = m.unionByName(slot_hits, allowMissingColumns=True)
    return _gated(m, F.expr("sum(qtf * idf * weight) AS score"))


def _clause_tokens(queries: DataFrame, cfg: IndexConfig,
                   clause_cols=("must", "should", "must_not")) -> DataFrame:
    """(query_id, n_slots, role, term, slot_mask) token rows of the
    must / should / must_not clause strings (role 0 / 1 / 2; empty or NULL
    fields contribute nothing).  ``n_slots`` is the batch's column when
    present, else 0; clause tokens fill no slot (mask 0)."""
    from invertedfiles_jl_spark.functions.tokenize import exploded_terms

    n_slots = "n_slots" if "n_slots" in queries.columns else "0"
    texts = ", ".join(f"coalesce(`{c}`, '')" for c in clause_cols)
    clauses = queries.selectExpr(
        "query_id", f"CAST({n_slots} AS BIGINT) AS n_slots",
        f"posexplode(array({texts})) AS (role, text)")
    return exploded_terms(clauses, "query_id", "query_id", "text", cfg,
                          keep=("n_slots", "role")).selectExpr(
        "*", "0L AS slot_mask")


def _role_table(toks: DataFrame) -> DataFrame:
    """(query_id, term, term_id, qtf, is_must, is_not, slot_mask, n_must)
    — one row per distinct (query, term) of the token rows: ``qtf``
    counts its must + should occurrences (0 for a must_not-only term),
    ``slot_mask`` ORs the slots it fills.  ``n_must`` = the query's RAW
    distinct must terms + its ``n_slots``, a per-query window counted
    before any vocab join, so an OOV must term (or a slot nothing can
    fill) is unsatisfiable and an OOV must_not term excludes nothing."""
    return (
        toks.groupBy("query_id", "term").agg(
            F.expr("count(IF(role < 2, 1, NULL)) AS qtf"),
            F.expr("max(CAST(role = 0 AS INT)) AS is_must"),
            F.expr("max(CAST(role = 2 AS INT)) AS is_not"),
            F.expr("bit_or(slot_mask) AS slot_mask"),
            F.expr("max(n_slots) AS n_slots"))
        .select("query_id", "term", "qtf", "is_must", "is_not", "slot_mask",
                term_id_col("term").alias("term_id"),
                F.expr("sum(is_must) OVER (PARTITION BY query_id) + n_slots"
                       " AS n_must"))
    )


def _gated(rows: DataFrame, *aggs: Column) -> DataFrame:
    """The one gate aggregate over (query_id, doc_id) evidence rows that
    carry role-table columns (matched postings, raw doc tokens, slot hits):
    ``aggs`` plus a doc kept iff it fills all ``n_must`` (must terms hit +
    distinct slot bits set), hits no must_not term or negated slot, and
    matches at least one scoring term (qtf > 0 — slot-hit rows carry no
    qtf, so they never make a candidate on their own)."""
    return (
        rows.groupBy("query_id", "doc_id").agg(
            *aggs,
            F.expr("sum(is_must) + bit_count(bit_or(slot_mask)) AS n_hit"),
            F.expr("max(is_not) AS n_not"), F.expr("max(n_must) AS n_must"),
            F.expr("max(qtf) AS max_qtf"))
        .filter("n_hit = n_must AND n_not = 0 AND max_qtf > 0")
        .drop("n_hit", "n_not", "n_must", "max_qtf")
    )


def facet_counts(index: InvertedIndex, queries: DataFrame, meta: DataFrame,
                 facet_col: str = "lang", k: int = 10) -> DataFrame:
    """Faceted search (Elasticsearch ``terms`` aggregation analog): for each
    query, the top-``k`` values of a document metadata column among ALL
    matched candidate docs (any doc containing ≥ 1 query term — facets
    describe the full hit set, not just the scored top-k page).

    Returns (query_id, facet_rank, facet, n_docs), ranked n_docs desc /
    facet asc (deterministic).  Weighting-independent — works on any index.

    Plan shape: broadcast distinct query terms into the postings join (the
    standard :func:`_matched` probe), distinct (query, doc) candidates
    (partial+final agg bounded by Σ df of the query's terms), then a join
    against the metadata relation on doc_id (AQE picks broadcast vs shuffle
    from the candidate side's runtime size — a hot query's candidate set in
    a 10^12-doc corpus is NOT broadcastable, so no hint) and one more
    partial+final count per (query, facet value).  The facet cardinality
    per query is bounded by the facet column's distinct values, so the
    final window is tiny."""
    qt = query_terms(queries, index.cfg).select(
        "query_id", "term_id").distinct()
    cand = _matched(index, qt).select("query_id", "doc_id").distinct()
    m = cand.join(meta.select("doc_id", F.col(facet_col).alias("facet")),
                  "doc_id")
    counts = m.groupBy("query_id", "facet").agg(
        F.count(F.lit(1)).alias("n_docs"))
    return rank_cut(counts, k, knn_order("n_docs", id_col="facet"),
                    rank="facet_rank",
                    cols=["query_id", "facet_rank", "facet", "n_docs"])


def facet_histogram(index: InvertedIndex, queries: DataFrame, meta: DataFrame,
                    value_col: str, width: int) -> DataFrame:
    """Numeric histogram facet (Elasticsearch ``histogram`` aggregation
    analog): fixed-width value buckets over every matched candidate doc's
    ``value_col``.  Returns one row per non-empty bucket —
    (query_id, bucket_lo, n_docs), bucket_lo = floor(value / width) · width,
    ordered deterministically by the driver-side sort contract.

    Same candidate relation and scale shape as :func:`facet_counts`
    (distinct matched docs ⋈ doc-keyed metadata, AQE-sized join); the
    bucket key is a pure column expression, and per-query output is bounded
    by the value range / width, not the corpus."""
    qt = query_terms(queries, index.cfg).select(
        "query_id", "term_id").distinct()
    cand = _matched(index, qt).select("query_id", "doc_id").distinct()
    m = cand.join(meta.select("doc_id", F.col(value_col).alias("v")), "doc_id")
    bucket = (F.floor(F.col("v") / width) * width).cast("long")
    return (
        m.select("query_id", bucket.alias("bucket_lo"))
        .groupBy("query_id", "bucket_lo")
        .agg(F.count(F.lit(1)).alias("n_docs"))
    )


def doc_term_profile(index: InvertedIndex, corpus: DataFrame,
                     source_ids: DataFrame, n_terms: int = 5,
                     sel_round: int = 6,
                     content_col: str = "content") -> DataFrame:
    """The top-``n_terms`` tf·idf terms of each source document —
    more-like-this query extraction (Lucene ``MoreLikeThis`` analog).

    Returns (query_id = source doc_id, term_id, idf).  Term selection ranks
    raw tf × idf desc (rounded to ``sel_round`` so both engines agree at
    summation boundaries), term asc — fully deterministic.

    Plan shape: the source-id set is the query batch — small by the same
    contract as every query-side broadcast in this engine — so it
    broadcast-left-semi-joins the corpus (one map-side pass, no corpus
    shuffle; without the hint Catalyst sort-merge-joins because a local
    relation carries no size stats), tokenize + tf is the standard codegen
    path over source docs ONLY (the build's own per-doc count,
    ``build.doc_term_freqs``), idf joins in from vocab on term_id, and
    the per-doc term window is bounded by the source doc's distinct-term
    count."""
    from invertedfiles_jl_spark.operators.build import doc_term_freqs

    src = corpus.join(F.broadcast(source_ids.select("doc_id")),
                      "doc_id", "left_semi")
    tf = doc_term_freqs(src, index.cfg, content_col=content_col)
    prof = index.vocab.select("term_id", "df").join(tf, "term_id").selectExpr(
        "doc_id AS query_id", "term_id", "term", "tf",
        f"{bm25_idf(index.stats['n_docs'])} AS idf")
    return rank_cut(prof, n_terms, knn_order("tf * idf", sel_round,
                                             id_col="term"),
                    rank="trank", cols=["query_id", "term_id", "idf"])


def query_significant_terms(index: InvertedIndex, corpus: DataFrame,
                            queries: DataFrame, n: int = 10, depth: int = 50,
                            min_fg: int = 3, jlh_round: int = 6,
                            rank_round: int | None = 6,
                            content_col: str = "content") -> DataFrame:
    """Per-QUERY significant terms (Elasticsearch ``significant_text``
    analog): mine the query's top-``depth`` BM25 hits for terms
    overrepresented vs the whole corpus, JLH-ranked —

        jlh = (fg_pct − bg_pct) · (fg_pct / bg_pct),
        fg_pct = fg / n_fg (hit-set doc presence),
        bg_pct = df / N     (corpus doc presence, straight from vocab)

    Returns (query_id, rank, term, fg, bg, jlh).  The "why did this query
    match" lens: expansion candidates, drift triage, query debugging.

    Scale shape = ES's own answer (sampled significance): fg counts come
    from tokenizing the BOUNDED top-depth hit set (Q·depth docs via a
    broadcast semi-join of the forward corpus — postings never re-explode),
    bg is the vocab dimension already in the index, and the final window is
    per-query bounded."""
    from invertedfiles_jl_spark.functions.tokenize import exploded_terms

    require_weighting(index, "bm25")
    n_docs = float(index.stats["n_docs"])
    hits = bm25_topk(index, queries, k=depth, rank_round=rank_round).select(
        "query_id", "doc_id")
    n_fg = hits.groupBy("query_id").agg(F.count(F.lit(1)).alias("n_fg"))
    src = corpus.join(F.broadcast(hits.select("doc_id").distinct()),
                      "doc_id", "left_semi")
    dt = exploded_terms(src, "doc_id", "doc_id", content_col,
                        index.cfg).distinct()
    fg = (F.broadcast(hits).join(dt, "doc_id")
          .groupBy("query_id", "term")
          .agg(F.count(F.lit(1)).alias("fg")))
    fg = fg.withColumn("term_id", term_id_col("term"))
    scored = (
        fg.filter(F.col("fg") >= min_fg)
        .join(index.vocab.select("term_id", F.col("df").alias("bg")), "term_id")
        .join(F.broadcast(n_fg), "query_id")
        .withColumn("fg_pct", F.col("fg") / F.col("n_fg"))
        .withColumn("bg_pct", F.col("bg") / F.lit(n_docs))
        .filter(F.col("fg_pct") > F.col("bg_pct"))
        .withColumn("jlh", (F.col("fg_pct") - F.col("bg_pct"))
                    * (F.col("fg_pct") / F.col("bg_pct")))
    )
    return rank_cut(scored, n, knn_order("jlh", jlh_round, id_col="term"),
                    cols=["query_id", "rank", "term", "fg", "bg", "jlh"])


def term_vectors(index: InvertedIndex, corpus: DataFrame,
                 doc_ids: DataFrame, content_col: str = "content") -> DataFrame:
    """Forward doc view (Lucene ``TermVectors`` / the reference's
    per-object container, /root/reference/src/invfile.jl:22-37): every
    distinct term of each requested doc with (tf, df, tfidf),
    tfidf = tf · ln(1 + (N − df + 0.5)/(df + 0.5)).

    Plan shape mirrors :func:`doc_term_profile`: the requested id set is
    query-batch sized → broadcast left-semi against the corpus (one
    map-side pass), tokenize + tf (``build.doc_term_freqs``) over the
    requested docs ONLY, df joins in from vocab on term_id.  Postings are
    never exploded — the forward path is the cheap direction for per-doc
    views."""
    from invertedfiles_jl_spark.operators.build import doc_term_freqs

    src = corpus.join(F.broadcast(doc_ids.select("doc_id")), "doc_id",
                      "left_semi")
    tf = doc_term_freqs(src, index.cfg, content_col=content_col)
    return index.vocab.select("term_id", "df").join(tf, "term_id").selectExpr(
        "doc_id", "term", "tf", "df",
        f"tf * {bm25_idf(index.stats['n_docs'])} AS tfidf")


def more_like_this(index: InvertedIndex, corpus: DataFrame,
                   source_ids: DataFrame, k: int = 10, n_terms: int = 5,
                   rank_round: int | None = None,
                   content_col: str = "content") -> DataFrame:
    """More-like-this retrieval: for each source doc, BM25-rank the corpus
    by the source's top-``n_terms`` tf·idf terms (each with query weight 1)
    and return the top-``k`` OTHER docs (the source itself is excluded).

    Returns (query_id = source doc_id, rank, doc_id, score).  Downstream of
    the profile extraction this is exactly the Plan A shape: broadcast the
    (query, term) profile into the postings join, partial+final sum, one
    bounded top-k window."""
    require_weighting(index, "bm25")
    prof = doc_term_profile(index, corpus, source_ids, n_terms,
                            content_col=content_col)
    m = _matched(index, prof)
    scored = (
        m.filter(F.col("doc_id") != F.col("query_id"))
        .groupBy("query_id", "doc_id")
        .agg(F.sum(F.col("idf") * F.col("weight")).alias("score"))
    )
    return topk(scored, k, "score", ascending=False, rank_round=rank_round)


def boosted_bm25_topk(index: InvertedIndex, queries: DataFrame,
                      boosts: DataFrame, k: int = 10,
                      rank_round: int | None = None,
                      boost_col: str = "boost") -> DataFrame:
    """Function-score retrieval (Lucene ``FunctionScoreQuery`` analog):
    multiply each candidate's BM25 score by a per-document boost from a
    metadata relation (recency, quality, source trust, ...).  Docs absent
    from ``boosts`` keep their raw score (neutral boost 1.0); a boost of 0
    keeps the doc in the pool with score 0 (use an accept set to EXCLUDE).

    Plan shape: the boost join lands AFTER the scoring aggregation, so it
    touches only candidate rows (Q × matched docs), never the postings —
    at 100 TB the boost table is a doc-keyed dimension and AQE picks
    broadcast vs shuffle from its real size."""
    require_weighting(index, "bm25")
    scored = _bm25_scored(index, queries, with_matches=False)
    b = boosts.select("doc_id",
                      F.col(boost_col).cast("double").alias("_boost"))
    out = (scored.join(b, "doc_id", "left")
           .select("query_id", "doc_id",
                   (F.col("score") * F.coalesce(F.col("_boost"), F.lit(1.0))
                    ).alias("score")))
    return topk(out, k, "score", ascending=False, rank_round=rank_round)


def collapse_topk(index: InvertedIndex, queries: DataFrame, meta: DataFrame,
                  group_col: str, k: int = 10,
                  rank_round: int | None = None) -> DataFrame:
    """Field-collapsed BM25 top-k (Elasticsearch ``collapse`` analog): at
    most ONE doc — the best-scoring — per (query, group), then the usual
    bounded top-k over the collapsed candidates.  The diversification
    primitive for result pages that must not be swamped by one repo /
    source / near-dup cluster.

    Returns (query_id, rank, doc_id, score, group_key).  Both the collapse
    window and the final window rank on the repo-wide identity
    (round(score, rank_round) desc, doc_id asc), so collapsed output is
    deterministic and a group's representative is stable across engines.

    Plan shape: scoring is :func:`bm25_topk`'s aggregation unchanged; the
    group key joins onto CANDIDATE rows only (Q × matched docs — a
    doc-keyed dimension lookup, AQE-sized, never touching postings), and
    the collapse window shuffles those same candidate rows keyed
    (query_id, group) — strictly less traffic than the uncollapsed plan's
    top-k window at equal candidate count, with Spark's WindowGroupLimit
    pushdown bounding both windows."""
    require_weighting(index, "bm25")
    scored = _bm25_scored(index, queries, with_matches=False)
    g = scored.join(meta.select("doc_id", F.col(group_col).alias("group_key")),
                    "doc_id")
    best = rank_cut(g, 1, knn_order("score", rank_round),
                    by=("query_id", "group_key"), rank="rn").drop("rn")
    ranked = topk(best.select("query_id", "doc_id", "score"), k, "score",
                  ascending=False, rank_round=rank_round)
    # recover the group key: ranked is bounded Q·k by construction → broadcast
    return F.broadcast(ranked).join(
        best.select("query_id", "doc_id", "group_key"),
        ["query_id", "doc_id"]).select(
        "query_id", "rank", "doc_id", "score", "group_key")


def expand_synonyms(queries: DataFrame, synonyms: DataFrame,
                    cfg: IndexConfig) -> DataFrame:
    """(query_id, term, term_id, qw) — query terms expanded through a
    (term, syn, weight) thesaurus: each original term contributes itself at
    weight qtf plus every synonym at qtf · weight; weights reaching the
    same term accumulate (rounded to 9 dp so both engines carry identical
    doubles into scoring regardless of summation order).  Synonyms of
    absent query terms and synonym targets outside the vocabulary are
    dropped downstream by the usual inner joins.

    The thesaurus is query-metadata-sized → broadcast; expansion never
    touches postings, so the extra cost over plain BM25 is only the wider
    query-term relation (≤ |q| · (1 + fanout) rows per query)."""
    qt = query_terms(queries, cfg).drop("term_id")
    orig = qt.select("query_id", "term", F.col("qtf").cast("double").alias("qw"))
    via = qt.join(F.broadcast(synonyms), "term").select(
        "query_id", F.col("syn").alias("term"),
        (F.col("qtf") * F.col("weight")).alias("qw"))
    ex = orig.unionByName(via).groupBy("query_id", "term").agg(
        F.round(F.sum("qw"), 9).alias("qw"))
    return ex.withColumn("term_id", term_id_col("term"))


def synonym_bm25_topk(index: InvertedIndex, queries: DataFrame,
                      synonyms: DataFrame, k: int = 10,
                      rank_round: int | None = None) -> DataFrame:
    """BM25 top-k with query-time synonym expansion (Lucene
    ``SynonymGraphFilter`` analog, weighted):

        score = Σ_term qw · idf · sat_tf,   qw = qtf + Σ_sources qtf_src · w

    Expansion is query-side only — the index is untouched, so one index
    serves every thesaurus (the standard trade against index-time synonym
    ingestion, which bakes one thesaurus into the postings).  Plan shape is
    exactly :func:`bm25_topk` with a wider broadcast query-term relation."""
    require_weighting(index, "bm25")
    n = float(index.stats["n_docs"])
    ex = expand_synonyms(queries, synonyms, index.cfg)
    qt = index.vocab.select("term_id", "df").join(F.broadcast(ex), "term_id").select(
        "query_id", "term_id", F.expr(f"qw * {bm25_idf(n)} AS qwi"))
    m = _matched(index, qt)
    scored = m.groupBy("query_id", "doc_id").agg(
        F.sum(F.col("qwi") * F.col("weight")).alias("score"))
    return topk(scored, k, "score", ascending=False, rank_round=rank_round)


def prf_bm25_topk(index: InvertedIndex, corpus: DataFrame,
                  queries: DataFrame, k: int = 10, fb_docs: int = 5,
                  fb_terms: int = 5, beta: float = 0.5,
                  rank_round: int | None = None, sel_round: int = 6,
                  content_col: str = "content") -> DataFrame:
    """Pseudo-relevance feedback (RM3-style two-pass retrieval): run BM25,
    mine the top-``fb_docs`` hits for the ``fb_terms`` strongest expansion
    terms (tf·idf over the feedback set, original query terms excluded),
    then re-score with the expanded query — original terms keep weight
    ``qtf``, expansion terms get weight ``beta``:

        score = Σ_orig qtf · idf · sat_tf  +  Σ_exp β · idf · sat_tf

    Deterministic end-to-end: pass-1 ranks on the standard
    (round(score, rank_round), doc_id) key, term selection on
    (round(tf·idf, sel_round) desc, term asc).  A fully-OOV query has no
    feedback docs, hence no expansion, hence zero rows (empty-Q contract).

    Plan shape: pass 1 is :func:`bm25_topk` (Q·fb_docs rows out);
    feedback-doc contents come from the CORPUS (the forward index) via a
    broadcast join — Q·fb_docs docs tokenized, never the postings
    re-exploded; the combined (query, term, weight) relation (≤ Q·(|q| +
    fb_terms) rows) broadcasts into the standard matched-postings pass.
    Two corpus-scale passes total — the price of feedback, not a scale
    hazard."""
    from invertedfiles_jl_spark.operators.build import doc_term_freqs

    require_weighting(index, "bm25")
    fb = bm25_topk(index, queries, k=fb_docs, rank_round=rank_round).select(
        "query_id", "doc_id")

    # expansion-term mining: per-doc tf of the feedback docs' raw content,
    # summed over each query's feedback set
    src = corpus.join(F.broadcast(fb.select("doc_id").distinct()), "doc_id",
                      "left_semi")
    ftf = (doc_term_freqs(src, index.cfg, content_col=content_col)
           .join(F.broadcast(fb), "doc_id")
           .groupBy("query_id", "term_id", "term")
           .agg(F.expr("sum(tf) AS tf")))
    qt_orig = query_terms(queries, index.cfg)
    cand = (
        index.vocab.select("term_id", "df").join(ftf, "term_id")
        .join(F.broadcast(qt_orig.select("query_id", "term_id")),
              ["query_id", "term_id"], "left_anti")
        .selectExpr("query_id", "term_id", "term", "tf",
                    f"{bm25_idf(index.stats['n_docs'])} AS idf")
    )
    expansion = rank_cut(
        cand, fb_terms, knn_order("tf * idf", sel_round, id_col="term"),
        rank="trank",
        cols=["query_id", "term_id", F.lit(float(beta)).alias("w"), "idf"])

    orig = _bm25_qterms(index, queries).select(
        "query_id", "term_id", F.col("qtf").cast("double").alias("w"), "idf")
    combined = orig.unionByName(expansion)
    m = _matched(index, combined)
    scored = m.groupBy("query_id", "doc_id").agg(
        F.sum(F.col("w") * F.col("idf") * F.col("weight")).alias("score"))
    return topk(scored, k, "score", ascending=False, rank_round=rank_round)


def suggest_corrections(index: InvertedIndex, fuzzy: DataFrame, k: int = 3,
                        max_dist: int = 2,
                        term_col: str = "qterm") -> DataFrame:
    """Did-you-mean spell correction: per query term, the top-``k``
    vocabulary terms within ``max_dist`` edits, ranked edit distance asc,
    collection frequency desc, term asc — the standard "closest, then most
    common" suggestion policy (Lucene ``DirectSpellChecker`` analog).

    Returns (query_id, rank, term, dist, cf).  An exact vocab hit ranks
    first at dist 0 (callers typically suppress suggestions then); a term
    with no neighborhood yields zero rows.

    Pure vocab operation like :func:`suggest_terms`: candidate pairs via
    :func:`_fuzzy_matches` (lossless shared-trigram prune for query terms
    of length ≥ 3·d+3, broadcast theta join with the length-difference
    Levenshtein lower bound below it), one bounded per-term window;
    postings are never touched."""
    q = fuzzy.select("query_id", F.lower(F.col(term_col)).alias("qterm"))
    m = _fuzzy_matches(index, q, max_dist, ["cf"]).select(
        "query_id", "term", "cf",
        F.levenshtein(F.col("term"), F.col("qterm")).cast("int")
        .alias("dist"))
    return rank_cut(m, k, f"dist ASC, {knn_order('cf', id_col='term')}",
                    cols=["query_id", "rank", "term", "dist", "cf"])


def suggest_terms(index: InvertedIndex, prefixes: DataFrame, k: int = 10,
                  prefix_col: str = "prefix") -> DataFrame:
    """Autocomplete: top-``k`` vocabulary terms per prefix by collection
    frequency desc, term asc.  Pure vocab operation — one broadcast
    ``startswith`` theta join (see :func:`expand_prefixes` for the 10^9-term
    range-probe note) and a per-prefix WindowGroupLimit; postings are never
    touched."""
    q = prefixes.select("query_id", F.lower(F.col(prefix_col)).alias("prefix"))
    m = index.vocab.select("term", "cf").join(
        F.broadcast(q), F.col("term").startswith(F.col("prefix")))
    return rank_cut(m, k, knn_order("cf", id_col="term"),
                    cols=["query_id", "rank", "term", "cf"])


def lm_dirichlet_topk(index: InvertedIndex, queries: DataFrame, k: int = 10,
                      mu: float = 2000.0,
                      rank_round: int | None = None) -> DataFrame:
    """Query-likelihood language-model retrieval with Dirichlet smoothing
    (Zhai & Lafferty 2001) — a second scoring family beside BM25, served
    from a raw-tf index (``weighting="tf"``):

        score(q, d) = Σ_{t ∈ q∩d} qtf_t · ln(1 + tf_td · T / (μ · cf_t))
                      + |q| · ln(μ / (μ + len_d))

    where T = Σ doc_len (collection token count), cf_t = collection
    frequency from vocab, and |q| = Σ qtf over the query's IN-VOCAB terms
    (an OOV term has p(t|C) = 0 — it cannot be smoothed and is dropped,
    which also preserves the engine-wide empty-Q ⇒ empty-result contract).
    Matched-docs-only semantics, like every sparse top-k here: a doc
    sharing no term with q never enters the pool.

    Plan shape = :func:`bm25_topk` plus one AQE-sized join of the scored
    candidates against the doc-stats relation for ``doc_len`` (candidates
    are bounded by Σ df, NOT broadcastable for a hot query at 10^12 docs)
    and one broadcast of the per-query |q| row.  The smoothed-background
    term factors through ln(1 + tf·T/(μ·cf)) so Spark and the oracle
    evaluate literally the same IEEE expression tree."""
    require_weighting(index, "tf")
    total_tokens = int(index.docs.agg(F.sum("doc_len")).first()[0] or 0)
    qt = query_terms(queries, index.cfg)
    # in-vocab filter + cf attach (inner join drops OOV)
    qv = index.vocab.select("term_id", "cf").join(F.broadcast(qt), "term_id").select(
        "query_id", "term_id", "qtf", "cf")
    qlen = qv.groupBy("query_id").agg(F.sum("qtf").alias("qlen"))
    m = _matched(index, qv)
    part = m.groupBy("query_id", "doc_id").agg(
        F.sum(
            F.col("qtf")
            * F.log(F.lit(1.0) + F.col("weight") * F.lit(float(total_tokens))
                    / (F.lit(float(mu)) * F.col("cf")))
        ).alias("part"))
    scored = (
        part.join(index.docs.select("doc_id", "doc_len"), "doc_id")
        .join(F.broadcast(qlen), "query_id")
        .select(
            "query_id", "doc_id",
            (F.col("part")
             + F.col("qlen") * F.log(F.lit(float(mu))
                                     / (F.lit(float(mu)) + F.col("doc_len")))
             ).alias("score"))
    )
    return topk(scored, k, "score", ascending=False, rank_round=rank_round)


def tfidf_topk(index: InvertedIndex, queries: DataFrame, k: int = 10,
               rank_round: int | None = None) -> DataFrame:
    """Classic SMART lnc.ltc tf-idf cosine retrieval over a raw-tf index:

        doc side  (lnc):  w_d(t) = (1 + ln tf_td) / ‖(1 + ln tf_d·)‖₂
        query side (ltc): w_q(t) = (1 + ln qtf_t) · ln(N / df_t),
                          normalized by the query's own L2 norm
        score = Σ w_q(t) · w_d(t)   (cosine; descending)

    The lnc norm is over ALL of the doc's terms, so it cannot be folded at
    build time per-posting the way BM25's sat_tf is (it changes when any
    term of the doc changes) — it is derived with ONE scan over the cached
    postings table: explode → partial+final groupBy(doc_id) L2 of
    (1 + ln tf).  At serve scale that derived (doc_id, lnc_norm) relation
    is built once per index version alongside doc-stats, not per query.
    Query-side weights are Q-row tiny and broadcast.  OOV query terms drop
    via the vocab inner join (idf undefined at df = 0) and are likewise
    excluded from the query norm, keeping the score a true cosine of the
    two realizable vectors."""
    require_weighting(index, "tf")
    n = float(index.stats["n_docs"])
    one_plus_ln = F.lit(1.0) + F.log(F.col("weight"))
    lnc_norm = (
        read_postings(index.postings)
        .groupBy("doc_id")
        .agg(F.sqrt(F.sum(one_plus_ln * one_plus_ln)).alias("lnc_norm"))
    )
    qt = query_terms(queries, index.cfg)
    qw = index.vocab.select("term_id", "df").join(F.broadcast(qt), "term_id").select(
        "query_id", "term_id",
        ((F.lit(1.0) + F.log(F.col("qtf")))
         * F.log(F.lit(n) / F.col("df"))).alias("qw"))
    qnorm = qw.groupBy("query_id").agg(
        F.sqrt(F.sum(F.col("qw") * F.col("qw"))).alias("qn"))
    qn = qw.join(qnorm, "query_id").select(
        "query_id", "term_id", (F.col("qw") / F.col("qn")).alias("qtf"))
    m = _matched(index, qn)  # qtf carries the normalized query weight
    dot = m.groupBy("query_id", "doc_id").agg(
        F.sum(F.col("qtf") * (F.lit(1.0) + F.log(F.col("weight")))).alias("dot"))
    scored = dot.join(lnc_norm, "doc_id").select(
        "query_id", "doc_id", (F.col("dot") / F.col("lnc_norm")).alias("score"))
    return topk(scored, k, "score", ascending=False, rank_round=rank_round)


def search_after_topk(index: InvertedIndex, queries: DataFrame,
                      cursor: DataFrame, k: int = 10,
                      rank_round: int = 6) -> DataFrame:
    """Cursor-based deep pagination (Elasticsearch ``search_after`` analog)
    for BM25: given each query's last-seen (score, doc_id) boundary, return
    the next ``k`` docs strictly after it in (round(score, rank_round)
    DESC, doc_id ASC) order.

    Unlike OFFSET pagination (:func:`topk` with ``offset``), the window
    never ranks past depth ``k``: the boundary predicate drops everything
    at-or-before the cursor BEFORE the window, so page 1000 costs the same
    bounded heap as page 1 — the scalable way to walk deep result sets.
    The cursor comparison uses the ROUNDED score (the same key the rank
    ordering uses), so the page boundary is exactly reproducible across
    engines.  ``cursor``: (query_id, after_score, after_doc_id), one row
    per query (Q rows → broadcast).  Emitted ``rank`` restarts at 1 for
    the page (ranks are cursor-relative by design — absolute depth is
    unknowable without counting, which is the thing search_after avoids)."""
    require_weighting(index, "bm25")
    scored = _bm25_scored(index, queries, with_matches=False)
    key = F.round(F.col("score"), rank_round)
    ck = F.round(F.col("after_score"), rank_round)
    after = scored.join(F.broadcast(cursor), "query_id").filter(
        (key < ck) | ((key == ck) & (F.col("doc_id") > F.col("after_doc_id"))))
    return topk(after.select("query_id", "doc_id", "score"), k, "score",
                ascending=False, rank_round=rank_round)


def facet_top_hits(index: InvertedIndex, queries: DataFrame, meta: DataFrame,
                   facet_col: str = "lang", k_buckets: int = 5,
                   k_hits: int = 2,
                   rank_round: int | None = None) -> DataFrame:
    """Per-facet-bucket top hits (Elasticsearch ``top_hits`` sub-aggregation
    analog): for each query, take the ``k_buckets`` largest buckets of
    ``facet_col`` over the matched candidate set (same bucket ranking as
    :func:`facet_counts` — n_docs desc, facet asc) and emit each bucket's
    best ``k_hits`` docs by BM25 (score desc, doc_id asc).

    Returns (query_id, facet, hit_rank, doc_id, score).

    Plan shape: ONE scoring pass (:func:`_bm25_scored`) feeds both the
    bucket ranking and the hit ranking — candidates ⋈ doc-keyed metadata
    (AQE-sized), a per-(query, facet) count + window for the bucket cut,
    then a (query, facet)-partitioned WindowGroupLimit for the hits.  Per
    query the output is ≤ k_buckets · k_hits rows; nothing rescans
    postings."""
    require_weighting(index, "bm25")
    scored = _bm25_scored(index, queries, with_matches=False)
    m = scored.join(meta.select("doc_id", F.col(facet_col).alias("facet")),
                    "doc_id")
    counts = m.groupBy("query_id", "facet").agg(
        F.count(F.lit(1)).alias("n_docs"))
    top_buckets = rank_cut(counts, k_buckets, knn_order("n_docs", id_col="facet"),
                           rank="facet_rank", cols=["query_id", "facet"])
    hits = m.join(top_buckets, ["query_id", "facet"], "left_semi")
    return rank_cut(hits, k_hits, knn_order("score", rank_round),
                    by=("query_id", "facet"), rank="hit_rank",
                    cols=["query_id", "facet", "hit_rank", "doc_id", "score"])


def federated_bm25_topk(segments: list[InvertedIndex], queries: DataFrame,
                        k: int = 10, rank_round: int | None = None,
                        t: int = 1) -> DataFrame:
    """Segment-federated BM25 — the Lucene/Elasticsearch serving
    architecture: the corpus lives in N independently-built index segments
    (e.g. a large cold segment plus small fresh ones from the streaming
    appender) and a query fans out to every segment, scores with GLOBAL
    collection statistics, and merges one top-k.  Rank-identical to a
    single monolithic index over the union corpus — segmentation must be
    invisible (the driver row's oracle is literally the plain BM25 SQL).

    Why segments must be raw-tf (``weighting="tf"``): the bm25 build folds
    sat_tf with the SEGMENT's avgdl at build time, which poisons federated
    scores; with raw tf stored, sat_tf is computed here with the global
    avgdl (a pure column expression over tf and doc_len), so adding a
    segment never requires re-folding the others — the whole point of
    segmented maintenance.  Contract: doc_ids are globally unique across
    segments.

    Scale shape: global stats are one summed vocab aggregation (df is
    additive across disjoint segments) plus one long-sum per segment's
    doc-stats — no data-sized collect.  Per segment the probe is the
    standard broadcast ``_matched`` join; branches union BEFORE the single
    (query, doc) aggregation, so the plan is S broadcast-join branches →
    Union → one partial+final agg → WindowGroupLimit: per-batch shuffle
    rows stay bounded by Σ df over segments = the monolithic bound."""
    if not segments:
        raise ValueError("need at least one segment")
    if any(s.cfg.weighting != "tf" for s in segments):
        raise ValueError("federated segments must store raw tf")
    cfg = segments[0].cfg
    n_g = float(sum(s.stats["n_docs"] for s in segments))
    total_len = sum(
        int(s.docs.agg(F.sum("doc_len")).first()[0] or 0) for s in segments)
    avgdl_g = (total_len / n_g) if n_g else 1.0

    # global df: segment vocabs are disjoint doc sets → df adds
    gvocab = None
    for s in segments:
        v = s.vocab.select("term_id", "df")
        gvocab = v if gvocab is None else gvocab.unionByName(v)
    gvocab = gvocab.groupBy("term_id").agg(F.sum("df").alias("df"))

    qt = query_terms(queries, cfg)
    qterms = gvocab.join(F.broadcast(qt), "term_id").select(
        "query_id", "term_id", "qtf", F.expr(f"{bm25_idf(n_g)} AS idf"))

    matched = None
    for s in segments:
        m = _matched(s, qterms).join(
            s.docs.select("doc_id", "doc_len"), "doc_id")
        matched = m if matched is None else matched.unionByName(m)
    sat = bm25_sat(cfg, avgdl_g, tf="weight")
    aggs = [F.expr(f"sum(qtf * idf * {sat}) AS score")]
    if t > 1:  # same narrow-agg policy as _bm25_scored
        aggs.append(F.expr("count(1) AS n_matched"))
    scored = matched.groupBy("query_id", "doc_id").agg(*aggs)
    return topk(_tfilter(scored, t), k, "score", ascending=False,
                rank_round=rank_round)
