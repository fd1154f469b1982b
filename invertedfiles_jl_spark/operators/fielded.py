"""BM25F — fielded BM25 over the north-rule corpus shape.

The north rule's input is ``(repo, path, commit, lang, content)``; real code
search ranks a file where the query term appears in its PATH above one where
it only appears in the body.  BM25F (Zaragoza et al., "Microsoft Cambridge
at TREC-13", the simple variant) does this principled-ly: per-field
length-normalized term frequencies are combined with field weights BEFORE
the non-linear saturation, so evidence across fields reinforces instead of
saturating per-field:

    tf~(t,d,f)  = tf(t,d,f) / (1 - b_f + b_f * len(d,f) / avglen_f)
    wtf(t,d)    = sum_f  w_f * tf~(t,d,f)
    score(q,d)  = sum_t  qtf * idf(t) * wtf * (k1 + 1) / (k1 + wtf)

idf is document-level (a doc counts once however many fields hit) and uses
the same Robertson form as the unfielded engine
(:func:`search._bm25_qterms`); the ``(k1 + 1)`` factor keeps the score scale
identical to :func:`search.bm25_topk` when only one field with weight 1
exists — with ``fields=[("content", 1.0, 0.75)]`` BM25F IS BM25.

Plan shape (all JVM-side, one pass per field over the corpus):
per-field tokenize → explode → partial+final (doc, field, term, tf) agg,
union the fields, broadcast-join the query batch on the term string, combine
fields per (query, doc, term) then saturate, aggregate per (query, doc),
bounded top-k window.  Field-length stats are one tiny broadcast aggregate.
At 100 TB the per-field tf relations would be the SPIMI posting tables the
batch engine already persists (one per field) — this module expresses the
query-time math; the storage layout is shared with ``operators.build``.

No reference analog (the reference scores a single vector space,
/root/reference/src/winvfile.jl); this is a capability extension along the
north rule's input shape.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from invertedfiles_jl_spark.operators.search import bm25_idf, topk

#: (field column, weight w_f, length-normalization b_f) — the default code
#: search profile: a path hit is worth 2x a body hit and path length barely
#: penalizes (paths are uniformly short).
DEFAULT_FIELDS: list[tuple[str, float, float]] = [
    ("path", 2.0, 0.5),
    ("content", 1.0, 0.75),
]

#: path tokenizer: lowercase, split on every non-alphanumeric run — turns
#: "src/mod7/file12.txt" into [src, mod7, file12, txt].  Mirrored in DuckDB
#: by plans.oracles.bm25f_topk_sql.
PATH_TOKENS_SQL = "filter(split(lower({col}), '[^a-z0-9]+'), t -> t != '')"


def field_tokens_sql(field: str, col: str) -> str:
    """Tokenizer expression for a field: non-alnum split for ``path``,
    whitespace split (the engine's standard tokenizer shape) otherwise."""
    if field == "path":
        return PATH_TOKENS_SQL.format(col=col)
    return f"filter(split(lower({col}), '\\\\s+'), t -> t != '')"


def _field_tf(corpus: DataFrame, field: str) -> DataFrame:
    """(doc_id, field, term, tf) for one field — partial+final count agg."""
    toks = corpus.select(
        "doc_id", F.explode(F.expr(field_tokens_sql(field, field))).alias("term"))
    return toks.groupBy("doc_id", "term").agg(
        F.count(F.lit(1)).cast("double").alias("tf")
    ).select("doc_id", F.lit(field).alias("field"), "term", "tf")


def dismax_topk(corpus: DataFrame, queries: DataFrame, k: int = 10,
                tie: float = 0.3,
                fields: list[tuple[str, float, float]] | None = None,
                k1: float = 1.2, rank_round: int | None = None) -> DataFrame:
    """Disjunction-max fielded retrieval (Lucene ``DisjunctionMaxQuery``):
    each field is scored as an INDEPENDENT BM25 (its own df, idf and length
    stats — the "fields as separate indexes" model, where BM25F instead
    pools evidence before saturation), then per (query, doc)

        score = max_f s_f + tie · (Σ_f s_f − max_f s_f)

    — the best field dominates, other fields only tie-break.  ``fields``
    reuses the (column, weight, b) triples; the weight multiplies the
    field's whole score (Lucene per-field boost).  Per-field scores round
    to 9 dp before the combine so both engines max/sum identical doubles.

    Plan shape: one tokenize pass per field over the corpus (the same
    SPIMI-persistable relations as :func:`bm25f_topk`), each field's
    scoring is exactly the Plan A aggregation, and the combine is one
    groupBy over the union of per-field candidate rows (bounded by
    Σ_f matched-df)."""
    fields = DEFAULT_FIELDS if fields is None else fields
    n_docs = float(corpus.count())

    qt = queries.select(
        "query_id",
        F.explode(F.expr(field_tokens_sql("content", "content"))).alias("term"),
    ).groupBy("query_id", "term").agg(F.count(F.lit(1)).alias("qtf"))

    sides = []
    for fname, w, b in fields:
        tf = _field_tf(corpus, fname).drop("field")
        flen = tf.groupBy("doc_id").agg(F.sum("tf").alias("flen"))
        avg = flen.agg((F.sum("flen") / F.lit(n_docs)).alias("avglen"))
        dfr = tf.groupBy("term").agg(
            F.count(F.lit(1)).cast("double").alias("df"))
        qterm = qt.join(dfr, "term").select(
            "query_id", "term", "qtf", F.expr(f"{bm25_idf(n_docs)} AS idf"))
        # per-field BM25 over the field's avglen COLUMN: not
        # build.bm25_sat, which takes one frozen avgdl
        contrib = (
            tf.join(F.broadcast(qterm), "term")
            .join(flen, "doc_id")
            .crossJoin(F.broadcast(avg))
            .select(
                "query_id", "doc_id",
                (
                    F.col("qtf") * F.col("idf")
                    * (F.col("tf") * (k1 + 1.0)
                       / (F.col("tf") + k1 * (F.lit(1.0) - b
                          + b * F.col("flen") / F.col("avglen"))))
                ).alias("contrib"),
            )
        )
        sides.append(
            contrib.groupBy("query_id", "doc_id").agg(
                F.round(F.lit(float(w)) * F.sum("contrib"), 9).alias("s")))

    u = sides[0]
    for s in sides[1:]:
        u = u.unionByName(s)
    comb = u.groupBy("query_id", "doc_id").agg(
        F.max("s").alias("mx"), F.sum("s").alias("tot"))
    scored = comb.select(
        "query_id", "doc_id",
        (F.col("mx") + F.lit(float(tie)) * (F.col("tot") - F.col("mx"))
         ).alias("score"))
    return topk(scored, k, "score", ascending=False, rank_round=rank_round)


def bm25f_topk(corpus: DataFrame, queries: DataFrame, k: int = 10,
               fields: list[tuple[str, float, float]] | None = None,
               k1: float = 1.2, rank_round: int | None = None) -> DataFrame:
    """Fielded BM25 top-k: (query_id, rank, doc_id, score).

    ``fields`` — list of (corpus column, weight w_f, b_f).  ``queries`` —
    (query_id, content), whitespace-tokenized.  OOV queries yield zero rows
    (empty-Q contract); docs count once in df however many fields match.
    """
    fields = DEFAULT_FIELDS if fields is None else fields
    n_docs = float(corpus.count())

    tf = None
    for fname, _, _ in fields:
        ftf = _field_tf(corpus, fname)
        tf = ftf if tf is None else tf.unionByName(ftf)

    # per-field length stats: len(d,f) = Σ tf; avglen_f over ALL docs
    # (a doc missing a field counts as length 0 — N is the global corpus
    # size, so the stats broadcast is F rows, driver-free)
    flen = tf.groupBy("doc_id", "field").agg(F.sum("tf").alias("flen"))
    avglen = flen.groupBy("field").agg(
        (F.sum("flen") / F.lit(n_docs)).alias("avglen"))

    # field params as a tiny literal relation
    spark = corpus.sparkSession
    params = spark.createDataFrame(
        [(f, float(w), float(b)) for f, w, b in fields],
        "field string, w double, b double")

    # document-level df: a doc counts once across fields
    df_rel = tf.select("term", "doc_id").distinct().groupBy("term").agg(
        F.count(F.lit(1)).cast("double").alias("df"))

    # query terms (whitespace tokenizer, same shape as the content field)
    qt = queries.select(
        "query_id",
        F.explode(F.expr(field_tokens_sql("content", "content"))).alias("term"),
    ).groupBy("query_id", "term").agg(F.count(F.lit(1)).alias("qtf"))
    qterm = qt.join(df_rel, "term").select(
        "query_id", "term", "qtf", F.expr(f"{bm25_idf(n_docs)} AS idf"))

    # tf~ then wtf: combine fields per (query, doc, term) BEFORE saturation
    # — BM25F saturates the pooled wtf, a different formula from
    # build.bm25_sat
    norm = (
        tf.join(F.broadcast(qterm), "term")
        .join(flen, ["doc_id", "field"])
        .join(F.broadcast(avglen), "field")
        .join(F.broadcast(params), "field")
        .select(
            "query_id", "doc_id", "term", "qtf", "idf",
            (F.col("w") * F.col("tf")
             / (F.lit(1.0) - F.col("b")
                + F.col("b") * F.col("flen") / F.col("avglen"))).alias("wtf_f"),
        )
    )
    per_term = norm.groupBy("query_id", "doc_id", "term", "qtf", "idf").agg(
        F.sum("wtf_f").alias("wtf"))
    scored = per_term.select(
        "query_id", "doc_id",
        (F.col("qtf") * F.col("idf") * F.col("wtf") * (k1 + 1.0)
         / (F.lit(k1) + F.col("wtf"))).alias("contrib"),
    ).groupBy("query_id", "doc_id").agg(F.sum("contrib").alias("score"))
    return topk(scored, k, "score", ascending=False, rank_round=rank_round)
