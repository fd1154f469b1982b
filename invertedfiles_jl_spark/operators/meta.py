"""Index metadata, SQL surface, and cost accounting.

  * ``describe_index`` — the ``show(io, idx)`` analog
    (/root/reference/src/invfile.jl:19, src/winvfile.jl:23-28): one row of
    (weighting, vocab_size, n_docs, n_posting_rows, total_postings).
  * ``register_index`` — exposes the index tables as temp views so users can
    query them with ``spark.sql`` (the engine's SQL surface).
  * ``search_cost`` — the cost-accounting analog
    (``add_block_evaluations!`` / ``add_distance_evaluations!``,
    /root/reference/src/winvfilesearch.jl:31-32): per-query counts of
    matched posting lists and posting entries scanned — the "per-partition
    lineage + metrics" requirement's query-side half.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from invertedfiles_jl_spark.operators.build import InvertedIndex
from invertedfiles_jl_spark.operators.search import knn_order, query_terms, rank_cut


def describe_index(index: InvertedIndex) -> DataFrame:
    spark = index.postings.sparkSession
    agg = index.postings.agg(
        F.count(F.lit(1)).alias("n_posting_rows"),
        F.sum("df_part").alias("total_postings"),
    ).collect()[0]
    vocab_size = index.vocab.count()
    return spark.createDataFrame(
        [(index.cfg.weighting, int(vocab_size), int(index.stats["n_docs"]),
          int(agg["n_posting_rows"]), int(agg["total_postings"]))],
        "weighting string, vocab_size long, n_docs long, n_posting_rows long, total_postings long",
    )


def register_index(index: InvertedIndex, prefix: str = "if") -> list[str]:
    """Create temp views {prefix}_postings/{prefix}_vocab/{prefix}_docs —
    the SQL surface (spark.sql over index tables)."""
    names = []
    for name, df in (("postings", index.postings), ("vocab", index.vocab),
                     ("docs", index.docs)):
        view = f"{prefix}_{name}"
        df.createOrReplaceTempView(view)
        names.append(view)
    return names


def search_cost(index: InvertedIndex, queries: DataFrame) -> DataFrame:
    """(query_id, n_lists, n_entries) — how many posting lists a query
    touches and how many posting entries a full (unpruned) evaluation
    scans: Σ df over matched terms."""
    qt = query_terms(queries, index.cfg).select("query_id", "term_id").distinct()
    m = index.postings.join(F.broadcast(qt), "term_id")
    return m.groupBy("query_id").agg(
        F.countDistinct("term_id").alias("n_lists"),
        F.sum("df_part").alias("n_entries"),
    )


def corpus_profile(corpus: DataFrame, cfg=None,
                   doc_col: str = "doc_id",
                   content_col: str = "content",
                   approx: bool = False,
                   accuracy: int = 10000) -> DataFrame:
    """One-row corpus statistics report — the profiling step a curation
    pipeline runs before sizing an index build: document-length
    percentiles drive ``spark.sql.files.maxPartitionBytes``/salting
    choices, the df tail identifies hot terms for ``salt_df_threshold``.

    Columns: n_docs, total_tokens, distinct_terms, doc_len p50/p90/p99,
    doc_len_max, df_p90, df_max.  Default uses EXACT ``percentile`` so
    the DuckDB oracle (``quantile_cont``) reproduces every digit — a
    per-metric sort.  ``approx=True`` is the 100-TB path: Greenwald-
    Khanna ``approx_percentile`` sketches (mergeable, bounded memory
    ``O(accuracy)`` per executor, rank error ≤ n/accuracy) replace the
    sorts; same column shape.  The sketch returns an actual element of
    the multiset (discrete), so its small-n oracle is ``quantile_disc``
    — when ``accuracy ≥ n`` the sketch never compresses and the answer
    is the exact discrete quantile (driver row
    ``corpus_profile_approx`` attests exactly that).
    """
    from invertedfiles_jl_spark.config import IndexConfig
    from invertedfiles_jl_spark.operators.build import doc_term_freqs

    cfg = cfg or IndexConfig()
    tf = doc_term_freqs(corpus, cfg, doc_col, content_col)
    dl = tf.groupBy("doc_id").agg(F.sum("tf").alias("doc_len"))
    dfs = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    if approx:
        # sketch returns the element type (long) — cast to the exact
        # path's double so both modes share one output schema
        dp_expr = (f"cast(approx_percentile(doc_len, array(0.5, 0.9, 0.99),"
                   f" {accuracy}) as array<double>)")
        df90_expr = f"cast(approx_percentile(df, 0.9, {accuracy}) as double)"
    else:
        dp_expr = "percentile(doc_len, array(0.5, 0.9, 0.99))"
        df90_expr = "percentile(df, 0.9)"
    a = dl.agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("doc_len").cast("long").alias("total_tokens"),
        F.expr(dp_expr).alias("dp"),
        F.max("doc_len").cast("long").alias("doc_len_max"),
    )
    b = dfs.agg(
        F.count(F.lit(1)).cast("long").alias("distinct_terms"),
        F.expr(df90_expr).alias("df_p90"),
        F.max("df").cast("long").alias("df_max"),
    )
    return a.crossJoin(b).select(
        "n_docs", "total_tokens", "distinct_terms",
        F.round(F.col("dp")[0], 6).alias("doc_len_p50"),
        F.round(F.col("dp")[1], 6).alias("doc_len_p90"),
        F.round(F.col("dp")[2], 6).alias("doc_len_p99"),
        "doc_len_max",
        F.round("df_p90", 6).alias("df_p90"),
        "df_max",
    )


def term_cooccurrence(corpus: DataFrame, cfg=None, k: int = 20,
                      min_pair_df: int = 2, max_doc_terms: int | None = None,
                      pmi_round: int = 6,
                      doc_col: str = "doc_id",
                      content_col: str = "content") -> DataFrame:
    """Top-``k`` co-occurring term pairs by pointwise mutual information —
    the collocation-mining step of corpus analytics (phrase candidates,
    tokenizer-merge candidates, embedding eval pairs).

    PMI(a, b) = ln(n_docs · pair_df / (df_a · df_b)) over DOCUMENT
    co-occurrence (distinct presence, not positions).  Returns
    (pair_rank, term_a, term_b, pair_df, pmi) with term_a < term_b,
    ranked round(pmi, ``pmi_round``) desc / pair asc; pairs seen in fewer
    than ``min_pair_df`` docs are dropped (PMI is noise at df 1).

    Scale: the pair generation is a per-doc self-join — Σ nnz² work.  For
    code/text corpora nnz is bounded (hundreds), so the blow-up is linear
    in docs; for pathological docs pass ``max_doc_terms`` to keep only
    each doc's top-m terms by tf (tie term asc) before pairing — the
    documented escape, same role as allknn's df_cap.  Everything else is
    partial+final aggregation; the df join is against the tiny distinct-
    term relation and the final global window ranks only surviving pairs.
    """
    from invertedfiles_jl_spark.config import IndexConfig
    from invertedfiles_jl_spark.operators.build import doc_term_freqs

    cfg = cfg or IndexConfig()
    tf = doc_term_freqs(corpus, cfg, doc_col, content_col)
    if max_doc_terms is not None:
        tf = rank_cut(tf, max_doc_terms, knn_order("tf", id_col="term"),
                      by=("doc_id",), rank="r").drop("r")
    terms = tf.select("doc_id", "term")
    n_docs = float(corpus.select(doc_col).distinct().count())
    dfs = terms.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    pairs = terms.alias("a").join(
        terms.alias("b"),
        (F.col("a.doc_id") == F.col("b.doc_id"))
        & (F.col("a.term") < F.col("b.term")),
    ).select(F.col("a.term").alias("term_a"), F.col("b.term").alias("term_b"))
    pdf = pairs.groupBy("term_a", "term_b").agg(
        F.count(F.lit(1)).alias("pair_df")).filter(
        F.col("pair_df") >= min_pair_df)
    scored = (
        pdf.join(dfs.withColumnRenamed("term", "term_a")
                    .withColumnRenamed("df", "df_a"), "term_a")
        .join(dfs.withColumnRenamed("term", "term_b")
                 .withColumnRenamed("df", "df_b"), "term_b")
        .select(
            "term_a", "term_b", "pair_df",
            F.log(F.lit(n_docs) * F.col("pair_df")
                  / (F.col("df_a") * F.col("df_b"))).alias("pmi"))
    )
    return rank_cut(
        scored, k, f"{knn_order('pmi', pmi_round, id_col='term_a')}, term_b ASC",
        by=(), rank="pair_rank",
        cols=["pair_rank", "term_a", "term_b", "pair_df",
              F.round("pmi", pmi_round).alias("pmi")])


def significant_terms(docs: DataFrame, strata_col: str, cfg=None,
                      n: int = 10, min_fg: int = 3, jlh_round: int = 6,
                      doc_col: str = "doc_id",
                      content_col: str = "content") -> DataFrame:
    """Per-stratum overrepresented terms (Elasticsearch ``significant_terms``
    analog, JLH heuristic): for each stratum (language, source, time
    bucket, ...) rank terms by how much MORE of the stratum's documents
    contain them than the whole corpus's —

        jlh = (fg_pct - bg_pct) * (fg_pct / bg_pct),
        fg_pct = fg / n_stratum,  bg_pct = bg / n_docs  (document presence)

    keeping only genuinely overrepresented terms (fg_pct > bg_pct) seen in
    at least ``min_fg`` stratum docs.  Returns (stratum, rank, term, fg,
    bg, jlh), ranked round(jlh, ``jlh_round``) desc / term asc per stratum.

    The corpus-drift / contamination-triage tool: "what vocabulary is
    suddenly specific to this source?".  Scale: two partial+final distinct-
    presence aggregations (per-stratum and global) joined on the term
    dimension, one bounded per-stratum window — no pairwise work anywhere.
    """
    from invertedfiles_jl_spark.config import IndexConfig
    from invertedfiles_jl_spark.functions.tokenize import exploded_terms

    cfg = cfg or IndexConfig()
    strata_sizes = docs.groupBy(strata_col).agg(
        F.countDistinct(doc_col).alias("n_stratum"))
    n_docs = float(docs.select(doc_col).distinct().count())
    # exploded_terms keeps only (doc, term); re-attach the stratum by key
    dt = (exploded_terms(docs, "doc_id", doc_col, content_col, cfg)
          .distinct()
          .join(docs.select(F.col(doc_col).alias("doc_id"), strata_col),
                "doc_id"))
    bg = dt.groupBy("term").agg(F.countDistinct("doc_id").alias("bg"))
    fg = dt.groupBy(strata_col, "term").agg(
        F.countDistinct("doc_id").alias("fg"))
    scored = (
        fg.filter(F.col("fg") >= min_fg)
        .join(bg, "term")
        .join(F.broadcast(strata_sizes), strata_col)
        .withColumn("fg_pct", F.col("fg") / F.col("n_stratum"))
        .withColumn("bg_pct", F.col("bg") / F.lit(n_docs))
        .filter(F.col("fg_pct") > F.col("bg_pct"))
        .withColumn("jlh", (F.col("fg_pct") - F.col("bg_pct"))
                    * (F.col("fg_pct") / F.col("bg_pct")))
    )
    return rank_cut(scored, n, knn_order("jlh", jlh_round, id_col="term"),
                    by=(strata_col,),
                    cols=[F.col(strata_col).alias("stratum"), "rank", "term",
                          "fg", "bg", F.round("jlh", jlh_round).alias("jlh")])
