"""Character-trigram substring index — exact substring-in-document search
(PostgreSQL ``pg_trgm`` analog), the engine's third index family next to
the term inverted file and the positional table.

Semantics: a needle (≥ 3 chars, lowercased like the tokenizer) matches a
doc iff it occurs verbatim anywhere in the doc's lowercased text — across
word boundaries, inside words — with ``n_occ`` = non-overlapping occurrence
count (the left-to-right ``replace`` contract both engines share).

Index = trigram → sorted doc list (the standard build discipline:
explode-distinct, groupBy, ``sort_array(collect_list)``).  Query =

    needle trigrams ⋈ trigram vocab (df)      -- OOV gram ⇒ zero rows
      → rarest-``max_grams`` selection         -- df asc, gram asc
      → postings ⋈ broadcast(grams)           -- candidate docs containing
      → count(distinct gram) == n_selected       ALL selected grams
      → corpus verify (instr > 0) + n_occ     -- exact, superset-safe

Scale shape: the trigram vocabulary is alphabet³-bounded (tiny), but hot
trigrams carry corpus-sized lists — exactly the hot-term problem, answered
the same way: the ``max_grams`` rarest-first cut (pg_trgm's trick) bounds
per-query candidate work by the needle's RAREST grams' df instead of the
sum over all its grams, and the verification join touches candidate rows
only (row-granularity, AQE-splittable).  Any selected-gram subset keeps
the candidate set a superset of the true matches, so the verify step makes
every cut exact.

The trigram expression uses ``sequence``/``transform`` (CodegenFallback):
acceptable on the BUILD side where the explode dominates anyway — the
serving side never re-tokenizes docs.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from invertedfiles_jl_spark.operators.search import knn_order, rank_cut

MIN_NEEDLE = 3


def _grams_sql(col: str) -> str:
    """Distinct character 3-grams of (already-lowercased) ``col``."""
    return (f"array_distinct(transform(sequence(1, greatest(length({col}) - 2, 1)), "
            f"i -> substring({col}, i, 3)))")


@dataclass
class TrigramIndex:
    postings: DataFrame  # (gram, doc_ids sorted, df)
    corpus: DataFrame    # (doc_id, content) — verification needs the text


def build_trigram_index(corpus: DataFrame, content_col: str = "content",
                        doc_col: str = "doc_id") -> TrigramIndex:
    """One corpus pass: explode each doc's distinct trigrams, group to
    sorted posting lists.  Same exchange shape as the term index build
    (partial+final agg keyed on the gram)."""
    g = corpus.select(
        F.col(doc_col).alias("doc_id"),
        F.explode(F.expr(_grams_sql(f"lower({content_col})"))).alias("gram"),
    )
    postings = (
        g.groupBy("gram")
        .agg(F.sort_array(F.collect_list("doc_id")).alias("doc_ids"))
        .select("gram", "doc_ids", F.size("doc_ids").cast("long").alias("df"))
    )
    return TrigramIndex(postings=postings,
                        corpus=corpus.select(F.col(doc_col).alias("doc_id"),
                                             F.col(content_col).alias("content")))


def substring_search(tindex: TrigramIndex, queries: DataFrame,
                     needle_col: str = "needle",
                     max_grams: int = 8) -> DataFrame:
    """(query_id, doc_id, n_occ) for every doc containing each query's
    needle.  Exact (candidates verified against the text); needles with an
    out-of-vocabulary trigram short-circuit to zero rows JVM-side."""
    q = queries.select("query_id", F.lower(F.col(needle_col)).alias("needle"))
    qg = q.select(
        "query_id",
        F.explode(F.expr(_grams_sql("needle"))).alias("gram"),
    )
    # OOV gram ⇒ the needle cannot occur anywhere: drop the whole query.
    # (left join; a query keeps flowing only if every gram found a df)
    # the (gram, df) stats relation is alphabet³-bounded → broadcast-safe
    # at any corpus size (lists stay behind; only the df column ships)
    qv = qg.join(F.broadcast(tindex.postings.select("gram", "df")),
                 "gram", "left")
    bad = qv.filter(F.col("df").isNull()).select("query_id").distinct()
    qv = qv.join(F.broadcast(bad), "query_id", "left_anti")  # ≤ Q rows
    # rarest-first gram selection (pg_trgm trick): df asc, gram asc
    sel = rank_cut(qv, max_grams, knn_order("df", ascending=True, id_col="gram"),
                   rank="grank", cols=["query_id", "gram"])
    n_sel = sel.groupBy("query_id").agg(F.count(F.lit(1)).alias("n_grams"))
    # candidate docs: contain ALL selected grams
    m = tindex.postings.select("gram", "doc_ids").join(F.broadcast(sel), "gram")
    # a doc appears once per matched gram (build-side distinct), so a plain
    # count equals the distinct-gram hit count
    cand = (m.select("query_id", "gram", F.explode("doc_ids").alias("doc_id"))
            .groupBy("query_id", "doc_id")
            .agg(F.count(F.lit(1)).alias("n_hit")))
    cand = (cand.join(F.broadcast(n_sel), "query_id")
            .filter(F.col("n_hit") == F.col("n_grams"))
            .select("query_id", "doc_id"))
    # exact verification over candidate rows only
    v = (cand.join(tindex.corpus, "doc_id")
         .join(F.broadcast(q), "query_id")
         .withColumn("text", F.lower(F.col("content")))
         .filter(F.instr(F.col("text"), F.col("needle")) > 0))
    return v.select(
        "query_id", "doc_id",
        (
            (F.length("text") - F.length(F.expr("replace(text, needle, '')")))
            / F.length("needle")
        ).cast("long").alias("n_occ"),
    )
