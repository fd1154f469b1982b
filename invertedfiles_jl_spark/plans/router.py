"""Adaptive plan routing — pick the serving plan from the batch's shape.

The engine carries three rank-identical BM25 serving plans (the identity is
CI-gated, ``tests/test_wand.py`` / ``tests/test_sharded.py``):

* **Plan A** (``search.bm25_topk``) — relational broadcast-join +
  aggregation + window.  Lowest fixed cost; the window shuffles one row per
  scored (query, doc), so it degrades as Σ matched-df grows.
* **WAND** (``wand.wand_topk``) — per-query Arrow group with MaxScore +
  block-max pruning.  Pays a fixed per-query group cost, wins when single
  queries match long posting lists (pruning skips most entries).
* **Sharded** (``sharded.sharded_topk``) — doc-sharded mapInPandas serve.
  Zero posting duplication across the batch, wins at large batch sizes
  where per-query plans would reshuffle each hot list once per query.

``route_plan`` chooses from two numbers a metadata-only pass computes
(query-term relation ⋈ vocab — never touches postings):

* ``n_queries`` — matched queries in the batch,
* ``entries_per_query`` — Σ matched-df / n_queries, the average posting
  entries a query's scoring must touch (Plan A's per-query work, and the
  number WAND's pruning attacks).

Rules (deterministic, thresholds are keyword knobs):

1. ``n_queries ≥ batch_threshold`` → **sharded** — batch amortization
   dominates per-query constants.
2. ``entries_per_query ≥ prune_threshold`` → **wand** — lists are long
   enough that block-max skipping beats the relational aggregate.
3. otherwise → **plan_a** — smallest fixed cost at small work sizes.

The router's cost model is intentionally two-feature: both inputs come from
vocab-sized metadata, so routing overhead is one broadcast join over the
query terms (micro-seconds at serving scale), never a corpus pass —
the same discipline a SQL optimizer applies with table statistics.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from invertedfiles_jl_spark.operators.build import InvertedIndex
from invertedfiles_jl_spark.operators.search import bm25_topk, query_terms

DEFAULT_BATCH_THRESHOLD = 64
DEFAULT_PRUNE_THRESHOLD = 50_000


def batch_stats(index: InvertedIndex, queries: DataFrame) -> dict:
    """(n_queries, total matched entries) from the query-term ⋈ vocab
    relation — metadata-only, posting lists untouched."""
    qt = query_terms(queries, index.cfg)
    row = (
        index.vocab.selectExpr("term_id", "df")
        .join(F.broadcast(qt), "term_id")
        .agg(F.expr("count(DISTINCT query_id) AS n_queries"),
             F.expr("sum(df) AS entries"))
        .collect()[0]
    )
    n = int(row["n_queries"] or 0)
    entries = int(row["entries"] or 0)
    return {
        "n_queries": n,
        "entries": entries,
        "entries_per_query": (entries / n) if n else 0.0,
    }


def choose_plan(s: dict, batch_threshold: int = DEFAULT_BATCH_THRESHOLD,
                prune_threshold: int = DEFAULT_PRUNE_THRESHOLD) -> str:
    """'sharded' | 'wand' | 'plan_a' for a :func:`batch_stats` dict, per
    the module rules — pure, no Spark job."""
    if s["n_queries"] >= batch_threshold:
        return "sharded"
    if s["entries_per_query"] >= prune_threshold:
        return "wand"
    return "plan_a"


def route_plan(index: InvertedIndex, queries: DataFrame,
               batch_threshold: int = DEFAULT_BATCH_THRESHOLD,
               prune_threshold: int = DEFAULT_PRUNE_THRESHOLD) -> str:
    """'sharded' | 'wand' | 'plan_a' per the module rules."""
    return choose_plan(batch_stats(index, queries), batch_threshold, prune_threshold)


def auto_topk(index: InvertedIndex, queries: DataFrame, k: int = 10,
              rank_round: int | None = None,
              batch_threshold: int = DEFAULT_BATCH_THRESHOLD,
              prune_threshold: int = DEFAULT_PRUNE_THRESHOLD,
              n_shards: int = 32,
              sharded: DataFrame | None = None,
              assume_colocated: bool = False) -> DataFrame:
    """BM25 top-k through the routed plan — (query_id, rank, doc_id, score),
    rank-identical to :func:`search.bm25_topk` whichever plan runs (each
    plan's identity is its own CI gate; the router adds no arithmetic).

    ``sharded``/``assume_colocated`` pre-position a :func:`sharded.load_shards`
    table for serving mode; they only matter when the batch routes sharded.
    """
    plan = route_plan(index, queries, batch_threshold, prune_threshold)
    if plan == "sharded":
        from invertedfiles_jl_spark.operators.sharded import sharded_topk

        return sharded_topk(index, queries, k=k, n_shards=n_shards,
                            rank_round=rank_round, sharded=sharded,
                            assume_colocated=assume_colocated)
    if plan == "wand":
        from invertedfiles_jl_spark.operators.wand import wand_topk

        return wand_topk(index, queries, k=k, rank_round=rank_round)
    return bm25_topk(index, queries, k=k, rank_round=rank_round)


def route_explain(index: InvertedIndex, queries: DataFrame,
                  batch_threshold: int = DEFAULT_BATCH_THRESHOLD,
                  prune_threshold: int = DEFAULT_PRUNE_THRESHOLD) -> DataFrame:
    """One-row DataFrame exposing the routing decision AND its inputs —
    (n_queries, entries, entries_per_query, plan) — so deployments can log
    why a batch went where (the EXPLAIN of the router)."""
    s = batch_stats(index, queries)
    plan = choose_plan(s, batch_threshold, prune_threshold)
    spark = queries.sparkSession
    return spark.createDataFrame(
        [(s["n_queries"], s["entries"], float(s["entries_per_query"]), plan)],
        "n_queries long, entries long, entries_per_query double, plan string")
