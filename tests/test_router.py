"""Adaptive plan routing (plans/router.py): the rules fire on the right
stats, and every route returns the SAME ranking."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from invertedfiles_jl_spark.config import IndexConfig
from invertedfiles_jl_spark.operators.build import build_index
from invertedfiles_jl_spark.operators.search import bm25_topk
from invertedfiles_jl_spark.plans.router import auto_topk, batch_stats, route_plan
from invertedfiles_jl_spark.sources.queries import queries_df


@pytest.fixture(scope="module")
def idx(documents):
    corpus = documents.select("doc_id", F.col("text").alias("content"))
    return build_index(corpus, IndexConfig(weighting="bm25",
                                           weight_dtype="double"))


def test_batch_stats_match_python(idx, docs_pandas, spark):
    from collections import Counter

    from invertedfiles_jl_spark.sources.queries import QUERY_SET

    df = Counter(t for txt in docs_pandas["text"]
                 for t in set(txt.lower().split()))
    want_entries = 0
    matched_q = 0
    for _, qtext in QUERY_SET:
        qterms = set(qtext.split())
        hit = [t for t in qterms if t in df]
        if hit:
            matched_q += 1
            want_entries += sum(df[t] for t in hit)
    s = batch_stats(idx, queries_df(spark))
    assert s["n_queries"] == matched_q
    assert s["entries"] == want_entries


def test_route_rules(idx, spark):
    q = queries_df(spark)  # 9 matched queries, small entries/query
    assert route_plan(idx, q) == "plan_a"
    # batch rule dominates
    assert route_plan(idx, q, batch_threshold=5) == "sharded"
    # long-list rule fires when the batch is small but lists are heavy
    assert route_plan(idx, q, batch_threshold=99, prune_threshold=1) == "wand"
    # both thresholds out of reach → Plan A
    assert route_plan(idx, q, batch_threshold=99,
                      prune_threshold=10**9) == "plan_a"


def test_all_routes_rank_identical(idx, spark):
    q = queries_df(spark)
    want = sorted(
        (r["query_id"], r["rank"], r["doc_id"], round(r["score"], 9))
        for r in bm25_topk(idx, q, k=10, rank_round=6).collect())
    for kw in (dict(),                                     # plan_a
               dict(batch_threshold=5),                    # sharded
               dict(batch_threshold=99, prune_threshold=1)):  # wand
        got = sorted(
            (r["query_id"], r["rank"], r["doc_id"], round(r["score"], 9))
            for r in auto_topk(idx, q, k=10, rank_round=6, **kw).collect())
        assert got == want, kw


def test_oov_batch_routes_plan_a_and_returns_empty(idx, spark):
    q = spark.createDataFrame([(1, "zzznope qqqnothere")],
                              "query_id long, content string")
    assert route_plan(idx, q) == "plan_a"
    assert auto_topk(idx, q, k=10).count() == 0


def test_repeated_query_id_ranks_as_one_concatenated_query(idx, spark):
    """Rows that share a query_id rank like one row holding their joined
    text, on every plan that claims rank identity: a term that recurs
    across the rows counts as a repeated term of the one query."""
    from invertedfiles_jl_spark.operators.sharded import sharded_topk
    from invertedfiles_jl_spark.operators.wand import wand_topk

    schema = "query_id long, content string"
    split = spark.createDataFrame(
        [(1, "spark window"), (2, "dup"), (1, "merge window"),
         (2, "customer dup"), (3, "hash join")], schema)
    joined = spark.createDataFrame(
        [(1, "spark window merge window"), (2, "dup customer dup"),
         (3, "hash join")], schema)
    plans = {
        "plan_a": lambda q: bm25_topk(idx, q, k=10, rank_round=6),
        "wand": lambda q: wand_topk(idx, q, k=10, rank_round=6),
        "sharded": lambda q: sharded_topk(idx, q, k=10, n_shards=4,
                                          rank_round=6),
        "auto": lambda q: auto_topk(idx, q, k=10, rank_round=6),
        "auto_sharded": lambda q: auto_topk(idx, q, k=10, rank_round=6,
                                            batch_threshold=2),
        "auto_wand": lambda q: auto_topk(idx, q, k=10, rank_round=6,
                                         batch_threshold=99,
                                         prune_threshold=1),
    }
    for name, plan in plans.items():
        got, want = (
            sorted((r["query_id"], r["rank"], r["doc_id"], round(r["score"], 9))
                   for r in plan(q).collect())
            for q in (split, joined))
        assert want and got == want, name
