"""Index maintenance (operators/maintenance.py): document deletion and
df-bounds posting pruning under the frozen-statistics contract."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from invertedfiles_jl_spark.config import IndexConfig
from invertedfiles_jl_spark.operators.build import build_index
from invertedfiles_jl_spark.operators.maintenance import (
    delete_documents,
    prune_postings,
)
from invertedfiles_jl_spark.operators.search import bm25_topk, postings_exploded
from invertedfiles_jl_spark.sources.queries import queries_df


@pytest.fixture(scope="module")
def corpus(spark, sf_dir):
    return (
        spark.read.parquet(f"{sf_dir}/documents.parquet")
        .select("doc_id", F.col("text").alias("content"))
    )


@pytest.fixture(scope="module")
def index(corpus):
    idx = build_index(corpus, IndexConfig(weighting="bm25", weight_dtype="double"))
    idx.postings = idx.postings.cache()
    idx.postings.count()
    return idx


@pytest.fixture(scope="module")
def delete_ids(corpus):
    return sorted(
        r.doc_id for r in corpus.filter(F.col("doc_id") % 7 == 3).collect()
    )


def test_delete_equals_accept_filtered_search(index, corpus, spark, delete_ids):
    """Frozen-stats contract: post-delete BM25 ≡ full-corpus BM25 restricted
    to surviving docs (the search._accept semantics)."""
    deleted = delete_documents(index, delete_ids)
    got = sorted(tuple(r) for r in
                 bm25_topk(deleted, queries_df(spark), k=10, rank_round=6).collect())
    accept = corpus.filter(F.col("doc_id") % 7 != 3).select("doc_id")
    want = sorted(tuple(r) for r in
                  bm25_topk(index, queries_df(spark), k=10, rank_round=6,
                            accept_docs=accept).collect())
    assert got == want and len(got) > 0


def test_delete_removes_exactly_the_ids(index, delete_ids):
    deleted = delete_documents(index, delete_ids)
    before = {(r.term, r.doc_id) for r in postings_exploded(index).collect()}
    after = {(r.term, r.doc_id) for r in postings_exploded(deleted).collect()}
    assert after == {p for p in before if p[1] not in set(delete_ids)}
    # docs table pruned too; stats and vocab frozen
    assert deleted.docs.filter(F.col("doc_id").isin(delete_ids)).count() == 0
    assert deleted.stats == index.stats
    assert deleted.vocab is index.vocab


def test_delete_preserves_metadata_invariants(index, delete_ids):
    """df_part/max_weight/block_max/sort-order must hold on every surviving
    list, touched or not."""
    bs = index.cfg.block_size
    p = delete_documents(index, delete_ids).postings
    bad = p.filter(
        (F.size("doc_ids") != F.col("df_part"))
        | (F.abs(F.array_max("weights") - F.col("max_weight")) > 1e-12)
        | (F.expr("doc_ids != array_sort(doc_ids)"))
        | (F.expr(
            f"block_max != transform(sequence(0, int((size(weights) - 1) / {bs})), "
            f"b -> array_max(slice(weights, b * {bs} + 1, {bs})))"))
    ).count()
    assert bad == 0


def test_delete_compressed_roundtrip(corpus, spark, delete_ids, index):
    cidx = build_index(corpus, IndexConfig(weighting="bm25", weight_dtype="double",
                                           compress=True))
    deleted = delete_documents(cidx, delete_ids)
    assert "ids_vb" in deleted.postings.columns
    got = sorted(tuple(r) for r in
                 bm25_topk(deleted, queries_df(spark), k=10, rank_round=6).collect())
    want = sorted(tuple(r) for r in
                  bm25_topk(delete_documents(index, delete_ids),
                            queries_df(spark), k=10, rank_round=6).collect())
    assert got == want


def test_delete_compressed_decodes_once(corpus):
    """Dropping the lists a delete empties must not copy the Python decode
    into a pushed-down filter: the optimized plan decodes ids_vb once."""
    cidx = build_index(corpus, IndexConfig(weighting="bm25", compress=True))
    plan = delete_documents(cidx, [0]).postings._jdf.queryExecution(
        ).optimizedPlan().toString()
    assert plan.count("_dec(") == 1, plan


def test_delete_compressed_rows_equal_plain(corpus, delete_ids, index):
    """A compressed delete keeps exactly the rows of a plain one: the same
    lists (emptied ones dropped) with the same entries and metadata."""
    from invertedfiles_jl_spark.operators.search import decode_ids

    cidx = build_index(corpus, IndexConfig(weighting="bm25",
                                           weight_dtype="double",
                                           compress=True))
    cols = ["term_id", "salt", "df_part", "doc_ids", "weights",
            "max_weight", "block_max"]

    def rows(postings):
        return sorted(tuple(tuple(v) if isinstance(v, list) else v
                            for v in r)
                      for r in postings.select(*cols).collect())

    ids = sorted(r.doc_id for r in corpus.select("doc_id").collect())
    # the second delete keeps one doc, so it empties lists (the drop path)
    for dels in (delete_ids, ids[1:]):
        got = rows(decode_ids(delete_documents(cidx, dels).postings))
        want = rows(delete_documents(index, dels).postings)
        assert got == want and want
    assert len(want) < index.postings.count()


def test_delete_accepts_dataframe_and_list(index, corpus, delete_ids):
    df_dels = corpus.filter(F.col("doc_id") % 7 == 3).select("doc_id")
    a = sorted(tuple(r) for r in
               postings_exploded(delete_documents(index, df_dels)).collect())
    b = sorted(tuple(r) for r in
               postings_exploded(delete_documents(index, delete_ids)).collect())
    assert a == b


def test_delete_edge_cases(index):
    assert delete_documents(index, []) is index
    with pytest.raises(ValueError, match="exceeds max_batch"):
        delete_documents(index, list(range(10)), max_batch=5)


def test_delete_is_map_only(index, delete_ids):
    """The 100-TB contract: the postings rewrite plans with ZERO exchange —
    a map-only pass over the (cached) postings table."""
    plan = (delete_documents(index, delete_ids).postings
            ._jdf.queryExecution().executedPlan().toString())
    # the cached source prints its own BUILD lineage under InMemoryRelation —
    # only the plan above the cache boundary is the delete's own work
    own = plan.split("InMemoryRelation")[0]
    assert "InMemoryTableScan" in plan and "Exchange" not in own


def test_prune_bounds(index, spark):
    n = index.stats["n_docs"]
    lo, hi = 2, int(0.9 * n)
    pruned = prune_postings(index, min_df=lo, max_df=hi)
    surviving = pruned.postings.join(
        index.vocab.filter((F.col("df") < lo) | (F.col("df") > hi)).select("term_id"),
        "term_id", "semi").count()
    assert surviving == 0
    # surviving lists are byte-identical rows of the original table
    a = sorted(map(str, pruned.postings.drop("block_max").collect()))
    keep = index.postings.join(
        index.vocab.filter((F.col("df") >= lo) & (F.col("df") <= hi)).select("term_id"),
        "term_id", "semi")
    b = sorted(map(str, keep.drop("block_max").collect()))
    assert a == b


def test_prune_ratio_matches_absolute(index):
    n = index.stats["n_docs"]
    ratio = 0.5
    a = prune_postings(index, max_df_ratio=ratio).postings.count()
    b = prune_postings(index, max_df=int(ratio * n)).postings.count()
    assert a == b
