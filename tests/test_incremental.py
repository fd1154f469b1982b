"""Incremental append (push_item! analog): append(half2, build(half1)) must
equal build(full) for append-invariant weightings."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from invertedfiles_jl_spark.config import IndexConfig
from invertedfiles_jl_spark.operators.build import build_index
from invertedfiles_jl_spark.operators.search import bm25_topk, set_distance_topk
from invertedfiles_jl_spark.sources.queries import queries_df
from invertedfiles_jl_spark.streaming.incremental import append_documents


@pytest.fixture(scope="module")
def halves(documents):
    base = documents.select("doc_id", F.col("text").alias("content"))
    return base.filter(F.col("doc_id") < 250), base.filter(F.col("doc_id") >= 250), base


def _postings_content(idx):
    rows = idx.postings.select("term_id", "salt", "doc_ids", "weights").collect()
    merged = {}
    for r in rows:  # merge salt parts per term for comparison
        merged.setdefault(r["term_id"], []).extend(zip(r["doc_ids"], r["weights"]))
    return {t: sorted(v) for t, v in merged.items()}


@pytest.mark.parametrize("weighting", ["normcosine", "binary"])
def test_append_equals_full_build(halves, weighting):
    h1, h2, full = halves
    cfg = IndexConfig(weighting=weighting)
    idx = append_documents(build_index(h1, cfg), h2)
    ref = build_index(full, cfg)
    assert idx.stats["n_docs"] == ref.stats["n_docs"]
    assert _postings_content(idx) == _postings_content(ref)
    va = {r["term"]: (r["df"], r["cf"]) for r in idx.vocab.collect()}
    vb = {r["term"]: (r["df"], r["cf"]) for r in ref.vocab.collect()}
    assert va == vb


def test_append_bm25_queryable(halves, spark):
    """BM25 stored weights of appended docs are the saturated tf under the
    OLD index's avgdl (documented, and what ``stream_append`` stores too);
    results must still be sane and cover appended docs."""
    from invertedfiles_jl_spark.operators.build import doc_term_freqs
    from invertedfiles_jl_spark.operators.search import read_postings

    h1, h2, full = halves
    cfg = IndexConfig(weighting="bm25")
    old = build_index(h1, cfg)
    idx = append_documents(old, h2)
    res = bm25_topk(idx, queries_df(spark), k=10).collect()
    assert res
    docs_hit = {r["doc_id"] for r in res}
    assert any(d >= 250 for d in docs_hit), "appended docs never retrieved"

    avgdl = old.stats["avg_doc_len"]
    assert idx.stats["avg_doc_len"] != pytest.approx(avgdl)  # stats re-center
    dl = {r["doc_id"]: r["doc_len"] for r in idx.docs.filter("doc_id >= 250").collect()}
    k1, b = cfg.bm25_k1, cfg.bm25_b
    want = {(r["term_id"], r["doc_id"]):
            r["tf"] * (k1 + 1) / (r["tf"] + k1 * (1 - b + b * dl[r["doc_id"]] / avgdl))
            for r in doc_term_freqs(h2, cfg).collect()}
    got = {(r["term_id"], r["doc_id"]): r["weight"] for r in
           read_postings(idx.postings, "term_id").filter("doc_id >= 250").collect()}
    assert got.keys() == want.keys()
    for key, w in want.items():
        assert got[key] == pytest.approx(w, rel=1e-6), key


def test_binary_append_rank_identical(halves, spark):
    h1, h2, full = halves
    cfg = IndexConfig(weighting="binary")
    inc = append_documents(build_index(h1, cfg), h2)
    ref = build_index(full, cfg)
    a = {(r["query_id"], r["rank"]): r["doc_id"]
         for r in set_distance_topk(inc, queries_df(spark), 10, "jaccard").collect()}
    b = {(r["query_id"], r["rank"]): r["doc_id"]
         for r in set_distance_topk(ref, queries_df(spark), 10, "jaccard").collect()}
    assert a == b


def test_append_compressed_resalts_correctly(halves, spark):
    """Append on a COMPRESSED index: merged lists must be re-salted against
    the merged doc range (doc-range-disjoint sub-lists), re-encoded, and
    decode to exactly the full-rebuild postings."""
    from invertedfiles_jl_spark.operators.codec import decode_posting

    h1, h2, full = halves
    # low salt threshold so hot terms actually salt in this corpus
    cfg = IndexConfig(weighting="binary", compress=True, salt_df_threshold=50,
                      salt_buckets=4)
    idx = append_documents(build_index(h1, cfg), h2)
    ref = build_index(full, cfg)

    def content(ix):
        merged: dict = {}
        ranges: dict = {}
        for r in ix.postings.collect():
            ids = decode_posting(bytes(r["ids_vb"])).tolist()
            merged.setdefault(r["term_id"], []).extend(ids)
            ranges.setdefault(r["term_id"], []).append((r["salt"], min(ids), max(ids)))
        return merged, ranges

    got, got_ranges = content(idx)
    want, _ = content(ref)
    assert {t: sorted(v) for t, v in got.items()} == {t: sorted(v) for t, v in want.items()}
    # salt invariant: within a term, sub-list doc ranges are disjoint and
    # ordered by salt — concatenation in salt order is globally doc-sorted
    for t, parts in got_ranges.items():
        parts.sort()
        for (s0, _, hi0), (s1, lo1, _) in zip(parts, parts[1:]):
            assert hi0 < lo1, f"term {t}: salt {s0} range overlaps salt {s1}"
