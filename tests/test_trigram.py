"""Trigram substring index (operators/trigram.py) — exactness vs a pure
python scan, the rarest-gram cut invariance, and OOV short-circuits."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from invertedfiles_jl_spark.operators.trigram import (
    build_trigram_index,
    substring_search,
)
from invertedfiles_jl_spark.sources.queries import SUBSTRING_SET, substrings_df


@pytest.fixture(scope="module")
def corpus(documents):
    return documents.select("doc_id", F.col("text").alias("content"))


@pytest.fixture(scope="module")
def tindex(corpus):
    ti = build_trigram_index(corpus)
    ti.postings = ti.postings.cache()
    return ti


def _count_occ(text: str, needle: str) -> int:
    """The SQL replace contract: non-overlapping, left-to-right."""
    return (len(text) - len(text.replace(needle, ""))) // len(needle)


def _python_matches(texts, needles):
    out = {}
    for qid, needle in needles:
        nl = needle.lower()
        for d, t in texts.items():
            tl = t.lower()
            if nl in tl:
                out[(qid, d)] = _count_occ(tl, nl)
    return out


def test_substring_matches_python(tindex, docs_pandas, spark):
    texts = dict(zip(docs_pandas["doc_id"], docs_pandas["text"]))
    got = {(r["query_id"], r["doc_id"]): r["n_occ"]
           for r in substring_search(tindex, substrings_df(spark)).collect()}
    want = _python_matches(texts, SUBSTRING_SET)
    assert got == want
    assert any(q == 2 for q, _ in got), "fixture must hit the cross-space case"
    assert not any(q == 5 for q, _ in got), "OOV needle must yield zero rows"


def test_rarest_gram_cut_is_exact(tindex, docs_pandas, spark):
    """max_grams=1 (the most aggressive cut) must still return the exact
    match set: any gram subset keeps candidates a superset, and the verify
    step is exact."""
    texts = dict(zip(docs_pandas["doc_id"], docs_pandas["text"]))
    got = {(r["query_id"], r["doc_id"]): r["n_occ"]
           for r in substring_search(tindex, substrings_df(spark),
                                     max_grams=1).collect()}
    assert got == _python_matches(texts, SUBSTRING_SET)


def test_substring_inside_word_and_across_space(tindex, spark):
    q = spark.createDataFrame([(1, "indow"), (2, "n me")],
                              "query_id long, needle string")
    got = substring_search(tindex, q).collect()
    qs = {r["query_id"] for r in got}
    assert 1 in qs   # inside "window"
    # "...scan merge..." produces "n me" in the sf0.001 fixture
    assert 2 in qs


def test_case_insensitive(tindex, spark):
    a = spark.createDataFrame([(1, "WINDOW")], "query_id long, needle string")
    b = spark.createDataFrame([(1, "window")], "query_id long, needle string")
    ga = {(r["doc_id"], r["n_occ"]) for r in substring_search(tindex, a).collect()}
    gb = {(r["doc_id"], r["n_occ"]) for r in substring_search(tindex, b).collect()}
    assert ga == gb and ga
