"""Positional index + phrase search (operators/positional.py).

Oracle parity mirrors the driver gate; the inline-corpus cases pin the
position-space subtleties (filtered-array offsets, duplicate phrase terms,
overlapping occurrences) against naive Python counting.
"""

from __future__ import annotations

import duckdb
import pytest
from pyspark.sql import functions as F

from invertedfiles_jl_spark.operators.build import doc_term_freqs
from invertedfiles_jl_spark.operators.positional import (
    phrase_terms,
    phrase_topk,
    positional_postings,
    proximity_topk,
)
from invertedfiles_jl_spark.config import IndexConfig
from invertedfiles_jl_spark.plans.oracles import (
    phrase_topk_sql,
    positional_postings_sql,
    proximity_topk_sql,
)
from invertedfiles_jl_spark.sources.queries import PHRASE_SET, phrases_df


@pytest.fixture(scope="module")
def corpus(spark, sf_dir):
    return (
        spark.read.parquet(f"{sf_dir}/documents.parquet")
        .select("doc_id", F.col("text").alias("content"))
    )


@pytest.fixture(scope="module")
def positional(corpus):
    # unpersist at teardown: a cached relation left registered in the
    # session's cache manager is substituted into later modules' plans
    pos = positional_postings(corpus).cache()
    yield pos
    pos.unpersist()


def _duck(sf_dir):
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM read_parquet('{sf_dir}/documents.parquet')"
    )
    return con


def test_positional_postings_match_oracle(positional, sf_dir):
    flat = positional.select("term", "doc_id", F.explode("positions").alias("pos"))
    got = sorted(tuple(r) for r in flat.collect())
    want = sorted(tuple(r) for r in _duck(sf_dir).execute(positional_postings_sql()).fetchall())
    assert got == want


def test_phrase_topk_matches_oracle(positional, spark, sf_dir):
    res = phrase_topk(positional, phrases_df(spark), k=10)
    got = sorted(tuple(r) for r in res.collect())
    want = sorted(
        tuple(r) for r in _duck(sf_dir).execute(phrase_topk_sql(PHRASE_SET, 10)).fetchall()
    )
    assert got == want
    # fixture guarantees: the OOV phrase (7) and the never-adjacent bigram
    # (6) return nothing; the common bigram (1) returns something
    qids = {r[0] for r in got}
    assert 6 not in qids and 7 not in qids and 1 in qids


def test_single_term_phrase_is_tf(positional, corpus, spark):
    """m=1 degenerates to term-frequency ranking."""
    res = phrase_topk(positional, spark.createDataFrame(
        [(1, "dup")], "query_id long, content string"), k=1000)
    got = {(r.doc_id, r.phrase_tf) for r in res.collect()}
    tf = doc_term_freqs(corpus, IndexConfig())
    want = {(r.doc_id, r.tf) for r in tf.filter(F.col("term") == "dup").collect()}
    assert got == want and len(got) > 0


def _naive_phrase_tf(text: str, phrase: str) -> int:
    ts = text.lower().split()
    ws = phrase.lower().split()
    return sum(
        1 for i in range(len(ts) - len(ws) + 1) if ts[i:i + len(ws)] == ws
    )


def test_inline_corpus_edge_cases(spark):
    """Leading/repeated whitespace (filtered-array offsets), duplicate-term
    phrases, and overlapping occurrences ("a a a" contains "a a" twice)."""
    docs = [
        (0, "  a  b a b  a"),     # ragged whitespace
        (1, "a a a a"),           # overlapping duplicate-term phrase
        (2, "b b a"),
        (3, "x y z"),
    ]
    phrases = [(1, "a b"), (2, "a a"), (3, "b a b"), (4, "a b x")]
    corpus = spark.createDataFrame(docs, "doc_id long, content string")
    res = phrase_topk(positional_postings(corpus),
                      spark.createDataFrame(phrases, "query_id long, content string"),
                      k=10)
    got = {(r.query_id, r.doc_id): r.phrase_tf for r in res.collect()}
    want = {}
    for qid, ph in phrases:
        for did, text in docs:
            n = _naive_phrase_tf(text, ph)
            if n > 0:
                want[(qid, did)] = n
    assert got == want


def test_phrase_terms_slots(spark):
    pt = phrase_terms(spark.createDataFrame(
        [(1, "scan scan filter")], "query_id long, content string"))
    rows = sorted((r.offset, r.m) for r in pt.collect())
    assert rows == [(0, 3), (1, 3), (2, 3)]


def test_phrase_plan_broadcasts_query_side(positional, spark):
    """The phrase join must broadcast the tiny slot table — no
    SortMergeJoin anywhere in the phrase plan (same CI contract as the
    other serving plans, tests/test_plan_shapes.py)."""
    plan = phrase_topk(positional, phrases_df(spark), k=10)._jdf.queryExecution().executedPlan().toString()
    assert "SortMergeJoin" not in plan
    assert "BroadcastHashJoin" in plan


def test_phrase_rarest_slot_pruning_identical(positional, corpus, spark, sf_dir):
    """vocab-guided rarest-slot candidate pruning must not change output —
    a phrase match always contains its rarest term."""
    from invertedfiles_jl_spark.operators.build import build_index

    idx = build_index(corpus, IndexConfig(weighting="binary"))
    base = sorted(tuple(r) for r in
                  phrase_topk(positional, phrases_df(spark), k=10).collect())
    pruned = sorted(tuple(r) for r in
                    phrase_topk(positional, phrases_df(spark), k=10,
                                vocab=idx.vocab).collect())
    assert base == pruned and len(base) > 0


# ---------------------------------------------------------------------------
# ordered proximity (sloppy phrase)
# ---------------------------------------------------------------------------


def _naive_min_span(ts: list[str], ws: list[str]) -> int | None:
    """Reference DP: minimal ordered span of ws inside ts (None = no chain).
    best(i, p) = max start of a chain ending slot i at position p."""
    cur = {i: i for i, t in enumerate(ts) if t == ws[0]}
    for w in ws[1:]:
        if not cur:
            return None
        items = sorted(cur.items())
        nxt = {}
        for p, t in enumerate(ts):
            if t != w:
                continue
            starts = [b for pp, b in items if pp < p]
            if starts:
                nxt[p] = max(starts)
        cur = nxt
    return min((p - b for p, b in cur.items()), default=None)


def test_proximity_inline_corpus(spark):
    """Pin min-span semantics against naive DP on a corpus exercising
    duplicate terms, out-of-order occurrences and multiple chains."""
    docs = [
        (0, "a x x b"),        # span 3
        (1, "b a"),            # out of order only -> no ordered chain
        (2, "a a b"),          # two chains, min span 1
        (3, "a b a b"),        # overlapping, min span 1
        (4, "a x x x x x b"),  # span 6
        (5, "c c"),            # duplicate-term query target
        (6, "c"),              # single occurrence: "c c" must NOT match
    ]
    phrases = [(1, "a b"), (2, "c c"), (3, "a")]
    corpus = spark.createDataFrame(docs, "doc_id long, content string")
    res = proximity_topk(
        positional_postings(corpus),
        spark.createDataFrame(phrases, "query_id long, content string"),
        k=10)
    got = {(r.query_id, r.doc_id): r.min_span for r in res.collect()}
    want = {}
    for qid, ph in phrases:
        for did, text in docs:
            s = _naive_min_span(text.split(), ph.split())
            if s is not None:
                want[(qid, did)] = s
    assert got == want
    assert want[(1, 0)] == 3 and want[(2, 5)] == 1 and (2, 6) not in want


def test_proximity_matches_oracle(positional, spark, sf_dir):
    res = proximity_topk(positional, phrases_df(spark), k=10, max_span=8)
    got = sorted(tuple(r) for r in res.collect())
    want = sorted(tuple(r) for r in _duck(sf_dir).execute(
        proximity_topk_sql(PHRASE_SET, 10, max_span=8)).fetchall())
    assert got == want and len(got) > 0


def test_proximity_phrase_special_case(positional, spark):
    """max_span = m−1 with strictly increasing positions ⇒ consecutive:
    the proximity match SET must equal the exact-phrase match set."""
    ph = phrase_topk(positional, phrases_df(spark), k=10 ** 6)
    phrase_set = {(r.query_id, r.doc_id) for r in ph.collect()}
    m_by_q = {qid: len(t.split()) for qid, t in PHRASE_SET}
    prox = proximity_topk(positional, phrases_df(spark), k=10 ** 6)
    prox_set = {
        (r.query_id, r.doc_id) for r in prox.collect()
        if r.min_span <= m_by_q[r.query_id] - 1
    }
    assert prox_set == phrase_set and len(phrase_set) > 0


def test_proximity_rarest_slot_pruning_identical(positional, corpus, spark):
    from invertedfiles_jl_spark.operators.build import build_index

    idx = build_index(corpus, IndexConfig(weighting="binary"))
    base = sorted(tuple(r) for r in proximity_topk(
        positional, phrases_df(spark), k=10, max_span=8).collect())
    pruned = sorted(tuple(r) for r in proximity_topk(
        positional, phrases_df(spark), k=10, max_span=8,
        vocab=idx.vocab).collect())
    assert base == pruned and len(base) > 0


def test_proximity_plan_no_sortmergejoin(positional, spark):
    plan = proximity_topk(positional, phrases_df(spark), k=10)._jdf \
        .queryExecution().executedPlan().toString()
    assert "SortMergeJoin" not in plan
    assert "BroadcastHashJoin" in plan


def test_snippet_inline_corpus(spark):
    """Earliest minimal window + its token slice, pinned by hand."""
    from invertedfiles_jl_spark.operators.positional import snippet_topk

    docs = [
        (0, "a x b q a b"),    # minimal span 1 at start 4 ("a b")
        (1, "a y y b"),        # only window: span 3 at 0
        (2, "b a"),            # no ordered chain
    ]
    corpus = spark.createDataFrame(docs, "doc_id long, content string")
    res = snippet_topk(
        positional_postings(corpus), spark.createDataFrame(
            [(1, "a b")], "query_id long, content string"), corpus, k=10)
    got = {r.doc_id: (r.min_span, r.start, r.snippet) for r in res.collect()}
    assert got == {0: (1, 4, "a b"), 1: (3, 0, "a y y b")}
    ranks = {r.doc_id: r.rank for r in res.collect()}
    assert ranks == {0: 1, 1: 2}


def test_snippet_matches_oracle(positional, corpus, spark, sf_dir):
    from invertedfiles_jl_spark.operators.positional import snippet_topk
    from invertedfiles_jl_spark.plans.oracles import snippet_topk_sql

    res = snippet_topk(positional, phrases_df(spark), corpus, k=10, max_span=8)
    got = sorted(tuple(r) for r in res.collect())
    want = sorted(tuple(r) for r in _duck(sf_dir).execute(
        snippet_topk_sql(PHRASE_SET, 10, max_span=8)).fetchall())
    assert got == want and len(got) > 0
    # the ranked (query, doc, min_span) triples must agree with proximity
    prox = {(r.query_id, r.doc_id): r.min_span for r in proximity_topk(
        positional, phrases_df(spark), k=10, max_span=8).collect()}
    assert {(r[0], r[2]): r[3] for r in got} == prox


def test_positional_random_stress(spark):
    """Seeded random stress: tiny alphabet (max duplicate-term/overlap
    pathology), 80 docs x 12 queries; phrase counts and min spans vs the
    naive python oracles in one Spark pass."""
    import numpy as np

    rng = np.random.default_rng(7)
    alpha = ["a", "b", "c", "d"]
    docs = [(i, " ".join(rng.choice(alpha, size=rng.integers(1, 30))))
            for i in range(80)]
    queries = [(i + 1, " ".join(rng.choice(alpha, size=rng.integers(1, 4))))
               for i in range(12)]
    corpus = spark.createDataFrame(docs, "doc_id long, content string")
    qdf = spark.createDataFrame(queries, "query_id long, content string")
    pos = positional_postings(corpus)

    big = 10 ** 6
    got_ph = {(r.query_id, r.doc_id): r.phrase_tf
              for r in phrase_topk(pos, qdf, k=big).collect()}
    want_ph = {}
    for qid, ph in queries:
        for did, text in docs:
            n = _naive_phrase_tf(text, ph)
            if n > 0:
                want_ph[(qid, did)] = n
    assert got_ph == want_ph

    got_px = {(r.query_id, r.doc_id): r.min_span
              for r in proximity_topk(pos, qdf, k=big).collect()}
    want_px = {}
    for qid, ph in queries:
        for did, text in docs:
            s = _naive_min_span(text.split(), ph.split())
            if s is not None:
                want_px[(qid, did)] = s
    assert got_px == want_px and len(got_px) > len(want_ph)


def test_phrase_bm25_gate_and_scores(positional, corpus, spark):
    """phrase_bm25_topk doc set == phrase match set; each score equals the
    plain BM25 score of the same (query, doc) on the full ranking."""
    from invertedfiles_jl_spark.operators.build import build_index
    from invertedfiles_jl_spark.operators.positional import phrase_bm25_topk
    from invertedfiles_jl_spark.operators.search import bm25_topk

    idx = build_index(corpus, IndexConfig(weighting="bm25"))
    big = 10 ** 6
    got = phrase_bm25_topk(idx, positional, phrases_df(spark), k=big,
                           rank_round=6).collect()
    gate = {(r.query_id, r.doc_id) for r in
            phrase_topk(positional, phrases_df(spark), k=big).collect()}
    assert {(r.query_id, r.doc_id) for r in got} == gate and gate
    full = {(r.query_id, r.doc_id): r.score for r in
            bm25_topk(idx, phrases_df(spark), k=big, rank_round=6).collect()}
    for r in got:
        assert abs(full[(r.query_id, r.doc_id)] - r.score) < 1e-12


def test_proximity_long_phrase_checkpoint_path(spark):
    """m=5 exercises the per-stage localCheckpoint branch (max_m > 3);
    results must still equal the naive DP."""
    docs = [
        (0, "a b c d e"),            # span 4
        (1, "a x b x c x d x e"),    # span 8
        (2, "e d c b a"),            # reverse only -> no chain
        (3, "a b c d"),              # incomplete
        (4, "a a b b c c d d e e"),  # many chains, min span 5? compute
    ]
    corpus = spark.createDataFrame(docs, "doc_id long, content string")
    qdf = spark.createDataFrame([(1, "a b c d e")],
                                "query_id long, content string")
    got = {r.doc_id: r.min_span for r in proximity_topk(
        positional_postings(corpus), qdf, k=100).collect()}
    want = {}
    for did, text in docs:
        s = _naive_min_span(text.split(), "a b c d e".split())
        if s is not None:
            want[did] = s
    assert got == want and 0 in got and 2 not in got
