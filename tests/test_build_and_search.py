"""End-to-end build + Plan A search vs numpy brute-force oracle —
the Spark port of the reference's randomized-vs-exhaustive strategy
(/root/reference/test/invfiles.jl:19-52,114-150)."""

from __future__ import annotations

import math

import pytest

from invertedfiles_jl_spark.config import IndexConfig
from invertedfiles_jl_spark.operators.build import build_index
from invertedfiles_jl_spark.operators.search import (
    SET_DISTANCES,
    bm25_topk,
    cosine_topk,
    set_distance_topk,
)
from invertedfiles_jl_spark.sources.queries import QUERY_SET, queries_df

from tests import oracle


@pytest.fixture(scope="module")
def texts(docs_pandas):
    return dict(zip(docs_pandas["doc_id"], docs_pandas["text"]))


@pytest.fixture(scope="module")
def corpus(documents):
    from pyspark.sql import functions as F

    return documents.select("doc_id", F.col("text").alias("content"))


def _collect_topk(df):
    out = {}
    for r in df.collect():
        out.setdefault(r["query_id"], []).append((r["rank"], r["doc_id"], r[df.columns[-1]]))
    for q in out:
        out[q].sort()
    return out


def test_build_tables(corpus, texts):
    idx = build_index(corpus, IndexConfig(weighting="bm25"))
    assert idx.stats["n_docs"] == len(texts)
    # vocab parity with python oracle
    _, df_oracle, _, avgdl = oracle.build_corpus_stats(texts)
    vocab = {r["term"]: r["df"] for r in idx.vocab.collect()}
    assert vocab == dict(df_oracle)
    assert math.isclose(idx.stats["avg_doc_len"], avgdl, rel_tol=1e-9)
    # posting lists doc-sorted (parallel_append! post-sort invariant,
    # /root/reference/src/invfile.jl:170-184)
    rows = idx.postings.collect()
    for r in rows:
        ids = list(r["doc_ids"])
        assert ids == sorted(ids)
        assert len(ids) == r["df_part"] == len(r["weights"])


def test_bm25_rank_identical_to_oracle(corpus, texts, spark):
    idx = build_index(corpus, IndexConfig(weighting="bm25"))
    got = _collect_topk(bm25_topk(idx, queries_df(spark), k=10))
    for qid, qtext in QUERY_SET:
        gold = oracle.topk_of(oracle.bm25_scores(texts, qtext), 10, ascending=False)
        mine = got.get(qid, [])
        assert [d for _, d, _ in mine] == [d for d, _ in gold], f"q{qid} ids"
        for (_, _, s), (_, gs) in zip(mine, gold):
            # stored sat-tf is float32 (reference stores Float32 weights,
            # /root/reference/src/idweight.jl:9) vs float64 oracle
            assert math.isclose(s, gs, rel_tol=1e-5, abs_tol=1e-5), f"q{qid} score"
    assert 10 not in got  # out-of-vocab query ⇒ empty result


def test_cosine_rank_identical_to_oracle(corpus, texts, spark):
    idx = build_index(corpus, IndexConfig(weighting="normcosine"))
    got = _collect_topk(cosine_topk(idx, queries_df(spark), k=10))
    for qid, qtext in QUERY_SET:
        gold = oracle.topk_of(oracle.cosine_dists(texts, qtext), 10, ascending=True)
        mine = got.get(qid, [])
        assert [d for _, d, _ in mine] == [d for d, _ in gold], f"q{qid} ids"
        for (_, _, s), (_, gs) in zip(mine, gold):
            # float32 stored weights vs float64 oracle — the reference's own
            # fidelity gate is L2 err < 0.01 (test/invfiles.jl:141-150)
            assert abs(s - gs) < 1e-4, f"q{qid} dist {s} vs {gs}"


@pytest.mark.parametrize("dist", SET_DISTANCES)
def test_set_distances_vs_oracle(corpus, texts, spark, dist):
    idx = build_index(corpus, IndexConfig(weighting="binary"))
    got = _collect_topk(set_distance_topk(idx, queries_df(spark), k=10, dist=dist))
    for qid, qtext in QUERY_SET:
        gold = oracle.topk_of(oracle.set_dists(texts, qtext, dist), 10, ascending=True)
        mine = got.get(qid, [])
        assert [d for _, d, _ in mine] == [d for d, _ in gold], f"{dist} q{qid} ids"
        for (_, _, s), (_, gs) in zip(mine, gold):
            assert abs(s - gs) < 1e-9, f"{dist} q{qid}"


def test_t_threshold(corpus, texts, spark):
    idx = build_index(corpus, IndexConfig(weighting="binary"))
    got = _collect_topk(set_distance_topk(idx, queries_df(spark), k=10, dist="jaccard", t=2))
    for qid, qtext in QUERY_SET:
        gold = oracle.topk_of(oracle.set_dists(texts, qtext, "jaccard", t=2), 10, ascending=True)
        assert [d for _, d, _ in got.get(qid, [])] == [d for d, _ in gold], f"q{qid}"


def test_t_threshold_weighted(corpus, texts, spark):
    """t applies to weighted search too (xmerge!(…; t) is passed through for
    WeightedInvertedFile, /root/reference/src/winvfilesearch.jl:30)."""
    idx = build_index(corpus, IndexConfig(weighting="bm25"))
    got = _collect_topk(bm25_topk(idx, queries_df(spark), k=10, t=2))
    for qid, qtext in QUERY_SET:
        gold = oracle.topk_of(oracle.bm25_scores(texts, qtext, t=2), 10, ascending=False)
        assert [d for _, d, _ in got.get(qid, [])] == [d for d, _ in gold], f"q{qid}"


def test_salting_preserves_results(corpus, texts, spark):
    """Hot-term salting must not change any result: bucketed sub-lists are
    doc-range-disjoint, so concatenation order restores the sorted list."""
    cfg = IndexConfig(weighting="bm25", salt_df_threshold=50, salt_buckets=4)
    idx = build_index(corpus, cfg)
    # every hot term got split
    n_parts = {r["term_id"]: r["n"] for r in
               idx.postings.groupBy("term_id").count().withColumnRenamed("count", "n").collect()}
    assert max(n_parts.values()) > 1
    got = _collect_topk(bm25_topk(idx, queries_df(spark), k=10))
    for qid, qtext in QUERY_SET:
        gold = oracle.topk_of(oracle.bm25_scores(texts, qtext), 10, ascending=False)
        assert [d for _, d, _ in got.get(qid, [])] == [d for d, _ in gold], f"q{qid}"


def test_filtered_bm25_equals_postfiltered_full_ranking(corpus, documents, spark):
    """Filtered retrieval contract: accept-set top-k == take the FULL
    unfiltered ranking (k = corpus size), drop non-accepted docs, re-rank,
    truncate to k.  Scores must be identical (full-corpus idf/avgdl — a
    rebuild on the accepted subset would change them, which is NOT the
    semantics)."""
    from pyspark.sql import functions as F

    idx = build_index(corpus, IndexConfig(weighting="bm25", weight_dtype="double"))
    accept = documents.filter(F.col("lang") == "en").select("doc_id")
    accepted_ids = {r["doc_id"] for r in accept.collect()}
    assert accepted_ids, "fixture must accept some docs"
    n_docs = corpus.count()
    assert len(accepted_ids) < n_docs, "filter must reject some docs"

    got = _collect_topk(
        bm25_topk(idx, queries_df(spark), k=10, rank_round=6, accept_docs=accept))

    full = {}
    for r in bm25_topk(idx, queries_df(spark), k=n_docs, rank_round=6).collect():
        full.setdefault(r["query_id"], []).append((r["rank"], r["doc_id"], r["score"]))
    for qid, rows in full.items():
        kept = [(d, s) for _, d, s in sorted(rows) if d in accepted_ids][:10]
        want = [(i + 1, d, s) for i, (d, s) in enumerate(kept)]
        have = [(rk, d, round(s, 9)) for rk, d, s in got.get(qid, [])]
        assert have == [(rk, d, round(s, 9)) for rk, d, s in want], f"q{qid}"


def test_prefix_topk_vs_python(corpus, texts, spark):
    """Prefix expansion + distinct-term counting vs naive python over the
    raw texts; OOV prefix yields nothing; compressed index ranks equal."""
    from invertedfiles_jl_spark.operators.search import prefix_topk
    from invertedfiles_jl_spark.sources.queries import PREFIX_SET, prefixes_df

    idx = build_index(corpus, IndexConfig(weighting="bm25"))
    big = 10 ** 6
    got = {}
    for r in prefix_topk(idx, prefixes_df(spark), k=big).collect():
        got[(r.query_id, r.doc_id)] = r.n_terms
    want = {}
    for qid, p in PREFIX_SET:
        for did, text in texts.items():
            n = len({t for t in text.lower().split() if t.startswith(p)})
            if n > 0:
                want[(qid, did)] = n
    assert got == want
    assert not any(q == 5 for q, _ in got)  # OOV prefix
    assert any(q == 1 for q, _ in got)

    cidx = build_index(corpus, IndexConfig(weighting="bm25", compress=True))
    got_c = {(r.query_id, r.doc_id): r.n_terms
             for r in prefix_topk(cidx, prefixes_df(spark), k=big).collect()}
    assert got_c == want


def test_compressed_index_reads_like_plain(corpus, spark):
    """Every posting-list reader returns the same rows on a
    ``compress=True`` index as on the plain one: ``postings_exploded`` and
    ``tfidf_topk``'s lnc norm read the whole table, ``searchbatch_cosine``
    probes it by broadcast and ``allknn`` by shuffle join."""
    from pyspark.sql import functions as F

    from invertedfiles_jl_spark.operators.knn import (
        allknn,
        build_vector_index,
        searchbatch_cosine,
    )
    from invertedfiles_jl_spark.operators.search import (
        postings_exploded,
        tfidf_topk,
    )

    def rows(df):
        return sorted(tuple(round(v, 9) if isinstance(v, float) else v
                            for v in r) for r in df.collect())

    def both(build, cfg):
        return [build(IndexConfig(**cfg, compress=c)) for c in (False, True)]

    def text_index(cfg):
        return build_index(corpus, cfg)

    plain, packed = both(text_index, {"weighting": "bm25"})
    assert rows(postings_exploded(packed)) == rows(postings_exploded(plain))
    plain, packed = both(text_index, {"weighting": "tf"})
    q = queries_df(spark)
    assert rows(tfidf_topk(packed, q, k=10, rank_round=6)) == \
        rows(tfidf_topk(plain, q, k=10, rank_round=6))

    # a small normalized vector corpus with one hot term, salted
    raw = spark.createDataFrame(
        [(d, t, w) for d in range(60)
         for t, w in ((d % 5, 1.0 + d % 3), (5 + d % 7, 2.0), (20, 0.5))],
        "doc_id long, term long, weight double")
    nrm = raw.groupBy("doc_id").agg(
        F.sqrt(F.sum(F.col("weight") ** 2)).alias("nn"))
    pairs = raw.join(nrm, "doc_id").select(
        "doc_id", "term", (F.col("weight") / F.col("nn")).alias("weight"))
    plain, packed = both(
        lambda cfg: build_vector_index(pairs, cfg),
        {"weighting": "normcosine", "weight_dtype": "double",
         "salt_df_threshold": 16, "salt_buckets": 4})
    qpairs = pairs.filter(F.col("doc_id") < 10).select(
        F.col("doc_id").alias("query_id"), "term", F.col("weight").alias("qw"))
    assert rows(searchbatch_cosine(packed, qpairs, k=5, rank_round=6)) == \
        rows(searchbatch_cosine(plain, qpairs, k=5, rank_round=6))
    assert rows(allknn(packed, pairs, k=3, rank_round=6)) == \
        rows(allknn(plain, pairs, k=3, rank_round=6))


def test_fuzzy_topk_vs_python(corpus, texts, spark):
    """Edit-distance-1 expansion vs naive python Levenshtein; far-OOV
    yields nothing; exact terms include themselves and neighbors."""
    from invertedfiles_jl_spark.operators.search import fuzzy_topk
    from invertedfiles_jl_spark.sources.queries import FUZZY_SET, fuzzy_df

    def lev(a, b):
        if abs(len(a) - len(b)) > 3:
            return 99
        prev = list(range(len(b) + 1))
        for i, ca in enumerate(a, 1):
            cur = [i]
            for j, cb in enumerate(b, 1):
                cur.append(min(prev[j] + 1, cur[-1] + 1,
                               prev[j - 1] + (ca != cb)))
            prev = cur
        return prev[-1]

    idx = build_index(corpus, IndexConfig(weighting="bm25"))
    got = {(r.query_id, r.doc_id): r.n_terms
           for r in fuzzy_topk(idx, fuzzy_df(spark), k=10 ** 6).collect()}
    want = {}
    for qid, q in FUZZY_SET:
        for did, text in texts.items():
            n = len({t for t in text.lower().split() if lev(t, q) <= 1})
            if n > 0:
                want[(qid, did)] = n
    assert got == want
    assert not any(q == 5 for q, _ in got)   # far OOV
    assert any(q == 3 for q, _ in got)        # exact term matches


def test_boolean_topk_semantics(corpus, texts, spark):
    """must-all gating, must_not exclusion, OOV must => zero rows, and
    should-only equals plain BM25 on the same text."""
    from invertedfiles_jl_spark.operators.search import boolean_topk
    from invertedfiles_jl_spark.sources.queries import boolean_df

    idx = build_index(corpus, IndexConfig(weighting="bm25"))
    big = 10 ** 6
    rows = boolean_topk(idx, boolean_df(spark), k=big).collect()
    by_q = {}
    for r in rows:
        by_q.setdefault(r.query_id, set()).add(r.doc_id)
    toks = {d: set(t.lower().split()) for d, t in texts.items()}
    # q1: must "scan" — every result contains scan
    assert by_q[1] and all("scan" in toks[d] for d in by_q[1])
    # q2: conjunction scan AND filter
    assert by_q[2] == {d for d, ts in toks.items()
                       if "scan" in ts and "filter" in ts}
    # q3: should-only with exclusion — no result contains merge, and the
    # candidate set is exactly (scan|window) minus merge docs
    assert by_q[3] == {d for d, ts in toks.items()
                       if ({"scan", "window"} & ts) and "merge" not in ts}
    # q4: OOV must is unsatisfiable
    assert 4 not in by_q
    # should-only boolean == plain bm25 ranking on the same content
    bq = spark.createDataFrame([(9, None, "scan window", None)],
                               "query_id long, must string, should string, must_not string")
    bres = [(r.rank, r.doc_id, round(r.score, 6)) for r in
            boolean_topk(idx, bq, k=10, rank_round=6).collect()]
    pres = [(r.rank, r.doc_id, round(r.score, 6)) for r in
            bm25_topk(idx, spark.createDataFrame(
                [(9, "scan window")], "query_id long, content string"),
                k=10, rank_round=6).collect()]
    assert bres == pres and len(bres) == 10

    # clause edge cases, each rank-identical to a brute-force scorer
    edge = [
        (11, "scan", "", "scan"),              # +a -a: nothing
        (12, "", "scan window", "scan"),       # a -a b: no doc with a
        (13, "scan scan", "window", ""),       # +a +a: one must term
        (14, "scan", "scan", ""),              # +a a: qtf 2
        (15, "", "", "scan"),                  # must_not only: nothing
        (16, "", "scan window", "zzzmissing"),  # OOV must_not: no-op
    ]
    eq = spark.createDataFrame(
        edge, "query_id long, must string, should string, must_not string")
    got = {}
    for r in boolean_topk(idx, eq, k=big, rank_round=6).collect():
        got.setdefault(r.query_id, []).append((r.rank, r.doc_id, r.score))
    for qid, must, should, must_not in edge:
        need = set(oracle.tokenize_ws(must))
        nots = set(oracle.tokenize_ws(must_not))
        brute = {d: s for d, s in
                 oracle.bm25_scores(texts, f"{must} {should}").items()
                 if need <= toks[d] and not nots & toks[d]}
        gold = oracle.topk_of(brute, big, ascending=False)
        mine = sorted(got.get(qid, []))
        assert [d for _, d, _ in mine] == [d for d, _ in gold], f"q{qid}"
        for (_, _, s), (_, gs) in zip(mine, gold):
            assert math.isclose(s, gs, rel_tol=1e-5, abs_tol=1e-5), f"q{qid}"
    assert not {11, 15} & got.keys()
    assert got[16] and got[12]


def test_msm_generalizes_t_threshold(corpus, spark):
    """With every query reduced to its in-vocab terms, msm = 1.0 requires
    ALL terms (conjunction) and msm → 0 degenerates to plain BM25."""
    from invertedfiles_jl_spark.operators.search import bm25_msm_topk
    from invertedfiles_jl_spark.sources.queries import queries_df

    idx = build_index(corpus, IndexConfig(weighting="bm25"))
    q = queries_df(spark)
    plain = {(r["query_id"], r["rank"]): r["doc_id"]
             for r in bm25_topk(idx, q, k=10, rank_round=6).collect()}
    loose = {(r["query_id"], r["rank"]): r["doc_id"]
             for r in bm25_msm_topk(idx, q, k=10, msm=1e-9,
                                    rank_round=6).collect()}
    assert loose == plain
    # msm=1.0: every returned doc must contain every in-vocab query term
    strict = bm25_msm_topk(idx, q, k=100_000, msm=1.0, rank_round=6)
    loose_all = bm25_msm_topk(idx, q, k=100_000, msm=1e-9, rank_round=6)
    n_strict, n_loose = strict.count(), loose_all.count()
    assert 0 < n_strict < n_loose, "conjunction must prune the candidate set"


@pytest.mark.parametrize("scorer,wrong", [
    ("bm25_topk", "normcosine"), ("cosine_topk", "bm25"),
    ("set_distance_topk", "bm25"), ("tfidf_topk", "bm25"),
    ("wand_topk", "binary"),
])
def test_wrong_weighting_raises_value_error(corpus, spark, scorer, wrong):
    """A scorer handed an index of the wrong weighting raises ValueError —
    an explicit error that ``python -O`` (which strips asserts) keeps."""
    from invertedfiles_jl_spark.operators import search, wand

    fn = getattr(search, scorer, None) or getattr(wand, scorer)
    idx = build_index(corpus, IndexConfig(weighting=wrong))
    with pytest.raises(ValueError, match="index not built with"):
        fn(idx, queries_df(spark), k=5)
