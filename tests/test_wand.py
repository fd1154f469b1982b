"""Plan B (MaxScore) rank-identity vs Plan A and the brute-force oracle —
the north rule's Plan-equivalence gate, incl. the compressed-postings path."""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from invertedfiles_jl_spark.config import IndexConfig
from invertedfiles_jl_spark.operators.build import build_index
from invertedfiles_jl_spark.operators.search import bm25_topk, cosine_topk
from invertedfiles_jl_spark.operators.wand import wand_cosine_topk, wand_topk
from invertedfiles_jl_spark.sources.queries import QUERY_SET, queries_df

from tests import oracle


@pytest.fixture(scope="module")
def corpus(documents):
    return documents.select("doc_id", F.col("text").alias("content"))


@pytest.fixture(scope="module")
def texts(docs_pandas):
    return dict(zip(docs_pandas["doc_id"], docs_pandas["text"]))


def _collect(df):
    out = {}
    for r in df.collect():
        out.setdefault(r["query_id"], []).append((r["rank"], r["doc_id"], r[df.columns[-1]]))
    for q in out:
        out[q].sort()
    return out


@pytest.mark.parametrize("compress", [False, True])
def test_wand_bm25_rank_identical(corpus, texts, spark, compress):
    idx = build_index(corpus, IndexConfig(weighting="bm25", compress=compress,
                                          weight_dtype="double"))
    plan_a = _collect(bm25_topk(idx, queries_df(spark), k=10))
    plan_b = _collect(wand_topk(idx, queries_df(spark), k=10))
    assert set(plan_a) == set(plan_b)
    for qid in plan_a:
        assert [d for _, d, _ in plan_a[qid]] == [d for _, d, _ in plan_b[qid]], f"q{qid}"
        for (_, _, sa), (_, _, sb) in zip(plan_a[qid], plan_b[qid]):
            assert math.isclose(sa, sb, rel_tol=1e-9, abs_tol=1e-12)
    # and against the oracle
    for qid, qtext in QUERY_SET:
        gold = oracle.topk_of(oracle.bm25_scores(texts, qtext), 10, ascending=False)
        assert [d for _, d, _ in plan_b.get(qid, [])] == [d for d, _ in gold], f"q{qid}"


def test_wand_cosine_rank_identical(corpus, texts, spark):
    idx = build_index(corpus, IndexConfig(weighting="normcosine", weight_dtype="double"))
    plan_b = _collect(wand_cosine_topk(idx, queries_df(spark), k=10))
    for qid, qtext in QUERY_SET:
        gold = oracle.topk_of(oracle.cosine_dists(texts, qtext), 10, ascending=True)
        mine = plan_b.get(qid, [])
        assert [d for _, d, _ in mine] == [d for d, _ in gold], f"q{qid}"
        for (_, _, s), (_, gs) in zip(mine, gold):
            assert abs(s - gs) < 1e-9


def test_wand_pruning_engages(corpus, spark):
    """With k=1 the suffix-bound prune must fire on multi-term queries —
    assert via identical results AND that a tiny-k search touches fewer
    candidates (indirect: result equality is the safety gate; this test
    pins the k=1 path)."""
    idx = build_index(corpus, IndexConfig(weighting="bm25", weight_dtype="double"))
    a = _collect(bm25_topk(idx, queries_df(spark), k=1))
    b = _collect(wand_topk(idx, queries_df(spark), k=1))
    assert a == b or all(
        [d for _, d, _ in a[q]] == [d for _, d, _ in b[q]] for q in a
    )


def _mk_group_pdf(with_blocks: bool, block_size: int = 8):
    """One query, three posting lists over 200 docs: a short high-weight
    list (drives theta up fast) and two long lists whose later blocks are
    low-weight — exactly the shape block-max skipping exists for."""
    import numpy as np
    import pandas as pd

    rows = []
    short_ids = np.arange(0, 10, dtype=np.int64)
    short_w = np.full(10, 5.0)
    rows.append((short_ids, short_w, 3.0))
    long_ids = np.arange(0, 200, dtype=np.int64)
    # first block high, the rest tiny: the tail blocks are skippable
    long_w = np.where(long_ids < block_size, 2.0, 0.01)
    rows.append((long_ids, long_w, 1.0))
    rows.append((long_ids + 1, long_w * 0.5, 1.0))
    data = {
        "query_id": [1] * 3,
        "qw": [r[2] for r in rows],
        "doc_ids": [r[0] for r in rows],
        "weights": [r[1] for r in rows],
        "max_weight": [float(r[1].max()) for r in rows],
    }
    if with_blocks:
        data["block_max"] = [
            [float(r[1][b * block_size:(b + 1) * block_size].max())
             for b in range((len(r[1]) + block_size - 1) // block_size)]
            for r in rows
        ]
    return pd.DataFrame(data)


def test_blockmax_prunes_more_and_stays_rank_identical():
    from invertedfiles_jl_spark.operators.wand import _maxscore_group

    bs = 8
    out_nb, st_nb = _maxscore_group(_mk_group_pdf(False), k=3, rank_round=6,
                                    block_size=bs, return_stats=True)
    out_bm, st_bm = _maxscore_group(_mk_group_pdf(True), k=3, rank_round=6,
                                    block_size=bs, return_stats=True)
    assert out_nb.values.tolist() == out_bm.values.tolist()
    # same entries end up pruned, but with block_max whole blocks are skipped
    # without per-entry work
    assert st_nb["block_skipped"] == 0
    assert st_bm["block_skipped"] > 0, st_bm
    assert st_bm["pruned"] >= st_nb["pruned"]
    # exactness vs brute force
    import numpy as np

    pdf = _mk_group_pdf(False)
    scores: dict = {}
    for qw, ids, ws in zip(pdf["qw"], pdf["doc_ids"], pdf["weights"]):
        for d, w in zip(ids, ws):
            scores[int(d)] = scores.get(int(d), 0.0) + qw * float(w)
    gold = sorted(scores.items(), key=lambda kv: (-round(kv[1], 6), kv[0]))[:3]
    assert [int(d) for d in out_bm["doc_id"]] == [d for d, _ in gold]
    for s, (_, gs) in zip(out_bm["score"], gold):
        assert np.isclose(s, gs)


def test_rank_round_half_up_matches_plan_a_rule(spark):
    """The kernel's final ranking key must round HALF_UP like Plan A's
    ``F.round`` (and the sharded kernel / DuckDB oracles) — NOT numpy's
    half-to-even.  Scores 0.25 vs 0.26 at rank_round=1: HALF_UP keys both
    to 0.3 (tie → doc_id asc → doc 2 wins); banker's rounding keys them
    0.2 vs 0.3 and flips the top-1 to doc 7.  Negative keys (MMR's
    λ·rel − (1−λ)·maxsim) round their halves away from zero, as
    ``F.round`` does: −2.5 → −3 at 0 dp, −0.125 → −0.13 at 2 dp."""
    import numpy as np
    import pandas as pd

    from invertedfiles_jl_spark.operators.wand import _maxscore_group, round_half_up

    cases = [(-2.5, 0), (-0.125, 2), (-0.375, 2), (-0.25, 1), (-0.5, 0),
             (-1.24, 1), (-0.0, 3), (0.25, 1), (2.5, 0), (0.125, 2), (1.26, 1)]
    row = spark.createDataFrame([tuple(v for v, _ in cases)],
                                [f"v{i}" for i in range(len(cases))]).select(
        *[F.round(f"v{i}", nd) for i, (_, nd) in enumerate(cases)]).first()
    got = [float(round_half_up(np.array([v]), nd)[0]) for v, nd in cases]
    assert got == [float(x) for x in row], (got, list(row))

    pdf = pd.DataFrame(
        {
            "query_id": [1],
            "qw": [1.0],
            "doc_ids": [np.array([2, 7], dtype=np.int64)],
            "weights": [np.array([0.25, 0.26])],
            "max_weight": [0.26],
        }
    )
    out = _maxscore_group(pdf, k=1, rank_round=1, block_size=8)
    assert out["doc_id"].tolist() == [2], out
