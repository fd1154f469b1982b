"""Text analysis, ANN, and multimodal plumbing tests."""

from __future__ import annotations

import hashlib

import numpy as np
import pytest
from pyspark.sql import functions as F

from invertedfiles_jl_spark.config import IndexConfig
from invertedfiles_jl_spark.functions.text import (
    fingerprint,
    lang_id,
    quality_score,
    rolling_fingerprint,
    token_stats,
)
from invertedfiles_jl_spark.operators.ann import (
    brute_force_topk,
    embedding_near_duplicates,
    ivf_topk,
)
from invertedfiles_jl_spark.operators.multimodal import (
    FEATURE_DIM,
    attach_media,
    extract_features,
    frame_sample_plan,
)

CFG = IndexConfig()


@pytest.fixture(scope="module")
def corpus(documents):
    return documents.select("doc_id", F.col("text").alias("content"))


def test_token_stats(corpus, docs_pandas):
    got = {r["doc_id"]: r for r in token_stats(corpus, CFG).collect()}
    for d, t in zip(docs_pandas["doc_id"][:50], docs_pandas["text"][:50]):
        toks = [x.lower() for x in t.split() if x]
        assert got[d]["n_tokens"] == len(toks)
        assert got[d]["n_distinct"] == len(set(toks))
        assert abs(got[d]["mean_token_len"]
                   - round(sum(map(len, toks)) / max(len(toks), 1), 6)) < 1e-9


def test_quality_and_lang(corpus):
    q = quality_score(corpus, CFG).collect()
    assert all(0.0 <= r["quality"] <= 1.01 for r in q)
    langs = {r["pred_lang"] for r in lang_id(corpus, CFG).collect()}
    assert langs <= {"en", "es", "fr", "de", "und"}
    # the corpus contains 'the' and 'a' → docs with those predict en
    assert "en" in langs


def test_fingerprint_whitespace_invariant(spark):
    df = spark.createDataFrame(
        [(1, "hello  world  foo"), (2, "hello world foo"), (3, "HELLO world foo"),
         (4, "different text here")],
        "doc_id long, content string",
    )
    fps = {r["doc_id"]: r["fp"] for r in fingerprint(df, CFG).collect()}
    assert fps[1] == fps[2] == fps[3]
    assert fps[4] != fps[1]


def test_rolling_fingerprint_deterministic(spark):
    df = spark.createDataFrame(
        [(1, "the quick brown fox " * 20), (2, "the quick brown fox " * 20),
         (3, "a totally different document body " * 15), (4, "short")],
        "doc_id long, content string",
    )
    rows: dict = {}
    for r in rolling_fingerprint(df).collect():
        rows.setdefault(r["doc_id"], []).append((r["chunk_idx"], r["chunk_hash"]))
    for d in rows:
        rows[d].sort()
    assert rows[1] == rows[2]
    assert rows[1] != rows[3]
    assert len(rows[4]) >= 1  # shorter than the window → one whole-doc chunk


# ---------------------------------------------------------------------------
# ANN
# ---------------------------------------------------------------------------


@pytest.fixture(scope="module")
def emb(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/embeddings.parquet")


@pytest.fixture(scope="module")
def emb_np(sf_dir):
    import duckdb

    df = duckdb.sql(
        f"SELECT vec_id, embedding FROM '{sf_dir}/embeddings.parquet' ORDER BY vec_id"
    ).df()
    return np.array(df["embedding"].tolist(), dtype=np.float64)


def _queries(emb, n=5):
    return emb.filter(F.col("vec_id") < n).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("q_emb")
    )


def test_brute_force_matches_numpy(emb, emb_np, spark):
    got = {}
    for r in brute_force_topk(emb, _queries(emb), k=10).collect():
        got.setdefault(r["query_id"], []).append((r["rank"], r["vec_id"], r["cos"]))
    norms = np.linalg.norm(emb_np, axis=1)
    for qi in range(5):
        cos = (emb_np @ emb_np[qi]) / (norms * norms[qi])
        cos[qi] = -np.inf  # exclude self
        order = np.lexsort((np.arange(len(cos)), -np.round(cos, 6)))[:10]
        got[qi].sort()
        assert [v for _, v, _ in got[qi]] == order.tolist(), f"q{qi}"
        for (_, _, c), gi in zip(got[qi], order):
            assert abs(c - cos[gi]) < 1e-6


def test_ivf_recall_vs_bruteforce(emb, spark):
    gold = {}
    for r in brute_force_topk(emb, _queries(emb), k=10).collect():
        gold.setdefault(r["query_id"], set()).add(r["vec_id"])
    got = {}
    for r in ivf_topk(emb, _queries(emb), k=10, n_clusters=16, nprobe=8).collect():
        got.setdefault(r["query_id"], set()).add(r["vec_id"])
    recalls = [len(gold[q] & got.get(q, set())) / 10 for q in gold]
    assert np.mean(recalls) >= 0.5, f"IVF recall {np.mean(recalls)}"


def test_ivf_lloyd_refinement_improves_recall_on_clustered_data(spark):
    """4 true clusters around orthogonal axes; the 4 seed vectors (first-n)
    all come from ONE cluster — degenerate seeds, the case VERDICT r2
    flagged.  One Lloyd step (assign → per-dim mean) must strictly improve
    nprobe=1 recall vs brute force; determinism keeps the oracle valid."""
    from invertedfiles_jl_spark.operators.ann import ivf_topk as _ivf

    rng = np.random.RandomState(7)
    dim, per = 8, 30
    groups = []
    for g in range(4):
        base = np.zeros(dim)
        base[g] = 1.0
        groups.append(base + 0.25 * rng.randn(per, dim))
    idx_groups = [list(range(g * per, (g + 1) * per)) for g in range(4)]
    order = idx_groups[0][:4]  # all four seeds from cluster 0
    rest = idx_groups[0][4:] + idx_groups[1] + idx_groups[2] + idx_groups[3]
    rng.shuffle(rest)
    order += rest
    allv = np.vstack(groups)[order]
    rows = [(int(i), [float(x) for x in allv[i]]) for i in range(len(allv))]
    emb2 = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    q = emb2.filter(F.col("vec_id") >= 100).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("q_emb"))

    gold: dict = {}
    for r in brute_force_topk(emb2, q, k=5).collect():
        gold.setdefault(r["query_id"], set()).add(r["vec_id"])

    def recall(lloyd_iters):
        got: dict = {}
        for r in _ivf(emb2, q, k=5, n_clusters=4, nprobe=1,
                      lloyd_iters=lloyd_iters).collect():
            got.setdefault(r["query_id"], set()).add(r["vec_id"])
        return float(np.mean([len(gold[qq] & got.get(qq, set())) / 5
                              for qq in gold]))

    r0, r1 = recall(0), recall(1)
    assert r1 > r0, (r0, r1)
    assert r1 >= 0.7, r1


def test_embedding_near_dups_dim_validation(emb):
    """n_bands*band_width beyond the embedding dimension would silently
    collapse the LSH prune (empty signatures collide everything) — must
    raise instead (ADVICE r2)."""
    with pytest.raises(ValueError, match="exceeds the embedding dimension"):
        embedding_near_duplicates(emb, threshold=0.4, n_clusters=8,
                                  n_bands=64, band_width=4)


def test_embedding_near_duplicates_verified(emb, emb_np):
    rows = embedding_near_duplicates(emb, threshold=0.8, n_clusters=8).collect()
    norms = np.linalg.norm(emb_np, axis=1)
    for r in rows:
        a, b = r["vec_a"], r["vec_b"]
        cos = float(emb_np[a] @ emb_np[b] / (norms[a] * norms[b]))
        assert cos >= 0.8 - 1e-6
        assert abs(cos - r["cos"]) < 1e-4


def test_embedding_near_duplicates_banded_subset(emb, emb_np):
    """Sign-band LSH candidates are a subset of the exact same-cluster
    pairs; every emitted pair really clears the threshold; and the banding
    keeps reasonable recall on this fixture."""
    # threshold 0.4: the fixture embeddings are near-orthogonal — 0.8 has
    # zero pairs, which would make every assertion vacuous
    exact = {(r["vec_a"], r["vec_b"])
             for r in embedding_near_duplicates(emb, threshold=0.4,
                                                n_clusters=8).collect()}
    assert exact, "fixture must produce pairs or this test is vacuous"
    rows = embedding_near_duplicates(emb, threshold=0.4, n_clusters=8,
                                     n_bands=16, band_width=4).collect()
    banded = {(r["vec_a"], r["vec_b"]) for r in rows}
    assert banded <= exact
    norms = np.linalg.norm(emb_np, axis=1)
    for r in rows:
        a, b = r["vec_a"], r["vec_b"]
        cos = float(emb_np[a] @ emb_np[b] / (norms[a] * norms[b]))
        assert cos >= 0.4 - 1e-6
    assert len(banded) / len(exact) >= 0.8, (len(banded), len(exact))


# ---------------------------------------------------------------------------
# multimodal plumbing
# ---------------------------------------------------------------------------


def test_media_schema_and_features(corpus, spark):
    media = attach_media(corpus.limit(100))
    assert set(media.columns) == {"doc_id", "modality", "payload", "meta"}
    feats = extract_features(media).collect()
    assert len(feats) == 100
    for r in feats[:10]:
        assert len(r["feature"]) == FEATURE_DIM
    # deterministic: same payload → same features
    again = {r["doc_id"]: list(r["feature"])
             for r in extract_features(media).collect()}
    first = {r["doc_id"]: list(r["feature"]) for r in feats}
    assert again == first


def test_media_real_mode_raises(corpus):
    media = attach_media(corpus.limit(5))
    with pytest.raises(Exception, match="NotImplementedError|real decode"):
        extract_features(media, mode="real").collect()


def test_frame_sample_plan(corpus):
    media = attach_media(corpus.limit(200))
    plan = frame_sample_plan(media, every_n=30)
    rows = plan.collect()
    vids = media.filter(F.col("modality") == "video").count()
    assert len(rows) >= vids  # ≥1 frame per video
    assert all(r["frame_idx"] % 30 == 0 for r in rows)


def test_ivf_farthest_seeding_beats_first_n_on_clustered_data(spark):
    """Same degenerate fixture as the Lloyd test (all first-n seeds inside
    ONE cluster): with NO Lloyd refinement, farthest-point seeding must
    spread seeds across the true clusters and beat first-n recall at
    nprobe=1.  Deterministic (no RNG in the traversal)."""
    from invertedfiles_jl_spark.operators.ann import ivf_topk as _ivf

    rng = np.random.RandomState(7)
    dim, per = 8, 30
    groups = []
    for g in range(4):
        base = np.zeros(dim)
        base[g] = 1.0
        groups.append(base + 0.25 * rng.randn(per, dim))
    idx_groups = [list(range(g * per, (g + 1) * per)) for g in range(4)]
    order = idx_groups[0][:4]  # all four first-n seeds from cluster 0
    rest = idx_groups[0][4:] + idx_groups[1] + idx_groups[2] + idx_groups[3]
    rng.shuffle(rest)
    order += rest
    allv = np.vstack(groups)[order]
    rows = [(int(i), [float(x) for x in allv[i]]) for i in range(len(allv))]
    emb2 = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    q = emb2.filter(F.col("vec_id") >= 100).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("q_emb"))

    gold: dict = {}
    for r in brute_force_topk(emb2, q, k=5).collect():
        gold.setdefault(r["query_id"], set()).add(r["vec_id"])

    def recall(seed_mode):
        got: dict = {}
        for r in _ivf(emb2, q, k=5, n_clusters=4, nprobe=1, lloyd_iters=0,
                      seed_mode=seed_mode).collect():
            got.setdefault(r["query_id"], set()).add(r["vec_id"])
        return float(np.mean([len(gold[qq] & got.get(qq, set())) / 5
                              for qq in gold]))

    r_first, r_far = recall("first"), recall("farthest")
    assert r_far > r_first, (r_first, r_far)
    assert r_far >= 0.7, r_far


def test_doc_keywords_vs_python(documents, docs_pandas, spark):
    """TF-IDF top-5 per doc vs python recomputation (incl. tie-breaks)."""
    import math

    from pyspark.sql import functions as F

    from invertedfiles_jl_spark.functions.text import doc_keywords

    corpus = documents.select("doc_id", F.col("text").alias("content"))
    got = {}
    for r in doc_keywords(corpus, n=5, rank_round=6).collect():
        got.setdefault(r.doc_id, []).append((r.rank, r.term, round(r.tfidf, 5)))
    texts = dict(zip(docs_pandas["doc_id"], docs_pandas["text"]))
    n_docs = float(len(texts))
    tf, df = {}, {}
    for d, t in texts.items():
        toks = t.lower().split()
        tf[d] = {}
        for w in toks:
            tf[d][w] = tf[d].get(w, 0) + 1
        for w in set(toks):
            df[w] = df.get(w, 0) + 1
    for d in texts:
        scored = [
            (w, c * math.log(1.0 + (n_docs - df[w] + 0.5) / (df[w] + 0.5)))
            for w, c in tf[d].items()
        ]
        scored.sort(key=lambda x: (-round(x[1], 6), x[0]))
        want = [(i + 1, w, round(s, 5)) for i, (w, s) in enumerate(scored[:5])]
        assert sorted(got[d]) == want, d


def test_suggest_terms_autocomplete(documents, docs_pandas, spark):
    from pyspark.sql import functions as F

    from invertedfiles_jl_spark.config import IndexConfig
    from invertedfiles_jl_spark.operators.build import build_index
    from invertedfiles_jl_spark.operators.search import suggest_terms
    from invertedfiles_jl_spark.sources.queries import prefixes_df

    corpus = documents.select("doc_id", F.col("text").alias("content"))
    idx = build_index(corpus, IndexConfig(weighting="bm25"))
    got = {}
    for r in suggest_terms(idx, prefixes_df(spark), k=10).collect():
        got.setdefault(r.query_id, []).append((r.rank, r.term, r.cf))
    cf = {}
    for t in docs_pandas["text"]:
        for w in t.lower().split():
            cf[w] = cf.get(w, 0) + 1
    for qid, prefix in [(1, "sc"), (3, "window")]:
        m = sorted(((w, c) for w, c in cf.items() if w.startswith(prefix)),
                   key=lambda x: (-x[1], x[0]))[:10]
        assert sorted(got[qid]) == [(i + 1, w, c) for i, (w, c) in enumerate(m)]
    assert 5 not in got  # OOV prefix suggests nothing


def test_corpus_profile_vs_python(documents, docs_pandas, spark):
    import numpy as np
    from pyspark.sql import functions as F

    from invertedfiles_jl_spark.operators.meta import corpus_profile

    corpus = documents.select("doc_id", F.col("text").alias("content"))
    row = corpus_profile(corpus).first()
    lens = np.array([len(t.lower().split()) for t in docs_pandas["text"]])
    dfc = {}
    for t in docs_pandas["text"]:
        for w in set(t.lower().split()):
            dfc[w] = dfc.get(w, 0) + 1
    dfa = np.array(sorted(dfc.values()))
    assert row.n_docs == len(lens) and row.total_tokens == int(lens.sum())
    assert row.distinct_terms == len(dfc)
    # numpy 'linear' interpolation == SQL percentile/quantile_cont
    for col, q in (("doc_len_p50", 0.5), ("doc_len_p90", 0.9),
                   ("doc_len_p99", 0.99)):
        assert abs(getattr(row, col) - round(float(np.quantile(lens, q)), 6)) < 1e-9
    assert row.doc_len_max == int(lens.max())
    assert abs(row.df_p90 - round(float(np.quantile(dfa, 0.9)), 6)) < 1e-9
    assert row.df_max == int(dfa.max())


def test_corpus_profile_approx(documents, docs_pandas, spark):
    """The 100-TB swap: GK approx_percentile with accuracy ≥ n is the exact
    discrete quantile (smallest element with cum-count ≥ ceil(p·n)), and
    the output schema is identical to the exact mode."""
    import numpy as np
    from pyspark.sql import functions as F

    from invertedfiles_jl_spark.operators.meta import corpus_profile

    corpus = documents.select("doc_id", F.col("text").alias("content"))
    exact = corpus_profile(corpus)
    approx = corpus_profile(corpus, approx=True, accuracy=1_000_000)
    assert exact.schema == approx.schema
    row = approx.first()
    lens = np.array(sorted(len(t.lower().split()) for t in docs_pandas["text"]))
    for col, q in (("doc_len_p50", 0.5), ("doc_len_p90", 0.9),
                   ("doc_len_p99", 0.99)):
        want = float(lens[int(np.ceil(q * len(lens))) - 1])
        assert getattr(row, col) == want, (col, getattr(row, col), want)
    # the scalar (non-array) sketch branch: df_p90 discrete quantile
    dfc = {}
    for txt in docs_pandas["text"]:
        for w in set(txt.lower().split()):
            dfc[w] = dfc.get(w, 0) + 1
    dfa = sorted(dfc.values())
    assert row.df_p90 == float(dfa[int(np.ceil(0.9 * len(dfa))) - 1])
    # count columns are sketch-independent
    ex = exact.first()
    assert (row.n_docs, row.total_tokens, row.distinct_terms,
            row.doc_len_max, row.df_max) == \
           (ex.n_docs, ex.total_tokens, ex.distinct_terms,
            ex.doc_len_max, ex.df_max)


# ---------------------------------------------------------------------------
# SQ8 scalar quantization + semantic dedup + unigram-LM perplexity
# ---------------------------------------------------------------------------


def test_sq8_codes_shape_and_range(emb, spark):
    from invertedfiles_jl_spark.operators.ann import sq8_codes, sq8_stats

    stats = sq8_stats(emb)
    rows = sq8_codes(emb, stats).collect()
    dim = len(emb.first()["embedding"])
    assert all(len(r["codes"]) == dim for r in rows)
    assert all(0 <= c <= 255 for r in rows for c in r["codes"])


def test_sq8_recall_vs_brute_force(emb):
    """SQ8 per-dim error ≤ s/2 keeps top-10 recall near 1 on real vectors."""
    from invertedfiles_jl_spark.operators.ann import sq8_topk

    exact = brute_force_topk(emb, _queries(emb), k=10)
    approx = sq8_topk(emb, _queries(emb), k=10, depth=50)
    gold = {}
    for r in exact.collect():
        gold.setdefault(r["query_id"], set()).add(r["vec_id"])
    got = {}
    for r in approx.collect():
        got.setdefault(r["query_id"], set()).add(r["vec_id"])
    recalls = [len(gold[q] & got.get(q, set())) / len(gold[q]) for q in gold]
    assert sum(recalls) / len(recalls) >= 0.9, recalls


def test_sq8_exact_on_quantization_grid(spark):
    """Vectors already on the quantizer grid decode losslessly → SQ8 ranks
    exactly like brute force."""
    from invertedfiles_jl_spark.operators.ann import sq8_topk

    emb = spark.createDataFrame(
        [(i, [float((i * 7) % 4 + 1), float((i * 3) % 4 + 1)])
         for i in range(20)],
        "vec_id long, embedding array<float>")
    q = emb.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("q_emb"))
    exact = brute_force_topk(emb, q, k=5)
    approx = sq8_topk(emb, q, k=5, depth=20)
    assert sorted(map(tuple, exact.collect())) == sorted(map(tuple, approx.collect()))


def test_semantic_dedup_policy(emb):
    """Every dropped vector names a lower-id dup_of whose cosine clears the
    threshold; kept rows have no in-cluster lower-id neighbor above it."""
    from invertedfiles_jl_spark.operators.ann import (
        embedding_near_duplicates, semantic_dedup)

    res = semantic_dedup(emb, threshold=0.4, n_clusters=8)
    rows = res.collect()
    assert len(rows) == emb.count()
    pairs = {(r["vec_a"], r["vec_b"])
             for r in embedding_near_duplicates(
                 emb, threshold=0.4, n_clusters=8).collect()}
    lowest = {}
    for a, b in pairs:
        lowest[b] = min(lowest.get(b, a), a)
    for r in rows:
        if r["kept"]:
            assert r["vec_id"] not in lowest
            assert r["dup_of"] == -1
        else:
            assert r["dup_of"] == lowest[r["vec_id"]]
            assert r["dup_of"] < r["vec_id"]


def test_lm_perplexity_orders_fluency(spark):
    """Docs made of corpus-frequent tokens score lower perplexity than a
    doc of corpus-rare tokens, and ppl matches the closed-form unigram
    model."""
    import math

    from invertedfiles_jl_spark.functions.text import lm_perplexity

    docs = [
        (0, "the the the cat"),
        (1, "the cat the cat"),
        (2, "zyx qwv zyx jkl"),
    ]
    df = spark.createDataFrame(docs, "doc_id long, content string")
    got = {r["doc_id"]: r for r in lm_perplexity(df, CFG).collect()}
    toks = [t for _, c in docs for t in c.split()]
    n, counts = len(toks), {}
    for t in toks:
        counts[t] = counts.get(t, 0) + 1
    v, a = len(counts), 0.5

    def p(w):
        return (counts[w] + a) / (n + a * (v + 1))

    for doc_id, content in docs:
        ws = content.split()
        h = -sum(math.log(p(w)) for w in ws) / len(ws)
        assert abs(got[doc_id]["ppl"] - round(math.exp(h), 4)) < 1e-9
        assert got[doc_id]["n_tokens"] == len(ws)
    assert got[2]["ppl"] > got[0]["ppl"]
    assert got[2]["ppl"] > got[1]["ppl"]


# ---------------------------------------------------------------------------
# product quantization
# ---------------------------------------------------------------------------


def test_pq_codes_compact(emb, spark):
    from invertedfiles_jl_spark.operators.ann import pq_codes, pq_train

    m, ksub = 8, 16
    dim = len(emb.first()["embedding"])
    cents = pq_train(emb, m=m, ksub=ksub)
    rows = pq_codes(emb, cents, m, dim // m).collect()
    assert len(rows) == emb.count() * m
    assert all(0 <= r["code"] < ksub for r in rows)
    assert all(0 <= r["m"] < m for r in rows)


def test_pq_recall_vs_brute_force(emb):
    """ADC + exact rescore keeps useful recall even on near-orthogonal
    vectors (the hardest case for codebook compression)."""
    from invertedfiles_jl_spark.operators.ann import pq_topk

    gold = {}
    for r in brute_force_topk(emb, _queries(emb), k=10).collect():
        gold.setdefault(r["query_id"], set()).add(r["vec_id"])
    got = {}
    for r in pq_topk(emb, _queries(emb), k=10, m=8, ksub=16, depth=50).collect():
        got.setdefault(r["query_id"], set()).add(r["vec_id"])
    recalls = [len(gold[q] & got.get(q, set())) / len(gold[q]) for q in gold]
    assert sum(recalls) / len(recalls) >= 0.6, recalls


def test_pq_exact_on_prototype_vocabulary(spark):
    """When every subvector is one of the ksub codebook entries the decode
    is lossless → ADC ordering equals the true dot ordering and PQ matches
    brute force exactly."""
    import numpy as np

    from invertedfiles_jl_spark.operators.ann import pq_topk

    rng = np.random.RandomState(3)
    protos = rng.rand(8, 16) + 0.1          # 8 prototypes, dim 16
    # first 8 vectors = the 8 distinct prototypes (the deterministic seeds)
    assign = list(range(8)) + [int(x) for x in rng.randint(0, 8, 32)]
    rows = [(i, [float(x) for x in protos[p]]) for i, p in enumerate(assign)]
    emb2 = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    q = emb2.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("q_emb"))
    exact = brute_force_topk(emb2, q, k=5)
    approx = pq_topk(emb2, q, k=5, m=4, ksub=8, depth=40)
    assert sorted(map(tuple, exact.collect())) == sorted(map(tuple, approx.collect()))


def test_lm_perplexity_held_out_scoring(spark):
    """train_df separates fit from scoring: unseen tokens get the smoothed
    floor α/(N+α(V+1)); a held-out doc of unseen tokens scores the floor's
    perplexity exactly, and far above in-distribution docs."""
    import math

    from invertedfiles_jl_spark.functions.text import lm_perplexity

    train = spark.createDataFrame(
        [(0, "the cat the dog"), (1, "the cat runs")],
        "doc_id long, content string")
    eval_ = spark.createDataFrame(
        [(10, "the cat"), (11, "xyzzy plugh")],
        "doc_id long, content string")
    got = {r["doc_id"]: r["ppl"]
           for r in lm_perplexity(eval_, CFG, train_df=train).collect()}
    toks = "the cat the dog the cat runs".split()
    n, counts = len(toks), {}
    for t in toks:
        counts[t] = counts.get(t, 0) + 1
    v, a = len(counts), 0.5
    denom = n + a * (v + 1)
    floor = a / denom
    assert abs(got[11] - round(1.0 / floor, 4)) < 1e-9
    h10 = -(math.log((counts["the"] + a) / denom)
            + math.log((counts["cat"] + a) / denom)) / 2
    assert abs(got[10] - round(math.exp(h10), 4)) < 1e-9
    assert got[11] > got[10]


def test_ivf_pq_candidates_subset_of_probe(emb, spark):
    """IVF-PQ results lie inside the probed clusters (the coarse prune is
    real) and carry exact cosines for the emitted rows."""
    import numpy as np

    from invertedfiles_jl_spark.operators.ann import (
        assign_to, ivf_pq_topk, lloyd_refine, seed_centroids, with_cosine)

    res = ivf_pq_topk(emb, _queries(emb), k=10, n_clusters=16, nprobe=4,
                      m=8, ksub=16, depth=50)
    rows = res.collect()
    assert rows and all(r["rank"] >= 1 for r in rows)
    cents = lloyd_refine(emb, seed_centroids(emb, 16), 1)
    assign = {r["vec_id"]: r["cluster"]
              for r in assign_to(emb, cents).collect()}
    qp = with_cosine(
        _queries(emb).crossJoin(F.broadcast(cents)), "q_emb", "c_emb"
    ).collect()
    probes: dict = {}
    for r in qp:
        probes.setdefault(r["query_id"], []).append(
            (round(r["cos"], 9), -r["cluster"]))
    probed = {q: {-c for _, c in sorted(v, reverse=True)[:4]}
              for q, v in probes.items()}
    for r in rows:
        assert assign[r["vec_id"]] in probed[r["query_id"]], r


def test_repetition_stats_closed_form(spark):
    from invertedfiles_jl_spark.functions.text import repetition_stats

    df = spark.createDataFrame(
        [(0, "a a a b"), (1, "x y x y x y"), (2, "w"), (3, "")],
        "doc_id long, content string")
    got = {r["doc_id"]: r for r in repetition_stats(df, CFG).collect()}
    assert got[0]["top_word_frac"] == 0.75            # a: 3/4
    assert got[0]["top_bigram_frac"] == 0.666667      # 'a a': 2/3
    assert got[0]["top_trigram_frac"] == 0.5          # 'a a a': 1/2
    assert got[1]["top_bigram_frac"] == 0.6           # 'x y': 3/5
    assert got[2] ["top_word_frac"] == 1.0
    assert got[2]["top_bigram_frac"] == 0.0           # shorter than order
    assert got[3]["top_word_frac"] == 0.0             # empty doc


def test_scrub_pii_counts_and_redaction(spark):
    from invertedfiles_jl_spark.functions.text import scrub_pii

    df = spark.createDataFrame(
        [(0, "mail bob@x.co and ALICE@Y.ORG ip 10.0.0.7 "
             "key deadbeefdeadbeefdeadbeefdeadbeef end"),
         (1, "clean text, no pii at all")],
        "doc_id long, content string")
    got = {r["doc_id"]: r for r in scrub_pii(df).collect()}
    assert (got[0]["n_email"], got[0]["n_ipv4"], got[0]["n_hexsecret"]) == (2, 1, 1)
    assert got[0]["redacted"] == ("mail <EMAIL> and <EMAIL> ip <IPV4> "
                                  "key <HEXSECRET> end")
    assert (got[1]["n_email"], got[1]["n_ipv4"], got[1]["n_hexsecret"]) == (0, 0, 0)
    assert got[1]["redacted"] == "clean text, no pii at all"


def test_scrub_pii_preserve_schema_count_columns(spark):
    """preserve_schema replaces a complete prior-scrub n_* set in place and
    refuses a partial one instead of silently dropping the user's column."""
    from invertedfiles_jl_spark.functions.text import scrub_pii

    df = spark.createDataFrame([(0, "a@b.co", 7)],
                               "doc_id long, content string, n_email long")
    with pytest.raises(ValueError, match="n_email"):
        scrub_pii(df, preserve_schema=True)

    once = scrub_pii(df.drop("n_email"), preserve_schema=True)
    twice = scrub_pii(once, preserve_schema=True)
    assert twice.columns == once.columns
    assert twice.first()["n_email"] == 0  # counted on the redacted text
