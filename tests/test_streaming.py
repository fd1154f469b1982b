"""Structured-Streaming micro-batch append: stream new documents into a
persisted index via foreachBatch; index must equal a batch rebuild."""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import functions as F

from invertedfiles_jl_spark.config import IndexConfig
from invertedfiles_jl_spark.operators.search import set_distance_topk
from invertedfiles_jl_spark.operators.build import build_index
from invertedfiles_jl_spark.plans.pipeline import (
    build_checkpointed,
    load_index,
    save_index,
)
from invertedfiles_jl_spark.sources.queries import queries_df
from invertedfiles_jl_spark.streaming.incremental import (
    append_documents,
    stream_append,
)


def _stored_weights(idx) -> dict:
    from invertedfiles_jl_spark.operators.search import read_postings

    return {(r["term_id"], r["doc_id"]): r["weight"]
            for r in read_postings(idx.postings, "term_id").collect()}


@pytest.mark.parametrize("weighting", ["binary", "bm25"])
def test_stream_append_equals_rebuild(spark, documents, tmp_path, weighting):
    """Streamed micro-batches land through the one writer: the root then
    holds what ``append_documents`` + ``save_index`` write for the same
    halves (bm25: weights under the root's frozen avgdl), with no temp root
    beside it and no manifest left from the pre-append build."""
    base = documents.select("doc_id", F.col("text").alias("content"))
    h1 = base.filter(F.col("doc_id") < 400)
    h2 = base.filter(F.col("doc_id") >= 400)

    cfg = IndexConfig(weighting=weighting)
    idx_path = str(tmp_path / "idx")
    build_checkpointed(h1, idx_path, cfg)

    # stream the second half in as files
    src = str(tmp_path / "incoming")
    os.makedirs(src)
    h2.write.mode("overwrite").parquet(src)
    stream = (
        spark.readStream.schema("doc_id long, content string").parquet(src)
    )
    q = stream_append(spark, stream, idx_path, str(tmp_path / "ckpt"))
    q.awaitTermination(120)

    merged = load_index(spark, idx_path)
    assert merged.stats["n_docs"] == 500
    assert sorted(os.listdir(tmp_path)) == ["ckpt", "idx", "incoming"]
    for name in os.listdir(idx_path):
        if name.endswith("_lineage.json"):
            with open(os.path.join(idx_path, name)) as f:
                assert json.load(f)["input_rows"] == 500, name

    if weighting == "bm25":
        ref_path = str(tmp_path / "ref")
        save_index(append_documents(
            build_checkpointed(h1, str(tmp_path / "ref_base"), cfg), h2), ref_path)
        want = _stored_weights(load_index(spark, ref_path))
        assert _stored_weights(merged) == want and want
        return
    ref = build_index(base, cfg)
    a = {(r["query_id"], r["rank"]): r["doc_id"]
         for r in set_distance_topk(merged, queries_df(spark), 10, "jaccard").collect()}
    b = {(r["query_id"], r["rank"]): r["doc_id"]
         for r in set_distance_topk(ref, queries_df(spark), 10, "jaccard").collect()}
    assert a == b


def test_streaming_topk_matches_batch_bm25(spark, documents, tmp_path):
    """Stream the corpus in two micro-batches through the stateful top-k
    server (frozen-idf scoring); the final emission per query must be
    rank-identical to the batch engine over the full corpus."""
    from invertedfiles_jl_spark.operators.search import bm25_topk
    from invertedfiles_jl_spark.streaming.serve import streaming_bm25_topk

    base = documents.select("doc_id", F.col("text").alias("content"))
    cfg = IndexConfig(weighting="bm25", weight_dtype="double")
    idx = build_index(base, cfg)  # snapshot: frozen idf/avgdl/N
    qdf = queries_df(spark)

    src = str(tmp_path / "stream_src")
    os.makedirs(src)
    base.filter(F.col("doc_id") < 250).coalesce(1).write.parquet(src + "/p1")
    base.filter(F.col("doc_id") >= 250).coalesce(1).write.parquet(src + "/p2")
    stream = (
        spark.readStream.schema("doc_id long, content string")
        .option("maxFilesPerTrigger", 1)
        .option("recursiveFileLookup", "true")
        .parquet(src)
    )

    out = streaming_bm25_topk(stream, idx, qdf, k=10, rank_round=6)
    q = (
        out.writeStream.format("memory").queryName("topk_serve")
        .outputMode("update")
        .option("checkpointLocation", str(tmp_path / "serve_ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)

    emitted = spark.sql("SELECT * FROM topk_serve").collect()
    assert emitted, "stream emitted nothing"
    # latest emission per query = rows carrying that query's max n_seen
    latest_seen = {}
    for r in emitted:
        latest_seen[r["query_id"]] = max(latest_seen.get(r["query_id"], 0), r["n_seen"])
    final = {(r["query_id"], r["rank"]): (r["doc_id"], round(r["score"], 6))
             for r in emitted if r["n_seen"] == latest_seen[r["query_id"]]}

    ref = {(r["query_id"], r["rank"]): (r["doc_id"], round(r["score"], 6))
           for r in bm25_topk(idx, qdf, k=10, rank_round=6).collect()}
    assert final == ref


def test_serve_rank_pool_half_up_boundary():
    """Streaming serve's pool cut must round HALF_UP like every other
    kernel (wand.round_half_up / Plan A's F.round / DuckDB) — NOT numpy's
    half-to-even.  Scores 0.25 vs 0.26 at rank_round=1: HALF_UP keys both
    to 0.3 (tie -> doc_id asc -> doc 2 wins); np.round keys them 0.2 vs
    0.3 and flips the top-1 to doc 7.  Regression test for the r3 verdict
    finding (serve.py ranked on np.round)."""
    import numpy as np

    from invertedfiles_jl_spark.streaming.serve import rank_pool

    ids = np.array([7, 2], dtype=np.int64)
    sc = np.array([0.26, 0.25])
    top_ids, top_sc = rank_pool(ids, sc, k=1, rank_round=1)
    assert top_ids.tolist() == [2]
    assert top_sc.tolist() == [0.25]

    # sanity: np.round (half-to-even) would have picked doc 7
    wrong = np.lexsort((ids, -np.round(sc, 1)))[:1]
    assert ids[wrong].tolist() == [7]


# ---------------------------------------------------------------------------
# percolate (batch reverse search)
# ---------------------------------------------------------------------------


def test_percolate_matches_python(documents, docs_pandas, spark):
    import math
    from collections import Counter

    from pyspark.sql import functions as F

    from invertedfiles_jl_spark.config import IndexConfig
    from invertedfiles_jl_spark.operators.build import build_index
    from invertedfiles_jl_spark.sources.queries import QUERY_SET, queries_df
    from invertedfiles_jl_spark.streaming.serve import percolate

    corpus = documents.select("doc_id", F.col("text").alias("content"))
    idx = build_index(corpus, IndexConfig(weighting="bm25",
                                          weight_dtype="double"))
    got = {(r["doc_id"], r["query_id"]): (r["n_matched"],
                                          round(r["score"], 6))
           for r in percolate(idx, queries_df(spark), corpus).collect()}

    texts = dict(zip(docs_pandas["doc_id"], docs_pandas["text"]))
    tf = {d: Counter(t.lower().split()) for d, t in texts.items()}
    df = Counter(t for c in tf.values() for t in set(c))
    n = len(tf)
    avgdl = sum(sum(c.values()) for c in tf.values()) / n
    want = {}
    for qid, qtext in QUERY_SET:
        qtf = Counter(qtext.split())
        invocab = {t: c for t, c in qtf.items() if t in df}
        if not invocab:
            continue
        for d, c in tf.items():
            if not all(t in c for t in invocab):
                continue
            dl = sum(c.values())
            s = 0.0
            for t, qn in invocab.items():
                idf = math.log(1.0 + (n - df[t] + 0.5) / (df[t] + 0.5))
                sat = c[t] * 2.2 / (c[t] + 1.2 * (0.25 + 0.75 * dl / avgdl))
                s += qn * idf * sat
            want[(d, qid)] = (len(invocab), round(s, 6))
    assert set(got) == set(want)
    for key, (wn, ws) in want.items():
        gn, gs = got[key]
        assert gn == wn, key
        assert gs == pytest.approx(ws, abs=1e-6)


def test_percolate_oov_query_never_fires(documents, spark):
    from pyspark.sql import functions as F

    from invertedfiles_jl_spark.config import IndexConfig
    from invertedfiles_jl_spark.operators.build import build_index
    from invertedfiles_jl_spark.streaming.serve import percolate

    corpus = documents.select("doc_id", F.col("text").alias("content"))
    idx = build_index(corpus, IndexConfig(weighting="bm25",
                                          weight_dtype="double"))
    # query 2 mixes a vocab term with an OOV term: under require_all the
    # OOV term is not required (not in vocab), so it can still fire; a
    # fully-OOV query must never fire
    q = spark.createDataFrame([(1, "zzznope qqqgone"), (2, "window")],
                              "query_id long, content string")
    got = {r["query_id"] for r in percolate(idx, q, corpus).collect()}
    assert got == {2}


def test_streaming_qstring_percolation(spark, documents, tmp_path):
    """Continuous alert routing: a document file-stream percolated against
    standing query-STRING queries via foreachBatch must produce exactly
    the batch percolation of the same docs (each doc arrives whole in one
    micro-batch, so per-batch results just append)."""
    from invertedfiles_jl_spark.operators.querystring import (
        query_string_percolate,
    )

    base = documents.select(
        "doc_id", F.col("text").alias("content"), "lang", "source")
    idx = build_index(base.select("doc_id", "content"),
                      IndexConfig(weighting="bm25"))
    standing = spark.createDataFrame(
        [(1, "+spark window"), (2, 'dup -customer lang:en'),
         (3, '"fast query"~2 merge')],
        "query_id long, content string")

    src = str(tmp_path / "stream_src")
    os.makedirs(src)
    half1 = base.filter(F.col("doc_id") < 250)
    half2 = base.filter(F.col("doc_id") >= 250)
    half1.write.parquet(f"{src}/b1")
    half2.write.parquet(f"{src}/b2")

    got = []

    def handle(batch_df, _bid):
        rows = query_string_percolate(
            idx, standing, batch_df,
            qualifier_fields=("lang", "source")).collect()
        got.extend((r.query_id, r.doc_id, round(r.score, 6)) for r in rows)

    stream = (
        spark.readStream.schema(base.schema)
        .option("recursiveFileLookup", "true").parquet(src)
    )
    q = (stream.writeStream.foreachBatch(handle)
         .option("checkpointLocation", str(tmp_path / "ckpt"))
         .trigger(availableNow=True).start())
    q.awaitTermination()

    want = sorted(
        (r.query_id, r.doc_id, round(r.score, 6))
        for r in query_string_percolate(
            idx, standing, base,
            qualifier_fields=("lang", "source")).collect())
    assert sorted(got) == want and len(want) > 0


def test_streaming_exact_dedup_first_writer_wins(spark, tmp_path):
    """Duplicated contents across the stream collapse to ONE emitted doc
    each (state = seen sha256), distinct contents all pass; composing in
    front of stream_append keeps the merge contract's each-doc-once rule
    under at-least-once delivery."""
    from invertedfiles_jl_spark.streaming.incremental import (
        streaming_exact_dedup,
    )

    rows = [(i, f"doc body {i % 6}") for i in range(18)]  # 6 distinct, 3× each
    src = str(tmp_path / "dedup_src")
    spark.createDataFrame(rows, "doc_id long, content string").write.mode(
        "overwrite").parquet(src)
    stream = spark.readStream.schema("doc_id long, content string").parquet(src)
    out = streaming_exact_dedup(stream)
    q = (out.writeStream.format("memory").queryName("dedup_sink")
         .outputMode("append")
         .option("checkpointLocation", str(tmp_path / "dedup_ckpt"))
         .trigger(availableNow=True).start())
    assert q.awaitTermination(120)
    got = spark.sql("SELECT * FROM dedup_sink").collect()
    assert len(got) == 6
    assert {r["content"] for r in got} == {f"doc body {i}" for i in range(6)}
    # schema passes through unchanged (helper column dropped)
    assert sorted(got[0].asDict()) == ["content", "doc_id"]
