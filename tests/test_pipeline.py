"""Checkpointed build: resume skips completed stages; interrupted builds
produce content-identical indexes (FIXTURES.md F5 resume fixture)."""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import functions as F

from invertedfiles_jl_spark.config import IndexConfig
from invertedfiles_jl_spark.operators.search import bm25_topk
from invertedfiles_jl_spark.plans.pipeline import build_checkpointed, load_index
from invertedfiles_jl_spark.sources.queries import queries_df


@pytest.fixture(scope="module")
def corpus(documents):
    return documents.select("doc_id", F.col("text").alias("content"))


def _postings_content(idx):
    rows = idx.postings.select("term_id", "salt", "df_part", "doc_ids", "weights").collect()
    return sorted((r["term_id"], r["salt"], r["df_part"], tuple(r["doc_ids"]),
                   tuple(r["weights"])) for r in rows)


def test_build_load_query(corpus, spark, tmp_path):
    p = str(tmp_path / "idx")
    idx = build_checkpointed(corpus, p, IndexConfig(weighting="bm25"))
    for stage in ("termfreqs", "docs", "vocab", "postings"):
        assert os.path.exists(os.path.join(p, f"{stage}_lineage.json")), stage
    # per-partition lineage: footer-derived per-file metrics must account
    # for every row of the stage table
    with open(os.path.join(p, "postings_lineage.json")) as f:
        part = json.load(f)["partitions"]
    assert part["n_files"] == len(part["files"]) and not part["detail_truncated"]
    assert sum(e["rows"] for e in part["files"]) == part["total_rows"]
    assert part["total_rows"] == idx.postings.count()
    loaded = load_index(spark, p)
    assert loaded.stats["n_docs"] == idx.stats["n_docs"]
    a = {(r["query_id"], r["rank"]): r["doc_id"]
         for r in bm25_topk(idx, queries_df(spark), 5).collect()}
    b = {(r["query_id"], r["rank"]): r["doc_id"]
         for r in bm25_topk(loaded, queries_df(spark), 5).collect()}
    assert a == b


def test_load_index_ignores_retired_config_keys(corpus, spark, tmp_path):
    """An index.json written before IndexConfig dropped
    ``shuffle_partitions`` and ``extra`` still loads and serves Plan A."""
    p = str(tmp_path / "idx")
    idx = build_checkpointed(corpus, p, IndexConfig(weighting="bm25"))
    meta_path = os.path.join(p, "index.json")
    with open(meta_path) as f:
        meta = json.load(f)
    meta["config"].update(shuffle_partitions=8, extra={"note": "old"})
    with open(meta_path, "w") as f:
        json.dump(meta, f)
    loaded = load_index(spark, p)
    assert loaded.cfg == idx.cfg
    a, b = (sorted(map(tuple, bm25_topk(i, queries_df(spark), 5).collect()))
            for i in (idx, loaded))
    assert a and a == b


def test_resume_skips_completed_stages(corpus, spark, tmp_path):
    p = str(tmp_path / "idx")
    build_checkpointed(corpus, p, IndexConfig())
    mtimes = {s: os.path.getmtime(os.path.join(p, f"{s}_lineage.json"))
              for s in ("termfreqs", "docs", "vocab", "postings")}
    build_checkpointed(corpus, p, IndexConfig(), resume=True)
    for s, t in mtimes.items():
        assert os.path.getmtime(os.path.join(p, f"{s}_lineage.json")) == t, f"{s} re-ran"


def test_resume_after_interrupt_is_identical(corpus, spark, tmp_path):
    pa, pb = str(tmp_path / "a"), str(tmp_path / "b")
    cfg = IndexConfig(weighting="bm25")
    full = build_checkpointed(corpus, pa, cfg)
    # simulate a kill between vocab and postings: copy first three stages,
    # leave postings absent, then resume
    build_checkpointed(corpus, pb, cfg)
    os.remove(os.path.join(pb, "postings_lineage.json"))  # incomplete stage
    resumed = build_checkpointed(corpus, pb, cfg, resume=True)
    assert _postings_content(resumed) == _postings_content(full)


def test_cross_config_resume_shares_tokenizer_stages(corpus, spark, tmp_path):
    """Re-building at the same root with a different WEIGHTING must reuse
    the tokenize/docs/vocab stages (their lineage slice is tokenizer-only)
    and re-run exactly the postings stage — and the shared-stage index must
    be content-identical to a from-scratch build of the same config."""
    p = str(tmp_path / "idx")
    build_checkpointed(corpus, p, IndexConfig(weighting="bm25"))
    mtimes = {s: os.path.getmtime(os.path.join(p, f"{s}_lineage.json"))
              for s in ("termfreqs", "docs", "vocab")}
    t_post = os.path.getmtime(os.path.join(p, "postings_lineage.json"))
    shared = build_checkpointed(corpus, p, IndexConfig(weighting="normcosine"),
                                resume=True)
    for s, t in mtimes.items():
        assert os.path.getmtime(os.path.join(p, f"{s}_lineage.json")) == t, f"{s} re-ran"
    assert os.path.getmtime(os.path.join(p, "postings_lineage.json")) > t_post
    fresh = build_checkpointed(corpus, str(tmp_path / "fresh"),
                               IndexConfig(weighting="normcosine"))
    assert _postings_content(shared) == _postings_content(fresh)


def test_config_change_invalidates(corpus, spark, tmp_path):
    p = str(tmp_path / "idx")
    build_checkpointed(corpus, p, IndexConfig(weighting="bm25"))
    t0 = os.path.getmtime(os.path.join(p, "postings_lineage.json"))
    build_checkpointed(corpus, p, IndexConfig(weighting="normcosine"), resume=True)
    assert os.path.getmtime(os.path.join(p, "postings_lineage.json")) > t0
    with open(os.path.join(p, "index.json")) as f:
        assert json.load(f)["config"]["weighting"] == "normcosine"


def test_catalog_detection_and_parquet_fallback(corpus, spark, tmp_path):
    """No Iceberg jar in this sandbox: catalog_configured must be False for
    unconfigured names, and build_checkpointed with a catalog arg must fall
    back to parquet stage dirs rather than erroring."""
    from invertedfiles_jl_spark.plans.pipeline import catalog_configured

    assert not catalog_configured(spark, None)
    assert not catalog_configured(spark, "nosuch.db")
    p = str(tmp_path / "idx")
    idx = build_checkpointed(corpus, p, IndexConfig(weighting="binary"),
                             catalog="nosuch.db")
    assert os.path.isdir(os.path.join(p, "postings"))
    assert idx.postings.count() > 0
