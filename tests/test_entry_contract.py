"""Local replica of the driver's correctness gate: run every
``__spark_entry__.queries()`` entry on Spark and its ``oracle_sql()`` on
DuckDB over the same parquet, compare row counts, column names, and
order-insensitive values."""

from __future__ import annotations

import math
import os
import subprocess
import sys
import textwrap

import duckdb
import pytest

import __spark_entry__ as entrymod

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


@pytest.fixture(scope="module")
def ddb(sf_dir):
    con = duckdb.connect()
    for t in TABLES:
        p = f"{sf_dir}/{t}.parquet"
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")
    return con


def _norm(v):
    if isinstance(v, float):
        if math.isnan(v):
            return "nan"
        # kill -0.0 and representation jitter beyond hashed precision
        return round(v + 0.0, 9)
    try:  # Decimal → float
        import decimal

        if isinstance(v, decimal.Decimal):
            return round(float(v), 9)
    except ImportError:
        pass
    return v


def _rows_to_set(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted(tuple(_norm(r[i]) for i in order) for r in rows)


@pytest.mark.parametrize("name", sorted(entrymod.queries().keys()))
def test_query_matches_oracle(spark, sf_dir, ddb, name):
    q = entrymod.queries()[name]
    sql = entrymod.oracle_sql().get(name)
    sdf = q(spark, sf_dir)
    srows = sdf.collect()
    scols = sdf.columns
    if sql is None:
        assert len(srows) >= 0  # rows-only check
        return
    ores = ddb.execute(sql)
    ocols = [d[0] for d in ores.description]
    orows = ores.fetchall()
    assert sorted(scols) == sorted(ocols), f"{name}: column names differ"
    assert len(srows) == len(orows), f"{name}: row count {len(srows)} vs {len(orows)}"
    sset = _rows_to_set(scols, [[r[c] for c in scols] for r in srows])
    oset = _rows_to_set(ocols, orows)
    assert sset == oset, f"{name}: values differ\nspark[:3]={sset[:3]}\noracle[:3]={oset[:3]}"


def test_entry_smoke(spark):
    df = entrymod.entry(spark)
    rows = df.collect()
    assert len(rows) > 0
    assert df.columns == ["query_id", "rank", "doc_id", "score"]


# Rows are audited by position, so the key order is part of the
# contract: a refactor must not reshuffle the audit window unnoticed.
EXPECTED_KEYS = [
    "positional_postings", "phrase_topk", "proximity_topk", "snippet_topk",
    "phrase_bm25_topk", "ann_sq8", "ann_pq", "ann_ivf_pq",
    "recall_sq8_vs_bruteforce", "semantic_dedup", "lm_perplexity",
    "curation_verdict", "curation_verdict_rep", "repetition_stats",
    "pii_scrub", "ce_rerank_topk", "mmr_rerank", "hybrid_rrf_ivf_topk",
    "hybrid_minmax_topk", "percolate_matches", "ranking_metrics",
    "allknn_capped", "delete_docs_bm25_topk", "delete_docs_postings",
    "pruned_bm25_topk", "bm25_page2", "facet_counts_lang", "more_like_this",
    "suggest_corrections", "search_after_topk", "facet_top_hits",
    "lm_dirichlet_topk", "tfidf_topk", "symbol_bm25_topk",
    "federated_bm25_topk", "corpus_profile", "benchmark_contamination",
    "term_cooccurrence", "chunk_documents", "pack_sequences",
    "streaming_bm25_topk", "ann_ivf", "hybrid_rrf_topk", "allknn_sample",
    "exhaustive_cosine", "recall_cosine_vs_exhaustive",
    "incremental_postings", "embedding_near_dups", "ann_bruteforce",
    "sql_surface", "corpus_profile_approx", "embedding_near_dups_exact",
    "index_stats", "search_cost", "media_features", "frame_sample_plan",
    "rolling_fingerprint", "ngram_set_dups", "simhash", "fingerprint",
    "lang_id", "token_stats", "quality_score", "bm25_topk",
    "bm25_filtered_topk", "bm25_tthreshold2", "bm25_msm_topk", "cosine_topk",
    "jaccard_topk", "dice_topk", "cosineset_topk", "intersection_topk",
    "jaccard_tthreshold2", "vocab", "doc_stats", "postings_flat",
    "corpus_commits", "wand_bm25_topk", "bm25_compressed_topk",
    "wand_bm25_compressed_topk", "sharded_bm25_topk", "sharded_jaccard_topk",
    "dedup_exact", "minhash_near_dups", "near_dup_clusters", "prefix_topk",
    "wildcard_topk", "regex_topk", "term_vectors", "substring_search",
    "query_significant_terms", "fuzzy_topk", "bm25_explain", "bm25f_topk",
    "dismax_topk", "prf_bm25_topk", "boosted_bm25_topk", "synonym_bm25_topk",
    "collapsed_bm25_topk", "auto_bm25_topk", "route_explain",
    "facet_histogram_chars", "boolean_topk", "query_string_topk",
    "qstring_percolate", "doc_keywords", "suggest_terms", "hash_split",
    "shuffle_order", "stratified_sample", "temperature_sample",
    "significant_terms", "bm25_topk_reloaded",
]


def test_registry_key_order_pinned():
    assert list(entrymod.queries()) == EXPECTED_KEYS


def test_every_row_has_an_oracle():
    # no row may silently degrade to a rows-only check
    assert set(entrymod.oracle_sql()) == set(entrymod.queries())


def test_index_cache_survives_session_restart(sf_dir, tmp_path):
    """A row run, the session stopped and a new one started: the row must
    run again on the new session, not on an index cached by the dead one."""
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    script = textwrap.dedent(f"""
        import sys
        sys.path.insert(0, {repo!r})
        import __spark_entry__ as e
        from invertedfiles_jl_spark.session import get_spark

        runs = []
        for _ in range(2):
            spark = get_spark("cache-restart", master="local[2]")
            runs.append(sorted(e.queries()["bm25_topk"](spark, {sf_dir!r}).collect()))
            spark.stop()
        assert runs[0] and runs[0] == runs[1], runs
        print("SAME")
    """)
    env = dict(os.environ, SPARK_DRIVER_MEMORY="2g",
               SPARK_LOCAL_DIRS=str(tmp_path))
    proc = subprocess.run([sys.executable, "-c", script], capture_output=True,
                          text=True, env=env, timeout=600)
    assert proc.returncode == 0 and "SAME" in proc.stdout, proc.stderr[-3000:]
