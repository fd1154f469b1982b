"""Physical-plan regression gates — the docs/PLANS.md invariants as tests.

Each serving plan's 100-TB discipline is asserted on the *persisted* index
(the real serving path: parquet scans with pushdown, not in-memory lineage):

1. every query-side join is a BroadcastHashJoin — zero SortMergeJoins;
2. the postings scan is column-pruned: the string ``term`` never leaves the
   vocab table, and Plan A does not read the skip metadata it doesn't use;
3. Plan A's per-query top-k gets the WindowGroupLimit push-down (partial
   group-limit below the exchange — no all-scores materialization);
4. the co-located sharded plan runs with exactly ONE wide exchange (the
   final S×Q×k merge) — the per-batch scoring itself is shuffle-free.

These are plan-text assertions, so a Catalyst upgrade or an accidental
operator change that silently de-broadcasts a join / widens a scan fails
CI instead of shipping a 100×-slower plan.
"""

from __future__ import annotations

import re
import uuid

import pytest

from invertedfiles_jl_spark.config import IndexConfig
from invertedfiles_jl_spark.operators.search import bm25_topk, query_weights
from invertedfiles_jl_spark.operators.sharded import (
    load_shards,
    shard_postings,
    sharded_topk,
)
from invertedfiles_jl_spark.operators.wand import wand_topk
from invertedfiles_jl_spark.plans.pipeline import build_checkpointed, load_index
from invertedfiles_jl_spark.sources.queries import queries_df


def formatted_plan(df) -> str:
    """`df.explain('formatted')` as a string (what the CLI prints)."""
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted")


def postings_scan_schemas(plan: str) -> list[str]:
    """ReadSchema lines of every parquet scan over a postings/shards path."""
    out = []
    # formatted mode lists per-node detail blocks: locate scans whose
    # Location mentions the postings (or sharded) stage directory, then
    # take that block's ReadSchema line.
    blocks = re.split(r"\n\(\d+\) ", plan)
    for b in blocks:
        if not b.startswith("Scan parquet"):
            continue
        if "postings" not in b and "shards" not in b:
            continue
        m = re.search(r"ReadSchema: (.+)", b)
        if m:
            out.append(m.group(1))
    return out


@pytest.fixture(scope="module")
def served(spark, documents, tmp_path_factory):
    """Persisted index + persisted shard layout, as a cluster would serve."""
    from pyspark.sql import functions as F

    root = str(tmp_path_factory.mktemp("planshape"))
    corpus = documents.select("doc_id", F.col("text").alias("content"))
    cfg = IndexConfig(weighting="bm25")
    build_checkpointed(corpus, f"{root}/idx", cfg, resume=False)
    idx = load_index(spark, f"{root}/idx")
    shard_postings(idx, n_shards=8).write.mode("overwrite").parquet(
        f"{root}/shards")
    shards = load_shards(spark, f"{root}/shards", n_shards=8)
    return idx, shards


def test_plan_a_broadcast_only_and_group_limit(spark, served):
    idx, _ = served
    plan = formatted_plan(bm25_topk(idx, queries_df(spark), k=10))
    assert "SortMergeJoin" not in plan
    assert "BroadcastHashJoin" in plan
    # WindowGroupLimit must appear both below (Partial) and above (Final)
    # the rank exchange: at most k rows per query cross the shuffle.
    assert plan.count("WindowGroupLimit") >= 2, plan
    assert "Partial" in plan and "Final" in plan


def _job_count(spark, fn) -> int:
    """Spark jobs ``fn()`` runs, counted under a job group of its own."""
    sc = spark.sparkContext
    group = f"plan-shapes-jobs-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return len(sc.statusTracker().getJobIdsForGroup(group))


@pytest.mark.parametrize("call, most", [
    (lambda idx, q: bm25_topk(idx, q, k=10), 5),
    (lambda idx, q: wand_topk(idx, q, k=10), 4),
    (query_weights, 2),   # the sharded plan's query-side collect
], ids=["bm25_topk", "wand_topk", "query_weights"])
def test_serving_call_job_count(spark, served, call, most):
    """The query side is one stage: query-term frequencies are counted
    inside each query row, so no qtf aggregate adds an exchange and an
    AQE job to the call (6 / 5 / 3 jobs while it did)."""
    idx, _ = served
    q = queries_df(spark)
    assert _job_count(spark, lambda: call(idx, q).collect()) <= most


def test_route_explain_job_count(spark, served):
    """``route_explain`` runs the router's metadata pass once and applies
    the rule to its stats dict (9 jobs while it ran ``batch_stats`` a
    second time through ``route_plan``)."""
    from invertedfiles_jl_spark.plans.router import batch_stats, route_explain

    idx, _ = served
    q = queries_df(spark)
    stats_jobs = _job_count(spark, lambda: batch_stats(idx, q))
    assert _job_count(spark, lambda: route_explain(idx, q).collect()) <= stats_jobs + 1


def test_percolation_job_count(spark, served, documents):
    """Both percolators read the doc batch through one (doc_id, term, tf,
    doc_len) relation and score in their one gate aggregate: no second
    tokenization, tf aggregate or left join back (27 / 9 jobs while the
    query-string percolator re-scored through ``percolate`` and that
    counted occurrence rows)."""
    from pyspark.sql import functions as F

    from invertedfiles_jl_spark.operators.querystring import (
        query_string_percolate,
    )
    from invertedfiles_jl_spark.sources.queries import qstring_df
    from invertedfiles_jl_spark.streaming.serve import percolate

    idx, _ = served
    docs = documents.select("doc_id", F.col("text").alias("content"),
                            "lang", "source", "n_chars")
    assert _job_count(spark, lambda: query_string_percolate(
        idx, qstring_df(spark), docs,
        qualifier_fields=("lang", "source", "n_chars")).collect()) <= 18
    assert _job_count(spark, lambda: percolate(
        idx, queries_df(spark), docs.select("doc_id", "content"),
        require_all=True).collect()) <= 5


def test_plan_a_postings_scan_pruned(spark, served):
    idx, _ = served
    plan = formatted_plan(bm25_topk(idx, queries_df(spark), k=10))
    schemas = postings_scan_schemas(plan)
    assert schemas, f"no postings scan found:\n{plan}"
    for s in schemas:
        # fixed-width join key only — the string term stays in vocab
        assert "term_id" in s
        assert "term:string" not in s
        # Plan A doesn't use the skip metadata; reading it would drag the
        # block_max arrays through every query scan
        assert "block_max" not in s and "max_weight" not in s, s


def test_plan_a_filter_pushed_to_scan(spark, served):
    idx, _ = served
    plan = formatted_plan(bm25_topk(idx, queries_df(spark), k=10))
    assert re.search(r"PushedFilters: \[.*IsNotNull\(term_id\).*\]", plan), plan


def test_plan_b_wand_reads_skip_metadata_broadcast_only(spark, served):
    idx, _ = served
    plan = formatted_plan(wand_topk(idx, queries_df(spark), k=10))
    assert "SortMergeJoin" not in plan
    assert "BroadcastHashJoin" in plan
    assert "FlatMapGroupsInPandas" in plan
    schemas = postings_scan_schemas(plan)
    assert schemas, f"no postings scan found:\n{plan}"
    # the MaxScore kernel needs the list bound and the per-block bounds —
    # they must ride the same scan row (no second scan, no join)
    assert any("max_weight" in s and "block_max" in s for s in schemas), schemas
    for s in schemas:
        assert "term:string" not in s


def _exchange_partitionings(plan: str) -> list[str]:
    """The `Arguments: hashpartitioning(...)` of every shuffle Exchange
    detail block (BroadcastExchange is fine anywhere)."""
    out = []
    for b in re.split(r"\n\(\d+\) ", plan):
        if b.startswith("Exchange"):
            m = re.search(r"Arguments: (\w+partitioning\([^)]*\))", b)
            out.append(m.group(1) if m else b.splitlines()[0])
    return out


def test_plan_c_colocated_single_wide_exchange(spark, served):
    idx, shards = served
    shards.count()  # materialize the co-located cache, like a serving session
    plan = formatted_plan(
        sharded_topk(idx, queries_df(spark), k=10,
                     sharded=shards, assume_colocated=True))
    assert "SortMergeJoin" not in plan
    assert "MapInPandas" in plan
    assert "LeftSemi" in plan  # JVM-side term prune before Arrow
    # the scoring path reads the cached co-located shards IN PLACE: the only
    # per-batch shuffle is the final S×Q×k rank merge on query_id.  Any
    # other Exchange must be the one-time co-location repair inside the
    # cached relation's build lineage (partitioned by shard, paid at
    # cache-fill, not per batch).
    parts = _exchange_partitionings(plan)
    on_query = [p for p in parts if "query_id" in p]
    rest = [p for p in parts if "query_id" not in p]
    assert len(on_query) == 1, f"{parts}\n{plan}"
    assert all(p.startswith("hashpartitioning(shard") for p in rest), parts
    if rest:  # cache lineage exchanges live under the InMemoryRelation only
        assert "InMemoryRelation" in plan
    assert plan.count("WindowGroupLimit") >= 2, plan
    # the semi-join's query-term relation is Arrow-built (a LocalTableScan):
    # a list-built one is a Python RDD, a Python-worker stage per batch
    assert "ExistingRDD" not in plan, plan


def test_plan_c_results_still_correct(spark, served):
    idx, shards = served
    got = sharded_topk(idx, queries_df(spark), k=10,
                       sharded=shards, assume_colocated=True)
    want = bm25_topk(idx, queries_df(spark), k=10)
    g = {(r.query_id, r.rank): r.doc_id for r in got.collect()}
    w = {(r.query_id, r.rank): r.doc_id for r in want.collect()}
    assert g == w


def test_plan_c_binary_set_colocated_single_wide_exchange(spark, documents,
                                                          tmp_path_factory):
    """The binary sharded set-distance serve must keep Plan C's physical
    shape: semi-join prune JVM-side, kernel over the cached co-located
    shards IN PLACE, single per-batch query_id exchange for the final
    merge."""
    from pyspark.sql import functions as F

    from invertedfiles_jl_spark.operators.sharded import sharded_set_topk

    root = str(tmp_path_factory.mktemp("binplanshape"))
    corpus = documents.select("doc_id", F.col("text").alias("content"))
    build_checkpointed(corpus, f"{root}/idx",
                       IndexConfig(weighting="binary"), resume=False)
    idx = load_index(spark, f"{root}/idx")
    shard_postings(idx, n_shards=8).write.mode("overwrite").parquet(
        f"{root}/shards")
    shards = load_shards(spark, f"{root}/shards", n_shards=8)
    shards.count()
    plan = formatted_plan(
        sharded_set_topk(idx, queries_df(spark), k=10, dist="jaccard",
                         sharded=shards, assume_colocated=True))
    assert "SortMergeJoin" not in plan
    assert "MapInPandas" in plan
    assert "LeftSemi" in plan
    parts = _exchange_partitionings(plan)
    on_query = [p for p in parts if "query_id" in p]
    rest = [p for p in parts if "query_id" not in p]
    assert len(on_query) == 1, f"{parts}\n{plan}"
    assert all(p.startswith("hashpartitioning(shard") for p in rest), parts
    shards.unpersist()


def test_dictionary_expansion_plans_no_smj(spark, served):
    """prefix/fuzzy/suggest must stay SortMergeJoin-free: expansion is a
    broadcast theta join against vocab, scoring joins broadcast the
    expanded term set; the postings scan stays pruned to term_id + ids."""
    from invertedfiles_jl_spark.operators.search import (
        fuzzy_topk,
        prefix_topk,
        suggest_terms,
    )
    from invertedfiles_jl_spark.sources.queries import fuzzy_df, prefixes_df

    idx, _ = served
    for df in (prefix_topk(idx, prefixes_df(spark)),
               fuzzy_topk(idx, fuzzy_df(spark)),
               suggest_terms(idx, prefixes_df(spark))):
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "SortMergeJoin" not in plan
    # the postings scan under prefix must not read weights/metadata
    fp = formatted_plan(prefix_topk(idx, prefixes_df(spark)))
    for schema in postings_scan_schemas(fp):
        assert "weights" not in schema and "block_max" not in schema


def test_fuzzy_trigram_prune(spark, served):
    """Query terms of length ≥ 3·d+3 must take the shared-trigram candidate
    path: a gram-keyed BroadcastHashJoin (equi-join hash probes over the
    exploded vocab grams) instead of the full-vocab nested-loop Levenshtein
    — the round-4 verdict's one per-query-O(|vocab|) dictionary op.  The
    prune must be lossless: same (query_id, term_id) set as the
    brute-force theta join."""
    from pyspark.sql import functions as F

    from invertedfiles_jl_spark.operators.search import expand_fuzzy

    idx, _ = served
    q = spark.createDataFrame(
        [(1, "merged"), (2, "column"), (3, "qqqqqqqq")],
        "query_id long, qterm string")
    got = expand_fuzzy(idx, q, max_dist=1)
    # 1) plan: the long path's candidate join is a gram-keyed equi-join
    plan = got._jdf.queryExecution().executedPlan().toString()
    assert re.search(r"BroadcastHashJoin \[gram", plan), plan
    # 2) losslessness: identical pairs to the unpruned theta join
    t, qt = F.col("term"), F.col("qterm")
    brute = idx.vocab.select("term", "term_id").join(
        F.broadcast(q.select("query_id",
                             F.lower(qt).alias("qterm"))),
        (F.abs(F.length(t) - F.length(qt)) <= 1)
        & (F.levenshtein(t, qt) <= 1)).select("query_id", "term_id")
    g = {(r.query_id, r.term_id) for r in got.collect()}
    b = {(r.query_id, r.term_id) for r in brute.collect()}
    assert g == b and len(b) > 0


def test_pagination_keeps_window_group_limit(spark, served):
    """offset pagination must not defeat the WindowGroupLimit pushdown —
    the rank <= offset+k conjunct still bounds the per-query heap."""
    idx, _ = served
    plan = formatted_plan(bm25_topk(idx, queries_df(spark), k=10, offset=10))
    assert "WindowGroupLimit" in plan
    assert "SortMergeJoin" not in plan


def test_facet_mlt_contamination_plans_no_smj(spark, served, documents):
    """facets / more-like-this / contamination must stay SortMergeJoin-free
    at query-batch scale: the query term set, MLT source-id set and
    benchmark shingle set all broadcast."""
    from pyspark.sql import functions as F

    from invertedfiles_jl_spark.operators.dedup import benchmark_contamination
    from invertedfiles_jl_spark.operators.search import facet_counts, more_like_this

    idx, _ = served
    corpus = documents.select("doc_id", F.col("text").alias("content"))
    src = spark.createDataFrame([(0,), (29,)], "doc_id long")
    plans = [
        facet_counts(idx, queries_df(spark), documents),
        more_like_this(idx, corpus, src),
        benchmark_contamination(corpus.filter("doc_id % 23 != 0"),
                                corpus.filter("doc_id % 23 = 0")),
    ]
    for df in plans:
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "SortMergeJoin" not in plan


def test_wildcard_explain_prf_plans_no_smj(spark, served, documents):
    """wildcard expansion, explain's top-k re-join and PRF's two-pass
    pipeline must all stay SortMergeJoin-free: every query-side relation
    (patterns, top-k, feedback ids, combined term weights) broadcasts."""
    from pyspark.sql import functions as F

    from invertedfiles_jl_spark.operators.search import (
        explain_bm25,
        prf_bm25_topk,
        wildcard_topk,
    )
    from invertedfiles_jl_spark.sources.queries import wildcards_df

    idx, _ = served
    corpus = documents.select("doc_id", F.col("text").alias("content"))
    plans = [
        wildcard_topk(idx, wildcards_df(spark)),
        explain_bm25(idx, queries_df(spark), k=10),
        prf_bm25_topk(idx, corpus, queries_df(spark), k=10),
    ]
    for df in plans:
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "SortMergeJoin" not in plan, plan
    # wildcard's postings scan must not read weights
    fp = formatted_plan(wildcard_topk(idx, wildcards_df(spark)))
    for schema in postings_scan_schemas(fp):
        assert "weights" not in schema


def test_pack_sequences_no_single_partition_exchange(spark, documents):
    """The packing manifest must never collapse to one partition: the
    cumsum window is per-range-partition, so the only exchanges are the
    range repartition itself (and the tiny totals agg) — an
    'Exchange SinglePartition' would mean a global-order window snuck in."""
    from pyspark.sql import functions as F

    from invertedfiles_jl_spark.operators.packing import pack_sequences

    corpus = documents.select("doc_id", F.col("text").alias("content"))
    m = pack_sequences(corpus, ctx=128)
    plan = m._jdf.queryExecution().executedPlan().toString()
    # the final manifest plan (post-offsets) must not single-partition the
    # data path; the totals .collect() inside global_starts already ran
    assert "Exchange SinglePartition" not in plan, plan
    assert "rangepartitioning" in plan.lower(), plan


def test_synonym_collapse_minmax_histogram_router_no_smj(spark, served,
                                                         documents):
    """The round's new serving plans must stay SortMergeJoin-free at
    query-batch scale: the thesaurus, group-key dimension, per-query
    extrema, histogram metadata, and routed query relation all broadcast
    (or AQE-broadcast) at this scale."""
    from pyspark.sql import functions as F

    from invertedfiles_jl_spark.operators.hybrid import minmax_fuse
    from invertedfiles_jl_spark.operators.search import (
        collapse_topk,
        facet_histogram,
        synonym_bm25_topk,
    )
    from invertedfiles_jl_spark.plans.router import auto_topk
    from invertedfiles_jl_spark.sources.queries import synonyms_df

    idx, _ = served
    q = queries_df(spark)
    a = bm25_topk(idx, q, k=20, rank_round=6)
    plans = [
        synonym_bm25_topk(idx, q, synonyms_df(spark), k=10, rank_round=6),
        collapse_topk(idx, q, documents.select("doc_id", "source"),
                      "source", k=10, rank_round=6),
        facet_histogram(idx, q, documents.select("doc_id", "n_chars"),
                        "n_chars", width=200),
        minmax_fuse([a, a.select("query_id", "doc_id", "score")],
                    weights=[0.5, 0.5], k=10),
        auto_topk(idx, q, k=10, rank_round=6),
    ]
    for df in plans:
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "SortMergeJoin" not in plan


def test_regex_termvectors_significant_substring_no_smj(spark, served,
                                                        documents):
    """Second batch of new plans: regex expansion (vocab theta-join),
    term-vectors forward view (broadcast id set), per-query significant
    terms (broadcast hit set), and the substring search's candidate path
    (broadcast gram selection) must stay SortMergeJoin-free at query-batch
    scale."""
    from pyspark.sql import functions as F

    from invertedfiles_jl_spark.operators.search import (
        query_significant_terms,
        regex_topk,
        term_vectors,
    )
    from invertedfiles_jl_spark.operators.trigram import (
        build_trigram_index,
        substring_search,
    )
    from invertedfiles_jl_spark.sources.queries import regexes_df, substrings_df

    idx, _ = served
    corpus = documents.select("doc_id", F.col("text").alias("content"))
    ids = spark.range(4).select(F.col("id").alias("doc_id"))
    ti = build_trigram_index(corpus)
    plans = [
        regex_topk(idx, regexes_df(spark), k=10),
        term_vectors(idx, corpus, ids),
        query_significant_terms(idx, corpus, queries_df(spark), n=5,
                                depth=20),
        substring_search(ti, substrings_df(spark)),
    ]
    for df in plans:
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "SortMergeJoin" not in plan


def test_scoring_families_plans(spark, documents):
    """Third batch: LM Dirichlet and SMART tf-idf (raw-tf index) keep the
    query side broadcast, rank through a WindowGroupLimit, and never
    cartesian.  The doc-stats / lnc-norm joins are AQE-sized BY DESIGN
    (candidates bounded by Σ df are not broadcastable at 10^12 docs), so
    no no-SMJ assertion on them — the gates here are the ones that must
    hold at EVERY scale."""
    from pyspark.sql import functions as F

    from invertedfiles_jl_spark.operators.build import build_index
    from invertedfiles_jl_spark.operators.search import (
        lm_dirichlet_topk,
        tfidf_topk,
    )

    corpus = documents.select("doc_id", F.col("text").alias("content"))
    idx = build_index(corpus, IndexConfig(weighting="tf"))
    for df in (lm_dirichlet_topk(idx, queries_df(spark), k=10),
               tfidf_topk(idx, queries_df(spark), k=10)):
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "WindowGroupLimit" in plan
        assert "CartesianProduct" not in plan
        assert "BroadcastHashJoin" in plan  # the query-term probe


def test_search_after_facet_hits_plans(spark, served, documents):
    """Cursor pagination: the boundary filter must sit BELOW the top-k
    window (never rank past depth k) with the Q-row cursor broadcast; the
    per-facet top-hits window must be the WindowGroupLimit form too."""
    from pyspark.sql import functions as F

    from invertedfiles_jl_spark.operators.search import (
        facet_top_hits,
        search_after_topk,
    )

    idx, _ = served
    cursor = spark.createDataFrame(
        [(1, 0.5, 100), (2, 0.4, 200)],
        "query_id long, after_score double, after_doc_id long")
    sa = search_after_topk(idx, queries_df(spark), cursor, k=10)
    plan = formatted_plan(sa)
    assert "WindowGroupLimit" in plan
    assert "SortMergeJoin" not in plan
    fth = facet_top_hits(idx, queries_df(spark), documents, k_buckets=3,
                         k_hits=2)
    plan = fth._jdf.queryExecution().executedPlan().toString()
    assert "WindowGroupLimit" in plan
    assert "CartesianProduct" not in plan


def test_query_string_gate_joins_candidate_keyed(spark, served, documents):
    """Query-string retrieval composes boolean gates + the phrase gate.
    The scale discipline: every posting-side probe (term_id-keyed) is a
    BroadcastHashJoin; any remaining shuffle join must be one of the
    documented gate joins keyed on the AGGREGATED (query_id, doc_id)
    candidate rows — never on term/term_id (which would shuffle the whole
    postings relation per query batch).  No gate reads the scored
    candidates twice: nothing is cached, and a qualifier adds no postings
    scan to a batch that already carries a phrase and a required
    wildcard."""
    from pyspark.sql import functions as F

    from invertedfiles_jl_spark.operators.positional import (
        positional_postings,
    )
    from invertedfiles_jl_spark.operators.querystring import (
        query_string_topk,
    )
    from invertedfiles_jl_spark.sources.queries import qstring_df

    idx, _ = served
    corpus = documents.select("doc_id", F.col("text").alias("content"))
    pos = positional_postings(corpus)
    meta = documents.select("doc_id", "lang", "source")
    df = query_string_topk(idx, pos, qstring_df(spark), k=10, rank_round=6,
                           meta=meta)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan
    for line in plan.splitlines():
        if "SortMergeJoin" in line:
            # candidate-keyed gate joins (query_id, doc_id) or the
            # doc-keyed metadata-qualifier dimension lookup — never a
            # term/term_id key (that would shuffle postings per batch)
            assert "doc_id" in line, line
            assert "term" not in line, line

    def qs_plan(s):
        q = spark.createDataFrame([(1, s)], "query_id long, content string")
        return formatted_plan(query_string_topk(idx, pos, q, k=10, meta=meta))

    mixed = 'merge table "fast query" +sc*'
    with_qual = qs_plan(mixed + " lang:en")
    assert "InMemoryRelation" not in with_qual
    assert "InMemoryTableScan" not in with_qual
    assert len(postings_scan_schemas(with_qual)) == \
        len(postings_scan_schemas(qs_plan(mixed)))


def test_boolean_scoring_scans_postings_once(spark, served, documents):
    """Every gate folds into the scoring aggregate: a query string with
    terms, +must, -must_not and a phrase scans postings once, and so does
    one with a required wildcard (its group is a slot bit carried by the
    expansion terms); a boolean_topk batch scans postings once and reads
    its list-built batch once (n_must is a window, not a second aggregate
    of it)."""
    from pyspark.sql import functions as F

    from invertedfiles_jl_spark.operators.positional import (
        positional_postings,
    )
    from invertedfiles_jl_spark.operators.querystring import (
        query_string_topk,
    )
    from invertedfiles_jl_spark.operators.search import boolean_topk
    from invertedfiles_jl_spark.sources.queries import boolean_df

    idx, _ = served
    pos = positional_postings(
        documents.select("doc_id", F.col("text").alias("content")))

    def n_scans(s):
        q = spark.createDataFrame([(1, s)], "query_id long, content string")
        return len(postings_scan_schemas(
            formatted_plan(query_string_topk(idx, pos, q, k=10))))

    mixed = 'merge +table -row "fast query"'
    assert n_scans(mixed) == 1
    assert n_scans(mixed + " +sc*") == 1
    bq = boolean_topk(idx, boolean_df(spark), k=10)
    assert len(postings_scan_schemas(formatted_plan(bq))) == 1
    executed = bq._jdf.queryExecution().executedPlan().toString()
    assert executed.count("ExistingRDD") == 1


def _subtree(plan: str, marker: str) -> list[str]:
    """The tree-string lines below the first node whose line holds
    ``marker`` (deeper ``+-``/``:-`` indentation, up to its next
    sibling)."""
    def depth(ln):
        m = re.search(r"[+:]- ", ln)
        return m.start() if m else -1

    lines = plan.splitlines()
    i = next(i for i, ln in enumerate(lines) if marker in ln)
    out = []
    for ln in lines[i + 1:]:
        if depth(ln) <= depth(lines[i]):
            break
        out.append(ln)
    return out


def test_query_string_gates_fold_into_one_aggregate(spark, served,
                                                    documents):
    """A batch carrying terms, +must, -must_not, a phrase and a required
    wildcard: the phrase hits and the wildcard group join the one
    (query_id, doc_id) scoring aggregate — the only other (query_id,
    doc_id) aggregate is the phrase adjacency itself, with no separate
    phrase-hit count and no group-coverage aggregate — and the role table
    below the n_must window reads the one-partition batch without any
    shuffle."""
    from pyspark.sql import functions as F

    from invertedfiles_jl_spark.operators.positional import (
        positional_postings,
    )
    from invertedfiles_jl_spark.operators.querystring import (
        query_string_topk,
    )

    idx, _ = served
    pos = positional_postings(
        documents.select("doc_id", F.col("text").alias("content")))
    q = spark.createDataFrame([(1, 'merge +table -row "fast query" +sc*')],
                              "query_id long, content string")
    plan = query_string_topk(idx, pos, q, k=10)._jdf.queryExecution(
        ).executedPlan().toString()
    qd_aggs = [ln for ln in plan.splitlines()
               if re.search(r"Aggregate\(keys=\[query_id#\d+L, doc_id#", ln)]
    assert qd_aggs, plan
    for ln in qd_aggs:
        assert "bit_or(" in ln or "collect_list(" in ln, ln
    role_rows = _subtree(plan, "Window [sum(is_must")
    assert any("LocalTableScan" in ln for ln in role_rows), plan
    assert not [ln for ln in role_rows
                if re.search(r"(?<!Broadcast)Exchange ", ln)], plan


def test_phrase_match_counts_slots_without_distinct(spark, documents,
                                                    tmp_path):
    """Positional postings hold one row per (term_id, doc_id), so the
    phrase aggregate counts matched slots with count(*): over a persisted
    positional table the phrase top-k plans two shuffles (the (query,
    doc) aggregate and the rank window), not a third for a distinct
    count."""
    from pyspark.sql import functions as F

    from invertedfiles_jl_spark.operators.positional import (
        phrase_topk,
        positional_postings,
    )
    from invertedfiles_jl_spark.sources.queries import phrases_df

    positional_postings(documents.select(
        "doc_id", F.col("text").alias("content"))).write.parquet(
        str(tmp_path / "pos"))
    pos = spark.read.parquet(str(tmp_path / "pos"))
    plan = phrase_topk(pos, phrases_df(spark))._jdf.queryExecution(
        ).executedPlan().toString()
    assert "count(distinct" not in plan
    assert len(re.findall(r"(?<!Broadcast)Exchange ", plan)) == 2, plan


def test_query_string_batch_read_once(spark, served, documents):
    """query_string_topk collects the parsed batch into a local relation:
    a list-built batch (a Python RDD) is read once, and the plan reads a
    LocalTableScan, never the RDD.  Percolation's standing relation is
    not driver-sized and stays a distributed scan."""
    from pyspark.sql import functions as F

    from invertedfiles_jl_spark.operators.positional import (
        positional_postings,
    )
    from invertedfiles_jl_spark.operators.querystring import (
        query_string_percolate,
        query_string_topk,
    )

    idx, _ = served
    corpus = documents.select("doc_id", F.col("text").alias("content"))
    q = spark.createDataFrame(
        [(1, 'merge +table -row "fast query" +sc*'), (2, "window")],
        "query_id long, content string")
    df = query_string_topk(idx, positional_postings(corpus), q, k=10)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "LocalTableScan" in plan
    assert "ExistingRDD" not in plan
    perc = query_string_percolate(idx, q, corpus)
    assert "ExistingRDD" in perc._jdf.queryExecution().executedPlan().toString()


def test_chunk_documents_shuffle_free(spark, documents):
    """The chunk manifest is a flatMap in relational clothing: ZERO
    exchanges — it must scale with input bytes only."""
    from pyspark.sql import functions as F

    from invertedfiles_jl_spark.operators.packing import chunk_documents

    corpus = documents.select("doc_id", F.col("text").alias("content"))
    plan = chunk_documents(corpus, 64, 48)._jdf.queryExecution(
        ).executedPlan().toString()
    assert "Exchange" not in plan


def test_sq8_semantic_lm_plans_no_smj(spark, documents):
    """Fourth batch: SQ8 quantized ANN (broadcast codebook + broadcast
    candidate rescore) and the unigram-LM scorer (broadcast probability
    table) stay SortMergeJoin-free; SemDeDup's same-cluster self-join is a
    legitimately corpus-sized shuffle join (neither side broadcastable), so
    its gate is the n²-path one: no cartesian/nested-loop join anywhere —
    every pair candidate must flow through the cluster-keyed equi-join."""
    import os

    from pyspark.sql import functions as F

    from invertedfiles_jl_spark.functions.text import lm_perplexity
    from invertedfiles_jl_spark.operators.ann import (
        pq_topk,
        semantic_dedup,
        sq8_topk,
    )

    sf = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")
    emb = spark.read.parquet(f"{sf}/embeddings.parquet")
    q = emb.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("q_emb"))
    corpus = documents.select("doc_id", F.col("text").alias("content"))
    for df in [sq8_topk(emb, q, k=5, depth=20), lm_perplexity(corpus),
               pq_topk(emb, q, k=5, m=8, ksub=16, depth=20)]:
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "SortMergeJoin" not in plan
    sem = semantic_dedup(emb, threshold=0.4, n_clusters=8)
    plan = sem._jdf.queryExecution().executedPlan().toString()
    # the BroadcastNestedLoopJoin in this plan is emb × broadcast(centroids)
    # — the n·n_clusters IVF assignment scan, intended; the forbidden shape
    # is an un-broadcast corpus×corpus product
    assert "CartesianProduct" not in plan


def test_rank_cut_plans_window_group_limit(spark, documents):
    """``search.rank_cut`` — the engine's one rank cut — is bounded below
    its window both partitioned (a per-doc top-n: the WindowGroupLimit
    pushdown) and unpartitioned (``term_cooccurrence``'s one global order
    over the surviving pairs: Spark plans a row_number cut with no
    partition as a top-n ``TakeOrderedAndProject`` instead of a
    WindowGroupLimit).  Neither sorts every row."""
    from pyspark.sql import functions as F

    from invertedfiles_jl_spark.operators.build import doc_term_freqs
    from invertedfiles_jl_spark.operators.meta import term_cooccurrence
    from invertedfiles_jl_spark.operators.search import knn_order, rank_cut

    corpus = documents.select("doc_id", F.col("text").alias("content"))
    per_doc = rank_cut(doc_term_freqs(corpus, IndexConfig()), 3,
                       knn_order("tf", id_col="term"), by=("doc_id",))
    plan = per_doc._jdf.queryExecution().executedPlan().toString()
    assert "WindowGroupLimit" in plan
    plan = term_cooccurrence(corpus, k=5)._jdf.queryExecution().executedPlan(
    ).toString()
    assert "TakeOrderedAndProject(limit=5," in plan


def test_rank_order_written_once():
    """The rank order is written once per side: ``row_number()`` appears in
    the package only in ``search.rank_cut``, the DuckDB oracles, and the
    two windows that number rows rather than cut ranks
    (``sampling.shuffle_order``'s position, ``sources.corpus`` doc-id
    assignment); ``np.lexsort`` only in ``wand.rank_order``."""
    import inspect
    import pathlib

    import invertedfiles_jl_spark
    from invertedfiles_jl_spark.operators.search import rank_cut
    from invertedfiles_jl_spark.operators.wand import rank_order

    root = pathlib.Path(invertedfiles_jl_spark.__file__).parent
    found: dict[str, dict[str, int]] = {"row_number()": {}, "np.lexsort": {}}
    for f in sorted(root.rglob("*.py")):
        rel = f.relative_to(root).as_posix()
        text = f.read_text()
        for needle, hits in found.items():
            if needle in text and rel != "plans/oracles.py":
                hits[rel] = text.count(needle)
    assert found["row_number()"] == {"operators/sampling.py": 1,
                                     "operators/search.py": 1,
                                     "sources/corpus.py": 1}
    assert "row_number()" in inspect.getsource(rank_cut)
    assert found["np.lexsort"] == {"operators/wand.py": 1}
    assert "np.lexsort" in inspect.getsource(rank_order)
