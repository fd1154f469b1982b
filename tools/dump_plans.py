#!/usr/bin/env python
"""Dump the optimized logical plan and .explain("formatted") of the serving
and write plans over a PERSISTED index — the raw material for
docs/PLANS.md, and the input of a plan diff between two checkouts (run
after any query-path change; mask expression ids ``#\\d+`` and the
``ifplans_*`` temporary paths before diffing).

    python tools/dump_plans.py > plans.txt
"""
import os
import sys
import tempfile

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from invertedfiles_jl_spark.config import IndexConfig
from invertedfiles_jl_spark.operators.positional import positional_postings
from invertedfiles_jl_spark.operators.querystring import query_string_topk
from invertedfiles_jl_spark.operators.search import bm25_topk
from invertedfiles_jl_spark.operators.sharded import load_shards, shard_postings, sharded_topk
from invertedfiles_jl_spark.operators.wand import wand_topk
from invertedfiles_jl_spark.plans import pipeline
from invertedfiles_jl_spark.plans.pipeline import build_checkpointed, load_index
from invertedfiles_jl_spark.session import get_spark
from invertedfiles_jl_spark.streaming.incremental import append_documents

SF = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001")

spark = get_spark("dump-plans", master="local[8]", shuffle_partitions=8)
spark.sparkContext.setLogLevel("ERROR")


def show(title, df):
    print("=" * 30, title, "=" * 30)
    print(df._jdf.queryExecution().optimizedPlan().toString())
    df.explain("formatted")


corpus = (spark.read.parquet(f"{SF}/documents.parquet")
          .select("doc_id", F.col("text").alias("content")))
q = spark.createDataFrame(
    [(i, t) for i, t in enumerate(["spark window merge", "sort group agg",
                                   "scan filter", "hash join table"])],
    "query_id long, content string")

tmp = tempfile.mkdtemp(prefix="ifplans_")
# every build stage's plan, printed just before the stage is written
_write = pipeline._StageIO.write
pipeline._StageIO.write = lambda io, df, stage, lineage: (
    show(f"build_checkpointed: {stage}", df), _write(io, df, stage, lineage))
build_checkpointed(corpus, f"{tmp}/idx", IndexConfig(weighting="bm25"), resume=False)
pipeline._StageIO.write = _write
idx = load_index(spark, f"{tmp}/idx")

show("Plan A: bm25_topk", bm25_topk(idx, q, k=10))
show("Plan B: wand_topk", wand_topk(idx, q, k=10))
shards = shard_postings(idx, n_shards=8)
show("shard_postings", shards)
shards.write.mode("overwrite").parquet(f"{tmp}/shards")
sharded = load_shards(spark, f"{tmp}/shards", n_shards=8)
show("Plan C: sharded_topk (persisted shards)",
     sharded_topk(idx, q, k=10, sharded=sharded, assume_colocated=True))

qs = spark.createDataFrame(
    [(1, 'merge +table -row "fast query" +sc*'), (2, "window")],
    "query_id long, content string")
show("query_string_topk", query_string_topk(idx, positional_postings(corpus), qs, k=10))

merged = append_documents(idx, corpus.filter(F.col("doc_id") % 10 == 0)
                          .select((F.col("doc_id") + 10**9).alias("doc_id"), "content"))
for name in ("docs", "vocab", "postings"):
    show(f"append_documents: {name}", getattr(merged, name))
