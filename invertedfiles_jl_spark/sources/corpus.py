"""Corpus sources.

The north rule's input shape is an Iceberg table
``(repo string, path string, commit string, lang string, content string)``.
No Iceberg runtime jar ships in this sandbox, so the reader is
catalog-pluggable: ``spark.read.table`` when a catalog table exists,
parquet directories otherwise — the DataFrame shape downstream is identical.

For tests/bench we derive the corpus DETERMINISTICALLY from the driver's
``documents`` table (TESTDATA.md): every derivation below is a pure-column
expression, reproducible in DuckDB for oracle parity, seed-free.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def corpus_from_documents(docs: DataFrame) -> DataFrame:
    """documents(doc_id, text, lang, source, n_chars) → north-rule corpus
    (repo, path, commit, lang, content) + the carried doc_id.

    commit = sha256(repo || '/' || path) truncated to 40 hex chars —
    deterministic, DuckDB-expressible.
    """
    repo = F.concat(F.lit("org"), (F.col("doc_id") % 7).cast("string"),
                    F.lit("/repo"), (F.col("doc_id") % 97).cast("string"))
    path = F.concat(F.lit("src/mod"), (F.col("doc_id") % 53).cast("string"),
                    F.lit("/file"), F.col("doc_id").cast("string"), F.lit(".txt"))
    return docs.select(
        F.col("doc_id"),
        repo.alias("repo"),
        path.alias("path"),
        F.substring(F.sha2(F.concat(repo, F.lit("/"), path).cast("binary"), 256), 1, 40).alias("commit"),
        F.col("lang"),
        F.col("text").alias("content"),
    )


CORPUS_FROM_DOCUMENTS_DUCKDB = """
SELECT doc_id,
       'org' || CAST(doc_id % 7 AS VARCHAR) || '/repo' || CAST(doc_id % 97 AS VARCHAR) AS repo,
       'src/mod' || CAST(doc_id % 53 AS VARCHAR) || '/file' || CAST(doc_id AS VARCHAR) || '.txt' AS path,
       substr(sha256('org' || CAST(doc_id % 7 AS VARCHAR) || '/repo' || CAST(doc_id % 97 AS VARCHAR)
              || '/' || 'src/mod' || CAST(doc_id % 53 AS VARCHAR) || '/file' || CAST(doc_id AS VARCHAR) || '.txt'), 1, 40) AS commit,
       lang,
       text AS content
FROM documents
"""


def assign_doc_ids(corpus: DataFrame) -> DataFrame:
    """Assign dense doc_ids to a raw (repo, path, commit, ...) corpus with no
    id column — scalable variant of the reference's insertion-order ids
    (objID = length(idx)+1, /root/reference/src/invfile.jl:136).

    Avoids a global-sort window: ids are (partition offset + intra-partition
    row_number), where offsets come from per-partition counts — O(#partitions)
    driver data, not O(rows).  Deterministic given a deterministic input
    ordering (sort by natural key first for full determinism).
    """
    from pyspark.sql.window import Window

    keyed = corpus.repartition(corpus.sparkSession.sparkContext.defaultParallelism,
                               F.col("repo"), F.col("path"), F.col("commit"))
    part = keyed.withColumn("_pid", F.spark_partition_id())
    counts = {r["_pid"]: r["c"] for r in
              part.groupBy("_pid").agg(F.count(F.lit(1)).alias("c")).collect()}
    offsets = {}
    acc = 0
    for pid in sorted(counts):
        offsets[pid] = acc
        acc += counts[pid]
    off = F.create_map(*[F.lit(x) for kv in offsets.items() for x in kv])
    w = Window.partitionBy("_pid").orderBy("repo", "path", "commit")
    return (
        part.withColumn("doc_id", off[F.col("_pid")] + F.row_number().over(w) - 1)
        .drop("_pid")
    )


def symbolized_from_documents(docs: DataFrame) -> DataFrame:
    """documents → (doc_id, content) where content is an identifier-styled
    rewrite of the text: adjacent token pairs fuse into identifiers,
    alternating snake_case (pair 1, 3, …) and camelCase (pair 2, 4, …) —
    ``"spark window merge sort" → "spark_window mergeSort"``.  A trailing
    odd token is dropped.  Deterministic, pure column math, mirrored
    verbatim by :data:`SYMBOLIZED_FROM_DOCUMENTS_DUCKDB` — the fixture that
    makes symbol-search (subtoken-normalized) retrieval testable on the
    sandbox tables: querying the ORIGINAL words must retrieve docs whose
    content only contains the fused identifiers."""
    toks = "filter(split(lower(text), '\\\\s+'), t -> t != '')"
    pairs = (
        "transform(sequence(1, int(floor(size(toks) / 2))), i -> "
        "CASE WHEN i % 2 = 1 "
        "THEN concat(element_at(toks, 2*i-1), '_', element_at(toks, 2*i)) "
        "ELSE concat(element_at(toks, 2*i-1), "
        "upper(substring(element_at(toks, 2*i), 1, 1)), "
        "substring(element_at(toks, 2*i), 2)) END)"
    )
    return (
        docs.selectExpr("doc_id", f"{toks} AS toks")
        .selectExpr(
            "doc_id",
            f"CASE WHEN size(toks) >= 2 THEN concat_ws(' ', {pairs}) "
            "ELSE '' END AS content")
    )


SYMBOLIZED_FROM_DOCUMENTS_DUCKDB = """
SELECT doc_id,
       CASE WHEN len(toks) >= 2 THEN array_to_string(
         list_transform(generate_series(1, CAST(floor(len(toks) / 2) AS BIGINT)), i ->
           CASE WHEN i % 2 = 1
                THEN toks[2*i-1] || '_' || toks[2*i]
                ELSE toks[2*i-1] || upper(substr(toks[2*i], 1, 1)) || substr(toks[2*i], 2)
           END), ' ')
       ELSE '' END AS content
FROM (SELECT doc_id,
             list_filter(string_split_regex(lower(text), '\\s+'), t -> t != '') AS toks
      FROM documents)
"""
