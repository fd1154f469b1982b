"""Checkpoint-resumable staged build — the north rule's persistence layer.

Each build stage writes one table plus a ``_lineage.json`` manifest (config
hash, input fingerprint, wall time, and per-partition metrics: one entry per
output file with footer-derived row count and bytes).  ``resume=True`` skips any
stage whose manifest matches — a build killed between stages picks up
exactly where it stopped and produces byte-identical outputs (pytest gate).
The reference has no persistence (saveindex/loadindex tests are commented
out, /root/reference/test/invfiles.jl:100-111); this is the capability the
north rule adds.

Scaling design (the north rule gates on build wall-time scaling efficiency):
the build runs exactly THREE full-input jobs — one cheap columnless count of
the corpus (the lineage fingerprint), one tokenize→tf shuffle write, one
sha256 scan folded into the docs stage — plus three small jobs over the
persisted tf/docs tables.  No caching, no per-stage re-count re-reads: every
fixed cost that does not shrink with more executors has been removed, which
is what makes the wall time track cluster size.

Writer is catalog-pluggable: pass ``catalog="mycat.db"`` (or set
``spark.sql.catalog.<name>`` with the Iceberg jar on the classpath) and each
stage is written with ``df.writeTo(f"{catalog}.{stage}").createOrReplace()``
— an Iceberg table per stage with snapshot lineage.  Without a catalog
(this sandbox ships no Iceberg jar) stages are parquet directories with the
same one-table-per-stage layout.

One write path: every stage table goes through ``_StageIO.write`` and every
``index.json`` through ``_write_index_json``.  ``build_checkpointed`` writes
a fresh build; ``save_index`` is the one writer for every other index state
(maintenance results, ``append_documents`` merges, each ``stream_append``
micro-batch).
"""

from __future__ import annotations

import hashlib
import json
import os
from dataclasses import asdict

from pyspark.sql import DataFrame, SparkSession

from invertedfiles_jl_spark.config import IndexConfig
from invertedfiles_jl_spark.operators.build import (
    InvertedIndex,
    compute_stats,
    doc_term_freqs,
    docs_table,
    postings_table,
    vocab_table,
    weighted_pairs,
)

STAGES = ("termfreqs", "docs", "vocab", "postings")

# Config fields each stage's OUTPUT depends on — its lineage slice.
# termfreqs/docs/vocab are pure tokenizer products; every weighting / salting
# / codec knob folds in at the postings stage (operators/build.py:
# weighted_pairs, salted_pairs, grouped_postings).  Keying each stage's
# manifest on its own slice lets builds with DIFFERENT weightings over the
# same corpus share the expensive tokenize scan: at 100 TB, building a BM25
# index and a cosine index must not tokenize the corpus twice.  ``None`` =
# the full config.
STAGE_CONFIG_FIELDS = {
    "termfreqs": ("tokenizer", "lowercase"),
    "docs": ("tokenizer", "lowercase"),
    "vocab": ("tokenizer", "lowercase"),
    "postings": None,
}


def config_hash(cfg: IndexConfig, stage: str | None = None) -> str:
    """Hash of the config slice ``stage`` depends on (full config when
    ``stage`` is None or the stage reads everything)."""
    d = asdict(cfg)
    fields = STAGE_CONFIG_FIELDS.get(stage) if stage else None
    if stage and fields is not None:
        d = {k: d[k] for k in fields}
    payload = json.dumps(d, sort_keys=True, default=str)
    return hashlib.sha256(payload.encode()).hexdigest()[:16]


def _manifest_path(root: str, stage: str) -> str:
    return os.path.join(root, f"{stage}_lineage.json")


def _stage_done(root: str, stage: str, expect: dict) -> bool:
    p = _manifest_path(root, stage)
    if not os.path.exists(p):
        return False
    try:
        with open(p) as f:
            m = json.load(f)
    except (json.JSONDecodeError, OSError):
        return False
    return all(m.get(k) == v for k, v in expect.items()) and m.get("complete") is True


def catalog_configured(spark: SparkSession, catalog: str | None) -> bool:
    """True iff ``catalog`` names a configured Spark catalog (e.g. an
    Iceberg ``spark.sql.catalog.<name>`` entry)."""
    if not catalog:
        return False
    name = catalog.split(".", 1)[0]
    return spark.conf.get(f"spark.sql.catalog.{name}", None) is not None


_PARTITION_DETAIL_CAP = 1024  # per-file detail rows kept in a manifest


def _partition_lineage(stage_dir: str) -> dict:
    """Per-partition metrics for a stage's parquet output — the north rule's
    per-partition lineage: one entry per output file with its row count and
    size, read from parquet FOOTERS (no data scan; footer reads are
    O(files), driver-side).  Totals are always exact; per-file detail is
    capped at ``_PARTITION_DETAIL_CAP`` entries so a 10^5-file stage keeps a
    bounded manifest (the judge of truth for full detail at that scale is an
    Iceberg snapshot, which the catalog branch delegates to)."""
    import pyarrow.parquet as pq

    files = sorted(
        f for f in os.listdir(stage_dir)
        if f.endswith(".parquet") and not f.startswith(("_", "."))
    )
    detail, total_rows, total_bytes = [], 0, 0
    for name in files:
        fp = os.path.join(stage_dir, name)
        rows = pq.read_metadata(fp).num_rows
        size = os.path.getsize(fp)
        total_rows += rows
        total_bytes += size
        if len(detail) < _PARTITION_DETAIL_CAP:
            detail.append({"file": name, "rows": rows, "bytes": size})
    return {"n_files": len(files), "total_rows": total_rows,
            "total_bytes": total_bytes, "files": detail,
            "detail_truncated": len(files) > _PARTITION_DETAIL_CAP}


def _write_index_json(root: str, cfg: IndexConfig, stats: dict) -> None:
    """The root's ``index.json`` — config, its hash and the scalar stats:
    what ``load_index`` opens a root by, written last as the root's
    commit marker."""
    with open(os.path.join(root, "index.json"), "w") as f:
        json.dump({"config": asdict(cfg), "config_hash": config_hash(cfg),
                   "stats": stats}, f, indent=1, sort_keys=True, default=str)


class _StageIO:
    """Stage reader/writer — Iceberg ``writeTo`` when a catalog is
    configured, parquet directories otherwise.  The manifest file is the
    commit marker either way: a kill mid-write leaves an incomplete stage
    that resume re-runs."""

    def __init__(self, spark: SparkSession, root: str, catalog: str | None):
        self.spark = spark
        self.root = root
        self.catalog = catalog if catalog_configured(spark, catalog) else None

    def write(self, df: DataFrame, stage: str, lineage: dict) -> None:
        import time

        t0 = time.perf_counter()
        if self.catalog:
            df.writeTo(f"{self.catalog}.{stage}").createOrReplace()
        else:
            df.write.mode("overwrite").parquet(os.path.join(self.root, stage))
        manifest = dict(lineage, stage=stage, complete=True,
                        wall_sec=round(time.perf_counter() - t0, 3))
        if not self.catalog:  # Iceberg snapshots carry their own file stats
            manifest["partitions"] = _partition_lineage(os.path.join(self.root, stage))
        with open(_manifest_path(self.root, stage), "w") as f:
            json.dump(manifest, f, indent=1, sort_keys=True)

    def read(self, stage: str) -> DataFrame:
        if self.catalog:
            return self.spark.read.table(f"{self.catalog}.{stage}")
        return self.spark.read.parquet(os.path.join(self.root, stage))


def build_checkpointed(
    corpus: DataFrame,
    path: str,
    cfg: IndexConfig | None = None,
    resume: bool = True,
    doc_col: str = "doc_id",
    content_col: str = "content",
    catalog: str | None = None,
) -> InvertedIndex:
    """Staged build with per-stage checkpoints under ``path``.

    Downstream stages read the PERSISTED upstream table (not the lazy plan),
    so (a) each stage's work runs exactly once, and (b) a resumed build sees
    identical inputs to an uninterrupted one.  Stage manifests are keyed on
    per-stage config slices, so resumed builds with a different weighting
    reuse the tokenizer stages in place; a root holds ONE postings config at
    a time (re-configuring overwrites the postings table — use a separate
    root per simultaneously-served config).  ``corpus`` is scanned twice
    (tokenize, sha256) plus one columnless count — it is NOT cached: for a
    table scan input a re-scan is cheaper than a 100 TB persist, and callers
    with an expensive derived input should checkpoint it themselves.
    """
    cfg = cfg or IndexConfig()
    spark = corpus.sparkSession
    os.makedirs(path, exist_ok=True)
    io = _StageIO(spark, path, catalog)
    # Lineage fingerprint: a columnless count (parquet answers this from
    # row-group metadata — no data read).  Each stage's manifest is keyed on
    # the config SLICE it depends on (STAGE_CONFIG_FIELDS), so e.g. a
    # normcosine build resumed at a root that already holds a bm25 build
    # skips the tokenize/docs/vocab stages and re-runs only postings.
    n_input = corpus.count()

    def _lineage(stage: str) -> dict:
        return {"config_hash": config_hash(cfg, stage), "input_rows": n_input}

    # stage 1: term frequencies (the only full tokenize scan + tf shuffle)
    if not (resume and _stage_done(path, "termfreqs", _lineage("termfreqs"))):
        io.write(doc_term_freqs(corpus, cfg, doc_col, content_col),
                 "termfreqs", _lineage("termfreqs"))
    tf = io.read("termfreqs")

    # stage 2: per-doc stats (tf agg ⟕ one sha256 scan of the corpus)
    if not (resume and _stage_done(path, "docs", _lineage("docs"))):
        io.write(docs_table(tf, corpus, doc_col, content_col), "docs", _lineage("docs"))
    docs = io.read("docs")

    # stage 3: vocabulary (tf re-agg by term — reads the persisted tf)
    if not (resume and _stage_done(path, "vocab", _lineage("vocab"))):
        io.write(vocab_table(tf), "vocab", _lineage("vocab"))
    vocab = io.read("vocab")

    # scalar stats: one small job over the persisted docs table (depends on
    # the docs stage only — same lineage slice)
    stats_path = os.path.join(path, "stats.json")
    stats = None
    if resume and os.path.exists(stats_path):
        with open(stats_path) as f:
            saved = json.load(f)
        if all(saved.get(k) == v for k, v in _lineage("docs").items()):
            stats = {k: saved[k] for k in
                     ("n_docs", "avg_doc_len", "min_doc_id", "max_doc_id")
                     if k in saved}
    if stats is None:
        stats = compute_stats(docs)
        with open(stats_path, "w") as f:
            json.dump(dict(stats, **_lineage("docs")), f, indent=1, sort_keys=True)

    # stage 4: postings (tf ⋈ docs weights → salted group-agg) — full-config
    # lineage: any weighting/salt/codec change re-runs exactly this stage
    if not (resume and _stage_done(path, "postings", _lineage("postings"))):
        weighted = weighted_pairs(tf, docs, stats, cfg)
        io.write(postings_table(weighted, vocab, stats, cfg), "postings", _lineage("postings"))
    postings = io.read("postings")

    _write_index_json(path, cfg, stats)
    return InvertedIndex(docs=docs, vocab=vocab, postings=postings, stats=stats, cfg=cfg)


def save_index(index: InvertedIndex, path: str, catalog: str | None = None) -> None:
    """Persist an in-memory index handle as a loadable index root — the
    docs/vocab/postings stages plus ``index.json``, same layout the staged
    build leaves behind.  This is how maintenance results (e.g.
    ``operators.maintenance.delete_documents``, ``prune_postings``) become
    durable: they return new lazily-planned handles over the OLD root's
    tables, so ``path`` must be a DIFFERENT root (writing a table while
    scanning it is undefined); swap directories after the write like any
    blue/green layout flip."""
    spark = index.docs.sparkSession
    os.makedirs(path, exist_ok=True)
    io = _StageIO(spark, path, catalog)
    n = int(index.stats["n_docs"])
    for stage, df in (("docs", index.docs), ("vocab", index.vocab),
                      ("postings", index.postings)):
        io.write(df, stage, {"config_hash": config_hash(index.cfg, stage),
                             "input_rows": n})
    _write_index_json(path, index.cfg, index.stats)


def load_index(spark: SparkSession, path: str, catalog: str | None = None) -> InvertedIndex:
    """Open a persisted index — queries run against the persisted tables
    (parquet/Iceberg scans with pushdown), never against rebuild lineage."""
    with open(os.path.join(path, "index.json")) as f:
        meta = json.load(f)
    # only IndexConfig's own fields: an index.json written by older code
    # may carry keys the config no longer has
    known = asdict(IndexConfig())
    cfg = IndexConfig(**{k: v for k, v in meta["config"].items() if k in known})
    io = _StageIO(spark, path, catalog)
    return InvertedIndex(
        docs=io.read("docs"),
        vocab=io.read("vocab"),
        postings=io.read("postings"),
        stats=meta["stats"],
        cfg=cfg,
    )
