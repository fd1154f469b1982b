"""One benchmark run in its own process: set up, measure, check.

Started by ``run.py``, which owns the process tree and samples its peak RSS.
Writes its result as JSON to ``--out``.  Every engine call goes through a
public function of ``invertedfiles_jl_spark`` inside ``Tracer.call``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time
import traceback

T_START = time.perf_counter()

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.path.insert(0, os.path.dirname(HERE))

import numpy as np  # noqa: E402
import pyarrow as pa  # noqa: E402
import pyarrow.parquet as pq  # noqa: E402

import gen  # noqa: E402
from oracle import RANK_ROUND, BM25Oracle, same_ranking  # noqa: E402
from layers import BUILD_STAGES, Tracer, stage_manifest  # noqa: E402

K = 10
# "rounds": timed rounds (serve) or deltas (ingest) run even when --seconds
# runs out first, so every median has several samples
WORKLOADS = {
    # persisted index; Plan A, WAND, sharded and query-string batches
    # round-robin, half of every query's terms from the 50 hottest ranks
    "serve_hot": {"docs": 1000, "queries": "hot", "batch": 32,
                  "qstring_batch": 8, "rounds": 2,
                  "ops": ("planA", "wand", "sharded", "qstring")},
    # cold build, then disjoint deltas: append + save + load, each followed
    # by Plan A batches of rare-band queries on the merged index
    "ingest": {"docs": 1000, "queries": "rare", "batch": 32,
               "delta_docs": 100, "rounds": 2, "reads_per_delta": 2},
}
PLAIN_OPS = ("planA", "wand", "sharded")
WARMUP = 1_000_000  # batch index of warm-up queries, never reached by a loop


def summarize(samples: list[float], unit: str) -> dict:
    """Median, sample count and the highest percentile with at least ten
    samples beyond it (none below 20 samples)."""
    n = len(samples)
    out = {"value": statistics.median(samples) if n else None,
           "unit": unit, "samples": n, "tail": None}
    for p in (99.9, 99.0, 90.0):
        if n * (1 - p / 100) >= 10:
            out["tail"] = {"p": p, "value": float(np.percentile(samples, p))}
            break
    return out


def index_bytes(root: str) -> int:
    """On-disk bytes of an index root's docs, vocab and postings tables."""
    total = 0
    for table in ("docs", "vocab", "postings"):
        d = os.path.join(root, table)
        total += sum(os.path.getsize(os.path.join(d, f))
                     for f in os.listdir(d) if f.endswith(".parquet"))
    return total


class Run:
    def __init__(self, args):
        self.args = args
        self.w = WORKLOADS[args.workload]
        self.dir = args.rundir
        self.samples: dict[str, list[float]] = {}
        self.attempted = 0
        self.failed = 0
        self.answered = 0      # queries answered inside the timed loop
        self.loop_s = 0.0      # time inside timed-loop calls
        self.excluded = 0.0    # benchmark-side work kept out of setup_s
        self.in_loop = False
        self.phases: dict[str, float] = {}  # set-up phase -> end time

    # -- inputs --------------------------------------------------------------

    def untimed(self, fn, *a):
        t = time.perf_counter()
        try:
            return fn(*a)
        finally:
            self.excluded += time.perf_counter() - t

    def table(self, seg: gen.Segment, name: str):
        """Write a generated segment as a parquet source table of one file
        per core (written with pyarrow: input preparation runs no Spark
        job) and open it."""
        path = os.path.join(self.dir, name)
        os.makedirs(path)
        rows = pa.Table.from_pydict(seg.rows)
        step = -(-rows.num_rows // self.cpus)
        for i in range(0, rows.num_rows, step):
            pq.write_table(rows.slice(i, step),
                           os.path.join(path, f"part-{i // step:05d}.parquet"))
        return self.spark.read.schema(gen.SCHEMA).parquet(path)

    def queries(self, rows):
        return self.spark.createDataFrame(
            [(q, text) for q, text, *_ in rows],
            "query_id long, content string")

    # -- calls and checks ----------------------------------------------------

    def timed(self, layer: str, metric: str | None, fn, record=True):
        """Run one public call; its result, or None if it raised.
        ``record=False`` (warm-up) keeps it out of samples and layers."""
        self.attempted += 1
        t = time.perf_counter()
        try:
            with self.tracer.call(layer, record):
                result = fn()
        except Exception:
            self.failed += 1
            traceback.print_exc()
            return None
        dt = time.perf_counter() - t
        if record and metric:
            self.samples.setdefault(metric, []).append(dt)
        if record and self.in_loop:
            self.loop_s += dt
        return result

    def check_topk(self, rows, want, batch, what: str, record: bool):
        """Compare collected (query_id, rank, doc_id, score) rows with the
        oracle's ranking for every query of the batch."""
        if rows is None:
            return
        t = time.perf_counter()
        got: dict = {}
        for r in sorted(rows, key=lambda r: (r[0], r[1])):
            d, s = got.setdefault(r[0], ([], []))
            d.append(r[2])
            s.append(r[3])
        bad = sum(not same_ranking(*got.get(q, ([], [])), *want(*spec))
                  for q, _, *spec in batch)
        if bad:
            self.failed += 1
            print(f"output check failed: {what}: {bad}/{len(batch)} queries "
                  "differ from the oracle", file=sys.stderr)
        if record and self.in_loop:
            self.answered += len(batch)
        self.excluded += time.perf_counter() - t

    # -- query operations ----------------------------------------------------

    def query_op(self, op: str, j: int, record=True):
        from invertedfiles_jl_spark.operators.querystring import query_string_topk
        from invertedfiles_jl_spark.operators.search import bm25_topk
        from invertedfiles_jl_spark.operators.sharded import sharded_topk
        from invertedfiles_jl_spark.operators.wand import wand_topk

        seed, names, kind = self.args.seed, self.names, self.w["queries"]
        if op == "qstring":
            batch = self.untimed(gen.qstring_batch, seed, names, kind, j,
                                 self.w["qstring_batch"], self.base)
            q = self.queries(batch)
            rows = self.timed(
                "querystring.query_string_topk", "qstring_batch_s",
                lambda: query_string_topk(self.index, self.positional, q, K,
                                          rank_round=RANK_ROUND).collect(),
                record)
            self.check_topk(
                rows, lambda shape, abc: self.oracle.qstring_topk(
                    shape, *abc, K), batch, f"qstring batch {j}", record)
            return
        # every op draws batches of its own, so no query text repeats
        batch = self.untimed(gen.query_batch, seed, names, kind,
                             j * len(PLAIN_OPS) + PLAIN_OPS.index(op),
                             self.w["batch"])
        q = self.queries(batch)
        layer, plan = {
            "planA": ("search.bm25_topk", lambda: bm25_topk(
                self.index, q, K, rank_round=RANK_ROUND)),
            "wand": ("wand.wand_topk", lambda: wand_topk(
                self.index, q, K, rank_round=RANK_ROUND)),
            "sharded": ("sharded.sharded_topk", lambda: sharded_topk(
                self.index, q, K, n_shards=self.cpus, rank_round=RANK_ROUND,
                sharded=self.shards, assume_colocated=True)),
        }[op]
        rows = self.timed(layer, f"{op}_batch_s",
                          lambda: plan().collect(), record)
        self.check_topk(rows, lambda ranks: self.oracle.bm25_topk(ranks, K),
                        batch, f"{op} batch {j}", record)

    # -- workloads -----------------------------------------------------------

    def build(self, corpus, root: str):
        """Cold checkpointed build; keeps its stage manifests, since an
        ingest run deletes the root after the first append."""
        from invertedfiles_jl_spark.config import IndexConfig
        from invertedfiles_jl_spark.plans.pipeline import build_checkpointed, load_index

        self.cfg = IndexConfig(tokenizer="code")
        if self.timed("pipeline.build_checkpointed", "build_s",
                      lambda: build_checkpointed(corpus, root, self.cfg,
                                                 resume=False)) is None:
            raise RuntimeError("index build failed")
        self.stages = {s: stage_manifest(root, s) for s in BUILD_STAGES}
        self.root = root
        self.index = load_index(self.spark, root)

    def serve(self):
        from invertedfiles_jl_spark.operators.positional import positional_postings
        from invertedfiles_jl_spark.operators.sharded import load_shards, shard_postings

        corpus = self.table(self.base, "corpus")
        self.phase("corpus_table")
        self.build(corpus, os.path.join(self.dir, "index"))
        self.phase("build")
        pos_dir = os.path.join(self.dir, "positional")
        self.timed("positional.positional_postings", None,
                   lambda: positional_postings(corpus, self.cfg)
                   .write.parquet(pos_dir))
        self.positional = self.spark.read.parquet(pos_dir)
        self.phase("positional")
        sh_dir = os.path.join(self.dir, "shards")

        def shards():
            shard_postings(self.index, self.cpus).write.parquet(sh_dir)
            s = load_shards(self.spark, sh_dir, self.cpus)
            s.count()
            return s
        self.shards = self.timed("sharded.load_shards", None, shards)
        if self.shards is None:
            raise RuntimeError("shard build failed")
        self.phase("shards")
        self.oracle = self.untimed(BM25Oracle, self.base)
        # warm-up: the first call of each plain plan runs 2-3x its steady
        # time; a first query-string call only ~1.3x, so it is not worth
        # a warm-up batch of its own within the run budget
        for op in PLAIN_OPS:
            self.query_op(op, WARMUP, record=False)
            self.phase(f"warmup_{op}")
        self.end_setup()
        j = 0
        while j < self.w["rounds"] or self.loop_s < self.args.seconds:
            for op in self.w["ops"]:
                self.query_op(op, j)
            j += 1
        self.index_ratio = index_bytes(self.root) / self.base.content_bytes

    def ingest(self):
        corpus = self.table(self.base, "corpus")
        self.phase("corpus_table")
        t = time.perf_counter()
        self.build(corpus, os.path.join(self.dir, "index0"))
        self.excluded += time.perf_counter() - t  # build_s, not set-up
        self.phase("build")
        self.oracle = self.untimed(BM25Oracle, self.base)
        self.content = self.base.content_bytes
        self.append_delta(0, record=False)  # warm-up delta and read
        self.end_setup()
        i = 1
        while i <= self.w["rounds"] or self.loop_s < self.args.seconds:
            self.append_delta(i)
            i += 1
        self.index_ratio = index_bytes(self.root) / self.content

    def append_delta(self, i: int, record=True):
        from invertedfiles_jl_spark.plans.pipeline import load_index, save_index
        from invertedfiles_jl_spark.streaming.incremental import append_documents

        seg = self.untimed(gen.delta, self.args.seed, self.names, i,
                           self.w["docs"], self.w["delta_docs"])
        delta = self.untimed(self.table, seg, f"delta{i}")
        root = os.path.join(self.dir, f"index{i + 1}")
        t = time.perf_counter()
        merged = self.timed("incremental.append_documents", None,
                            lambda: append_documents(self.index, delta), record)
        if merged is None or self.timed(
                "pipeline.save_index", None,
                lambda: save_index(merged, root) or True, record) is None:
            raise RuntimeError(f"append of delta {i} failed")
        if record:
            self.samples.setdefault("append_s", []).append(
                time.perf_counter() - t)
            self.samples.setdefault("save_bytes_per_delta_byte", []).append(
                index_bytes(root) / seg.content_bytes)
        self.index = load_index(self.spark, root)
        shutil.rmtree(self.root)
        self.root = root
        self.content += seg.content_bytes
        self.untimed(self.oracle.append, seg)
        reads = self.w["reads_per_delta"]
        for r in range(reads if record else 1):  # one read warms Plan A up
            self.query_op("planA", i * reads + r, record)

    def phase(self, name: str):
        self.phases[name] = round(time.perf_counter() - T_START, 3)

    def end_setup(self):
        self.phase("setup")
        self.setup_s = time.perf_counter() - T_START - self.excluded
        self.in_loop = True

    # -- entry -----------------------------------------------------------------

    def main(self) -> dict:
        from invertedfiles_jl_spark.session import get_spark

        self.cpus = os.cpu_count() or 1
        self.spark = get_spark(f"perfbench-{self.args.workload}",
                               master=f"local[{self.cpus}]",
                               shuffle_partitions=self.cpus)
        self.spark.sparkContext.setLogLevel("ERROR")
        self.phase("session")
        self.tracer = Tracer(self.spark, bool(self.args.trace))
        self.names = gen.vocabulary(self.args.seed)
        self.base = gen.corpus(self.args.seed, self.names, self.w["docs"])
        sha = self.base.sha256()
        self.phase("generate")
        print(f"corpus sha256 {sha}", file=sys.stderr)
        if self.args.workload == "ingest":
            self.ingest()
        else:
            self.serve()
        return self.result(sha)

    def result(self, sha: str) -> dict:
        s = self.samples
        metrics = {
            "setup_s": summarize([self.setup_s], "s"),
            **{m: summarize(s.get(m, []), "s") for m in (
                "build_s", "append_s", "planA_batch_s", "wand_batch_s",
                "sharded_batch_s", "qstring_batch_s")},
            "qps": {"value": self.answered / self.loop_s, "unit": "1/s",
                    "samples": self.answered},
            "index_bytes_per_input_byte": {
                "value": self.index_ratio, "unit": "B/B", "samples": 1},
            "error_rate": {"value": self.failed / max(self.attempted, 1),
                           "unit": "ratio", "samples": self.attempted},
            "save_bytes_per_delta_byte": summarize(
                s.get("save_bytes_per_delta_byte", []), "B/B"),
        }
        n = self.base.n_docs
        inputs = {
            "corpus_sha256": sha, "docs": n,
            "content_bytes": self.base.content_bytes,
            "hot_df_fraction": [
                d / n for d in self.oracle.base_df_range(*gen.HOT_RANKS)],
            "rare_df_fraction": [
                d / n for d in self.oracle.base_df_range(*gen.RARE_RANKS)],
        }
        return {"attempted": self.attempted, "failed": self.failed,
                "metrics": metrics, "inputs": inputs,
                "phases": self.phases,
                "layers": self.tracer.metrics(self.stages)
                if self.args.trace else None}


def main():
    p = argparse.ArgumentParser()
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--rundir", required=True)
    p.add_argument("--out", required=True)
    args = p.parse_args()
    result = Run(args).main()
    with open(args.out, "w") as f:
        json.dump(result, f)
    # run.py stops the JVM and its Python workers; a graceful stop here
    # would only add seconds to every run
    sys.stdout.flush()
    os._exit(0)


if __name__ == "__main__":
    main()
