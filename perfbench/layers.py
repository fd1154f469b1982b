"""Per-layer accounting from Spark's own status store.

Around every public engine call the benchmark sets a unique Spark job group;
after the call it drains the listener bus and reads the group's jobs and
their stages from the application status store (the data behind the Spark
UI, kept even with the UI off).  Nothing inside the engine is instrumented.

A layer is named after the public call: ``search.bm25_topk`` and so on.  Its
counters sum over the layer's recorded calls:

* ``calls``, ``wall_s`` — count and wall time of the calls;
* ``driver_s`` — wall time not covered by any of the group's Spark jobs
  (planning, driver-side collects, Python between jobs);
* ``jobs``, ``tasks``, ``tasks_failed`` — from the job records;
* ``executor_run_s``, ``shuffle_write_bytes``, ``shuffle_read_bytes``,
  ``input_bytes``, ``output_bytes``, ``spill_bytes`` — summed over the
  distinct stages the jobs ran (skipped stages count nothing).

Build stages come from the ``<stage>_lineage.json`` manifests the
checkpointed build writes: ``wall_s``, ``rows`` and ``bytes`` per stage.
"""

from __future__ import annotations

import itertools
import json
import os
import time
from contextlib import contextmanager

CALL_LAYERS = (
    "pipeline.build_checkpointed",
    "incremental.append_documents",
    "pipeline.save_index",
    "positional.positional_postings",
    "sharded.load_shards",
    "search.bm25_topk",
    "wand.wand_topk",
    "sharded.sharded_topk",
    "querystring.query_string_topk",
)
CALL_COUNTERS = {
    "calls": "count", "wall_s": "s", "driver_s": "s", "jobs": "count",
    "tasks": "count", "tasks_failed": "count", "executor_run_s": "s",
    "shuffle_write_bytes": "B", "shuffle_read_bytes": "B",
    "input_bytes": "B", "output_bytes": "B", "spill_bytes": "B",
}
BUILD_STAGES = ("termfreqs", "docs", "vocab", "postings")
STAGE_COUNTERS = {"wall_s": "s", "rows": "count", "bytes": "B"}


def layer_metric_units() -> dict[str, str]:
    """Every per-layer metric name with its unit, in report order."""
    units = {f"{layer}.{c}": u for layer in CALL_LAYERS
             for c, u in CALL_COUNTERS.items()}
    units.update({f"pipeline.{s}.{c}": u for s in BUILD_STAGES
                  for c, u in STAGE_COUNTERS.items()})
    return units


def _interval_union_ms(spans) -> int:
    total, end = 0, None
    for lo, hi in sorted(spans):
        if end is None or lo > end:
            total += hi - lo
            end = hi
        elif hi > end:
            total += hi - end
            end = hi
    return total


class Tracer:
    """Wraps public calls in job groups; ``enabled=False`` does nothing."""

    def __init__(self, spark, enabled: bool):
        self.enabled = enabled
        self.sc = spark.sparkContext
        self.totals = {layer: dict.fromkeys(CALL_COUNTERS, 0)
                       for layer in CALL_LAYERS}
        self._ids = itertools.count()
        if enabled:
            jsc = self.sc._jsc.sc()
            self._store = jsc.statusStore()
            self._bus = jsc.listenerBus()

    @contextmanager
    def call(self, layer: str, record: bool = True):
        """Account one public call (the ``with`` body) to ``layer``.
        Unrecorded calls (warm-up) add nothing to the layer totals."""
        group = f"perfbench-{next(self._ids)}-{layer}"
        if self.enabled:
            self.sc.setJobGroup(group, layer)
        t0 = time.perf_counter()
        try:
            yield
        finally:
            wall = time.perf_counter() - t0
            if self.enabled:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
                self.sc.setLocalProperty("spark.job.description", None)
                if record:
                    self._account(layer, group, wall)

    def _account(self, layer: str, group: str, wall: float) -> None:
        self._bus.waitUntilEmpty()
        t = self.totals[layer]
        t["calls"] += 1
        t["wall_s"] += wall
        spans, stages = [], set()
        for job_id in self.sc.statusTracker().getJobIdsForGroup(group):
            job = self._store.job(job_id)
            t["jobs"] += 1
            t["tasks"] += job.numCompletedTasks()
            t["tasks_failed"] += job.numFailedTasks()
            if job.submissionTime().isDefined() and job.completionTime().isDefined():
                spans.append((job.submissionTime().get().getTime(),
                              job.completionTime().get().getTime()))
            ids = job.stageIds()
            stages.update(ids.apply(i) for i in range(ids.size()))
        t["driver_s"] += max(wall - _interval_union_ms(spans) / 1000.0, 0.0)
        for stage_id in stages:
            s = self._store.lastStageAttempt(stage_id)
            t["executor_run_s"] += s.executorRunTime() / 1000.0
            t["shuffle_write_bytes"] += s.shuffleWriteBytes()
            t["shuffle_read_bytes"] += s.shuffleReadBytes()
            t["input_bytes"] += s.inputBytes()
            t["output_bytes"] += s.outputBytes()
            t["spill_bytes"] += s.memoryBytesSpilled() + s.diskBytesSpilled()

    def metrics(self, manifests: dict[str, dict]) -> dict[str, float]:
        """Every per-layer metric: call layers from the recorded calls, build
        stages from the build's stage manifests."""
        out = {f"{layer}.{c}": v for layer, counters in self.totals.items()
               for c, v in counters.items()}
        for stage in BUILD_STAGES:
            m = manifests[stage]
            out[f"pipeline.{stage}.wall_s"] = m["wall_sec"]
            out[f"pipeline.{stage}.rows"] = m["partitions"]["total_rows"]
            out[f"pipeline.{stage}.bytes"] = m["partitions"]["total_bytes"]
        return out


def stage_manifest(index_root: str, stage: str) -> dict:
    with open(os.path.join(index_root, f"{stage}_lineage.json")) as f:
        return json.load(f)
