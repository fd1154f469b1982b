"""Run one benchmark workload and print its result.

    python3 perfbench/run.py --workload serve_hot --seed 1 --seconds 15 --trace 0

Run from the repository root.  The workload runs in a fresh worker process
(``worker.py``) on ``local[nproc]`` with a driver heap below physical RAM and
all Spark scratch, temp files and index data under ``.perfbench_run/``.  This
process samples the peak resident memory of the worker's whole process tree
from ``/proc``.  Once the worker has written its result and exited, it kills
the rest of the tree (the JVM and Spark's Python workers) and waits until
every process of it has ended.

Standard output: an ``inputs`` line (corpus sha256, sizes, query-term df
ranges), a ``detail`` line with every measured metric and its sample count,
then the result line: ``correct``, ``attempted``, ``failed`` and
``metrics`` — the end-to-end metrics of ``BENCHMARK.json`` with
``--trace 0``, its per-layer metrics with ``--trace 1``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
RUN_DIR = os.path.join(ROOT, ".perfbench_run")
WORKER_TIMEOUT_S = 160

# end-to-end metrics reported on the result line (the BENCHMARK.json set)
END_TO_END = ("setup_s", "build_s", "planA_batch_s", "qps",
              "index_bytes_per_input_byte", "peak_rss_mb")


def driver_memory_mb() -> int:
    """A quarter of physical RAM, between 1 and 2 GiB."""
    with open("/proc/meminfo") as f:
        total_kb = next(int(line.split()[1]) for line in f
                        if line.startswith("MemTotal:"))
    return max(1024, min(2048, total_kb // 4096))


def _stat(pid: int):
    """(ppid, start time) of a live process, or None."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            fields = f.read().rsplit(")", 1)[1].split()
    except OSError:
        return None
    return int(fields[1]), int(fields[19])


def _resident_bytes(pid: int) -> int:
    """Proportional resident size: a page shared by n processes counts 1/n
    in each, so a sum over the tree counts the forked Python workers'
    shared pages once."""
    try:
        with open(f"/proc/{pid}/smaps_rollup") as f:
            return next(int(line.split()[1]) for line in f
                        if line.startswith("Pss:")) * 1024
    except (OSError, StopIteration):
        return 0


class ProcessTree:
    """Every process descended from ``root`` while it was watched.  Spark's
    Python daemon leaves the worker's process group, and outlives its parent
    for a moment, so the tree is tracked by parent links and remembered."""

    def __init__(self, root: int):
        self.seen = {root: _stat(root)[1]}

    def _alive(self) -> list[int]:
        return [p for p, start in self.seen.items()
                if (s := _stat(p)) is not None and s[1] == start]

    def sample_resident(self) -> int:
        live = set(self._alive())
        for name in os.listdir("/proc"):
            if name.isdigit() and (s := _stat(int(name))) and s[0] in live:
                self.seen.setdefault(int(name), s[1])
                live.add(int(name))
        return sum(_resident_bytes(p) for p in live)

    def stop(self) -> None:
        """Kill what is left of the tree and wait until it is gone."""
        self.sample_resident()  # picks up children started since the last sample
        while alive := self._alive():
            for p in alive:
                try:
                    os.kill(p, signal.SIGKILL)
                except ProcessLookupError:
                    pass
            time.sleep(0.1)


def run_worker(args) -> tuple[dict | None, float]:
    """Run the worker; (its result or None, peak resident MiB of its tree)."""
    shutil.rmtree(RUN_DIR, ignore_errors=True)
    tmp = os.path.join(RUN_DIR, "tmp")
    os.makedirs(tmp)
    out = os.path.join(RUN_DIR, "result.json")
    log_path = os.path.join(RUN_DIR, "worker.log")
    env = dict(os.environ)
    env.pop("PYSPARK_SUBMIT_ARGS", None)
    env.update(
        SPARK_DRIVER_MEMORY=f"{driver_memory_mb()}m",
        SPARK_LOCAL_DIRS=os.path.join(RUN_DIR, "local"),
        TMPDIR=tmp,
        # the engine's opt-in stable JVM: heap committed up front, ParallelGC
        SPARK_GRAFT_JVM_STABLE="1",
        JAVA_TOOL_OPTIONS=f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        PYSPARK_PYTHON=sys.executable,
        PYTHONDONTWRITEBYTECODE="1",
    )
    cmd = [sys.executable, os.path.join(HERE, "worker.py"),
           "--workload", args.workload, "--seed", str(args.seed),
           "--seconds", str(args.seconds), "--trace", str(args.trace),
           "--rundir", RUN_DIR, "--out", out]
    peak = 0
    with open(log_path, "w") as log:
        proc = subprocess.Popen(cmd, cwd=ROOT, env=env, stdout=log,
                                stderr=subprocess.STDOUT)
        tree = ProcessTree(proc.pid)
        deadline = time.monotonic() + WORKER_TIMEOUT_S
        try:
            while proc.poll() is None and time.monotonic() < deadline:
                peak = max(peak, tree.sample_resident())
                time.sleep(1.0)
        finally:
            if proc.poll() is None:
                proc.kill()
            proc.wait()
            tree.stop()
    if proc.returncode != 0 or not os.path.exists(out):
        with open(log_path) as f:
            sys.stderr.write(f.read()[-6000:])
        print(f"perfbench: worker exited with {proc.returncode}",
              file=sys.stderr)
        return None, peak / 2**20
    with open(out) as f:
        return json.load(f), peak / 2**20


def main() -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args()
    if not os.path.isfile(os.path.join(ROOT, "invertedfiles_jl_spark",
                                       "__init__.py")):
        print("perfbench: the engine package invertedfiles_jl_spark is not "
              f"in {ROOT}", file=sys.stderr)
        return 2
    result, peak_mb = run_worker(args)
    if result is None:
        return 1
    metrics = result["metrics"]
    metrics["peak_rss_mb"] = {"value": peak_mb, "unit": "MB", "samples": 1}
    print(json.dumps({"inputs": result["inputs"],
                      "phases_s": result["phases"]}))
    print(json.dumps({"detail": metrics, "trace": args.trace}))
    if args.trace:
        from layers import layer_metric_units

        final = {name: {"value": result["layers"][name], "unit": unit}
                 for name, unit in layer_metric_units().items()}
    else:
        final = {name: {"value": metrics[name]["value"],
                        "unit": metrics[name]["unit"]} for name in END_TO_END}
    print(json.dumps({"correct": result["failed"] == 0,
                      "attempted": result["attempted"],
                      "failed": result["failed"], "metrics": final}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
