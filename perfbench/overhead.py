"""Show the tracing overhead: run one workload untraced and traced with the
same seed and print the end-to-end metrics of both side by side.

    python3 perfbench/overhead.py --workload serve_hot --seed 1 --seconds 12
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def detail(args, trace: int) -> dict:
    out = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload",
         args.workload, "--seed", str(args.seed), "--seconds",
         str(args.seconds), "--trace", str(trace)],
        capture_output=True, text=True, check=True)
    return json.loads(out.stdout.splitlines()[-2])["detail"]


def main() -> None:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    args = p.parse_args()
    off, on = detail(args, 0), detail(args, 1)
    print(f"{'metric':28s} {'unit':6s} {'untraced':>12s} {'traced':>12s} "
          f"{'traced/untraced':>16s}")
    for name, m in off.items():
        a, b = m["value"], on[name]["value"]
        if a is None or b is None:
            continue
        ratio = f"{b / a:16.3f}" if a else f"{'-':>16s}"
        print(f"{name:28s} {m['unit']:6s} {a:12.4f} {b:12.4f} {ratio}")


if __name__ == "__main__":
    main()
