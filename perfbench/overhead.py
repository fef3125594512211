"""Tracing overhead: run one workload untraced, then traced, on the same
seed, and print how much more CPU the traced warm suite used.

    python3 perfbench/overhead.py --workload pipeline_mix --seed 1 --seconds 5

The traced run reports its own warm suite CPU time as
``trace.suite_warm_cpu_s``; the overhead is that over the untraced
``suite_warm_cpu_s``, minus one.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys

RUN = os.path.join(os.path.dirname(os.path.abspath(__file__)), "run.py")


def run(workload: str, seed: int, seconds: float, trace: int) -> dict:
    cmd = [sys.executable, RUN, "--workload", workload, "--seed", str(seed),
           "--seconds", str(seconds), "--trace", str(trace)]
    out = subprocess.run(cmd, check=True, capture_output=True, text=True, timeout=180)
    return json.loads(out.stdout.strip().splitlines()[-1])


def main() -> int:
    parser = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    parser.add_argument("--workload", required=True)
    parser.add_argument("--seed", type=int, required=True)
    parser.add_argument("--seconds", type=float, default=5)
    args = parser.parse_args()
    plain = run(args.workload, args.seed, args.seconds, 0)["metrics"]["suite_warm_cpu_s"]["value"]
    traced = run(args.workload, args.seed, args.seconds, 1)["metrics"]["trace.suite_warm_cpu_s"]["value"]
    print(
        f"tracing_overhead {args.workload} seed {args.seed}: suite_warm_cpu_s untraced {plain:.3f} s,"
        f" traced {traced:.3f} s, {100 * (traced / plain - 1):+.1f}%"
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
