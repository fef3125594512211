"""Median and quartile spread of each metric over a file of run results.

    python3 perfbench/spread.py perfbench/baseline/pipeline_mix.jsonl

Each line is one run's result object (the last stdout line of run.py), or
an object that holds it under "result". The spread is the distance between
the first and third quartile (``statistics.quantiles(values, n=4)``) as a
share of the median.
"""

from __future__ import annotations

import json
import statistics
import sys


def main(path: str) -> int:
    with open(path) as fh:
        runs = [json.loads(line) for line in fh if line.strip()]
    results = [r.get("result", r) for r in runs]
    print(f"{path}: {len(results)} runs, all correct: {all(r['correct'] for r in results)}")
    for name, first in results[0]["metrics"].items():
        values = [r["metrics"][name]["value"] for r in results]
        q1, _, q3 = statistics.quantiles(values, n=4)
        med = statistics.median(values)
        print(
            f"{name:20s} median {med:10.4f} {first['unit']:5s} quartiles {q1:10.4f} {q3:10.4f}"
            f"  spread {(q3 - q1) / med:.3f}"
        )
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1]))
