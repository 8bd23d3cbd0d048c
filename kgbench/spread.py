"""Median and spread of the result lines of several runs.

    python3 kgbench/spread.py results-*.txt

Each file holds the stdout of one ``run.py`` invocation; its last line is
the JSON result. Prints, per metric, the median, the quartiles as
``statistics.quantiles(values, n=4)`` gives them, and their distance as a
share of the median (the figure a metric's bound in BENCHMARK.json must
exceed), plus whether every run was correct.
"""

from __future__ import annotations

import json
import statistics
import sys


def main(paths: list) -> int:
    results = []
    for p in paths:
        with open(p) as f:
            lines = [ln for ln in f.read().splitlines() if ln.startswith("{")]
        results.append(json.loads(lines[-1]))
    print(f"{len(results)} runs, all correct: {all(r['correct'] for r in results)}, "
          f"failed ops: {sum(r['failed'] for r in results)}/"
          f"{sum(r['attempted'] for r in results)}")
    for name in results[0]["metrics"]:
        vals = [r["metrics"][name]["value"] for r in results]
        med = statistics.median(vals)
        q1, _, q3 = statistics.quantiles(vals, n=4) if len(vals) > 1 else (med, med, med)
        share = (q3 - q1) / med if med else 0.0
        print(f"{name:28s} median {med:14.6g}  q1 {q1:12.6g}  q3 {q3:12.6g}  "
              f"iqr/median {share:7.4f}")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
