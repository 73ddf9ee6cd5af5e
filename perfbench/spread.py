"""Summarise benchmark runs: per metric, the median and the quartile
spread (Q3 - Q1) / median over the runs, the figure a run set must keep
within each end-to-end metric's bound in BENCHMARK.json.

Usage: python3 perfbench/spread.py OUTPUT_FILE...
(each file holds one run's standard output; its last line is the result)
"""

from __future__ import annotations

import json
import statistics
import sys

import stats


def summarise(paths: list[str]) -> dict[str, tuple[int, float, float]]:
    values: dict[str, list[float]] = {}
    for path in paths:
        with open(path) as f:
            result = json.loads(f.read().strip().splitlines()[-1])
        for name, m in result["metrics"].items():
            values.setdefault(name, []).append(m["value"])
    return {
        name: (len(xs), statistics.median(xs), stats.quartile_spread(xs) if len(xs) > 1 else 0.0)
        for name, xs in values.items()
    }


def main(paths: list[str]) -> int:
    if not paths:
        print(__doc__, file=sys.stderr)
        return 2
    for name, (n, med, spread) in summarise(paths).items():
        print(f"{name:40s} n={n:<3d} median {med:12.4f}  spread {spread:.3f}")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
