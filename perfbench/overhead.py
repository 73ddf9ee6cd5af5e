"""Tracing overhead and run-to-run spread from paired runs.

    python3 perfbench/overhead.py --workload W --seeds 1 2 ... --seconds S --out DIR

For each seed, runs the benchmark untraced and traced, one process each,
alternating which runs first from seed to seed so that host drift does
not fall on one side; keeps each run's standard output in DIR; and
prints:

- the untraced runs' end-to-end metrics: median and quartile spread;
- the tracing overhead: traced ``pass_s`` minus untraced ``pass_s`` of
  the same seed, as the median and quartiles of the per-seed differences.
  When the quartiles straddle 0 the overhead is below what the runs
  resolve, and is reported as unresolved.

Runs already in DIR are reused, so a summary can be redone without
re-running.
"""

from __future__ import annotations

import argparse
import json
import os
import re
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import spread  # noqa: E402

PASS_LINE = re.compile(r"^pass_s ([0-9.]+) s$", re.M)


def pass_s(path: str) -> float:
    """Timed-pass median of one run: from the table of an untraced run,
    from the result of a traced one."""
    with open(path) as f:
        text = f.read()
    result = json.loads(text.strip().splitlines()[-1])
    if "pass_s" in result["metrics"]:
        return result["metrics"]["pass_s"]["value"]
    return float(PASS_LINE.search(text).group(1))


def overhead(diffs: list[float]) -> dict:
    q1, med, q3 = statistics.quantiles(diffs, n=4)
    return {"median_s": med, "q1_s": q1, "q3_s": q3, "pairs": len(diffs),
            "resolved": not q1 <= 0 <= q3}


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", type=int, nargs="+", required=True)
    ap.add_argument("--seconds", default="8")
    ap.add_argument("--out", required=True)
    args = ap.parse_args(argv)
    os.makedirs(args.out, exist_ok=True)
    paths = {}
    for i, seed in enumerate(args.seeds):
        for trace in ((0, 1), (1, 0))[i % 2]:
            path = paths[seed, trace] = os.path.join(
                args.out, f"{args.workload}_{seed}_{trace}.txt")
            if os.path.exists(path):
                continue
            cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", args.workload,
                   "--seed", str(seed), "--seconds", args.seconds, "--trace", str(trace)]
            with open(path + ".tmp", "w") as out, open(path + ".err", "w") as err:
                code = subprocess.run(cmd, stdout=out, stderr=err).returncode
            if code:
                print(f"seed {seed} trace {trace}: exit {code}, see {path}.err", file=sys.stderr)
                return 1
            os.replace(path + ".tmp", path)
    untraced = [paths[s, 0] for s in args.seeds]
    for name, (n, med, sp) in spread.summarise(untraced).items():
        print(f"{name:14s} n={n:<3d} median {med:12.4f}  spread {sp:.3f}")
    diffs = [pass_s(paths[s, 1]) - pass_s(paths[s, 0]) for s in args.seeds]
    ov = overhead(diffs)
    print(f"tracing overhead (traced - untraced pass_s, {ov['pairs']} pairs): median "
          f"{ov['median_s']:+.3f} s, quartiles {ov['q1_s']:+.3f} .. {ov['q3_s']:+.3f} s"
          + ("" if ov["resolved"] else " -> unresolved (quartiles straddle 0)"))
    print(json.dumps({"untraced_pass_s": statistics.median(pass_s(p) for p in untraced),
                      "tracing_overhead": ov}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
