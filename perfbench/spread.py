"""Run the benchmark over several seeds and report each metric's spread.

    python3 perfbench/spread.py --workload relational --seeds 1 2 3 4 5 \\
        [--seconds 6] [--trace 0]

For every metric it prints the median over the runs and the spread
(Q3 - Q1) / median, with quartiles as statistics.quantiles(n=4)
gives them, next to a third of the metric's bound in BENCHMARK.json.
It also prints each run's wall time.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys
import time
from statistics import median

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)
sys.path.insert(0, HERE)

from stats import quartile_spread  # noqa: E402


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", type=int, nargs="+", required=True)
    ap.add_argument("--seconds", type=int, default=None)
    ap.add_argument("--trace", type=int, default=0)
    args = ap.parse_args()
    with open(os.path.join(REPO, "BENCHMARK.json")) as f:
        bench = json.load(f)
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    seconds = args.seconds or bench["run_seconds"]
    values: dict[str, list[float]] = {}
    for seed in args.seeds:
        t0 = time.time()
        out = subprocess.run(
            bench["command"] + ["--workload", args.workload, "--seed", str(seed),
                                "--seconds", str(seconds), "--trace", str(args.trace)],
            cwd=REPO, capture_output=True, text=True)
        wall = time.time() - t0
        if out.returncode != 0:
            print(f"seed {seed}: exit {out.returncode}\n{out.stderr[-2000:]}")
            return 1
        res = json.loads(out.stdout.strip().splitlines()[-1])
        print(f"seed {seed}: {wall:.1f}s correct={res['correct']} "
              + " ".join(f"{k}={v['value']:.4g}" for k, v in res["metrics"].items()),
              flush=True)
        for k, v in res["metrics"].items():
            values.setdefault(k, []).append(v["value"])
    if len(args.seeds) >= 2:
        for k, vs in values.items():
            b = bounds.get(k)
            spread = quartile_spread(vs) if median(vs) else 0.0
            print(f"{k:28s} median={median(vs):.4g} spread={spread:.4f}"
                  + (f" (bound/3={b / 3:.4f})" if b is not None else ""))
    return 0


if __name__ == "__main__":
    sys.exit(main())
