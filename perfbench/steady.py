"""Steadiness check: run one workload on seeds 1..runs, each for
BENCHMARK.json's ``run_seconds``, and print per end-to-end metric (and
per wall-clock number of the context line) the median and the quartile
spread (Q3 - Q1) / median.

    python3 perfbench/steady.py --workload rest_history --runs 10

Runs are sequential, one process at a time, from the repository root.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
UNBOUNDED = ("setup_wall_s", "p50_ms", "ops_per_s", "peak_rss_mb")  # in the context line


def spread(values: list[float]) -> float:
    q1, _, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / statistics.median(values)


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--runs", type=int, default=10)
    args = ap.parse_args()
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        seconds = json.load(f)["run_seconds"]
    values: dict[str, list[float]] = {}
    for seed in range(1, args.runs + 1):
        cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", args.workload,
               "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"]
        proc = subprocess.run(cmd, capture_output=True, text=True, cwd=os.path.dirname(HERE))
        lines = proc.stdout.strip().splitlines()
        if proc.returncode != 0 or not lines:
            print(f"seed {seed}: exit {proc.returncode}\n{proc.stderr[-2000:]}", file=sys.stderr)
            return 1
        result = json.loads(lines[-1])
        context = json.loads(lines[-2])["context"] if len(lines) > 1 else {}
        print(f"seed {seed}: correct={result['correct']} "
              + " ".join(f"{k}={v['value']:.4g}" for k, v in result["metrics"].items())
              + "".join(f" {k}={context[k]:.4g}" for k in UNBOUNDED)
              + f" steal={context.get('steal_pct')}", flush=True)
        for k, v in result["metrics"].items():
            values.setdefault(k, []).append(v["value"])
        for k in UNBOUNDED:
            values.setdefault(f"({k})", []).append(context[k])
    for k, vs in values.items():
        print(f"{k}: median={statistics.median(vs):.4g} spread={spread(vs):.3f}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
