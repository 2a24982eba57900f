"""Benchmark entry point.

    python3 perfbench/run.py --workload rest_history --seed 1 --seconds 4 --trace 0

Prints the run context as one JSON line, then, as the last line of
standard output, ``{"correct", "attempted", "failed", "metrics"}``: the
end-to-end metrics with ``--trace 0``, the per-layer metrics and the
tracing overhead with ``--trace 1``. See perfbench/README.md.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import sys  # noqa: E402

import harness  # noqa: E402

WORKLOADS = ("rest_history", "catalog")


def declared(trace: bool) -> dict[str, str]:
    """Metric name -> unit, as BENCHMARK.json declares them."""
    with open(os.path.join(harness.ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    return {m["name"]: m["unit"] for m in spec["per_layer" if trace else "end_to_end"]}


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    names = declared(bool(args.trace))
    work = harness.prepare(args.workload)
    try:
        module = __import__(args.workload)
        out = module.run(args.seed, args.seconds, bool(args.trace), T_START, work)
    finally:
        harness.teardown(work)
    measured = {k: v for k, (v, _) in out["metrics"].items()}
    unknown = sorted(set(measured) - set(names))
    if unknown:
        sys.exit(f"perfbench: metrics missing from BENCHMARK.json: {unknown}")
    if not args.trace and set(measured) != set(names):
        sys.exit(f"perfbench: end-to-end metrics not measured: {sorted(set(names) - set(measured))}")
    print(json.dumps({"context": out["context"]}))
    print(json.dumps({
        "correct": out["correct"],
        "attempted": out["attempted"],
        "failed": out["failed"],
        # a per-layer name the workload does not load reads 0: no work there
        "metrics": {k: {"value": measured.get(k, 0.0), "unit": u} for k, u in names.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
