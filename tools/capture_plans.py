"""Dump ``explain("formatted")`` for every registered driver query.

Usage::

    python tools/capture_plans.py <outdir> [suffix] [q81 q82 ...]

Writes ``<outdir>/<query>_<suffix>.txt`` (suffix defaults to
``before``) for each entry — the committed evidence the optimization
round's plan claims are checked against. Queries whose plan cannot be
built (missing fixture tables at the chosen SF) record the error text
instead so the sweep is total.
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def main() -> None:
    outdir = sys.argv[1] if len(sys.argv) > 1 else "plans/r15"
    if outdir.startswith("-"):
        # a flag typed where the directory goes (e.g. --help) would
        # otherwise become a directory of plan dumps
        sys.exit(f"capture_plans: output directory {outdir!r} looks like a flag\n{__doc__}")
    suffix = sys.argv[2] if len(sys.argv) > 2 else "before"
    only = set(sys.argv[3:])
    os.makedirs(outdir, exist_ok=True)

    from evm_indexer_spark import driver_queries
    from evm_indexer_spark.session import get_spark

    spark = get_spark(
        "capture-plans",
        extra_conf={"spark.ui.showConsoleProgress": "false"},
    )
    try:
        for name, fn in sorted(driver_queries.queries().items()):
            if only and name.split("_", 1)[0] not in only and name not in only:
                continue
            path = os.path.join(outdir, f"{name}_{suffix}.txt")
            try:
                df = fn(spark, SF_DIR)
                plan = df._jdf.queryExecution().explainString(
                    spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
                        "formatted"
                    )
                )
            except Exception as exc:  # record, keep sweeping
                plan = f"PLAN CAPTURE FAILED: {type(exc).__name__}: {exc}\n"
            with open(path, "w") as fh:
                fh.write(f"-- {name} @ {SF_DIR} ({suffix})\n")
                fh.write(plan if plan.endswith("\n") else plan + "\n")
            print(f"  wrote {path}", file=sys.stderr)
    finally:
        spark.stop()


if __name__ == "__main__":
    main()
