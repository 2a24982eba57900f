"""Tracing from outside the package: instance-level wrappers that time
calls into a layer's public functions, and Spark job-group counts.

Spans are kept in memory per operation and folded into medians when the
run ends. Nothing here patches a class, so only the instances the
benchmark builds are traced.
"""

from __future__ import annotations

import functools
import statistics
import time
from collections import defaultdict


class Tracer:
    def __init__(self, spark) -> None:
        self.sc = spark.sparkContext
        self.status_store = spark._jsparkSession.sharedState().statusStore()
        self.op = None  # current operation id; set by the load generator
        self.spans: dict[str, dict[int, float]] = defaultdict(lambda: defaultdict(float))
        self.groups: dict[int, str] = {}

    def executions(self) -> int:
        """SQL executions recorded so far (an offset into the store)."""
        return int(self.status_store.executionsCount())

    def begin(self, op: int, job_group: bool = False) -> None:
        """Start operation *op*; with *job_group*, tag the Spark jobs the
        calling thread launches from now on with the operation's group."""
        self.op = op
        if job_group:
            self._tag(op)

    def _tag(self, op: int) -> None:
        self.groups[op] = f"perfbench-op-{op}"
        self.sc.setJobGroup(self.groups[op], self.groups[op], False)

    def wrap(self, obj, attr: str, layer: str, job_group: bool = False) -> None:
        """Replace ``obj.attr`` with a wrapper adding its wall time to
        *layer* for the current operation. With *job_group*, Spark jobs
        the call launches are tagged with the operation's group (job
        groups are per thread, so this tags the thread that serves it)."""
        fn = getattr(obj, attr)

        # wraps() keeps the signature visible to callers that inspect it
        # (the GraphQL executor binds arguments by name)
        @functools.wraps(fn)
        def timed(*args, **kwargs):
            op = self.op
            if job_group and op is not None:
                self._tag(op)
            t = time.perf_counter()
            try:
                return fn(*args, **kwargs)
            finally:
                if op is not None:
                    self.spans[layer][op] += time.perf_counter() - t

        setattr(obj, attr, timed)

    def wrap_all(self, obj, prefix: str, layer: str) -> None:
        for name in dir(type(obj)):
            if name.startswith(prefix) and callable(getattr(obj, name)):
                self.wrap(obj, name, layer)

    def per_op_ms(self, layer: str, ops: list[int]) -> list[float]:
        """The layer's time in each of *ops*, in ms (0 where not called)."""
        return [1000.0 * self.spans[layer].get(op, 0.0) for op in ops]

    def median_ms(self, layer: str, ops: list[int]) -> float:
        return statistics.median(self.per_op_ms(layer, ops)) if ops else 0.0

    def spark_counts(self, ops: list[int]) -> tuple[float, float, float]:
        """Mean jobs, stages and tasks per operation, from the status
        tracker's record of each operation's job group."""
        time.sleep(1.0)  # let the listener bus deliver the last job events
        tracker = self.sc.statusTracker()
        jobs = stages = tasks = 0
        for op in ops:
            group = self.groups.get(op)
            if group is None:
                continue
            for jid in tracker.getJobIdsForGroup(group):
                info = tracker.getJobInfo(jid)
                if info is None:
                    continue
                jobs += 1
                for sid in info.stageIds:
                    st = tracker.getStageInfo(sid)
                    if st is not None:
                        stages += 1
                        tasks += st.numTasks
        n = max(len(ops), 1)
        return jobs / n, stages / n, tasks / n


# SQL metric name -> per-layer metric (summed over the window's executions)
SQL_METRICS = {
    "time to initialize Python workers": "python.init_ms",
    "time to run Python workers": "python.run_ms",
    "data sent to Python workers": "python.bytes_in",
    "data returned from Python workers": "python.bytes_out",
    "shuffle bytes written": "shuffle.write_bytes",
}


def _parse_sql_metric(text: str) -> float:
    """A formatted SQL metric value in base units (ms or bytes). Timing
    and size metrics read ``total (min, med, max ...)\\n<total> (...)``."""
    line = text.split("\n")[-1].split("(")[0].strip().replace(",", "")
    parts = line.split()
    value = float(parts[0])
    unit = parts[1] if len(parts) > 1 else ""
    scale = {"ms": 1, "s": 1e3, "m": 6e4, "h": 3.6e6, "B": 1, "KiB": 2**10,
             "MiB": 2**20, "GiB": 2**30, "TiB": 2**40}.get(unit, 1)
    return value * scale


def sql_metrics(tracer: Tracer, first_exec: int) -> dict[str, float]:
    """Sum the named SQL metrics over the executions the status store
    recorded since *first_exec* (a window's executions)."""
    store = tracer.status_store
    sums = {v: 0.0 for v in SQL_METRICS.values()}
    execs = store.executionsList(first_exec, tracer.executions() - first_exec)
    for i in range(execs.size()):
        ex = execs.apply(i)
        pairs = store.executionMetrics(ex.executionId()).toSeq()
        values = {int(pairs.apply(k)._1()): pairs.apply(k)._2() for k in range(pairs.size())}
        metrics = ex.metrics()
        for j in range(metrics.size()):
            m = metrics.apply(j)
            layer = SQL_METRICS.get(m.name())
            if layer is not None and int(m.accumulatorId()) in values:
                sums[layer] += _parse_sql_metric(values[int(m.accumulatorId())])
    return sums
