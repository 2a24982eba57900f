"""Process set-up and tear-down shared by the workloads: a Spark session
confined to the checkout, the timed window's resource readings, and the
run context recorded beside the metrics."""

from __future__ import annotations

import os
import shutil
import signal
import sys
import time

import stats

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def task_slots() -> int:
    """Spark task slots: half the CPUs, at least one, never above nproc.
    The REST latencies matched at local[2] and local[4] on a 4-core box,
    and the spare cores absorb the driver, the JVM's own threads and the
    HTTP and RESP servers."""
    return max(1, nproc() // 2)


def nproc() -> int:
    """CPUs this process may run on, as ``nproc`` counts them."""
    return len(os.sched_getaffinity(0))


def prepare(workload: str) -> str:
    """Point every scratch location inside the checkout and make the
    package importable for the driver and its Python workers. Returns
    the work directory, which ``teardown`` removes."""
    if not os.path.isdir(os.path.join(ROOT, "evm_indexer_spark")):
        sys.exit("perfbench: evm_indexer_spark not found beside perfbench/")
    work = os.path.join(ROOT, ".perfbench_work", f"{workload}-{os.getpid()}")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(task_slots())
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = tmp
    # every JVM, the spark-submit launcher's too: no temp or perf-data
    # files outside the work directory
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    sys.path.insert(0, ROOT)
    return work


def start_spark(work: str):
    from evm_indexer_spark.session import get_spark

    return get_spark(
        "perfbench",
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        },
    )


def stop_spark(spark) -> None:
    """Stop the session, then the JVM, and wait until it and every
    process below it (Python workers) have exited."""
    gateway = spark.sparkContext._gateway
    proc = getattr(gateway, "proc", None)
    children = stats.descendants(os.getpid())
    spark.stop()
    try:
        gateway.shutdown()
    except Exception:  # noqa: BLE001 - the JVM may already be gone
        pass
    if proc is not None:
        try:
            proc.stdin.close()
        except (OSError, AttributeError):
            pass
        try:
            proc.wait(timeout=30)
        except Exception:  # noqa: BLE001
            proc.kill()
            proc.wait()
    deadline = time.monotonic() + 10
    while children and time.monotonic() < deadline:
        children = [p for p in children if os.path.exists(f"/proc/{p}")]
        time.sleep(0.1)
    for pid in children:
        try:
            os.kill(pid, signal.SIGKILL)
        except OSError:
            pass


def teardown(work: str) -> None:
    shutil.rmtree(work, ignore_errors=True)
    parent = os.path.dirname(work)
    if os.path.isdir(parent) and not os.listdir(parent):
        os.rmdir(parent)


class Window:
    """Resource readings over the timed window."""

    def __enter__(self) -> "Window":
        self.jiffies = stats.cpu_jiffies()
        self.load_start = stats.loadavg()
        self.cpu0 = stats.tree_cpu_s()
        self.t0 = time.perf_counter()
        return self

    def __exit__(self, *exc) -> None:
        self.t1 = time.perf_counter()
        self.cpu_s = stats.tree_cpu_s() - self.cpu0
        self.steal = stats.steal_pct(self.jiffies, stats.cpu_jiffies())
        self.load_end = stats.loadavg()
        self.rss_mb = stats.peak_rss_mb()

    def context(self, seed: int) -> dict:
        return {
            "seed": seed,
            "nproc": nproc(),
            "spark_task_slots": int(os.environ["SPARK_GRAFT_CPUS"]),
            "steal_pct": self.steal,
            "loadavg_start": self.load_start,
            "loadavg_end": self.load_end,
        }


def setup_cost(t_start: float) -> tuple[float, float]:
    """Set-up cost so far: process-tree CPU seconds (this process, the JVM
    and every Python worker, from process start) and wall seconds since
    *t_start*."""
    return stats.tree_cpu_s(), time.perf_counter() - t_start


def end_to_end(setup_cpu_s: float, r: dict) -> dict:
    """The bounded end-to-end metrics of one timed window *r*. Both are
    CPU time, not wall time: host steal moved wall latency by up to 2x
    between runs minutes apart, CPU time by far less."""
    return {
        "setup_s": (setup_cpu_s, "s"),
        "cpu_ms_per_op": (1000.0 * r["window"].cpu_s / r["ops"], "ms"),
    }


def unbounded(r: dict) -> dict:
    """Wall-clock speed and peak memory of one timed window *r*, recorded
    beside the metrics with the window's steal: both moved by more than
    the largest bound between runs of the same code. A tail percentile
    is left out: the windows this benchmark can afford hold 21 to 60
    samples, and p90 needs 100 (``stats.min_samples``)."""
    w = r["window"]
    return {
        "ops_per_s": (r["ops"] / (w.t1 - w.t0), "ops/s"),
        "p50_ms": (stats.percentile(r["lat_ms"], 0.5), "ms"),
        "peak_rss_mb": (w.rss_mb, "MB"),
    }


def report(seed: int, setup: tuple[float, float], correct: bool, plain: dict,
           traced: dict | None = None, layers: dict | None = None) -> dict:
    """A run's result from its untraced window *plain* (and, in a traced
    run, the *traced* window and the workload's *layers*): the run
    context, the operation counts, and the end-to-end metrics, or the
    per-layer metrics with the traced window's error rate and the tracing
    overhead (traced minus untraced, per end-to-end metric)."""
    setup_cpu_s, setup_wall_s = setup
    context = plain["window"].context(seed)
    context.update(setup_wall_s=setup_wall_s, samples=plain["ops"],
                   error_rate=plain["failed"] / plain["ops"])
    context.update({k: v for k, (v, _) in unbounded(plain).items()})
    out = {
        "correct": correct and plain["failed"] == 0,
        "attempted": plain["ops"],
        "failed": plain["failed"],
        "context": context,
    }
    if traced is None:
        out["metrics"] = end_to_end(setup_cpu_s, plain)
        return out
    out["correct"] &= traced["failed"] == 0
    metrics = dict(layers)
    metrics["error_rate"] = (traced["failed"] / traced["ops"], "ratio")
    base = {**end_to_end(setup_cpu_s, plain), **unbounded(plain)}
    for name, (v, unit) in {**end_to_end(setup_cpu_s, traced), **unbounded(traced)}.items():
        if name != "setup_s":
            metrics[f"overhead.{name}"] = (v - base[name][0], unit)
    out["metrics"] = metrics
    return out
