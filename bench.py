#!/usr/bin/env python
"""Benchmark harness: runs the driver query catalog at
$SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1) on
local[$SPARK_GRAFT_CPUS] and prints ONE JSON line:

    {"metric": "...", "value": N, "unit": "sec", "queries": {...}, "sf": ...}

Each query is timed as plan-build + execution to completion
(count-materialized, results not shipped to the driver beyond the
aggregate). A warmup pass on sf's smallest table absorbs JVM/codegen
startup so numbers reflect steady-state engine throughput.
"""

from __future__ import annotations

import json
import os
import sys
import tempfile
import time

from evm_indexer_spark import driver_queries
from evm_indexer_spark.session import get_spark

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
INGEST_BLOCKS = int(os.environ.get("SPARK_GRAFT_INGEST_BLOCKS", "8000"))
# runs per query: run 1 is the cold one-shot (plan build + codegen +
# execute), further runs measure steady-state engine throughput — the
# number that actually extrapolates to a long-lived cluster, where
# codegen/scheduling constants amortize to zero. Warm = min over the
# steady runs (3 total keeps one outlier from defining the number).
REPEATS = max(1, int(os.environ.get("SPARK_GRAFT_BENCH_REPEATS", "3")))

# self-labeling contamination threshold: the same 5% in-run steal
# bench_window.sh retries on. A one-off (driver-run, non-protocol)
# artifact carries its own verdict instead of requiring the reader to
# know the threshold (round-13: BENCH_r13.json had cpu_steal_pct 13.12
# and no in-file flag).
STEAL_CONTAMINATION_PCT = 5.0


GATE_LOAD_THRESHOLDS = (1.5, 3.0, 2.0)  # 1/5/15-min, = bench_window.sh


def gate_load_breach(loadavg_start: list | None) -> bool:
    """True when bench.py's OWN pre-session loadavg violates the
    window gate's thresholds — the round-14 window committed a run
    whose loadavg_start read [3.69, 1.9, 1.94] (1-min above the
    gate's 1.5) with no in-artifact explanation; the bench now
    re-checks and self-labels so the gate's reading and the run's
    reading can never disagree silently."""
    if loadavg_start is None:
        return False
    return bool(
        any(
            v >= t
            for v, t in zip(loadavg_start, GATE_LOAD_THRESHOLDS)
        )
    )


def contamination_verdict(steal_pct: float | None) -> bool:
    """True iff the run's own measured hypervisor steal exceeds the
    protocol threshold — the run's timings (BOTH engines) are then not
    comparable across rounds. None (no /proc/stat, non-Linux) stays
    False: absence of evidence is reported as absence of the field
    upstream, not as contamination."""
    return bool(
        steal_pct is not None and steal_pct > STEAL_CONTAMINATION_PCT
    )


def bench_duckdb_oracles() -> tuple[float, dict[str, float]]:
    """Time the DuckDB oracle SQLs over the same parquet — the practical
    single-node baseline the catalog is graded against, measured in the
    same artifact so the comparison is reproducible."""
    import duckdb

    con = duckdb.connect()
    for t in [
        "region", "nation", "customer", "supplier", "part",
        "orders", "lineitem", "events", "documents", "embeddings",
    ]:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM "
            f"read_parquet('{SF_DIR}/{t}.parquet')"
        )
    timings: dict[str, float] = {}
    total = 0.0
    for name, sql in sorted(driver_queries.oracle_sql().items()):
        runs = []
        # two runs, keep the best — the same warm methodology as the
        # Spark side, so the ratio compares steady state to steady
        # state instead of to one cold, possibly contended DuckDB shot
        for _ in range(2):
            t0 = time.perf_counter()
            con.sql(sql).fetchall()
            runs.append(time.perf_counter() - t0)
        dt = min(runs)
        timings[name] = round(dt, 4)
        total += dt
    con.close()
    return total, timings


def bench_ingest(spark) -> tuple[float, float, int]:
    """Streaming-ingest throughput: raw nested docs → normalized,
    reorg-safe, publish-once store (the whole S5-S12 path). The
    reference's README sync run measured 23.2 blocks/s over 3 minutes
    of steady operation.

    Two runs against fresh stores: run 1 carries the one-time streaming
    setup (query init, normalizer codegen over the deeply nested raw
    schema, initial file listing) and swings ±40% run to run — the
    r1→r2 "regression" (1007→691 blocks/s) was exactly this variance,
    the ingest path itself was untouched. Run 2 is steady-state, the
    number that describes a continuously running sync stream. Both are
    reported.
    """
    import shutil

    from evm_indexer_spark.sources.rawgen import write_landing_files
    from evm_indexer_spark.streaming.ingest import start_ingest_stream
    from evm_indexer_spark.streaming.txstore import AtomicBlockStore

    times = []
    n = 0
    for _ in range(2):
        root = tempfile.mkdtemp(prefix="bench_ingest_")
        try:
            landing = os.path.join(root, "landing")
            write_landing_files(landing, INGEST_BLOCKS, n_files=8)
            store = AtomicBlockStore(spark, os.path.join(root, "store"))
            t0 = time.perf_counter()
            q = start_ingest_stream(
                spark, landing, store, os.path.join(root, "ckpt")
            )
            q.awaitTermination(600)
            times.append(time.perf_counter() - t0)
            n = store.blocks().count()
        finally:
            shutil.rmtree(root, ignore_errors=True)
    return times[0], times[1], n


def main_serving() -> None:
    """Steady-state ANN serving benchmark (``bench.py --serving``):
    the per-query-retrain critique of q79 is answered by
    ``IvfServingIndex`` — build once, serve many — and this mode turns
    that claim into a committed number. Build + load an IVF-PQ index
    at $SPARK_GRAFT_SERVING_SF_DIR (default the sf1 fixture, 20k x 64
    vectors), then measure: per-query topk / topk_pq latency (p50/p95
    over a seeded batch of perturbed-corpus queries, collect()
    included — the realistic serving action), append / delete
    throughput, compact time, and a post-maintenance correctness spot
    (deleted ids absent, k rows returned). Prints ONE JSON line
    (commit as BENCH_serving_r<N>.json)."""
    import shutil
    import statistics

    import numpy as np

    sf_dir = os.environ.get(
        "SPARK_GRAFT_SERVING_SF_DIR", "/root/repo/testdata_sf1"
    )
    n_queries = int(os.environ.get("SPARK_GRAFT_SERVING_QUERIES", "50"))
    try:
        loadavg_start = [round(x, 2) for x in os.getloadavg()]
    except OSError:
        loadavg_start = None
    spark = get_spark(
        "evm-indexer-spark-bench-serving",
        extra_conf={"spark.ui.showConsoleProgress": "false"},
    )
    root = tempfile.mkdtemp(prefix="bench_serving_")
    try:
        from pyspark.sql import functions as F

        from evm_indexer_spark.operators.similarity import IvfServingIndex

        emb = spark.read.parquet(os.path.join(sf_dir, "embeddings.parquet"))
        n_corpus = emb.count()
        path = os.path.join(root, "ivf")

        t0 = time.perf_counter()
        idx = IvfServingIndex.build(
            emb, "vec_id", "embedding", path, n_lists=16, pq_subspaces=8
        )
        build_s = time.perf_counter() - t0

        t0 = time.perf_counter()
        idx = IvfServingIndex.load(spark, path)
        load_s = time.perf_counter() - t0

        # seeded query batch: perturbed corpus vectors (realistic: near
        # but not equal to stored rows)
        rng = np.random.default_rng(13)
        base = (
            emb.orderBy("vec_id").limit(n_queries).collect()
        )
        queries = [
            (np.array(r["embedding"], dtype=np.float64)
             + rng.normal(0, 0.05, len(r["embedding"]))).tolist()
            for r in base
        ]
        # warmup: the first query pays Python-runner/codegen startup
        idx.topk(queries[0], k=10).collect()
        idx.topk_pq(queries[0], k=10).collect()

        lat_exact, lat_pq = [], []
        for q in queries:
            t0 = time.perf_counter()
            rows = idx.topk(q, k=10, nprobe=4).collect()
            lat_exact.append(time.perf_counter() - t0)
            assert len(rows) == 10
            t0 = time.perf_counter()
            rows = idx.topk_pq(q, k=10, nprobe=4).collect()
            lat_pq.append(time.perf_counter() - t0)
            assert len(rows) == 10

        def pct(xs, p):
            xs = sorted(xs)
            return round(xs[min(len(xs) - 1, int(p * len(xs)))], 4)

        # arrival throughput: one appended batch of new ids
        n_append = min(5000, n_corpus)
        arrivals = emb.limit(n_append).select(
            (F.col("vec_id") + 10_000_000).alias("vec_id"), "embedding"
        )
        t0 = time.perf_counter()
        idx.append(arrivals, "vec_id", "embedding", batch_id=1)
        append_s = time.perf_counter() - t0

        # retraction: tombstone 1000 of the appended ids, prove they
        # stop serving, then compact and re-check
        dels = [10_000_000 + i for i in range(1000)]
        t0 = time.perf_counter()
        idx.delete(dels)
        delete_s = time.perf_counter() - t0
        served = idx.topk(queries[0], k=10, nprobe=16).collect()
        assert all(r["id"] not in set(dels[:50]) for r in served)
        t0 = time.perf_counter()
        folded = idx.compact()
        compact_s = time.perf_counter() - t0
        post = idx.topk_pq(queries[0], k=10, nprobe=4).collect()
        assert len(post) == 10

        metrics = {
            "metric": "ann_serving",
            "sf_dir": sf_dir,
            "corpus_rows": n_corpus,
            "n_lists": 16,
            "pq_subspaces": 8,
            "build_sec": round(build_s, 3),
            "load_sec": round(load_s, 4),
            "n_queries": n_queries,
            "topk_p50_sec": pct(lat_exact, 0.50),
            "topk_p95_sec": pct(lat_exact, 0.95),
            "topk_pq_p50_sec": pct(lat_pq, 0.50),
            "topk_pq_p95_sec": pct(lat_pq, 0.95),
            "append_rows": n_append,
            "append_rows_per_sec": round(n_append / append_s, 1),
            "delete_ids": len(dels),
            "delete_sec": round(delete_s, 3),
            "compact_sec": round(compact_s, 3),
            "compact_folded_batches": folded,
        }
        try:
            metrics["loadavg"] = [round(x, 2) for x in os.getloadavg()]
        except OSError:
            pass
        if loadavg_start is not None:
            metrics["loadavg_start"] = loadavg_start
        print()
        print(json.dumps(metrics, separators=(",", ":")), flush=True)
    finally:
        shutil.rmtree(root, ignore_errors=True)
        spark.stop()


def main_latency() -> None:
    """Notification-path latency (``bench.py --latency``): header file
    lands → RESP 'block' notification received by a subscriber,
    through the full ingest→store→publish-once pipeline on a LIVE
    stream (processingTime=0 trigger, the reference's continuously
    running listener shape). Ingest THROUGHPUT is committed separately
    (bench_ingest); this measures the per-arrival LATENCY a consumer
    sees — the reference's real-time claim. Prints ONE JSON line
    (commit as BENCH_latency_r<N>.json).

    Method: prefill the stream to steady state (store, publish log,
    codegen and file-index warm), then land N single-block files one
    at a time, stamping t0 at the file write and t1 when the
    subscriber's 'block' channel yields that block's notification.
    The latency includes Spark's file-source discovery poll, the
    micro-batch (normalize → dedup → upsert → publish-once anti-join),
    and broker delivery — the end-to-end number."""
    import json as _json
    import shutil

    from evm_indexer_spark.sources.rawgen import raw_block_doc
    from evm_indexer_spark.sources.rawgen import write_landing_files
    from evm_indexer_spark.streaming.ingest import start_ingest_stream
    from evm_indexer_spark.streaming.resp import RespBroker, RespClient
    from evm_indexer_spark.streaming.resp import make_resp_publisher
    from evm_indexer_spark.streaming.txstore import AtomicBlockStore

    n_probe = int(os.environ.get("SPARK_GRAFT_LATENCY_PROBES", "25"))
    prefill = int(os.environ.get("SPARK_GRAFT_LATENCY_PREFILL", "200"))
    # commit mode for the latency leg: a COW commit rewrites every
    # touched bucket per micro-batch — read-modify-write of the
    # whole bucket for a single arriving block, the dominant leg of the
    # round-14 profile (upsert median 2.45s of the 3.97s p50). The MOR
    # delta mode (commit_mode="delta") appends
    # O(batch) delta objects instead and merges on read — the
    # archetypal low-latency arrival trade. Default measures the MOR
    # path (the architecture's answer for this workload); set
    # SPARK_GRAFT_LATENCY_STORE=cow to measure the scan-optimized one.
    store_mode = os.environ.get("SPARK_GRAFT_LATENCY_STORE", "delta")
    try:
        loadavg_start = [round(x, 2) for x in os.getloadavg()]
    except OSError:
        loadavg_start = None
    jiffies_start = _cpu_jiffies()
    spark = get_spark(
        "evm-indexer-spark-bench-latency",
        extra_conf={"spark.ui.showConsoleProgress": "false"},
    )
    broker = RespBroker().start()
    root = tempfile.mkdtemp(prefix="bench_latency_")
    q = None
    try:
        landing = os.path.join(root, "landing")
        write_landing_files(landing, prefill, n_files=8)
        store = AtomicBlockStore(
            spark,
            os.path.join(root, "store"),
            commit_mode="cow" if store_mode == "cow" else "delta",
        )
        print(f"  latency: store ready ({store_mode}), subscribing",
              file=sys.stderr, flush=True)
        sub = RespClient("127.0.0.1", broker.port)
        sub.subscribe("block")
        print("  latency: starting stream", file=sys.stderr, flush=True)
        leg_samples: list[dict] = []
        q = start_ingest_stream(
            spark,
            landing,
            store,
            os.path.join(root, "ckpt"),
            publish=make_resp_publisher("127.0.0.1", broker.port),
            trigger={"processingTime": "0 seconds"},
            on_timing=leg_samples.append,
        )

        def drain_until(number: int, timeout_s: float) -> float | None:
            """Read 'block' messages until *number* appears; returns
            the perf_counter stamp of its arrival."""
            deadline = time.perf_counter() + timeout_s
            while time.perf_counter() < deadline:
                msg = sub.get_message(timeout=0.05)
                if msg is None:
                    continue
                try:
                    payload = _json.loads(msg["data"])
                except (ValueError, KeyError, TypeError):
                    continue
                if int(payload.get("number", -1)) == number:
                    return time.perf_counter()
            return None

        print("  latency: draining prefill", file=sys.stderr, flush=True)
        assert drain_until(prefill - 1, 120.0) is not None, (
            "prefill notifications never drained"
        )
        print("  latency: steady state, probing", file=sys.stderr,
              flush=True)
        lats = []
        for i in range(n_probe):
            n = prefill + i
            path = os.path.join(landing, f"probe{n}.json")
            tmp = path + ".tmp"
            with open(tmp, "w") as fh:
                fh.write(_json.dumps(raw_block_doc(n)) + "\n")
            t0 = time.perf_counter()
            os.rename(tmp, path)  # atomic appearance = the land instant
            t1 = drain_until(n, 60.0)
            assert t1 is not None, f"no notification for block {n}"
            lats.append(t1 - t0)

        def pct(xs, p):
            xs = sorted(xs)
            return round(xs[min(len(xs) - 1, int(p * len(xs)))], 4)

        # leg decomposition (round-15 directive #4): driver-side batch
        # legs from the on_timing hook (upsert / fresh anti-join+
        # checkpoint / publish jobs / publish-log append) over the
        # probe-era batches, plus the source-side legs from Spark's
        # own StreamingQueryProgress (latestOffset ≈ discovery poll,
        # addBatch = whole batch execution, triggerExecution = the
        # full trigger). Probe-era only: the prefill's big batches
        # would skew every leg.
        import statistics as _stats

        probe_legs = leg_samples[-n_probe:] if leg_samples else []
        legs = {}
        for key in ("upsert", "fresh", "publish", "mark", "overlapped"):
            vals = [s[key] for s in probe_legs if key in s]
            if vals:
                legs[f"{key}_median_sec"] = round(_stats.median(vals), 4)
        durs: dict[str, list[float]] = {}
        for p in q.recentProgress or []:
            if not isinstance(p, dict):  # StreamingQueryProgress object
                try:
                    p = _json.loads(p.json)
                except (AttributeError, ValueError, TypeError):
                    continue
            for k, v in (p.get("durationMs") or {}).items():
                durs.setdefault(k, []).append(v / 1000.0)
        for k, vals in durs.items():
            if vals:
                legs[f"progress_{k}_median_sec"] = round(
                    _stats.median(vals), 4
                )

        metrics = {
            "metric": "notify_latency",
            "unit": "sec",
            "pipeline": "land->ingest->store->publish-once->resp",
            "store_mode": store_mode,
            "prefill_blocks": prefill,
            "n_probes": n_probe,
            "latency_p50_sec": pct(lats, 0.50),
            "latency_p95_sec": pct(lats, 0.95),
            "latency_min_sec": round(min(lats), 4),
            "latency_max_sec": round(max(lats), 4),
            "legs": legs,
        }
        try:
            metrics["loadavg"] = [round(x, 2) for x in os.getloadavg()]
        except OSError:
            pass
        if loadavg_start is not None:
            metrics["loadavg_start"] = loadavg_start
        steal = _steal_pct(jiffies_start, _cpu_jiffies())
        if steal is not None:
            metrics["cpu_steal_pct"] = steal
        metrics["contaminated"] = contamination_verdict(steal)
        print()
        print(json.dumps(metrics, separators=(",", ":")), flush=True)
    finally:
        if q is not None:
            try:
                q.stop()
            except Exception:
                pass
        shutil.rmtree(root, ignore_errors=True)
        spark.stop()


def _cpu_jiffies() -> list[int] | None:
    """First /proc/stat line (user nice system idle iowait irq softirq
    steal ...). Basis for the in-run STEAL measurement: this box is a
    VM whose host oversubscription (round-13 find: 8.7% steal under a
    full-width burst while loadavg read 0.02) inflates both engines
    20-40% with NO loadavg signature — the only way to prove a clean
    run from the committed artifact is to record the steal fraction
    across the run itself."""
    try:
        with open("/proc/stat") as f:
            return [int(x) for x in f.readline().split()[1:]]
    except (OSError, ValueError):
        return None


def _steal_pct(a: list[int] | None, b: list[int] | None) -> float | None:
    """Steal as % of DEMANDED cpu (non-idle, non-iowait jiffies) over
    the interval — >~3% means the host was contended and absolute
    timings from the run are inflated."""
    if not a or not b or len(a) < 8 or len(b) < 8:
        return None
    d = [y - x for x, y in zip(a, b)]
    demanded = sum(d) - d[3] - d[4]  # minus idle, iowait
    # a near-idle interval has a degenerate denominator (2 stolen of 3
    # demanded jiffies reads as 66%); the metric is only meaningful
    # over a CPU-heavy interval like the bench run itself
    return round(100.0 * d[7] / demanded, 2) if demanded >= 500 else None


def main() -> None:
    # loadavg BEFORE the bench's own 32 threads inflate it — the value
    # that actually proves a quiet window from the committed artifact
    # alone (the end-of-run field only shows the bench's own load)
    try:
        loadavg_start = [round(x, 2) for x in os.getloadavg()]
    except OSError:
        loadavg_start = None
    # RE-ARM instead of proceed-and-label (round-15 directive #8:
    # BENCH_r15 started above the gate and shipped gate_load_breach
    # true): wait out a loud window in bounded 30 s steps, re-reading
    # loadavg, then proceed either way with the LAST sample recorded —
    # the artifact still self-labels honestly if the wait expires
    rearm_wait = 0.0
    while (
        loadavg_start is not None
        and gate_load_breach(loadavg_start)
        and rearm_wait < 600.0
    ):
        print(
            f"  loadavg {loadavg_start} above gate — re-arming 30s "
            f"(waited {rearm_wait:.0f}s)",
            file=sys.stderr,
        )
        time.sleep(30)
        rearm_wait += 30.0
        try:
            loadavg_start = [round(x, 2) for x in os.getloadavg()]
        except OSError:
            loadavg_start = None
    jiffies_start = _cpu_jiffies()
    # the console progress bar interleaves \r frames with stdout, which
    # is what corrupted the driver-parsed JSON line in BENCH_r01-r03
    spark = get_spark(
        "evm-indexer-spark-bench",
        extra_conf={"spark.ui.showConsoleProgress": "false"},
    )
    try:
        sf_label = os.path.basename(SF_DIR.rstrip("/")).replace("sf", "")
        try:
            sf = float(sf_label)
        except ValueError:
            sf = sf_label

        # warmup: touch the IO + codegen paths AND spin up the Arrow
        # python-worker pool once, so per-query numbers are steady-state
        # engine throughput rather than one-time process startup
        spark.read.parquet(os.path.join(SF_DIR, "region.parquet")).count()
        from pyspark.sql import functions as F
        from pyspark.sql.functions import pandas_udf

        @pandas_udf("long")
        def _warm(s):
            return s

        spark.range(64).select(_warm(F.col("id"))).count()

        # q84's two-commit AtomicBlockStore is a one-time ON-DISK
        # fixture (memoized per fixture stamp — the persisted snapshots
        # ARE the queried entity); materialize it here and report its
        # seconds separately, so q84's timed runs measure the read
        # plan, not store setup (round-15 directive #8: BENCH_r15's
        # q84 cold was 5.58s of which ~5.4s was this build). Disclosed
        # measurement fix; the timed methodology for every entry is
        # otherwise unchanged.
        t84 = time.perf_counter()
        driver_queries.queries()["q84_snapshot_time_travel"](spark, SF_DIR)
        q84_store_build = round(time.perf_counter() - t84, 4)

        def sweep(attempt: int) -> dict:
            """One full catalog + oracle pass with its OWN steal window
            — the interval the committed per-query numbers actually
            came from, so a retry can supersede a contaminated attempt
            with a provably cleaner one."""
            j0 = _cpu_jiffies()
            timings: dict[str, float] = {}
            warm: dict[str, float] = {}
            total = 0.0
            warm_total = 0.0
            for name, fn in sorted(driver_queries.queries().items()):
                runs = []
                for _ in range(REPEATS):
                    t0 = time.perf_counter()
                    df = fn(spark, SF_DIR)
                    # force full execution without driver-side result
                    # transfer
                    df.write.format("noop").mode("overwrite").save()
                    runs.append(time.perf_counter() - t0)
                timings[name] = round(runs[0], 4)
                total += runs[0]
                if len(runs) > 1:
                    warm[name] = round(min(runs[1:]), 4)
                    warm_total += warm[name]
                print(
                    f"  {name}: cold={runs[0]:.3f}s"
                    + (f" warm={warm[name]:.3f}s" if name in warm else ""),
                    file=sys.stderr,
                )
                # entries that persist intermediates (q79's shared
                # encode pass) would otherwise accumulate cached blocks
                # across the sweep; clearing OUTSIDE the timers keeps
                # each entry's number self-contained without touching
                # warm runs (every invocation builds its own plan)
                spark.catalog.clearCache()
            duck_total, duck_timings = bench_duckdb_oracles()
            print(
                f"  duckdb oracle total ({len(duck_timings)} queries): "
                f"{duck_total:.2f}s [attempt {attempt}]",
                file=sys.stderr,
            )
            return {
                "timings": timings,
                "warm": warm,
                "total": total,
                "warm_total": warm_total,
                "duck_total": duck_total,
                "duck_timings": duck_timings,
                "steal": _steal_pct(j0, _cpu_jiffies()),
            }

        # bounded in-bench retry (round-15 directive): when the sweep's
        # own steal window exceeds the contamination threshold, re-run
        # the whole catalog+oracle sweep ONCE — the driver's artifact
        # self-labeled contaminated two rounds running on transient
        # host contention; a second attempt lets it self-heal. Both
        # attempts' steal land in the artifact.
        att = sweep(1)
        attempt_steals = [att["steal"]]
        if contamination_verdict(att["steal"]):
            print(
                f"  attempt 1 contaminated ({att['steal']}% in-sweep "
                "steal > threshold) — retrying the sweep once",
                file=sys.stderr,
            )
            att = sweep(2)
            attempt_steals.append(att["steal"])
        timings = att["timings"]
        warm = att["warm"]
        total = att["total"]
        warm_total = att["warm_total"]
        duck_total = att["duck_total"]
        duck_timings = att["duck_timings"]
        ingest_cold_s, ingest_s, ingest_n = bench_ingest(spark)
        print(
            f"  ingest: {ingest_n} blocks in {ingest_s:.2f}s = "
            f"{ingest_n / ingest_s:.1f} blocks/s steady "
            f"(cold {ingest_n / ingest_cold_s:.1f}; reference: 23.2)",
            file=sys.stderr,
        )
        # oracle-covered subset totals, so warm-vs-duckdb compares the
        # SAME query set (no-oracle entries have no DuckDB counterpart)
        warm_oracle_subset = sum(
            v for k, v in warm.items() if k in duck_timings
        )
        metrics = {
            "metric": "catalog_total_runtime",
            "value": round(total, 4),
            "unit": "sec",
            "queries": timings,
            "sf": sf,
            "queries_warm": warm,
            "warm_total_sec": round(warm_total, 4),
            "duckdb_oracle_total_sec": round(duck_total, 4),
            "queries_duckdb": duck_timings,
            "warm_oracle_subset_sec": round(warm_oracle_subset, 4),
            "warm_vs_duckdb_ratio": round(warm_oracle_subset / duck_total, 2)
            if duck_total
            else None,
            "ingest_blocks_per_sec": round(ingest_n / ingest_s, 1),
            "ingest_cold_blocks_per_sec": round(ingest_n / ingest_cold_s, 1),
            "ingest_blocks": ingest_n,
        }
        try:  # machine-readable bench-window context (1/5/15 min)
            metrics["loadavg"] = [round(x, 2) for x in os.getloadavg()]
        except OSError:
            pass
        if loadavg_start is not None:
            metrics["loadavg_start"] = loadavg_start
        # cpu_steal_pct is the steal across the USED sweep — the
        # window the committed per-query numbers came from (a healed
        # retry must not stay labeled by attempt 1's contention);
        # the full-process figure and every attempt's figure are kept
        # alongside for the chain of custody
        steal = att["steal"]
        full_steal = _steal_pct(jiffies_start, _cpu_jiffies())
        if steal is not None:
            metrics["cpu_steal_pct"] = steal
        if full_steal is not None:
            metrics["cpu_steal_pct_full_run"] = full_steal
        metrics["attempt_steal_pcts"] = attempt_steals
        metrics["retried"] = len(attempt_steals) > 1
        metrics["steal_contamination_threshold_pct"] = (
            STEAL_CONTAMINATION_PCT
        )
        metrics["contaminated"] = contamination_verdict(steal)
        # chain of custody for the window gate (round-14 VERDICT nit):
        # the gate's own pre-exec loadavg rides in via env so the
        # committed artifact shows BOTH readings, and the bench
        # re-checks its own start loadavg against the gate thresholds
        # and self-labels a breach instead of leaving the two readings
        # to disagree unexplained
        gate_env = os.environ.get("SPARK_GRAFT_GATE_LOADAVG")
        if gate_env:
            try:
                metrics["gate_loadavg"] = [
                    round(float(x), 2) for x in gate_env.split(",")
                ]
            except ValueError:
                pass
        metrics["gate_load_breach"] = gate_load_breach(loadavg_start)
        if rearm_wait:
            metrics["gate_rearm_wait_sec"] = rearm_wait
        # one-time on-disk snapshot-store materialization, reported
        # apart from q84's timed read plan (round-15 directive #8)
        metrics["q84_store_build_sec"] = q84_store_build
        line = json.dumps(metrics)
        # the driver keeps only the LAST 2000 CHARS of stdout and
        # json-parses them — the full metrics object is ~5 KB, so every
        # BENCH_r*.json through r8 recorded a truncated tail with
        # parsed: null. stdout therefore gets a COMPACT line (short
        # query keys, warm seconds, 2 decimals — ~1.1 KB for 65
        # entries) that fits the window whole; the full object still
        # lands in bench_out.json for ratio audits.
        compact = {
            "metric": "catalog_total_runtime",
            "value": round(total, 4),
            "unit": "sec",
            "sf": sf,
            # qNN short keys; warm seconds (cold for single-run mode)
            "queries": {
                name.split("_", 1)[0]: round(warm.get(name, timings[name]), 2)
                for name in timings
            },
            "warm_total_sec": round(warm_total, 2),
            "duckdb_oracle_total_sec": round(duck_total, 2),
            "warm_oracle_subset_sec": round(warm_oracle_subset, 2),
            "warm_vs_duckdb_ratio": metrics["warm_vs_duckdb_ratio"],
            "ingest_blocks_per_sec": metrics["ingest_blocks_per_sec"],
            "detail": "bench_out.json",
        }
        try:  # bench-window context: was the machine quiet?
            compact["loadavg"] = [round(x, 2) for x in os.getloadavg()]
        except OSError:
            pass
        if loadavg_start is not None:
            compact["loadavg_start"] = loadavg_start
        if steal is not None:
            compact["cpu_steal_pct"] = steal
        compact["attempt_steal_pcts"] = attempt_steals
        compact["retried"] = metrics["retried"]
        compact["contaminated"] = metrics["contaminated"]
        compact["gate_load_breach"] = metrics["gate_load_breach"]
        if rearm_wait:
            compact["gate_rearm_wait_sec"] = rearm_wait
        compact["q84_store_build_sec"] = round(q84_store_build, 2)
        compact_line = json.dumps(compact, separators=(",", ":"))
        if len(compact_line) > 1900:  # keep headroom under the 2000-char tail
            # flag the drop so a scraped record with no per-query data
            # reads as truncated, not as an empty run
            compact["queries"] = {}
            compact["queries_truncated"] = True
            compact_line = json.dumps(compact, separators=(",", ":"))
        with open(
            os.path.join(os.path.dirname(os.path.abspath(__file__)),
                         "bench_out.json"), "w"
        ) as fh:
            fh.write(line + "\n")
        sys.stderr.flush()
        print()
        print(compact_line, flush=True)
    finally:
        spark.stop()


if __name__ == "__main__":
    if "--serving" in sys.argv[1:]:
        main_serving()
    elif "--latency" in sys.argv[1:]:
        main_latency()
    else:
        main()
