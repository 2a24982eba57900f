"""``rest_history``: one closed-loop client against the HTTP server over
the default-argument ``AtomicBlockStore``.

Set-up backfills the store through ``start_ingest_stream`` (availableNow)
with the RESP publisher attached and a filtered subscriber listening, so
the write and notify path runs once per run and every delivery is checked
exactly once; it then checks the store, and warms the read path with one
whole request cycle.
The window replays the seeded round-robin schedule (``schedule.CYCLE``)
and checks every response.
"""

from __future__ import annotations

import http.client
import json
import os
import statistics
import threading
import time

import harness
import stats
from chain import Chain
from schedule import CYCLE, check, rest_schedule
from spans import Tracer, sql_metrics

N_BLOCKS = 300
BACKFILL_FILES = 8
WARM_CYCLES = 1


class Subscriber:
    """One RESP consumer holding *names*, the reference's kinds of
    subscription. The names pass through ``subscribe.SubscriptionManager``
    and ``parse_filters``; the consumer drains through
    ``resp.consume_loop``, which matches payloads with ``py_tx_match`` and
    ``py_event_match``. Counts every delivery by (name, entity)."""

    def __init__(self, port: int, names: list[str]) -> None:
        from evm_indexer_spark.streaming.resp import RespClient
        from evm_indexer_spark.streaming.subscribe import SubscriptionManager, parse_filters

        manager = SubscriptionManager()
        self.name_of: dict[str, str] = {}  # consume_loop's pattern -> name
        self.patterns: dict[str, list[str]] = {}  # channel -> patterns
        for name in names:
            if manager.subscribe(name)["code"] != 1:
                raise ValueError(f"subscription refused: {name}")
            root, segs = parse_filters(name)
            pattern = "/".join([root, *segs])
            self.name_of[pattern] = name
            self.patterns.setdefault(root, []).append(pattern)
        self.client = RespClient("127.0.0.1", port)
        self.client.subscribe(*self.patterns)
        self.seen: dict[tuple, int] = {}
        self.stop = False
        self.thread = threading.Thread(target=self._loop, daemon=True)
        self.thread.start()

    def _deliver(self, pattern: str, channel: str, p: dict) -> None:
        entity = (p["txHash"], p["index"]) if channel == "event" else p["hash"]
        key = (self.name_of[pattern], entity)
        self.seen[key] = self.seen.get(key, 0) + 1

    def _loop(self) -> None:
        from evm_indexer_spark.streaming.resp import consume_loop

        while not self.stop:
            consume_loop(self.client, self.patterns, self._deliver, max_messages=1, poll_seconds=0.1)

    def close(self) -> None:
        self.stop = True
        self.thread.join()
        self.client.close()


def subscriptions(chain: Chain) -> dict[str, set]:
    """Each subscription the subscriber holds -> the entities it must be
    delivered (block or tx hash, or (tx hash, log index)), from the chain
    model: every block, transactions from one account or to another,
    events from one contract or with one topic0."""
    a_from, a_to, contract, sig = chain.accounts[0], chain.accounts[1], chain.contracts[0], chain.sigs[0]
    return {
        "block": {b.hash for b in chain.blocks},
        f"transaction/{a_from}": {tx.hash for tx in chain.txs if tx.frm == a_from},
        f"transaction/*/{a_to}": {tx.hash for tx in chain.txs if tx.to == a_to},
        f"event/{contract}": {(lg.tx.hash, lg.index) for lg in chain.logs if lg.origin == contract},
        f"event/*/{sig}": {(lg.tx.hash, lg.index) for lg in chain.logs if lg.topics[0] == sig},
    }


def backfill(spark, work: str, chain: Chain, on_timing=None) -> tuple[object, bool, dict]:
    """Land the chain, ingest it with notifications on, and check that
    the subscriber got every delivery it should exactly once and nothing
    else. Returns the store, the check, and the ``durationMs`` of the
    micro-batch that carried the chain."""
    from evm_indexer_spark.streaming.ingest import start_ingest_stream
    from evm_indexer_spark.streaming.resp import RespBroker, make_resp_publisher
    from evm_indexer_spark.streaming.txstore import AtomicBlockStore

    landing = os.path.join(work, "landing")
    chain.write_landing(landing, BACKFILL_FILES)
    store = AtomicBlockStore(spark, os.path.join(work, "store"))
    broker = RespBroker().start()
    subs = subscriptions(chain)
    sub = Subscriber(broker.port, list(subs))
    try:
        q = start_ingest_stream(
            spark, landing, store, os.path.join(work, "ckpt"),
            publish=make_resp_publisher("127.0.0.1", broker.port),
            on_timing=on_timing,
        )
        q.awaitTermination()
        progress = max((json.loads(p.json) for p in q.recentProgress),
                       key=lambda p: p.get("numInputRows", 0))
        want = {(name, entity) for name, entities in subs.items() for entity in entities}
        deadline = time.perf_counter() + 30
        while len(sub.seen) < len(want) and time.perf_counter() < deadline:
            time.sleep(0.05)
        time.sleep(0.2)  # a duplicate would arrive right behind the original
    finally:
        sub.close()
        broker.stop()
    ok = set(sub.seen) == want and all(v == 1 for v in sub.seen.values())
    return store, ok, progress["durationMs"]


def store_ok(store, chain: Chain) -> bool:
    q = store.historical_queries()
    return (
        q.blocks.count() == len(chain.blocks)
        and q.transactions.count() == len(chain.txs)
        and q.events.count() == len(chain.logs)
    )


class Client:
    """One closed-loop client on one HTTP connection (the server speaks
    HTTP/1.0, so ``http.client`` reopens the socket after each reply)."""

    def __init__(self, port: int) -> None:
        self.conn = http.client.HTTPConnection("127.0.0.1", port, timeout=120)

    def send(self, req: dict) -> tuple[float, bool]:
        headers = {"Content-Type": "application/json"} if req["body"] else {}
        t = time.perf_counter()
        try:
            self.conn.request(req["method"], req["path"], body=req["body"], headers=headers)
            resp = self.conn.getresponse()
            raw = resp.read()
            dt = time.perf_counter() - t
            ok = check(req, resp.status, json.loads(raw) if raw else {})
        except (OSError, http.client.HTTPException, ValueError):
            self.conn.close()
            return time.perf_counter() - t, False
        return dt, ok

    def close(self) -> None:
        self.conn.close()


def warm_up(client: Client, reqs: list[dict]) -> tuple[int, bool]:
    """Replay ``WARM_CYCLES`` whole cycles; returns (requests used, all
    correct). CPU per cycle fell from 22 s cold to 12 s in the next cycle
    and kept falling for ten cycles (to ~7 s, 4-core VM) as the JVM
    compiled hot code, so a stop-when-flat rule would not end inside the
    run budget; a fixed length keeps the residual drift the same on every
    run."""
    used = WARM_CYCLES * len(CYCLE)
    return used, all([client.send(req)[1] for req in reqs[:used]])


def run(seed: int, seconds: float, traced: bool, t_start: float, work: str) -> dict:
    from evm_indexer_spark.graphql import GraphQLResolvers
    from evm_indexer_spark.server import make_server

    spark = harness.start_spark(work)
    server = None
    traced_res = layers = None
    try:
        chain = Chain(seed, N_BLOCKS)
        legs: list[dict] = []
        store, notify_ok, durations = backfill(spark, work, chain, on_timing=legs.append)
        setup_ok = notify_ok and store_ok(store, chain)
        facade = store.rest_facade()
        resolvers = GraphQLResolvers(store.historical_queries())
        server = make_server(facade, resolvers)
        threading.Thread(target=server.serve_forever, daemon=True).start()
        client = Client(server.server_address[1])
        # enough requests for warm-up and two windows (the traced run's) at any speed seen
        reqs = rest_schedule(chain, seed, len(CYCLE) * (WARM_CYCLES + 4 * int(seconds) + 10))
        used, warm_ok = warm_up(client, reqs)
        setup_ok &= warm_ok
        setup = harness.setup_cost(t_start)

        plain = measure(client, reqs[used:], seconds)
        if traced:
            tracer = _trace(spark, facade, resolvers)
            first_exec = tracer.executions()
            traced_res = measure(client, reqs[used + plain["ops"]:], seconds, tracer)
            layers = _layers(traced_res, tracer, legs, durations, sql_metrics(tracer, first_exec))
        client.close()
    finally:
        if server is not None:
            server.shutdown()
            server.server_close()
        harness.stop_spark(spark)
    return harness.report(seed, setup, setup_ok, plain, traced_res, layers)


def measure(client: Client, reqs: list[dict], seconds: float, tracer=None) -> dict:
    """Replay *reqs* in whole cycles until *seconds* have passed and the
    median has its samples, so every window holds one request of each
    class per cycle. With a *tracer*,
    also read the process tree's CPU time around each request."""
    lat, cpu, ok_flags, classes = [], [], [], []
    with harness.Window() as w:
        deadline = w.t0 + seconds
        for i, req in enumerate(reqs):
            if (i % len(CYCLE) == 0 and i >= stats.min_samples(0.5)
                    and time.perf_counter() >= deadline):
                break
            if tracer is not None:
                tracer.begin(i)
                cpu0 = stats.tree_cpu_s()
            dt, ok = client.send(req)
            if tracer is not None:
                cpu.append(1000.0 * (stats.tree_cpu_s() - cpu0))
            lat.append(1000.0 * dt)
            ok_flags.append(ok)
            classes.append(req["cls"])
        else:
            raise RuntimeError("request schedule ran out before the window closed")
    return {"ops": len(lat), "failed": ok_flags.count(False), "lat_ms": lat, "cpu_ms": cpu,
            "classes": classes, "window": w}


def _trace(spark, facade, resolvers):
    tracer = Tracer(spark)
    for name in ("block", "transaction", "event"):
        tracer.wrap(facade, name, "api", job_group=True)
    for name in dir(type(resolvers)):
        if not name.startswith("_") and callable(getattr(resolvers, name)):
            tracer.wrap(resolvers, name, "api", job_group=True)
    tracer.wrap_all(facade.q, "get_", "historical.plan")
    tracer.wrap_all(resolvers.q, "get_", "historical.plan")
    tracer.wrap(facade.hash_index, "bucket_of_hash", "hashidx.lookup")
    return tracer


def _layers(r: dict, tracer, legs: list[dict], durations: dict, sql: dict) -> dict:
    ops = list(range(r["ops"]))
    api = tracer.per_op_ms("api", ops)
    jobs, stages, tasks = tracer.spark_counts(ops)
    hash_ops = [op for op in ops if op in tracer.spans["hashidx.lookup"]]
    out = {
        "server.self_ms": (statistics.median(t - a for t, a in zip(r["lat_ms"], api)), "ms"),
        "api.call_ms": (statistics.median(api), "ms"),
        "historical.plan_ms": (tracer.median_ms("historical.plan", ops), "ms"),
        "hashidx.lookup_ms": (tracer.median_ms("hashidx.lookup", hash_ops), "ms"),
        "spark.jobs_per_op": (jobs, "count"),
        "spark.stages_per_op": (stages, "count"),
        "spark.tasks_per_op": (tasks, "count"),
    }
    for name, total in sql.items():
        out[name] = (total / r["ops"], "")
    for cls in CYCLE:
        mine = [i for i, c in enumerate(r["classes"]) if c == cls]
        out[f"api.{cls}.p50_ms"] = (statistics.median(r["lat_ms"][i] for i in mine), "ms")
        out[f"api.{cls}.cpu_ms"] = (statistics.fmean(r["cpu_ms"][i] for i in mine), "ms")
    # the backfill's single micro-batch: the write and notify path's legs
    if legs:
        for name, key in (("store.upsert_ms", "upsert"), ("ingest.fresh_ms", "fresh"),
                          ("publish.send_ms", "publish"), ("ingest.mark_ms", "mark")):
            out[name] = (1000.0 * legs[-1][key], "ms")
    for name, key in (("ingest.poll_ms", "latestOffset"), ("ingest.batch_ms", "addBatch"),
                      ("ingest.trigger_ms", "triggerExecution")):
        out[name] = (float(durations.get(key, 0)), "ms")
    return out
