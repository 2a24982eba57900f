"""RESP pub/sub transport: wire codec, broker/client roundtrip, consumer
delivery with T9/T10 matching, and python-vs-Column matcher parity."""

from __future__ import annotations

import io
import json

import pytest

from evm_indexer_spark.streaming.resp import (
    RespBroker,
    RespClient,
    consume_loop,
    py_event_match,
    py_tx_match,
    resp_decode,
    resp_encode,
)


def test_resp_codec_roundtrip():
    for val in [0, 42, b"", b"payload", ["SUBSCRIBE", b"block"], [b"a", 1, [b"b"]]]:
        rf = io.BufferedReader(io.BytesIO(resp_encode(val)))
        got = resp_decode(rf)
        norm = lambda x: (
            [norm(i) for i in x] if isinstance(x, list)
            else x.encode() if isinstance(x, str) else x
        )
        assert norm(got) == norm(val)


@pytest.fixture()
def broker():
    b = RespBroker().start()
    yield b
    b.stop()


def test_publish_subscribe_roundtrip(broker):
    sub = RespClient(broker.host, broker.port)
    pub = RespClient(broker.host, broker.port)
    assert pub.ping()
    sub.subscribe("block")
    assert pub.publish("block", b'{"number": 7}') == 1
    msg = sub.get_message(timeout=5)
    assert msg == {"channel": "block", "data": b'{"number": 7}'}
    # no subscriber on other channels
    assert pub.publish("transaction", b"{}") == 0
    # timeout returns None, connection stays usable
    assert sub.get_message(timeout=0.1) is None
    assert pub.publish("block", b"x") == 1
    assert sub.get_message(timeout=5)["data"] == b"x"
    sub.close(), pub.close()


def test_consumer_loop_matching_fanout(broker):
    """README's four demo subscription shapes, driven over the real
    transport: wildcard tx, fixed-pair tx, wildcard event, topic-pinned
    event (README.md:560-689 examples)."""
    sub = RespClient(broker.host, broker.port)
    sub.subscribe("transaction", "event")
    pub = RespClient(broker.host, broker.port)

    a1, a2 = "0x" + "a" * 40, "0x" + "b" * 40
    t0 = "0x" + "d" * 64
    pub.publish("transaction", json.dumps({"from": a1.upper(), "to": a2}))
    pub.publish("transaction", json.dumps({"from": a2, "contract": a1}))  # creation
    pub.publish("event", json.dumps({"origin": a1, "topics": [t0]}))
    pub.publish("event", json.dumps({"origin": a2, "topics": []}))

    got: list[tuple[str, str]] = []
    n = consume_loop(
        sub,
        {
            "transaction": [f"transaction/{a1}/{a2}", "transaction/*/*"],
            "event": [f"event/*/{t0}/*/*/*", "event/*/*/*/*/*"],
        },
        lambda pattern, channel, payload: got.append((channel, pattern)),
        max_messages=4,
        poll_seconds=2.0,
    )
    assert n == len(got) == 6
    assert got.count(("transaction", "transaction/*/*")) == 2
    assert got.count(("transaction", f"transaction/{a1}/{a2}")) == 1  # ci match
    assert got.count(("event", f"event/*/{t0}/*/*/*")) == 1
    assert got.count(("event", "event/*/*/*/*/*")) == 2
    sub.close(), pub.close()


def test_py_matchers_agree_with_column_matchers(spark):
    """The consumer-loop matchers and the engine Column matchers must
    implement identical T9/T10 semantics."""
    from pyspark.sql import functions as F

    from evm_indexer_spark.functions.topics import (
        event_subscription_match,
        tx_subscription_match,
    )

    a1, a2 = "0x" + "a" * 40, "0x" + "B" * 40
    txs = [
        {"from": a1, "to": a2},
        {"from": a1, "to": None},  # contract creation
        {"from": a2, "to": a1},
    ]
    tx_patterns = [
        "transaction/*/*",
        f"transaction/{a1}/*",
        f"transaction/{a1.upper()}/{a2.lower()}",
        f"transaction/*/{a1}",
    ]
    df = spark.createDataFrame(
        [(t["from"], t["to"]) for t in txs], "from string, to string"
    )
    for pat in tx_patterns:
        _, parts = pat.split("/", 1)
        frm, to = parts.split("/")
        col = [
            r[0]
            for r in df.select(
                tx_subscription_match(F.col("from"), F.col("to"), frm, to)
            ).collect()
        ]
        py = [py_tx_match(t, pat) for t in txs]
        assert col == py, pat

    t0, t1 = "0x" + "d" * 64, "0x" + "e" * 64
    evs = [
        {"origin": a1, "topics": [t0, t1]},
        {"origin": a2, "topics": [t0]},
        {"origin": a1, "topics": []},
    ]
    ev_patterns = [
        "event/*/*/*/*/*",
        f"event/{a1}/*/*/*/*",
        f"event/*/{t0}/*/*/*",
        f"event/*/{t0}/{t1}/*/*",
        f"event/*/*/{t1}/*/*",
    ]
    edf = spark.createDataFrame(
        [(e["origin"], e["topics"]) for e in evs],
        "origin string, topics array<string>",
    )
    for pat in ev_patterns:
        parts = pat.split("/")
        col = [
            r[0]
            for r in edf.select(
                event_subscription_match(F.col("origin"), F.col("topics"), parts[1:6])
            ).collect()
        ]
        py = [py_event_match(e, pat) for e in evs]
        assert col == py, pat


def test_ingest_stream_publishes_to_resp_broker(spark, tmp_path, broker):
    """Full S12 loop: file-source ingest -> publish-once fresh set ->
    executor-side PUBLISH to the three channels -> subscribed consumer
    receives every payload exactly once, including across a checkpoint
    restart with duplicate re-delivery."""
    from evm_indexer_spark.streaming.ingest import start_ingest_stream
    from evm_indexer_spark.streaming.resp import make_resp_publisher
    from evm_indexer_spark.streaming.txstore import AtomicBlockStore

    from .test_streaming import raw_block

    sub = RespClient(broker.host, broker.port)
    sub.subscribe("block", "transaction", "event")

    landing = tmp_path / "landing"
    landing.mkdir()
    store = AtomicBlockStore(spark, str(tmp_path / "store"))
    ckpt = str(tmp_path / "ckpt")
    pub = make_resp_publisher(broker.host, broker.port)

    with open(landing / "a.json", "w") as f:
        for n in range(3):
            f.write(json.dumps(raw_block(n)) + "\n")
    start_ingest_stream(spark, str(landing), store, ckpt, publish=pub).awaitTermination(120)

    got: dict[str, list] = {"block": [], "transaction": [], "event": []}
    while (msg := sub.get_message(timeout=2.0)) is not None:
        got[msg["channel"]].append(json.loads(msg["data"]))
    # 3 blocks x (1 block + 2 txs + 2 events) payloads
    assert len(got["block"]) == 3
    assert len(got["transaction"]) == 6
    assert len(got["event"]) == 6
    assert {b["number"] for b in got["block"]} == {0, 1, 2}
    # wire shape matches the facade encoders (spot fields)
    assert all(b["hash"].startswith("0x") for b in got["block"])

    # duplicate re-delivery after restart: fresh set is empty -> nothing published
    with open(landing / "b.json", "w") as f:
        f.write(json.dumps(raw_block(1)) + "\n")
    start_ingest_stream(spark, str(landing), store, ckpt, publish=pub).awaitTermination(120)
    assert sub.get_message(timeout=2.0) is None
    sub.close()


def test_publisher_failure_leaves_log_untouched_and_replays(spark, tmp_path):
    """Delivery is at-least-once: a publisher crash must fail the batch
    BEFORE the publish log is appended, so the retry recomputes the same
    fresh set and re-sends — appending first would silently drop the
    notifications forever."""
    from evm_indexer_spark.streaming.ingest import process_raw_batch
    from evm_indexer_spark.streaming.txstore import AtomicBlockStore

    from .test_streaming import make_raw, raw_block

    store = AtomicBlockStore(spark, str(tmp_path / "s"))
    raw = make_raw(spark, [raw_block(0), raw_block(1)])

    calls: list[int] = []

    def dying_publisher(store_, fresh):
        calls.append(fresh.count())
        raise ConnectionError("broker down")

    with pytest.raises(ConnectionError):
        process_raw_batch(store, raw, on_fresh=dying_publisher)
    assert store.published().count() == 0  # log untouched
    assert calls == [2]

    sent: list[int] = []
    process_raw_batch(store, raw, on_fresh=lambda s, f: sent.append(f.count()))
    assert sent == [2]  # replay re-delivers the SAME fresh set
    assert store.published().count() == 2
    # a further replay is a no-op end to end
    process_raw_batch(store, raw, on_fresh=lambda s, f: sent.append(f.count()))
    assert sent == [2, 0]
