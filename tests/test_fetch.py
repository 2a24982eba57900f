"""JSON-RPC fetch connector (S2-S4) against a socket-level stub node:
the same fixture chain as rawgen, served in Ethereum wire form — the
fetcher must reassemble byte-identical landing docs."""

from __future__ import annotations

import json
import threading
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer

import pytest

from evm_indexer_spark.sources.fetch import BlockFetcher, RpcError
from evm_indexer_spark.sources.rawgen import raw_block_doc

N_BLOCKS = 6


def _wire_block(doc: dict) -> dict:
    """raw_block_doc → eth_getBlockBy* wire form (quantities 0x-hex)."""
    return {
        "hash": doc["hash"],
        "number": hex(doc["number"]),
        "timestamp": hex(doc["timestamp"]),
        "parentHash": doc["parentHash"],
        "difficulty": hex(int(doc["difficulty"])),
        "gasUsed": hex(doc["gasUsed"]),
        "gasLimit": hex(doc["gasLimit"]),
        "nonce": hex(doc["nonce"]),
        "miner": doc["miner"],
        "size": hex(int(doc["size"])),
        "stateRoot": doc["stateRoot"],
        "sha3Uncles": doc["sha3Uncles"],
        "transactionsRoot": doc["transactionsRoot"],
        "receiptsRoot": doc["receiptsRoot"],
        "extraData": doc["extraData"],
        "transactions": [
            {
                "hash": t["hash"],
                "from": t["from"],
                "to": t["to"],
                "value": hex(int(t["value"])),
                "input": t["input"],
                "gas": hex(t["gas"]),
                "gasPrice": hex(int(t["gasPrice"])),
                "nonce": hex(t["nonce"]),
            }
            for t in doc["transactions"]
        ],
    }


def _wire_receipt(t: dict) -> dict:
    return {
        "transactionHash": t["hash"],
        "status": hex(t["status"]),
        "contractAddress": t["contractAddress"],
        "logs": [
            {
                "logIndex": hex(lg["index"]),
                "address": lg["address"],
                "topics": lg["topics"],
                "data": lg["data"],
            }
            for lg in t["logs"]
        ],
    }


@pytest.fixture(scope="module")
def rpc():
    docs = {n: raw_block_doc(n) for n in range(N_BLOCKS)}
    by_hash = {d["hash"]: d for d in docs.values()}
    receipts = {
        t["hash"]: _wire_receipt(t)
        for d in docs.values()
        for t in d["transactions"]
    }
    stats = {"in_flight": 0, "max_in_flight": 0, "calls": 0}
    lock = threading.Lock()

    class Node(BaseHTTPRequestHandler):
        def log_message(self, *a):
            pass

        def do_POST(self):
            with lock:
                stats["in_flight"] += 1
                stats["calls"] += 1
                stats["max_in_flight"] = max(
                    stats["max_in_flight"], stats["in_flight"]
                )
            try:
                req = json.loads(
                    self.rfile.read(int(self.headers["Content-Length"]))
                )
                m, p = req["method"], req["params"]
                result = None
                if m == "eth_getBlockByNumber":
                    d = docs.get(int(p[0], 16))
                    result = _wire_block(d) if d else None
                elif m == "eth_getBlockByHash":
                    d = by_hash.get(p[0])
                    result = _wire_block(d) if d else None
                elif m == "eth_getTransactionReceipt":
                    result = receipts.get(p[0])
                body = json.dumps(
                    {"jsonrpc": "2.0", "id": req["id"], "result": result}
                ).encode()
                self.send_response(200)
                self.send_header("Content-Type", "application/json")
                self.send_header("Content-Length", str(len(body)))
                self.end_headers()
                self.wfile.write(body)
            finally:
                with lock:
                    stats["in_flight"] -= 1

    server = ThreadingHTTPServer(("127.0.0.1", 0), Node)
    threading.Thread(target=server.serve_forever, daemon=True).start()
    yield f"http://127.0.0.1:{server.server_address[1]}/", stats
    server.shutdown()


def test_fetch_by_number_roundtrips_exactly(rpc):
    url, _ = rpc
    f = BlockFetcher(url, concurrency=4)
    assert f.fetch_block_by_number(3) == raw_block_doc(3)


def test_fetch_by_hash_roundtrips_exactly(rpc):
    url, _ = rpc
    f = BlockFetcher(url, concurrency=4)
    h = raw_block_doc(2)["hash"]
    assert f.fetch_block_by_hash(h) == raw_block_doc(2)


def test_fetch_range_and_concurrency_bound(rpc):
    url, stats = rpc
    stats["max_in_flight"] = 0
    f = BlockFetcher(url, concurrency=3)
    docs = f.fetch_range(0, N_BLOCKS - 1)
    assert docs == [raw_block_doc(n) for n in range(N_BLOCKS)]
    # the worker-pool semaphore bounds ALL in-flight RPC calls
    assert 1 <= stats["max_in_flight"] <= 3


def test_missing_block_raises(rpc):
    url, _ = rpc
    f = BlockFetcher(url, concurrency=2)
    with pytest.raises(RpcError):
        f.fetch_block_by_number(999)
    with pytest.raises(RpcError):
        f.fetch_block_by_hash("0x" + "99" * 32)


def test_landed_docs_feed_the_ingest_pipeline(rpc, spark, tmp_path):
    """End-to-end S2→S8: fetch over RPC, land atomically, run the real
    ingest batch, and read the rows back from the store."""
    from evm_indexer_spark.sources.normalize import RAW_BLOCK_SCHEMA
    from evm_indexer_spark.streaming.ingest import process_raw_batch
    from evm_indexer_spark.streaming.txstore import AtomicBlockStore

    url, _ = rpc
    f = BlockFetcher(url, concurrency=4)
    docs = f.fetch_range(0, 4)
    landing = tmp_path / "landing"
    path = f.land(docs, str(landing))
    assert path.endswith(".json") and not path.endswith(".tmp")

    raw = spark.read.schema(RAW_BLOCK_SCHEMA).json(str(landing))
    store = AtomicBlockStore(spark, str(tmp_path / "store"))
    process_raw_batch(store, raw)
    assert store.blocks().count() == 5
    assert store.transactions().count() == 15
    assert store.events().count() == 30
    got = store.blocks().filter("number = 3").first()
    assert got["hash"] == raw_block_doc(3)["hash"]


def test_bad_url_rejected():
    with pytest.raises(ValueError):
        BlockFetcher("ws://nope")


def test_default_concurrency_is_cpus_times_factor():
    import os

    f = BlockFetcher("http://127.0.0.1:1/", factor=2)
    assert f.concurrency == max(1, (os.cpu_count() or 1) * 2)
