"""The seeded request schedule, and the answers it must get.

``rest_schedule`` is a fixed round-robin over the request classes of
``CYCLE``, one request of each per cycle; each request's keys are drawn
from the seeded chain, and its expected status, row keys and key fields
are computed from the Python chain model. ``check`` compares a response
with that prediction. Nothing here touches Spark, so the tests run
without it.
"""

from __future__ import annotations

import json
import random
from urllib.parse import urlencode

from chain import Chain

BLOCK_RANGE = 100  # config.EngineConfig defaults
TIME_RANGE = 3600
MAX_EVENTS = 50

# One cycle of the round-robin schedule, one slot per request class. This
# is a coverage mix over the reference's endpoint families, not observed
# traffic: no source for real proportions exists, so no class is weighted.
CYCLE = (
    "block_by_number",
    "block_by_hash",
    "tx_by_hash",
    "block_txs_by_number",
    "event_by_number_index",
    "blocks_by_number",
    "blocks_by_time",
    "txs_from_account_by_number",
    "txs_to_account_by_time",
    "events_by_contract_by_number",
    "events_by_contract_by_time",
    "last_x_events",
    "events_by_tx_hash",
    "gql_block_by_number",
    "gql_tx_count_from_account",
    "gql_events_by_contract_by_number",
    "absent_block_number",
    "absent_tx_hash",
    "bad_number",
    "bad_block_range",
    "bad_event_count",
)


def _get(route: str, params: dict) -> tuple[str, str, None]:
    return "GET", f"/v1/{route}?{urlencode(params)}", None


def _gql(query: str) -> tuple[str, str, str]:
    return "POST", "/v1/graphql", json.dumps({"query": query})


def _tx_keys(txs) -> list:
    return sorted(t.hash for t in txs)


def _ev_keys(logs) -> list:
    return sorted([lg.tx.hash, lg.index] for lg in logs)


def _many(keys: list) -> dict:
    """A list endpoint answers 404 when the list is empty."""
    return {"status": 200, "keys": keys} if keys else {"status": 404}


class _Draw:
    """Window and key draws over one chain, from one seeded RNG."""

    def __init__(self, chain: Chain, rng: random.Random):
        self.c, self.r = chain, rng

    def block(self):
        return self.c.blocks[self.r.randrange(len(self.c.blocks))]

    def block_with_logs(self):
        while True:
            b = self.block()
            if any(tx.logs for tx in b.txs):
                return b

    def tx(self):
        return self.c.txs[self.r.randrange(len(self.c.txs))]

    def number_window(self):
        lo = self.r.randrange(self.c.start, self.c.end - BLOCK_RANGE + 2)
        return lo, lo + self.r.randrange(40, BLOCK_RANGE)

    def time_window(self):
        b = self.block()
        return b.time - 600, b.time - 600 + self.r.randrange(1200, TIME_RANGE)

    def account(self):
        return self.c.accounts[self.r.randrange(len(self.c.accounts))]

    def contract(self):
        return self.c.contracts[self.r.randrange(len(self.c.contracts))]


def _request(cls: str, d: _Draw) -> dict:
    """One request of class *cls*: method, path, body and expectation."""
    c = d.c
    if cls == "block_by_number":
        b = d.block()
        req, exp = _get("block", {"number": b.number}), {"status": 200, "fields": {"hash": b.hash, "number": b.number}}
    elif cls == "block_by_hash":
        b = d.block()
        req, exp = _get("block", {"hash": b.hash}), {"status": 200, "fields": {"hash": b.hash, "number": b.number}}
    elif cls == "tx_by_hash":
        t = d.tx()
        req = _get("transaction", {"hash": t.hash})
        exp = {"status": 200, "fields": {"hash": t.hash, "from": t.frm, "nonce": t.nonce, "blockHash": t.block.hash}}
    elif cls == "block_txs_by_number":
        b = d.block()
        req, exp = _get("block", {"number": b.number, "tx": "yes"}), _many(_tx_keys(b.txs))
    elif cls == "event_by_number_index":
        b = d.block_with_logs()
        lg = d.r.choice([lg for tx in b.txs for lg in tx.logs])
        req = _get("event", {"blockNumber": b.number, "logIndex": lg.index})
        exp = {"status": 200, "fields": {"txHash": lg.tx.hash, "index": lg.index, "origin": lg.origin}}
    elif cls == "blocks_by_number":
        lo, hi = d.number_window()
        req, exp = _get("block", {"fromBlock": lo, "toBlock": hi}), _many(list(range(lo, hi + 1)))
    elif cls == "blocks_by_time":
        lo, hi = d.time_window()
        req = _get("block", {"fromTime": lo, "toTime": hi})
        exp = _many([b.number for b in c.blocks if lo <= b.time <= hi])
    elif cls == "txs_from_account_by_number":
        a, (lo, hi) = d.account(), d.number_window()
        req = _get("transaction", {"fromAccount": a, "fromBlock": lo, "toBlock": hi})
        exp = _many(_tx_keys(t for t in c.txs if t.frm == a and lo <= t.block.number <= hi))
    elif cls == "txs_to_account_by_time":
        a, (lo, hi) = d.account(), d.time_window()
        req = _get("transaction", {"toAccount": a, "fromTime": lo, "toTime": hi})
        exp = _many(_tx_keys(t for t in c.txs if t.to == a and lo <= t.block.time <= hi))
    elif cls == "events_by_contract_by_number":
        a, (lo, hi) = d.contract(), d.number_window()
        req = _get("event", {"contract": a, "fromBlock": lo, "toBlock": hi})
        exp = _many(_ev_keys(lg for lg in c.logs if lg.origin == a and lo <= lg.tx.block.number <= hi))
    elif cls == "events_by_contract_by_time":
        a, (lo, hi) = d.contract(), d.time_window()
        req = _get("event", {"contract": a, "fromTime": lo, "toTime": hi})
        exp = _many(_ev_keys(lg for lg in c.logs if lg.origin == a and lo <= lg.tx.block.time <= hi))
    elif cls == "last_x_events":
        a, x = d.contract(), d.r.randrange(5, 20)
        mine = sorted((lg for lg in c.logs if lg.origin == a), key=lambda lg: -lg.tx.block.number)
        # ties inside one block make the rows ambiguous, not their blocks
        req = _get("event", {"contract": a, "count": x})
        exp = {"status": 200, "block_hashes": sorted(lg.tx.block.hash for lg in mine[:x])}
    elif cls == "events_by_tx_hash":
        t = d.tx()
        req, exp = _get("event", {"txHash": t.hash}), _many(_ev_keys(t.logs))
    elif cls == "gql_block_by_number":
        b = d.block()
        req = _gql(f'{{ blockByNumber(number: "{b.number}") {{ hash number }} }}')
        exp = {"status": 200, "gql": {"blockByNumber": {"hash": b.hash, "number": str(b.number)}}}
    elif cls == "gql_tx_count_from_account":
        a, (lo, hi) = d.account(), d.number_window()
        n = sum(1 for t in c.txs if t.frm == a and lo <= t.block.number <= hi)
        req = _gql(f'{{ transactionCountFromAccountByNumberRange(account: "{a}", from: "{lo}", to: "{hi}") }}')
        exp = {"status": 200, "gql": {"transactionCountFromAccountByNumberRange": n}}
    elif cls == "gql_events_by_contract_by_number":
        a, (lo, hi) = d.contract(), d.number_window()
        keys = _ev_keys(lg for lg in c.logs if lg.origin == a and lo <= lg.tx.block.number <= hi)
        req = _gql(
            f'{{ eventsFromContractByNumberRange(contract: "{a}", from: "{lo}", to: "{hi}") {{ txHash index }} }}'
        )
        exp = {"status": 200, "gql_keys": keys}
    elif cls == "absent_block_number":
        req, exp = _get("block", {"number": c.end + 1 + d.r.randrange(10**6)}), {"status": 404}
    elif cls == "absent_tx_hash":
        req, exp = _get("transaction", {"hash": "0x" + "%064x" % d.r.getrandbits(256)}), {"status": 404}
    elif cls == "bad_number":
        req, exp = _get("block", {"number": "12x"}), {"status": 400}
    elif cls == "bad_block_range":
        lo = d.block().number
        req, exp = _get("block", {"fromBlock": lo, "toBlock": lo + BLOCK_RANGE}), {"status": 400}
    elif cls == "bad_event_count":
        req, exp = _get("event", {"contract": d.contract(), "count": MAX_EVENTS + 1}), {"status": 400}
    else:
        raise ValueError(cls)
    method, path, body = req
    return {"cls": cls, "method": method, "path": path, "body": body, "expect": exp}


def rest_schedule(chain: Chain, seed: int, n: int) -> list[dict]:
    """The first *n* requests of the seeded round-robin schedule."""
    d = _Draw(chain, random.Random(seed * 7919 + 1))
    return [_request(CYCLE[i % len(CYCLE)], d) for i in range(n)]


def _rows(body: dict) -> list:
    for key in ("blocks", "transactions", "events"):
        if key in body:
            return body[key]
    return []


def check(req: dict, status: int, body) -> bool:
    """True iff the response matches the schedule's prediction."""
    exp = req["expect"]
    if status != exp["status"]:
        return False
    if status != 200:
        return True
    if "fields" in exp:
        return all(body.get(k) == v for k, v in exp["fields"].items())
    if "keys" in exp:
        rows = _rows(body)
        if rows and "index" in rows[0] and "txHash" in rows[0]:
            got = sorted([r["txHash"], r["index"]] for r in rows)
        elif rows and "number" in rows[0] and "miner" in rows[0]:
            got = [r["number"] for r in rows]  # blocks come ordered by number
        else:
            got = sorted(r["hash"] for r in rows)
        return got == exp["keys"]
    if "block_hashes" in exp:
        return sorted(r["blockHash"] for r in _rows(body)) == exp["block_hashes"]
    if "gql_keys" in exp and not exp["gql_keys"]:
        return "errors" in body  # an empty list resolves to "Found nothing"
    if "errors" in body:
        return False
    data = body.get("data") or {}
    if "gql" in exp:
        return data == exp["gql"]
    if "gql_keys" in exp:
        rows = data.get("eventsFromContractByNumberRange") or []
        return sorted([r["txHash"], int(r["index"])] for r in rows) == exp["gql_keys"]
    return False

