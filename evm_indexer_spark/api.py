"""REST-façade layer: validation, dispatch, and JSON wire shaping.

Replicates the reference's `/v1/synced`, `/v1/block`, `/v1/transaction`,
`/v1/event` handlers (``app/rest/rest.go:69-760``): the same param-presence
dispatch cascades, the same guardrails (P12 shape checks, P13
``RangeChecker``, ``app/common/common.go:51-84``), the same error
messages, and the same custom JSON encodings
(``app/data/block.go:36-60``, ``tx.go:34-53``, ``event.go:30-45``).

The façade is deliberately plain Python around pure DataFrame→DataFrame
engine functions (``operators/historical.py``) — validation rejects
unbounded scans *before* a job is launched, which is what keeps an
interactive query aligned with partition pruning at 100 TB (SURVEY §4).

Documented divergence: the reference's to-account/time-range branch
validates `fromBlock/toBlock` instead of `fromTime/toTime`
(``rest.go:462``) — an apparent copy-paste bug we do not replicate.
"""

from __future__ import annotations

import re
from typing import Any

from pyspark.sql import Row

from .config import DEFAULT_CONFIG, EngineConfig
from .errors import NotFoundError, RangeTooWideError, ValidationError
from .operators.historical import HistoricalQueries

_UINT64_MAX = 2**64 - 1
_INT64_MAX = 2**63 - 1


# -- P12 shape checks (rest.go:100,135,233,268,...) -------------------------


def is_hash(s: str | None) -> bool:
    return isinstance(s, str) and s.startswith("0x") and len(s) == 66


def is_address(s: str | None) -> bool:
    return isinstance(s, str) and s.startswith("0x") and len(s) == 42


def parse_number(number: str, msg: str = "Failed to parse integer") -> int:
    """ParseNumber, common.go:51-62 — uint64, ASCII decimal only.

    strconv.ParseUint rejects '+5', '1_000', and non-ASCII digits that
    Python's int() happily accepts, so gate with a strict digit match
    before converting.
    """
    if not isinstance(number, str) or re.fullmatch(r"[0-9]+", number) is None:
        raise ValidationError(msg)
    n = int(number)
    if n > _UINT64_MAX:
        raise ValidationError(msg)
    return n


def fits_long(n: int) -> bool:
    """True iff *n* is representable in a signed-64 column — the
    existence precondition behind ``long_or_not_found``. Count-shaped
    endpoints use this directly: a nonexistent block yields count 0,
    not an error, so values above 2^63−1 must ALSO yield 0 there
    (consistent observable behavior for equally absent blocks)."""
    return n <= _INT64_MAX


def long_or_not_found(n: int) -> int:
    """Guard a parsed uint64 headed for a LongType column literal.

    ``parse_number`` accepts the full uint64 range to match Go's
    `strconv.ParseUint` (common.go:51-62), but `number`/`time`/`nonce`
    are stored as signed 64-bit (Postgres ``bigint``, model.go:17-18,70;
    Spark ``LongType``) — a value in [2^63, 2^64) can never exist in the
    table, and letting it reach py4j as a literal throws
    NumberFormatException instead of the reference's not-found. Short-
    circuit here, before any plan is built.
    """
    if n > _INT64_MAX:
        raise NotFoundError("Not found")
    return n


def range_checker(frm: str, to: str, limit: int) -> tuple[int, int]:
    """RangeChecker, common.go:66-84: reject unless to - from < limit.

    The reference computes `_to - _from` in uint64, so to < from wraps
    to a huge value and is rejected — same observable behavior here.

    A validated range that starts above 2^63-1 is provably empty (see
    ``long_or_not_found``) → not-found; one that merely *ends* above is
    clamped so the literal stays inside LongType (no rows live there).
    """
    _from = parse_number(frm)
    _to = parse_number(to)
    if _to < _from or not (_to - _from < limit):
        raise RangeTooWideError("Range too long")
    long_or_not_found(_from)
    return _from, min(_to, _INT64_MAX)


def create_event_topic_map(
    topic0: str = "", topic1: str = "", topic2: str = "", topic3: str = ""
) -> dict[int, str]:
    """CreateEventTopicMap, common.go:26-48 — skips empty slots."""
    return {
        i: t
        for i, t in enumerate((topic0, topic1, topic2, topic3))
        if t
    }


# -- JSON wire shaping (F1/F8/F9) -------------------------------------------


def _hex0x(b: bytes | bytearray | None) -> str:
    """hex-encode with 0x prefix; empty bytes → '' (block.go:38-41)."""
    if not b:
        return ""
    return "0x" + bytes(b).hex()


def fields(row: Row | dict) -> dict[str, Any]:
    """A Spark ``Row``, or a local read's row dict, as a dict."""
    return row if isinstance(row, dict) else row.asDict()


def block_to_dict(row: Row | dict) -> dict[str, Any]:
    """Block.MarshalJSON field order/format (block.go:36-60)."""
    d = fields(row)
    return {
        "hash": d["hash"],
        "number": d["number"],
        "time": d["time"],
        "parentHash": d["parenthash"],
        "difficulty": d["difficulty"],
        "gasUsed": d["gasused"],
        "gasLimit": d["gaslimit"],
        "nonce": d["nonce"],
        "miner": d["miner"],
        "size": d["size"],
        "stateRootHash": d["stateroothash"],
        "uncleHash": d["unclehash"],
        "txRootHash": d["txroothash"],
        "receiptRootHash": d["receiptroothash"],
        "extraData": _hex0x(d["extradata"]),
    }


def tx_to_dict(row: Row | dict) -> dict[str, Any]:
    """Transaction.MarshalJSON (tx.go:34-53): contract-creation txs carry
    `contract` instead of `to`; narrow projections (P2) omit value/data —
    encoded as empty like the reference's zero values."""
    d = fields(row)
    out: dict[str, Any] = {"hash": d["hash"], "from": d["from"]}
    contract = d.get("contract") or ""
    if contract.startswith("0x"):
        out["contract"] = contract
    else:
        out["to"] = d.get("to", "")
    out.update(
        {
            "value": d.get("value") or "",
            "data": _hex0x(d.get("data")),
            "gas": d["gas"],
            "gasPrice": d["gasprice"],
            "cost": d["cost"],
            "nonce": d["nonce"],
            "state": d["state"],
            "blockHash": d["blockhash"],
        }
    )
    return out


_ZERO32 = "0" * 64


def event_to_dict(row: Row | dict) -> dict[str, Any]:
    """Event.MarshalJSON (event.go:30-45): data rendered empty when
    zero-length OR exactly 32 zero bytes."""
    d = fields(row)
    h = bytes(d["data"] or b"").hex()
    return {
        "origin": d["origin"],
        "index": d["index"],
        "topics": list(d["topics"]),
        "data": "" if h == _ZERO32 else ("0x" + h if h else ""),
        "txHash": d["txhash"],
        "blockHash": d["blockhash"],
    }


# -- façade ------------------------------------------------------------------


def _one(rows: list, shape) -> dict[str, Any]:
    if not rows:
        raise NotFoundError("Not found")
    return shape(rows[0])


def _many(rows: list, shape, wrapper: str) -> dict[str, Any]:
    if not rows:
        raise NotFoundError("Not found")
    return {wrapper: [shape(r) for r in rows]}


class RestFacade:
    """Param-dict → validated engine call → JSON-shaped payload.

    Each method mirrors one gin handler's dispatch cascade, top to
    bottom, including which validation failure fires first.
    """

    def __init__(
        self,
        queries: HistoricalQueries,
        config: EngineConfig = DEFAULT_CONFIG,
        hash_index=None,
    ) -> None:
        """*hash_index*: optional ``streaming.txstore.HashIndex`` —
        wired by default via ``AtomicBlockStore.rest_facade()``. Point
        reads by block hash then resolve the bucket from the slim side
        index and scan one bucket instead of the chain (the reference's B-tree point-read
        economics, ``model.go:16-18``); unindexed hashes fall back to
        the catalog path unchanged."""
        self.q = queries
        self.config = config
        self.hash_index = hash_index

    # rest.go:69-91
    def synced(self, latest_block_number: int, elapsed_seconds: float) -> dict[str, Any]:
        row = self.q.blocks.count()
        total = latest_block_number + 1
        remaining = total - row
        eta = (
            f"{(elapsed_seconds / row) * remaining:.0f}s" if row and remaining > 0 else "0s"
        )
        return {
            "synced": f"{(row / total) * 100:.2f} %",
            "processed": row,
            "elapsed": f"{elapsed_seconds:.1f}s",
            "eta": eta,
        }

    # rest.go:93-225
    def block(self, params: dict[str, str]) -> dict[str, Any]:
        hash_ = params.get("hash", "")
        number = params.get("number", "")
        tx = params.get("tx", "")

        if is_hash(hash_) and tx == "yes":
            if self.hash_index is not None:
                return _many(
                    self.hash_index.lookup_block_transactions(hash_).collect(),
                    tx_to_dict,
                    "transactions",
                )
            return _many(
                self.q.rows("get_transactions_by_block_hash", hash_),
                tx_to_dict,
                "transactions",
            )
        if number and tx == "yes":
            n = long_or_not_found(parse_number(number, "Bad block number"))
            return _many(
                self.q.rows("get_transactions_by_block_number", n),
                tx_to_dict,
                "transactions",
            )
        if is_hash(hash_):
            if self.hash_index is not None:
                return _one(
                    self.hash_index.lookup_block(hash_).limit(1).collect(), block_to_dict
                )
            return _one(self.q.rows("get_block_by_hash", hash_), block_to_dict)
        if number:
            n = long_or_not_found(parse_number(number, "Bad block number"))
            return _one(self.q.rows("get_block_by_number", n), block_to_dict)

        from_block, to_block = params.get("fromBlock", ""), params.get("toBlock", "")
        if from_block and to_block:
            try:
                f, t = range_checker(from_block, to_block, self.config.block_range)
            except ValidationError:
                raise ValidationError("Bad block number range") from None
            rows = self.q.rows("get_blocks_by_number_range", f, t)
            return _many(rows, block_to_dict, "blocks")

        from_time, to_time = params.get("fromTime", ""), params.get("toTime", "")
        if from_time and to_time:
            try:
                f, t = range_checker(from_time, to_time, self.config.time_range)
            except ValidationError:
                raise ValidationError("Bad block time range") from None
            rows = self.q.rows("get_blocks_by_time_range", f, t)
            return _many(rows, block_to_dict, "blocks")

        raise ValidationError("Bad query param(s)")

    # rest.go:228-487
    def transaction(self, params: dict[str, str]) -> dict[str, Any]:
        g = params.get
        hash_ = g("hash", "")
        if is_hash(hash_):
            return _one(self.q.rows("get_transaction_by_hash", hash_), tx_to_dict)

        from_block, to_block = g("fromBlock", ""), g("toBlock", "")
        from_time, to_time = g("fromTime", ""), g("toTime", "")
        deployer = g("deployer", "")
        from_account, to_account = g("fromAccount", ""), g("toAccount", "")
        nonce = g("nonce", "")

        def blk_range():
            try:
                return range_checker(from_block, to_block, self.config.block_range)
            except ValidationError:
                raise ValidationError("Bad block number range") from None

        def time_range():
            try:
                return range_checker(from_time, to_time, self.config.time_range)
            except ValidationError:
                raise ValidationError("Bad block time range") from None

        def txs(name: str, *args) -> dict[str, Any]:
            return _many(self.q.rows(name, *args), tx_to_dict, "transactions")

        if nonce and is_address(from_account):
            n = long_or_not_found(parse_number(nonce, "Bad account nonce"))
            return _one(
                self.q.rows("get_transaction_from_account_with_nonce", from_account, n),
                tx_to_dict,
            )
        if from_block and to_block and is_address(deployer):
            f, t = blk_range()
            return txs(
                "get_contract_creation_transactions_from_account_by_block_number_range",
                deployer, f, t,
            )
        if from_time and to_time and is_address(deployer):
            f, t = time_range()
            return txs(
                "get_contract_creation_transactions_from_account_by_block_time_range",
                deployer, f, t,
            )
        if from_block and to_block and is_address(from_account) and is_address(to_account):
            f, t = blk_range()
            return txs(
                "get_transactions_between_accounts_by_block_number_range",
                from_account, to_account, f, t,
            )
        if from_time and to_time and is_address(from_account) and is_address(to_account):
            f, t = time_range()
            return txs(
                "get_transactions_between_accounts_by_block_time_range",
                from_account, to_account, f, t,
            )
        if from_block and to_block and is_address(from_account):
            f, t = blk_range()
            return txs(
                "get_transactions_from_account_by_block_number_range",
                from_account, f, t,
            )
        if from_time and to_time and is_address(from_account):
            f, t = time_range()
            return txs(
                "get_transactions_from_account_by_block_time_range",
                from_account, f, t,
            )
        if from_block and to_block and is_address(to_account):
            f, t = blk_range()
            return txs(
                "get_transactions_to_account_by_block_number_range",
                to_account, f, t,
            )
        if from_time and to_time and is_address(to_account):
            f, t = time_range()  # rest.go:462 validates the wrong params; fixed here
            return txs("get_transactions_to_account_by_block_time_range", to_account, f, t)

        raise ValidationError("Bad query param(s)")

    # rest.go:489-760
    def event(self, params: dict[str, str]) -> dict[str, Any]:
        g = params.get
        block_hash, tx_hash = g("blockHash", ""), g("txHash", "")
        log_index, block_number = g("logIndex", ""), g("blockNumber", "")
        contract, count = g("contract", ""), g("count", "")
        topics = [g(f"topic{i}", "") for i in range(4)]

        def events(name: str, *args) -> dict[str, Any]:
            return _many(self.q.rows(name, *args), event_to_dict, "events")

        if log_index and is_hash(block_hash):
            i = long_or_not_found(parse_number(log_index, "Bad log index"))
            return _one(
                self.q.rows("get_event_by_block_hash_and_log_index", block_hash, i),
                event_to_dict,
            )
        if log_index and block_number:
            n = long_or_not_found(parse_number(block_number, "Bad block number"))
            i = long_or_not_found(parse_number(log_index, "Bad log index"))
            return _one(
                self.q.rows("get_event_by_block_number_and_log_index", n, i),
                event_to_dict,
            )
        if is_hash(block_hash):
            return events("get_events_by_block_hash", block_hash)
        if is_hash(tx_hash):
            return events("get_events_by_transaction_hash", tx_hash)
        if count and is_address(contract):
            c = parse_number(count, "Bad event count")
            if c > self.config.max_events_topk:
                raise ValidationError("Too many events requested")
            return events("get_last_x_events_from_contract", contract, c)

        from_block, to_block = g("fromBlock", ""), g("toBlock", "")
        from_time, to_time = g("fromTime", ""), g("toTime", "")
        any_topic = any(is_hash(t) for t in topics)

        if from_block and to_block and is_address(contract) and any_topic:
            try:
                f, t = range_checker(from_block, to_block, self.config.block_range)
            except ValidationError:
                raise ValidationError("Bad block number range") from None
            tmap = create_event_topic_map(*topics)
            if not tmap:
                raise ValidationError("Bad event topic signature(s)")
            return events(
                "get_events_from_contract_with_topics_by_block_number_range",
                contract, f, t, tmap,
            )
        if from_time and to_time and is_address(contract) and any_topic:
            try:
                f, t = range_checker(from_time, to_time, self.config.time_range)
            except ValidationError:
                raise ValidationError("Bad block time range") from None
            tmap = create_event_topic_map(*topics)
            if not tmap:
                raise ValidationError("Bad event topic signature(s)")
            return events(
                "get_events_from_contract_with_topics_by_block_time_range",
                contract, f, t, tmap,
            )
        if from_block and to_block and is_address(contract):
            try:
                f, t = range_checker(from_block, to_block, self.config.block_range)
            except ValidationError:
                raise ValidationError("Bad block number range") from None
            return events("get_events_from_contract_by_block_number_range", contract, f, t)
        if from_time and to_time and is_address(contract):
            try:
                f, t = range_checker(from_time, to_time, self.config.time_range)
            except ValidationError:
                raise ValidationError("Bad block time range") from None
            return events("get_events_from_contract_by_block_time_range", contract, f, t)

        raise ValidationError("Bad query param(s)")
