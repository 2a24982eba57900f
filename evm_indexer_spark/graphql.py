"""GraphQL resolver layer: the reference's 37 query fields
(``app/rest/graph/schema.graphqls:44-139``) over the same engine catalog
the REST façade uses, with the GraphQL model conversions of
``app/rest/graph/data.go:41-231`` (every numeric stringified; tx keeps
both ``to`` and ``contract`` fields with the unused one empty; event
``index`` stringified; zero-word event data rendered empty) and the
resolver validation errors of ``schema.resolvers.go:21-497`` verbatim.

Resolvers are transport-agnostic plain methods returning dicts — wire
them into any GraphQL server (ariadne/strawberry) without touching the
engine. Field → method name mapping is camelCase → snake_case.
"""

from __future__ import annotations

from typing import Any

from pyspark.sql import Row

from .api import (
    fields,
    fits_long,
    is_address,
    is_hash,
    long_or_not_found,
    parse_number,
    range_checker,
)
from .config import DEFAULT_CONFIG, EngineConfig
from .errors import NotFoundError, ValidationError
from .operators.historical import HistoricalQueries


def fill_up_topic_array(topics: list[str]) -> list[str]:
    """FillUpTopicArray, data.go:210-231 — pad to 4 with empties."""
    return (list(topics) + [""] * 4)[:4]


def _hex0x(b: bytes | bytearray | None) -> str:
    if not b:
        return ""
    return "0x" + bytes(b).hex()


def block_model(row: Row | dict) -> dict[str, Any]:
    """getGraphQLCompatibleBlock, data.go:41-69 — numbers → strings."""
    d = fields(row)
    return {
        "hash": d["hash"],
        "number": str(d["number"]),
        "time": str(d["time"]),
        "parentHash": d["parenthash"],
        "difficulty": d["difficulty"],
        "gasUsed": str(d["gasused"]),
        "gasLimit": str(d["gaslimit"]),
        "nonce": d["nonce"],
        "miner": d["miner"],
        "size": d["size"],
        "stateRootHash": d["stateroothash"],
        "uncleHash": d["unclehash"],
        "txRootHash": d["txroothash"],
        "receiptRootHash": d["receiptroothash"],
        "extraData": _hex0x(d["extradata"]),
    }


def tx_model(row: Row | dict) -> dict[str, Any]:
    """getGraphQLCompatibleTransaction, data.go:93-133 — unlike the REST
    encoder both ``to`` and ``contract`` are present, one of them empty."""
    d = fields(row)
    contract = d.get("contract") or ""
    creating = contract.startswith("0x")
    return {
        "hash": d["hash"],
        "from": d["from"],
        "to": "" if creating else d.get("to", ""),
        "contract": contract if creating else "",
        "value": d.get("value") or "",
        "data": _hex0x(d.get("data")),
        "gas": str(d["gas"]),
        "gasPrice": d["gasprice"],
        "cost": d["cost"],
        "nonce": str(d["nonce"]),
        "state": str(d["state"]),
        "blockHash": d["blockhash"],
    }


_ZERO_WORD = "0" * 64


def event_model(row: Row | dict) -> dict[str, Any]:
    """getGraphQLCompatibleEvent, data.go:155-173."""
    d = fields(row)
    h = bytes(d["data"] or b"").hex()
    return {
        "origin": d["origin"],
        "index": str(d["index"]),
        "topics": list(d["topics"]),
        "data": "" if h == _ZERO_WORD else ("0x" + h if h else ""),
        "txHash": d["txhash"],
        "blockHash": d["blockhash"],
    }


def _first(rows: list, shape) -> dict[str, Any]:
    if not rows:
        raise NotFoundError("Found nothing")
    return shape(rows[0])


def _all(rows: list, shape) -> list[dict[str, Any]]:
    if not rows:
        raise NotFoundError("Found nothing")
    return [shape(r) for r in rows]


def _scalar(rows: list) -> int:
    return int(fields(rows[0])["count"])


class GraphQLResolvers:
    """One method per schema.graphqls query field (camelCase →
    snake_case), same validation-first structure as the Go resolvers."""

    def __init__(
        self, queries: HistoricalQueries, config: EngineConfig = DEFAULT_CONFIG
    ) -> None:
        self.q = queries
        self.config = config

    # -- arg validators (schema.resolvers.go error strings) ----------------

    def _hash(self, h: str, msg: str) -> str:
        if not is_hash(h):
            raise ValidationError(msg)
        return h

    def _addr(self, a: str, msg: str) -> str:
        if not is_address(a):
            raise ValidationError(msg)
        return a

    def _blk_range(self, frm: str, to: str) -> tuple[int, int]:
        try:
            return range_checker(frm, to, self.config.block_range)
        except ValidationError:
            raise ValidationError("Bad Block Number Range") from None

    def _time_range(self, frm: str, to: str) -> tuple[int, int]:
        try:
            return range_checker(frm, to, self.config.time_range)
        except ValidationError:
            raise ValidationError("Bad Block Timestamp Range") from None

    # -- blocks (schema.resolvers.go:21-54) --------------------------------

    def block_by_hash(self, hash: str):
        self._hash(hash, "Bad Block Hash")
        return _first(self.q.rows("get_block_by_hash", hash), block_model)

    def block_by_number(self, number: str):
        n = long_or_not_found(parse_number(number, "Bad Block Number"))
        return _first(self.q.rows("get_block_by_number", n), block_model)

    def blocks_by_number_range(self, frm: str, to: str):
        f, t = self._blk_range(frm, to)
        return _all(self.q.rows("get_blocks_by_number_range", f, t), block_model)

    def blocks_by_time_range(self, frm: str, to: str):
        f, t = self._time_range(frm, to)
        return _all(self.q.rows("get_blocks_by_time_range", f, t), block_model)

    # -- transactions (schema.resolvers.go:56-370) -------------------------

    def transaction(self, hash: str):
        self._hash(hash, "Bad Transaction Hash")
        return _first(self.q.rows("get_transaction_by_hash", hash), tx_model)

    def transaction_count_by_block_hash(self, hash: str) -> int:
        self._hash(hash, "Bad Block Hash")
        return _scalar(self.q.rows("get_transaction_count_by_block_hash", hash))

    def transactions_by_block_hash(self, hash: str):
        self._hash(hash, "Bad Block Hash")
        return _all(self.q.rows("get_transactions_by_block_hash", hash), tx_model)

    def transaction_count_by_block_number(self, number: str) -> int:
        # counts answer 0 for absent blocks — a number above the signed-64
        # ceiling is just as absent, so 0, not the lookup paths' not-found
        n = parse_number(number, "Bad Block Number")
        if not fits_long(n):
            return 0
        return _scalar(self.q.rows("get_transaction_count_by_block_number", n))

    def transactions_by_block_number(self, number: str):
        n = long_or_not_found(parse_number(number, "Bad Block Number"))
        return _all(self.q.rows("get_transactions_by_block_number", n), tx_model)

    def _acct_window(
        self, account: str, frm: str, to: str, by_time: bool, count: bool, kind: str
    ):
        self._addr(account, "Bad Account Address")
        f, t = self._time_range(frm, to) if by_time else self._blk_range(frm, to)
        rows = self.q.rows(
            f"get_transaction{'_count' if count else 's'}_{kind}_account_by_block_"
            f"{'time' if by_time else 'number'}_range",
            account, f, t,
        )
        return _scalar(rows) if count else _all(rows, tx_model)

    def transaction_count_from_account_by_number_range(self, account, frm, to):
        return self._acct_window(account, frm, to, False, True, "from")

    def transactions_from_account_by_number_range(self, account, frm, to):
        return self._acct_window(account, frm, to, False, False, "from")

    def transaction_count_from_account_by_time_range(self, account, frm, to):
        return self._acct_window(account, frm, to, True, True, "from")

    def transactions_from_account_by_time_range(self, account, frm, to):
        return self._acct_window(account, frm, to, True, False, "from")

    def transaction_count_to_account_by_number_range(self, account, frm, to):
        return self._acct_window(account, frm, to, False, True, "to")

    def transactions_to_account_by_number_range(self, account, frm, to):
        return self._acct_window(account, frm, to, False, False, "to")

    def transaction_count_to_account_by_time_range(self, account, frm, to):
        return self._acct_window(account, frm, to, True, True, "to")

    def transactions_to_account_by_time_range(self, account, frm, to):
        return self._acct_window(account, frm, to, True, False, "to")

    def _between(self, from_account, to_account, frm, to, by_time, count):
        if not is_address(from_account):
            raise ValidationError("Bad From Account Address")
        if not is_address(to_account):
            raise ValidationError("Bad To Account Address")
        f, t = self._time_range(frm, to) if by_time else self._blk_range(frm, to)
        rows = self.q.rows(
            f"get_transaction{'_count' if count else 's'}_between_accounts_by_block_"
            f"{'time' if by_time else 'number'}_range",
            from_account, to_account, f, t,
        )
        return _scalar(rows) if count else _all(rows, tx_model)

    def transaction_count_between_accounts_by_number_range(self, fa, ta, frm, to):
        return self._between(fa, ta, frm, to, False, True)

    def transactions_between_accounts_by_number_range(self, fa, ta, frm, to):
        return self._between(fa, ta, frm, to, False, False)

    def transaction_count_between_accounts_by_time_range(self, fa, ta, frm, to):
        return self._between(fa, ta, frm, to, True, True)

    def transactions_between_accounts_by_time_range(self, fa, ta, frm, to):
        return self._between(fa, ta, frm, to, True, False)

    def contracts_created_from_account_by_number_range(self, account, frm, to):
        self._addr(account, "Bad Account Address")
        f, t = self._blk_range(frm, to)
        return _all(
            self.q.rows(
                "get_contract_creation_transactions_from_account_by_block_number_range",
                account, f, t
            ),
            tx_model,
        )

    def contracts_created_from_account_by_time_range(self, account, frm, to):
        self._addr(account, "Bad Account Address")
        f, t = self._time_range(frm, to)
        return _all(
            self.q.rows(
                "get_contract_creation_transactions_from_account_by_block_time_range",
                account, f, t
            ),
            tx_model,
        )

    def transaction_from_account_with_nonce(self, account: str, nonce: str):
        self._addr(account, "Bad Account Address")
        n = long_or_not_found(parse_number(nonce, "Bad Account Nonce"))
        return _first(
            self.q.rows("get_transaction_from_account_with_nonce", account, n), tx_model
        )

    # -- events (schema.resolvers.go:373-497) ------------------------------

    def events_from_contract_by_number_range(self, contract, frm, to):
        self._addr(contract, "Bad Contract Address")
        f, t = self._blk_range(frm, to)
        return _all(
            self.q.rows("get_events_from_contract_by_block_number_range", contract, f, t),
            event_model,
        )

    def events_from_contract_by_time_range(self, contract, frm, to):
        self._addr(contract, "Bad Contract Address")
        f, t = self._time_range(frm, to)
        return _all(
            self.q.rows("get_events_from_contract_by_block_time_range", contract, f, t),
            event_model,
        )

    def events_by_block_hash(self, hash: str):
        self._hash(hash, "Bad Block Hash")
        return _all(self.q.rows("get_events_by_block_hash", hash), event_model)

    def events_by_tx_hash(self, hash: str):
        self._hash(hash, "Bad Transaction Hash")
        return _all(self.q.rows("get_events_by_transaction_hash", hash), event_model)

    def _topics_map(self, topics: list[str]) -> dict[int, str]:
        padded = fill_up_topic_array(topics)
        return {i: t for i, t in enumerate(padded) if t}

    def events_from_contract_with_topics_by_number_range(
        self, contract, frm, to, topics
    ):
        self._addr(contract, "Bad Contract Address")
        f, t = self._blk_range(frm, to)
        return _all(
            self.q.rows(
                "get_events_from_contract_with_topics_by_block_number_range",
                contract, f, t, self._topics_map(topics)
            ),
            event_model,
        )

    def events_from_contract_with_topics_by_time_range(self, contract, frm, to, topics):
        self._addr(contract, "Bad Contract Address")
        f, t = self._time_range(frm, to)
        return _all(
            self.q.rows(
                "get_events_from_contract_with_topics_by_block_time_range",
                contract, f, t, self._topics_map(topics)
            ),
            event_model,
        )

    def last_x_events_from_contract(self, contract: str, x: int):
        self._addr(contract, "Bad Contract Address")
        if not x <= self.config.max_events_topk:
            raise ValidationError("Too Many Events Requested")
        rows = self.q.rows("get_last_x_events_from_contract", contract, x)
        return _all(rows, event_model)

    def event_by_block_hash_and_log_index(self, hash: str, index: str):
        self._hash(hash, "Bad Block Hash")
        i = long_or_not_found(parse_number(index, "Bad Log Index"))
        return _first(
            self.q.rows("get_event_by_block_hash_and_log_index", hash, i), event_model
        )

    def event_by_block_number_and_log_index(self, number: str, index: str):
        n = long_or_not_found(parse_number(number, "Bad Block Number"))
        i = long_or_not_found(parse_number(index, "Bad Log Index"))
        return _first(
            self.q.rows("get_event_by_block_number_and_log_index", n, i), event_model
        )


#: schema field name (camelCase) → resolver method, for wiring into a
#: GraphQL server; also the parity checklist against schema.graphqls.
FIELD_MAP = {
    "blockByHash": "block_by_hash",
    "blockByNumber": "block_by_number",
    "blocksByNumberRange": "blocks_by_number_range",
    "blocksByTimeRange": "blocks_by_time_range",
    "transaction": "transaction",
    "transactionCountByBlockHash": "transaction_count_by_block_hash",
    "transactionsByBlockHash": "transactions_by_block_hash",
    "transactionCountByBlockNumber": "transaction_count_by_block_number",
    "transactionsByBlockNumber": "transactions_by_block_number",
    "transactionCountFromAccountByNumberRange": "transaction_count_from_account_by_number_range",
    "transactionsFromAccountByNumberRange": "transactions_from_account_by_number_range",
    "transactionCountFromAccountByTimeRange": "transaction_count_from_account_by_time_range",
    "transactionsFromAccountByTimeRange": "transactions_from_account_by_time_range",
    "transactionCountToAccountByNumberRange": "transaction_count_to_account_by_number_range",
    "transactionsToAccountByNumberRange": "transactions_to_account_by_number_range",
    "transactionCountToAccountByTimeRange": "transaction_count_to_account_by_time_range",
    "transactionsToAccountByTimeRange": "transactions_to_account_by_time_range",
    "transactionCountBetweenAccountsByNumberRange": "transaction_count_between_accounts_by_number_range",
    "transactionsBetweenAccountsByNumberRange": "transactions_between_accounts_by_number_range",
    "transactionCountBetweenAccountsByTimeRange": "transaction_count_between_accounts_by_time_range",
    "transactionsBetweenAccountsByTimeRange": "transactions_between_accounts_by_time_range",
    "contractsCreatedFromAccountByNumberRange": "contracts_created_from_account_by_number_range",
    "contractsCreatedFromAccountByTimeRange": "contracts_created_from_account_by_time_range",
    "transactionFromAccountWithNonce": "transaction_from_account_with_nonce",
    "eventsFromContractByNumberRange": "events_from_contract_by_number_range",
    "eventsFromContractByTimeRange": "events_from_contract_by_time_range",
    "eventsByBlockHash": "events_by_block_hash",
    "eventsByTxHash": "events_by_tx_hash",
    "eventsFromContractWithTopicsByNumberRange": "events_from_contract_with_topics_by_number_range",
    "eventsFromContractWithTopicsByTimeRange": "events_from_contract_with_topics_by_time_range",
    "lastXEventsFromContract": "last_x_events_from_contract",
    "eventByBlockHashAndLogIndex": "event_by_block_hash_and_log_index",
    "eventByBlockNumberAndLogIndex": "event_by_block_number_and_log_index",
}
