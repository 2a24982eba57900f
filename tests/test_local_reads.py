"""Bounded REST/GraphQL reads served from the store's parquet objects
(``AtomicBlockStore.local_rows`` through ``HistoricalQueries.rows``):
the same JSON as the Spark plans, no Spark job, and the Spark plan
whenever the store declines (delta chain, byte cap)."""

from __future__ import annotations

import functools
import io
import json
from contextlib import redirect_stdout

import pytest

from evm_indexer_spark.api import RestFacade
from evm_indexer_spark.errors import NotFoundError, ValidationError
from evm_indexer_spark.graphql import GraphQLResolvers
from evm_indexer_spark.operators.historical import HistoricalQueries
from evm_indexer_spark.schemas import BLOCK_BUCKET_SIZE as BBS
from evm_indexer_spark.streaming import txstore
from evm_indexer_spark.streaming.ingest import process_raw_batch
from evm_indexer_spark.streaming.txstore import AtomicBlockStore, HashIndex

from .test_streaming import make_raw, raw_block

NUMBERS = range(BBS - 6, BBS + 6)  # contiguous, across the bucket 0/1 boundary
REORGED = BBS - 3
HUGE = str(2**63)  # parses as uint64, can never be stored
F0, F1 = ("0x" + f"F{i}".ljust(40, "0")[:40] for i in range(2))
E0 = "0x" + "E0".ljust(40, "0")[:40]
ORIGIN = "0x" + "AB".ljust(40, "0")[:40]


def _t(n: int) -> int:
    """Block time assigned by ``raw_block``."""
    return 1_600_000_000 + 2 * n


@pytest.fixture(scope="module")
def store(spark, tmp_path_factory):
    """Two buckets; the second commit replaces one block (a reorg)."""
    s = AtomicBlockStore(spark, str(tmp_path_factory.mktemp("local_reads")))
    process_raw_batch(s, make_raw(spark, [raw_block(n) for n in NUMBERS]))
    process_raw_batch(s, make_raw(spark, [raw_block(REORGED, salt="R")]))
    return s


def _rest_cases() -> list[tuple[str, dict]]:
    both = {"fromBlock": str(BBS - 6), "toBlock": str(BBS + 5)}
    both_t = {"fromTime": str(_t(BBS - 4)), "toTime": str(_t(BBS + 3))}
    return [
        ("block", {"number": str(REORGED)}),
        ("block", {"number": str(BBS + 1)}),
        ("block", {"number": str(5 * BBS)}),  # bucket absent from the manifest
        ("block", {"number": HUGE}),
        ("block", {"number": str(REORGED), "tx": "yes"}),
        ("block", {"number": str(BBS + 2), "tx": "yes"}),
        ("block", both),
        ("block", {"fromBlock": "10", "toBlock": "20"}),  # empty window
        ("block", both_t),
        ("block", {"fromTime": "5", "toTime": "50"}),
        ("transaction", {"fromAccount": F0, **both}),
        ("transaction", {"fromAccount": F0, **both_t}),
        ("transaction", {"toAccount": E0, **both}),
        ("transaction", {"toAccount": E0, **both_t}),
        ("transaction", {"fromAccount": F0, "toAccount": E0, **both}),
        ("transaction", {"fromAccount": F1, "toAccount": E0, **both_t}),
        ("transaction", {"deployer": F1, **both}),
        ("transaction", {"deployer": F1, **both_t}),
        ("event", {"blockNumber": str(REORGED), "logIndex": "1"}),
        ("event", {"blockNumber": str(BBS), "logIndex": "0"}),
        ("event", {"blockNumber": str(BBS), "logIndex": "9"}),
        ("event", {"blockNumber": HUGE, "logIndex": "0"}),
        ("event", {"contract": ORIGIN, **both}),
        ("event", {"contract": ORIGIN, **both_t}),
    ]


def _gql_cases() -> list[tuple[str, tuple]]:
    lo, hi, tlo, thi = str(BBS - 6), str(BBS + 5), str(_t(BBS - 4)), str(_t(BBS + 3))
    return [
        ("block_by_number", (str(REORGED),)),
        ("blocks_by_number_range", (lo, hi)),
        ("blocks_by_time_range", (tlo, thi)),
        ("transaction_count_by_block_number", (str(BBS + 1),)),
        ("transaction_count_by_block_number", (HUGE,)),
        ("transactions_by_block_number", (str(REORGED),)),
        *(
            (f"transaction{n}_{kind}_by_{by}_range", (*accounts, *window))
            for n in ("_count", "s")
            for kind, accounts in (
                ("from_account", (F0,)),
                ("to_account", (E0,)),
                ("between_accounts", (F0, E0)),
            )
            for by, window in (("number", (lo, hi)), ("time", (tlo, thi)))
        ),
        ("contracts_created_from_account_by_number_range", (F1, lo, hi)),
        ("contracts_created_from_account_by_time_range", (F1, tlo, thi)),
        ("events_from_contract_by_number_range", (ORIGIN, lo, hi)),
        ("events_from_contract_by_time_range", (ORIGIN, "5", "50")),
        ("event_by_block_number_and_log_index", (str(BBS - 1), "1")),
    ]


def _canon(out):
    """Order-insensitive JSON, except block lists (ordered by number)."""
    if isinstance(out, dict) and ("transactions" in out or "events" in out):
        (key, rows), = out.items()
        return {key: sorted(json.dumps(r, sort_keys=True) for r in rows)}
    if isinstance(out, list) and out and "miner" not in out[0]:
        return sorted(json.dumps(r, sort_keys=True) for r in out)
    return out


def _answers(q: HistoricalQueries) -> list:
    facade, gql = RestFacade(q), GraphQLResolvers(q)
    calls = [lambda m=m, p=p: getattr(facade, m)(p) for m, p in _rest_cases()]
    calls += [lambda m=m, a=a: getattr(gql, m)(*a) for m, a in _gql_cases()]
    out = []
    for call in calls:
        try:
            out.append(_canon(call()))
        except (NotFoundError, ValidationError) as e:
            out.append((type(e).__name__, str(e)))
    return out


def _spy_local_rows(monkeypatch) -> list:
    """Record every ``local_rows`` answer (None: declined)."""
    seen, real = [], AtomicBlockStore.local_rows

    def spy(self, *args, **kwargs):
        seen.append(real(self, *args, **kwargs))
        return seen[-1]

    monkeypatch.setattr(AtomicBlockStore, "local_rows", spy)
    return seen


def _force_spark(monkeypatch) -> None:
    monkeypatch.setattr(AtomicBlockStore, "local_rows", lambda *a, **k: None)


def test_local_path_answers_like_the_spark_plans(store, monkeypatch):
    with monkeypatch.context() as m:
        seen = _spy_local_rows(m)
        local = _answers(store.historical_queries())
    assert seen and all(r is not None for r in seen)
    with monkeypatch.context() as m:
        _force_spark(m)
        spark_side = _answers(store.historical_queries())
    assert local == spark_side
    # the windows really found rows, the reorged-away block did not
    found = [a for a in local if not isinstance(a, tuple)]
    assert len(found) >= 30
    old = raw_block(REORGED)["hash"].lower()
    assert old not in json.dumps(local)


def test_empty_store_answers_like_the_spark_plans(spark, tmp_path, monkeypatch):
    empty = AtomicBlockStore(spark, str(tmp_path / "empty"))
    local = _answers(empty.historical_queries())
    _force_spark(monkeypatch)
    assert local == _answers(empty.historical_queries())


def _spy_plan(monkeypatch, name: str) -> list:
    """Record calls of the Spark plan *name* (the spy keeps its twin)."""
    calls, real = [], getattr(HistoricalQueries, name)

    @functools.wraps(real)
    def spy(self, *args):
        calls.append(args)
        return real(self, *args)

    monkeypatch.setattr(HistoricalQueries, name, spy)
    return calls


def _window_answers(s: AtomicBlockStore) -> list:
    facade, window = s.rest_facade(), {"fromBlock": "0", "toBlock": "9"}
    return [
        facade.block(window),
        _canon(facade.transaction({"fromAccount": F0, **window})),
    ]


def test_delta_chain_is_answered_by_the_spark_plan(spark, tmp_path, monkeypatch):
    """Two delta commits into one bucket: merge-on-read is the Spark
    plan's job; compacted, the same rows come back on the local path."""
    s = AtomicBlockStore(spark, str(tmp_path / "d"), commit_mode="delta")
    process_raw_batch(s, make_raw(spark, [raw_block(n) for n in range(6)]))
    process_raw_batch(s, make_raw(spark, [raw_block(3, salt="R"), raw_block(7)]))
    with monkeypatch.context() as m:
        seen = _spy_local_rows(m)
        blocks_plan = _spy_plan(m, "get_blocks_by_number_range")
        txs_plan = _spy_plan(m, "get_transactions_from_account_by_block_number_range")
        chained = _window_answers(s)
    assert seen == [None, None] and blocks_plan and txs_plan
    assert [b["number"] for b in chained[0]["blocks"]] == [0, 1, 2, 3, 4, 5, 7]

    assert s.compact() > 0
    with monkeypatch.context() as m:
        seen = _spy_local_rows(m)
        blocks_plan = _spy_plan(m, "get_blocks_by_number_range")
        compacted = _window_answers(s)
    assert seen and all(r is not None for r in seen) and not blocks_plan
    assert compacted == chained


def test_objects_over_the_byte_cap_go_to_the_spark_plan(store, monkeypatch):
    q = store.historical_queries()
    want = q.rows("get_blocks_by_number_range", BBS - 6, BBS + 5)
    monkeypatch.setattr(txstore, "LOCAL_READ_BYTE_CAP", 1)
    plan = _spy_plan(monkeypatch, "get_blocks_by_number_range")
    got = q.rows("get_blocks_by_number_range", BBS - 6, BBS + 5)
    assert plan and [r["hash"] for r in got] == [r["hash"] for r in want]


def test_routed_request_launches_no_spark_job(spark, store):
    """A guardrail-bounded window read runs on the driver: zero jobs in
    the request's job group."""
    facade = store.rest_facade()
    sc = spark.sparkContext
    group = "local-read-probe"
    sc.setJobGroup(group, group, False)
    try:
        out = facade.block({"fromBlock": str(BBS - 2), "toBlock": str(BBS + 2)})
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert [b["number"] for b in out["blocks"]] == list(range(BBS - 2, BBS + 3))
    assert list(sc.statusTracker().getJobIdsForGroup(group)) == []


def test_hash_index_lookups_push_the_hash_filter(spark, store):
    """Stored hashes are lowercase, so the by-hash lookups compare the
    column itself and the equality reaches the parquet scan."""
    idx = HashIndex(store)
    h = raw_block(BBS)["hash"].upper().replace("0X", "0x")
    lookups = (
        (idx.lookup_block(h), "hash"),
        (idx.lookup_block_transactions(h), "blockhash"),
    )
    for df, col in lookups:
        buf = io.StringIO()
        with redirect_stdout(buf):
            df.explain("formatted")
        pushed = buf.getvalue().split("PushedFilters:", 1)[1].splitlines()[0]
        assert f"EqualTo({col},{h.lower()})" in pushed, pushed
    assert idx.lookup_block(h).count() == 1
