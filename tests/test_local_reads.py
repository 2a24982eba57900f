"""Bounded and by-hash REST/GraphQL reads served from the store's
parquet objects (``AtomicBlockStore.local_rows`` through
``HistoricalQueries.rows``, by-hash reads through the manifest-committed
hash index): the same JSON as the Spark plans, no Spark job, and the
Spark plan whenever the store declines (delta chain, byte cap, a store
older than the hash index)."""

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
from evm_indexer_spark.sources.normalize import (
    normalize_blocks,
    normalize_events,
    normalize_transactions,
)
from evm_indexer_spark.streaming.ingest import process_raw_batch
from evm_indexer_spark.streaming.txstore import AtomicBlockStore

from .test_streaming import make_raw, raw_block

NUMBERS = range(BBS - 6, BBS + 6)  # contiguous, across the bucket 0/1 boundary
REORGED = BBS - 3
REINCLUDED = BBS + 4  # replaced by a block carrying REORGED's first tx
HUGE = str(2**63)  # parses as uint64, can never be stored
F0, F1 = ("0x" + f"F{i}".ljust(40, "0")[:40] for i in range(2))
E0 = "0x" + "E0".ljust(40, "0")[:40]
ORIGIN = "0x" + "AB".ljust(40, "0")[:40]


def _t(n: int) -> int:
    """Block time assigned by ``raw_block``."""
    return 1_600_000_000 + 2 * n


def _mixed(h: str) -> str:
    """*h* with an upper-case body, as a client may send it."""
    return "0x" + h[2:].upper()


OLD_TX = raw_block(REORGED)["transactions"][0]["hash"].lower()
ORPHAN_TX = raw_block(REINCLUDED, salt="X")["transactions"][1]["hash"].lower()


def _reinclusion(spark):
    """Block REINCLUDED again, now carrying OLD_TX (whose block the
    second commit reorged away, in the other bucket), with its second
    transaction's row missing while that transaction's event stays."""
    doc = raw_block(REINCLUDED, salt="X")
    doc["transactions"][0]["hash"] = OLD_TX
    raw = make_raw(spark, [doc])
    txs = normalize_transactions(raw).filter(f"hash != '{ORPHAN_TX}'")
    return normalize_blocks(raw), txs, normalize_events(raw)


@pytest.fixture(scope="module")
def store(spark, tmp_path_factory):
    """Two buckets; the second commit replaces one block (a reorg), the
    third re-includes one of its transactions in the other bucket."""
    s = AtomicBlockStore(spark, str(tmp_path_factory.mktemp("local_reads")))
    process_raw_batch(s, make_raw(spark, [raw_block(n) for n in NUMBERS]))
    process_raw_batch(s, make_raw(spark, [raw_block(REORGED, salt="R")]))
    s.upsert_batch(*_reinclusion(spark))
    return s


def _rest_cases() -> list[tuple[str, dict]]:
    both = {"fromBlock": str(BBS - 6), "toBlock": str(BBS + 5)}
    both_t = {"fromTime": str(_t(BBS - 4)), "toTime": str(_t(BBS + 3))}
    blk = raw_block(BBS + 1)["hash"]
    tx = raw_block(BBS - 1)["transactions"][1]["hash"]
    absent = "0x" + "ab" * 32
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
        ("block", {"hash": blk}),
        ("block", {"hash": _mixed(blk)}),
        ("block", {"hash": raw_block(REORGED)["hash"]}),  # reorged away
        ("block", {"hash": raw_block(REORGED, salt="R")["hash"]}),
        ("block", {"hash": absent}),
        ("block", {"hash": blk, "tx": "yes"}),
        ("block", {"hash": _mixed(blk), "tx": "yes"}),
        ("block", {"hash": absent, "tx": "yes"}),
        ("transaction", {"hash": tx}),
        ("transaction", {"hash": _mixed(tx)}),
        ("transaction", {"hash": OLD_TX}),  # re-included in bucket 1
        ("transaction", {"hash": ORPHAN_TX}),  # its row is missing
        ("transaction", {"hash": absent}),
        ("event", {"txHash": tx}),
        ("event", {"txHash": _mixed(OLD_TX)}),
        ("event", {"txHash": ORPHAN_TX}),  # event without its tx row
        ("event", {"txHash": absent}),
        ("event", {"blockHash": blk}),
        ("event", {"blockHash": raw_block(REORGED)["hash"]}),
        ("event", {"blockHash": _mixed(blk), "logIndex": "1"}),
        ("event", {"blockHash": blk, "logIndex": "7"}),
    ]


def _gql_cases() -> list[tuple[str, tuple]]:
    lo, hi, tlo, thi = str(BBS - 6), str(BBS + 5), str(_t(BBS - 4)), str(_t(BBS + 3))
    blk, re_blk = raw_block(BBS - 2)["hash"], raw_block(REINCLUDED, salt="X")["hash"]
    absent = "0x" + "cd" * 32
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
        ("block_by_hash", (_mixed(blk),)),
        ("block_by_hash", (raw_block(REINCLUDED)["hash"],)),  # reorged away
        ("block_by_hash", (absent,)),
        ("transaction", (OLD_TX,)),
        ("transaction", (absent,)),
        ("transaction_count_by_block_hash", (blk,)),
        ("transaction_count_by_block_hash", (re_blk,)),
        ("transaction_count_by_block_hash", (absent,)),
        ("transactions_by_block_hash", (_mixed(re_blk),)),
        ("events_by_block_hash", (re_blk,)),
        ("events_by_tx_hash", (ORPHAN_TX,)),
        ("events_by_tx_hash", (_mixed(OLD_TX),)),
        ("event_by_block_hash_and_log_index", (blk, "0")),
        ("event_by_block_hash_and_log_index", (absent, "0")),
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


def _spy_store(monkeypatch, name: str = "local_rows") -> list:
    """Record every answer of ``AtomicBlockStore.<name>`` (None: the
    store declined)."""
    seen, real = [], getattr(AtomicBlockStore, name)

    def spy(self, *args, **kwargs):
        seen.append(real(self, *args, **kwargs))
        return seen[-1]

    monkeypatch.setattr(AtomicBlockStore, name, spy)
    return seen


def _force_spark(monkeypatch) -> None:
    monkeypatch.setattr(AtomicBlockStore, "local_rows", lambda *a, **k: None)


def test_local_path_answers_like_the_spark_plans(store, monkeypatch):
    with monkeypatch.context() as m:
        seen = _spy_store(m)
        lookups = _spy_store(m, "bucket_of_hash")
        local = _answers(store.historical_queries())
    assert seen and all(r is not None for r in seen)
    assert lookups and None not in lookups
    assert [1] in lookups and [0, 1] in lookups  # OLD_TX: stale + live bucket
    with monkeypatch.context() as m:
        _force_spark(m)
        spark_side = _answers(store.historical_queries())
    assert local == spark_side
    # the windows and hashes really found rows, the reorged-away block did not
    found = [a for a in local if not isinstance(a, tuple)]
    assert len(found) >= 60
    old = raw_block(REORGED)["hash"].lower()
    assert old not in json.dumps(local)
    # the re-included tx and the orphaned event are answered from bucket 1
    by_hash = dict(zip(map(repr, _rest_cases()), local))
    reinc = by_hash[repr(("transaction", {"hash": OLD_TX}))]
    assert reinc["blockHash"] == raw_block(REINCLUDED, salt="X")["hash"].lower()
    orphan = by_hash[repr(("event", {"txHash": ORPHAN_TX}))]
    assert len(orphan["events"]) == 1
    assert by_hash[repr(("transaction", {"hash": ORPHAN_TX}))][0] == "NotFoundError"
    # a hash whose shard cannot name a directory reads on Spark
    with monkeypatch.context() as m:
        plan = _spy_plan(m, "get_block_by_hash")
        with pytest.raises(NotFoundError):
            RestFacade(store.historical_queries()).block({"hash": "0x" + "-" * 64})
    assert plan


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
        seen = _spy_store(m)
        blocks_plan = _spy_plan(m, "get_blocks_by_number_range")
        txs_plan = _spy_plan(m, "get_transactions_from_account_by_block_number_range")
        chained = _window_answers(s)
    assert seen == [None, None] and blocks_plan and txs_plan
    assert [b["number"] for b in chained[0]["blocks"]] == [0, 1, 2, 3, 4, 5, 7]

    assert s.compact() > 0
    with monkeypatch.context() as m:
        seen = _spy_store(m)
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
    """Stored hashes are lowercase, so the Spark fallbacks of the
    by-hash reads compare the column itself and the equality reaches
    the parquet scan."""
    q = store.historical_queries()
    h = _mixed(raw_block(BBS)["hash"])
    lookups = (
        (q.get_block_by_hash(h), "hash"),
        (q.get_transactions_by_block_hash(h), "blockhash"),
    )
    for df, col in lookups:
        buf = io.StringIO()
        with redirect_stdout(buf):
            df.explain("formatted")
        pushed = buf.getvalue().split("PushedFilters:", 1)[1].splitlines()[0]
        assert f"EqualTo({col},{h.lower()})" in pushed, pushed
    assert q.get_block_by_hash(h).count() == 1


def test_by_hash_request_launches_no_spark_job(spark, store):
    """A by-hash read resolves its buckets through the hash index and
    reads them on the driver: zero jobs in the request's job group."""
    facade = store.rest_facade()
    blk = raw_block(BBS + 2)
    sc = spark.sparkContext
    group = "by-hash-probe"
    sc.setJobGroup(group, group, False)
    try:
        block = facade.block({"hash": _mixed(blk["hash"])})
        tx = facade.transaction({"hash": blk["transactions"][0]["hash"]})
        events = facade.event({"txHash": OLD_TX})
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert block["number"] == BBS + 2
    assert tx["blockHash"] == blk["hash"].lower()
    assert [e["txHash"] for e in events["events"]] == [OLD_TX]
    assert list(sc.statusTracker().getJobIdsForGroup(group)) == []
    assert facade.hash_index is store


def _hash_answers(s: AtomicBlockStore, blocks: list[dict]) -> list:
    facade = s.rest_facade()
    out = []
    for b in blocks:
        out.append(facade.block({"hash": b["hash"]}))
        out.append(_canon(facade.block({"hash": b["hash"], "tx": "yes"})))
        out.append(facade.transaction({"hash": b["transactions"][0]["hash"]}))
        out.append(_canon(facade.event({"txHash": b["transactions"][1]["hash"]})))
    return out


def test_by_hash_delta_chain_is_answered_by_the_spark_plan(spark, tmp_path, monkeypatch):
    """A by-hash read whose bucket carries a delta chain runs the Spark
    plan (the index names the bucket, merge-on-read declines it);
    compacted, the same rows come back on the local path."""
    s = AtomicBlockStore(spark, str(tmp_path / "d"), commit_mode="delta")
    process_raw_batch(s, make_raw(spark, [raw_block(n) for n in range(4)]))
    process_raw_batch(s, make_raw(spark, [raw_block(2, salt="R"), raw_block(5)]))
    live = [raw_block(n) for n in (0, 1, 3)] + [raw_block(2, salt="R"), raw_block(5)]
    with monkeypatch.context() as m:
        seen = _spy_store(m)
        lookups = _spy_store(m, "bucket_of_hash")
        plan = _spy_plan(m, "get_block_by_hash")
        chained = _hash_answers(s, live)
    assert seen and all(r is None for r in seen) and len(plan) == len(live)
    assert lookups and all(b == [0] for b in lookups)
    assert [a["number"] for a in chained[::4]] == [0, 1, 3, 2, 5]

    assert s.compact() > 0
    assert s._manifest()["hashes"] == [s._manifest()["version"]]
    with monkeypatch.context() as m:
        seen = _spy_store(m)
        plan = _spy_plan(m, "get_block_by_hash")
        compacted = _hash_answers(s, live)
    assert seen and all(r is not None for r in seen) and not plan
    assert compacted == chained
    with pytest.raises(NotFoundError):
        s.rest_facade().block({"hash": raw_block(2)["hash"]})  # reorged away


def test_store_older_than_the_hash_index_reads_by_hash_on_spark(
    spark, tmp_path, monkeypatch
):
    """A manifest past version 0 without ``hashes`` predates the index,
    which would be incomplete there: the store never starts one, and
    its by-hash reads run the Spark plans."""
    s = AtomicBlockStore(spark, str(tmp_path / "old"))
    process_raw_batch(s, make_raw(spark, [raw_block(0), raw_block(1)]))
    m = s._manifest()
    del m["hashes"]
    s._commit_manifest(m)  # as an older build left it
    process_raw_batch(s, make_raw(spark, [raw_block(2)]))
    m = s._manifest()
    assert "hashes" not in m and m["version"] == 2
    assert not (tmp_path / "old" / "objects" / "hashes" / "c2").exists()
    blocks = [raw_block(n) for n in range(3)]
    with monkeypatch.context() as mp:
        lookups = _spy_store(mp, "bucket_of_hash")
        plan = _spy_plan(mp, "get_block_by_hash")
        old = _hash_answers(s, blocks)
    assert lookups and all(b is None for b in lookups) and len(plan) == 3
    assert [a["number"] for a in old[::4]] == [0, 1, 2]
    with monkeypatch.context() as mp:
        _force_spark(mp)
        assert _hash_answers(s, blocks) == old
