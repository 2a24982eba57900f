"""Streaming-path tests (SURVEY §5.3): reorg replace, publish-once,
depth gating, gap repair, subscription wildcard matrices, and an
end-to-end file-source stream with checkpoint."""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import functions as F

from evm_indexer_spark.functions.topics import (
    event_subscription_match,
    tx_subscription_match,
)
from evm_indexer_spark.sources.normalize import (
    RAW_BLOCK_SCHEMA,
    normalize_blocks,
    normalize_events,
    normalize_transactions,
)
from evm_indexer_spark.streaming.ingest import (
    confirmed_blocks,
    process_raw_batch,
    repair_gaps,
    start_ingest_stream,
)
from evm_indexer_spark.streaming.txstore import AtomicBlockStore


def raw_block(number: int, salt: str = "", n_tx: int = 2) -> dict:
    h = lambda tag: "0x" + f"{tag}{number}{salt}".ljust(64, "a")[:64]
    txs = []
    for i in range(n_tx):
        creating = i == 1
        txs.append(
            {
                "hash": h(f"tx{i}"),
                "from": "0x" + f"F{i}".ljust(40, "0")[:40],
                "to": None if creating else "0x" + f"E{i}".ljust(40, "0")[:40],
                "contractAddress": ("0x" + "C".ljust(40, "0")[:40]) if creating else None,
                "value": str(10**19 + number),
                "input": "0xdeadbeef" if i == 0 else "0x",
                "gas": 21000 + i,
                "gasPrice": "1000000000",
                "nonce": number * 10 + i,
                "status": 1,
                "logs": [
                    {
                        "index": i,
                        "address": "0x" + "AB".ljust(40, "0")[:40],
                        "topics": [h("TOPIC0"), h("TOPIC1")],
                        "data": "0x00ff",
                    }
                ],
            }
        )
    return {
        "hash": h("blk"),
        "number": number,
        "timestamp": 1_600_000_000 + 2 * number,
        "parentHash": h("blkparent"),
        "difficulty": "1000000",
        "gasUsed": 12345,
        "gasLimit": 30_000_000,
        "nonce": number,
        "miner": "0x" + "M".ljust(40, "0")[:40],
        "size": 1000.0,
        "stateRoot": h("sroot"),
        "sha3Uncles": h("uroot"),
        "transactionsRoot": h("troot"),
        "receiptsRoot": h("rroot"),
        "extraData": "0xff00",
        "transactions": txs,
    }


def raw_df(spark, docs):
    return spark.createDataFrame(
        spark.sparkContext.parallelize([json.dumps(d) for d in docs]),
        schema=RAW_BLOCK_SCHEMA,
    )


def make_raw(spark, docs):
    return spark.read.schema(RAW_BLOCK_SCHEMA).json(
        spark.sparkContext.parallelize([json.dumps(d) for d in docs])
    )


class TestNormalize:
    def test_blocks(self, spark):
        b = normalize_blocks(make_raw(spark, [raw_block(7)])).collect()[0]
        assert b["number"] == 7
        assert b["time"] == 1_600_000_014
        assert b["nonce"] == "0x7"
        assert b["extradata"] == b"\xff\x00"
        assert b["hash"].startswith("0xblk7")

    def test_tx_contract_creation_branch(self, spark):
        rows = normalize_transactions(make_raw(spark, [raw_block(7)])).collect()
        normal = [r for r in rows if r["to"] != ""][0]
        creation = [r for r in rows if r["to"] == ""][0]
        # to/contract mutually exclusive (pack_tx.go:16-48)
        assert normal["contract"] == "" and normal["to"] != ""
        assert creation["contract"].startswith("0xc") and creation["to"] == ""
        assert normal["data"] == b"\xde\xad\xbe\xef"
        # cost = gas*gasprice + value in exact decimal
        assert int(normal["cost"]) == 21000 * 1_000_000_000 + 10**19 + 7

    def test_events_lowercase_topics(self, spark):
        rows = normalize_events(make_raw(spark, [raw_block(7)])).collect()
        assert len(rows) == 2
        for r in rows:
            assert r["origin"] == r["origin"].lower()
            assert all(t == t.lower() for t in r["topics"])
        assert rows[0]["data"] == b"\x00\xff"


class TestStore:
    def test_upsert_and_reorg_replace(self, spark, tmp_path):
        store = AtomicBlockStore(spark, str(tmp_path / "store"))
        batch1 = make_raw(spark, [raw_block(n) for n in range(5)])
        process_raw_batch(store, batch1)
        assert store.blocks().count() == 5
        assert store.transactions().count() == 10
        assert store.events().count() == 10

        old_hash3 = store.blocks().filter(F.col("number") == 3).first()["hash"]

        # reorg: block 3 replaced by a different hash with 3 txs
        batch2 = make_raw(spark, [raw_block(3, salt="REORG", n_tx=3)])
        process_raw_batch(store, batch2)

        blocks = store.blocks()
        assert blocks.count() == 5  # replaced, not appended
        new3 = blocks.filter(F.col("number") == 3).collect()
        assert len(new3) == 1 and new3[0]["hash"] != old_hash3
        # cascade: old block-3 children gone, new ones present (S10)
        txs = store.transactions()
        assert txs.filter(F.col("blockhash") == old_hash3).count() == 0
        assert txs.filter(F.col("blockhash") == new3[0]["hash"]).count() == 3
        assert txs.count() == 8 + 3
        assert store.events().filter(F.col("blockhash") == old_hash3).count() == 0

    def test_publish_once(self, spark, tmp_path):
        store = AtomicBlockStore(spark, str(tmp_path / "store"))
        batch = make_raw(spark, [raw_block(n) for n in range(3)])
        fresh1 = process_raw_batch(store, batch)
        assert fresh1.count() == 3
        # duplicate delivery (restart / re-announce) publishes nothing (T5)
        fresh2 = process_raw_batch(store, batch)
        assert fresh2.count() == 0
        # a reorged block at a known number IS re-published (new hash)
        fresh3 = process_raw_batch(
            store, make_raw(spark, [raw_block(1, salt="R")])
        )
        assert fresh3.count() == 1

    def test_on_fresh_callback_arity_contract(self, spark, tmp_path):
        """The publish hook contract: 2-arg callbacks (pre-round-14)
        get (store, fresh); 3-arg callbacks additionally get THIS
        batch's normalized (blocks, txs, events) frames, whose fresh
        subset must carry the full batch content — the O(batch)
        payload source that spares the publisher three per-micro-batch
        full-store scans."""
        store = AtomicBlockStore(spark, str(tmp_path / "store"))
        seen2, seen3 = [], []

        def cb2(store_, fresh):
            seen2.append(fresh.count())

        process_raw_batch(
            store, make_raw(spark, [raw_block(n) for n in range(3)]),
            on_fresh=cb2,
        )
        assert seen2 == [3]

        def cb3(store_, fresh, batch):
            blocks, txs, events = batch
            hit = blocks.join(fresh, ["number", "hash"], "left_semi")
            seen3.append(
                (fresh.count(), hit.count(), txs.count(), events.count())
            )

        process_raw_batch(
            store, make_raw(spark, [raw_block(n) for n in range(3, 5)]),
            on_fresh=cb3,
        )
        (n_fresh, n_hit, n_txs, n_events) = seen3[0]
        assert n_fresh == 2 and n_hit == 2  # fresh ⊆ batch blocks
        assert n_txs > 0 and n_events >= 0  # batch frames, not store

    def test_on_fresh_arity_counts_positional_slots_only(self, spark, tmp_path):
        """Round-15 ADVICE: param COUNT alone misclassifies callbacks
        whose third slot cannot take a positional arg — (store, fresh,
        *, batch=None) and (store, fresh, **kw) have ≥3 parameters but
        must get the 2-arg call (a 3-positional call would TypeError at
        publish time); *args callbacks take the 3-arg form; a partial
        binding the first arg leaves a 2-positional callable."""
        import functools

        from evm_indexer_spark.streaming.ingest import _accepts_batch_arg

        def kwonly(store_, fresh, *, batch=None):
            pass

        def kwargs_only(store_, fresh, **kw):
            pass

        def varargs(*args):
            pass

        def three(store_, fresh, batch):
            pass

        assert not _accepts_batch_arg(kwonly)
        assert not _accepts_batch_arg(kwargs_only)
        assert _accepts_batch_arg(varargs)
        assert _accepts_batch_arg(three)
        assert not _accepts_batch_arg(functools.partial(three, None))

        store = AtomicBlockStore(spark, str(tmp_path / "store"))
        calls = []

        def cb(store_, fresh, *, batch=None):
            calls.append(batch)

        process_raw_batch(
            store, make_raw(spark, [raw_block(0)]), on_fresh=cb
        )
        assert calls == [None]  # 2-arg path taken, no TypeError


class TestFinalityAndRepair:
    def test_depth_gate(self, spark, tmp_path):
        store = AtomicBlockStore(spark, str(tmp_path / "store"))
        process_raw_batch(store, make_raw(spark, [raw_block(n) for n in range(10)]))
        confirmed = confirmed_blocks(store.blocks(), depth=3)
        assert sorted(r["number"] for r in confirmed.collect()) == list(range(7))
        # explicit latest overrides the derived head (queue.go:320-328)
        confirmed2 = confirmed_blocks(store.blocks(), latest=20, depth=3)
        assert confirmed2.count() == 10

    def test_gap_repair(self, spark, tmp_path):
        store = AtomicBlockStore(spark, str(tmp_path / "store"))
        docs = [raw_block(n) for n in range(10) if n not in (4, 7)]
        process_raw_batch(store, make_raw(spark, docs))
        missing = repair_gaps(spark, store, 0, 9)
        assert [r["number"] for r in missing.collect()] == [4, 7]


class TestStreamEndToEnd:
    def test_file_source_ingest(self, spark, tmp_path):
        landing = tmp_path / "landing"
        landing.mkdir()
        store = AtomicBlockStore(spark, str(tmp_path / "store"))
        ckpt = str(tmp_path / "ckpt")

        with open(landing / "b1.json", "w") as f:
            for n in range(4):
                f.write(json.dumps(raw_block(n)) + "\n")

        q = start_ingest_stream(spark, str(landing), store, ckpt)
        q.awaitTermination(120)
        assert store.blocks().count() == 4

        # second tranche incl. a reorg of block 2; checkpoint resumes
        with open(landing / "b2.json", "w") as f:
            f.write(json.dumps(raw_block(2, salt="R")) + "\n")
            f.write(json.dumps(raw_block(4)) + "\n")
        q2 = start_ingest_stream(spark, str(landing), store, ckpt)
        q2.awaitTermination(120)
        blocks = store.blocks()
        assert blocks.count() == 5
        assert blocks.filter(F.col("number") == 2).first()["hash"].startswith("0xblk2r")


class TestSubscriptionFilters:
    """Wildcard matrices mirroring README.md:560-689 of the reference."""

    @pytest.fixture(scope="class")
    def txdf(self, spark):
        return spark.createDataFrame(
            [
                ("0xAAA1", "0xBBB1"),
                ("0xaaa1", "0xccc2"),
                ("0xDDD3", ""),
            ],
            "fromaddr string, toaddr string",
        )

    def test_tx_wildcard_both(self, txdf):
        assert txdf.filter(tx_subscription_match("fromaddr", "toaddr", "*", "*")).count() == 3

    def test_tx_fixed_from_case_insensitive(self, txdf):
        got = txdf.filter(tx_subscription_match("fromaddr", "toaddr", "0xAaA1", "*"))
        assert got.count() == 2

    def test_tx_fixed_both(self, txdf):
        got = txdf.filter(
            tx_subscription_match("fromaddr", "toaddr", "0xaaa1", "0xBBB1")
        )
        assert got.count() == 1

    def test_tx_contract_creation_to_matches_only_wildcard(self, txdf):
        assert (
            txdf.filter(tx_subscription_match("fromaddr", "toaddr", "0xDDD3", "0xccc2")).count()
            == 0
        )
        assert (
            txdf.filter(tx_subscription_match("fromaddr", "toaddr", "0xddd3", "*")).count()
            == 1
        )

    @pytest.fixture(scope="class")
    def evdf(self, spark):
        return spark.createDataFrame(
            [
                ("0xC1", ["0xT0", "0xT1"]),
                ("0xC1", ["0xT0"]),
                ("0xc2", []),
            ],
            "origin string, topics array<string>",
        )

    def test_event_all_wildcards(self, evdf):
        pat = ["*", "*", "*", "*", "*"]
        assert evdf.filter(event_subscription_match("origin", "topics", pat)).count() == 3

    def test_event_contract_only(self, evdf):
        pat = ["0xc1", "*", "*", "*", "*"]
        assert evdf.filter(event_subscription_match("origin", "topics", pat)).count() == 2

    def test_event_contract_topic0(self, evdf):
        pat = ["0xC1", "0xt0", "*", "*", "*"]
        assert evdf.filter(event_subscription_match("origin", "topics", pat)).count() == 2

    def test_event_positional_out_of_range(self, evdf):
        # topic1 fixed: the single-topic event must NOT match
        # (subscription.go:84-86 out-of-range semantics)
        pat = ["*", "*", "0xT1", "*", "*"]
        assert evdf.filter(event_subscription_match("origin", "topics", pat)).count() == 1


def test_confirmed_mismatch_detection(spark, tmp_path):
    """T3 confirmed re-pass: a depth-confirmed refetch with a different
    hash at a stored number is flagged; feeding it through the normal
    batch path replaces the block."""
    import json, os
    from evm_indexer_spark.streaming.ingest import (
        confirmed_mismatches,
        process_raw_batch,
    )
    from evm_indexer_spark.sources.normalize import RAW_BLOCK_SCHEMA

    def raw(num, hsh):
        return {
            "hash": hsh, "number": num, "timestamp": 1, "parentHash": "0xp",
            "difficulty": "1", "gasUsed": 1, "gasLimit": 1, "nonce": 1,
            "miner": "0xm", "size": 1.0, "stateRoot": "0xs", "sha3Uncles": "0xu",
            "transactionsRoot": "0xt", "receiptsRoot": "0xr", "extraData": "0x",
            "transactions": [],
        }

    store = AtomicBlockStore(spark, str(tmp_path / "store"))
    first = spark.createDataFrame(
        [raw(1, "0xAA"), raw(2, "0xBB")], RAW_BLOCK_SCHEMA
    )
    process_raw_batch(store, first)

    confirmed = spark.createDataFrame(
        [raw(1, "0xAA"), raw(2, "0xCC")], RAW_BLOCK_SCHEMA  # 2 reorged
    )
    mism = confirmed_mismatches(store, confirmed).collect()
    assert [(r["number"], r["stored_hash"], r["confirmed_hash"]) for r in mism] == [
        (2, "0xbb", "0xcc")
    ]
    # replacement via the normal idempotent path
    process_raw_batch(store, confirmed)
    assert confirmed_mismatches(store, confirmed).count() == 0
    assert store.blocks().filter("number = 2").first()["hash"] == "0xcc"


def test_publish_log_compaction(spark, tmp_path):

    store = AtomicBlockStore(spark, str(tmp_path / "s"))
    for i in range(4):
        store.mark_published(
            spark.createDataFrame([(i, f"0x{i}"), (0, "0x0")], "number long, hash string")
        )
    assert store.published().count() == 8  # appended with duplicates
    store.compact_published()
    assert store.published().count() == 4  # (0..3) × unique hash
    # publish-once still holds after compaction
    fresh = spark.createDataFrame([(0, "0x0"), (9, "0x9")], "number long, hash string")
    assert fresh.join(store.published(), ["number", "hash"], "left_anti").count() == 1


def test_malformed_docs_dropped(spark, tmp_path):
    import json, os
    from evm_indexer_spark.sources.normalize import RAW_BLOCK_SCHEMA
    from evm_indexer_spark.streaming.ingest import start_ingest_stream

    landing = tmp_path / "l"
    landing.mkdir()
    good = {
        "hash": "0xG", "number": 7, "timestamp": 1, "parentHash": "0xp",
        "difficulty": "1", "gasUsed": 1, "gasLimit": 1, "nonce": 1,
        "miner": "0xm", "size": 1.0, "stateRoot": "0xs", "sha3Uncles": "0xu",
        "transactionsRoot": "0xt", "receiptsRoot": "0xr", "extraData": "0x",
        "transactions": [],
    }
    with open(landing / "b.json", "w") as f:
        f.write(json.dumps(good) + "\n")
        f.write("this is not json at all\n")
        f.write(json.dumps({"number": 8}) + "\n")  # missing hash
    store = AtomicBlockStore(spark, str(tmp_path / "s"))
    q = start_ingest_stream(spark, str(landing), store, str(tmp_path / "c"))
    q.awaitTermination(120)
    rows = store.blocks().collect()
    assert [(r["number"], r["hash"]) for r in rows] == [(7, "0xg")]



def test_publish_log_compaction_crash_recovery(spark, tmp_path):
    """A compaction interrupted mid-swap must never surface an empty
    publish log: published() restores the renamed-aside copy."""
    import os


    store = AtomicBlockStore(spark, str(tmp_path / "s"))
    store.mark_published(
        spark.createDataFrame([(1, "0x1"), (2, "0x2")], "number long, hash string")
    )
    path = store._path("_published")
    # simulate the crash window: old log renamed aside, new one not landed
    os.rename(path, path + "_retired")
    assert store.published().count() == 2  # recovered, not empty
    assert os.path.isdir(path) and not os.path.isdir(path + "_retired")


class TestReorgConfirmedLoop:
    """End-to-end depth-N reorg drill (VERDICT r2 #8): stream ingest →
    reorg within depth across a CHECKPOINT RESTART → confirmed-pass
    mismatch detect → replace via the normal batch path → T7 gap repair,
    with publish-once held at every step (reference semantics:
    listener.go:124-148, db/block.go:44-58, queue.go:155-189)."""

    def _publish_counts(self, store):
        rows = store.published().collect()
        pairs = [(r["number"], r["hash"]) for r in rows]
        assert len(pairs) == len(set(pairs)), f"duplicate publishes: {pairs}"
        return dict.fromkeys(pairs, 1)

    def test_reorg_replace_republish_once_across_restart(self, spark, tmp_path):
        landing = tmp_path / "landing"
        landing.mkdir()
        store = AtomicBlockStore(spark, str(tmp_path / "store"))
        ckpt = str(tmp_path / "ckpt")

        # leg 1: blocks 0..9 land and publish
        with open(landing / "a.json", "w") as f:
            for n in range(10):
                f.write(json.dumps(raw_block(n)) + "\n")
        start_ingest_stream(spark, str(landing), store, ckpt).awaitTermination(120)
        assert store.blocks().count() == 10
        pub1 = self._publish_counts(store)
        assert len(pub1) == 10

        old7_hash = raw_block(7)["hash"].lower()
        assert (
            store.events().filter(F.col("blockhash") == old7_hash).count() > 0
        )

        # leg 2: depth-3 reorg — new hashes for 7..9 arrive; RESTART the
        # stream from the same checkpoint (only the new file processes)
        with open(landing / "b.json", "w") as f:
            for n in (7, 8, 9):
                f.write(json.dumps(raw_block(n, salt="R")) + "\n")
        start_ingest_stream(spark, str(landing), store, ckpt).awaitTermination(120)

        blocks = store.blocks()
        assert blocks.count() == 10  # replaced, not appended
        for n in (7, 8, 9):
            got = blocks.filter(F.col("number") == n).first()["hash"]
            assert got == raw_block(n, salt="R")["hash"].lower()
        # cascade: the orphaned block's txs/events are gone (fresh reads —
        # the bucket rewrite replaced the files under any older handle)
        assert store.events().filter(F.col("blockhash") == old7_hash).count() == 0
        assert (
            store.transactions().filter(F.col("blockhash") == old7_hash).count() == 0
        )
        pub2 = self._publish_counts(store)
        assert len(pub2) == 13  # 10 original + 3 reorged hashes, each once

        # leg 3: duplicate re-delivery of the same reorg docs after another
        # restart must publish nothing new (T5 across checkpoint restart)
        with open(landing / "c.json", "w") as f:
            for n in (7, 8, 9):
                f.write(json.dumps(raw_block(n, salt="R")) + "\n")
        start_ingest_stream(spark, str(landing), store, ckpt).awaitTermination(120)
        assert self._publish_counts(store) == pub2
        assert store.blocks().count() == 10

        # leg 4: confirmed re-pass at finality depth — refetched docs
        # reveal a deeper reorg at number 5; detect, replace through the
        # NORMAL batch path, republish exactly once
        from evm_indexer_spark.streaming.ingest import confirmed_mismatches

        refetched = make_raw(
            spark,
            [raw_block(4), raw_block(5, salt="DEEP"), raw_block(6)],
        )
        mism = confirmed_mismatches(store, refetched).collect()
        assert [(r["number"], r["confirmed_hash"]) for r in mism] == [
            (5, raw_block(5, salt="DEEP")["hash"].lower())
        ]
        replacement = make_raw(spark, [raw_block(5, salt="DEEP")])
        fresh = process_raw_batch(store, replacement)
        assert fresh.count() == 1  # the replacement published once
        process_raw_batch(store, make_raw(spark, [raw_block(5, salt="DEEP")]))
        pub4 = self._publish_counts(store)
        assert len(pub4) == 14
        assert confirmed_mismatches(store, refetched).count() == 0
        assert store.blocks().count() == 10

        # leg 5: T7 repair — blocks 12..13 land (gap at 10..11), repair
        # reports exactly the gap, healing it empties the report
        with open(landing / "d.json", "w") as f:
            for n in (12, 13):
                f.write(json.dumps(raw_block(n)) + "\n")
        start_ingest_stream(spark, str(landing), store, ckpt).awaitTermination(120)
        missing = repair_gaps(spark, store, 0, 13)
        assert [r[0] for r in missing.orderBy("number").collect()] == [10, 11]
        with open(landing / "e.json", "w") as f:
            for n in (10, 11):
                f.write(json.dumps(raw_block(n)) + "\n")
        start_ingest_stream(spark, str(landing), store, ckpt).awaitTermination(120)
        assert repair_gaps(spark, store, 0, 13).count() == 0
        assert store.blocks().count() == 14
        assert len(self._publish_counts(store)) == 18
