"""End-to-end integration: raw landing docs → streaming ingest →
bucket store → historical query catalog → REST facade JSON."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from evm_indexer_spark.api import RestFacade
from evm_indexer_spark.operators.historical import HistoricalQueries
from evm_indexer_spark.sources.rawgen import raw_block_doc, write_landing_files
from evm_indexer_spark.streaming.ingest import start_ingest_stream
from evm_indexer_spark.streaming.txstore import AtomicBlockStore

N_BLOCKS = 120


@pytest.fixture(scope="module")
def store(spark, tmp_path_factory):
    root = tmp_path_factory.mktemp("e2e")
    landing = str(root / "landing")
    write_landing_files(landing, N_BLOCKS, n_files=4)
    s = AtomicBlockStore(spark, str(root / "store"))
    q = start_ingest_stream(spark, landing, s, str(root / "ckpt"))
    q.awaitTermination(180)
    return s


@pytest.fixture(scope="module")
def queries(store):
    return HistoricalQueries(store.blocks(), store.transactions(), store.events())


def test_ingested_counts(store):
    assert store.blocks().count() == N_BLOCKS
    assert store.transactions().count() == N_BLOCKS * 3
    assert store.events().count() == N_BLOCKS * 6


def test_historical_over_ingested_store(queries):
    # rawgen: block n has 3 txs; every (n+t) % 20 == 0 tx creates a contract
    assert queries.get_transaction_count_by_block_number(7).collect()[0][0] == 3
    blk = queries.get_block_by_number(42).collect()[0]
    assert blk["hash"] == f"0x{42:064x}"
    assert blk["gaslimit"] == 30_000_000
    # last-x events ordered by descending block number
    ev = queries.get_last_x_events_from_contract(f"0x{0:040x}", 5).collect()
    assert len(ev) == 5


def test_facade_over_ingested_store(queries):
    fc = RestFacade(queries)
    out = fc.block({"number": "9", "tx": "yes"})
    assert len(out["transactions"]) == 3
    # creation tx at n+t ≡ 0 (mod 20): block 20, t=0
    tx = fc.transaction({"hash": f"0x{20:032x}{0:032x}"})
    assert "contract" in tx and "to" not in tx
    ev = fc.event({"blockHash": f"0x{3:064x}"})
    assert {e["index"] for e in ev["events"]} == {0, 1, 2, 3, 4, 5}
    # topic0 filter: all logs share the same sig in rawgen
    filtered = fc.event(
        {
            "contract": f"0x{1:040x}",
            "fromBlock": "0",
            "toBlock": "99",
            "topic0": "0x" + "dd" * 32,
        }
    )
    assert len(filtered["events"]) == 100 * 3  # one log idx 1 per tx in range


def test_depth_gate_over_ingested_store(store):
    from evm_indexer_spark.streaming.ingest import confirmed_blocks

    confirmed = confirmed_blocks(store.blocks(), depth=20)
    assert confirmed.agg(F.max("number")).collect()[0][0] == N_BLOCKS - 1 - 20


def test_grand_loop_all_components(spark, tmp_path):
    """Capstone: file-source ingest over the ATOMIC store with RESP
    publishing, hash-index maintenance, a reorg inside confirmation
    depth, a confirmed-pass replacement, and gap repair — every round-3
    component composed in one run, publish-exactly-once throughout."""
    import json

    from evm_indexer_spark.streaming.ingest import (
        confirmed_mismatches,
        process_raw_batch,
        repair_gaps,
        start_ingest_stream,
    )
    from evm_indexer_spark.streaming.resp import (
        RespBroker,
        RespClient,
        make_resp_publisher,
    )

    from .test_streaming import make_raw, raw_block

    broker = RespBroker().start()
    try:
        sub = RespClient(broker.host, broker.port)
        sub.subscribe("block")

        landing = tmp_path / "landing"
        landing.mkdir()
        store = AtomicBlockStore(spark, str(tmp_path / "store"))
        ckpt = str(tmp_path / "ckpt")
        publish = make_resp_publisher(broker.host, broker.port)

        # leg 1: blocks 0..5 with a gap at 3
        with open(landing / "a.json", "w") as f:
            for n in (0, 1, 2, 4, 5):
                f.write(json.dumps(raw_block(n)) + "\n")
        start_ingest_stream(
            spark, str(landing), store, ckpt, publish=publish
        ).awaitTermination(180)

        assert [r[0] for r in repair_gaps(spark, store, 0, 5).collect()] == [3]
        notif = 0
        while sub.get_message(timeout=1.5):
            notif += 1
        assert notif == 5

        # leg 2: reorg block 5 across a checkpoint restart
        with open(landing / "b.json", "w") as f:
            f.write(json.dumps(raw_block(5, salt="R")) + "\n")
            f.write(json.dumps(raw_block(3)) + "\n")  # heal the gap too
        start_ingest_stream(
            spark, str(landing), store, ckpt, publish=publish
        ).awaitTermination(180)
        assert store.blocks().count() == 6
        assert repair_gaps(spark, store, 0, 5).count() == 0
        notif2 = 0
        while sub.get_message(timeout=1.5):
            notif2 += 1
        assert notif2 == 2  # the reorged 5 + the healed 3, once each

        # leg 3: confirmed pass finds a deeper mismatch at 1, replace
        refetched = make_raw(spark, [raw_block(0), raw_block(1, salt="DEEP")])
        mism = confirmed_mismatches(store, refetched).collect()
        assert [r["number"] for r in mism] == [1]
        process_raw_batch(store, make_raw(spark, [raw_block(1, salt="DEEP")]))
        assert confirmed_mismatches(store, refetched).count() == 0

        # the hash index the commits wrote still resolves a surviving
        # block; the reorged-away old hash keeps its bucket but finds
        # no row (a stale entry is harmless)
        q = store.historical_queries()
        assert store.bucket_of_hash(raw_block(2)["hash"], "block") == [0]
        assert len(q.rows("get_block_by_hash", raw_block(2)["hash"])) == 1
        assert store.bucket_of_hash(raw_block(5)["hash"], "block") == [0]
        assert q.rows("get_block_by_hash", raw_block(5)["hash"]) == []

        # publish-once globally: no duplicate (number, hash) ever
        pairs = [(r["number"], r["hash"]) for r in store.published().collect()]
        assert len(pairs) == len(set(pairs)) == 8  # 6 + reorg5 + deep1
        sub.close()
    finally:
        broker.stop()


def test_resp_depth_reorg_broker_restart_at_least_once(spark, tmp_path):
    """Round-4 capstone extension: ingest → publish → consumer-loop
    delivery on ALL THREE notification channels, with a depth-3 reorg
    and a broker restart mid-stream. Delivery is at-least-once (the
    reference publishes before logging — block.go:22-52 — so a crash
    between the two re-sends on retry); downstream consumers dedup by
    entity key, which this test performs and asserts exact."""
    import json

    from evm_indexer_spark.streaming.ingest import start_ingest_stream
    from evm_indexer_spark.streaming.resp import (
        RespBroker,
        RespClient,
        consume_loop,
        make_resp_publisher,
    )

    from .test_streaming import raw_block

    broker = RespBroker().start()
    host, port = broker.host, broker.port
    landing = tmp_path / "landing"
    landing.mkdir()
    store = AtomicBlockStore(spark, str(tmp_path / "store"))
    ckpt = str(tmp_path / "ckpt")
    publish = make_resp_publisher(host, port)

    def drain(client, channels=("block", "transaction", "event")):
        got = {c: [] for c in channels}
        while True:
            msg = client.get_message(timeout=1.5)
            if msg is None:
                return got
            got[msg["channel"]].append(json.loads(msg["data"]))

    try:
        # ---- leg 1: blocks 0..4 delivered on all three channels
        sub = RespClient(host, port)
        sub.subscribe("block", "transaction", "event")
        with open(landing / "a.json", "w") as f:
            for n in range(5):
                f.write(json.dumps(raw_block(n)) + "\n")
        start_ingest_stream(
            spark, str(landing), store, ckpt, publish=publish
        ).awaitTermination(180)
        got1 = drain(sub)
        assert len(got1["block"]) == 5
        assert len(got1["transaction"]) == 10  # 2 per block
        assert len(got1["event"]) == 10  # 1 log per tx
        sub.close()

        # ---- broker restart mid-stream (same port; consumers reconnect
        # the way the reference's redis clients do)
        broker.stop()
        broker = RespBroker(host=host, port=port).start()
        sub2 = RespClient(host, port)
        sub2.subscribe("block", "transaction", "event")

        # ---- leg 2 after restart: new tip 5 plus a DEPTH-3 reorg of
        # block 2 (tip - 3, inside the confirmation window)
        with open(landing / "b.json", "w") as f:
            f.write(json.dumps(raw_block(5)) + "\n")
            f.write(json.dumps(raw_block(2, salt="R")) + "\n")
        start_ingest_stream(
            spark, str(landing), store, ckpt, publish=publish
        ).awaitTermination(180)

        # store state: still 6 numbers; number 2 now carries the reorged
        # hash and the old block-2 rows cascaded away
        assert store.blocks().count() == 6
        new2 = raw_block(2, salt="R")["hash"].lower()  # store lowercases (S7)
        old2 = raw_block(2)["hash"]
        hashes = {r["hash"] for r in store.blocks().collect()}
        assert new2 in hashes and old2 not in hashes
        assert (
            store.transactions().filter(f"blockhash = '{old2}'").count() == 0
        )

        # consumer-loop fan-out with wildcard patterns across the
        # restarted broker: 2 fresh blocks (tip 5 + reorged 2), their
        # 4 txs and 4 events
        delivered: list[tuple[str, dict]] = []
        n = consume_loop(
            sub2,
            {
                "block": ["block"],
                "transaction": ["transaction/*/*"],
                "event": ["event/*/*/*/*/*"],
            },
            lambda pattern, channel, payload: delivered.append(
                (channel, payload)
            ),
            max_messages=10,
            poll_seconds=1.5,
        )
        by_ch = {c: [p for ch, p in delivered if ch == c]
                 for c in ("block", "transaction", "event")}
        assert len(by_ch["block"]) == 2
        assert {b["hash"] for b in by_ch["block"]} == {
            raw_block(5)["hash"].lower(), new2,
        }
        assert len(by_ch["transaction"]) == 4
        assert len(by_ch["event"]) == 4

        # ---- at-least-once: replay the publisher for the same fresh
        # set (a retry after crashing between publish and log) and
        # dedup downstream by entity key
        fresh = store.blocks().select("number", "hash").filter(
            f"number = 5 OR hash = '{new2}'"
        )
        publish(store, fresh)
        dup = drain(sub2)
        assert len(dup["block"]) == 2  # duplicates really were re-sent
        all_blocks = by_ch["block"] + dup["block"]
        assert len(all_blocks) == 4
        # downstream dedup: unique (number, hash) back to exactly-once
        assert len({(b["number"], b["hash"]) for b in all_blocks}) == 2
        all_txs = by_ch["transaction"] + dup["transaction"]
        assert len(all_txs) == 8
        assert len({t["hash"] for t in all_txs}) == 4
        all_events = by_ch["event"] + dup["event"]
        assert len({(e["blockHash"], e["index"]) for e in all_events}) == 4

        # the publish-once log itself never grew duplicates: one row per
        # (number, hash), including both block-2 incarnations
        pairs = [
            (r["number"], r["hash"]) for r in store.published().collect()
        ]
        assert len(pairs) == len(set(pairs)) == 7  # 0..5 + reorged 2
        sub2.close()
    finally:
        broker.stop()


def test_full_stack_soak_ingest_dedup_audit(spark, tmp_path):
    """Capstone: ONE landing flow drives all seven arrival pipelines —
    block ingest (publish-once store + RESP), text dedup-on-arrival
    (MinHashBucketIndex), audit-on-arrival (NgramStatsStore),
    substring-dedup-on-arrival (WindowHashIndex), vocab-on-arrival
    (WordCountStore), embedding dedup-on-arrival
    (EmbeddingBucketIndex, consuming the DEFAULT parquet pair sink),
    and ANN-serving-on-arrival (IvfServingIndex built from leg-1
    vectors, fed by the SAME vector landing — its guard absorbs the
    already-indexed re-arrivals) — with a broker restart and a depth-3
    reorg mid-stream. A consumer
    loop turns published blocks into document/vector arrivals
    (at-least-once: the reorged number re-arrives with new content),
    each guarded stream's anti-join reduces that to the at-most-once
    flow the downstream pipelines need (the documented composition),
    and after recovery every store is exactly-once and the incremental
    results equal their batch twins."""
    import json
    import math

    from evm_indexer_spark.operators import corpus, dedup
    from evm_indexer_spark.operators.corpus import (
        _window_hashes,
        duplicate_window_spans,
    )
    from evm_indexer_spark.operators.tokenizer import bpe_train
    from evm_indexer_spark.streaming.corpus_stream import (
        NgramStatsStore,
        start_ngram_stream,
    )
    from evm_indexer_spark.streaming.dedup_stream import (
        MinHashBucketIndex,
        start_dedup_stream,
    )
    from evm_indexer_spark.streaming.dupwin_stream import (
        WindowHashIndex,
        start_dupwin_stream,
    )
    from evm_indexer_spark.operators import similarity
    from evm_indexer_spark.streaming.embed_stream import (
        EmbeddingBucketIndex,
        start_ann_index_stream,
        start_embedding_dedup_stream,
    )
    from evm_indexer_spark.streaming.vocab_stream import (
        WordCountStore,
        start_vocab_stream,
    )
    from evm_indexer_spark.streaming.ingest import start_ingest_stream
    from evm_indexer_spark.streaming.resp import (
        RespBroker,
        RespClient,
        make_resp_publisher,
    )

    from .test_streaming import raw_block

    BASE = (
        "the quick brown fox jumps over the lazy dog while the band "
        "plays a quiet tune in the old town hall tonight"
    )

    def doc_text(payload: dict) -> str:
        # content derives from the block HASH, so a reorged number
        # re-arrives as the same doc_id with DIFFERENT text
        return f"{BASE} block {payload['number']} tag {payload['hash'][:10]}"

    def doc_vec(payload: dict) -> list[float]:
        # vector twin of doc_text: derived from number AND hash, so the
        # reorged number re-arrives as the same vec_id with a DIFFERENT
        # vector; perturbations are small enough that all first-arrival
        # pairs stay above the 0.99 cosine gate
        v = [math.sin(3.3 + k * 1.7) for k in range(8)]
        v[0] += 0.002 * payload["number"]
        v[1] += 0.0005 * (sum(ord(c) for c in payload["hash"]) % 16)
        n = math.sqrt(sum(x * x for x in v))
        return [x / n for x in v]

    broker = RespBroker().start()
    host, port = broker.host, broker.port
    block_landing = tmp_path / "blocks"
    block_landing.mkdir()
    doc_landing = tmp_path / "docs"
    doc_landing.mkdir()
    audit_landing = tmp_path / "audit"
    audit_landing.mkdir()
    vec_landing = tmp_path / "vecs"
    vec_landing.mkdir()
    store = AtomicBlockStore(spark, str(tmp_path / "store"))
    ingest_ckpt = str(tmp_path / "ckpt_ingest")
    index = MinHashBucketIndex(
        spark, str(tmp_path / "ix"), num_hashes=64, bands=64
    )
    stats = NgramStatsStore(spark, str(tmp_path / "stats"))
    dw_index = WindowHashIndex(spark, str(tmp_path / "dw"), window_n=4)
    vstore = WordCountStore(spark, str(tmp_path / "vocab"))
    e_index = EmbeddingBucketIndex(spark, str(tmp_path / "eix"), dim=8)
    publish = make_resp_publisher(host, port)

    pairs_seen: list[dict] = []
    tops: list[list] = []
    dw_rows: list[dict] = []  # (leg-tagged) arrival span stats
    merges_seen: list[list] = []
    audited: set[int] = set()  # ids already handed to the audit
    stored_text: dict[int, str] = {}  # expected text-store content
    stored_vec: dict[int, list[float]] = {}  # expected vector store
    ann_index: list = []  # built after leg 1's vectors exist

    def drain_blocks(client) -> list[dict]:
        out = []
        while True:
            msg = client.get_message(timeout=1.5)
            if msg is None:
                return out
            if msg["channel"] == "block":
                out.append(json.loads(msg["data"]))

    def run_doc_pipelines(leg: str) -> None:
        # dedup-on-arrival over the doc landing (guard enabled)
        q = start_dedup_stream(
            spark, str(doc_landing), index, str(tmp_path / "ckpt_dedup"),
            on_pairs=lambda pairs, epoch: pairs_seen.extend(pairs),
            jaccard_threshold=0.4,
        )
        q.awaitTermination(180)
        # audit consumes the DEDUPED flow: the delta of the dedup text
        # store (first-arrival-wins ids) — the module-documented pairing
        new_ids = sorted(set(stored_text) - audited)
        if new_ids:
            with open(audit_landing / f"{leg}.json", "w") as fh:
                for i in new_ids:
                    fh.write(
                        json.dumps({"doc_id": i, "text": stored_text[i]})
                        + "\n"
                    )
            audited.update(new_ids)
        q = start_ngram_stream(
            spark, str(audit_landing), stats, str(tmp_path / "ckpt_audit"),
            on_top=lambda rows, epoch: tops.append(rows),
            min_count=1,
        )
        q.awaitTermination(180)
        # substring-dedup and vocab retraining consume the SAME deduped
        # flow (pipelines 4 and 5 of the composition)
        q = start_dupwin_stream(
            spark, str(audit_landing), dw_index, str(tmp_path / "ckpt_dw"),
            on_stats=lambda rows, epoch: dw_rows.extend(rows),
        )
        q.awaitTermination(180)
        q = start_vocab_stream(
            spark, str(audit_landing), vstore, str(tmp_path / "ckpt_vocab"),
            on_merges=lambda m, epoch: merges_seen.append(m),
            num_merges=4,
        )
        q.awaitTermination(180)
        # embedding dedup-on-arrival over the vector landing (guard
        # enabled; verdicts flow through the DEFAULT parquet pair sink —
        # no callback, no driver collect)
        q = start_embedding_dedup_stream(
            spark, str(vec_landing), e_index, str(tmp_path / "ckpt_embed"),
            min_cosine=0.99,
        )
        q.awaitTermination(180)
        # ANN-serving-on-arrival: the SAME vector landing feeds the
        # serving index built from leg-1 vectors — already-indexed ids
        # (the whole leg-1 file, and the reorged re-arrival later) are
        # dropped by its guard, new tips append without any rebuild
        if ann_index:
            q = start_ann_index_stream(
                spark, str(vec_landing), ann_index[0],
                str(tmp_path / "ckpt_ann"),
            )
            q.awaitTermination(180)

    try:
        # ---- leg 1: blocks 0..4 ----------------------------------------
        sub = RespClient(host, port)
        sub.subscribe("block")
        with open(block_landing / "a.json", "w") as f:
            for n in range(5):
                f.write(json.dumps(raw_block(n)) + "\n")
        start_ingest_stream(
            spark, str(block_landing), store, ingest_ckpt, publish=publish
        ).awaitTermination(180)
        payloads = drain_blocks(sub)
        assert len(payloads) == 5
        with open(doc_landing / "leg1.json", "w") as fh:
            for p in payloads:
                fh.write(
                    json.dumps({"doc_id": p["number"], "text": doc_text(p)})
                    + "\n"
                )
                stored_text[p["number"]] = doc_text(p)
        with open(vec_landing / "leg1.json", "w") as fh:
            for p in payloads:
                fh.write(
                    json.dumps({"vec_id": p["number"], "vec": doc_vec(p)})
                    + "\n"
                )
                stored_vec[p["number"]] = doc_vec(p)
        ann_index.append(
            similarity.IvfServingIndex.build(
                spark.createDataFrame(
                    list(stored_vec.items()), "vec_id long, vec array<double>"
                ),
                "vec_id", "vec", str(tmp_path / "ann"),
                n_lists=2, pq_subspaces=4,
            )
        )
        run_doc_pipelines("leg1")
        sub.close()

        # ---- broker restart mid-stream ---------------------------------
        broker.stop()
        broker = RespBroker(host=host, port=port).start()
        sub2 = RespClient(host, port)
        sub2.subscribe("block")

        # ---- leg 2: tips 5,6 + depth-3 reorg of block 2 ----------------
        with open(block_landing / "b.json", "w") as f:
            f.write(json.dumps(raw_block(5)) + "\n")
            f.write(json.dumps(raw_block(6)) + "\n")
            f.write(json.dumps(raw_block(2, salt="R")) + "\n")
        start_ingest_stream(
            spark, str(block_landing), store, ingest_ckpt, publish=publish
        ).awaitTermination(180)
        payloads2 = drain_blocks(sub2)
        assert {p["number"] for p in payloads2} == {5, 6, 2}
        with open(doc_landing / "leg2.json", "w") as fh:
            for p in payloads2:
                fh.write(
                    json.dumps({"doc_id": p["number"], "text": doc_text(p)})
                    + "\n"
                )
                # first arrival wins: the re-arrived 2 must NOT replace
                stored_text.setdefault(p["number"], doc_text(p))
        with open(vec_landing / "leg2.json", "w") as fh:
            for p in payloads2:
                fh.write(
                    json.dumps({"vec_id": p["number"], "vec": doc_vec(p)})
                    + "\n"
                )
                stored_vec.setdefault(p["number"], doc_vec(p))
        run_doc_pipelines("leg2")
        sub2.close()

        # ---- exactly-once across all three stores ----------------------
        # 1. block store: reorg cascaded, publish-once log unique
        assert store.blocks().count() == 7
        new2 = raw_block(2, salt="R")["hash"].lower()
        hashes = {r["hash"] for r in store.blocks().collect()}
        assert new2 in hashes and raw_block(2)["hash"] not in hashes
        pub = [(r["number"], r["hash"]) for r in store.published().collect()]
        assert len(pub) == len(set(pub)) == 8  # 0..6 + reorged 2

        # 2. dedup index: re-arrived id 2 indexed once, text store kept
        #    the FIRST text (the guard dropped the mutated re-arrival)
        assert index.buckets().count() == 7 * index.bands
        text_df = spark.read.parquet(str(tmp_path / "ix" / "_text"))
        got_text = {r["doc_id"]: r["text"] for r in text_df.collect()}
        assert got_text == stored_text
        assert "tag 0x2R" not in got_text[2]

        # 3. incremental pairs == batch truth over the deduped corpus
        #    (every pair reported exactly once, at its second member's
        #    arrival epoch)
        docs_df = spark.createDataFrame(
            list(stored_text.items()), "doc_id long, text string"
        )
        batch = {
            (r["id_a"], r["id_b"], round(r["jaccard"], 6))
            for r in dedup.minhash_near_duplicates(
                docs_df, "doc_id", "text",
                num_hashes=64, bands=64, jaccard_threshold=0.4,
            ).collect()
        }
        inc = {
            (p["id_a"], p["id_b"], round(p["jaccard"], 6))
            for p in pairs_seen
        }
        assert len(pairs_seen) == len(inc)  # no pair reported twice
        assert inc == batch
        assert len(inc) == 21  # C(7,2): all docs share BASE

        # 4. audit store == batch top_ngrams over the same corpus
        want = {
            (r["ngram"], r["n_occurrences"], r["n_docs"])
            for r in corpus.top_ngrams(
                docs_df, "doc_id", "text", n=3, k=100, min_count=1
            ).collect()
        }
        got = {
            (r["ngram"], r["n_occurrences"], r["n_docs"])
            for r in stats.top(100, 1).collect()
        }
        assert got == want

        # 5. substring-dedup: final counters equal batch window counts
        #    over the deduped corpus; every doc got arrival span stats,
        #    and leg-2 arrivals ({5, 6} — the re-arrived 2 was dropped)
        #    match the batch truth at the final corpus state
        import pyspark.sql.functions as F

        want_counters = sorted(
            map(
                tuple,
                _window_hashes(docs_df, "doc_id", "text", 4)
                .groupBy("h")
                .agg(F.count(F.lit(1)).alias("occ"))
                .collect(),
            )
        )
        got_counters = sorted(
            map(
                tuple,
                dw_index.hashes()
                .groupBy("h")
                .agg(F.sum("occ").alias("occ"))
                .collect(),
            )
        )
        assert got_counters == want_counters
        assert {r["doc_id"] for r in dw_rows} == set(range(7))
        batch_spans = {
            r["doc_id"]: tuple(r)
            for r in duplicate_window_spans(
                docs_df, "doc_id", "text", window_n=4
            ).collect()
        }
        for r in dw_rows:
            if r["doc_id"] in (5, 6):  # final-state arrivals
                assert tuple(r.values()) == batch_spans[r["doc_id"]]

        # 6. vocab retraining: the last reported merge list equals batch
        #    BPE training over the deduped corpus
        assert merges_seen and merges_seen[-1] == bpe_train(
            docs_df, "text", num_merges=4
        )

        # 7. embedding arrival: index exactly-once through the reorg
        #    re-arrival (guard dropped the mutated vector for id 2),
        #    and the DEFAULT parquet pair sink equals the batch twin
        #    over the first-arrival vectors
        assert e_index.buckets().count() == 7 * e_index.n_tables
        vec_store = spark.read.parquet(str(tmp_path / "eix" / "_vecs"))
        got_vecs = {r["vec_id"]: list(r["vec"]) for r in vec_store.collect()}
        assert got_vecs == stored_vec
        vec_df = spark.createDataFrame(
            list(stored_vec.items()), "vec_id long, vec array<double>"
        )
        batch_vec_pairs = {
            (r["id_a"], r["id_b"], r["cosine"])
            for r in similarity.embedding_near_duplicates(
                vec_df, "vec_id", "vec",
                min_cosine=0.99, n_tables=e_index.n_tables, dim=8,
            ).collect()
        }
        sink = spark.read.parquet(str(tmp_path / "eix" / "_pairs")).drop("batch")
        sink_rows = sink.collect()
        inc_vec = {(r["id_a"], r["id_b"], r["cosine"]) for r in sink_rows}
        assert len(sink_rows) == len(inc_vec)  # each pair exactly once
        assert inc_vec == batch_vec_pairs
        assert len(inc_vec) == 21  # C(7,2): every first-arrival pair

        # 8. ANN serving index: exactly-once through the same flow —
        #    leg-1 re-arrivals and the reorged vector were dropped, the
        #    two tips appended, and both serving paths answer over the
        #    first-arrival corpus with no rebuild
        idx = ann_index[0]
        assert {r["id"] for r in idx.vectors().select("id").collect()} == set(
            range(7)
        )
        q_vec = stored_vec[0]
        got_ids = [r["id"] for r in idx.topk(q_vec, k=7, nprobe=2).collect()]
        assert set(got_ids) == set(range(7)) and got_ids[0] == 0
        got_pq = [
            r["id"]
            for r in idx.topk_pq(q_vec, k=7, nprobe=2, n_candidates=7).collect()
        ]
        assert set(got_pq) == set(range(7)) and got_pq[0] == 0

        # 9+10. ONE reorg event -> every derived store forgets the doc,
        #     in the SAME handler invocation: the vector leaves BOTH
        #     bucket and SERVED indexes while the doc's n-gram / window
        #     / vocab contributions leave the three summed-counter
        #     stores — the derived-state completion of the reference's
        #     cascade delete (app/db/block.go:44-58), fired from the
        #     point that DETECTED the reorg (the publish consumer saw a
        #     known number re-arrive with a new hash in leg 2)
        from evm_indexer_spark.streaming.retraction import (
            retract_document_everywhere,
        )

        reorged = sorted(
            p["number"]
            for p in payloads2
            if stored_text[p["number"]] != doc_text(p)
        )
        assert reorged == [2]  # the consumer's reorg detection
        gone = docs_df.filter(F.col("doc_id") == 2)
        surviving_df = docs_df.filter(F.col("doc_id") != 2)
        retract_document_everywhere(
            spark, 2, stored_text[2],
            retraction_id=2,  # deterministic: derived from the doc id
            ngram_store=stats, dupwin_index=dw_index, vocab_store=vstore,
            dedup_index=index, embed_index=e_index, serving_index=idx,
        )
        # serving: both probe paths stop returning it immediately, and
        # compact() makes the retraction physical, answers preserved
        assert 2 not in {
            r["id"] for r in idx.topk(q_vec, k=7, nprobe=2).collect()
        }
        assert 2 not in {
            r["id"]
            for r in idx.topk_pq(q_vec, k=7, nprobe=2, n_candidates=7).collect()
        }
        idx.compact()
        assert {r["id"] for r in idx.vectors().select("id").collect()} == {
            0, 1, 3, 4, 5, 6
        }
        assert 2 not in {
            r["id"] for r in idx.topk(q_vec, k=7, nprobe=2).collect()
        }
        # bucket indexes: the doc pairs with nothing anymore
        assert index.live_buckets().filter(F.col("id") == 2).count() == 0
        assert e_index.live_buckets().filter(F.col("id") == 2).count() == 0
        # crash-recovery: re-running the WHOLE handler with the SAME
        # retraction_id is an idempotent retry — every store converges
        # to the same state, nothing double-cancels
        retract_document_everywhere(
            spark, 2, stored_text[2],
            retraction_id=2,
            ngram_store=stats, dupwin_index=dw_index, vocab_store=vstore,
            dedup_index=index, embed_index=e_index, serving_index=idx,
        )
        want_after = {
            (r["ngram"], r["n_occurrences"], r["n_docs"])
            for r in corpus.top_ngrams(
                surviving_df, "doc_id", "text", n=3, k=100, min_count=1
            ).collect()
        }
        assert {
            (r["ngram"], r["n_occurrences"], r["n_docs"])
            for r in stats.top(100, 1).collect()
        } == want_after
        want_win = sorted(
            map(
                tuple,
                _window_hashes(surviving_df, "doc_id", "text", 4)
                .groupBy("h")
                .agg(F.count(F.lit(1)).alias("occ"))
                .collect(),
            )
        )
        assert sorted(
            map(
                tuple,
                dw_index.hashes()
                .groupBy("h")
                .agg(F.sum("occ").alias("occ"))
                .filter(F.col("occ") != 0)
                .collect(),
            )
        ) == want_win
        assert vstore.train(4, 1) == bpe_train(
            surviving_df, "text", num_merges=4
        )
        # the at-most-once contract holds END-TO-END: a second reorg
        # handler firing for the same doc under a FRESH id is rejected
        # by the first ledgered store it reaches — before any tombstone
        # work — with the original ledger entry named for the operator
        with pytest.raises(ValueError, match="retract2"):
            retract_document_everywhere(
                spark, 2, stored_text[2],
                retraction_id=99,
                ngram_store=stats, dupwin_index=dw_index,
                vocab_store=vstore, dedup_index=index,
                embed_index=e_index, serving_index=idx,
            )
        with pytest.raises(ValueError, match="already retracted"):
            dw_index.retract(gone, "doc_id", "text")
        # compaction folds the retractions physically; answers hold
        assert stats.compact() >= 1
        assert dw_index.compact() >= 1
        assert vstore.compact() >= 1
        assert {
            (r["ngram"], r["n_occurrences"], r["n_docs"])
            for r in stats.top(100, 1).collect()
        } == want_after
        assert vstore.train(4, 1) == bpe_train(
            surviving_df, "text", num_merges=4
        )
    finally:
        broker.stop()
