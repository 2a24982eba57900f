"""AtomicBlockStore: cross-table snapshot atomicity (manifest commit),
reorg replace, crash simulation, vacuum, and end-to-end stream ingest."""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import functions as F

from evm_indexer_spark.streaming.ingest import process_raw_batch, start_ingest_stream
from evm_indexer_spark.streaming.txstore import AtomicBlockStore

from .test_streaming import make_raw, raw_block


def test_upsert_and_reorg_replace(spark, tmp_path):
    store = AtomicBlockStore(spark, str(tmp_path / "s"))
    process_raw_batch(store, make_raw(spark, [raw_block(n) for n in range(3)]))
    assert store.blocks().count() == 3
    assert store.transactions().count() == 6
    assert store.events().count() == 6

    # reorg: same number, new hash → block replaced, children cascaded
    process_raw_batch(store, make_raw(spark, [raw_block(1, salt="R")]))
    blocks = store.blocks()
    assert blocks.count() == 3
    assert (
        blocks.filter(F.col("number") == 1).first()["hash"]
        == raw_block(1, salt="R")["hash"].lower()
    )
    old_hash = raw_block(1)["hash"].lower()
    assert store.transactions().filter(F.col("blockhash") == old_hash).count() == 0
    assert store.events().filter(F.col("blockhash") == old_hash).count() == 0


def test_crash_before_manifest_swap_is_invisible(spark, tmp_path, monkeypatch):
    """All data written but the manifest swap dies: readers still see the
    previous snapshot for ALL THREE tables (the reference's one-transaction
    StoreBlock), vacuum reclaims the orphans, and replaying the batch
    commits cleanly."""
    store = AtomicBlockStore(spark, str(tmp_path / "s"))
    process_raw_batch(store, make_raw(spark, [raw_block(0), raw_block(1)]))
    before = {
        t: getattr(store, t)().count()
        for t in ("blocks", "transactions", "events")
    }

    def boom(_manifest):
        raise OSError("simulated crash at commit point")

    monkeypatch.setattr(store, "_commit_manifest", boom)
    with pytest.raises(Exception, match="simulated crash"):
        process_raw_batch(store, make_raw(spark, [raw_block(2), raw_block(3)]))
    monkeypatch.undo()

    # snapshot unchanged — no partial multi-table state observable
    for t, n in before.items():
        assert getattr(store, t)().count() == n, t
    assert store.blocks().filter(F.col("number") >= 2).count() == 0

    # the default grace period protects possibly-in-flight commits:
    # freshly written orphans survive a concurrent-safe vacuum
    assert store.vacuum() == 0
    # with the writer known-dead, age 0 reclaims them; correctness intact
    assert store.vacuum(min_age_seconds=0) > 0
    for t, n in before.items():
        assert getattr(store, t)().count() == n, t

    # replay commits
    process_raw_batch(store, make_raw(spark, [raw_block(2), raw_block(3)]))
    assert store.blocks().count() == 4
    assert store.vacuum(min_age_seconds=0) == 0 or store.blocks().count() == 4


def test_manifest_is_single_commit_point(spark, tmp_path):
    store = AtomicBlockStore(spark, str(tmp_path / "s"))
    process_raw_batch(store, make_raw(spark, [raw_block(0)]))
    m1 = json.load(open(str(tmp_path / "s" / "_manifest.json")))
    process_raw_batch(store, make_raw(spark, [raw_block(1)]))
    m2 = json.load(open(str(tmp_path / "s" / "_manifest.json")))
    assert m2["version"] == m1["version"] + 1
    # every referenced object dir exists on disk
    for t, buckets in m2["tables"].items():
        for b, v in buckets.items():
            assert (
                tmp_path / "s" / "objects" / t / f"b{b}" / f"c{v}"
            ).is_dir()


def test_stream_ingest_over_atomic_store(spark, tmp_path):
    """The store runs under start_ingest_stream with checkpoint restart
    + publish-once."""
    landing = tmp_path / "landing"
    landing.mkdir()
    store = AtomicBlockStore(spark, str(tmp_path / "store"))
    ckpt = str(tmp_path / "ckpt")

    with open(landing / "a.json", "w") as f:
        for n in range(5):
            f.write(json.dumps(raw_block(n)) + "\n")
    start_ingest_stream(spark, str(landing), store, ckpt).awaitTermination(120)
    assert store.blocks().count() == 5
    assert store.published().count() == 5

    with open(landing / "b.json", "w") as f:
        f.write(json.dumps(raw_block(2, salt="R")) + "\n")
    start_ingest_stream(spark, str(landing), store, ckpt).awaitTermination(120)
    assert store.blocks().count() == 5
    assert store.published().count() == 6  # reorged hash published once
    pairs = [(r["number"], r["hash"]) for r in store.published().collect()]
    assert len(pairs) == len(set(pairs))


def test_read_buckets_prunes_paths(spark, tmp_path):
    """read_buckets must resolve only the requested buckets' object dirs
    from the manifest — the scan's file index never sees other buckets."""
    from evm_indexer_spark.schemas import BLOCK_BUCKET_SIZE

    store = AtomicBlockStore(spark, str(tmp_path / "s"))
    far = BLOCK_BUCKET_SIZE * 5  # lands in bucket 5
    process_raw_batch(store, make_raw(spark, [raw_block(0), raw_block(far)]))

    b0 = store.read_buckets("blocks", [0])
    assert [r["number"] for r in b0.collect()] == [0]
    plan = b0._jdf.queryExecution().executedPlan().toString()
    # one object dir in the file index (the full read would list two)
    assert "InMemoryFileIndex(1 paths)" in plan, plan
    full = store.read("blocks")._jdf.queryExecution().executedPlan().toString()
    assert "InMemoryFileIndex(2 paths)" in full, full

    # unknown bucket → empty frame, correct schema
    assert store.read_buckets("blocks", [99]).count() == 0


def test_hash_index_works_over_atomic_store(spark, tmp_path):
    from evm_indexer_spark.schemas import BLOCK_BUCKET_SIZE

    store = AtomicBlockStore(spark, str(tmp_path / "s"))
    far = BLOCK_BUCKET_SIZE * 4
    process_raw_batch(store, make_raw(spark, [raw_block(0), raw_block(far)]))
    target = raw_block(far)["hash"]
    assert store.bucket_of_hash(target, "block") == [4]
    q = store.historical_queries()
    assert q.rows("get_block_by_hash", target)[0]["number"] == far


def _index_rows(store, hash_: str) -> int:
    """Hash-index rows for *hash_* in the current manifest's objects."""
    import pyarrow.dataset as ds

    dirs = [store._hash_dir(v) for v in store._manifest().get("hashes", [])]
    files = [
        os.path.join(d, f)
        for d in dirs
        for d, _, fs in os.walk(d)
        for f in fs
        if f.endswith(".parquet")
    ]
    return ds.dataset(files).to_table(filter=ds.field("hash") == hash_.lower()).num_rows


def test_crash_before_manifest_swap_hides_hash_index_rows(spark, tmp_path, monkeypatch):
    """The index objects of a commit whose manifest swap dies are never
    read; the replay commits the batch's hashes once."""
    store = AtomicBlockStore(spark, str(tmp_path / "s"))
    process_raw_batch(store, make_raw(spark, [raw_block(0), raw_block(1)]))
    batch = [raw_block(2), raw_block(3)]
    hashes = [(b["hash"], "block") for b in batch] + [
        (t["hash"], "tx") for b in batch for t in b["transactions"]
    ]

    def boom(_manifest):
        raise OSError("simulated crash at commit point")

    monkeypatch.setattr(store, "_commit_manifest", boom)
    with pytest.raises(Exception, match="simulated crash"):
        process_raw_batch(store, make_raw(spark, batch))
    monkeypatch.undo()

    assert os.path.isdir(store._hash_dir(2))  # written, not committed
    assert store._manifest()["hashes"] == [1]
    q = store.historical_queries()
    for h, kind in hashes:
        assert store.bucket_of_hash(h, kind) == []
    assert q.rows("get_block_by_hash", batch[0]["hash"]) == []
    assert q.rows("get_transaction_by_hash", batch[1]["transactions"][0]["hash"]) == []

    process_raw_batch(store, make_raw(spark, batch))
    assert store._manifest()["hashes"] == [1, 2]
    for h, kind in hashes:
        assert store.bucket_of_hash(h, kind) == [0]
        assert _index_rows(store, h) == 1
    assert q.rows("get_block_by_hash", batch[0]["hash"])[0]["number"] == 2


def _by_hash(store, docs) -> list:
    q = store.historical_queries()
    out = []
    for b in docs:
        out.append(store.bucket_of_hash(b["hash"], "block"))
        out.append(q.rows("get_block_by_hash", b["hash"]))
        out.append(sorted(r["hash"] for r in q.rows("get_transactions_by_block_hash", b["hash"])))
        for t in b["transactions"]:
            out.append(store.bucket_of_hash(t["hash"], "tx"))
            out.append(q.rows("get_events_by_transaction_hash", t["hash"]))
    return out


def test_compact_folds_the_hash_index(spark, tmp_path):
    """compact() folds the hash index's per-commit object sets into one,
    and every by-hash answer stays the same."""
    from evm_indexer_spark.schemas import BLOCK_BUCKET_SIZE

    store = AtomicBlockStore(spark, str(tmp_path / "s"))
    far = BLOCK_BUCKET_SIZE * 3
    for docs in ([raw_block(0), raw_block(far)], [raw_block(1)], [raw_block(1, salt="R")]):
        process_raw_batch(store, make_raw(spark, docs))
    assert store._manifest()["hashes"] == [1, 2, 3]
    docs = [raw_block(0), raw_block(1), raw_block(1, salt="R"), raw_block(far)]
    before = _by_hash(store, docs)
    assert before[0] == [0] and before[1][0]["number"] == 0
    assert store.compact() == 1
    m = store._manifest()
    assert m["hashes"] == [4] and m["version"] == 4
    assert _by_hash(store, docs) == before
    assert _index_rows(store, raw_block(1)["hash"]) == 1  # the stale entry
    assert store.compact() == 0  # nothing left to fold


def test_vacuum_keeps_the_hash_index_of_retained_snapshots(spark, tmp_path):
    """vacuum() walks the hash index too: it keeps every object set a
    retained snapshot lists and reclaims the folded ones."""
    store = AtomicBlockStore(spark, str(tmp_path / "s"))
    for n in range(3):
        process_raw_batch(store, make_raw(spark, [raw_block(n)]))
    store.compact()  # snapshot 4 lists one folded set
    docs = [raw_block(n) for n in range(3)]
    want = _by_hash(store, docs)

    store.vacuum(min_age_seconds=0, retain_snapshots=2)  # snapshots 3 and 4
    assert all(os.path.isdir(store._hash_dir(v)) for v in (1, 2, 3, 4))
    at3 = store._manifest_at(3)
    assert store.bucket_of_hash(raw_block(2)["hash"], "block", at3) == [0]

    assert store.vacuum(min_age_seconds=0, retain_snapshots=0) >= 3
    assert [v for v in (1, 2, 3, 4) if os.path.isdir(store._hash_dir(v))] == [4]
    assert _by_hash(store, docs) == want


def test_time_travel_across_reorg(spark, tmp_path):
    """Snapshot reads serve the table exactly as of an earlier commit —
    including the pre-reorg block — from immutable objects + archived
    manifests (the Iceberg/Delta mechanism)."""
    store = AtomicBlockStore(spark, str(tmp_path / "s"))
    process_raw_batch(store, make_raw(spark, [raw_block(0), raw_block(1)]))
    process_raw_batch(store, make_raw(spark, [raw_block(2)]))
    process_raw_batch(store, make_raw(spark, [raw_block(1, salt="R")]))

    assert store.snapshots() == [1, 2, 3]
    old1 = raw_block(1)["hash"].lower()
    new1 = raw_block(1, salt="R")["hash"].lower()

    # current: reorged hash; snapshot 2: the original
    assert {r["hash"] for r in store.blocks().collect()} >= {new1}
    assert old1 not in {r["hash"] for r in store.blocks().collect()}
    snap2 = {r["hash"] for r in store.blocks_at(2).collect()}
    assert old1 in snap2 and new1 not in snap2
    assert store.blocks_at(1).count() == 2
    assert store.blocks_at(3).count() == store.blocks().count()
    # children travel together with their parents
    assert store.transactions_at(2).filter(
        F.col("blockhash") == old1
    ).count() == 2

    with pytest.raises(ValueError, match="never committed"):
        store.read_at("blocks", 9)


def test_vacuum_respects_snapshot_retention(spark, tmp_path):
    store = AtomicBlockStore(spark, str(tmp_path / "s"))
    for n in range(4):
        process_raw_batch(store, make_raw(spark, [raw_block(n)]))
    assert store.snapshots() == [1, 2, 3, 4]

    # retain the last 2: snapshots 1-2 fall out of history, their
    # superseded objects get reclaimed, and retained reads still work
    removed = store.vacuum(min_age_seconds=0, retain_snapshots=2)
    assert removed >= 0
    assert store.snapshots() == [3, 4]
    assert store.blocks_at(3).count() == 3
    assert store.blocks().count() == 4
    with pytest.raises(ValueError, match="not retained"):
        store.read_at("blocks", 1)

    # retain nothing but current: history gone, current intact
    store.vacuum(min_age_seconds=0, retain_snapshots=0)
    assert store.snapshots() == []
    assert store.blocks().count() == 4


# -- merge-on-read (delta) commit mode -----------------------------------


def _delta_store(spark, tmp_path, **kw):
    return AtomicBlockStore(
        spark, str(tmp_path / "d"), commit_mode="delta", **kw
    )


def test_delta_upsert_matches_cow_semantics(spark, tmp_path):
    """Replace-by-number + child cascade must read identically under
    merge-on-read; the manifest shows a base + delta chain."""
    store = _delta_store(spark, tmp_path)
    process_raw_batch(store, make_raw(spark, [raw_block(n) for n in range(3)]))
    process_raw_batch(store, make_raw(spark, [raw_block(1, salt="R")]))

    blocks = store.blocks()
    assert blocks.count() == 3
    assert (
        blocks.filter(F.col("number") == 1).first()["hash"]
        == raw_block(1, salt="R")["hash"].lower()
    )
    old_hash = raw_block(1)["hash"].lower()
    assert store.transactions().filter(F.col("blockhash") == old_hash).count() == 0
    assert store.events().filter(F.col("blockhash") == old_hash).count() == 0
    assert store.transactions().count() == 6
    assert store.events().count() == 6

    entry = store._manifest()["tables"]["blocks"]["0"]
    assert entry == {"base": 1, "deltas": [2]}


def test_delta_commit_writes_only_the_batch(spark, tmp_path):
    """The whole point of MOR: commit N+1 writes O(batch) rows, not a
    rewrite of the bucket (COW writes survivors ∪ batch)."""
    store = _delta_store(spark, tmp_path)
    process_raw_batch(store, make_raw(spark, [raw_block(n) for n in range(50)]))
    process_raw_batch(store, make_raw(spark, [raw_block(50)]))

    delta_dir = store._obj_dir("blocks", 0, 2)
    assert spark.read.parquet(delta_dir).count() == 1  # not 51
    assert store.blocks().count() == 51

    cow = AtomicBlockStore(spark, str(tmp_path / "c"))
    process_raw_batch(cow, make_raw(spark, [raw_block(n) for n in range(50)]))
    process_raw_batch(cow, make_raw(spark, [raw_block(50)]))
    assert spark.read.parquet(cow._obj_dir("blocks", 0, 2)).count() == 51


def test_delta_idempotent_redelivery_no_duplicates(spark, tmp_path):
    store = _delta_store(spark, tmp_path)
    batch = [raw_block(0), raw_block(1)]
    process_raw_batch(store, make_raw(spark, batch))
    process_raw_batch(store, make_raw(spark, batch))  # duplicate delivery
    assert store.blocks().count() == 2
    assert store.transactions().count() == 4
    assert store.events().count() == 4


def test_delta_compaction_folds_and_preserves_content(spark, tmp_path):
    store = _delta_store(spark, tmp_path, max_deltas=100)
    for n in range(4):
        process_raw_batch(store, make_raw(spark, [raw_block(n)]))
    process_raw_batch(store, make_raw(spark, [raw_block(2, salt="R")]))

    before = {
        t: sorted(
            (r["blockhash"] if "blockhash" in r.__fields__ else r["hash"])
            for r in getattr(store, t)().collect()
        )
        for t in ("blocks", "transactions", "events")
    }
    stats_before = store._manifest()["stats"]["blocks"]["0"]
    assert store.compact() > 0
    after = {
        t: sorted(
            (r["blockhash"] if "blockhash" in r.__fields__ else r["hash"])
            for r in getattr(store, t)().collect()
        )
        for t in ("blocks", "transactions", "events")
    }
    assert before == after
    m = store._manifest()
    assert isinstance(m["tables"]["blocks"]["0"], int)
    # zone maps recomputed exact (delta mode only widens)
    assert m["stats"]["blocks"]["0"] == stats_before
    # compacted bucket is back on the zero-merge fast path
    plan = store.blocks()._jdf.queryExecution().executedPlan().toString()
    assert "Window" not in plan, plan
    assert store.compact() == 0  # nothing left to fold


def test_delta_auto_compaction_bounds_read_amplification(spark, tmp_path):
    store = _delta_store(spark, tmp_path, max_deltas=2)
    for n in range(5):
        process_raw_batch(store, make_raw(spark, [raw_block(n)]))
    e = store._manifest()["tables"]["blocks"]["0"]
    n_deltas = 0 if isinstance(e, int) else len(e["deltas"])
    assert n_deltas < 2, e
    assert store.blocks().count() == 5


def test_delta_crash_before_swap_is_invisible(spark, tmp_path, monkeypatch):
    store = _delta_store(spark, tmp_path)
    process_raw_batch(store, make_raw(spark, [raw_block(0), raw_block(1)]))

    def boom(_manifest):
        raise OSError("simulated crash at commit point")

    monkeypatch.setattr(store, "_commit_manifest", boom)
    with pytest.raises(Exception, match="simulated crash"):
        process_raw_batch(store, make_raw(spark, [raw_block(2)]))
    monkeypatch.undo()

    assert store.blocks().count() == 2
    process_raw_batch(store, make_raw(spark, [raw_block(2)]))  # replay
    assert store.blocks().count() == 3


def test_delta_time_travel_and_vacuum(spark, tmp_path):
    store = _delta_store(spark, tmp_path, max_deltas=100)
    process_raw_batch(store, make_raw(spark, [raw_block(0), raw_block(1)]))
    process_raw_batch(store, make_raw(spark, [raw_block(1, salt="R")]))
    old1 = raw_block(1)["hash"].lower()

    snap1 = {r["hash"] for r in store.blocks_at(1).collect()}
    assert old1 in snap1
    cur = {r["hash"] for r in store.blocks().collect()}
    assert old1 not in cur

    # live delta objects survive an aggressive vacuum
    store.vacuum(min_age_seconds=0, retain_snapshots=0)
    assert {r["hash"] for r in store.blocks().collect()} == cur

    # after compaction, superseded base+delta dirs are reclaimable
    store.compact()
    removed = store.vacuum(min_age_seconds=0, retain_snapshots=0)
    assert removed > 0
    assert {r["hash"] for r in store.blocks().collect()} == cur


def test_delta_zone_maps_widen_then_tighten(spark, tmp_path):
    store = _delta_store(spark, tmp_path, max_deltas=100)
    process_raw_batch(store, make_raw(spark, [raw_block(5)]))
    process_raw_batch(store, make_raw(spark, [raw_block(1)]))
    lo = 1_600_000_000  # raw_block: timestamp = lo + 2 * number
    m = store._manifest()
    assert m["stats"]["blocks"]["0"] == [lo + 2 * 1, lo + 2 * 5]
    assert store.buckets_for_time_range(lo, lo + 1) == []
    assert store.buckets_for_time_range(lo + 2, lo + 3) == [0]


def test_delta_stream_ingest(spark, tmp_path):
    """The ingest stream is commit-mode-agnostic."""
    landing = tmp_path / "landing"
    landing.mkdir()
    store = AtomicBlockStore(
        spark, str(tmp_path / "store"), commit_mode="delta"
    )
    ckpt = str(tmp_path / "ckpt")
    with open(landing / "a.json", "w") as f:
        for n in range(5):
            f.write(json.dumps(raw_block(n)) + "\n")
    start_ingest_stream(spark, str(landing), store, ckpt).awaitTermination(120)
    assert store.blocks().count() == 5
    assert store.published().count() == 5



@pytest.mark.parametrize("mode", ["cow", "delta"])
def test_batch_with_two_hashes_for_one_number_stores_one(spark, tmp_path, mode):
    """A micro-batch carrying two blocks numbered 1 stores one of them —
    the greatest hash — with only its own children, and reads the same
    block after an unrelated later commit and, under delta, after
    compaction. Storing both let delta pick one by a tie on commit
    order, so the answer changed with the next commit."""
    store = AtomicBlockStore(spark, str(tmp_path / mode), commit_mode=mode)
    twins = [raw_block(1), raw_block(1, salt="R")]
    keep = max(b["hash"].lower() for b in twins)

    def block_one():
        hashes = [
            r["hash"]
            for r in store.blocks().filter(F.col("number") == 1).collect()
        ]
        kids = [
            t.filter(F.col("blockhash").isin(*[b["hash"].lower() for b in twins]))
            for t in (store.transactions(), store.events())
        ]
        return hashes, [
            sorted(r["blockhash"] for r in k.select("blockhash").collect())
            for k in kids
        ]

    want = ([keep], [[keep, keep], [keep, keep]])
    process_raw_batch(store, make_raw(spark, [raw_block(0), *twins]))
    assert block_one() == want
    process_raw_batch(store, make_raw(spark, [raw_block(2)]))
    assert block_one() == want
    assert store.transactions().count() == 6
    if mode == "delta":
        store.compact()
        assert block_one() == want
