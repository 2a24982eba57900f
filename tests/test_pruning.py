"""Bucket pruning over the block store: a guardrail-bounded read must
scan only its buckets' object dirs, resolved from the manifest."""

from __future__ import annotations

import io
import os
from contextlib import redirect_stdout

import pytest

from evm_indexer_spark.schemas import BLOCK_BUCKET_SIZE
from evm_indexer_spark.sources.rawgen import raw_block_doc
from evm_indexer_spark.sources.normalize import RAW_BLOCK_SCHEMA
from evm_indexer_spark.streaming.ingest import process_raw_batch
from evm_indexer_spark.streaming.txstore import AtomicBlockStore


@pytest.fixture(scope="module")
def atomic_store(spark, tmp_path_factory):
    root = tmp_path_factory.mktemp("atomic_pruned")
    s = AtomicBlockStore(spark, str(root))
    docs = [
        raw_block_doc(n)
        for start in (0, BLOCK_BUCKET_SIZE, 2 * BLOCK_BUCKET_SIZE)
        for n in range(start, start + 30)
    ]
    process_raw_batch(s, spark.createDataFrame(docs, RAW_BLOCK_SCHEMA))
    return s


def _plan(df) -> str:
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def test_unwired_queries_do_not_prune(atomic_store):
    from evm_indexer_spark.operators.historical import HistoricalQueries

    hq = HistoricalQueries(
        atomic_store.blocks(), atomic_store.transactions(), atomic_store.events()
    )
    plan = _plan(hq.get_blocks_by_number_range(5, 15))
    seg = plan.split("PartitionFilters", 1)
    assert len(seg) == 1 or "bucket#" not in seg[1][:120]


def _read_buckets(monkeypatch) -> list:
    """Record the bucket list of every ``local_rows`` read."""
    seen, real = [], AtomicBlockStore.local_rows

    def spy(self, table, buckets, *args, **kwargs):
        seen.append((table, buckets))
        return real(self, table, buckets, *args, **kwargs)

    monkeypatch.setattr(AtomicBlockStore, "local_rows", spy)
    return seen


def test_hash_index_prunes_point_lookup(spark, tmp_path, monkeypatch):
    """P4 by hash through the manifest's hash index reads one bucket,
    not the chain (SURVEY §7 risk 3); a store older than the index
    falls back to the full scan."""
    from .test_streaming import make_raw, raw_block

    store = AtomicBlockStore(spark, str(tmp_path / "s"))
    far = BLOCK_BUCKET_SIZE * 7
    process_raw_batch(store, make_raw(spark, [raw_block(0), raw_block(1), raw_block(far)]))

    target = raw_block(far)["hash"].lower()
    assert store.bucket_of_hash(target, "block") == [7]
    q = store.historical_queries()
    with monkeypatch.context() as m:
        reads = _read_buckets(m)
        row = q.rows("get_block_by_hash", target)
    assert len(row) == 1 and row[0]["number"] == far
    # the read resolves bucket 7's object dir only
    assert reads == [("blocks", [7])]

    # a later commit indexes its own hashes; compaction folds both
    process_raw_batch(store, make_raw(spark, [raw_block(2)]))
    assert store.bucket_of_hash(raw_block(2)["hash"], "block") == [0]
    assert store.compact() == 1
    assert store.bucket_of_hash(target, "block") == [7]

    # the manifest of a store older than the index: full-scan fallback
    m = store._manifest()
    del m["hashes"]
    store._commit_manifest(m)
    assert store.bucket_of_hash(raw_block(2)["hash"], "block") is None
    q = store.historical_queries()
    assert q.get_block_by_hash(raw_block(2)["hash"]).count() == 1
    assert len(q.rows("get_block_by_hash", raw_block(2)["hash"])) == 1


def test_absent_hash_index_launches_no_job(spark, tmp_path):
    """A store whose hash index was never written answers by-hash
    bucket lookups with None without scheduling a single Spark job."""
    store = AtomicBlockStore(spark, str(tmp_path / "s"))
    assert not os.path.isdir(os.path.join(store.root, "objects", "hashes"))
    sc = spark.sparkContext
    group = "absent-hash-index-probe"
    sc.setJobGroup(group, group, False)
    try:
        assert store.bucket_of_hash("0x" + "ab" * 32, "block") is None
        assert store.bucket_of_hash("0x" + "ab" * 32, "tx") is None
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert list(sc.statusTracker().getJobIdsForGroup(group)) == []


def test_manifest_path_pruning_window_read(atomic_store):
    """A one-bucket number window must SCAN only that bucket's object
    dir — path pruning resolved from the manifest, not row-group stats."""
    hq = atomic_store.historical_queries()
    frm = BLOCK_BUCKET_SIZE + 5
    df = hq.get_blocks_by_number_range(frm, frm + 10)
    files = df.inputFiles()
    assert files and all("/b1/" in f for f in files), files
    full = atomic_store.read("blocks").inputFiles()
    assert len(files) < len(full)
    assert df.count() == 11


def test_manifest_path_pruning_point_read(atomic_store):
    hq = atomic_store.historical_queries()
    n = 2 * BLOCK_BUCKET_SIZE + 3
    df = hq.get_block_by_number(n)
    assert all("/b2/" in f for f in df.inputFiles()), df.inputFiles()
    assert df.count() == 1


def test_manifest_path_pruning_fact_side(atomic_store):
    hq = atomic_store.historical_queries()
    frm = 2 * BLOCK_BUCKET_SIZE
    df = hq.get_events_from_contract_by_block_number_range(
        "0x" + "0" * 40, frm, frm + 20
    )
    ev_files = [f for f in df.inputFiles() if "/events/" in f]
    blk_files = [f for f in df.inputFiles() if "/blocks/" in f]
    assert ev_files and all("/b2/" in f for f in ev_files), ev_files
    assert blk_files and all("/b2/" in f for f in blk_files), blk_files
    assert df.count() > 0


def test_pruned_atomic_results_match_full(atomic_store):
    from evm_indexer_spark.operators.historical import HistoricalQueries

    pruned = atomic_store.historical_queries()
    plain = HistoricalQueries(
        atomic_store.blocks(), atomic_store.transactions(), atomic_store.events()
    )
    frm = BLOCK_BUCKET_SIZE - 5  # straddles two buckets
    a = sorted(
        r["number"]
        for r in pruned.get_blocks_by_number_range(frm, frm + 20).collect()
    )
    b = sorted(
        r["number"]
        for r in plain.get_blocks_by_number_range(frm, frm + 20).collect()
    )
    assert a == b and len(a) == 16


def _t(n: int) -> int:
    """Block time assigned by raw_block_doc (rawgen.py)."""
    return 1_700_000_000 + 12 * n


def test_zone_map_time_pruning_blocks(atomic_store):
    """A time window inside one bucket's recorded [min,max] must scan
    only that bucket's object dir — manifest zone maps, not row stats."""
    hq = atomic_store.historical_queries()
    frm = _t(BLOCK_BUCKET_SIZE + 5)
    df = hq.get_blocks_by_time_range(frm, frm + 12 * 10)
    files = df.inputFiles()
    assert files and all("/b1/" in f for f in files), files
    assert df.count() == 11


def test_zone_map_time_pruning_fact_side(atomic_store):
    hq = atomic_store.historical_queries()
    frm = _t(2 * BLOCK_BUCKET_SIZE)
    df = hq.get_events_from_contract_by_block_time_range(
        "0x" + "0" * 40, frm, frm + 12 * 20
    )
    ev_files = [f for f in df.inputFiles() if "/events/" in f]
    blk_files = [f for f in df.inputFiles() if "/blocks/" in f]
    assert ev_files and all("/b2/" in f for f in ev_files), ev_files
    assert blk_files and all("/b2/" in f for f in blk_files), blk_files
    assert df.count() > 0


def test_zone_map_time_results_match_unpruned(atomic_store):
    from evm_indexer_spark.operators.historical import HistoricalQueries

    pruned = atomic_store.historical_queries()
    plain = HistoricalQueries(
        atomic_store.blocks(), atomic_store.transactions(), atomic_store.events()
    )
    # window straddling the gap between bucket 0's and bucket 1's rows
    frm, to = _t(25), _t(BLOCK_BUCKET_SIZE + 4)
    a = sorted(r["number"] for r in pruned.get_blocks_by_time_range(frm, to).collect())
    b = sorted(r["number"] for r in plain.get_blocks_by_time_range(frm, to).collect())
    assert a == b and len(a) == 10  # 25..29 + BBS..BBS+4


def test_zone_map_disjoint_window_reads_nothing(atomic_store):
    hq = atomic_store.historical_queries()
    # far in the future: intersects no bucket's bounds
    df = hq.get_blocks_by_time_range(_t(10**9), _t(10**9) + 100)
    assert df.inputFiles() == [] or df.count() == 0
    assert atomic_store.buckets_for_time_range(_t(10**9), _t(10**9) + 100) == []


def test_zone_map_legacy_manifest_falls_back(atomic_store):
    """Manifests written before zone maps (no stats key) must resolve to
    None → callers keep the full-scan behavior, never a wrong prune."""
    import json

    m = atomic_store._manifest()
    stripped = {k: v for k, v in m.items() if k != "stats"}
    path = atomic_store._manifest_path()
    with open(path) as f:
        orig = f.read()
    try:
        with open(path, "w") as f:
            json.dump(stripped, f)
        assert atomic_store.buckets_for_time_range(0, 2**62) is None
        hq = atomic_store.historical_queries()
        assert hq.get_blocks_by_time_range(_t(0), _t(29)).count() == 30
    finally:
        with open(path, "w") as f:
            f.write(orig)


def test_rest_facade_default_hash_index_both_backends(spark, atomic_store, monkeypatch):
    """store.rest_facade() must serve point-by-hash reads through the
    manifest's hash index by default, reading one bucket's object
    dirs, and the Spark fallback must give the same rows."""
    target_number = 2 * BLOCK_BUCKET_SIZE + 7
    h = raw_block_doc(target_number)["hash"].lower()
    facade = atomic_store.rest_facade()
    assert facade.hash_index is atomic_store
    assert facade.hash_index.bucket_of_hash(h, "block") == [2]
    with monkeypatch.context() as m:
        reads = _read_buckets(m)
        out = facade.block({"hash": h})
        txs = facade.block({"hash": h, "tx": "yes"})
    assert int(out["number"]) == target_number
    # the lookups resolve bucket 2's paths only
    assert reads == [("blocks", [2]), ("transactions", [2])]

    with monkeypatch.context() as m:
        m.setattr(AtomicBlockStore, "local_rows", lambda *a, **k: None)
        assert facade.block({"hash": h}) == out
        spark_txs = facade.block({"hash": h, "tx": "yes"})
    key = lambda r: r["hash"]
    assert sorted(spark_txs["transactions"], key=key) == sorted(txs["transactions"], key=key)
