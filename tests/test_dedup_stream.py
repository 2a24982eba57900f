"""Dedup-on-arrival: incremental MinHash pairs + the streaming index.

Oracle model: the incremental pass over (indexed old half, arriving new
half) must report EXACTLY the batch-dedup truth restricted to pairs
touching the new half — verified here against the full batch operator
(which is itself DuckDB-oracled by q27/q66 in the driver gate).
"""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import functions as F

from evm_indexer_spark.operators import dedup
from evm_indexer_spark.streaming.dedup_stream import (
    MinHashBucketIndex,
    start_dedup_stream,
)

# 3 clusters of near-dup paragraphs + unrelated filler, ids chosen so a
# mid-split leaves cluster members on both sides
BASE = (
    "the quick brown fox jumps over the lazy dog while the band plays "
    "a quiet tune in the old town hall tonight"
)
ALT = (
    "deep in the misty valley the river bends around mossy stones and "
    "carries autumn leaves toward the distant grey sea"
)


def _docs(spark):
    rows = []
    for i in range(6):
        rows.append((i, BASE + f" variant {i}"))
    for i in range(6, 12):
        rows.append((i, ALT + f" edition {i}"))
    for i in range(12, 20):
        rows.append((i, f"unrelated document number {i} with words " * 3 + str(i)))
    return spark.createDataFrame(rows, ["doc_id", "text"])


def test_incremental_equals_batch_restricted(spark):
    doc = _docs(spark)
    split = 10
    old = doc.filter(F.col("doc_id") < split)
    new = doc.filter(F.col("doc_id") >= split)

    full = dedup.minhash_near_duplicates(
        doc, "doc_id", "text", num_hashes=64, bands=64, jaccard_threshold=0.4
    )
    want = {
        (r.id_a, r.id_b, round(r.jaccard, 6))
        for r in full.collect()
        if r.id_b >= split
    }
    assert want, "fixture must produce cross-split pairs"

    index = dedup.minhash_banded(old, "doc_id", "text", num_hashes=64, bands=64)
    got = {
        (r.id_a, r.id_b, round(r.jaccard, 6))
        for r in dedup.incremental_minhash_pairs(
            new, index, doc, "doc_id", "text",
            num_hashes=64, bands=64, jaccard_threshold=0.4,
        ).collect()
    }
    assert got == want


def test_index_banding_mismatch_rejected(spark, tmp_path):
    MinHashBucketIndex(spark, str(tmp_path / "ix"), num_hashes=16, bands=8)
    with pytest.raises(ValueError, match="banding"):
        MinHashBucketIndex(spark, str(tmp_path / "ix"), num_hashes=64, bands=64)
    # same banding but the other signing strategy: different hash
    # families never collide — reopening must refuse too
    with pytest.raises(ValueError, match="banding"):
        MinHashBucketIndex(
            spark, str(tmp_path / "ix"), num_hashes=16, bands=8,
            strategy="pandas",
        )
    # same everything reopens fine
    MinHashBucketIndex(spark, str(tmp_path / "ix"), num_hashes=16, bands=8)


def test_index_append_idempotent(spark, tmp_path):
    ix = MinHashBucketIndex(
        spark, str(tmp_path / "ix"), num_hashes=16, bands=8
    )
    doc = _docs(spark)
    ix.append(doc, "doc_id", "text", batch_id=7)
    n1 = ix.buckets().count()
    # epoch re-delivery lands under the same batch id → replaced, not doubled
    ix.append(doc, "doc_id", "text", batch_id=7)
    assert ix.buckets().count() == n1
    assert n1 == doc.count() * 8  # one row per doc per band


def _nfiles(root) -> int:
    return sum(len(fs) for _, _, fs in os.walk(root))


def test_index_compaction_bounds_file_count(spark, tmp_path):
    ix = MinHashBucketIndex(spark, str(tmp_path / "ix"), num_hashes=16, bands=8)
    doc = _docs(spark)
    for epoch in range(5):
        ix.append(doc.filter(F.col("doc_id") % 5 == epoch), "doc_id", "text",
                  batch_id=epoch)
    before_rows = sorted(map(tuple, ix.buckets().collect()))
    before_dirs = len([d for d in os.listdir(tmp_path / "ix")
                       if d.startswith("batch=")])
    before_files = _nfiles(tmp_path / "ix")
    assert before_dirs == 5

    assert ix.compact() == 5
    after_dirs = [d for d in os.listdir(tmp_path / "ix")
                  if d.startswith("batch=")]
    assert after_dirs == ["batch=base0"]
    assert _nfiles(tmp_path / "ix") < before_files
    # rows byte-identical through the fold
    assert sorted(map(tuple, ix.buckets().collect())) == before_rows

    # compacting a compacted index is a no-op; folding new epochs on
    # top of a base bumps the generation
    assert ix.compact() == 0
    ix.append(doc.filter(F.col("doc_id") < 3), "doc_id", "text", batch_id=99)
    assert ix.compact() == 2
    assert [d for d in os.listdir(tmp_path / "ix")
            if d.startswith("batch=")] == ["batch=base1"]


def _land(path, rows, name, id_key="doc_id", text_key="text"):
    with open(os.path.join(path, name), "w") as f:
        for doc_id, text in rows:
            f.write(json.dumps({id_key: doc_id, text_key: text}) + "\n")


def test_stream_reports_cross_batch_pairs(spark, tmp_path):
    landing = tmp_path / "landing"
    landing.mkdir()
    ckpt = str(tmp_path / "ckpt")
    ix = MinHashBucketIndex(
        spark, str(tmp_path / "ix"), num_hashes=64, bands=64
    )
    seen: list[tuple[list, int]] = []

    def run():
        q = start_dedup_stream(
            spark, str(landing), ix, ckpt,
            on_pairs=lambda pairs, epoch: seen.append((pairs, epoch)),
            jaccard_threshold=0.4,
        )
        q.awaitTermination(120)

    # batch 1: two members of the BASE cluster + filler
    _land(str(landing), [(0, BASE + " variant 0"), (1, BASE + " variant 1"),
                         (50, "totally different text about trains 50")], "b1.json")
    run()
    flat1 = {(p["id_a"], p["id_b"]) for pairs, _ in seen for p in pairs}
    assert (0, 1) in flat1

    # batch 2: a third member must pair with BOTH batch-1 members
    # (cross-batch, via the persisted index) and filler stays silent
    seen.clear()
    _land(str(landing), [(2, BASE + " variant 2"),
                         (60, "entirely other text about rivers 60")], "b2.json")
    run()
    flat2 = {(p["id_a"], p["id_b"]) for pairs, _ in seen for p in pairs}
    assert (0, 2) in flat2 and (1, 2) in flat2
    assert all(60 not in pair and 50 not in pair for pair in flat2)

    # restart with the same checkpoint and no new files: nothing re-fires
    seen.clear()
    run()
    assert seen == [] or all(not pairs for pairs, _ in seen)


def test_stream_rearrived_id_is_dropped(spark, tmp_path):
    # a doc_id landing again in a LATER file must not be re-indexed
    # (double bucket rows + merged shingle sets would corrupt every
    # jaccard involving it) — the arrival anti-join drops it
    landing = tmp_path / "landing"
    landing.mkdir()
    ckpt = str(tmp_path / "ckpt")
    ix = MinHashBucketIndex(spark, str(tmp_path / "ix"), num_hashes=64, bands=64)
    seen: list[tuple[list, int]] = []

    def run():
        q = start_dedup_stream(
            spark, str(landing), ix, ckpt,
            on_pairs=lambda pairs, epoch: seen.append((pairs, epoch)),
            jaccard_threshold=0.4,
        )
        q.awaitTermination(120)

    _land(str(landing), [(0, BASE + " variant 0"), (1, BASE + " variant 1")],
          "b1.json")
    run()
    rows_after_b1 = ix.buckets().filter(F.col("id") == 0).count()
    assert rows_after_b1 == 64

    # id 0 re-arrives with DIFFERENT text alongside a genuinely new doc
    seen.clear()
    _land(str(landing), [(0, "rewritten contents that changed entirely 0"),
                         (2, BASE + " variant 2")], "b2.json")
    run()
    # the re-arrival contributed nothing: no extra bucket rows, and the
    # new doc's pairs verify against the ORIGINAL text only
    assert ix.buckets().filter(F.col("id") == 0).count() == 64
    flat = {(p["id_a"], p["id_b"]) for pairs, _ in seen for p in pairs}
    assert (0, 2) in flat and (1, 2) in flat
    for pairs, _ in seen:
        for p in pairs:
            assert p["jaccard"] > 0.4


def test_stream_custom_column_names(spark, tmp_path):
    # id_col/text_col are honored end to end (schema, selects, store)
    landing = tmp_path / "landing"
    landing.mkdir()
    ckpt = str(tmp_path / "ckpt")
    ix = MinHashBucketIndex(spark, str(tmp_path / "ix"), num_hashes=64, bands=64)
    seen: list[tuple[list, int]] = []
    q = start_dedup_stream(
        spark, str(landing), ix, ckpt,
        on_pairs=lambda pairs, epoch: seen.append((pairs, epoch)),
        id_col="item_id", text_col="body",
        jaccard_threshold=0.4,
    )
    q.awaitTermination(120)
    _land(str(landing), [(0, BASE + " variant 0"), (1, BASE + " variant 1")],
          "b1.json", id_key="item_id", text_key="body")
    q = start_dedup_stream(
        spark, str(landing), ix, ckpt,
        on_pairs=lambda pairs, epoch: seen.append((pairs, epoch)),
        id_col="item_id", text_col="body",
        jaccard_threshold=0.4,
    )
    q.awaitTermination(120)
    flat = {(p["id_a"], p["id_b"]) for pairs, _ in seen for p in pairs}
    assert (0, 1) in flat


def test_stream_unbounded_pairs_go_to_sink_not_driver(spark, tmp_path):
    """Adversarial all-duplicates batch (a mirror dump / crawler
    replay): one epoch emits ≥100k near-dup pairs. The DEFAULT verdict
    path is the epoch-keyed parquet sink — no ``on_pairs`` callback, no
    driver collect anywhere in the path — so pair volume lands on
    executors/disk and the epoch stays idempotent (re-delivery
    overwrites its own batch dir)."""
    landing = tmp_path / "landing"
    landing.mkdir()
    ckpt = str(tmp_path / "ckpt")
    ix = MinHashBucketIndex(spark, str(tmp_path / "ix"), num_hashes=64, bands=64)
    n = 500  # C(500,2) = 124,750 pairs from one epoch
    _land(str(landing), [(i, BASE + " exact copy") for i in range(n)], "b1.json")
    q = start_dedup_stream(spark, str(landing), ix, ckpt, jaccard_threshold=0.5)
    q.awaitTermination(600)
    pairs = spark.read.parquet(str(tmp_path / "ix" / "_pairs"))
    assert pairs.count() == n * (n - 1) // 2
    assert pairs.filter(F.col("jaccard") < 1.0).count() == 0
    # identical docs: every unordered pair exactly once, ids ordered
    assert pairs.filter(F.col("id_a") >= F.col("id_b")).count() == 0


def test_stream_callback_reads_back_written_epoch(spark, tmp_path):
    # opt-in on_pairs must see exactly the rows the sink recorded
    landing = tmp_path / "landing"
    landing.mkdir()
    ckpt = str(tmp_path / "ckpt")
    ix = MinHashBucketIndex(spark, str(tmp_path / "ix"), num_hashes=64, bands=64)
    seen: list[dict] = []
    _land(str(landing), [(0, BASE + " variant 0"), (1, BASE + " variant 1")],
          "b1.json")
    q = start_dedup_stream(
        spark, str(landing), ix, ckpt,
        on_pairs=lambda pairs, epoch: seen.extend(pairs),
        jaccard_threshold=0.4,
    )
    q.awaitTermination(120)
    sink = [
        r.asDict()
        for r in spark.read.parquet(str(tmp_path / "ix" / "_pairs"))
        .drop("batch")  # epoch partition column, sink-read only
        .collect()
    ]
    key = lambda d: (d["id_a"], d["id_b"])  # noqa: E731
    assert sorted(seen, key=key) == sorted(sink, key=key)
    assert any((d["id_a"], d["id_b"]) == (0, 1) for d in seen)


def test_index_rejects_unknown_strategy(spark, tmp_path):
    # a typo'd strategy must fail loudly, not silently stamp "expr"
    # into the index marker for its lifetime
    with pytest.raises(ValueError, match="strategy"):
        MinHashBucketIndex(spark, str(tmp_path / "ix"), strategy="Pandas")


def test_index_marker_permission_error_not_masked(spark, tmp_path):
    # a non-race create() failure must surface as-is, not resurface as
    # a misleading banding-mismatch ValueError
    import evm_indexer_spark.streaming.epochlog as el

    assert not el._is_already_exists(
        RuntimeError("Permission denied: /ix/_banding")
    )
    assert el._is_already_exists(
        RuntimeError("File already exists: /ix/_banding")
    )


def test_premarker_checkpoint_resumes_at_base_zero(spark, tmp_path):
    """A checkpoint created by pre-marker code (Spark offset logs
    present, no __batch_base__ marker) is a SAME-lineage resume: its
    epochs already wrote batch ids 0..k, so base must be 0 — a
    high-water base would re-deliver an in-flight epoch under a new id
    and double-count summed partial stores (round-11 advice fix)."""
    from evm_indexer_spark.streaming.epochlog import _stream_batch_base

    landing = tmp_path / "landing"
    landing.mkdir()
    ckpt = tmp_path / "ckpt"
    ix = MinHashBucketIndex(spark, str(tmp_path / "ix"), num_hashes=64, bands=64)
    _land(str(landing), [(0, BASE + " variant 0")], "b1.json")
    q = start_dedup_stream(spark, str(landing), ix, str(ckpt))
    q.awaitTermination(120)
    assert (ckpt / "offsets").is_dir()  # a real lineage exists
    # simulate the pre-marker world: lineage logs intact, marker absent
    (ckpt / "__batch_base__").unlink()
    base = _stream_batch_base(
        spark, str(ckpt), [str(tmp_path / "ix")]
    )
    assert base == 0
    # and the recomputed answer was re-stamped for future restarts
    assert (ckpt / "__batch_base__").read_text() == "0"
    # a genuinely fresh checkpoint still takes the high-water path
    assert _stream_batch_base(
        spark, str(tmp_path / "ckpt_fresh"), [str(tmp_path / "ix")]
    ) >= 1


def test_marker_read_exhaustion_raises_informative(spark, tmp_path, monkeypatch):
    # a persistently empty marker must fail loudly, not as int('')
    import time as _time

    from evm_indexer_spark.streaming.epochlog import _hadoop, _read_marker

    marker = tmp_path / "__batch_base__"
    marker.write_text("")
    monkeypatch.setattr(_time, "sleep", lambda _s: None)
    fs, jpath = _hadoop(spark, str(marker))
    with pytest.raises(RuntimeError, match="unreadable or empty"):
        _read_marker(fs, jpath)


def test_index_delete_tombstones_and_compact(spark, tmp_path):
    """Retraction tier on the MinHash index: delete() stops a doc from
    producing candidate pairs immediately (live_buckets anti-join),
    buckets() keeps the physical rows until compact() folds them out
    and clears tombstones."""
    ix = MinHashBucketIndex(spark, str(tmp_path / "ix"), num_hashes=64, bands=64)
    docs = spark.createDataFrame(
        [(0, BASE + " variant 0"), (1, BASE + " variant 1")],
        "doc_id long, text string",
    )
    ix.append(docs, "doc_id", "text", batch_id=0)
    assert ix.tombstones() is None  # undeleted index: None fast path

    new = spark.createDataFrame(
        [(2, BASE + " variant 2")], "doc_id long, text string"
    )
    corpus = docs.unionByName(new)
    before = {
        (r["id_a"], r["id_b"])
        for r in ix.pairs_for(new, corpus, "doc_id", "text", 0.4).collect()
    }
    assert before == {(0, 2), (1, 2)}

    ix.delete([0])
    after = {
        (r["id_a"], r["id_b"])
        for r in ix.pairs_for(new, corpus, "doc_id", "text", 0.4).collect()
    }
    assert after == {(1, 2)}  # retracted doc pairs with nothing
    assert ix.buckets().filter(F.col("id") == 0).count() == 64  # physical
    assert ix.live_buckets().filter(F.col("id") == 0).count() == 0

    # compact folds the deletion physically and clears the tombstones
    folded = ix.compact()
    assert folded >= 1
    assert ix.tombstones() is None
    assert ix.buckets().filter(F.col("id") == 0).count() == 0
    assert ix.buckets().filter(F.col("id") == 1).count() == 64
    assert {
        (r["id_a"], r["id_b"])
        for r in ix.pairs_for(new, corpus, "doc_id", "text", 0.4).collect()
    } == {(1, 2)}


def test_embedding_index_delete_tombstones(spark, tmp_path):
    from evm_indexer_spark.streaming.embed_stream import EmbeddingBucketIndex

    ix = EmbeddingBucketIndex(spark, str(tmp_path / "eix"), dim=4)
    vecs = spark.createDataFrame(
        [(0, [1.0, 0.0, 0.0, 0.0]), (1, [0.999, 0.01, 0.0, 0.0])],
        "vec_id long, vec array<double>",
    )
    ix.append(vecs, "vec_id", "vec", batch_id=0)
    new = spark.createDataFrame(
        [(2, [0.998, 0.02, 0.0, 0.0])], "vec_id long, vec array<double>"
    )
    corpus = vecs.unionByName(new)
    before = {
        (r["id_a"], r["id_b"])
        for r in ix.pairs_for(new, corpus, "vec_id", "vec", 0.99).collect()
    }
    assert before == {(0, 2), (1, 2)}
    ix.delete([0])
    assert {
        (r["id_a"], r["id_b"])
        for r in ix.pairs_for(new, corpus, "vec_id", "vec", 0.99).collect()
    } == {(1, 2)}
    assert ix.compact() >= 1
    assert ix.tombstones() is None
    assert ix.buckets().filter(F.col("id") == 0).count() == 0


def test_delete_landing_mid_compact_survives(spark, tmp_path, monkeypatch):
    """A delete() that lands while compact()'s fold job is running was
    not applied to the rows being rewritten — compact must clear only
    the tombstone dirs it SNAPSHOTTED before folding, so the late
    retraction keeps masking after the fold (the round-11 review
    race)."""
    import evm_indexer_spark.streaming.epochlog as el

    ix = MinHashBucketIndex(spark, str(tmp_path / "ix"), num_hashes=64, bands=64)
    docs = spark.createDataFrame(
        [(0, BASE + " variant 0"), (1, BASE + " variant 1")],
        "doc_id long, text string",
    )
    for i in range(2):
        ix.append(docs.filter(F.col("doc_id") == i), "doc_id", "text",
                  batch_id=i)
    real_fold = el._fold_batch_dirs

    def fold_with_late_delete(*a, **k):
        ix.delete([1])  # lands after compact's tombstone snapshot
        return real_fold(*a, **k)

    monkeypatch.setattr(el, "_fold_batch_dirs", fold_with_late_delete)
    assert ix.compact() >= 1
    monkeypatch.undo()
    # the late tombstone survived the fold's cleanup and still masks
    assert ix.tombstones() is not None
    assert ix.live_buckets().filter(F.col("id") == 1).count() == 0
    # and the NEXT maintenance pass makes it physical
    assert ix.compact() >= 1
    assert ix.tombstones() is None
    assert ix.buckets().filter(F.col("id") == 1).count() == 0


def test_marker_exists_before_first_epoch_commits(spark, tmp_path):
    """The resume-ambiguity ordering invariant: __batch_base__ is
    published (complete, parseable) strictly BEFORE the stream's first
    epoch runs — so 'offsets/ exists but marker missing' can only mean
    a pre-marker lineage (base=0 resume), never a crashed new-code
    start that already landed high-water batches."""
    landing = tmp_path / "landing"
    landing.mkdir()
    ckpt = tmp_path / "ckpt"
    ix = MinHashBucketIndex(spark, str(tmp_path / "ix"), num_hashes=64, bands=64)
    _land(str(landing), [(0, BASE + " variant 0")], "b1.json")
    seen: list[tuple[bool, str | None, bool]] = []

    def probe(pairs, bid):
        marker = ckpt / "__batch_base__"
        seen.append((
            marker.is_file(),
            marker.read_text() if marker.is_file() else None,
            (ckpt / "commits" / "0").is_file(),
        ))

    q = start_dedup_stream(
        spark, str(landing), ix, str(ckpt), on_pairs=probe,
        jaccard_threshold=0.4,
    )
    q.awaitTermination(120)
    assert seen, "first epoch must have run"
    exists, value, committed = seen[0]
    assert exists and value is not None and value.isdigit()
    assert not committed  # probed mid-epoch: before the commit log
    # and no crash-atomicity temp residue is left behind
    assert not [p for p in ckpt.iterdir() if ".__batch_base__.tmp." in p.name]


def test_marker_publication_is_crash_atomic(spark, tmp_path):
    """A crash mid-publication leaves only a hidden temp file, never a
    half-written marker; the next start ignores the residue, publishes
    atomically, and resumes with the full high-water value."""
    from evm_indexer_spark.streaming.epochlog import _stream_batch_base

    ix = MinHashBucketIndex(spark, str(tmp_path / "ix"), num_hashes=64, bands=64)
    ix.append(
        spark.createDataFrame([(0, BASE)], "id long, text string"),
        "id", "text", batch_id=4,
    )
    ckpt = tmp_path / "ckpt"
    ckpt.mkdir()
    # simulated crash residue from a dead starter
    (ckpt / ".__batch_base__.tmp.deadbeef").write_text("5")
    base = _stream_batch_base(spark, str(ckpt), [str(tmp_path / "ix")])
    assert base == 5  # high-water over batch=4
    assert (ckpt / "__batch_base__").read_text() == "5"
    # second starter racing an existing marker adopts it and cleans up
    assert _stream_batch_base(spark, str(ckpt), [str(tmp_path / "ix")]) == 5
    assert [p.name for p in ckpt.iterdir() if p.name.startswith(".__batch_base__.tmp.")] == [
        ".__batch_base__.tmp.deadbeef"  # pre-existing foreign residue untouched
    ]


def test_marker_publication_race_equal_bases(spark, tmp_path, monkeypatch):
    """Local-FS rename(2) REPLACES an existing destination (unlike HDFS),
    so the lost-race branch can't rely on rename failing. The pre-rename
    exists check must make a racer that finds a freshly-published marker
    ADOPT it (delete its own temp, return the winner's value) rather
    than rename over it — pinned here by injecting a winner that
    publishes between the top-of-function check and the temp write."""
    import evm_indexer_spark.streaming.epochlog as el

    ckpt = tmp_path / "ckpt"
    marker = ckpt / "__batch_base__"
    real_hw = el._high_water_base

    def winner_publishes_first(spark_, roots):
        # the racing winner lands its marker while we compute our base
        ckpt.mkdir(exist_ok=True)
        marker.write_text("7")
        return real_hw(spark_, roots)

    monkeypatch.setattr(el, "_high_water_base", winner_publishes_first)
    base = el._stream_batch_base(spark, str(ckpt), [str(tmp_path / "ix")])
    assert base == 7  # adopted the winner's value, not our own
    assert marker.read_text() == "7"  # never renamed over the winner
    # and our own temp was cleaned up
    assert not [p for p in ckpt.iterdir() if ".__batch_base__.tmp." in p.name]


def test_marker_claim_is_exclusive_and_gates_the_rename(spark, tmp_path):
    """Round-13 ADVICE: the pre-rename exists check NARROWED the
    local-FS replace window but left correctness resting on the
    equal-bases invariant. The publish is now gated by a genuinely
    atomic exclusive create (O_EXCL via java.io.File on local paths):
    only the claim winner renames onto the marker, so a published
    marker can no longer be silently replaced by a racer."""
    import evm_indexer_spark.streaming.epochlog as el

    fs, _ = el._hadoop(spark, str(tmp_path))
    claim = str(tmp_path / ".claim")
    assert el._exclusive_create(spark._jvm, fs, claim) is True
    # second creator must LOSE — this is the arbitration the bare
    # rename could not provide on POSIX
    assert el._exclusive_create(spark._jvm, fs, claim) is False
    assert (tmp_path / ".claim").exists()


def test_marker_stale_claim_is_completed_by_restart(
    spark, tmp_path, monkeypatch
):
    """A publisher that crashed INSIDE the claim→rename window leaves a
    claim with no marker. Under the single-writer contract the next
    starter is that writer's own restart: it waits briefly for the
    phantom winner, then completes the publish itself."""
    import time as _time

    import evm_indexer_spark.streaming.epochlog as el

    ix = MinHashBucketIndex(spark, str(tmp_path / "ix"), num_hashes=64, bands=64)
    ix.append(
        spark.createDataFrame([(0, BASE)], "id long, text string"),
        "id", "text", batch_id=4,
    )
    ckpt = tmp_path / "ckpt"
    ckpt.mkdir()
    (ckpt / ".__batch_base__.claim").touch()  # crash residue
    monkeypatch.setattr(_time, "sleep", lambda _s: None)  # skip the wait
    base = el._stream_batch_base(spark, str(ckpt), [str(tmp_path / "ix")])
    assert base == 5  # high-water over batch=4, published despite the claim
    assert (ckpt / "__batch_base__").read_text() == "5"


def test_retraction_explicit_id_refuses_unledgered_dir(spark, tmp_path):
    """An explicit retraction_id may only RETRY a ledgered retraction:
    if batch=retract<k> already exists on disk with NO matching ledger
    entry (pre-ledger code wrote it), overwriting would un-cancel that
    old retraction's counts — the guard must refuse (round-12 advice)."""
    from evm_indexer_spark.streaming.epochlog import _retraction_guard

    root = tmp_path / "store"
    # a pre-ledger negated partial, no _retracted/retract3 ledger entry
    old = spark.createDataFrame([("docA", -2)], "id string, n long")
    old.coalesce(1).write.parquet(str(root / "batch=retract3"))

    ids = spark.createDataFrame([("docB",)], "id string")
    with pytest.raises(ValueError, match="no matching ledger entry"):
        _retraction_guard(spark, str(root), ids, retraction_id=3)
    # nothing was written: the old partial is intact, no ledger entry
    assert not (root / "_retracted" / "retract3").exists()
    assert spark.read.parquet(str(root / "batch=retract3")).count() == 1
    # a fresh auto-assigned retraction still works and skips k=3
    target = _retraction_guard(spark, str(root), ids, retraction_id=None)
    assert target.endswith("batch=retract4")


def test_retraction_rejection_names_ledger_entry(spark, tmp_path):
    """A double-retract rejection must NAME the ledger entry holding the
    duplicate id, so an ambiguous failure on the auto-assigned path is
    recoverable by retrying with that retraction_id (round-12 advice)."""
    from evm_indexer_spark.streaming.epochlog import _retraction_guard

    root = tmp_path / "store"
    ids = spark.createDataFrame([("docA",)], "id string")
    target = _retraction_guard(spark, str(root), ids, retraction_id=None)
    k = target.rsplit("retract", 1)[1]
    with pytest.raises(ValueError, match=f"retraction_id={k}"):
        _retraction_guard(spark, str(root), ids, retraction_id=None)
    # and retrying with the named id is accepted as idempotent
    again = _retraction_guard(spark, str(root), ids, retraction_id=int(k))
    assert again == target
