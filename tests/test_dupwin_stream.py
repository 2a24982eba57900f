"""Substring-dedup-on-arrival: arrival-time span statistics must equal
the batch operator's verdict on the same corpus prefix, the id guard
must stop cross-epoch re-arrival, and compaction must bound the store
without changing its sums."""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import functions as F

from evm_indexer_spark.operators.corpus import duplicate_window_spans
from evm_indexer_spark.streaming.dupwin_stream import (
    WindowHashIndex,
    start_dupwin_stream,
)

N = 4  # short windows so the tiny fixture corpus has real duplicates

DOCS = [
    (0, "alpha beta gamma delta epsilon zeta"),
    (1, "prefix alpha beta gamma delta suffix"),
    (2, "totally unrelated words in this one"),
    (3, "alpha beta gamma delta epsilon zeta again"),
    (4, "more totally unrelated words in this one"),
]


def _land(path, rows, name):
    with open(os.path.join(path, name), "w") as f:
        for doc_id, text in rows:
            f.write(json.dumps({"doc_id": doc_id, "text": text}) + "\n")


def _batch_truth(spark, rows, only_ids):
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = duplicate_window_spans(df, "doc_id", "text", window_n=N)
    return {
        r["doc_id"]: tuple(r)
        for r in out.collect()
        if r["doc_id"] in only_ids
    }


def _run(spark, landing, index, ckpt, sink):
    q = start_dupwin_stream(
        spark, landing, index, ckpt,
        on_stats=lambda rows, epoch: sink.append((rows, epoch)),
    )
    q.awaitTermination(120)


def test_arrival_stats_equal_batch_truth_per_prefix(spark, tmp_path):
    landing = tmp_path / "landing"
    landing.mkdir()
    ckpt = str(tmp_path / "ckpt")
    index = WindowHashIndex(spark, str(tmp_path / "idx"), window_n=N)
    sink: list = []

    legs = [DOCS[:2], DOCS[2:4], DOCS[4:]]
    landed: list = []
    for i, leg in enumerate(legs):
        landed.extend(leg)
        _land(str(landing), leg, f"b{i}.json")
        sink.clear()
        _run(spark, str(landing), index, ckpt, sink)
        got = {
            r["doc_id"]: (
                r["doc_id"], r["n_tokens"], r["n_windows"],
                r["dup_windows"], r["covered_tokens"],
            )
            for rows, _ in sink
            for r in rows
        }
        # the arriving docs' stats must equal the BATCH operator run on
        # the full corpus-so-far, restricted to the arrivals
        want = _batch_truth(spark, landed, {d for d, _ in leg})
        assert got == want, f"prefix {i} diverged"

    # doc 1 shares the 4-gram span 'alpha beta gamma delta' with doc 0
    # (landed in the same epoch): batch-internal duplication must count
    assert _batch_truth(spark, DOCS[:2], {1})[1][3] > 0


def test_compaction_bounds_dirs_and_preserves_sums(spark, tmp_path):
    landing = tmp_path / "landing"
    landing.mkdir()
    ckpt = str(tmp_path / "ckpt")
    index = WindowHashIndex(spark, str(tmp_path / "idx"), window_n=N)
    sink: list = []
    for i, leg in enumerate([DOCS[:2], DOCS[2:4], DOCS[4:]]):
        _land(str(landing), leg, f"b{i}.json")
        _run(spark, str(landing), index, ckpt, sink)
    before = sorted(
        tuple(r)
        for r in index.hashes().groupBy("h").agg(F.sum("occ").alias("occ")).collect()
    )
    # the newest epoch dir is withheld from the fold (crashed-epoch
    # redelivery safety), so 3 arrivals fold 2 dirs
    assert index.compact() == 2
    after = sorted(
        tuple(r)
        for r in index.hashes().groupBy("h").agg(F.sum("occ").alias("occ")).collect()
    )
    assert after == before
    # base + the withheld newest dir remain: nothing more to fold
    assert index.compact() == 0
    # stats against the compacted index still match the batch truth
    arrivals = [(9, "alpha beta gamma delta fresh arrival")]
    got = {
        r["doc_id"]: tuple(r)
        for r in index.stats_for(
            spark.createDataFrame(arrivals, ["doc_id", "text"]),
            "doc_id", "text",
        ).collect()
    }
    want = _batch_truth(spark, DOCS + arrivals, {9})
    assert got == want


def test_window_n_marker_is_immutable(spark, tmp_path):
    WindowHashIndex(spark, str(tmp_path / "idx"), window_n=4)
    with pytest.raises(ValueError, match="parameters"):
        WindowHashIndex(spark, str(tmp_path / "idx"), window_n=8)
    with pytest.raises(ValueError, match="window_n"):
        WindowHashIndex(spark, str(tmp_path / "idx2"), window_n=0)


def test_retract_cancels_contribution_exactly(spark, tmp_path):
    """Negative-partial retraction: after retract(docs_subset), summed
    counters equal the batch truth over the REMAINING docs — before
    and after compaction (which drops zero-sum rows)."""
    from evm_indexer_spark.operators.corpus import _window_hashes

    docs = spark.createDataFrame(
        [
            (0, "alpha beta gamma delta epsilon zeta eta theta"),
            (1, "alpha beta gamma delta epsilon zeta eta iota"),
            (2, "totally different words in this one right here"),
        ],
        "doc_id long, text string",
    )
    ix = WindowHashIndex(spark, str(tmp_path / "dw"), window_n=4)
    for i in range(3):
        ix.append(docs.filter(F.col("doc_id") == i), "doc_id", "text",
                  batch_id=i)
    gone = docs.filter(F.col("doc_id") == 1)
    ix.retract(gone, "doc_id", "text")

    def summed(df):
        return sorted(
            map(tuple, df.groupBy("h").agg(F.sum("occ").alias("occ"))
                .filter(F.col("occ") != 0).collect())
        )

    want = summed(_window_hashes(
        docs.filter(F.col("doc_id") != 1), "doc_id", "text", 4
    ).groupBy("h").agg(F.count(F.lit(1)).alias("occ")))
    assert summed(ix.hashes()) == want
    # compaction folds the retraction physically, zero-sum rows dropped
    assert ix.compact() >= 1
    assert summed(ix.hashes()) == want
    rows = ix.hashes().collect()
    assert all(r["occ"] > 0 for r in rows)  # no zero/negative residue


def test_double_retract_raises_and_writes_nothing(spark, tmp_path):
    """The at-most-once retract contract is ENFORCED: a second retract
    of the same doc raises before any partial lands, so counters can
    never silently go negative."""
    import pytest

    docs = spark.createDataFrame(
        [
            (0, "alpha beta gamma delta epsilon zeta eta theta"),
            (1, "alpha beta gamma delta epsilon zeta eta iota"),
        ],
        "doc_id long, text string",
    )
    ix = WindowHashIndex(spark, str(tmp_path / "dw"), window_n=4)
    for i in range(2):
        ix.append(docs.filter(F.col("doc_id") == i), "doc_id", "text",
                  batch_id=i)
    gone = docs.filter(F.col("doc_id") == 1)
    ix.retract(gone, "doc_id", "text")
    before = sorted(map(tuple, ix.hashes().collect()))
    with pytest.raises(ValueError, match="already retracted"):
        ix.retract(gone, "doc_id", "text")
    # nothing landed: summed state unchanged, compaction still legal
    assert sorted(map(tuple, ix.hashes().collect())) == before
    assert ix.compact() >= 1


def test_retract_retry_with_same_id_is_idempotent(spark, tmp_path):
    """An ambiguous-failure retry carrying the SAME retraction_id
    overwrites its own retract<k> dir — state equals exactly one
    retraction, never a double-cancel."""
    import pytest

    from evm_indexer_spark.operators.corpus import _window_hashes

    docs = spark.createDataFrame(
        [
            (0, "alpha beta gamma delta epsilon zeta eta theta"),
            (1, "alpha beta gamma delta epsilon zeta eta iota"),
        ],
        "doc_id long, text string",
    )
    ix = WindowHashIndex(spark, str(tmp_path / "dw"), window_n=4)
    for i in range(2):
        ix.append(docs.filter(F.col("doc_id") == i), "doc_id", "text",
                  batch_id=i)
    gone = docs.filter(F.col("doc_id") == 1)
    ix.retract(gone, "doc_id", "text", retraction_id=7)
    ix.retract(gone, "doc_id", "text", retraction_id=7)  # retry: no-op
    want = sorted(map(tuple, _window_hashes(
        docs.filter(F.col("doc_id") == 0), "doc_id", "text", 4
    ).groupBy("h").agg(F.count(F.lit(1)).alias("occ")).collect()))
    got = sorted(map(tuple, ix.hashes().groupBy("h").agg(
        F.sum("occ").alias("occ")).filter(F.col("occ") != 0).collect()))
    assert got == want
    # the same id may NOT be re-used for a different id-set
    with pytest.raises(ValueError, match="different id-set"):
        ix.retract(docs.filter(F.col("doc_id") == 0), "doc_id", "text",
                   retraction_id=7)


def test_compact_refuses_negative_counters(spark, tmp_path):
    """Backstop for ledger-bypassing corruption: a hand-planted
    negative partial (simulating a pre-guard double retract) makes
    compact() raise instead of freezing negative sums into the base."""
    import posixpath

    import pytest

    docs = spark.createDataFrame(
        [(0, "alpha beta gamma delta epsilon zeta eta theta")],
        "doc_id long, text string",
    )
    ix = WindowHashIndex(spark, str(tmp_path / "dw"), window_n=4)
    ix.append(docs, "doc_id", "text", batch_id=0)
    ix.append(docs.limit(0), "doc_id", "text", batch_id=1)
    bad = spark.createDataFrame([(123456789, -5)], "h long, occ long")
    bad.write.mode("overwrite").parquet(
        posixpath.join(ix.path, "batch=retract0")
    )
    with pytest.raises(ValueError, match="negative folded counter"):
        ix.compact()


def test_retraction_may_cancel_newest_epoch(spark, tmp_path):
    """A retraction of content appended in the NEWEST (un-foldable)
    epoch is legal: the non-negativity backstop sums ALL partials, so
    compact() must not false-fire."""
    docs = spark.createDataFrame(
        [
            (0, "alpha beta gamma delta epsilon zeta eta theta"),
            (1, "one two three four five six seven eight"),
        ],
        "doc_id long, text string",
    )
    ix = WindowHashIndex(spark, str(tmp_path / "dw"), window_n=4)
    ix.append(docs.filter(F.col("doc_id") == 0), "doc_id", "text", batch_id=0)
    ix.append(docs.filter(F.col("doc_id") == 1), "doc_id", "text", batch_id=1)
    # doc 1 lives in the newest epoch dir; retract it anyway
    ix.retract(docs.filter(F.col("doc_id") == 1), "doc_id", "text")
    assert ix.compact() >= 1
    from evm_indexer_spark.operators.corpus import _window_hashes

    want = sorted(map(tuple, _window_hashes(
        docs.filter(F.col("doc_id") == 0), "doc_id", "text", 4
    ).groupBy("h").agg(F.count(F.lit(1)).alias("occ")).collect()))
    got = sorted(map(tuple, ix.hashes().groupBy("h").agg(
        F.sum("occ").alias("occ")).filter(F.col("occ") != 0).collect()))
    assert got == want


def test_negative_retraction_id_rejected(spark, tmp_path):
    import pytest

    docs = spark.createDataFrame(
        [(0, "alpha beta gamma delta epsilon zeta eta theta")],
        "doc_id long, text string",
    )
    ix = WindowHashIndex(spark, str(tmp_path / "dw"), window_n=4)
    ix.append(docs, "doc_id", "text", batch_id=0)
    with pytest.raises(ValueError, match="non-negative"):
        ix.retract(docs, "doc_id", "text", retraction_id=-1)
