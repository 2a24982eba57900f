"""Audit-on-arrival: the running top-ngram store must equal the batch
operator over every prefix of landed documents (the incremental = batch
equivalence), converge under epoch re-delivery, and keep its file/row
footprint bounded through merge-compaction."""

from __future__ import annotations

import json
import os

from pyspark.sql import functions as F

from evm_indexer_spark.operators.corpus import top_ngrams
from evm_indexer_spark.streaming.corpus_stream import (
    NgramStatsStore,
    start_ngram_stream,
)

DOCS = [
    (0, "the quick brown fox jumps over the lazy dog"),
    (1, "the quick brown fox naps under the old tree"),
    (2, "a slow green turtle crosses the quick brown path"),
    (3, "the quick brown fox jumps again and again today"),
    (4, "completely unrelated words about rivers and stones here"),
    (5, "rivers and stones line the quiet valley floor gently"),
]


def _land(path, rows, name):
    with open(os.path.join(path, name), "w") as f:
        for doc_id, text in rows:
            f.write(json.dumps({"doc_id": doc_id, "text": text}) + "\n")


def _batch_truth(spark, rows, n=3, k=100, min_count=1):
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    return [
        tuple(r)
        for r in top_ngrams(
            df, "doc_id", "text", n=n, k=k, min_count=min_count
        ).collect()
    ]


def test_stream_equals_batch_over_every_prefix(spark, tmp_path):
    landing = tmp_path / "landing"
    landing.mkdir()
    ckpt = str(tmp_path / "ckpt")
    store = NgramStatsStore(spark, str(tmp_path / "stats"))
    tops: list[tuple[list, int]] = []

    def run():
        q = start_ngram_stream(
            spark, str(landing), store, ckpt,
            on_top=lambda rows, epoch: tops.append((rows, epoch)),
            n=3, k=100, min_count=1,
        )
        q.awaitTermination(120)

    legs = [DOCS[:2], DOCS[2:4], DOCS[4:]]
    landed: list = []
    for i, leg in enumerate(legs):
        landed.extend(leg)
        _land(str(landing), leg, f"b{i}.json")
        tops.clear()
        run()
        got = [
            tuple(r.values())
            for rows, _ in tops
            for r in rows
        ]
        assert got == _batch_truth(spark, landed), f"prefix {i} diverged"

    # restart with no new files: silent
    tops.clear()
    run()
    assert tops == []


def test_epoch_redelivery_replaces_not_doubles(spark, tmp_path):
    store = NgramStatsStore(spark, str(tmp_path / "stats"))
    df = spark.createDataFrame(DOCS[:3], ["doc_id", "text"])
    from evm_indexer_spark.operators.corpus import _ngram_counts_pandas

    partial = _ngram_counts_pandas(df, "text", 3).select(
        "ngram",
        F.col("n_occurrences").alias("occ"),
        F.col("n_docs").alias("docs"),
    )
    store.append(partial, batch_id=7)
    want = sorted(map(tuple, store.totals().collect()))
    store.append(partial, batch_id=7)  # re-delivered epoch
    assert sorted(map(tuple, store.totals().collect())) == want


def test_compaction_merges_and_bounds_files(spark, tmp_path):
    store = NgramStatsStore(spark, str(tmp_path / "stats"))
    from evm_indexer_spark.operators.corpus import _ngram_counts_pandas

    for epoch, lo in enumerate(range(0, 6, 2)):
        df = spark.createDataFrame(DOCS[lo : lo + 2], ["doc_id", "text"])
        store.append(
            _ngram_counts_pandas(df, "text", 3).select(
                "ngram",
                F.col("n_occurrences").alias("occ"),
                F.col("n_docs").alias("docs"),
            ),
            batch_id=epoch,
        )
    want_totals = sorted(map(tuple, store.totals().collect()))
    raw_rows_before = store.partials().count()
    nfiles_before = sum(len(fs) for _, _, fs in os.walk(tmp_path / "stats"))

    # the newest epoch dir (batch=2) is never folded: a crashed-then-
    # redelivered epoch must still find its own first-attempt partial
    assert store.compact() == 2
    assert sorted(
        d for d in os.listdir(tmp_path / "stats") if d.startswith("batch=")
    ) == ["batch=2", "batch=base0"]
    assert sum(len(fs) for _, _, fs in os.walk(tmp_path / "stats")) < nfiles_before
    # merge-compaction also collapses rows to the distinct-ngram count
    assert store.partials().count() <= raw_rows_before
    assert sorted(map(tuple, store.totals().collect())) == want_totals
    assert store.compact() == 0


def test_compaction_merges_only_snapshot_dirs(spark, tmp_path):
    # an epoch landing after the snapshot listing must be neither folded
    # into the base nor deleted — folding AND keeping it would sum its
    # counts twice (the one corruption mode for summed partials)
    from pyspark.sql import functions as F

    store = NgramStatsStore(spark, str(tmp_path / "stats"))
    docs = spark.createDataFrame([(0, "a b c a b c")], ["doc_id", "text"])
    from evm_indexer_spark.operators.corpus import _ngram_counts_pandas

    partial = _ngram_counts_pandas(docs, "text", 3).select(
        "ngram",
        F.col("n_occurrences").alias("occ"),
        F.col("n_docs").alias("docs"),
    )
    store.append(partial, batch_id=0)
    store.append(partial, batch_id=1)
    store.append(partial, batch_id=2)

    import evm_indexer_spark.streaming.epochlog as el

    real_list = el._list_batch_dirs
    landed = {"done": False}

    def racing_list(spark_, root):
        dirs = real_list(spark_, root)
        if not landed["done"]:
            landed["done"] = True
            store.append(partial, batch_id=3)  # lands mid-compaction
        return dirs

    try:
        el._list_batch_dirs = racing_list
        store.compact()
    finally:
        el._list_batch_dirs = real_list

    # 4 epochs of the same doc → every count is exactly 4× the single
    # partial; a double-fold of the mid-compaction epoch would read 5×
    # (epoch 2, the newest at listing time, is withheld from the fold;
    # epoch 3 landed after the snapshot — neither may double)
    totals = {r["ngram"]: r["n_occurrences"] for r in store.totals().collect()}
    single = {r["ngram"]: r["occ"] for r in partial.collect()}
    assert totals == {k: 4 * v for k, v in single.items()}


def test_ngram_store_retract_cancels_exactly(spark, tmp_path):
    from evm_indexer_spark.operators import corpus
    from evm_indexer_spark.operators.corpus import _ngram_counts_pandas

    docs = spark.createDataFrame(
        [
            (0, "the quick brown fox jumps over the lazy dog"),
            (1, "the quick brown fox sleeps under the old tree"),
            (2, "the quick brown fox jumps over the lazy dog"),
        ],
        "doc_id long, text string",
    )
    def partial(df):
        return _ngram_counts_pandas(df, "text", 3).select(
            "ngram",
            F.col("n_occurrences").alias("occ"),
            F.col("n_docs").alias("docs"),
        )

    store = NgramStatsStore(spark, str(tmp_path / "stats"))
    for i in range(3):
        store.append(partial(docs.filter(F.col("doc_id") == i)), batch_id=i)
    store.retract(
        partial(docs.filter(F.col("doc_id") == 1)),
        docs.filter(F.col("doc_id") == 1).select("doc_id"),
    )
    want = {
        (r["ngram"], r["n_occurrences"], r["n_docs"])
        for r in corpus.top_ngrams(
            docs.filter(F.col("doc_id") != 1), "doc_id", "text",
            n=3, k=100, min_count=1,
        ).collect()
    }
    got = {
        (r["ngram"], r["n_occurrences"], r["n_docs"])
        for r in store.top(100, 1).collect()
    }
    assert got == want
    assert store.compact() >= 1
    assert {
        (r["ngram"], r["n_occurrences"], r["n_docs"])
        for r in store.top(100, 1).collect()
    } == want


def test_ngram_store_double_retract_raises(spark, tmp_path):
    import pytest

    from evm_indexer_spark.operators.corpus import _ngram_counts_pandas
    from evm_indexer_spark.streaming.corpus_stream import NgramStatsStore

    docs = spark.createDataFrame(
        [
            (0, "the quick brown fox jumps over the lazy dog"),
            (1, "the quick brown fox sleeps under the old tree"),
        ],
        "doc_id long, text string",
    )

    def partial(df):
        return _ngram_counts_pandas(df, "text", 3).select(
            "ngram",
            F.col("n_occurrences").alias("occ"),
            F.col("n_docs").alias("docs"),
        )

    store = NgramStatsStore(spark, str(tmp_path / "stats"))
    for i in range(2):
        store.append(partial(docs.filter(F.col("doc_id") == i)), batch_id=i)
    gone = docs.filter(F.col("doc_id") == 1)
    store.retract(partial(gone), gone.select("doc_id"))
    with pytest.raises(ValueError, match="already retracted"):
        store.retract(partial(gone), gone.select("doc_id"))
    # retry path: same retraction_id on a DIFFERENT doc is fine only
    # for fresh ids — doc 0 retracts under an explicit id, and its
    # retry is a no-op
    zero = docs.filter(F.col("doc_id") == 0)
    store.retract(partial(zero), zero.select("doc_id"), retraction_id=42)
    store.retract(partial(zero), zero.select("doc_id"), retraction_id=42)
    got = {
        (r["ngram"], r["n_occurrences"], r["n_docs"])
        for r in store.totals()
        .filter((F.col("n_occurrences") != 0) | (F.col("n_docs") != 0))
        .collect()
    }
    assert got == set()  # both docs retracted exactly once
    assert store.compact() >= 1


def test_empty_store_top_launches_no_job(spark, tmp_path):
    """A store with no batch dirs answers over an empty local relation:
    ``top`` schedules no Spark job at all."""
    store = NgramStatsStore(spark, str(tmp_path / "stats"))
    sc = spark.sparkContext
    group = "empty-ngram-store-top"
    sc.setJobGroup(group, group, False)
    try:
        assert store.top(5).collect() == []
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert list(sc.statusTracker().getJobIdsForGroup(group)) == []
